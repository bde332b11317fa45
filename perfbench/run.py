"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload batch_eval --seed 1 --seconds 20 --trace 0

Run from the repository root. With ``--trace 0`` the result carries every
end-to-end metric; with ``--trace 1`` every per-layer metric, and the spans
are written to ``.perfbench_out/``. Generated inputs are cached in
``.perfbench_cache/``; both directories sit in the working directory.
The last line of standard output is the result object; the line before it
holds sample counts, the results digest and any failures.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
# Fixed hashing and one BLAS/OpenMP thread in the driver and every Python
# worker (workers inherit the driver's environment through the JVM).
STEADY_ENV = {
    "PYTHONHASHSEED": "0",
    "OMP_NUM_THREADS": "1",
    "OPENBLAS_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
    "NUMEXPR_NUM_THREADS": "1",
    "SPARK_LOCAL_IP": "127.0.0.1",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=None,
                   help="corpus size (default: the workload's); for smoke tests")
    return p.parse_args(argv)


def _steady_env(root: str) -> dict | None:
    """The environment to re-execute under, or None when already in it."""
    work = os.path.join(root, ".perfbench_work")
    want = dict(STEADY_ENV)
    want["PYTHONPATH"] = root
    want["TMPDIR"] = os.path.join(work, "tmp")
    want["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    want["PYSPARK_PYTHON"] = sys.executable
    if all(os.environ.get(k) == v for k, v in want.items()):
        return None
    for d in (want["TMPDIR"], want["SPARK_LOCAL_DIRS"]):
        os.makedirs(d, exist_ok=True)
    return {**os.environ, **want}


def _spark(root: str):
    from pyspark.sql import SparkSession

    work = os.path.join(root, ".perfbench_work")
    tmp = os.path.join(work, "tmp")
    spark = (
        SparkSession.builder.master("local[3]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", "3")
        .config("spark.default.parallelism", "3")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.executorEnv.PYTHONHASHSEED", "0")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM, whose exit also ends the Python
    worker daemon it started."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = _parse(sys.argv[1:] if argv is None else argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pyterrier_pisa_spark", "__init__.py")):
        print("perfbench: run from the repository root; pyterrier_pisa_spark/ "
              "is not in the working directory", file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    from workload import (COLD_SEED_OFFSET, E2E_UNITS, HOT_TERMS, NUM_DOCS,
                          NUM_IDENTIFIERS, NUM_TOPICS, POOL_SIZE, WARMUP_DOCS,
                          WARMUP_SEED_OFFSET, WORKLOADS, run_workload)

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    env = _steady_env(root)
    if env is not None:
        os.execve(sys.executable, [sys.executable, os.path.abspath(__file__)]
                  + sys.argv[1:], env)

    import gen

    num_docs = args.docs or NUM_DOCS
    inputs = gen.generate(root, args.seed, num_docs, NUM_IDENTIFIERS,
                          NUM_TOPICS, HOT_TERMS, POOL_SIZE)
    warmup = gen.generate(root, args.seed + WARMUP_SEED_OFFSET, min(num_docs, WARMUP_DOCS),
                          NUM_IDENTIFIERS, NUM_TOPICS, HOT_TERMS, POOL_SIZE)
    # the traced run times the tokenizer alone over a corpus of the same size
    # whose identifiers no Python worker has stemmed yet
    cold = (gen.generate(root, args.seed + COLD_SEED_OFFSET, num_docs, NUM_IDENTIFIERS,
                         NUM_TOPICS, HOT_TERMS, POOL_SIZE) if args.trace else None)
    t0 = time.perf_counter()
    spark = _spark(root)
    spark_start_s = time.perf_counter() - t0
    workdir = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        run = run_workload(spark, args.workload, inputs, warmup, cold, args.seed,
                           args.seconds, bool(args.trace), workdir)
    finally:
        _stop(spark)

    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-s{args.seed}")
    if args.trace:
        from layers import PER_LAYER_UNITS

        metrics = {m: {"value": run.layer[m], "unit": u} for m, u in PER_LAYER_UNITS.items()}
        run.tracer.write(stem + "-spans.jsonl")
        overhead = None
        if os.path.exists(stem + "-t0.json"):
            with open(stem + "-t0.json") as fh:
                untraced = json.load(fh)["metrics"]
            overhead = {m: run.e2e[m] - untraced[m]["value"] for m in E2E_UNITS}
    else:
        metrics = {m: {"value": run.e2e[m], "unit": u} for m, u in E2E_UNITS.items()}
        overhead = None
    result = {"correct": run.ops.failed == 0, "attempted": run.ops.attempted,
              "failed": run.ops.failed, "metrics": metrics}
    details = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "inputs": inputs["key"], "digest": run.digest,
               "samples": run.samples, "spark_start_s": spark_start_s,
               "first_call_s": spark_start_s + sum(run.phase_s[p] for p in
                                                   ("warm_up", "build", "setup")),
               "phase_s": run.phase_s, "call_walls_s": run.call_walls,
               "check_s": run.ops.check_s,
               "failures": run.ops.messages, "trace_overhead": overhead,
               "self_time_s": run.tracer.self_time_by_name() if args.trace else None}
    with open(f"{stem}-t{args.trace}.json", "w") as fh:
        json.dump({**result, "details": details}, fh)
    print(json.dumps(details))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
