"""Round-6 optimization measurement harness (guide §1): per-phase build
timings, noop-sink isolation per declared query, and plan capture.

NOT part of the driver contract — ``bench.py`` stays the frozen measurement.
This file exists so OPTIMIZATION_r06.md numbers are reproducible:

  python bench_extra.py build      # per-phase build timings (documents + synth)
  python bench_extra.py queries    # noop-sink wall time per declared query
  python bench_extra.py plans DIR  # write .explain("formatted") per query to DIR
  python bench_extra.py kernels    # isolated pruned-kernel timings

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS (32).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def get_spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("bench_extra")
        .config("spark.sql.shuffle.partitions", str(CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("BENCH_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def noop(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def _docs(spark):
    from pyspark.sql import functions as F

    return spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("doc_id").cast("string").alias("docno"),
        F.col("text").alias("content"),
    )


def cmd_build():
    from pyterrier_pisa_spark.sources.corpus import synth_code_corpus
    from pyterrier_pisa_spark.sources.index_store import build_index

    spark = get_spark()
    tmp = tempfile.mkdtemp(prefix="bx_")
    # warm-up
    warm = synth_code_corpus(spark, num_docs=1000, seed=1)
    build_index(warm, f"{tmp}/warm", stemmer="porter2", mode="overwrite")

    def phases(path):
        out = {}
        for name in ("tf", "lexicon", "postings", "maxscore"):
            p = os.path.join(path, "_phases", f"{name}.done")
            if os.path.exists(p):
                out[name] = round(json.load(open(p)).get("sec", -1), 3)
        return out

    for rep in range(3):
        spark.sparkContext.setJobDescription(f"build documents rep{rep}")
        docs = _docs(spark)
        t0 = time.time()
        build_index(docs, f"{tmp}/docs_idx", stemmer="none", id_col="doc_id",
                    mode="overwrite")
        tot = time.time() - t0
        print(f"documents rep{rep}: total={tot:.3f} phases={phases(f'{tmp}/docs_idx')}")
    for rep in range(3):
        spark.sparkContext.setJobDescription(f"build synth rep{rep}")
        synth = synth_code_corpus(spark, num_docs=20000, seed=11)
        t0 = time.time()
        build_index(synth, f"{tmp}/synth_idx", stemmer="porter2", mode="overwrite")
        tot = time.time() - t0
        print(f"synth rep{rep}: total={tot:.3f} phases={phases(f'{tmp}/synth_idx')}")
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)


def cmd_kernels():
    """Isolated query-path timings over a persisted sf index: per-step
    breakdown of retrieve_blockmax (plan inputs vs kernel job); its batch
    name runs the same plan, so it is timed once."""
    import itertools

    from pyspark.sql import functions as F

    from pyterrier_pisa_spark.operators.wand import (_query_plan_inputs,
                                                     retrieve_blockmax)
    from pyterrier_pisa_spark.sources.index_store import build_index, load_index

    spark = get_spark()
    tmp = tempfile.mkdtemp(prefix="bx_")
    docs = _docs(spark)
    build_index(docs, f"{tmp}/idx", stemmer="none", id_col="doc_id", mode="overwrite")
    idx = load_index(spark, f"{tmp}/idx")
    vocab = [r["term"] for r in idx.lexicon.orderBy(F.desc("df"), F.asc("term")).limit(24).collect()]
    pairs = itertools.cycle(itertools.combinations(vocab, 2))
    queries = []
    for i in range(40):
        a, b = next(pairs)
        queries.append((f"b{i}", f"{a} {b}"))
    # warm
    retrieve_blockmax(idx, queries[:2], k=100, include_query=False).count()
    for rep in range(3):
        t0 = time.time()
        _query_plan_inputs(idx, queries, None, None, 1000.0, 1.0, "bm25", "terrier")
        t_plan = time.time() - t0
        t0 = time.time()
        retrieve_blockmax(idx, queries, k=1000, include_query=False).count()
        t_bm = time.time() - t0
        print(f"rep{rep}: plan_inputs={t_plan:.3f} blockmax={t_bm:.3f}")
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)


def cmd_queries(names=None):
    import __spark_entry__ as E

    spark = get_spark()
    qs = E.queries()
    results = {}
    for name, fn in qs.items():
        if names and name not in names:
            continue
        spark.sparkContext.setJobDescription(f"q:{name}")
        try:
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()  # warm
            t = min(noop(fn(spark, SF_DIR)) for _ in range(2))
        except Exception as e:  # pragma: no cover
            t = -1.0
            print(f"{name}: ERROR {e}")
        results[name] = round(t, 3)
        print(f"{name}: {t:.3f}s")
    print(json.dumps(results))


def cmd_plans(outdir, names=None):
    import __spark_entry__ as E

    os.makedirs(outdir, exist_ok=True)
    spark = get_spark()
    for name, fn in E.queries().items():
        if names and name not in names:
            continue
        try:
            df = fn(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as e:
            plan = f"ERROR: {e}"
        with open(os.path.join(outdir, f"{name}.txt"), "w") as fh:
            fh.write(plan)
        print(f"wrote {name}")


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if cmd == "build":
        cmd_build()
    elif cmd == "kernels":
        cmd_kernels()
    elif cmd == "plans":
        cmd_plans(sys.argv[2], set(sys.argv[3:]) or None)
    else:
        cmd_queries(set(sys.argv[2:]) or None)
