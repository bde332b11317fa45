"""One benchmark run: warm up, build, set up, then Spark calls with serving
slices between them.

Every run measures every end-to-end metric; the two workloads differ in
their inputs. ``batch_eval`` builds a multi-chunk index and evaluates
topics of hot terms that share long posting lists at k=1000.
``interactive`` builds a single-chunk index and serves a Zipf pool over the
whole vocabulary at k=10, with a working set larger than the searcher's
dense cache. Correctness checks run outside every timed region.
"""

from __future__ import annotations

import gc
import json
import os
import resource
import shutil
import statistics
import time
from dataclasses import dataclass

import numpy as np

from checks import compact, index_failures, mismatches, per_query, results_digest
from loops import closed_loop, open_loop, poisson_schedule
from spans import SparkCalls, Tracer


@dataclass(frozen=True)
class Workload:
    name: str
    query_set: str      # "topics" or "pool" from the generated inputs
    k: int
    chunk_span: int     # docids per chunk; below num_docs the index is multi-chunk
    parts: int          # calls per Spark engine, each over a share of the query set


NUM_DOCS = 4000
NUM_IDENTIFIERS = 200_000
NUM_TOPICS = 48
# Topics draw from the identifiers right after the keyword head. At 4,000
# docs LocalSearcher keeps a dense vector for each term with df >= 250; the
# 160th identifier has df >= 340 on the seeds tried and the 300th about 170,
# so every topic term of the 160 hottest is in the dense cache.
HOT_TERMS = 160
POOL_SIZE = 200
SINGLE_CHUNK = 1 << 16
WARMUP_DOCS = 200
WARMUP_SEED_OFFSET = 1_000_003
COLD_SEED_OFFSET = 2_000_003

# The host's load moves the wall time of a Spark call from call to call,
# most where fixed per-call cost dominates (``interactive``), and each
# engine's first call on a fresh load pays one-time costs: several shorter
# calls per engine give a median that neither moves much. ``parts`` is
# coprime with the number of query sizes (3 topic sizes, 4 pool sizes).
WORKLOADS = {
    "batch_eval": Workload("batch_eval", "topics", 1000, 2048, 4),
    "interactive": Workload("interactive", "pool", 10, SINGLE_CHUNK, 5),
}
# Open-loop arrival rates, queries/s. The 4,000-doc indexes served
# 1,900-4,000 (batch_eval) and 2,800-5,700 (interactive) q/s closed-loop on
# a shared 4-vCPU host as its load varied, so the rates are 7-21% and
# 14-41% of capacity; at the slow end about the shares that 100 and 250 q/s
# are of the ~690 q/s a 60k-doc index serves.
LOW_RATE = 400.0
HIGH_RATE = 800.0

# Sample counts at the run length BENCHMARK.json sets; ``--seconds`` scales
# the counts of the measured phases.
BASE_SECONDS = 20
SETUP_REPS = 9
WARM_QUERIES = 1
SPARK_CORES = 3

E2E_UNITS = {
    "setup_s": "s", "driver_peak_rss_mb": "MB", "build_docs_per_s": "docs/s",
    "index_bytes_per_content_byte": "ratio",
    "eval_qps.blockmax": "queries/s", "eval_qps.batch": "queries/s",
    "eval_qps.exhaustive": "queries/s",
    "eval_qps.local": "queries/s", "serve_load_s": "s", "serve_qps": "queries/s",
    "serve_p50_ms.low_rate": "ms", "spark_query_p50_ms": "ms",
}


@dataclass
class Counts:
    local_reps: int     # the in-process batch takes milliseconds: repeat it
    closed: int
    open_per_rate: int
    single: int


def counts_for(seconds: float) -> Counts:
    f = seconds / BASE_SECONDS
    return Counts(local_reps=max(8, int(24 * f)),
                  closed=max(80, int(3000 * f)), open_per_rate=max(80, int(1200 * f)),
                  single=max(3, int(8 * f)))


class Ops:
    """Attempted and failed timed operations, with the first failures."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.check_s = 0.0
        self.messages: list[str] = []

    def record(self, n: int, failed: int, what: str) -> None:
        self.attempted += n
        self.failed += failed
        if failed and len(self.messages) < 20:
            self.messages.append(f"{what}: {failed}/{n} failed")


def split(queries: list, parts: int) -> list[list]:
    """Deal the queries into ``parts`` parts round-robin. Query sizes cycle
    with the query's position, so parts coprime with the cycle length get
    the same mix of sizes."""
    return [queries[p::parts] for p in range(parts)]


def _pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _quiet(loop, *args):
    """Run a serving loop with every object alive before it frozen, so
    collector passes over the rest of the run's objects stay out of its
    latencies. The loop keeps each response, compacted, for the check
    afterwards."""
    gc.collect()
    gc.freeze()
    try:
        return loop(*args)
    finally:
        gc.unfreeze()


def _rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


class Run:
    def __init__(self, spark, wl: Workload, inputs: dict, warmup_inputs: dict,
                 cold_inputs: dict | None,
                 seed: int, seconds: float, tracer: Tracer, workdir: str):
        self.spark = spark
        self.wl = wl
        self.inputs = inputs
        self.warmup_inputs = warmup_inputs
        self.cold_inputs = cold_inputs  # a corpus no worker has stemmed yet
        self.seed = seed
        self.n = counts_for(seconds)
        self.tracer = tracer
        self.calls = SparkCalls(spark, tracer)
        self.groups: dict[str, list] = {}
        self.workdir = workdir
        self.ops = Ops()
        self.e2e: dict[str, float] = {}
        self.samples: dict[str, int] = {}
        self.layer: dict[str, float] = {}
        self.queries = [tuple(q) for q in inputs[wl.query_set]]
        self.qids = [q for q, _ in self.queries]

    # ------------------------------------------------------------ helpers
    def _put(self, name: str, value: float, samples: int) -> None:
        self.e2e[name] = float(value)
        self.samples[name] = int(samples)

    def _check(self, reference: dict, frame, qids, what: str) -> None:
        t0 = time.perf_counter()
        self.ops.record(len(qids), mismatches(reference, frame, qids), what)
        self.ops.check_s += time.perf_counter() - t0

    # ------------------------------------------------------------- phases
    def build(self, inputs: dict, name: str, out: dict | None) -> tuple[str, float]:
        """Build one corpus; returns the index path and the build wall time."""
        from pyterrier_pisa_spark.sources.index_store import build_index

        path = os.path.join(self.workdir, name)
        corpus = self.spark.read.parquet(inputs["corpus"])
        t0 = time.perf_counter()
        with self.calls.call("index_store.build", out):
            build_index(corpus, path, stemmer="porter2", chunk_span=self.wl.chunk_span)
        dt = time.perf_counter() - t0
        errors = index_failures(path, inputs["corpus"], inputs["tokens"])
        self.ops.record(1, int(bool(errors)), f"build: {'; '.join(errors)}")
        return path, dt

    def load(self, path: str):
        """A fresh load of the index and a searcher over it, which the Spark
        engines then share; returns both, the load time and the
        construction time."""
        from pyterrier_pisa_spark.operators.serve import LocalSearcher
        from pyterrier_pisa_spark.sources.index_store import load_index

        t0 = time.perf_counter()
        idx = load_index(self.spark, path)
        t1 = time.perf_counter()
        with self.calls.call("serve.construct", self.groups):
            searcher = LocalSearcher(idx)
        return idx, searcher, t1 - t0, time.perf_counter() - t1

    def engines(self, idx, searcher) -> dict:
        from pyterrier_pisa_spark.operators.wand import (retrieve_blockmax,
                                                         retrieve_blockmax_batch)
        from pyterrier_pisa_spark.plans.pipeline import retrieve

        k = self.wl.k
        return {
            "exhaustive": lambda qs: retrieve(idx.as_logical(), qs, k=k,
                                              include_query=False).toPandas(),
            "blockmax": lambda qs: retrieve_blockmax(idx, qs, k=k,
                                                     include_query=False).toPandas(),
            "batch": lambda qs: retrieve_blockmax_batch(idx, qs, k=k,
                                                        include_query=False).toPandas(),
            "local": lambda qs: searcher.search(qs, k=k),
        }

    def warm_up(self) -> None:
        """Build, load and query a small index of a corpus with another
        vocabulary, once per engine. The JVM, the Python workers and every
        plan shape are then warm, while the stem memo and the driver caches
        hold nothing of the workload's own corpus."""
        inputs = self.warmup_inputs
        path, self.phase_s["warm_up.build"] = self.build(inputs, "warmup", None)
        queries = [tuple(q) for q in inputs[self.wl.query_set]][:WARM_QUERIES]
        for name, fn in self.engines(*self.load(path)[:2]).items():
            t0 = time.perf_counter()
            fn(queries)
            self.phase_s[f"warm_up.{name}"] = time.perf_counter() - t0
        self.spark.catalog.clearCache()

    def timed_build(self) -> None:
        self.main, dt = self.build(self.inputs, "index", self.groups)
        self._put("build_docs_per_s", self.inputs["num_docs"] / dt, 1)
        self._put("index_bytes_per_content_byte",
                  _dir_bytes(self.main) / self.inputs["content_bytes"], 1)

    def setup(self, keep: bool) -> None:
        """One set-up: load the index, then construct the searcher, timed
        apart (``setup_s`` and ``serve_load_s``). The first pair stays for
        the query phases; the repeats run between the Spark calls, so their
        medians sample the host at several times."""
        idx, searcher, load, construct = self.load(self.main)
        self.setup_s.append(load)
        self.construct_s.append(construct)
        if keep:
            self.idx, self.searcher = idx, searcher

    def spark_queries(self) -> None:
        """Time each Spark engine over the query set and single-query
        ``retrieve_blockmax`` calls, with a serving slice after each call.
        The exhaustive results are the reference for every other result of
        the run."""
        from pyterrier_pisa_spark.operators.wand import retrieve_blockmax

        engines = self.engines(self.idx, self.searcher)
        local = engines.pop("local")
        groups = {"exhaustive": "pipeline.exhaustive", "blockmax": "wand.blockmax",
                  "batch": "wand.batch"}
        # each engine runs the query set as ``parts`` calls, apart in time,
        # over parts with the same mix of query sizes; in each round the
        # exhaustive call runs first. The single queries, spread over the
        # rounds, are the first queries of the first part that match a
        # document. A query of absent terms returns in a third of the time,
        # so one among a few calls moves their median, while about 1% of
        # the pool is such a query
        parts = split(self.queries, self.wl.parts)
        engines = {"exhaustive": engines.pop("exhaustive"), **engines}

        def single(qs):
            return retrieve_blockmax(self.idx, qs, k=self.wl.k,
                                     include_query=False).toPandas()

        singles = [("single", "wand.single", single, j) for j in range(self.n.single)]
        calls = []
        for p, part in enumerate(parts):
            calls += [(name, groups[name], fn, part) for name, fn in engines.items()]
            calls += singles[p * len(singles) // len(parts):
                             (p + 1) * len(singles) // len(parts)]
        serving = Serving(self, local, len(calls))
        self.reference, self.result_rows, self.reference_done = {}, 0, False
        self.call_walls = walls = {}
        for name, group, fn, qs in calls:
            if name == "single":
                qs = [[q for q in parts[0] if q[0] in self.reference][qs]]
            t0 = time.perf_counter()
            with self.calls.call(group, self.groups, request=qs[0][0] if len(qs) == 1 else None):
                frame = fn(qs)
            walls.setdefault(name, []).append(time.perf_counter() - t0)
            qids = [q for q, _ in qs]
            if name == "exhaustive":
                self.reference.update(per_query(frame))
                self.result_rows += len(frame)
                self.reference_done = len(walls[name]) == len(parts)
            else:
                self._check(self.reference, frame, qids, name)
            serving.slice()
        for name in groups:
            self._put(f"eval_qps.{name}", len(self.queries)
                      / (len(parts) * statistics.median(walls[name])), len(walls[name]))
        self._put("spark_query_p50_ms", statistics.median(walls["single"]) * 1e3,
                  len(walls["single"]))
        serving.finish()
        self._put("setup_s", statistics.median(self.setup_s), len(self.setup_s))
        self._put("serve_load_s", statistics.median(self.construct_s), len(self.construct_s))

    def _check_each(self, reqs, outs, what: str) -> None:
        t0 = time.perf_counter()
        failed = sum(mismatches(self.reference, out, [q[0]]) for q, out in zip(reqs, outs))
        self.ops.record(len(reqs), failed, what)
        self.ops.check_s += time.perf_counter() - t0

    # ---------------------------------------------------------------- run
    def _phase(self, name: str, fn) -> None:
        t0 = time.perf_counter()
        fn()
        self.phase_s[name] = time.perf_counter() - t0

    def run(self) -> None:
        self.phase_s: dict[str, float] = {}
        self._phase("warm_up", self.warm_up)
        self._phase("build", self.timed_build)
        self.setup_s: list[float] = []
        self.construct_s: list[float] = []
        self._phase("setup", lambda: self.setup(keep=True))
        self._phase("query", self.spark_queries)
        self._put("driver_peak_rss_mb", _rss_mb(), 1)
        main = self.main
        with open(os.path.join(main, "meta.json")) as fh:
            stats = json.load(fh)["stats"]
        self.digest = results_digest(self.reference, {
            k: stats[k] for k in ("num_docs", "num_terms", "total_doclen")})
        if self.tracer.enabled:
            from layers import per_layer_metrics

            self._phase("per_layer", lambda: per_layer_metrics(self))


class Serving:
    """The driver-only measurements, cut into slices that run between the
    Spark calls. The host's speed drifts over seconds, so slices spread over
    the run sample it many times; each figure pools or takes the median over
    the slices. One slice: a closed-loop block, an open-loop window at each
    rate, and repeats of the in-process batch."""

    def __init__(self, run: Run, local, slices: int):
        self.run, self.local, self.slices = run, local, slices
        n, wl = run.n, run.wl
        self.closed = max(1, n.closed // slices)
        self.open = max(1, n.open_per_rate // slices)
        self.local_reps = max(1, n.local_reps // slices)
        self.rng = np.random.default_rng([run.seed, 7])
        self.rates = {"low_rate": LOW_RATE, "high_rate": HIGH_RATE}
        self.svc: list[np.ndarray] = []
        self.latency = {r: [] for r in self.rates}
        self.queue = {r: [] for r in self.rates}
        self.late: list[float] = []
        self.batch_walls: list[float] = []
        self.pending: list[tuple] = []
        self.index = 0

        ls, k, tracer = run.searcher, wl.k, run.tracer

        def one(q):
            return ls.search([q], k=k)

        def traced(q):
            with tracer.span("serve.request", q[0]):
                return ls.search([q], k=k)

        self.service = traced if tracer.enabled else one

    def slice(self) -> None:
        run, qs = self.run, self.run.queries
        if len(run.setup_s) < SETUP_REPS:
            run.setup(keep=False)
        start = self.index * self.closed
        reqs = [qs[(start + i) % len(qs)] for i in range(self.closed)]
        svc, outs = _quiet(closed_loop, self.service, reqs, compact)
        self.pending.append((reqs, outs, "serve closed loop"))
        self.svc.append(svc)
        for label, rate in self.rates.items():
            reqs = [qs[i] for i in self.rng.integers(0, len(qs), self.open)]
            due = poisson_schedule(run.seed * 1000 + self.index, rate, len(reqs))
            res = _quiet(open_loop, self.service, reqs, due, compact)
            self.pending.append((reqs, res.outputs, f"serve open loop {label}"))
            self.latency[label].append(res.latency_s)
            self.queue[label].append(res.queue_s)
            self.late.extend(res.late_s.tolist())
        for _ in range(self.local_reps):
            t0 = time.perf_counter()
            with run.tracer.span("serve.batch"):
                frame = self.local(qs)
            self.batch_walls.append(time.perf_counter() - t0)
        self.pending.append((qs, [compact(frame)], "local batch"))
        self.index += 1
        self.check()

    def check(self) -> None:
        """Check kept responses once both exhaustive halves have run. A
        query with no result (every term OOV or a stopword) has no entry in
        the reference, and must have none in a response either."""
        run = self.run
        if not run.reference_done:
            return
        for reqs, outs, what in self.pending:
            if what == "local batch":
                run._check(run.reference, outs[0], run.qids, what)
            else:
                run._check_each(reqs, outs, what)
        self.pending.clear()

    def finish(self) -> None:
        run = self.run
        self.check()
        svc = np.concatenate(self.svc)
        run._put("serve_qps", svc.size / svc.sum(), svc.size)
        low = np.concatenate(self.latency["low_rate"])
        high = np.concatenate(self.latency["high_rate"])
        run._put("serve_p50_ms.low_rate", _pct(low, 50) * 1e3, low.size)
        for label, lat in (("low_rate", low), ("high_rate", high)):
            for q in (90, 99):
                run.layer[f"serve.latency_ms.p{q}.{label}"] = _pct(lat, q) * 1e3
        run._put("eval_qps.local", len(run.queries) / statistics.median(self.batch_walls),
                 len(self.batch_walls))
        run.layer["serve.service_ms.p50"] = _pct(svc, 50) * 1e3
        run.layer["serve.service_ms.p99"] = _pct(svc, 99) * 1e3
        run.layer["serve.queue_ms.p99.high_rate"] = _pct(
            np.concatenate(self.queue["high_rate"]), 99) * 1e3
        run.layer["serve.generator_late_ms.p99"] = _pct(self.late, 99) * 1e3 if self.late else 0.0
        run.layer["serve.batch.wall_s"] = statistics.median(self.batch_walls)


def run_workload(spark, name: str, inputs: dict, warmup_inputs: dict,
                 cold_inputs: dict | None, seed: int,
                 seconds: float, trace: bool, workdir: str) -> Run:
    os.makedirs(workdir, exist_ok=True)
    run = Run(spark, WORKLOADS[name], inputs, warmup_inputs, cold_inputs, seed, seconds,
              Tracer(trace), workdir)
    try:
        run.run()
    finally:
        spark.catalog.clearCache()
        shutil.rmtree(workdir, ignore_errors=True)
    return run
