"""Per-layer metrics of a traced run, named after the program's modules.

Spark-call groups come from ``SparkCalls`` (the status store); build phase
times from the index's ``_phases/*.done`` markers; the tokenizer, corpus
preparation and codec get their own measurements, which run only here.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import numpy as np

from workload import E2E_UNITS, SPARK_CORES

_GROUP_UNITS = {"wall_s": "s", "spark_jobs": "count", "spark_stages": "count",
                "spark_tasks": "count", "tasks_failed": "count",
                "shuffle_read_mb": "MB", "shuffle_write_mb": "MB",
                "executor_busy_share": "ratio", "driver_only_s": "s"}


def _group(prefix: str, fields) -> dict[str, str]:
    return {f"{prefix}.{f}": _GROUP_UNITS[f] for f in fields}


_ENGINE_FIELDS = tuple(_GROUP_UNITS)
PER_LAYER_UNITS: dict[str, str] = {
    **{f"index_store.build.phase_s.{p}": "s"
       for p in ("tf", "lexicon", "postings", "maxscore")},
    **_group("index_store.build", ("spark_jobs", "spark_stages", "spark_tasks",
                                   "tasks_failed", "shuffle_read_mb",
                                   "shuffle_write_mb", "executor_busy_share",
                                   "driver_only_s")),
    "index_store.build.spill_mb": "MB",
    "index_store.build.jvm_gc_s": "s",
    **{f"index_store.bytes.{t}": "B/B"
       for t in ("fwd", "postings", "lexicon", "docmap", "other")},
    "index_store.num_docs": "count",
    "index_store.num_terms": "count",
    "index_store.blocks": "count",
    "index_store.postings": "count",
    "index_store.load_index_s": "s",
    "index_store.term_table_s": "s",
    "tokenizer.termvec_docs_per_s": "docs/s",
    "tokenizer.termvec_busy_s": "s",
    "tokenizer.termvec.tasks_failed": "count",
    "tokenizer.query_parse_us": "us",
    "pipeline.prepare_corpus_s": "s",
    "pipeline.prepare_corpus.shuffle_write_mb": "MB",
    "pipeline.prepare_corpus.tasks_failed": "count",
    **_group("pipeline.exhaustive", _ENGINE_FIELDS),
    "codec.encode_mpostings_per_s": "Mpostings/s",
    "codec.decode_mpostings_per_s": "Mpostings/s",
    "codec.bytes_per_posting": "B",
    **_group("wand.blockmax", _ENGINE_FIELDS),
    **_group("wand.batch", _ENGINE_FIELDS),
    "wand.candidate_blocks": "count",
    "wand.candidate_postings": "count",
    "wand.results_per_kposting": "rows/1000",
    **_group("wand.single", ("spark_jobs", "spark_stages", "spark_tasks",
                             "tasks_failed", "driver_only_s")),
    "wand.single.executor_busy_s": "s",
    "serve.construct.spark_jobs": "count",
    "serve.construct.tasks_failed": "count",
    "serve.dense_cache_terms": "count",
    "serve.cached_term_share": "ratio",
    "serve.service_ms.p50": "ms",
    "serve.service_ms.p99": "ms",
    **{f"serve.latency_ms.p{q}.{r}": "ms" for q in (90, 99)
       for r in ("low_rate", "high_rate")},
    "serve.queue_ms.p99.high_rate": "ms",
    "serve.generator_late_ms.p99": "ms",
    "serve.batch.wall_s": "s",
    **{f"traced.{m}": u for m, u in E2E_UNITS.items()},
}


def _field(c, name: str) -> float:
    if name == "spark_jobs":
        return c.jobs
    if name == "spark_stages":
        return c.stages
    if name == "spark_tasks":
        return c.tasks
    if name == "executor_busy_share":
        return c.busy_share(SPARK_CORES)
    if name == "executor_busy_s":
        return c.executor_run_s
    return getattr(c, name)


def _put_group(out: dict, prefix: str, calls: list) -> None:
    """Median over the group's calls of every field the table names."""
    for name in PER_LAYER_UNITS:
        if name.startswith(prefix + ".") and name.count(".") == prefix.count(".") + 1:
            field = name[len(prefix) + 1:]
            out[name] = statistics.median(_field(c, field) for c in calls) if calls else 0.0


def _noop(run, name: str, make_df) -> object:
    """Plan ``make_df()`` and run it into the noop sink as one traced Spark
    call."""
    with run.calls.call(name, run.groups):
        make_df().write.format("noop").mode("overwrite").save()
    return run.groups[name][-1]


def _term_ids(run) -> np.ndarray:
    import pyarrow.dataset as pads

    from pyterrier_pisa_spark.functions.tokenizer import tokenize_queries

    lex = pads.dataset(os.path.join(run.main, "lexicon")).to_table(
        columns=["term", "term_id"]).to_pandas()
    ids = dict(zip(lex["term"], lex["term_id"]))
    terms = {t for _q, t, _w in tokenize_queries(run.queries, "porter2",
                                                  run.searcher.stops)}
    return np.array(sorted(ids[t] for t in terms if t in ids), dtype=np.int64)


def _codec(run, out: dict) -> None:
    """Single-thread driver decode and encode of every block of the index."""
    import pyarrow.dataset as pads

    from pyterrier_pisa_spark.operators.codec import get_codec

    with open(os.path.join(run.main, "meta.json")) as fh:
        codec = get_codec(json.load(fh).get("encoding"))
    blk = pads.dataset(os.path.join(run.main, "postings")).to_table(
        columns=["count", "docids_delta", "tfs", "doclens"]).to_pandas()
    counts = blk["count"].to_numpy(np.int64)
    starts = np.concatenate(([0], np.cumsum(counts)))[:-1]
    cols = [list(blk[c]) for c in ("docids_delta", "tfs", "doclens")]
    t0 = time.perf_counter()
    decoded = [codec.decode_segments(c, counts) for c in cols]
    t1 = time.perf_counter()
    for values in decoded:
        codec.encode_segments(values, starts)
    t2 = time.perf_counter()
    mpost = counts.sum() / 1e6
    out["codec.decode_mpostings_per_s"] = mpost / (t1 - t0)
    out["codec.encode_mpostings_per_s"] = mpost / (t2 - t1)
    out["codec.bytes_per_posting"] = sum(len(b) for c in cols for b in c) / counts.sum()


def per_layer_metrics(run) -> None:
    """Fill ``run.layer`` with every metric of ``PER_LAYER_UNITS``."""
    import pyarrow.dataset as pads
    from pyspark.sql import functions as F

    from pyterrier_pisa_spark.functions.tokenizer import termvec_udf, tokenize_queries
    from pyterrier_pisa_spark.plans.pipeline import prepare_corpus
    from pyterrier_pisa_spark.sources.index_store import driver_term_table, load_index

    out, groups, main = run.layer, run.groups, run.main
    content_bytes = run.inputs["content_bytes"]

    # sources.index_store: build, layout, load
    phases = {}
    for p in ("tf", "lexicon", "postings", "maxscore"):
        with open(os.path.join(main, "_phases", f"{p}.done")) as fh:
            phases[p] = json.load(fh)
        out[f"index_store.build.phase_s.{p}"] = float(phases[p]["sec"])
    _put_group(out, "index_store.build", groups.get("index_store.build", []))
    sizes = {t: 0 for t in ("fwd", "postings", "lexicon", "docmap", "other")}
    for root, _dirs, files in os.walk(main):
        top = os.path.relpath(root, main).split(os.sep)[0]
        key = top if top in sizes else "other"
        sizes[key] += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    for t, nbytes in sizes.items():
        out[f"index_store.bytes.{t}"] = nbytes / content_bytes
    with open(os.path.join(main, "meta.json")) as fh:
        stats = json.load(fh)["stats"]
    out["index_store.num_docs"] = stats["num_docs"]
    out["index_store.num_terms"] = stats["num_terms"]
    out["index_store.blocks"] = phases["postings"]["blocks"]
    out["index_store.postings"] = phases["postings"]["postings"]
    out["index_store.load_index_s"] = statistics.median(run.setup_s)
    fresh = load_index(run.spark, main)
    meta = fresh.meta["scorer"]
    t0 = time.perf_counter()
    driver_term_table(fresh, "bm25", meta["k1"], meta["b"], 1000.0, 1.0)
    out["index_store.term_table_s"] = time.perf_counter() - t0

    # functions.tokenizer, over a corpus of another vocabulary: the workers'
    # stem memo holds the timed corpus's stems after its build, but only the
    # keyword head of this one, as it held the timed corpus's before the build
    spark = run.spark
    cold = spark.read.parquet(run.cold_inputs["corpus"])
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    spark.conf.set(key, "1024")  # the batch size build_index tokenizes with
    try:
        c = _noop(run, "tokenizer.termvec", lambda: cold.select(
            termvec_udf("porter2")(F.col("content")).alias("tv")))
    finally:
        spark.conf.set(key, saved)
    out["tokenizer.termvec_docs_per_s"] = run.cold_inputs["num_docs"] / c.wall_s
    out["tokenizer.termvec_busy_s"] = c.executor_run_s
    out["tokenizer.termvec.tasks_failed"] = c.tasks_failed
    reps = []
    for _ in range(5):
        t0 = time.perf_counter()
        tokenize_queries(run.queries, "porter2", run.searcher.stops)
        reps.append((time.perf_counter() - t0) / len(run.queries))
    out["tokenizer.query_parse_us"] = statistics.median(reps) * 1e6

    # plans.pipeline
    corpus = spark.read.parquet(run.inputs["corpus"])
    c = _noop(run, "pipeline.prepare_corpus", lambda: prepare_corpus(corpus))
    out["pipeline.prepare_corpus_s"] = c.wall_s
    out["pipeline.prepare_corpus.shuffle_write_mb"] = c.shuffle_write_mb
    out["pipeline.prepare_corpus.tasks_failed"] = c.tasks_failed
    _put_group(out, "pipeline.exhaustive", groups.get("pipeline.exhaustive", []))

    # operators.codec
    _codec(run, out)

    # operators.wand
    for engine in ("blockmax", "batch"):
        _put_group(out, f"wand.{engine}", groups.get(f"wand.{engine}", []))
    tids = _term_ids(run)
    blk = pads.dataset(os.path.join(main, "postings")).to_table(
        columns=["term_id", "count"]).to_pandas()
    cand = blk[blk["term_id"].isin(tids)]
    out["wand.candidate_blocks"] = len(cand)
    out["wand.candidate_postings"] = int(cand["count"].sum())
    out["wand.results_per_kposting"] = (
        run.result_rows / (out["wand.candidate_postings"] / 1000.0)
        if out["wand.candidate_postings"] else 0.0)
    _put_group(out, "wand.single", groups.get("wand.single", []))

    # operators.serve
    _put_group(out, "serve.construct", groups.get("serve.construct", []))
    ls = run.searcher
    cached = getattr(ls, "_dvecs", {})
    out["serve.dense_cache_terms"] = len(cached)
    draws = hits = 0
    for _q, term, _w in tokenize_queries(run.queries, "porter2", ls.stops):
        hit = ls._terms.get(term)
        draws += 1
        hits += int(hit is not None and hit[0] in cached)
    out["serve.cached_term_share"] = hits / draws if draws else 0.0

    for m in E2E_UNITS:
        out[f"traced.{m}"] = run.e2e[m]
