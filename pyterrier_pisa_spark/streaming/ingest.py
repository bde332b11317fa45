"""Structured-Streaming ingestion: incremental corpus -> index shards.

The reference's corpus iterator is a bounded stream consumed once
(``indexers.py:61-75``); here ingestion is a real unbounded stream:

  stream_index_shards   readStream(corpus) -> termvec UDF -> tf-shard rows
                        appended exactly-once (checkpointed file sink) to
                        ``<index>/tf`` — the SAME shard table the batch
                        build's phase 1 writes, so a later
                        ``compact_stream_index`` simply runs batch phases
                        2-4 over everything ingested so far (the
                        shard/merge checkpoint boundary is unchanged).
  streaming_term_counts windowed per-term counts with a watermark (late
                        data handling) — the "trending terms" stream op.

Streaming docids: a global dense rank cannot be assigned incrementally, so
streaming docs get the 60-bit md5 hash of their docno — stable, dedupable,
sortable (blocks stay docID-sorted); the (score DESC, docid ASC) tie-break
remains deterministic, just over hashed rather than dense ids. Batch builds
keep dense docno-rank ids.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tokenizer import termvec_udf
from ..operators.dedup import _md5_int
from ..operators.retrieve import local_relation


def stream_docids(df: DataFrame, docno_col: str = "docno") -> DataFrame:
    return df.withColumn("docid", _md5_int(F.col(docno_col)))


def stream_index_shards(
    stream: DataFrame,
    path: str,
    stemmer: str = "porter2",
    docno_col: str = "docno",
    content_col: str = "content",
    trigger_available_now: bool = True,
):
    """stream (docno, content, ...) -> append (docid, term, tf, doclen) rows
    to <path>/tf and (docid, docno, doclen, content_sha256) to <path>/docmap.
    Returns the two StreamingQuery handles (file sink + checkpoint =
    exactly-once per epoch)."""
    prepared = stream_docids(stream, docno_col).withColumn(
        "content_sha256", F.sha2(F.col(content_col), 256)
    )
    tv = prepared.withColumn("_tv", termvec_udf(stemmer)(F.col(content_col)))
    tf = tv.select(
        "docid",
        F.col("_tv.doclen").alias("doclen"),
        F.explode(F.arrays_zip(F.col("_tv.terms").alias("term"), F.col("_tv.tfs").alias("tf"))).alias("_e"),
    ).select("docid", F.col("_e.term").alias("term"), F.col("_e.tf").cast("int").alias("tf"), "doclen")
    docmap = tv.select(
        "docid", F.col(docno_col).cast("string").alias("docno"),
        F.col("_tv.doclen").alias("doclen"), "content_sha256"
    )

    def _writer(df: DataFrame, sub: str):
        w = (
            df.writeStream.format("parquet")
            .option("path", os.path.join(path, sub))
            .option("checkpointLocation", os.path.join(path, "_stream_checkpoints", sub))
            .outputMode("append")
        )
        if trigger_available_now:
            w = w.trigger(availableNow=True)
        return w.start()

    return _writer(tf, "tf"), _writer(docmap, "docmap")


def compact_stream_index(spark: SparkSession, path: str, **build_kwargs) -> dict:
    """Run the batch build's phases 2-4 over everything the stream has
    ingested so far (phase 1 = the streamed shards themselves). Re-compaction
    after more data arrives just clears downstream phase markers and reruns —
    the stream sink keeps appending independently."""
    from ..sources.index_store import _commit_phase, _marker, build_index

    # mark phase 1 as provided by the stream, clear downstream markers.
    # ONE agg over docmap yields num_docs AND total_doclen together, and
    # recording total_doclen in the marker lets phase 2 take its stats fast
    # path instead of re-aggregating docmap — compaction drops from three
    # full stat scans to two (guide §1.2: fewer passes)
    tf_dir = os.path.join(path, "tf")
    if not os.path.exists(tf_dir):
        raise FileNotFoundError(f"no streamed tf shards at {tf_dir}")
    row = spark.read.parquet(os.path.join(path, "docmap")).agg(
        F.count("*").alias("n"), F.sum("doclen").alias("dl"),
        F.max("docid").alias("mx")).collect()[0]
    ndocs, total_dl = int(row["n"]), int(row["dl"] or 0)
    nposts = spark.read.parquet(tf_dir).count()
    # max_docid: hashed ids are not dense, so the build's single-chunk query
    # fast paths must see the real largest id, not infer it from num_docs
    _commit_phase(path, "tf", {"num_docs": ndocs, "tf_rows": nposts,
                               "total_doclen": total_dl, "max_docid": row["mx"],
                               "streamed": True})
    for ph in ("lexicon", "postings", "maxscore"):
        m = _marker(path, ph)
        if os.path.exists(m):
            os.remove(m)
    corpus_unused = local_relation(spark, [], "docno string, content string")
    return build_index(corpus_unused, path, mode="resume", **build_kwargs)


def streaming_term_counts(
    stream: DataFrame,
    content_col: str = "content",
    ts_col: str = "ts",
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
    stemmer: str = "none",
) -> DataFrame:
    """Event-time windowed term counts with late-data watermark:
    (window_start, window_end, term, n). Attach your own writeStream sink
    (append mode works once the watermark closes a window)."""
    tv = stream.withColumn("_tv", termvec_udf(stemmer)(F.col(content_col)))
    toks = tv.select(
        ts_col,
        F.explode(F.arrays_zip(F.col("_tv.terms").alias("term"),
                               F.col("_tv.tfs").alias("tf"))).alias("_e"),
    ).select(ts_col, F.col("_e.term").alias("term"), F.col("_e.tf").alias("tf"))
    win = F.window(F.col(ts_col), window, slide or window)
    agg = (
        toks.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), "term")
        .agg(F.sum("tf").cast("long").alias("n"))
    )
    return agg.select(F.col("w.start").alias("window_start"),
                      F.col("w.end").alias("window_end"), "term", "n")


def streaming_dedup_exact(
    stream: DataFrame,
    content_col: str = "content",
    id_col: str = "docno",
):
    """Custom STATEFUL streaming operator (``applyInPandasWithState``):
    exact-dedup an unbounded document stream. Emits each distinct content
    exactly once — the FIRST-seen doc (lowest id within the first batch that
    carries it) — and suppresses every later duplicate, across micro-batches
    and restarts (state lives in the streaming state store, keyed by the
    content's md5; per-key state is one flag, so state size is
    O(distinct contents), the minimum possible for exact dedup).

    Returns (id, content_md5) rows; attach your own writeStream sink
    (append mode). The training-pipeline streaming twin of
    ``operators.dedup.dedup_exact``."""
    import pandas as pd

    hashed = stream.select(
        F.col(id_col).cast("string").alias("id"),
        F.md5(F.col(content_col)).alias("content_md5"),
    )

    def _first_seen(key, pdfs, state):
        if state.exists:
            return  # content already emitted in an earlier batch
        best = None
        for pdf in pdfs:
            if len(pdf):
                cand = pdf["id"].min()
                best = cand if best is None else min(best, cand)
        if best is not None:
            state.update((True,))
            yield pd.DataFrame({"id": [best], "content_md5": [key[0]]})

    return hashed.groupBy("content_md5").applyInPandasWithState(
        _first_seen,
        outputStructType="id string, content_md5 string",
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf="NoTimeout",
    )
