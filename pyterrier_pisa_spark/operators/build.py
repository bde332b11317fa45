"""Index-build dataflow operators (SURVEY.md §2.3) — pure DataFrame logical
plans; persistence/sharding lives in ``sources/index_store.py``.

Dataflow (Spark-first re-expression of the reference's
fwd-build -> invert -> merge pipeline, ``_pisathon.cpp:126-178`` +
``indexers.py:84-144``):

  corpus (docno, content)
    -> termvec pandas UDF  (per-doc term/tf arrays + doclen; map-side tf, no
       tokens shuffle — replaces the reference's forward-index batch parse)
    -> explode             (docid, term, tf, doclen)
    -> lexicon             groupBy(term): df, cf + dense sorted term_id
                           (reference B4 lexicographic termid remap,
                           ``indexers.py:125-138``)
    -> docmap/stats        doclen, sha256 lineage, avgdl

Dense-id assignment (docid by docno, term_id by term) uses the scalable
range-partition + per-partition-offset technique, not a single-partition
global window — a ``Window.orderBy`` with no partition key would serialize
the whole corpus through one task at 100 TB.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tokenizer import termvec_udf

DEFAULT_K1 = 0.9

# persisted intermediates from assign_dense_ids, released by release_caches()
_PERSISTED: list = []


def release_caches() -> None:
    """Unpersist intermediates pinned by assign_dense_ids (call after the
    consuming job has materialized its outputs)."""
    while _PERSISTED:
        try:
            _PERSISTED.pop().unpersist()
        except Exception:  # session gone — nothing to release
            pass
DEFAULT_B = 0.4
DEFAULT_BLOCK_SIZE = 128

# vocabularies at or below this ride to the driver / one task for dense-id
# assignment (dense BY CONSTRUCTION — no validation pass needed); larger ones
# take the distributed range-partitioned path
SMALL_VOCAB_MAX = 1 << 20


from contextlib import contextmanager


@contextmanager
def eager_limits(spark):
    """Make CollectLimit scan all partitions in its FIRST job for the scope.

    The build's bounded driver collects (``limit(cap+1).toPandas()``) never
    reach their cap on legitimate inputs, so Spark's incremental limit
    execution (1, then 4x, ... partitions) degenerates into 3-4 extra
    scheduled jobs of pure serial constants — measurable against build
    scaling efficiency. One full-width job is strictly better here: the
    data volume is the same (shuffle/stage outputs are reused across the
    incremental jobs anyway); only the scheduling round-trips differ."""
    key = "spark.sql.limit.initialNumPartitions"
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    spark.conf.set(key, str(1 << 30))
    try:
        yield
    finally:
        if old is None:
            try:
                spark.conf.unset(key)
            except Exception:
                pass
        else:
            spark.conf.set(key, old)


def with_docno(df: DataFrame) -> DataFrame:
    """Synthesize the external document key for the source-code corpus shape
    ``(repo, path, commit, lang, content)`` (BASELINE.json input_hint):
    ``docno = repo || '/' || path || '@' || commit`` plus the sha256 lineage
    column (per-row invariant: content sha256 equality ingest -> index)."""
    return df.withColumn(
        "docno", F.concat_ws("", F.col("repo"), F.lit("/"), F.col("path"), F.lit("@"), F.col("commit"))
    ).withColumn("content_sha256", F.sha2(F.col("content"), 256))


def assign_dense_ids(
    df: DataFrame,
    order_cols: list[str],
    id_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign a dense 0-based id following the total order of ``order_cols``.

    Scalable replacement for ``row_number().over(Window.orderBy(...))`` (which
    funnels everything through ONE task): range-partition on the order keys,
    sort within partitions, compute a local rank per partition, then add the
    exclusive prefix-sum of partition counts (tiny driver-side cumsum over
    ~num_partitions values). The intermediate is persisted so the rank job and
    the count job see the same (sampled) range boundaries.

    Mirrors the reference's dense ingestion-order docid (``indexers.py:68-75``)
    and sorted-term termid (``indexers.py:125-138``) with a deterministic
    total order, which is what the (score DESC, docid ASC) tie-break contract
    requires (``_pisathon.cpp:512-515``).
    """
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism

    from pyspark.sql import Window

    part = df.repartitionByRange(num_partitions, *[F.col(c) for c in order_cols])
    part = part.sortWithinPartitions(*order_cols)
    # monotonically_increasing_id = (partition_id << 33) | row_in_partition —
    # a free (narrow, JVM-only) per-partition dense rank; partition order
    # equals key order because repartitionByRange assigns ascending ranges.
    ranked = part.withColumn("_mid", F.monotonically_increasing_id()).withColumn(
        "_pid", F.shiftright(F.col("_mid"), 33).cast("int")
    )
    # persist FREEZES the sampled range partitioning: the offsets branch and
    # the join branch below must see the SAME partition boundaries, and
    # exchange-reuse alone is not guaranteed under AQE. A recompute of an
    # evicted cached partition replays the frozen RDD lineage (same sampling
    # seed), so this stays deterministic even under memory pressure.
    # Callers that assign ids during an index build additionally run
    # validate_dense_ids as a hard corruption gate.
    ranked = ranked.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED.append(ranked)
    # Per-partition offsets as a second branch of the same cached plan; the
    # offsets window runs over ~num_partitions rows, never over data rows.
    counts = ranked.groupBy("_pid").agg(F.count("*").alias("_cnt"))
    w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn("_offset", F.coalesce(F.sum("_cnt").over(w), F.lit(0))).select(
        "_pid", "_offset"
    )
    lrank = F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1))
    out = (
        ranked.join(F.broadcast(offsets), "_pid")
        .withColumn(id_col, (F.col("_offset") + lrank).cast("long"))
        .drop("_pid", "_mid", "_offset")
    )
    return out


def validate_dense_ids(df: DataFrame, id_col: str, require_dense: bool = True) -> int:
    """Cheap corruption guard for id assignment (one agg job): ids must be
    unique; with ``require_dense`` additionally exactly 0..n-1. Returns the
    row count (so callers don't need a second count job)."""
    row = df.agg(
        F.count("*").alias("n"),
        F.countDistinct(id_col).alias("nd"),
        F.min(id_col).alias("mn"),
        F.max(id_col).alias("mx"),
    ).collect()[0]
    n = row["n"]
    if not n:
        return 0
    ok = row["nd"] == n and (not require_dense or (row["mn"] == 0 and row["mx"] == n - 1))
    if not ok:
        raise AssertionError(
            f"id assignment corrupted for {id_col}: n={n} distinct={row['nd']} "
            f"min={row['mn']} max={row['mx']} (require_dense={require_dense})"
        )
    return int(n)


def build_tf(corpus: DataFrame, stemmer: str = "porter2") -> DataFrame:
    """corpus(docid, content, ...) -> (docid, term, tf, doclen).

    tf is computed inside the Arrow UDF (one pass over tokens per doc), so the
    only posting-granularity shuffle in the whole build is the later
    repartition-by-term — the reference's FIFO/batch boundary
    (``indexers.py:61-75``) becomes this single exchange.
    """
    tv = corpus.withColumn("_tv", termvec_udf(stemmer)(F.col("content")))
    return (
        tv.select(
            "docid",
            F.col("_tv.doclen").alias("doclen"),
            F.explode(F.arrays_zip(F.col("_tv.terms").alias("term"), F.col("_tv.tfs").alias("tf"))).alias("_e"),
        )
        .select("docid", F.col("_e.term").alias("term"), F.col("_e.tf").cast("int").alias("tf"), "doclen")
    )


def build_doclens(corpus: DataFrame, stemmer: str = "porter2") -> DataFrame:
    """(docid, doclen) straight from the termvec UDF (no shuffle)."""
    return corpus.select(
        "docid", F.col("_tv.doclen").alias("doclen")
    ) if "_tv" in corpus.columns else corpus.withColumn(
        "_tv", termvec_udf(stemmer)(F.col("content"))
    ).select("docid", F.col("_tv.doclen").alias("doclen"))


def build_lexicon(tf: DataFrame, num_partitions: int | None = None,
                  small_vocab: bool | None = None) -> DataFrame:
    """(term, term_id, df, cf): document frequency + collection frequency per
    term, dense term_id in lexicographic term order (reference sorted-lexicon
    contract, ``indexers.py:125,133-134``). groupBy(term) is a partial-agg
    (map-side combine) shuffle of one small row per distinct (partition, term)
    — Zipf skew on raw postings does NOT hit this stage.

    SIZE-GATED id assignment: a small vocab (<= SMALL_VOCAB_MAX terms) is
    dense-ranked WITHOUT the range-partitioned machinery (sampling job +
    frozen cache + offsets broadcast + many tiny output files — pure
    constant overhead at this size, straight out of build scaling
    efficiency); real web-scale vocabularies take the scalable range path.
    ``small_vocab=True`` lets the caller assert the gate WITHOUT any probe
    (single-task sort, ids dense by row_number construction). ``None``
    probes with ONE bounded job: the vocab-sized agg rides Arrow to the
    driver (``limit(cap+1)``, so the probe itself cannot OOM), sorts there
    (UTF-8 order == Python str order), and comes back as a one-partition
    frame — above the cap the agg persists and takes the range path.

    Dense-id guarantee: every path except the range one constructs
    0..n-1 ids by definition; the range path's caller should run
    ``validate_dense_ids`` (see ``index_store``)."""
    agg = tf.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").cast("long").alias("cf")
    )
    if small_vocab is None:
        import numpy as np

        cap = SMALL_VOCAB_MAX
        with eager_limits(tf.sparkSession):
            pdf = agg.limit(cap + 1).toPandas()
        if len(pdf) <= cap:
            pdf = pdf.sort_values("term", ignore_index=True)
            pdf["term_id"] = np.arange(len(pdf), dtype=np.int64)
            from .retrieve import local_relation

            return local_relation(
                tf.sparkSession, pdf, "term string, df long, cf long, term_id long"
            ).coalesce(1)
        # identifier-heavy corpus above the cap: persist the full agg so the
        # range partitioner's sampling job doesn't re-execute the tf scan
        agg = agg.persist(StorageLevel.MEMORY_AND_DISK)
        _PERSISTED.append(agg)
        n = agg.count()
    elif small_vocab:
        from pyspark.sql import Window

        w = Window.orderBy("term")
        return agg.coalesce(1).withColumn(
            "term_id", (F.row_number().over(w) - 1).cast("long"))
    else:  # caller-asserted large vocab: persist for the range path
        agg = agg.persist(StorageLevel.MEMORY_AND_DISK)
        _PERSISTED.append(agg)
        n = agg.count()
    out = assign_dense_ids(agg, ["term"], "term_id", num_partitions)
    # vocab-sized output: ~2M terms per parquet file, not one file per task
    return out.coalesce(max(1, n // (2 << 20) + 1))


def build_docmap(corpus_ids: DataFrame, doclens: DataFrame) -> DataFrame:
    """(docid, docno, doclen, content_sha256) — replaces fwd.documents +
    fwd.doclex + inv.sizes (reference ``indexers.py:88,96,115``) and carries
    the sha256 lineage invariant."""
    cols = ["docid", "docno"] + (
        ["content_sha256"] if "content_sha256" in corpus_ids.columns else []
    )
    out = corpus_ids.select(*cols).join(doclens, "docid")
    if "content_sha256" not in out.columns:
        out = out.withColumn("content_sha256", F.lit(None).cast("string"))
    return out.select("docid", "docno", "doclen", "content_sha256")


def collection_stats(docmap: DataFrame) -> dict:
    """num_docs / num_terms-independent global stats (reference
    ``num_docs()``/``num_terms()`` accessors, ``__init__.py:295-306``)."""
    row = docmap.agg(
        F.count("*").alias("num_docs"),
        F.sum("doclen").alias("total_doclen"),
    ).collect()[0]
    num_docs = row["num_docs"]
    total = row["total_doclen"] or 0
    return {
        "num_docs": int(num_docs),
        "total_doclen": int(total),
        "avg_doclen": (float(total) / num_docs) if num_docs else 0.0,
    }
