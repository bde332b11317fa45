"""Retrieval dataflow (reference §2.4): exhaustive DAAT-OR (``ranked_or``,
``_pisathon.cpp:339-346``) and conjunctive AND (``ranked_and``,
``_pisathon.cpp:322-338``) as pure DataFrame plans, plus the shared
stable top-k (``(score DESC, docid ASC)`` tie-break + 0-based rank,
``_pisathon.cpp:512-528``).

The exhaustive plan is the correctness ORACLE for the pruned block-max kernel
(``operators/wand.py``) — the reference's WAND variants are proven
rank-preserving perf variants by its own test matrix
(``tests/test_variants.py:7-28``); we adopt the same contract.

Plan shape (one broadcast, one agg shuffle, one window shuffle):
  query_terms (tiny, broadcast)  ⋈  tf/postings on term   [broadcast-hash join]
  -> per-posting partial score (whole-stage codegen'd Column math)
  -> groupBy(qid, docid).sum(score)    [partial agg, map-side combine]
  -> window top-k per qid              [WindowGroupLimit pushes k down]

Driver-built relations (query terms, query strings, tag and id maps) go
through ``local_relation``: an Arrow table that Spark plans as a
``LocalRelation``. A Python list handed to ``createDataFrame`` would
instead be re-pickled through an RDD, so every broadcast of such a
relation ran a job of Python-worker tasks on every retrieve call.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.stopwords import DEFAULT_STOPWORDS, get_stopwords
from ..functions.tokenizer import tokenize_queries
from . import score as S

DEFAULT_NUM_RESULTS = 1000  # reference default k (``__init__.py:223,434``)
QTERMS_SCHEMA = "qid string, term string, qweight double"
QUERIES_SCHEMA = "qid string, query string"


def shuffle_parts(spark: SparkSession) -> int:
    """Partition count for explicit (AQE-exempt) repartitions: the session's
    ``spark.sql.shuffle.partitions`` — the user-tuned sizing knob, CONSTANT
    across cluster sizes (scaling comparability: the same job at N and 4N
    cores keeps an identical task structure), and finer-grained than
    defaultParallelism so hash collisions across group keys balance out."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def local_relation(spark: SparkSession, data, schema: str) -> DataFrame:
    """Rows (a list of tuples) or a pandas frame as a DataFrame of the DDL
    ``schema``, built through an Arrow table: below
    ``spark.sql.execution.arrow.localRelationThreshold`` Spark plans it as a
    ``LocalRelation``, so broadcasting or scanning it never starts a Python
    worker (a Python list goes through ``RDD.map`` instead, and the pandas
    path is Arrow only when the session enables
    ``spark.sql.execution.arrow.pyspark.enabled``). The one place the
    package calls ``createDataFrame``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(struct)
    if isinstance(data, pd.DataFrame):
        table = pa.Table.from_pandas(data[struct.names], schema=arrow_schema,
                                     preserve_index=False)
    else:
        cols = list(zip(*data)) if data else [()] * len(struct.names)
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
            schema=arrow_schema)
    return spark.createDataFrame(table, schema=struct)


def query_term_rows(
    queries: list[tuple[str, str]],
    stemmer: str = "porter2",
    stopwords=DEFAULT_STOPWORDS,
) -> list[tuple[str, str, float]]:
    """Parse raw queries driver-side (queries are tiny by contract) into
    (qid, term, qweight) rows. Stopword + OOV drop follow the reference's
    query-time-only semantics (``_pisathon.cpp:494-505``).

    The stop list is passed through the SAME stemmer before matching: PISA's
    TermProcessor stems each stopword and resolves it to a term id, then
    tests the PROCESSED query term against that id set
    (``_pisathon.cpp:501`` — ``is_stopword(*term)`` after
    ``term_processor(raw_term)``), so e.g. 'yourselves' filters queries under
    porter2 even though only its stem matches."""
    stops = get_stopwords(stopwords)
    if stops and stemmer == "porter2":
        from ..functions.porter2 import CachedStemmer

        st = CachedStemmer()
        stops = frozenset(st(w) for w in stops)
    return tokenize_queries(queries, stemmer=stemmer, stopwords=stops)


def query_terms_df(
    spark: SparkSession,
    queries: list[tuple[str, str]],
    stemmer: str = "porter2",
    stopwords=DEFAULT_STOPWORDS,
) -> DataFrame:
    """``query_term_rows`` as a (qid, term, qweight) DataFrame to broadcast."""
    rows = query_term_rows(queries, stemmer=stemmer, stopwords=stopwords)
    return local_relation(spark, rows, QTERMS_SCHEMA)


def query_toks_rows(queries_toks: list[tuple[str, dict]],
                    toks_scale: float = 100.0) -> list[tuple[str, str, float]]:
    """Pretokenized query path (reference ``__init__.py:485-495`` +
    ``_pisathon.cpp:463-492``): weights scaled by toks_scale then truncated to
    int (term repeated int(w) times == weight multiplier int(w)); no
    stemming, no stopword filtering on this path."""
    rows = []
    for qid, toks in queries_toks:
        for term, w in toks.items():
            iw = int(float(w) * toks_scale)
            if iw > 0:
                rows.append((str(qid), str(term), float(iw)))
    return rows


def query_toks_df(spark: SparkSession, queries_toks: list[tuple[str, dict]],
                  toks_scale: float = 100.0) -> DataFrame:
    """``query_toks_rows`` as a (qid, term, qweight) DataFrame to broadcast."""
    rows = query_toks_rows(queries_toks, toks_scale=toks_scale)
    return local_relation(spark, rows, QTERMS_SCHEMA)


def attach_scores(
    qterms: DataFrame,
    tf: DataFrame,
    lexicon: DataFrame,
    stats: dict,
    scorer: str = "bm25",
    k1: float = 0.9,
    b: float = 0.4,
    mu: float = 1000.0,
    c: float = 1.0,
) -> DataFrame:
    """(qid, term, qweight) ⋈ lexicon ⋈ tf -> per-posting partial scores.
    OOV terms drop via the inner lexicon join (reference termlex-miss drop,
    ``_pisathon.cpp:498-505``)."""
    # qterms is tiny: force broadcast on BOTH joins (without the inner hint
    # the pre-AQE plan degrades to a sort-merge join of lexicon)
    q = F.broadcast(F.broadcast(qterms).join(lexicon.select("term", "term_id", "df", "cf"), "term"))
    j = q.join(tf, "term")
    tf_c, dl_c = F.col("tf").cast("double"), F.col("doclen").cast("double")
    n, avgdl, total = stats["num_docs"], stats["avg_doclen"], stats["total_doclen"]
    if scorer == "bm25":
        part = S.bm25_col(tf_c, dl_c, F.col("df").cast("double"), n, avgdl, k1, b)
    elif scorer == "qld":
        part = S.qld_col(tf_c, dl_c, F.col("cf").cast("double"), total, mu)
    elif scorer == "pl2":
        part = S.pl2_col(tf_c, dl_c, F.col("cf").cast("double"), n, avgdl, c)
    elif scorer == "dph":
        part = S.dph_col(tf_c, dl_c, F.col("cf").cast("double"), n, avgdl)
    elif scorer == "quantized":
        part = S.quantized_col(tf_c, F.lit(1.0))
    else:
        raise ValueError(f"unknown scorer {scorer!r}")
    return j.withColumn("partial", part * F.col("qweight"))


def ranked_or(scored: DataFrame) -> DataFrame:
    """Exhaustive disjunctive aggregation (reference R5)."""
    return scored.groupBy("qid", "docid").agg(F.sum("partial").alias("score"))


def ranked_and(scored: DataFrame, qterms_with_counts: DataFrame) -> DataFrame:
    """Conjunctive: keep docs matching ALL query terms (reference R6,
    ``ranked_and`` / ``block_max_ranked_and``)."""
    agg = scored.groupBy("qid", "docid").agg(
        F.sum("partial").alias("score"), F.count("*").alias("nmatch")
    )
    return (
        agg.join(F.broadcast(qterms_with_counts), "qid")
        .filter(F.col("nmatch") == F.col("n_query_terms"))
        .select("qid", "docid", "score")
    )


def topk(scores: DataFrame, k: int = DEFAULT_NUM_RESULTS) -> DataFrame:
    """Stable top-k: (float32(score) DESC, docid ASC), 0-based rank (reference
    ``_pisathon.cpp:512-528``). Spark compiles the row_number filter into
    WindowGroupLimit, so only k rows per qid survive the window shuffle.

    Ranking is at FLOAT32 granularity (the reference's score dtype,
    ``__init__.py:500-503``): per-doc sums whose exact values tie differ by
    summation ORDER across engines (Spark agg vs numpy kernel vs the DuckDB
    oracle) in the last double ulp; casting to float32 before the comparison
    collapses that noise so the docid tie-break decides identically
    everywhere.

    The window's exchange is pinned with an EXPLICIT repartition on qid:
    AQE's partition coalescing sees a few-MB shuffle and would otherwise
    collapse the window to ONE task (the whole ranking phase serializes on a
    single core); an explicit user repartition is exempt from coalescing and
    replaces (not adds to) the window's required exchange."""
    spark = scores.sparkSession
    scores = scores.repartition(shuffle_parts(spark), "qid")
    w = Window.partitionBy("qid").orderBy(
        F.col("score").cast("float").desc(), F.col("docid").asc())
    # filter on the RAW row_number (not the derived 0-based rank): that is the
    # exact pattern Spark's WindowGroupLimit rewrite matches, which caps each
    # partition to k rows BEFORE the window shuffle
    return (
        scores.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .withColumn("rank", (F.col("_rn") - 1).cast("int"))
        .drop("_rn")
    )


# docmaps at or below this many docs broadcast on the decode join (a few
# tens of MB); larger corpora broadcast the bounded top-k side instead and
# stream the docmap — never shuffle it (guide §3.1)
DOCMAP_BROADCAST_MAX = 1_000_000


def decode_docnos(results: DataFrame, docmap: DataFrame,
                  num_docs: int | None = None) -> DataFrame:
    """docid -> docno decode with a size-conditional join side: small corpora
    broadcast the docmap (probe side builds concurrently with the top-k
    subtree); large corpora broadcast the BOUNDED top-k (queries x k rows)
    and stream the corpus-sized docmap through the probe — either way the
    docmap is never shuffled."""
    dm = docmap.select("docid", "docno")
    if num_docs is not None and int(num_docs) <= DOCMAP_BROADCAST_MAX:
        return results.join(F.broadcast(dm), "docid")
    return dm.join(F.broadcast(results), "docid")


def finalize(results: DataFrame, docmap: DataFrame, queries_df: DataFrame | None = None,
             num_docs: int | None = None) -> DataFrame:
    """docid -> docno decode + join-back of query columns (reference
    R13/R14, ``_pisathon.cpp:434,523`` + ``__init__.py:517-521``); float32
    score dtype pinned by the reference (``__init__.py:500-503``).

    The decode join picks its broadcast side from the corpus size
    (``decode_docnos``) so the docmap is never shuffled at scale."""
    out = decode_docnos(results, docmap, num_docs)
    if queries_df is not None:
        out = out.join(F.broadcast(queries_df), "qid")
    cols = ["qid"] + (["query"] if queries_df is not None else []) + ["docid", "docno", "score", "rank"]
    return out.select(*cols).withColumn("score", F.col("score").cast("float"))
