"""Operator-level query definitions for the driver contract
(``__spark_entry__.py``): each function takes (spark, sf_dir) and returns a
DataFrame; ``ORACLES`` holds the equivalent DuckDB ANSI SQL over the same
parquet (views: region nation customer supplier part orders lineitem events
documents embeddings).

Every entry routes through the engine's REAL operators (termvec UDF, codec,
lexicon/dense-id assignment, scoring, top-k) — the SQL is the independent
oracle, not the implementation. Column names are aliased identically on both
sides (driver hashes values under sorted column names).

All corpus entries use stemmer='none' so the oracle is SQL-expressible
(Porter2 has no SQL equivalent; stemming is pinned by pytest goldens
instead — SURVEY.md §2.5).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import codec as C
from ..operators import retrieve as R
from ..plans.pipeline import LogicalIndex, build_logical_index

# Fixed embedded query set over the testdata ``documents`` vocabulary
# (FIXTURES.md §3: includes an OOV term, a very common term, a rare pair).
QUERIES = [
    ("q1", "spark query"),
    ("q2", "the fast join"),
    ("q3", "stream batch window merge"),
    ("q4", "qzzyx spark"),  # OOV term dropped
    ("q5", "customer"),
]
TOPK_K = 10

# Shared DuckDB CTE: tokenization of documents (lowercase alnum runs) with
# per-doc term frequencies — must match the termvec UDF with stemmer='none'.
_SQL_TOKS = """
toks AS (
    SELECT doc_id, tt.term AS term
    FROM (
        SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
        FROM documents
    ) tt
    WHERE tt.term <> ''
),
tf AS (
    SELECT doc_id, term, count(*)::BIGINT AS tf
    FROM toks GROUP BY doc_id, term
),
dl AS (
    SELECT doc_id, count(*)::BIGINT AS doclen FROM toks GROUP BY doc_id
),
lex AS (
    SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf,
           (row_number() OVER (ORDER BY term) - 1)::BIGINT AS term_id
    FROM tf GROUP BY term
),
stats AS (
    SELECT (SELECT count(*) FROM documents)::BIGINT AS num_docs,
           (SELECT sum(doclen) FROM dl)::BIGINT AS total_doclen,
           (SELECT sum(doclen) FROM dl)::DOUBLE / (SELECT count(*) FROM documents) AS avg_doclen
)
"""

_SQL_QUERY_TERMS = (
    "qterms(qid, term, qweight) AS (VALUES "
    + ", ".join(
        "('%s', '%s', %d.0)" % (qid, t, sum(1 for x in q.split() if x == t))
        for qid, q in QUERIES
        for t in sorted(set(q.split()))
    )
    + ")"
)


def _index(spark: SparkSession, sf_dir: str) -> LogicalIndex:
    # doc_id is already a dense id in the testdata -> docid := doc_id (no shuffle)
    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("doc_id").cast("string").alias("docno"),
        F.col("text").alias("content"),
    )
    return build_logical_index(corpus, stemmer="none", id_col="doc_id", cache=False)


# --------------------------------------------------------------- IR operators

def q_term_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _index(spark, sf_dir)
    return idx.tf.select(F.col("docid").alias("doc_id"), "term", F.col("tf").cast("long").alias("tf"))


def q_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _index(spark, sf_dir)
    return idx.docmap.select(F.col("docid").alias("doc_id"), F.col("doclen").cast("long").alias("doclen")).filter(
        F.col("doclen") > 0
    )


def q_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _index(spark, sf_dir)
    return idx.lexicon.select("term", F.col("term_id").cast("long").alias("term_id"),
                              F.col("df").cast("long").alias("df"), F.col("cf").cast("long").alias("cf"))


def q_collection_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _index(spark, sf_dir)
    return R.local_relation(
        spark,
        [(idx.stats["num_docs"], idx.num_terms(), idx.stats["total_doclen"],
          round(idx.stats["avg_doclen"], 6))],
        "num_docs long, num_terms long, total_doclen long, avg_doclen double",
    )


def q_delta_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-gaps of docids that made a REAL encode->decode roundtrip through
    the posting layout's frame-of-reference docids (per term), compared
    against the SQL lag() oracle."""
    idx = _index(spark, sf_dir)

    def _roundtrip(batches):
        import numpy as np

        # concat the partition's batches: a term's postings must be processed
        # together (Arrow batch boundaries would otherwise split a term)
        chunks = list(batches)
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            for term, grp in pdf.groupby("term"):
                docids = np.sort(grp["docid"].to_numpy())
                counts = np.array([len(docids)])
                first, offsets = C.encode_docids(docids, np.array([0]), counts)
                d2 = C.decode_docids(first, offsets, counts)
                gaps = np.empty_like(d2)
                gaps[0] = d2[0]
                gaps[1:] = d2[1:] - d2[:-1]
                yield pd.DataFrame({"term": term, "doc_id": d2, "gap": gaps})

    shuffled = idx.tf.select("term", "docid").repartition(8, "term")
    return shuffled.mapInPandas(_roundtrip, schema="term string, doc_id long, gap long")


def q_block_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-128-posting-block max tf / max docid / count (the block-max
    metadata of SURVEY §2.3 B7, tf flavor for integer-exact oracle)."""
    idx = _index(spark, sf_dir)
    w = Window.partitionBy("term").orderBy("docid")
    blocks = (
        idx.tf.withColumn("pos", F.row_number().over(w) - 1)
        .withColumn("block_id", (F.col("pos") / 128).cast("long"))
        .groupBy("term", "block_id")
        .agg(
            F.max("tf").cast("long").alias("block_max_tf"),
            F.max("docid").cast("long").alias("block_max_doc_id"),
            F.count("*").cast("long").alias("n_postings"),
        )
    )
    return blocks


_PERSISTED: dict[str, object] = {}


def _persisted(spark: SparkSession, sf_dir: str, encoding: str = "varint"):
    """One shared persisted block index per (sf_dir, encoding) (built into a
    tempdir): every entry exercising the pruned kernel reuses it
    instead of re-inverting the corpus."""
    import tempfile

    from ..sources.index_store import build_index, load_index

    key = (sf_dir, encoding)
    if key not in _PERSISTED:
        corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("doc_id").cast("string").alias("docno"),
            F.col("text").alias("content"),
        )
        path = tempfile.mkdtemp(prefix="ppisa_idx_") + "/idx"
        build_index(corpus, path, stemmer="none", id_col="doc_id",
                    mode="overwrite", encoding=encoding)
        _PERSISTED[key] = load_index(spark, path)
    return _PERSISTED[key]


def _blockmax_batch_topk(spark: SparkSession, sf_dir: str, scorer: str) -> DataFrame:
    """Scorer-generic SCALE path: persisted block index + the pruned kernel
    under its batch name (scorer-keyed term stats) — must match the same
    DuckDB oracle as the exhaustive Column plan (variants-matrix contract,
    reference ``tests/test_variants.py:7-28``)."""
    from ..operators.wand import retrieve_blockmax_batch

    idx = _persisted(spark, sf_dir)
    res = retrieve_blockmax_batch(idx, QUERIES, k=TOPK_K, scorer=scorer,
                                  stopwords="none", include_query=False,
                                  cast_float32=False)
    return res.select("qid", F.col("docid").alias("doc_id"),
                      F.round(F.col("score"), 4).alias("score"),
                      F.col("rank").cast("int").alias("rank"))


def _bm25_topk_df(spark: SparkSession, sf_dir: str, mode: str, scorer: str = "bm25") -> DataFrame:
    idx = _index(spark, sf_dir)
    qterms = R.query_terms_df(spark, QUERIES, stemmer="none", stopwords="none")
    scored = R.attach_scores(qterms, idx.tf, idx.lexicon, idx.stats, scorer=scorer)
    if mode == "or":
        agg = R.ranked_or(scored)
    else:
        counts = qterms.join(idx.lexicon.select("term"), "term").groupBy("qid").agg(
            F.count("*").alias("n_query_terms")
        )
        agg = R.ranked_and(scored, counts)
    top = R.topk(agg, TOPK_K)
    return top.select(
        "qid", F.col("docid").alias("doc_id"), F.round(F.col("score"), 4).alias("score"),
        F.col("rank").cast("int").alias("rank"),
    )


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bm25_topk_df(spark, sf_dir, "or")


def q_ranked_and_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bm25_topk_df(spark, sf_dir, "and")


def q_dph_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bm25_topk_df(spark, sf_dir, "or", scorer="dph")


def q_pl2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bm25_topk_df(spark, sf_dir, "or", scorer="pl2")


def q_qld_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bm25_topk_df(spark, sf_dir, "or", scorer="qld")


def q_dph_topk_blockmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _blockmax_batch_topk(spark, sf_dir, "dph")


def q_pl2_topk_blockmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _blockmax_batch_topk(spark, sf_dir, "pl2")


def q_qld_topk_blockmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _blockmax_batch_topk(spark, sf_dir, "qld")


def q_bm25_topk_blockmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full persisted path: build block-compressed index on disk, answer with
    the block-max pruned kernel — must match the SAME SQL oracle as the
    exhaustive plan (rank/score identity contract)."""
    from ..operators.wand import retrieve_blockmax

    idx = _persisted(spark, sf_dir)
    res = retrieve_blockmax(idx, QUERIES, k=TOPK_K, stopwords="none",
                            include_query=False, cast_float32=False)
    return res.select("qid", F.col("docid").alias("doc_id"),
                      F.round(F.col("score"), 4).alias("score"),
                      F.col("rank").cast("int").alias("rank"))


def q_bm25_topk_bitpack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B8 encoding registry end-to-end under the oracle: a BITPACK-encoded
    index (per-block bit width, the reference block_simdbp format family)
    must answer the pruned kernel with the SAME DuckDB oracle rows as the
    varint index — encodings are rank-preserving storage variants."""
    from ..operators.wand import retrieve_blockmax

    idx = _persisted(spark, sf_dir, encoding="bitpack")
    res = retrieve_blockmax(idx, QUERIES, k=TOPK_K, stopwords="none",
                            include_query=False, cast_float32=False)
    return res.select("qid", F.col("docid").alias("doc_id"),
                      F.round(F.col("score"), 4).alias("score"),
                      F.col("rank").cast("int").alias("rank"))


def q_bm25_topk_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The in-process serving engine (LocalSearcher dense mode) under the
    DuckDB oracle: collect the block index to the driver, answer with zero
    Spark jobs, re-wrap the pandas result as a DataFrame — must reproduce the
    SAME oracle rows as the exhaustive plan and the Spark kernel."""
    from ..operators.serve import LocalSearcher

    idx = _persisted(spark, sf_dir)
    ls = LocalSearcher(idx, stopwords="none")
    pdf = ls.search(QUERIES, k=TOPK_K, cast_float32=False)
    res = R.local_relation(spark, pdf, "qid string, docid long, score double, rank int")
    return res.select("qid", F.col("docid").alias("doc_id"),
                      F.round(F.col("score"), 4).alias("score"),
                      F.col("rank").cast("int").alias("rank"))


def q_bm25_topk_stop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-time stopword filtering (reference T7: stopwords indexed but
    dropped from queries, ``_pisathon.cpp:501``) — lucene list."""
    idx = _index(spark, sf_dir)
    qterms = R.query_terms_df(spark, QUERIES, stemmer="none", stopwords="lucene")
    scored = R.attach_scores(qterms, idx.tf, idx.lexicon, idx.stats, scorer="bm25")
    top = R.topk(R.ranked_or(scored), TOPK_K)
    return top.select("qid", F.col("docid").alias("doc_id"),
                      F.round(F.col("score"), 4).alias("score"),
                      F.col("rank").cast("int").alias("rank"))


_QUANTIZED: dict[str, object] = {}


def q_bm25_impact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """precompute_impact (reference B9, ``__init__.py:223,449``): BM25
    partials linearly quantized to 8-bit impacts folded INTO the index;
    retrieval is the integer dot product (quantized scorer) through the
    pruned kernel. Integer-exact vs the DuckDB oracle implementing the same
    quantization arithmetic."""
    import tempfile

    from ..operators.wand import retrieve_blockmax_batch
    from ..sources.index_store import load_index, quantize_index

    if sf_dir not in _QUANTIZED:
        src = _persisted(spark, sf_dir)
        qpath = tempfile.mkdtemp(prefix="ppisa_qidx_") + "/idx"
        quantize_index(src, qpath, scorer="bm25", bits=8)
        _QUANTIZED[sf_dir] = load_index(spark, qpath)
    idx = _QUANTIZED[sf_dir]
    res = retrieve_blockmax_batch(idx, QUERIES, k=TOPK_K, scorer="quantized",
                                  stopwords="none", include_query=False,
                                  cast_float32=False)
    return res.select("qid", F.col("docid").alias("doc_id"),
                      F.col("score").cast("long").alias("score"),
                      F.col("rank").cast("int").alias("rank"))


def q_bm25_impact_topk_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-4 int32 serving fast path under the DuckDB oracle: the SAME
    quantized impact index answered by LocalSearcher's integer dense
    accumulate (exact integer sums, positional tie-trim) must reproduce the
    SAME oracle rows as the Spark quantized kernel."""
    from ..operators.serve import LocalSearcher

    if sf_dir not in _QUANTIZED:
        q_bm25_impact_topk(spark, sf_dir)  # builds + caches the impact index
    ls = LocalSearcher(_QUANTIZED[sf_dir], scorer="quantized", stopwords="none")
    assert ls._acc_i is not None, "int32 fast path should be armed"
    pdf = ls.search(QUERIES, k=TOPK_K, cast_float32=False)
    res = R.local_relation(spark, pdf, "qid string, docid long, score double, rank int")
    return res.select("qid", F.col("docid").alias("doc_id"),
                      F.col("score").cast("long").alias("score"),
                      F.col("rank").cast("int").alias("rank"))


def q_bm25_topk_terrier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same as bm25_topk_stop but with the vendored 733-word Terrier list —
    the reference's DEFAULT stopword behavior (``__init__.py:120``,
    ``stopwords.py:1-6``)."""
    idx = _index(spark, sf_dir)
    qterms = R.query_terms_df(spark, QUERIES, stemmer="none", stopwords="terrier")
    scored = R.attach_scores(qterms, idx.tf, idx.lexicon, idx.stats, scorer="bm25")
    top = R.topk(R.ranked_or(scored), TOPK_K)
    return top.select("qid", F.col("docid").alias("doc_id"),
                      F.round(F.col("score"), 4).alias("score"),
                      F.col("rank").cast("int").alias("rank"))


def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window aggregation over the events table — the
    batch twin of streaming_term_counts (same F.window operator Structured
    Streaming uses with a watermark)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    agg = ev.groupBy(
        F.window(F.col("ts"), "1 hour").alias("w"), "event_type"
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    return agg.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type", F.col("n").cast("long").alias("n"), "sum_value",
    )


def q_quantized_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretokenized quantized dot-product retrieval (reference quantized
    scorer / toks path): doc impacts = tf (scale=1), integer query weights."""
    idx = _index(spark, sf_dir)
    qtoks = [
        ("t1", {"spark": 2.3, "query": 4.1}),
        ("t2", {"merge": 1.0, "stream": 7.9}),
    ]
    qdf = R.query_toks_df(spark, qtoks, toks_scale=1.0)
    j = F.broadcast(qdf).join(idx.tf, "term")
    agg = (
        j.withColumn("partial", (F.col("tf") * F.col("qweight")).cast("long"))
        .groupBy("qid", "docid")
        .agg(F.sum("partial").alias("score"))
    )
    top = R.topk(agg.withColumn("score", F.col("score").cast("double")), TOPK_K)
    return top.select("qid", F.col("docid").alias("doc_id"),
                      F.col("score").cast("long").alias("score"),
                      F.col("rank").cast("int").alias("rank"))


# ------------------------------------------------------------------- oracles

ORACLES: dict[str, str] = {}

ORACLES["term_freq"] = f"WITH {_SQL_TOKS} SELECT doc_id, term, tf FROM tf"

ORACLES["doclen"] = f"WITH {_SQL_TOKS} SELECT doc_id, doclen FROM dl"

ORACLES["lexicon"] = f"WITH {_SQL_TOKS} SELECT term, term_id, df, cf FROM lex"

ORACLES["collection_stats"] = (
    f"WITH {_SQL_TOKS} SELECT num_docs, (SELECT count(*) FROM lex)::BIGINT AS num_terms,"
    " total_doclen, round(avg_doclen, 6) AS avg_doclen FROM stats"
)

ORACLES["bm25_topk_blockmax"] = None  # filled below: same oracle as bm25_topk

ORACLES["delta_gap"] = f"""WITH {_SQL_TOKS}
SELECT term, doc_id,
       coalesce(doc_id - lag(doc_id) OVER (PARTITION BY term ORDER BY doc_id), doc_id)::BIGINT AS gap
FROM tf"""

ORACLES["block_max"] = f"""WITH {_SQL_TOKS},
pos AS (
    SELECT term, doc_id, tf,
           (row_number() OVER (PARTITION BY term ORDER BY doc_id) - 1) // 128 AS block_id
    FROM tf
)
SELECT term, block_id::BIGINT AS block_id, max(tf)::BIGINT AS block_max_tf,
       max(doc_id)::BIGINT AS block_max_doc_id, count(*)::BIGINT AS n_postings
FROM pos GROUP BY term, block_id"""

_SQL_BM25_SCORED = f"""
scored AS (
    SELECT q.qid, t.doc_id,
           sum(
             q.qweight
             * greatest(1.0e-6, ln((s.num_docs - l.df + 0.5) / (l.df + 0.5)))
             * 1.9 * t.tf
             / (t.tf + 0.9 * (1 - 0.4 + 0.4 * d.doclen / s.avg_doclen))
           ) AS score,
           count(*) AS nmatch
    FROM qterms q
    JOIN lex l ON l.term = q.term
    JOIN tf t ON t.term = q.term
    JOIN dl d ON d.doc_id = t.doc_id
    CROSS JOIN stats s
    GROUP BY q.qid, t.doc_id
)
"""

ORACLES["bm25_topk"] = f"""WITH {_SQL_TOKS}, {_SQL_QUERY_TERMS}, {_SQL_BM25_SCORED}
SELECT qid, doc_id, round(score, 4) AS score, (rnk - 1)::INT AS rank FROM (
    SELECT qid, doc_id, score,
           row_number() OVER (PARTITION BY qid ORDER BY CAST(score AS REAL) DESC, doc_id ASC) AS rnk
    FROM scored
) WHERE rnk <= {TOPK_K}"""

ORACLES["bm25_topk_blockmax"] = ORACLES["bm25_topk"]
ORACLES["bm25_topk_bitpack"] = ORACLES["bm25_topk"]
ORACLES["bm25_topk_local"] = ORACLES["bm25_topk"]

ORACLES["ranked_and_topk"] = f"""WITH {_SQL_TOKS}, {_SQL_QUERY_TERMS}, {_SQL_BM25_SCORED},
qcount AS (
    SELECT q.qid, count(*) AS n_query_terms
    FROM (SELECT DISTINCT qid, term FROM qterms) q
    JOIN lex l ON l.term = q.term
    GROUP BY q.qid
)
SELECT qid, doc_id, round(score, 4) AS score, (rnk - 1)::INT AS rank FROM (
    SELECT s.qid, s.doc_id, s.score,
           row_number() OVER (PARTITION BY s.qid ORDER BY CAST(s.score AS REAL) DESC, s.doc_id ASC) AS rnk
    FROM scored s JOIN qcount c ON c.qid = s.qid AND s.nmatch = c.n_query_terms
) WHERE rnk <= {TOPK_K}"""

ORACLES["quantized_dot"] = f"""WITH {_SQL_TOKS},
qtoks(qid, term, qweight) AS (VALUES
    ('t1', 'spark', 2), ('t1', 'query', 4),
    ('t2', 'merge', 1), ('t2', 'stream', 7)
),
qscored AS (
    SELECT q.qid, t.doc_id, sum(t.tf * q.qweight)::BIGINT AS score
    FROM qtoks q JOIN tf t ON t.term = q.term
    GROUP BY q.qid, t.doc_id
)
SELECT qid, doc_id, score, (rnk - 1)::INT AS rank FROM (
    SELECT qid, doc_id, score,
           row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS rnk
    FROM qscored
) WHERE rnk <= {TOPK_K}"""


def _scored_topk_sql(part_expr: str) -> str:
    """Generic scorer oracle: per-posting partial -> sum per (qid, doc) ->
    stable top-k."""
    return f"""WITH {_SQL_TOKS}, {_SQL_QUERY_TERMS},
scored AS (
    SELECT q.qid, t.doc_id, sum(q.qweight * ({part_expr})) AS score
    FROM qterms q
    JOIN lex l ON l.term = q.term
    JOIN tf t ON t.term = q.term
    JOIN dl d ON d.doc_id = t.doc_id
    CROSS JOIN stats s
    GROUP BY q.qid, t.doc_id
)
SELECT qid, doc_id, round(score, 4) AS score, (rnk - 1)::INT AS rank FROM (
    SELECT qid, doc_id, score,
           row_number() OVER (PARTITION BY qid ORDER BY CAST(score AS REAL) DESC, doc_id ASC) AS rnk
    FROM scored
) WHERE rnk <= {TOPK_K}"""


ORACLES["dph_topk"] = _scored_topk_sql(
    "((1.0 - t.tf::DOUBLE / d.doclen) * (1.0 - t.tf::DOUBLE / d.doclen) / (t.tf + 1.0))"
    " * (t.tf * log2((t.tf * s.avg_doclen / d.doclen) * (s.num_docs::DOUBLE / l.cf))"
    "    + 0.5 * log2(2 * pi() * t.tf * (1.0 - t.tf::DOUBLE / d.doclen)))"
)

ORACLES["pl2_topk"] = _scored_topk_sql(
    "(1.0 / (t.tf * log2(1.0 + 1.0 * s.avg_doclen / d.doclen) + 1.0))"
    " * (t.tf * log2(1.0 + 1.0 * s.avg_doclen / d.doclen)"
    "      * log2(t.tf * log2(1.0 + 1.0 * s.avg_doclen / d.doclen) / (l.cf::DOUBLE / s.num_docs))"
    "    + (l.cf::DOUBLE / s.num_docs - t.tf * log2(1.0 + 1.0 * s.avg_doclen / d.doclen)) * log2(exp(1.0))"
    "    + 0.5 * log2(2 * pi() * t.tf * log2(1.0 + 1.0 * s.avg_doclen / d.doclen)))"
)

ORACLES["qld_topk"] = _scored_topk_sql(
    "ln(1.0 + t.tf * s.total_doclen / (1000.0 * l.cf)) + ln(1000.0 / (d.doclen + 1000.0))"
)

# the pruned kernel must match the SAME oracles as the exhaustive
# plans (rank/score identity across retrieval algorithms)
ORACLES["dph_topk_blockmax"] = ORACLES["dph_topk"]
ORACLES["pl2_topk_blockmax"] = ORACLES["pl2_topk"]
ORACLES["qld_topk_blockmax"] = ORACLES["qld_topk"]

# precompute_impact: same quantization arithmetic as quantize_index
# (impact = max(1, ceil(partial / global_max * 255)); integer-exact scores)
_SQL_BM25_PARTIAL = (
    "greatest(1.0e-6, ln((s.num_docs - l.df + 0.5) / (l.df + 0.5)))"
    " * 1.9 * t.tf / (t.tf + 0.9 * (1 - 0.4 + 0.4 * d.doclen / s.avg_doclen))"
)
ORACLES["bm25_impact_topk"] = f"""WITH {_SQL_TOKS}, {_SQL_QUERY_TERMS},
partials AS (
    SELECT t.doc_id, t.term, {_SQL_BM25_PARTIAL} AS partial
    FROM tf t JOIN lex l ON l.term = t.term JOIN dl d ON d.doc_id = t.doc_id
    CROSS JOIN stats s
),
gmax AS (SELECT max(partial) AS m FROM partials),
impacts AS (
    SELECT doc_id, term,
           greatest(1, ceil(partial / (SELECT m FROM gmax) * 255))::BIGINT AS impact
    FROM partials
),
qscored AS (
    SELECT q.qid, i.doc_id, sum(i.impact * q.qweight)::BIGINT AS score
    FROM qterms q JOIN impacts i ON i.term = q.term
    GROUP BY q.qid, i.doc_id
)
SELECT qid, doc_id, score, (rnk - 1)::INT AS rank FROM (
    SELECT qid, doc_id, score,
           row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS rnk
    FROM qscored
) WHERE rnk <= {TOPK_K}"""


ORACLES["bm25_impact_topk_local"] = ORACLES["bm25_impact_topk"]


from ..functions.stopwords import LUCENE as _LUCENE
from ..functions.stopwords import TERRIER as _TERRIER

_SQL_QUERY_TERMS_STOP = (
    "qterms(qid, term, qweight) AS (VALUES "
    + ", ".join(
        "('%s', '%s', %d.0)" % (qid, t, sum(1 for x in q.split() if x == t))
        for qid, q in QUERIES
        for t in sorted(set(q.split()) - _LUCENE)
    )
    + ")"
)

ORACLES["bm25_topk_stop"] = f"""WITH {_SQL_TOKS}, {_SQL_QUERY_TERMS_STOP}, {_SQL_BM25_SCORED}
SELECT qid, doc_id, round(score, 4) AS score, (rnk - 1)::INT AS rank FROM (
    SELECT qid, doc_id, score,
           row_number() OVER (PARTITION BY qid ORDER BY CAST(score AS REAL) DESC, doc_id ASC) AS rnk
    FROM scored
) WHERE rnk <= {TOPK_K}"""

_SQL_QUERY_TERMS_TERRIER = (
    "qterms(qid, term, qweight) AS (VALUES "
    + ", ".join(
        "('%s', '%s', %d.0)" % (qid, t, sum(1 for x in q.split() if x == t))
        for qid, q in QUERIES
        for t in sorted(set(q.split()) - _TERRIER)
    )
    + ")"
)

ORACLES["bm25_topk_terrier"] = f"""WITH {_SQL_TOKS}, {_SQL_QUERY_TERMS_TERRIER}, {_SQL_BM25_SCORED}
SELECT qid, doc_id, round(score, 4) AS score, (rnk - 1)::INT AS rank FROM (
    SELECT qid, doc_id, score,
           row_number() OVER (PARTITION BY qid ORDER BY CAST(score AS REAL) DESC, doc_id ASC) AS rnk
    FROM scored
) WHERE rnk <= {TOPK_K}"""

ORACLES["events_windowed"] = """
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*)::BIGINT AS n, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""


IR_QUERIES = {
    "term_freq": q_term_freq,
    "doclen": q_doclen,
    "lexicon": q_lexicon,
    "collection_stats": q_collection_stats,
    "delta_gap": q_delta_gap,
    "block_max": q_block_max,
    "bm25_topk": q_bm25_topk,
    "bm25_topk_blockmax": q_bm25_topk_blockmax,
    "bm25_topk_bitpack": q_bm25_topk_bitpack,
    "bm25_topk_local": q_bm25_topk_local,
    "ranked_and_topk": q_ranked_and_topk,
    "dph_topk": q_dph_topk,
    "pl2_topk": q_pl2_topk,
    "qld_topk": q_qld_topk,
    "dph_topk_blockmax": q_dph_topk_blockmax,
    "pl2_topk_blockmax": q_pl2_topk_blockmax,
    "qld_topk_blockmax": q_qld_topk_blockmax,
    "quantized_dot": q_quantized_dot,
    "bm25_impact_topk": q_bm25_impact_topk,
    "bm25_impact_topk_local": q_bm25_impact_topk_local,
    "bm25_topk_stop": q_bm25_topk_stop,
    "bm25_topk_terrier": q_bm25_topk_terrier,
    "events_windowed": q_events_windowed,
}
