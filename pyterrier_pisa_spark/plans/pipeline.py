"""High-level pipelines: logical (in-memory DataFrame) index + retrieval.

``LogicalIndex`` is the engine's query-able form — four DataFrames mirroring
the reference's on-disk artifact (SURVEY.md §1.4): lexicon, postings (flat tf
or packed blocks), docmap, stats. The persisted form (parquet/Iceberg-style
tables + resumable shard build) lives in ``sources/index_store.py`` and loads
back into this same class.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.stopwords import DEFAULT_STOPWORDS
from ..operators import build as B
from ..operators import retrieve as R

# corpora at or below this many docnos assign dense docids driver-side (one
# bounded Arrow collect of the docno projection, ~80 MB of strings at the
# cap); larger corpora take the distributed range-partitioned assignment
DRIVER_IDS_MAX = 1_000_000


@dataclass
class LogicalIndex:
    """In-memory/query-time view of an index.

    - lexicon:  (term, term_id, df, cf[, max_score])
    - tf:       (docid, term, tf, doclen)          [flat postings view]
    - docmap:   (docid, docno, doclen, content_sha256)
    - stats:    {num_docs, total_doclen, avg_doclen}
    - blocks:   optional packed block table (see index_store) for the
                block-max WAND kernel
    - tf_for_terms: optional terms -> ``tf`` restricted to those terms;
                a persisted index decodes only those terms' blocks
    """

    lexicon: DataFrame
    tf: DataFrame
    docmap: DataFrame
    stats: dict
    blocks: DataFrame | None = None
    meta: dict = field(default_factory=dict)
    tf_for_terms: Callable[[list[str]], DataFrame] | None = None

    def query_tf(self, rows: list[tuple[str, str, float]]) -> DataFrame:
        """The flat postings a set of (qid, term, qweight) rows can touch."""
        if self.tf_for_terms is None:
            return self.tf
        return self.tf_for_terms(sorted({t for _q, t, _w in rows}))

    def num_docs(self) -> int:
        return self.stats["num_docs"]

    def num_terms(self) -> int:
        if "num_terms" not in self.stats:
            self.stats["num_terms"] = self.lexicon.count()
        return self.stats["num_terms"]

    def __len__(self) -> int:
        return self.num_docs()


def prepare_corpus(
    corpus: DataFrame,
    docno_col: str | None = None,
    id_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Normalize any corpus to (docid, docno, content[, content_sha256]).

    - source-code shape (repo,path,commit,lang,content): docno synthesized
      (BASELINE.json input_hint), docid = dense id in docno order.
    - ``id_col`` given: trust it as an already-dense docid (e.g. the driver
      testdata's ``doc_id``) — avoids a shuffle entirely.
    """
    cols = set(corpus.columns)
    if docno_col is None and {"repo", "path", "commit", "content"} <= cols:
        corpus = B.with_docno(corpus)
        docno_col = "docno"
    elif docno_col is None:
        docno_col = "docno"
    if "content_sha256" not in corpus.columns:
        if "content" in corpus.columns:
            corpus = corpus.withColumn("content_sha256", F.sha2(F.col("content"), 256))
        else:  # pretokenized corpora have no raw content to hash
            corpus = corpus.withColumn("content_sha256", F.lit(None).cast("string"))
    if id_col is not None:
        return corpus.withColumn("docid", F.col(id_col).cast("long")).withColumn(
            "docno", F.col(docno_col).cast("string")
        )
    corpus = corpus.withColumn("docno", F.col(docno_col).cast("string"))
    # docid assignment runs over the NARROW (docno) projection, never the
    # content column: ids are then broadcast-joined back, so the corpus is
    # not range-shuffled (content bytes through an exchange + a corpus-sized
    # cache are pure bandwidth cost — the resource that does NOT scale with
    # cores). Above the broadcast budget (~5M docnos) the ids join falls back
    # to a shuffle join — still docno-only on the build side; the corpus side
    # shuffles once, which at that scale is the ingestion-order cost the
    # reference pays too (``indexers.py:68-75``).
    # Corpora up to DRIVER_IDS_MAX docnos assign ids DRIVER-SIDE: the narrow
    # docno projection rides Arrow to the driver in one bounded job (no
    # shuffle, no range-sampling pass), sorts there (UTF-8 order == Python
    # str order), and broadcasts back — duplicate detection is then a free
    # exact check. Larger corpora take the distributed range path with a
    # count/countDistinct gate. Either way duplicate docnos HARD-FAIL: a
    # duplicate would make the equi-join below fan out n^2 rows per key and
    # silently corrupt the index (inflated num_docs, repeated docids).
    dup_msg = ("prepare_corpus: corpus has {n} duplicate docno value(s); "
               "docnos must be unique. Deduplicate upstream (e.g. "
               "operators.dedup.exact_dedup) or pass id_col for a trusted "
               "pre-assigned dense docid.")
    spark = corpus.sparkSession
    with B.eager_limits(spark):
        pdf = corpus.select("docno").limit(DRIVER_IDS_MAX + 1).toPandas()
    if len(pdf) <= DRIVER_IDS_MAX:
        ndup = int(pdf["docno"].duplicated().sum())
        if ndup:
            raise ValueError(dup_msg.format(n=ndup))
        import numpy as np

        pdf = pdf.sort_values("docno", ignore_index=True)
        pdf["docid"] = np.arange(len(pdf), dtype=np.int64)
        ids = F.broadcast(R.local_relation(spark, pdf, "docno string, docid long"))
        return corpus.join(ids, "docno")
    ids = B.assign_dense_ids(corpus.select("docno"), ["docno"], "docid",
                             num_partitions).select("docno", "docid")
    row = ids.agg(F.count("*").alias("n"),
                  F.count_distinct("docno").alias("nd")).collect()[0]
    ndocs, ndistinct = row["n"], row["nd"]
    if ndocs != ndistinct:
        raise ValueError(dup_msg.format(n=ndocs - ndistinct))
    if ndocs <= 5_000_000:
        ids = F.broadcast(ids)
    return corpus.join(ids, "docno")


def build_logical_index(
    corpus: DataFrame,
    stemmer: str = "porter2",
    docno_col: str | None = None,
    id_col: str | None = None,
    cache: bool = True,
) -> LogicalIndex:
    """corpus -> LogicalIndex entirely as DataFrame ops (the reference's
    build path §3.1 re-expressed; no fwd index materialized — fused)."""
    prepared = prepare_corpus(corpus, docno_col=docno_col, id_col=id_col)
    tf = B.build_tf(prepared, stemmer=stemmer)
    if cache:
        tf = tf.persist()
    lexicon = B.build_lexicon(tf)
    doclens = tf.groupBy("docid").agg(F.max("doclen").alias("doclen"))
    # docs with zero tokens still need docmap rows: left join, doclen 0
    docmap = (
        prepared.select("docid", "docno", "content_sha256")
        .join(doclens, "docid", "left")
        .fillna({"doclen": 0})
        .select("docid", "docno", "doclen", "content_sha256")
    )
    if cache:
        docmap = docmap.persist()
    stats = B.collection_stats(docmap)
    return LogicalIndex(lexicon=lexicon, tf=tf, docmap=docmap, stats=stats,
                        meta={"stemmer": stemmer})


def retrieve(
    index: LogicalIndex,
    queries: list[tuple[str, str]],
    scorer: str = "bm25",
    k: int = R.DEFAULT_NUM_RESULTS,
    stopwords=DEFAULT_STOPWORDS,
    mode: str = "ranked_or",
    include_query: bool = True,
    **scorer_params,
) -> DataFrame:
    """Exhaustive retrieval plan (reference ``ranked_or``/``ranked_and``) —
    returns (qid[, query], docid, docno, score, rank)."""
    spark = index.tf.sparkSession
    rows = R.query_term_rows(queries, stemmer=index.meta.get("stemmer", "porter2"),
                             stopwords=stopwords)
    qterms = R.local_relation(spark, rows, R.QTERMS_SCHEMA)
    scored = R.attach_scores(qterms, index.query_tf(rows), index.lexicon, index.stats,
                             scorer=scorer, **scorer_params)
    if mode == "ranked_or":
        agg = R.ranked_or(scored)
    elif mode == "ranked_and":
        counts = qterms.join(index.lexicon.select("term"), "term").groupBy("qid").agg(
            F.count("*").alias("n_query_terms")
        )
        agg = R.ranked_and(scored, counts)
    else:
        raise ValueError(f"unknown mode {mode!r}")
    top = R.topk(agg, k)
    qdf = R.local_relation(spark, queries, R.QUERIES_SCHEMA) if include_query else None
    return R.finalize(top, index.docmap, qdf, num_docs=index.stats.get("num_docs"))


def search(index: LogicalIndex, query: str, **kw) -> DataFrame:
    """Single-query sugar (reference ``search()``, R17)."""
    return retrieve(index, [("1", query)], **kw)


def build_logical_index_toks(corpus: DataFrame, scale: float = 100.0,
                             docno_col: str | None = None,
                             id_col: str | None = None) -> LogicalIndex:
    """Pretokenized (learned-sparse) logical index: corpus has a
    ``toks: map<string,double>`` column; weights quantized ``int(w*scale)``,
    <=0 dropped, doclen = sum of impacts (reference ``indexers.py:89-115``,
    requires stemmer='none', ``__init__.py:413-414``)."""
    from ..sources.index_store import _fwd_to_tf, _toks_fwd

    prepared = prepare_corpus(corpus, docno_col=docno_col, id_col=id_col)
    tf = _fwd_to_tf(_toks_fwd(prepared, scale)).persist()
    lexicon = B.build_lexicon(tf)
    doclens = tf.groupBy("docid").agg(F.first("doclen").alias("doclen"))
    docmap = (
        prepared.select("docid", "docno", "content_sha256")
        .join(doclens, "docid", "left").fillna({"doclen": 0})
        .select("docid", "docno", "doclen", "content_sha256")
    )
    stats = B.collection_stats(docmap)
    return LogicalIndex(lexicon=lexicon, tf=tf, docmap=docmap, stats=stats,
                        meta={"stemmer": "none", "pretokenized": True, "scale": scale})


def retrieve_toks(
    index: LogicalIndex,
    queries_toks: list[tuple[str, dict]],
    toks_scale: float = 100.0,
    k: int = R.DEFAULT_NUM_RESULTS,
    scorer: str = "quantized",
    **scorer_params,
) -> DataFrame:
    """Pretokenized query retrieval (reference ``__init__.py:485-495``):
    no stemming, NO stopword filtering (``_pisathon.cpp:463-492``); the
    quantized scorer is the integer dot product whose exact arithmetic is
    pinned by reference ``tests/test_dict.py:49-79``."""
    spark = index.tf.sparkSession
    rows = R.query_toks_rows(queries_toks, toks_scale=toks_scale)
    qterms = R.local_relation(spark, rows, R.QTERMS_SCHEMA)
    scored = R.attach_scores(qterms, index.query_tf(rows), index.lexicon, index.stats,
                             scorer=scorer, **scorer_params)
    top = R.topk(R.ranked_or(scored), k)
    return R.finalize(top, index.docmap, None, num_docs=index.stats.get("num_docs"))
