"""Regenerate PLANS.md: formatted physical plans of the engine's flagship
dataflows with scale annotations — the `.explain("formatted")` evidence that
the plans ARE the plans we want (pushdown, broadcast, pinned exchanges,
whole-stage codegen), not just the first ones that passed.

Usage: python tools/dump_plans.py   (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADER = """# PLANS — physical-plan evidence (regenerate: `python tools/dump_plans.py`)

Each section shows `explain(formatted)` (or the executed plan) of a flagship
dataflow over the sf0.001 testdata, with the properties that matter at 100 TB
called out. Expression IDs vary between runs; structure does not.
"""


def _fmt(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (SparkSession.builder.master("local[8]")
             .appName("dump_plans")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from pyterrier_pisa_spark.operators import retrieve as R
    from pyterrier_pisa_spark.operators.dedup import minhash_dedup
    from pyterrier_pisa_spark.operators.similarity import lsh_cosine_topk
    from pyterrier_pisa_spark.operators.wand import retrieve_blockmax
    from pyterrier_pisa_spark.plans.entry_queries import QUERIES, _index
    from pyterrier_pisa_spark.sources.corpus import synth_code_corpus
    from pyterrier_pisa_spark.sources.index_store import build_index, load_index

    sf = "/root/testdata/sf0.001"
    sections: list[tuple[str, str, str]] = []

    # 1. exhaustive BM25 plan
    idx = _index(spark, sf)
    qterms = R.query_terms_df(spark, QUERIES, stemmer="none", stopwords="none")
    scored = R.attach_scores(qterms, idx.tf, idx.lexicon, idx.stats, scorer="bm25")
    top = R.topk(R.ranked_or(scored), 10)
    sections.append((
        "Exhaustive BM25 top-k (DataFrame plan — the correctness oracle)",
        "Query terms broadcast on BOTH joins (no sort-merge of the postings); "
        "per-posting partials in whole-stage codegen; partial (map-side) "
        "aggregation before the (qid, docid) shuffle; row_number rewritten to "
        "WindowGroupLimit so only k rows/qid survive the window exchange, "
        "which is pinned with an explicit repartition (AQE coalescing "
        "exemption).",
        _fmt(top)))

    # persisted index for kernel plans
    tmp = tempfile.mkdtemp(prefix="plans_")
    corpus = synth_code_corpus(spark, num_docs=2000, seed=5)
    build_index(corpus, f"{tmp}/idx", stemmer="porter2", chunk_span=256,
                mode="overwrite")
    pidx = load_index(spark, f"{tmp}/idx")
    pq = [("p1", "parse index query"), ("p2", "def return")]

    # 2. the pruned kernel (retrieve_blockmax and retrieve_blockmax_batch
    # are one function, so one plan)
    sections.append((
        "Pruned retrieval kernel (docid-chunk tasks, block-max TAAT)",
        "ONE scan of the postings parquet with the term_id filter PUSHED to "
        "the scan (row-group min/max pruning on (term_id, block_id)-sorted "
        "row groups); one explicit repartition by task_group (plus qgrp, "
        "from a literal term->groups map, when the index has fewer chunks "
        "than shuffle partitions) feeding applyInArrow (pinned task count, "
        "independent of AQE); each task runs block-max/max-score pruned TAAT "
        "for every query of its subset; global top-k window after per-task "
        "local top-ks.",
        _fmt(retrieve_blockmax(pidx, pq, k=10, include_query=False))))

    # 3b. the invert (build's only posting-granularity shuffle)
    from pyterrier_pisa_spark.sources.index_store import _fwd_to_tf
    fwd = spark.read.parquet(f"{tmp}/idx/fwd")
    tf = _fwd_to_tf(fwd)
    lex = spark.read.parquet(f"{tmp}/idx/lexicon")
    chunk_expr = (F.col("docid") / F.lit(256)).cast("long").alias("chunk")
    tf2 = tf.join(lex.select("term", "term_id"), "term").select(
        "term_id", chunk_expr, "docid",
        F.shiftleft(F.col("tf").cast("long"), 32).bitwiseOR(
            F.col("doclen").cast("long")).alias("tfdl"))
    grouped = (tf2.groupBy("term_id", "chunk")
               .agg(F.sort_array(F.collect_list(F.struct("docid", "tfdl"))).alias("posts"))
               .select("term_id", "chunk",
                       F.col("posts.docid").alias("docids"),
                       F.col("posts.tfdl").alias("tfdls"))
               .sortWithinPartitions("term_id", "chunk"))
    sections.append((
        "The invert (build phase 3 — map-side-combined aggregation shuffle)",
        "The build's ONLY posting-granularity exchange: the lexicon join is "
        "a BROADCAST (vocab-sized build side), the posting row is two longs "
        "(term_id + docid, tf<<32|doclen packed), and ObjectHashAggregate "
        "runs partial_collect_list BEFORE the exchange — each map "
        "partition's postings collapse into one array row per (term_id, "
        "chunk), so the shuffle moves array rows, not postings. Groups are "
        "bounded by chunk_span (the chunk salt also spreads Zipf-hot terms "
        "across reducers), sort_array orders each group by docid in place "
        "of a partition-global Tungsten sort, and the final "
        "sortWithinPartitions over vocab-sized array rows restores tight "
        "(term_id) parquet row-group stats for query-time pruning.",
        _fmt(grouped)))

    # 4. minhash near-dup pipeline
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    sections.append((
        "MinHash + LSH near-dup (candidates-only verification)",
        "Shingles/minhashes/bands are pure JVM column math; the ONLY '<' "
        "join is the LSH band-bucket candidate join; exact-Jaccard "
        "verification attaches shingle sets to the candidate pairs by id "
        "equi-joins — no shingle self-join, so no df^2 blow-up on hot "
        "shingles.",
        _fmt(minhash_dedup(docs, "text", "doc_id", n=3, bands=8, threshold=0.5))))

    # 5. LSH ANN
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").cast("string").alias("qid"), F.col("embedding").alias("qvec"))
    sections.append((
        "Hyperplane-LSH ANN top-k (multiprobe)",
        "Bucket ids are literal-coefficient sign sums (whole-stage codegen, "
        "no UDF); multiprobe is an EXPLODE of the query's probe buckets into "
        "a broadcast equi-join — never a nested-loop scan of the corpus.",
        _fmt(lsh_cosine_topk(emb, q, k=5, bits=8, dim=64))))

    out = [HEADER]
    for title, notes, plan in sections:
        out.append(f"\n## {title}\n\n{notes}\n\n```\n{plan.strip()}\n```\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as fh:
        fh.write("".join(out))
    print(f"wrote PLANS.md with {len(sections)} sections")
    spark.stop()


if __name__ == "__main__":
    main()
