"""Round-6 optimization pins: the fast paths must be EXACTLY equivalent to
the plans they replaced.

- driver-side term table (``driver_term_table``) == the Spark broadcast-join
  path it bypasses (same qinfo, value for value);
- single-chunk window-skip (local top-k IS global) == the exhaustive plan,
  and the executed plan really has no Window node;
- the batch kernel's query-group split == per-query and exhaustive results
  on a single-chunk index (where the split is active).
"""

import numpy as np
import pytest

from pyterrier_pisa_spark.operators.wand import (_query_plan_inputs,
                                                 retrieve_blockmax,
                                                 retrieve_blockmax_batch)
from pyterrier_pisa_spark.plans.pipeline import retrieve
from pyterrier_pisa_spark.sources import index_store
from pyterrier_pisa_spark.sources.corpus import synth_code_corpus
from pyterrier_pisa_spark.sources.index_store import build_index, load_index

QUERIES = [
    ("q1", "parse index query"),
    ("q2", "def return if"),
    ("q3", "merge shard buffer"),
    ("q4", "token stream"),
    ("q5", "nonexistenttermxyz"),
    ("q6", "codec block posting"),
]


@pytest.fixture(scope="module")
def one_chunk_idx(spark, tmp_path_factory):
    """300 docs, default chunk_span (1<<16): the whole corpus is ONE docid
    chunk — the regime where the window-skip and query-group split fire."""
    path = str(tmp_path_factory.mktemp("r6idx") / "idx")
    corpus = synth_code_corpus(spark, num_docs=300, seed=13)
    build_index(corpus, path, stemmer="porter2", block_size=32, mode="overwrite")
    return load_index(spark, path)


def _cmp(a, b):
    a = a.sort_values(["qid", "rank"]).reset_index(drop=True)
    b = b.sort_values(["qid", "rank"]).reset_index(drop=True)
    assert a["qid"].tolist() == b["qid"].tolist()
    assert a["docid"].tolist() == b["docid"].tolist()
    assert (a["rank"] == b["rank"]).all()
    np.testing.assert_allclose(a["score"], b["score"], rtol=1e-5)


def _qinfo_map(qinfo):
    return {qid: [tuple(round(float(x), 10) for x in t) for t in terms]
            for qid, terms in qinfo.items()}


@pytest.mark.parametrize("scorer", ["bm25", "qld"])
def test_driver_term_table_matches_spark_join(spark, one_chunk_idx, monkeypatch,
                                              scorer):
    """The pyarrow driver-side term table must yield the SAME qinfo (term_id,
    qweight, stat, max_score, block_scale, min_score per term) as the Spark
    broadcast-join path it replaces."""
    args = (one_chunk_idx, QUERIES, None, None, 1000.0, 1.0, scorer, "terrier")
    _sp, qinfo_fast, _p, ubm_fast = _query_plan_inputs(*args)
    assert one_chunk_idx._driver_cache, "driver table should have been used"
    # force the Spark fallback by dropping the gate to zero
    one_chunk_idx._driver_cache.clear()
    monkeypatch.setattr(index_store, "DRIVER_TERM_TABLE_MAX", 0)
    _sp, qinfo_slow, _p, ubm_slow = _query_plan_inputs(*args)
    assert not one_chunk_idx._driver_cache
    assert ubm_fast == ubm_slow
    assert _qinfo_map(qinfo_fast) == _qinfo_map(qinfo_slow)


def test_single_chunk_skips_window_and_matches_exhaustive(spark, one_chunk_idx):
    res = retrieve_blockmax(one_chunk_idx, QUERIES, k=20, include_query=False)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "single-chunk path must skip the window merge"
    exh = retrieve(one_chunk_idx.as_logical(), QUERIES, k=20,
                   include_query=False).toPandas()
    _cmp(res.toPandas(), exh)


def test_batch_qgroup_split_matches_exhaustive(spark, one_chunk_idx):
    """Single chunk + shuffle width 8 => n_qgroups > 1: the query-group task
    split (and its term-tag block replication) must not change any row."""
    from pyterrier_pisa_spark.operators.retrieve import shuffle_parts

    assert shuffle_parts(spark) > 1  # the split is active in this session
    batch = retrieve_blockmax_batch(one_chunk_idx, QUERIES, k=20,
                                    include_query=False)
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    exh = retrieve(one_chunk_idx.as_logical(), QUERIES, k=20,
                   include_query=False).toPandas()
    _cmp(batch.toPandas(), exh)


def test_caller_id_gate_rejects_duplicates(spark, tmp_path):
    """The concurrent docid-distinct gate must still hard-fail a build whose
    caller-supplied ids collide — and leave NO phase markers behind (resume
    must not be able to skip the gate)."""
    import os

    from pyspark.sql import functions as F

    corpus = spark.range(6).select(
        (F.col("id") % 5).cast("long").alias("doc_id"),  # 5 collides with 0
        F.col("id").cast("string").alias("docno"),
        F.concat(F.lit("text number "), F.col("id").cast("string")).alias("content"),
    )
    path = str(tmp_path / "dupidx")
    with pytest.raises(AssertionError, match="docid assignment corrupted"):
        build_index(corpus, path, stemmer="none", id_col="doc_id", mode="overwrite")
    assert not os.path.exists(os.path.join(path, "_phases", "tf.done"))
    assert not os.path.exists(os.path.join(path, "_phases", "lexicon.done"))


def test_caller_id_gate_rejects_sparse(spark, tmp_path):
    """Non-dense caller ids (the documented contract is dense 0..n-1 — the
    invariant the single-chunk fast paths derive chunk counts from) must
    fail loudly at the Observation range check."""
    from pyspark.sql import functions as F

    corpus = spark.range(4).select(
        (F.col("id") * 100_000).cast("long").alias("doc_id"),  # sparse
        F.col("id").cast("string").alias("docno"),
        F.concat(F.lit("text number "), F.col("id").cast("string")).alias("content"),
    )
    with pytest.raises(AssertionError, match="dense"):
        build_index(corpus, str(tmp_path / "sparseidx"), stemmer="none",
                    id_col="doc_id", mode="overwrite")


def test_batch_qgroup_conjunctive(spark, one_chunk_idx):
    batch = retrieve_blockmax_batch(one_chunk_idx, QUERIES[:4], k=20,
                                    conjunctive=True, include_query=False).toPandas()
    exh = retrieve(one_chunk_idx.as_logical(), QUERIES[:4], k=20,
                   mode="ranked_and", include_query=False).toPandas()
    _cmp(batch, exh)
