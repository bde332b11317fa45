"""Index kinds whose invariants the query fast paths and caches depend on.

- streamed index (hashed 60-bit docids): the single-chunk fast paths must
  not fire from ``num_docs <= chunk_span``; both kernels return at most k
  rows per query, equal to the exhaustive plan, and the batch kernel adds
  no query groups (its ids span many chunks);
- rebuilt in place in one session: the engines must not read the earlier
  index's persisted lexicon;
- re-quantized into a dir that already holds ``term_stats`` parts: only the
  new part remains;
- serving refuses what it cannot answer: sparse docids, an index over its
  decoded-postings budget, an index of another format version; and the
  driver-side term table is never read for a derived view.
"""

import glob
import json
import os
from dataclasses import replace

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyterrier_pisa_spark.operators.serve import LocalSearcher, ShardedLocalSearcher
from pyterrier_pisa_spark.operators.wand import (retrieve_blockmax,
                                                 retrieve_blockmax_batch)
from pyterrier_pisa_spark.plans.pipeline import retrieve
from pyterrier_pisa_spark.sources.corpus import synth_code_corpus
from pyterrier_pisa_spark.sources.index_store import (FORMAT_VERSION, build_index,
                                                      driver_term_table,
                                                      load_index, quantize_index)
from pyterrier_pisa_spark.streaming.ingest import (compact_stream_index,
                                                   stream_index_shards)

WORDS = ["alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa", "theta"]


def _frame(df: pd.DataFrame) -> pd.DataFrame:
    cols = ["qid", "rank", "docid", "docno", "score"]
    return df[cols].sort_values(["qid", "rank"]).reset_index(drop=True)


def _docs(n: int, common: str):
    """n docs over a small vocabulary; ``common`` is in every doc."""
    return [(f"doc{i:03d}",
             " ".join([common] + [WORDS[(i * j + i // 3) % len(WORDS)]
                                  for j in range(1, 2 + i % 5)]))
            for i in range(n)]


@pytest.fixture(scope="module")
def streamed(spark, tmp_path_factory):
    """A 60-doc streamed index (hashed docids): (meta, loaded index)."""
    tmp = tmp_path_factory.mktemp("streamed")
    src, path = str(tmp / "src"), str(tmp / "idx")
    schema = "docno string, content string"
    spark.createDataFrame(_docs(60, "zeta"), schema=schema).coalesce(1) \
        .write.mode("append").parquet(src)
    q1, q2 = stream_index_shards(spark.readStream.schema(schema).parquet(src),
                                 path, stemmer="none")
    q1.awaitTermination(120)
    q2.awaitTermination(120)
    meta = compact_stream_index(spark, path, stemmer="none")
    return meta, load_index(spark, path)


@pytest.fixture(scope="module")
def batch_idx(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("batch") / "idx")
    build_index(synth_code_corpus(spark, num_docs=120, seed=8), path,
                stemmer="porter2", block_size=16, mode="overwrite")
    return load_index(spark, path)


def test_streamed_index_topk_rows(spark, streamed):
    meta, idx = streamed
    assert idx.stats["num_docs"] == 60
    # hashed ids: the stamp must show docids far beyond one chunk
    assert meta["max_docid"] >= meta["chunk_span"]
    queries = [("q1", "alpha beta"), ("q2", "zeta"), ("q3", "gamma omega kappa")]
    k = 5
    exh = _frame(retrieve(idx.as_logical(), queries, k=k,
                          include_query=False).toPandas())
    for engine in (retrieve_blockmax, retrieve_blockmax_batch):
        got = engine(idx, queries, k=k, include_query=False)
        assert "Window" in got._jdf.queryExecution().executedPlan().toString()
        got = _frame(got.toPandas())
        assert got.groupby("qid").size().max() <= k
        pd.testing.assert_frame_equal(got, exh)
    assert set(exh["qid"]) == {"q1", "q2", "q3"}
    # the same stamp sizes the batch kernel's query groups: hashed ids span
    # many chunks, so no candidate block is copied to query groups
    plan = retrieve_blockmax_batch(idx, queries, k=k)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "qgrp" not in plan


def test_batch_build_stamps_max_docid(spark, tmp_path):
    meta = build_index(synth_code_corpus(spark, num_docs=40, seed=5),
                       str(tmp_path / "idx"), stemmer="porter2", mode="overwrite")
    assert meta["max_docid"] == 39


def test_rebuild_in_place_serves_new_lexicon(spark, tmp_path):
    path = str(tmp_path / "idx")
    schema = "docno string, content string"
    a = spark.createDataFrame([(f"a{i}", f"apple pear fig{i}") for i in range(20)],
                              schema=schema)
    build_index(a, path, stemmer="none", mode="overwrite")
    first = load_index(spark, path)
    assert first.lexicon.count() == 22  # materialize the persisted lexicon
    b = spark.createDataFrame(_docs(30, "zeta"), schema=schema)
    build_index(b, path, stemmer="none", mode="overwrite")
    idx = load_index(spark, path)
    assert {r["term"] for r in idx.lexicon.select("term").collect()} \
        == {w for _d, text in _docs(30, "zeta") for w in text.split()}
    queries = [("q1", "zeta"), ("q2", "alpha zeta")]
    exh = _frame(retrieve(idx.as_logical(), queries, k=10,
                          include_query=False).toPandas())
    assert len(exh[exh["qid"] == "q1"]) == 10
    got = _frame(retrieve_blockmax(idx, queries, k=10, include_query=False).toPandas())
    pd.testing.assert_frame_equal(got, exh)


def test_requantize_clears_stale_term_stats(spark, tmp_path):
    src = str(tmp_path / "src")
    build_index(synth_code_corpus(spark, num_docs=120, seed=8), src,
                stemmer="porter2", block_size=16, mode="overwrite")
    idx = load_index(spark, src)
    dst, fresh = str(tmp_path / "dst"), str(tmp_path / "fresh")
    quantize_index(idx, dst)
    tdir = os.path.join(dst, "term_stats")
    part = glob.glob(os.path.join(tdir, "*.parquet"))
    assert len(part) == 1
    # a part another writer left behind: zero maxima would make pruning
    # unsound and duplicate every lexicon row on load
    stale = pd.read_parquet(part[0]).assign(max_score=0.0)
    stale.to_parquet(os.path.join(tdir, "part-00001-stale.parquet"), index=False)
    quantize_index(idx, dst)
    assert len(glob.glob(os.path.join(tdir, "*.parquet"))) == 1
    quantize_index(idx, fresh)
    queries = [("q1", "parse index query"), ("q2", "merge shard buffer")]
    got = retrieve_blockmax(load_index(spark, dst), queries, k=10,
                            scorer="quantized", include_query=False).toPandas()
    want = retrieve_blockmax(load_index(spark, fresh), queries, k=10,
                             scorer="quantized", include_query=False).toPandas()
    assert len(want) > 0
    pd.testing.assert_frame_equal(_frame(got), _frame(want))


def test_serving_refuses_sparse_docids(spark, streamed):
    """Serving arrays are docid-indexed: a streamed index (hashed ids) fails
    loudly instead of answering 0 rows (sharded) or an IndexError."""
    _meta, idx = streamed
    for make in (lambda: LocalSearcher(idx),
                 lambda: LocalSearcher(idx, mode="blockmax"),
                 lambda: ShardedLocalSearcher(idx, n_shards=2)):
        with pytest.raises(ValueError, match="dense docids"):
            make()


def test_quantize_carries_dense_stamp(spark, batch_idx, tmp_path):
    meta = quantize_index(batch_idx, str(tmp_path / "q"))
    assert meta["max_docid"] == batch_idx.meta["max_docid"] == 119
    assert meta["num_postings"] == batch_idx.meta["num_postings"]
    qidx = load_index(spark, str(tmp_path / "q"))
    got = LocalSearcher(qidx, scorer="quantized").search([("q1", "parse index")], k=5)
    want = retrieve_blockmax(qidx, [("q1", "parse index")], k=5, scorer="quantized",
                             include_query=False).toPandas()
    assert len(want) == 5
    assert got["docid"].tolist() == want.sort_values("rank")["docid"].tolist()


def test_serving_budget_counts_decoded_postings(spark, batch_idx):
    """The budget is 12 B per decoded posting, from the build's count on the
    pristine path and from the view's own blocks on the Spark path."""
    nposts = batch_idx.meta["num_postings"]
    assert nposts == batch_idx.blocks.agg(F.sum("count")).collect()[0][0]
    budget = 12 * nposts
    LocalSearcher(batch_idx, mode="blockmax", max_bytes=budget)
    with pytest.raises(MemoryError, match="serving budget"):
        LocalSearcher(batch_idx, mode="blockmax", max_bytes=budget - 1)
    with pytest.raises(MemoryError, match="serving budget"):
        ShardedLocalSearcher(batch_idx, n_shards=1, mode="blockmax",
                             max_bytes=budget - 1)


def test_load_refuses_other_format_version(spark, batch_idx, tmp_path):
    import shutil

    path = str(tmp_path / "old")
    shutil.copytree(batch_idx.path, path)
    with open(os.path.join(path, "meta.json")) as fh:
        meta = json.load(fh)
    meta["version"] = FORMAT_VERSION - 1
    with open(os.path.join(path, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    with pytest.raises(ValueError) as err:
        load_index(spark, path)
    msg = str(err.value)
    assert f"version {FORMAT_VERSION - 1}" in msg and f"version {FORMAT_VERSION}" in msg
    assert "rebuild with build_index" in msg


def test_driver_term_table_skips_derived_views(spark, batch_idx):
    """A view's lexicon is not the parquet at ``index.path``: the engines
    must resolve its query terms through the view's own tables."""
    term = "pars"  # porter2 stem of "parse"
    view = replace(batch_idx, lexicon=batch_idx.lexicon.filter(F.col("term") != term),
                   pristine=False, _driver_cache={})
    assert driver_term_table(view, "bm25", 0.9, 0.4, 1000.0, 1.0) is None
    queries = [("q1", "parse")]
    assert retrieve_blockmax(batch_idx, queries, k=5, include_query=False).count() == 5
    for engine in (retrieve_blockmax, retrieve_blockmax_batch):
        assert engine(view, queries, k=5, include_query=False).count() == 0
