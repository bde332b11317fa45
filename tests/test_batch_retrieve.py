"""Batch retrieval mode (``retrieve_blockmax_batch``, the same kernel as
``retrieve_blockmax``) over a many-chunk index: rank/score-identical to the
exhaustive plan."""

import numpy as np
import pytest

from pyterrier_pisa_spark.operators.wand import retrieve_blockmax_batch
from pyterrier_pisa_spark.plans.pipeline import retrieve
from pyterrier_pisa_spark.sources.corpus import synth_code_corpus
from pyterrier_pisa_spark.sources.index_store import build_index, load_index

QUERIES = [
    ("q1", "parse index query"),
    ("q2", "def return if"),
    ("q3", "get_engine var399 zzz"),
    ("q4", "merge shard"),
    ("q5", "nonexistenttermxyz"),
]


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("bidx") / "idx")
    corpus = synth_code_corpus(spark, num_docs=400, seed=7)
    # small chunk_span so queries cross many chunks
    build_index(corpus, path, stemmer="porter2", block_size=32, chunk_span=64,
                mode="overwrite")
    return load_index(spark, path)


def _cmp(a, b):
    a = a.sort_values(["qid", "rank"]).reset_index(drop=True)
    b = b.sort_values(["qid", "rank"]).reset_index(drop=True)
    assert a["qid"].tolist() == b["qid"].tolist()
    assert a["docid"].tolist() == b["docid"].tolist()
    assert (a["rank"] == b["rank"]).all()
    np.testing.assert_allclose(a["score"], b["score"], rtol=1e-5)


def test_batch_matches_exhaustive(spark, idx):
    batch = retrieve_blockmax_batch(idx, QUERIES, k=25, include_query=False).toPandas()
    exh = retrieve(idx.as_logical(), QUERIES, k=25, include_query=False).toPandas()
    _cmp(batch, exh)


def test_batch_conjunctive(spark, idx):
    batch = retrieve_blockmax_batch(idx, QUERIES[:4], k=30, conjunctive=True,
                                    include_query=False).toPandas()
    exh = retrieve(idx.as_logical(), QUERIES[:4], k=30, mode="ranked_and",
                   include_query=False).toPandas()
    _cmp(batch, exh)
