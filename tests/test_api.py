"""Reference-parity user API (PisaSparkIndex / SparkRetriever): the surface a
pyterrier_pisa user would switch to — build, every scorer's retriever,
transform/search, precompute_impact, tokenize, corpus iter, metadata."""

import numpy as np
import pytest

from pyterrier_pisa_spark import PisaSparkIndex

DOCS = [
    ("d1", "the chemical reactions are exothermic"),
    ("d2", "chemical plants process reactions"),
    ("d3", "spark streams process data"),
    ("d4", "exothermic reactions release heat energy"),
]


@pytest.fixture(scope="module")
def api_idx(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("api") / "idx")
    corpus = spark.createDataFrame(DOCS, schema="docno string, content string")
    idx = PisaSparkIndex(path, spark=spark)
    assert not idx.built()
    idx.index(corpus)  # mode='create'
    assert idx.built()
    return idx


def test_create_mode_errors_on_existing(spark, api_idx):
    corpus = spark.createDataFrame(DOCS[:1], schema="docno string, content string")
    with pytest.raises(FileExistsError):
        api_idx.index(corpus)  # default mode='create' like the reference


def test_metadata(api_idx):
    assert api_idx.num_docs() == len(api_idx) == 4
    assert api_idx.num_terms() > 0
    assert api_idx.tokenize("Chemical Reactions!") == ["chemic", "reaction"]


def test_search_and_transform_all_scorers(spark, api_idx):
    for retr in (api_idx.bm25(num_results=3), api_idx.dph(), api_idx.pl2(),
                 api_idx.qld()):
        res = retr.search("chemical reactions").toPandas()
        assert len(res) >= 1
        assert set(res.columns) >= {"qid", "docno", "docid", "score", "rank"}
        assert res.sort_values("rank")["rank"].tolist() == list(range(len(res)))
    # transform over a query frame (pyterrier style)
    import pandas as pd

    qdf = pd.DataFrame({"qid": ["a", "b"], "query": ["exothermic heat", "spark data"]})
    out = api_idx.bm25()(qdf).toPandas()
    assert set(out["qid"]) == {"a", "b"}
    assert set(out[out["qid"] == "b"]["docno"]) == {"d3"}


def test_query_algorithms_agree(spark, api_idx):
    qs = [("q1", "chemical reactions process")]
    frames = {}
    for alg in ("block_max_wand", "batch", "ranked_or"):
        res = api_idx.bm25(num_results=4, query_algorithm=alg).transform(qs).toPandas()
        frames[alg] = res.sort_values("rank")[["docid", "rank"]].reset_index(drop=True)
    for alg in ("batch", "ranked_or"):
        assert frames[alg]["docid"].tolist() == frames["block_max_wand"]["docid"].tolist()


def test_precompute_impact_retriever(spark, api_idx):
    """bm25(precompute_impact=True): quantizes once (cached beside the
    index), then serves integer dot products; ranking must agree with plain
    BM25 on a well-separated query."""
    fast = api_idx.bm25(precompute_impact=True, num_results=4)
    res = fast.search("exothermic reactions").toPandas().sort_values("rank")
    plain = api_idx.bm25(num_results=4).search("exothermic reactions").toPandas() \
        .sort_values("rank")
    assert res["docid"].iloc[0] == plain["docid"].iloc[0]
    assert (res["score"] == res["score"].astype(int)).all()  # integer impacts
    # cached: second call reuses the quantized index directory
    import os

    qdirs = [d for d in os.listdir(api_idx.path) if d.startswith("quantized_")]
    assert len(qdirs) == 1
    api_idx.bm25(precompute_impact=True).search("heat")  # no second quantize
    assert len([d for d in os.listdir(api_idx.path) if d.startswith("quantized_")]) == 1


def test_get_corpus_iter(api_idx):
    docs = {d["docno"]: d["toks"] for d in api_idx.get_corpus_iter()}
    assert set(docs) == {"d1", "d2", "d3", "d4"}
    assert docs["d1"]["chemic"] == 1  # stemmed term with tf


def test_stops_filter_default_terrier(spark, api_idx):
    # 'the' is a terrier stopword -> query reduces to 'chemic'
    res = api_idx.bm25(num_results=4).search("the chemical").toPandas()
    assert set(res["docno"]) == {"d1", "d2"}


def test_pretokenized_query_toks_through_api(spark, tmp_path_factory):
    """Learned-sparse parity (reference __init__.py:223,480-495): a
    toks-built index queried through SparkRetriever.transform with a
    query_toks frame must reproduce the reference's quantization arithmetic
    (tests/test_dict.py:49-79 goldens) on every kernel, honor toks_scale,
    and accept-and-ignore verbose/threads/query_weighted."""
    import pandas as pd

    path = str(tmp_path_factory.mktemp("apitoks") / "idx")
    corpus = spark.createDataFrame(
        [("d1", {"a": 7.3, "b": 3.99}), ("d2", {"b": 1.2, "c": 8.0})],
        schema="docno string, toks map<string,double>",
    )
    idx = PisaSparkIndex(path, spark=spark, stemmer="none")
    idx.toks_index(corpus, scale=1.0)

    qdf = pd.DataFrame({"qid": ["q1"], "query_toks": [{"a": 2.3, "b": 4.1}]})
    for alg in ("block_max_wand", "batch", "ranked_or"):
        retr = idx.quantized(num_results=10, query_algorithm=alg,
                             toks_scale=1.0, verbose=True, threads=8,
                             query_weighted=True)
        res = retr.transform(qdf).toPandas()
        scores = dict(zip(res["docno"], res["score"]))
        assert scores["d1"] == pytest.approx(26.0), alg   # 7*2 + 3*4
        assert scores["d2"] == pytest.approx(4.0), alg    # b: 1*4

    # toks_scale honored (reference scale=85.4 x toks_scale=11.2 golden)
    path2 = str(tmp_path_factory.mktemp("apitoks2") / "idx")
    idx2 = PisaSparkIndex(path2, spark=spark, stemmer="none")
    idx2.toks_index(corpus.filter("docno = 'd1'"), scale=85.4)
    res2 = idx2.quantized(toks_scale=11.2).transform(qdf).toPandas()
    expect = int(7.3 * 85.4) * int(2.3 * 11.2) + int(3.99 * 85.4) * int(4.1 * 11.2)
    assert expect == 30875
    assert res2["score"].iloc[0] == pytest.approx(float(expect))

    # Spark-DataFrame query_toks frames route identically
    sdf = spark.createDataFrame([("q1", {"a": 2.3, "b": 4.1})],
                                schema="qid string, query_toks map<string,double>")
    res3 = idx.quantized(toks_scale=1.0).transform(sdf).toPandas()
    assert dict(zip(res3["docno"], res3["score"]))["d1"] == pytest.approx(26.0)


def test_parity_noop_kwargs_on_text_retrievers(spark, api_idx):
    """verbose/threads (reference __init__.py:124,223) must not TypeError on
    any retriever factory — they are Spark-side no-ops."""
    res = api_idx.bm25(num_results=3, verbose=True, threads=4).search(
        "chemical reactions").toPandas()
    assert len(res) >= 1
    res2 = api_idx.dph(verbose=False, threads=1, query_weighted=False).search(
        "chemical reactions").toPandas()
    assert len(res2) >= 1


def test_legacy_metadata_adapter(spark, tmp_path):
    """pt_pisa_config.json-era reference indexes are recognized (reference
    pisa_metadata_adapter.py:1-13, __init__.py:160-171,187): built() is True,
    the stored stemmer is honored with a warning on mismatch, and loading the
    native binary layout fails with an actionable CIFF pointer."""
    import json as _json
    import warnings

    from pyterrier_pisa_spark.plans.api import pisa_artifact_metadata_adapter

    legacy = tmp_path / "old_idx"
    legacy.mkdir()
    (legacy / "pt_pisa_config.json").write_text(_json.dumps({"stemmer": "none"}))

    meta = pisa_artifact_metadata_adapter(str(legacy), ["pt_pisa_config.json"])
    assert meta == {"type": "sparse_index", "format": "pisa",
                    "package_hint": "pyterrier-pisa"}
    assert pisa_artifact_metadata_adapter(str(legacy), ["other.bin"]) is None

    idx = PisaSparkIndex(str(legacy), spark=spark)
    assert idx.built()
    assert idx.stemmer == "none"  # honored from the stored config
    with pytest.warns(UserWarning, match="constructed with"):
        idx2 = PisaSparkIndex(str(legacy), spark=spark, stemmer="porter2")
    assert idx2.stemmer == "porter2"  # explicit request wins, with a warning
    with pytest.raises(NotImplementedError, match="CIFF"):
        idx.num_docs()


def test_log_level_toggle(spark):
    """log_level() parity shim (reference __init__.py:124-125)."""
    from pyterrier_pisa_spark import log_level

    log_level(True)
    log_level(False)  # leaves the suite quiet; just must not raise


def test_enum_parity_surface(spark, tmp_path):
    """Reference users pass enums (PisaScorer.bm25, PisaStopwords.none, ...);
    every API entry point must accept enum OR string interchangeably
    (reference __init__.py:27-123)."""
    from pyterrier_pisa_spark import (PisaIndexEncoding, PisaIndexingMode,
                                      PisaQueryAlgorithm, PisaScorer,
                                      PisaStemmer, PisaStopwords)

    corpus = spark.createDataFrame(DOCS, schema="docno string, content string")
    idx = PisaSparkIndex(str(tmp_path / "enum_idx"), spark=spark,
                         stemmer=PisaStemmer.porter2,
                         encoding=PisaIndexEncoding.bitpack)
    idx.index(corpus, mode=PisaIndexingMode.overwrite)
    retr = idx.bm25(num_results=5, stops=PisaStopwords.none,
                    query_algorithm=PisaQueryAlgorithm.block_max_wand)
    assert len(retr.search("chemical reactions").toPandas()) > 0
    assert idx._persisted().meta["encoding"] == "bitpack"
    # maxscore-family aliases route to the pruned kernel
    r2 = idx.dph(query_algorithm=PisaQueryAlgorithm.block_max_maxscore,
                 num_results=5)
    assert len(r2.search("chemical reactions").toPandas()) > 0
    assert PisaScorer.quantized.value == "quantized"


def test_indexer_factories_and_inputs(spark, tmp_path):
    """indexer()/toks_indexer() parity (reference __init__.py:392-415) and
    index_inputs() (reference __init__.py:189-200)."""
    from pyterrier_pisa_spark import PisaSparkIndex

    idx = PisaSparkIndex(str(tmp_path / "fx_idx"), spark=spark)
    assert ["docno", "content"] in idx.index_inputs()
    corpus = spark.createDataFrame(DOCS, schema="docno string, content string")
    ixr = idx.indexer(mode="overwrite", threads=4, batch_size=1000)
    ixr.index(corpus)
    assert idx.built() and idx.num_docs() == 4

    tidx = PisaSparkIndex(str(tmp_path / "fx_toks"), spark=spark, stemmer="none")
    toks = spark.createDataFrame([("d1", {"a": 2.0})],
                                 schema="docno string, toks map<string,double>")
    tidx.toks_indexer(mode="overwrite", scale=1.0).transform(toks)
    assert tidx.num_docs() == 1


def test_fuse_rank_cutoff_and_reset(spark, api_idx):
    retr = api_idx.bm25(num_results=100)
    fused = retr.fuse_rank_cutoff(3)
    assert fused is not None and fused.num_results == 3
    assert retr.fuse_rank_cutoff(1000) is None
    res = fused.search("chemical reactions").toPandas()
    assert len(res) <= 3
    fused.reset_retrieval_context(force=True)   # must not raise; reloads
    res2 = fused.search("chemical reactions").toPandas()
    assert res.equals(res2)
    assert "SparkRetriever" in repr(fused) and "PisaSparkIndex" in repr(api_idx)


def test_cli_parses_every_query_algorithm():
    """The CLI's ``--algorithm`` choices and SparkRetriever's dispatch come
    from the same tuples: every ``PisaQueryAlgorithm`` value parses."""
    from pyterrier_pisa_spark import PisaQueryAlgorithm
    from pyterrier_pisa_spark.cli import parser
    from pyterrier_pisa_spark.plans.api import (EXHAUSTIVE_ALGORITHMS,
                                                PRUNED_ALGORITHMS)

    for alg in PisaQueryAlgorithm:
        args = parser().parse_args(["retrieve", "idx", "--queries", "q.tsv",
                                    "--algorithm", alg.value])
        assert args.algorithm == alg.value
        assert alg.value in PRUNED_ALGORITHMS + EXHAUSTIVE_ALGORITHMS
