"""LocalSearcher (driver-local serving): must be rank- AND score-identical to
the Spark pruned path on the same index — one kernel, one codec, one
tie-break — across scorers, plus the pretokenized path and the size guard."""

import numpy as np
import pandas as pd
import pytest

from pyterrier_pisa_spark import LocalSearcher
from pyterrier_pisa_spark.operators.wand import retrieve_blockmax
from pyterrier_pisa_spark.sources.corpus import synth_code_corpus
from pyterrier_pisa_spark.sources.index_store import build_index, load_index

QUERIES = [
    ("q1", "parse index"),
    ("q2", "def return if"),
    ("q3", "token stream buffer cache"),
    ("q4", "zzz_out_of_vocab"),
    ("q5", "merge"),
]


@pytest.fixture(scope="module")
def serve_idx(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("serve") / "idx")
    corpus = synth_code_corpus(spark, num_docs=400, seed=7)
    build_index(corpus, path, stemmer="porter2", mode="overwrite")
    return load_index(spark, path)


def _cmp(spark_df, local_pdf):
    ref = spark_df.toPandas().sort_values(["qid", "rank"], ignore_index=True)
    got = local_pdf.sort_values(["qid", "rank"], ignore_index=True)
    assert list(got["qid"]) == list(ref["qid"])
    assert list(got["docid"]) == list(ref["docid"])
    assert list(got["docno"]) == list(ref["docno"])
    assert list(got["rank"]) == list(ref["rank"])
    np.testing.assert_allclose(got["score"].to_numpy(np.float64),
                               ref["score"].to_numpy(np.float64),
                               rtol=0, atol=0)  # identical float32 values


@pytest.mark.parametrize("mode", ["dense", "blockmax"])
@pytest.mark.parametrize("scorer", ["bm25", "dph", "pl2", "qld"])
def test_local_matches_spark_kernel(spark, serve_idx, scorer, mode):
    ls = LocalSearcher(serve_idx, scorer=scorer, mode=mode)
    local = ls.search(QUERIES, k=25)
    ref = retrieve_blockmax(serve_idx, QUERIES, k=25, scorer=scorer,
                            include_query=False)
    _cmp(ref, local)


@pytest.mark.parametrize("mode", ["dense", "blockmax"])
def test_local_conjunctive(spark, serve_idx, mode):
    ls = LocalSearcher(serve_idx, mode=mode)
    local = ls.search(QUERIES, k=25, conjunctive=True)
    ref = retrieve_blockmax(serve_idx, QUERIES, k=25, conjunctive=True,
                            include_query=False)
    _cmp(ref, local)


def test_dense_sequence_state_reuse(spark, serve_idx):
    """The dense engine reuses its accumulator across queries (touched-only
    reset): interleaved conjunctive/disjunctive repeats must stay identical."""
    ls = LocalSearcher(serve_idx)
    a1 = ls.search(QUERIES, k=25)
    _ = ls.search(QUERIES[:2], k=5, conjunctive=True)
    a2 = ls.search(QUERIES, k=25)
    pd.testing.assert_frame_equal(a1, a2)


def test_local_toks_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("servetoks") / "idx")
    corpus = spark.createDataFrame(
        [("d1", {"a": 7.3, "b": 3.99}), ("d2", {"b": 1.0, "c": 2.0})],
        schema="docno string, toks map<string,double>")
    build_index(corpus, path, mode="overwrite", pretokenized=True, scale=1.0)
    idx = load_index(spark, path)
    ls = LocalSearcher(idx, scorer="quantized")
    res = ls.search_toks([("q1", {"a": 2.3, "b": 4.1})], k=10, toks_scale=1.0)
    scores = dict(zip(res["docno"], res["score"]))
    assert scores["d1"] == pytest.approx(26.0)  # 7*2 + 3*4
    assert scores["d2"] == pytest.approx(4.0)
    ref = retrieve_blockmax(idx, None, k=10, scorer="quantized",
                            queries_toks=[("q1", {"a": 2.3, "b": 4.1})],
                            toks_scale=1.0)
    _cmp(ref, res)


def test_size_guard(spark, serve_idx):
    with pytest.raises(MemoryError, match="Spark paths"):
        LocalSearcher(serve_idx, max_bytes=16)


def test_empty_and_oov_only(spark, serve_idx):
    ls = LocalSearcher(serve_idx)
    out = ls.search([("q", "zzz_out_of_vocab qqq_nope")], k=10)
    assert len(out) == 0
    assert list(out.columns) == ["qid", "docid", "docno", "score", "rank"]


def test_api_sugar(spark, serve_idx, tmp_path_factory):
    from pyterrier_pisa_spark import PisaSparkIndex

    api = PisaSparkIndex(serve_idx.path, spark=spark)
    ls = api.local_searcher()
    assert len(ls.search([("1", "parse index")], k=5)) > 0


@pytest.mark.parametrize("scorer,mode", [("bm25", "dense"), ("dph", "blockmax")])
def test_sharded_matches_unsharded(spark, tmp_path_factory, scorer, mode):
    """Docid-range sharding is exact: per-shard top-ks merged under the same
    float32-granularity order reproduce the unsharded searcher row for row
    (chunk-aligned boundaries; global collection statistics shared, term
    maxima per shard)."""
    from pyterrier_pisa_spark.operators.serve import ShardedLocalSearcher
    from pyterrier_pisa_spark.sources.corpus import synth_code_corpus

    path = str(tmp_path_factory.mktemp("shard") / "idx")
    corpus = synth_code_corpus(spark, num_docs=600, seed=13)
    # small chunk_span so 600 docs span many chunks -> real shard boundaries
    build_index(corpus, path, stemmer="porter2", mode="overwrite",
                chunk_span=64, block_size=32)
    idx = load_index(spark, path)
    single = LocalSearcher(idx, scorer=scorer, mode=mode)
    fleet = ShardedLocalSearcher(idx, n_shards=3, scorer=scorer, mode=mode)
    assert len(fleet.shards) == 3
    a = single.search(QUERIES, k=30).sort_values(["qid", "rank"], ignore_index=True)
    b = fleet.search(QUERIES, k=30).sort_values(["qid", "rank"], ignore_index=True)
    pd.testing.assert_frame_equal(a, b)


def test_shard_views_leave_term_stats_cache_sound(spark, tmp_path):
    """A shard is a derived view with its own blocks: its term maxima are
    computed uncached, so the index's scorer-keyed cache never holds a
    shard-local maximum below the global one (every later pruned query on
    the index would skip blocks with it). ``b=0.0`` is a falsy parameter and
    a key of its own."""
    import pyarrow.dataset as pads

    from pyterrier_pisa_spark.operators import codec as C
    from pyterrier_pisa_spark.operators import score as S
    from pyterrier_pisa_spark.operators.serve import ShardedLocalSearcher
    from pyterrier_pisa_spark.sources.index_store import ensure_term_stats

    path = str(tmp_path / "idx")
    build_index(synth_code_corpus(spark, num_docs=400, seed=7), path,
                stemmer="porter2", chunk_span=128, mode="overwrite")
    idx = load_index(spark, path)
    k1 = idx.meta["scorer"]["k1"]
    fleet = ShardedLocalSearcher(idx, n_shards=2, b=0.0, mode="blockmax")
    assert len(fleet.shards) == 2
    # the maxima every later query on the whole index reads (the cache, if
    # anything wrote it)
    cached = ensure_term_stats(idx, "bm25", k1=k1, b=0.0).toPandas()
    # the global maxima, recomputed from the postings
    blk = pads.dataset(f"{path}/postings").to_table()
    _d, tf, dl, counts = C.decode_arrow(blk)
    tid = np.repeat(blk.column("term_id").to_numpy(), counts)
    lex = idx.lexicon.select("term_id", "df").toPandas()
    df_of = np.zeros(int(lex["term_id"].max()) + 1)
    df_of[lex["term_id"].to_numpy()] = lex["df"].to_numpy()
    partial = S.np_partial_fn("bm25", idx.stats, k1, 0.0)
    p = partial(tf.astype(np.float64), dl.astype(np.float64), df_of[tid])
    gmax = pd.Series(p).groupby(tid).max()
    got = cached.set_index("term_id")["max_score"].reindex(gmax.index)
    assert (got.to_numpy() >= gmax.to_numpy()).all(), \
        int((got.to_numpy() < gmax.to_numpy()).sum())


def test_quantized_int_fast_path_identical(spark, serve_idx, tmp_path_factory):
    """The int32 accumulate on quantized indexes must engage AND remain
    rank+score-identical to the Spark quantized kernel (integer sums are
    exact in both representations)."""
    from pyterrier_pisa_spark.sources.index_store import quantize_index

    dst = str(tmp_path_factory.mktemp("serveq") / "qidx")
    quantize_index(serve_idx, dst, scorer="bm25", bits=8)
    qidx = load_index(spark, dst)
    ls = LocalSearcher(qidx, scorer="quantized")
    assert ls._acc_i is not None and ls._post_pi is not None  # int path armed
    local = ls.search(QUERIES, k=25)
    ref = retrieve_blockmax(qidx, QUERIES, k=25, scorer="quantized",
                            include_query=False)
    _cmp(ref, local)
    assert (local["score"] % 1 == 0).all()  # integer impacts summed exactly

    # non-integer query weights must fall back to the float64 path and still
    # match the Spark kernel (toks weights truncate to int BEFORE scoring, so
    # exercise via a fractional qw injected through search_toks scale)
    frac = ls.search_toks([("f1", {"index": 1.0})], k=5, toks_scale=2.5)
    ref2 = retrieve_blockmax(qidx, None, k=5, scorer="quantized",
                             queries_toks=[("f1", {"index": 1.0})], toks_scale=2.5)
    _cmp(ref2, frac)
