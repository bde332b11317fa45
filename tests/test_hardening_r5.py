"""Round-5 hardening: sub-window WAV decode, stemmer-backend lineage,
postings row-group sizing, sharded-merge boundary ties, the float64 fallback
on quantized indexes, maskless-candidate equivalence, and a property fuzz of
the invert's pack kernel."""

import io
import json
import os
import wave as wave_mod

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyterrier_pisa_spark.operators.serve import LocalSearcher, ShardedLocalSearcher
from pyterrier_pisa_spark.sources.corpus import synth_code_corpus
from pyterrier_pisa_spark.sources.index_store import build_index, load_index, quantize_index


def _wav_bytes(n_samples: int, rate: int = 8000) -> bytes:
    t = np.arange(n_samples) / rate
    pcm = (np.sin(2 * np.pi * 440.0 * t) * 32000).astype("<i2")
    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(pcm.tobytes())
    return buf.getvalue()


def test_real_wav_sub_window_payloads(spark):
    """Payloads shorter than one analysis window (incl. zero-frame WAVs) must
    decode via zero-padding, not crash in reshape (ADVICE r4)."""
    from pyterrier_pisa_spark.operators.multimodal import audio_features

    df = spark.createDataFrame(
        [(1, _wav_bytes(100)), (2, _wav_bytes(0)), (3, _wav_bytes(511)),
         (4, _wav_bytes(512))],
        schema="id long, payload binary")
    rows = {r["id"]: r for r in audio_features(df, n_coeffs=8, decoder="real").collect()}
    assert len(rows) == 4
    for rid, r in rows.items():
        assert r["n_windows"] == 1
        co = np.array(r["coeffs"])
        assert co.shape == (8,) and np.isfinite(co).all()
    assert rows[2]["duration_s"] == 0.0
    assert np.allclose(np.array(rows[2]["coeffs"]), 0.0)  # silence -> log1p(0)
    assert rows[1]["duration_s"] == pytest.approx(100 / 8000.0, abs=1e-4)


def test_stemmer_backend_recorded_and_checked(spark, tmp_path):
    """build_index records the active porter2 backend; load_index warns when
    the querying process resolves a different one (ADVICE r4: index contents
    must not silently depend on an optional import)."""
    from pyterrier_pisa_spark.functions.porter2 import stemmer_backend

    path = str(tmp_path / "bk")
    build_index(synth_code_corpus(spark, num_docs=60, seed=5), path,
                stemmer="porter2", mode="overwrite")
    meta = json.load(open(os.path.join(path, "meta.json")))
    assert meta["stemmer_backend"] == stemmer_backend() == "vendored"

    # simulate an index built under the other backend
    meta["stemmer_backend"] = "pystemmer"
    with open(os.path.join(path, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    with pytest.warns(RuntimeWarning, match="porter2 backend"):
        load_index(spark, path)

    # stemmer='none' indexes record no backend and never warn
    path2 = str(tmp_path / "bk2")
    build_index(synth_code_corpus(spark, num_docs=40, seed=6), path2,
                stemmer="none", mode="overwrite")
    assert json.load(open(os.path.join(path2, "meta.json")))["stemmer_backend"] is None


def test_postings_row_group_sizing(spark, tmp_path, monkeypatch):
    """The postings write must produce MULTIPLE bounded parquet row groups
    once data exceeds the target (VERDICT r4 #3: a single-row-group file
    cannot be split, collapsing scan parallelism and degrading term_id
    pruning to file granularity). Verified with a small target so the
    mechanism shows at test scale."""
    import pyarrow.parquet as pq

    from pyterrier_pisa_spark.sources import index_store as ist

    monkeypatch.setattr(ist, "POSTINGS_PARQUET_BLOCK_BYTES", 64 << 10)
    path = str(tmp_path / "rg")
    build_index(synth_code_corpus(spark, num_docs=4000, seed=7), path,
                stemmer="none", mode="overwrite", num_partitions=2)
    pdir = os.path.join(path, "postings")
    files = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
    assert files
    n_groups = 0
    for f in files:
        md = pq.ParquetFile(os.path.join(pdir, f)).metadata
        n_groups += md.num_row_groups
        for g in range(md.num_row_groups):
            col = md.row_group(g).column(0)  # term_id
            assert col.statistics is not None and col.statistics.has_min_max
    assert n_groups >= 2 * len(files), (
        f"expected multiple row groups per file, got {n_groups} across "
        f"{len(files)} files")

    # term_id pruning still reaches the scan
    idx = load_index(spark, path)
    plan = idx.blocks.filter(F.col("term_id") == 3)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "term_id" in plan and ("PushedFilters" in plan or "pushed" in plan.lower())


def test_sharded_merge_boundary_ties(spark, tmp_path):
    """Identical docs tie exactly on score across shard boundaries; the
    sharded merge must resolve them through the same _topk_select tie-trim as
    the unsharded engine (smallest docids win), row for row."""
    docs = [(i, f"d{i:04d}", "alpha beta gamma delta") for i in range(200)]
    df = spark.createDataFrame(docs, "doc_id long, docno string, content string")
    path = str(tmp_path / "ties")
    build_index(df.select("docno", "content"), path, stemmer="none",
                mode="overwrite", chunk_span=64, block_size=32)
    idx = load_index(spark, path)
    single = LocalSearcher(idx)
    fleet = ShardedLocalSearcher(idx, n_shards=2)  # boundary at docid 128
    assert len(fleet.shards) == 2
    # 200 identical docs, k=50 < tie-group size: selection is pure tie-trim
    # and every kept row crosses or abuts a shard boundary decision
    a = single.search([("q", "alpha gamma")], k=50)
    b = fleet.search([("q", "alpha gamma")], k=50)
    pd.testing.assert_frame_equal(
        a.sort_values("rank", ignore_index=True),
        b.sort_values("rank", ignore_index=True))
    assert list(a["docid"]) == list(range(50))  # smallest docids, rank order


@pytest.fixture(scope="module")
def base_idx(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("r5q") / "idx")
    build_index(synth_code_corpus(spark, num_docs=300, seed=21), base,
                stemmer="porter2", mode="overwrite")
    return load_index(spark, base)


@pytest.fixture(scope="module")
def qidx(spark, base_idx, tmp_path_factory):
    dst = str(tmp_path_factory.mktemp("r5q") / "qidx")
    quantize_index(base_idx, dst, scorer="bm25", bits=8)
    return load_index(spark, dst)


def test_float64_fallback_on_fractional_weights(spark, qidx):
    """A genuinely non-integer query weight must bypass the int32 accumulator
    on a quantized index and produce exact float64 qw*impact sums (ADVICE r4:
    the previous test's weights collapsed to integers before reaching
    _query_dense, so the fallback was never exercised)."""
    ls = LocalSearcher(qidx, scorer="quantized")
    assert ls._acc_i is not None  # int path armed for this index
    term = next(iter(ls._terms))
    tid, stat, ms, mn = ls._terms[term]
    qw = 2.5
    terms = [(tid, qw, stat, ms, ls._bscale(stat), mn)]
    cand, sc = ls._query_dense(list(terms), k=10, conjunctive=False)
    # expected: float64 accumulate over the pre-scored postings slice
    lo = np.searchsorted(ls._post_tid_sorted, tid, "left")
    hi = np.searchsorted(ls._post_tid_sorted, tid, "right")
    exp_d = ls._post_d[lo:hi]
    exp_s = qw * ls._post_p[lo:hi]
    assert np.array_equal(cand, np.sort(exp_d))
    order = np.argsort(exp_d, kind="stable")
    assert np.array_equal(sc, exp_s[order])
    assert sc.dtype == np.float64
    assert (sc % 1 != 0).any()  # fractional sums prove the int path was bypassed
    assert not ls._acc_i.any()  # int accumulator untouched/clean


@pytest.mark.parametrize("scorer", ["bm25", "quantized"])
def test_maskless_candidates_match_masked(spark, base_idx, qidx, scorer):
    """The maskless candidate scan (flatnonzero over the accumulator, legal
    because bm25/quantized partials are strictly positive) must be result-
    identical to the mask-based scan it replaced."""
    idx = qidx if scorer == "quantized" else base_idx
    fast = LocalSearcher(idx, scorer=scorer)
    assert fast._all_pos  # maskless mode engaged
    slow = LocalSearcher(idx, scorer=scorer)
    slow._all_pos = False  # force the mask path
    queries = [("q1", "parse index build"), ("q2", "merge query score")]
    pd.testing.assert_frame_equal(fast.search(queries, k=20),
                                  slow.search(queries, k=20))
    pd.testing.assert_frame_equal(fast.search(queries, k=20, conjunctive=True),
                                  slow.search(queries, k=20, conjunctive=True))


def test_dense_cache_equivalence(spark, base_idx, qidx):
    """The df-head dense score-vector cache (r5 serving fast path) must be
    result-identical — including float64 bit-identity on the bm25 path — to
    the scatter engine it bypasses, for disjunctive, conjunctive (fallback),
    and pretokenized-weight queries."""
    queries = [("q1", "parse index build"), ("q2", "merge query score"),
               ("q3", "parse"), ("q4", "self loop")]
    for scorer, idx in (("bm25", base_idx), ("quantized", qidx)):
        fast = LocalSearcher(idx, scorer=scorer)
        assert fast._accD is not None and fast._dvecs, \
            f"dense cache should arm by default for {scorer}"
        slow = LocalSearcher(idx, scorer=scorer, dense_cache_bytes=0)
        assert slow._accD is None
        pd.testing.assert_frame_equal(fast.search(queries, k=25),
                                      slow.search(queries, k=25))
        pd.testing.assert_frame_equal(
            fast.search(queries, k=25, conjunctive=True),
            slow.search(queries, k=25, conjunctive=True))
        # float64 exactness: scores equal BEFORE the float32 cast too
        pd.testing.assert_frame_equal(
            fast.search(queries, k=25, cast_float32=False),
            slow.search(queries, k=25, cast_float32=False))
    toks = [("t1", {"parse": 2.0, "index": 1.0}), ("t2", {"merge": 3.0})]
    fast = LocalSearcher(qidx, scorer="quantized")
    slow = LocalSearcher(qidx, scorer="quantized", dense_cache_bytes=0)
    pd.testing.assert_frame_equal(fast.search_toks(toks, k=25),
                                  slow.search_toks(toks, k=25))


def test_dense_cache_partial_mixed_int(spark, qidx):
    """With a budget that caches only the hottest term(s), the int path takes
    the MIXED dense+scatter route (legal: integer sums are order-free) and
    must still match the cache-off engine on queries spanning cached and
    uncached terms."""
    nd = int(qidx.stats["num_docs"])
    # budget = accumulator + exactly one int32 vector
    one = LocalSearcher(qidx, scorer="quantized", dense_cache_bytes=2 * 4 * nd)
    assert len(one._dvecs) == 1
    full = LocalSearcher(qidx, scorer="quantized", dense_cache_bytes=0)
    # head term (cached) + tail terms (scatter) in one query
    from pyspark.sql import functions as F
    lex = qidx.lexicon.orderBy(F.desc("df"), F.asc("term")).select("term").collect()
    head, tails = lex[0]["term"], [r["term"] for r in lex[-4:]]
    queries = [("m1", f"{head} {tails[0]} {tails[1]}"),
               ("m2", f"{tails[2]} {head}"), ("m3", head),
               ("m4", f"{tails[0]} {tails[3]}")]
    pd.testing.assert_frame_equal(one.search(queries, k=30),
                                  full.search(queries, k=30))


def test_pack_kernel_property_fuzz():
    """Property fuzz of the invert's pack kernel (VERDICT r4 stretch): random
    (docid, tf) sets spanning chunk boundaries must pack into blocks that are
    chunk-local, strictly block_id-increasing, <= block_size, and exact
    roundtrips of the inputs through the postings layout."""
    import pyarrow as pa
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pyterrier_pisa_spark.operators import codec as C
    from pyterrier_pisa_spark.sources.index_store import make_block_packer

    CHUNK_SPAN, BLOCK = 16, 4
    packer = make_block_packer(BLOCK, CHUNK_SPAN // BLOCK + 1,
                               k1=0.9, b=0.4, avgdl=50.0)

    @settings(max_examples=60, deadline=None)
    @given(st.lists(
        st.tuples(st.integers(0, 5 * CHUNK_SPAN - 1),  # docid across 5 chunks
                  st.integers(1, 1000),                  # tf
                  st.integers(1, 5000)),                 # doclen
        min_size=1, max_size=120,
        unique_by=lambda x: x[0]))
    def check(postings):
        postings.sort()
        rows = {}
        for docid, tf, dl in postings:
            chunk = docid // CHUNK_SPAN
            rows.setdefault((7, chunk), []).append((docid, (tf << 32) | dl))
        batch = pa.RecordBatch.from_pydict({
            "term_id": [k[0] for k in rows],
            "chunk": [k[1] for k in rows],
            "docids": [[p[0] for p in v] for v in rows.values()],
            "tfdls": [[p[1] for p in v] for v in rows.values()],
        })
        tbl = pa.Table.from_batches(list(packer(iter([batch]))))
        out = tbl.to_pandas()
        assert (out["count"] <= BLOCK).all() and (out["count"] >= 1).all()
        assert out["block_id"].is_unique
        # block_id order IS docid order for a term (the kernels rely on it)
        assert out["block_id"].is_monotonic_increasing
        assert out["docid_first"].is_monotonic_increasing
        assert (out["docid_first"] <= out["docid_last"]).all()
        # chunk-locality: first/last docid of every block in the block's chunk
        chunk_of = out["block_id"] // (CHUNK_SPAN // BLOCK + 1)
        assert ((out["docid_first"] // CHUNK_SPAN) == chunk_of).all()
        assert ((out["docid_last"] // CHUNK_SPAN) == chunk_of).all()
        # the flattened blocks reassemble the exact input postings
        d, tfs, dls, counts = C.decode_arrow(tbl)
        starts = C.segment_starts(counts)
        assert (d[starts] == out["docid_first"]).all()
        assert (d[starts + counts - 1] == out["docid_last"]).all()
        assert (np.diff(d) > 0).all()  # strictly increasing docids
        assert list(zip(d.tolist(), tfs.tolist(), dls.tolist())) == postings

    check()


def test_bench_interleaved_medians_per_workload():
    """bench.py's scaling block must aggregate per workload size, restrict to
    the current engine fingerprint, and report both the raw and the
    envelope-normalized medians (a last-run-wins summary could lead the BENCH
    artifact with one contended window's numbers)."""
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "bench_mod", os.path.join(os.path.dirname(__file__), "..", "bench.py"))
    bench_mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench_mod)

    def run(docs, eng, raw_b, raw_q, norm_b=None, norm_q=None, proto="interleaved"):
        return {
            "protocol": proto, "docs": docs,
            "config_fp": f"proto={proto}|mode=local|eng={eng}|aqe=off",
            "pairs": {"2->8": {
                "build_scaling_efficiency": raw_b,
                "query_scaling_efficiency": raw_q,
                "build_eff_envelope_normalized": norm_b,
                "query_eff_envelope_normalized": norm_q,
            }},
        }

    runs = [
        run(100000, "r5c", 0.6, 0.7, 0.7, 0.8),
        run(100000, "r5c", 0.8, 0.9, 0.9, 1.0),
        run(100000, "r5c", 0.7, 0.8, None, None),   # None never pools
        run(100000, "r5b", 0.1, 0.1, 0.1, 0.1),     # other engine: excluded
        run(400000, "r5c", 0.5, 0.8, 0.6, 0.9),
        run(100000, "r5c", 0.2, 0.2, proto="bestof"),  # other protocol: excluded
        # invalid measurement (concurrent job on the box): excluded
        dict(run(400000, "r5c", 0.1, 0.1, 0.1, 0.1),
             contaminated="another bench ran concurrently"),
    ]
    out = bench_mod._interleaved_medians(runs)
    assert set(out) == {"100k", "400k"}
    assert out["100k"]["n_runs"] == 3
    assert out["100k"]["build_eff_median_raw"] == 0.7
    assert out["100k"]["query_eff_median_raw"] == 0.8
    # normalized medians skip the run that carries no envelope
    assert out["100k"]["build_eff_median_envnorm"] == 0.8
    assert out["100k"]["query_eff_median_envnorm"] == 0.9
    assert out["400k"] == {
        "n_runs": 1, "build_eff_median_raw": 0.5, "query_eff_median_raw": 0.8,
        "build_eff_median_envnorm": 0.6, "query_eff_median_envnorm": 0.9}
