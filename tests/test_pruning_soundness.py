"""Pruning soundness for scorers with NEGATIVE per-posting partials
(qld's log(mu/(dl+mu)) term is always negative; pl2/dph can go negative).

Classic WAND/MaxScore assumes monotone accumulation: theta (the current
kth-best accumulated score) is a lower bound on the final kth-best score,
so any block bounded below theta is skippable. With negative partials later
terms SUBTRACT from the current leaders, so theta can overestimate the final
kth-best and a skipped block can contain the true top document.

Sound skip rule implemented in ``wand._taat_score``:

    max(0, qw*block_bound) + max(acc_max, 0) + rest_ub < theta + neg_rest

where ``neg_rest[i] = sum_{j>=i} min(0, qw_j * min_score_j)`` lowers theta by
the worst possible remaining negative contribution (per-term min partials
come from the scorer-keyed term-stats cache beside the maxima), and the
block bound is clamped at 0 so a doc's reported score (which omits skipped
negative contributions) can never beat the reported kth-best.

These tests reproduce the failure deterministically at the kernel level and
end-to-end (advice repro: exhaustive top-1 doc 9 @ 5.0-ish vs pruned
returning a stale leader with an inflated score)."""

import numpy as np
import pandas as pd
import pytest

from pyterrier_pisa_spark.operators.codec import decode_frame
from pyterrier_pisa_spark.operators.wand import _taat_score


def _block(block_id, docids, tfs, bmax):
    """One block row in the postings layout; float tfs carry the partials."""
    docids = np.asarray(docids, dtype=np.int64)
    return {
        "block_id": block_id,
        "count": len(docids),
        "docid_first": int(docids[0]),
        "docid_last": int(docids[-1]),
        "block_max_score": float(bmax),
        "docids_delta": docids - docids[0],
        "tfs": np.asarray(tfs, dtype=np.float64),
        "doclens": np.zeros(len(docids), dtype=np.float64),
    }


def _run(terms, by_term, k=1, use_block_max=True):
    partial = lambda tf, dl, st: tf - 10.0  # partial encoded as tf-10  # noqa: E731
    return _taat_score(terms, by_term, partial, decode_frame, k,
                       conjunctive=False, use_block_max=use_block_max)


def _terms(spec):
    """spec: list of (tid, qw, max_score, min_score) -> kernel tuples
    (tid, qw, stat, max_score, block_scale, min_score), ms-desc sorted."""
    out = [(tid, qw, 0.0, ms, 1.0, mn) for (tid, qw, ms, mn) in spec]
    out.sort(key=lambda t: -t[3])
    return out


def test_negative_partials_block_skip_is_sound():
    """Advice repro: theta from term A's leaders is NOT a lower bound on the
    final kth score when term B subtracts. Old rule skipped BOTH of term B's
    blocks and returned doc 1 @ 2.0; true top-1 is doc 9 @ 1.4."""
    # term 1: doc1 -> +2.0, doc9 -> +1.5 (encoded as tf-10)
    # term 2: doc1 -> -1.9, doc9 -> -0.1
    by_term = {
        1: pd.DataFrame([_block(0, [1], [12.0], 2.0),
                         _block(1, [9], [11.5], 1.5)]),
        2: pd.DataFrame([_block(0, [1], [8.1], -1.9),
                         _block(1, [9], [9.9], -0.1)]),
    }
    terms = _terms([(1, 1.0, 2.0, 1.5), (2, 1.0, -0.1, -1.9)])
    acc_d, acc_s = _run(terms, by_term, k=1)
    got = {int(d): float(s) for d, s in zip(acc_d, acc_s)}
    # doc9 must be scored EXACTLY (1.5 - 0.1): its negative block may not be
    # skipped, else it reports an inflated 1.5 or vanishes entirely
    assert got.get(9) == pytest.approx(1.4)
    top = max(got.items(), key=lambda kv: kv[1])
    assert top == (9, pytest.approx(1.4))
    # and doc1's own negative block may not be skipped either (score 0.1)
    assert got.get(1) == pytest.approx(0.1)


def test_nonnegative_scorer_still_prunes():
    """With all-positive partials (bm25-like) the sound rule degenerates to
    the classic one: blocks provably below theta are still skipped (we can't
    observe the skip directly, but results stay exact)."""
    by_term = {
        1: pd.DataFrame([_block(0, [1, 2], [15.0, 14.0], 5.0),
                         _block(1, [8, 9], [11.0, 10.5], 1.0)]),
        2: pd.DataFrame([_block(0, [2], [13.0], 3.0)]),
    }
    terms = _terms([(1, 1.0, 5.0, 0.5), (2, 1.0, 3.0, 3.0)])
    acc_d, acc_s = _run(terms, by_term, k=1)
    got = {int(d): float(s) for d, s in zip(acc_d, acc_s)}
    top = max(got.items(), key=lambda kv: kv[1])
    assert top == (2, pytest.approx(4.0 + 3.0))


def test_batch_kernel_partial_trailing_term_block():
    """make_batch_kernel must clamp the LAST term-row block: when the dense
    budget makes t_block < n_terms with a remainder, Qw[:, t0:t1] clips to
    the matrix edge while M used to stay t_block rows -> matmul ValueError.
    dense_cells=1 forces t_block=1 over 3 terms (remainder path exercised
    for every block)."""
    from pyterrier_pisa_spark.operators.wand import make_batch_kernel

    qinfo = {"q1": [(1, 1.0, 0.0, 3.0, 1.0, 0.0),
                    (2, 1.0, 0.0, 2.0, 1.0, 0.0),
                    (3, 1.0, 0.0, 1.0, 1.0, 0.0)]}
    partial = lambda tf, dl, st: tf  # noqa: E731
    kernel = make_batch_kernel(qinfo, partial, k=10, chunk_span=100,
                               dense_cells=1)
    rows = []
    for tid, docids, tfs in [(1, [1, 2], [1.0, 2.0]),
                             (2, [2, 3], [4.0, 8.0]),
                             (3, [1, 3], [16.0, 32.0])]:
        b = _block(0, docids, tfs, max(tfs))
        b["term_id"] = tid
        b["chunk"] = 0
        rows.append(b)
    out = kernel(pd.DataFrame(rows))
    got = dict(zip(out["docid"].astype(int), out["score"]))
    assert got == {1: pytest.approx(17.0), 2: pytest.approx(6.0),
                   3: pytest.approx(40.0)}


def test_empty_match_result_schema(spark, tmp_path):
    """No query term in the lexicon: the empty result must carry the same
    schema as a non-empty one for the same flags (query column present when
    include_query=True; double score when cast_float32=False)."""
    from pyterrier_pisa_spark.operators.wand import (retrieve_blockmax,
                                                     retrieve_blockmax_batch)
    from pyterrier_pisa_spark.sources.corpus import synth_code_corpus
    from pyterrier_pisa_spark.sources.index_store import build_index, load_index

    path = str(tmp_path / "emptyidx")
    corpus = synth_code_corpus(spark, num_docs=30, seed=5)
    build_index(corpus, path, stemmer="none", mode="overwrite")
    idx = load_index(spark, path)
    nomatch = [("q1", "zzzznotaterm qqqqnope")]
    for fn in (retrieve_blockmax, retrieve_blockmax_batch):
        res = fn(idx, nomatch, include_query=True, cast_float32=False)
        assert res.columns == ["qid", "query", "docid", "docno", "score", "rank"]
        assert dict(res.dtypes)["score"] == "double"
        assert res.count() == 0
        # and the flags-off shape
        res2 = fn(idx, nomatch, include_query=False, cast_float32=True)
        assert res2.columns == ["qid", "docid", "docno", "score", "rank"]
        assert dict(res2.dtypes)["score"] == "float"


def test_qld_pruned_matches_exhaustive_when_pruning_engages(spark, tmp_path):
    """End-to-end guard: qld (always-negative doclen component) at small k on
    a corpus large enough that pruning genuinely engages must stay rank- and
    score-identical to the exhaustive plan."""
    import random

    from pyterrier_pisa_spark.operators.wand import retrieve_blockmax
    from pyterrier_pisa_spark.plans.pipeline import retrieve
    from pyterrier_pisa_spark.sources.index_store import build_index, load_index

    rng = random.Random(99)
    vocab = [f"w{i}" for i in range(40)]
    # skewed doc lengths -> wide spread of the negative qld doclen term
    docs = [(f"d{i}", " ".join(rng.choices(vocab, k=rng.choice([2, 5, 40, 120]))))
            for i in range(800)]
    corpus = spark.createDataFrame(docs, schema="docno string, content string")
    path = str(tmp_path / "qldidx")
    build_index(corpus, path, stemmer="none", block_size=16, chunk_span=64,
                mode="overwrite")
    idx = load_index(spark, path)
    queries = [("q1", "w0 w1"), ("q2", "w2 w3 w4 w5"), ("q3", "w39 w38 w1")]
    for scorer in ("qld", "pl2", "dph"):
        exh = retrieve(idx.as_logical(), queries, scorer=scorer, k=3,
                       include_query=False).toPandas()
        per_q = retrieve_blockmax(idx, queries, scorer=scorer, k=3,
                                  include_query=False).toPandas()
        exh = exh.sort_values(["qid", "rank"]).reset_index(drop=True)
        per_q = per_q.sort_values(["qid", "rank"]).reset_index(drop=True)
        assert per_q["docid"].tolist() == exh["docid"].tolist(), scorer
        np.testing.assert_allclose(per_q["score"], exh["score"], rtol=1e-5)
