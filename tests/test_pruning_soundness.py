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
import pyarrow as pa
import pytest

from pyterrier_pisa_spark.operators.wand import TaskBlocks, _taat_score


def _block(block_id, docids, tfs, bmax):
    """One block row in the postings layout; float tfs carry the partials."""
    docids = [int(d) for d in docids]
    return {
        "block_id": block_id,
        "count": len(docids),
        "docid_first": docids[0],
        "docid_last": docids[-1],
        "block_max_score": float(bmax),
        "docids_delta": [d - docids[0] for d in docids],
        "tfs": [float(t) for t in tfs],
        "doclens": [0.0] * len(docids),
    }


def _run(terms, by_term, k=1, use_block_max=True):
    """``by_term``: term_id -> block rows, flattened by the kernel's helper."""
    rows = [{"term_id": tid, **b} for tid, blocks in by_term.items() for b in blocks]
    partial = lambda tf, dl, st: tf - 10.0  # partial encoded as tf-10  # noqa: E731
    return _taat_score(terms, TaskBlocks(pa.Table.from_pylist(rows)), partial, k,
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
        1: [_block(0, [1], [12.0], 2.0), _block(1, [9], [11.5], 1.5)],
        2: [_block(0, [1], [8.1], -1.9), _block(1, [9], [9.9], -0.1)],
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
        1: [_block(0, [1, 2], [15.0, 14.0], 5.0),
            _block(1, [8, 9], [11.0, 10.5], 1.0)],
        2: [_block(0, [2], [13.0], 3.0)],
    }
    terms = _terms([(1, 1.0, 5.0, 0.5), (2, 1.0, 3.0, 3.0)])
    acc_d, acc_s = _run(terms, by_term, k=1)
    got = {int(d): float(s) for d, s in zip(acc_d, acc_s)}
    top = max(got.items(), key=lambda kv: kv[1])
    assert top == (2, pytest.approx(4.0 + 3.0))


@pytest.mark.parametrize("spec", [
    [(1, 1.0, 5.0, 5.0)],
    [(1, 1.0, 5.0, 5.0), (2, 1.0, 1.0, 1.0)],
])
def test_block_input_order_does_not_change_results(spec):
    """A term's blocks reach a task in any order (its docid chunks hash to
    different partitions). Term 1 spans three chunks of float32-tied scores
    (5.0 and 5.0 + 1e-9); term 2 lifts doc 203 by 1.0 from a block that only
    the accumulator maximum over docs 200..203 keeps from being skipped at
    k=2. Forward and reversed row order must give the same top-k: the
    smallest tied docids at the boundary, and doc 203 first when term 2
    counts."""
    from pyterrier_pisa_spark.operators.wand import _topk_select

    def chunk(block_id, first):
        docs = range(first, first + 4)
        return _block(block_id, docs, [15.0, 15.0 + 1e-9, 15.0, 15.0 + 1e-9], 5.0)

    by_term = {1: [chunk(0, 0), chunk(1, 100), chunk(2, 200)],
               2: [_block(0, [203], [11.0], 1.0)]}
    terms = _terms(spec)
    rows = [{"term_id": tid, **b} for tid, blocks in by_term.items() for b in blocks]
    partial = lambda tf, dl, st: tf - 10.0  # noqa: E731
    got = []
    for order in (rows, rows[::-1]):
        blocks = TaskBlocks(pa.Table.from_pylist(order))
        acc_d, acc_s = _taat_score(terms, blocks, partial, 2,
                                   conjunctive=False, use_block_max=True)
        d, s = _topk_select(acc_d, acc_s, 2)
        got.append((d.tolist(), s.tolist()))
    assert got[0] == got[1]
    assert got[0][0] == ([203, 0] if len(spec) == 2 else [0, 1])


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
