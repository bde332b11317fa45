"""Block-max / max-score pruned retrieval kernels (reference R7/R8/R9:
``wand``, ``block_max_wand``, ``maxscore``, ``ranked_or_taat``,
``_pisathon.cpp:296-354``) re-designed for Spark's execution model.

Every scorer (bm25/dph/pl2/qld/quantized) runs under every kernel — the
reference's variants matrix contract (``tests/test_variants.py:7-28``).
Scoring arithmetic comes from one registry (``score.np_partial_fn``), the
same formulas as the exhaustive Column plan, so pruned results are rank- AND
score-identical to the exhaustive oracle.

Two kernels, both operating on the packed 128-posting block table:

PER-QUERY (``retrieve_blockmax``) — the reference's own parallelism model
(R15, ``_pisathon.cpp:442-545``): candidate blocks are partitioned by
(qid, task_group) — task_group hashes the block's docid chunk — so ONE
query's postings spread over MANY tasks (no hot-query OOM: a web-scale term's
posting list never lands in a single pandas partition). Each task runs
threshold-pruned TAAT over its block subset and emits a local top-k; a
window keeps the global top-k (exact: every global top-k doc survives its
task's local top-k).

    Pruning inside a task: terms in descending max_score order, threshold
    θ = kth-best accumulated score, block skipped iff
        qw*block_bound + max(acc_max_in_block_range, 0) + rest_ub < θ
    where block_bound is the STORED per-block max when the index was built
    for this (scorer, params) — true block-max WAND — else the term-level
    max_score (max-score algorithm). rest_ub clamps per-term bounds at 0, so
    the bound stays valid for scorers with negative partials (qld/pl2/dph).

BATCH (``retrieve_blockmax_batch``) — throughput mode: blocks partitioned by
docid chunk group, each task scores ALL queries against its chunks with a
DENSE accumulator (TAAT, R9): each term's blocks are decoded + scored ONCE
per task (partials are query-independent), then per-query accumulation is
fancy-indexing. Blocks shuffle ONCE for the whole batch.

``batch_groups`` (the task-group count both modes key on) is derived from
index size at BUILD time and recorded in meta — work stays invariant across
cluster sizes (scaling comparability) while parallelism grows with data.

Term max-scores per (scorer, params) come from the index's scorer-keyed
cache (``index_store.ensure_term_stats``), mirroring the reference's WAND
data files (``_pisathon.cpp:229-255``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.stopwords import DEFAULT_STOPWORDS
from . import codec as C
from . import score as S
from .retrieve import (DEFAULT_NUM_RESULTS, QTERMS_SCHEMA, QUERIES_SCHEMA,
                       local_relation)


def _merge_acc(acc_d, acc_s, new_d, new_s):
    """Merge sorted (docid, score) accumulators (TAAT accumulation)."""
    if acc_d.size == 0:
        return new_d, new_s
    if new_d.size == 0:
        return acc_d, acc_s
    all_d = np.concatenate([acc_d, new_d])
    all_s = np.concatenate([acc_s, new_s])
    uniq, inv = np.unique(all_d, return_inverse=True)
    out = np.zeros(uniq.size, dtype=np.float64)
    np.add.at(out, inv, all_s)
    return uniq, out


def _taat_score(terms, by_term, partial, decode, k, conjunctive, use_block_max):
    """Shared TAAT core: terms = [(term_id, qweight, stat, max_score,
    block_scale, min_score)] sorted by max_score desc, over per-term block
    frames -> (docids, scores) — exact: only docs provably outside any
    possible top-k are skipped. ``decode(frame)`` returns the frame's
    (docids, tfs, doclens), e.g. ``codec.decode_frame``.

    ``partial(tf, dl, stat)`` is the scorer's vectorized per-posting partial.
    ``use_block_max``: trust block_scale * stored per-block max as the block
    bound (block_scale reconstructs the absolute bound — idf for 'bm25_rest'
    indexes, 1.0 for 'absolute'); otherwise bound each block by the
    term-level max_score (max-score pruning).

    SOUNDNESS with negative partials (qld's doclen term is always negative;
    pl2/dph can be): theta = kth-best accumulated score is NOT a lower bound
    on the final kth-best when remaining terms can subtract. Two guards make
    the skip rule exact for any scorer:
    - theta is lowered by ``neg_rest[i] = sum_{j>=i} min(0, qw_j*min_j)``,
      the worst possible remaining negative contribution: at least k docs
      (the current leaders) finish >= theta + neg_rest[i], so that IS a
      lower bound on the final (reported) kth-best;
    - the block bound is clamped at 0, so a doc in a skipped block — whose
      reported score omits the skipped (possibly negative) contribution and
      every unprocessed term's bound — still reports < theta + neg_rest[i]
      and can never displace a leader. Docs that DO reach the top-k
      therefore had no skipped blocks: reported scores are exact."""
    # per-term upper bounds clamped at 0: a doc unmatched by a remaining term
    # gains 0 from it, so negative maxima (possible for qld/pl2/dph) must not
    # lower the remaining-terms bound
    ubs = np.array([max(0.0, qw * ms) for (_, qw, _, ms, _, _) in terms], dtype=np.float64)
    negs = np.array([min(0.0, qw * mn) for (_, qw, _, _, _, mn) in terms], dtype=np.float64)
    can_prune = not conjunctive
    rest_ub = np.concatenate([np.cumsum(ubs[::-1])[::-1][1:], [0.0]])
    neg_rest = np.cumsum(negs[::-1])[::-1]  # includes term i itself

    acc_d = np.empty(0, dtype=np.int64)
    acc_s = np.empty(0, dtype=np.float64)
    nmatch_d = acc_d
    nmatch_c = np.empty(0, dtype=np.int64)
    theta = -np.inf

    for i, (tid, qw, st, ms, bscale, _mn) in enumerate(terms):
        grp = by_term.get(int(tid))
        if grp is None:
            continue
        # theta/acc are frozen across a term's blocks (the accumulator merge
        # happens after the term), so the skip test VECTORIZES over blocks
        if can_prune and acc_d.size >= k and theta > -np.inf:
            lo = np.searchsorted(acc_d, grp["docid_first"].to_numpy(np.int64), "left")
            hi = np.searchsorted(acc_d, grp["docid_last"].to_numpy(np.int64), "right")
            bounds = (bscale * grp["block_max_score"].to_numpy(np.float64)
                      if use_block_max else np.full(len(grp), ms))
            acc_maxes = np.zeros(len(grp), dtype=np.float64)
            for j in np.flatnonzero(hi > lo):  # slice-max only; no decode
                acc_maxes[j] = acc_s[lo[j]:hi[j]].max()
            keep = ~(np.maximum(qw * bounds, 0.0) + np.maximum(acc_maxes, 0.0)
                     + rest_ub[i] < theta + neg_rest[i])
            if not keep.all():
                grp = grp[keep]
        if len(grp):
            # surviving blocks decode in ONE segment-batched pass
            new_d, tf, dl = decode(grp)
            new_s = qw * partial(tf, dl, float(st))
            acc_d, acc_s = _merge_acc(acc_d, acc_s, new_d, new_s)
            if conjunctive:
                nmatch_d, nmatch_c = _merge_acc(
                    nmatch_d, nmatch_c.astype(np.float64), new_d, np.ones(new_d.size)
                )
                nmatch_c = nmatch_c.astype(np.int64)
        if can_prune and acc_s.size >= k:
            kth = np.partition(acc_s, acc_s.size - k)[acc_s.size - k]
            # final ranking is at float32 granularity: a doc whose double
            # score is below kth but float32-ties it can still enter the
            # top-k via the docid tie-break, so the pruning threshold must
            # drop to the float32 bucket boundary below kth (conservative —
            # only reduces skipping, never excludes a potential winner)
            theta = float(np.nextafter(np.float32(kth), np.float32(-np.inf)))

    if conjunctive and acc_d.size:
        keep = nmatch_c >= len(terms)
        acc_d, acc_s = acc_d[keep], acc_s[keep]
    return acc_d, acc_s


def _topk_frame(qid, acc_d, acc_s, k):
    kk = min(k, acc_d.size)
    # top-k with (float32(score) DESC, docid ASC): ranking is at float32
    # granularity engine-wide (see retrieve.topk) so summation-order ulp
    # noise ties break by docid identically across engines
    order = np.lexsort((acc_d, -acc_s.astype(np.float32)))[:kk]
    return pd.DataFrame({
        "qid": qid,
        "docid": acc_d[order],
        "score": acc_s[order],
        "rank": np.arange(kk, dtype=np.int32),
    })


def _empty_frame():
    return pd.DataFrame({"qid": pd.Series(dtype=object),
                         "docid": pd.Series(dtype=np.int64),
                         "score": pd.Series(dtype=np.float64),
                         "rank": pd.Series(dtype=np.int32)})


def make_query_kernel(qinfo: dict, partial, k: int,
                      conjunctive: bool = False, use_block_max: bool = True):
    """Per-(qid, task_group) applyInPandas kernel. ``qinfo``: qid -> list of
    (term_id, qweight, stat, max_score), sorted by max_score desc. Emits the
    group's LOCAL top-k; the caller's window merges groups.

    Conjunctive queries can only run per-group because a doc's postings for
    ALL terms live in the same chunk (build contract) and a chunk maps to one
    group — per-group nmatch counts are therefore complete."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return _empty_frame()
        qid = pdf["qid"].iloc[0]
        terms = qinfo.get(qid)
        if not terms:
            return _empty_frame()
        by_term = {int(tid): grp.sort_values("block_id")
                   for tid, grp in pdf.groupby("term_id")}
        acc_d, acc_s = _taat_score(terms, by_term, partial, C.decode_frame, k,
                                   conjunctive, use_block_max)
        if acc_d.size == 0:
            return _empty_frame()
        return _topk_frame(qid, acc_d, acc_s, k)

    return kernel


def make_batch_kernel(qinfo: dict, partial, k: int, chunk_span: int,
                      conjunctive: bool = False, query_block: int = 64,
                      dense_cells: int = 8 << 20, n_qgroups: int = 1,
                      emit_rank: bool = False):
    """Kernel for the docid-partitioned BATCH mode: each task holds one chunk
    group's blocks (every block lies entirely inside one chunk by build
    contract) and scores ALL queries against them.

    Vectorization (the reference's ranked_or_taat dense-accumulator idea, R9,
    lifted to a whole query batch):
    - per-posting partials are query-INDEPENDENT: each term's blocks are
      decoded + scored ONCE per task;
    - per chunk, the partials form a compact (terms x matched-docs) matrix M
      (columns = the union of docids matched by any query term, NOT the full
      chunk span) plus a 0/1 presence matrix P;
    - the whole query batch scores as ONE pair of BLAS matmuls per query
      block: scores = Qw @ M, match-counts = Qinc @ P — no per-query Python
      loop over accumulators. ``query_block`` bounds the dense scores slab to
      query_block x matched_docs.

    Emits local top-k per (task, query) as ONE DataFrame per task; the global
    window keeps the true top-k (exact: a doc in the global top-k is
    necessarily in its task's local top-k, under the same float32-granularity
    ordering).

    ``n_qgroups`` > 1 adds a QUERY-group task dimension for indexes whose
    chunk count is below the shuffle width (small/mid corpora: every doc in
    one chunk => the whole batch otherwise runs as ONE task): each task
    scores the query subset ``qidx % n_qgroups == qgrp`` against its chunks.
    Exact by construction — every (query, doc) pair is still scored in
    exactly one task (a doc's chunk x the query's group), so the local top-k
    / global window merge is unchanged."""
    tid_stat = {}
    for terms in qinfo.values():
        for (tid, _qw, st, *_rest) in terms:
            tid_stat[int(tid)] = float(st)
    tid_list = sorted(tid_stat)
    tid_row = {tid: i for i, tid in enumerate(tid_list)}
    n_terms = len(tid_list)
    qids = list(qinfo)
    # query-term weight / incidence matrices (built once per task closure)
    Qw = np.zeros((len(qids), n_terms), dtype=np.float64)
    need = np.empty(len(qids), dtype=np.int32)
    for qi, qid in enumerate(qids):
        for (tid, qw, *_rest) in qinfo[qid]:
            Qw[qi, tid_row[int(tid)]] = qw
        need[qi] = len(qinfo[qid]) if conjunctive else 1
    Qinc = (Qw != 0).astype(np.float64)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return _empty_frame()
        # query subset for this task (qgrp column present iff n_qgroups > 1)
        if n_qgroups > 1:
            qsel = np.arange(int(pdf["qgrp"].iloc[0]), len(qids), n_qgroups)
        else:
            qsel = np.arange(len(qids))
        if qsel.size == 0:
            return _empty_frame()
        Qw_s, Qinc_s, need_s = Qw[qsel], Qinc[qsel], need[qsel]
        nq = qsel.size
        # per-query candidate accumulation ACROSS the task's chunks, so each
        # query emits AT MOST k rows per task (not per chunk) — the local
        # top-k merges over chunks before anything is shuffled
        q_docids: list[list] = [[] for _ in range(nq)]
        q_scores: list[list] = [[] for _ in range(nq)]
        for chunk, cpdf in pdf.groupby("chunk"):
            base = int(chunk) * chunk_span
            # ALL of the chunk's blocks decode + score in ONE segment-batched
            # pass (partials are query-independent; stat vector is per-posting
            # via repeat, every np partial accepts array stats); a stable
            # argsort then groups the postings by term row — no per-block
            # Python loop anywhere on the decode path
            d_all, tf_all, dl_all = C.decode_frame(cpdf)
            counts = cpdf["count"].to_numpy(np.int64)
            d_all -= base
            row_trows = np.array([tid_row[int(t)] for t in cpdf["term_id"]],
                                 dtype=np.int64)
            stat_all = np.repeat(
                np.array([tid_stat[int(t)] for t in cpdf["term_id"]],
                         dtype=np.float64), counts)
            s_all = partial(tf_all, dl_all, stat_all)
            post_trow = np.repeat(row_trows, counts)
            order = np.argsort(post_trow, kind="stable")
            pt, pd_, ps = post_trow[order], d_all[order], s_all[order]
            cut = np.concatenate(([0], np.flatnonzero(np.diff(pt)) + 1, [pt.size]))
            span_rows = [(int(pt[cut[x]]), pd_[cut[x]:cut[x + 1]], ps[cut[x]:cut[x + 1]])
                         for x in range(cut.size - 1)]
            # compact columns: union of matched local docids in this chunk
            all_loc = np.unique(d_all)
            col_of = np.zeros(chunk_span, dtype=np.int64)
            col_of[all_loc] = np.arange(all_loc.size)
            ncols = all_loc.size
            # term-row blocking bounds the dense slab to ~64 MB (dense_cells
            # doubles) regardless of how many distinct terms the batch touches
            t_block = max(1, min(n_terms, dense_cells // max(1, ncols)))
            span_rows.sort(key=lambda r: r[0])
            docids = base + all_loc
            for q0 in range(0, nq, query_block):
                q1 = min(q0 + query_block, nq)
                S_blk = np.zeros((q1 - q0, ncols), dtype=np.float64)
                C_blk = np.zeros((q1 - q0, ncols), dtype=np.float64)
                si = 0
                while si < len(span_rows):
                    t0 = span_rows[si][0] // t_block * t_block
                    # clamp the LAST term block: t0+t_block can pass n_terms,
                    # and Qw[:, t0:t1] silently clips while M would not —
                    # matmul shape error on any partial trailing block
                    t1 = min(t0 + t_block, n_terms)
                    M = np.zeros((t1 - t0, ncols), dtype=np.float64)
                    P = np.zeros((t1 - t0, ncols), dtype=np.float64)
                    while si < len(span_rows) and span_rows[si][0] < t1:
                        trow, d, s = span_rows[si]
                        cols = col_of[d]
                        M[trow - t0, cols] = s
                        P[trow - t0, cols] = 1.0
                        si += 1
                    S_blk += Qw_s[q0:q1, t0:t1] @ M   # (blk x docs) scores
                    C_blk += Qinc_s[q0:q1, t0:t1] @ P  # (blk x docs) match counts
                for bi in range(q1 - q0):
                    qi = q0 + bi
                    sel = C_blk[bi] >= need_s[qi]
                    if not sel.any():
                        continue
                    loc = np.flatnonzero(sel)
                    sc = S_blk[bi, loc]
                    d = docids[loc]
                    if loc.size > k:
                        # TIE-AWARE float32-granularity cap (score desc,
                        # docid asc) — same ordering as _topk_frame
                        order = np.lexsort((d, -sc.astype(np.float32)))[:k]
                        d, sc = d[order], sc[order]
                    q_docids[qi].append(d)
                    q_scores[qi].append(sc.copy())
        # ONE output frame per group, and as NARROW as possible: the group
        # local top-ks are the query phase's only large Arrow transfer
        # (groups x queries x k rows), so qid travels as a small int index
        # (restored to the string after the global window) and no rank
        # column is emitted (the window recomputes it anyway)
        o_q, o_d, o_s, o_r = [], [], [], []
        for qi in range(nq):
            if not q_docids[qi]:
                continue
            d = np.concatenate(q_docids[qi])
            sc = np.concatenate(q_scores[qi])
            kk = min(k, d.size)
            order = np.lexsort((d, -sc.astype(np.float32)))[:kk]
            o_q.append(np.full(kk, qsel[qi], dtype=np.int32))
            o_d.append(d[order])
            o_s.append(sc[order])
            if emit_rank:  # single-task-per-query mode: local rank IS global
                o_r.append(np.arange(kk, dtype=np.int32))
        if not o_q:
            out = {"qidx": pd.Series(dtype=np.int32),
                   "docid": pd.Series(dtype=np.int64),
                   "score": pd.Series(dtype=np.float64)}
            if emit_rank:
                out["rank"] = pd.Series(dtype=np.int32)
            return pd.DataFrame(out)
        out = {
            "qidx": np.concatenate(o_q),
            "docid": np.concatenate(o_d),
            "score": np.concatenate(o_s),
        }
        if emit_rank:
            out["rank"] = np.concatenate(o_r)
        return pd.DataFrame(out)

    return kernel


def _query_plan_inputs(index, queries, k1, b, mu, c, scorer, stopwords,
                       queries_toks=None, toks_scale=100.0):
    """Shared prep for both kernels: parse queries, join lexicon + scorer-
    keyed max_scores, return (spark, qinfo, meta, resolved params).

    ``queries_toks`` = [(qid, {term: weight})] routes the PRETOKENIZED path
    (reference ``__init__.py:480-495`` + ``_pisathon.cpp:463-492``): weights
    scaled by ``toks_scale`` and truncated to int, NO stemming/stopwords."""
    from ..sources.index_store import driver_term_table, ensure_term_stats

    spark = index.docmap.sparkSession
    meta = index.meta
    k1 = meta["scorer"].get("k1", 0.9) if k1 is None else k1
    b = meta["scorer"].get("b", 0.4) if b is None else b

    if queries_toks is not None:
        from .retrieve import query_toks_rows

        rows = query_toks_rows(queries_toks, toks_scale=toks_scale)
    else:
        from .retrieve import query_term_rows

        rows = query_term_rows(queries, stemmer=meta.get("stemmer", "porter2"),
                               stopwords=stopwords)
    # qterms ⋈ lexicon ⋈ scorer term-stats: vocab-sized lexicons resolve
    # DRIVER-SIDE (pyarrow term table cached on the index — zero Spark jobs
    # per batch; the per-batch broadcast-join + collect job was a fixed
    # ~0.4 s of every retrieve call); above the gate the same lookup runs as
    # the original broadcast join (identical values)
    tbl = driver_term_table(index, scorer, k1, b, mu, c)
    if tbl is not None:
        import pandas as _pd

        pos = tbl["index"].get_indexer(_pd.Index([t for (_q, t, _w) in rows]))
        matched = [
            {"qid": qid, "term_id": tbl["term_id"][p], "qweight": qw,
             "stat": tbl["stat"][p], "ms": tbl["ms"][p], "mn": tbl["mn"][p]}
            for (qid, _t, qw), p in zip(rows, pos) if p >= 0
        ]
    else:
        qterms = local_relation(spark, rows, QTERMS_SCHEMA)
        stat_col = S.term_stat_col(scorer)
        ts = ensure_term_stats(index, scorer, k1=k1, b=b, mu=mu, c=c)
        lex = index.lexicon.select("term", "term_id", F.col(stat_col).alias("stat")).join(
            ts.withColumnRenamed("max_score", "ms").withColumnRenamed("min_score", "mn"),
            "term_id", "left"
        ).fillna({"ms": 0.0, "mn": 0.0})
        matched = (
            F.broadcast(qterms)
            .join(lex, "term")
            .select("qid", "term_id", "qweight", "stat", "ms", "mn")
            .collect()
        )
    partial = S.np_partial_fn(scorer, index.stats, k1, b, mu, c)
    # stored per-block maxima are trusted only when they were computed for
    # THIS (scorer, params): the build scorer (bm25 at build k1/b) or a
    # quantized index queried with the quantized scorer (block max == max
    # impact by construction)
    built = meta["scorer"].get("name", "bm25")
    use_block_max = (
        (scorer == "bm25" and built == "bm25"
         and k1 == meta["scorer"].get("k1") and b == meta["scorer"].get("b"))
        or (scorer == "quantized" and built == "quantized")
    )
    # block_scale reconstructs the ABSOLUTE block bound from the stored max:
    # 'bm25_rest' indexes store the df-independent rest factor -> scale by
    # the term's clamped idf; 'absolute' (quantized / legacy) -> 1.0
    rest_kind = use_block_max and meta.get("block_max_kind") == "bm25_rest"
    num_docs = float(index.stats["num_docs"])

    def _bscale(df_: float) -> float:
        if not rest_kind:
            return 1.0
        import math
        return max(S.IDF_EPS, math.log((num_docs - df_ + 0.5) / (df_ + 0.5)))

    qinfo: dict[str, list] = {}
    for r in matched:
        df_ = float(r["stat"])
        qinfo.setdefault(r["qid"], []).append(
            (int(r["term_id"]), float(r["qweight"]), df_, float(r["ms"]),
             _bscale(df_), float(r["mn"]))
        )
    for qid in qinfo:
        qinfo[qid].sort(key=lambda t: -t[3])
    return spark, qinfo, partial, use_block_max


def _finalize_blockmax(spark, index, local: DataFrame, queries, k,
                       include_query, cast_float32,
                       local_is_global: bool = False) -> DataFrame:
    """Local per-group top-ks -> global window top-k -> docno decode.

    ``local_is_global``: the caller proved every query's candidates land in
    ONE kernel task (single-docid-chunk index), so the kernel's local top-k
    IS the global top-k with identical (float32 score DESC, docid ASC) ranks
    — the window merge (one full exchange) is skipped outright (guide §2.4).

    The docno decode join picks its broadcast side from the corpus size
    (``decode_docnos``): small docmaps broadcast (probe builds concurrently
    with the top-k subtree); corpus-sized docmaps stream against the bounded
    broadcast top-k — never shuffled, never mis-chosen by a size estimate
    (guide §3.1)."""
    from ..operators.retrieve import decode_docnos
    from ..operators.retrieve import topk as _topk_plan

    top = local if local_is_global else _topk_plan(local.drop("rank"), k)
    out = decode_docnos(top, index.docmap, index.stats.get("num_docs"))
    # reference pins float32 result dtype (__init__.py:500-503); keep double
    # when the caller compares against a double-precision oracle
    score_col = F.col("score").cast("float").alias("score") if cast_float32 else F.col("score")
    if include_query:
        qdf = local_relation(spark, queries, QUERIES_SCHEMA)
        out = out.join(F.broadcast(qdf), "qid")
        return out.select("qid", "query", "docid", "docno", score_col, "rank")
    return out.select("qid", "docid", "docno", score_col, "rank")


def _empty_result(spark, include_query: bool = True,
                  cast_float32: bool = True) -> DataFrame:
    """Zero-row result with EXACTLY the schema `_finalize_blockmax` emits for
    the same flags — the no-term-matches edge case must union/select cleanly
    against non-empty results downstream."""
    q = "query string, " if include_query else ""
    s = "float" if cast_float32 else "double"
    return local_relation(
        spark, [], f"qid string, {q}docid long, docno string, score {s}, rank int")


def _single_chunk(index, chunk_span: int) -> bool:
    """True when every docid lies in chunk 0, proven by the ``max_docid``
    the build stamps into meta. A count proves nothing: streamed indexes
    keep hashed docids far above ``num_docs``. Indexes without the stamp
    take the window merge."""
    mx = index.meta.get("max_docid")
    return mx is not None and int(mx) < int(chunk_span)


def _chunk_count(index, chunk_span: int) -> int:
    """Docid chunks the index spans, from the same ``max_docid`` stamp (a
    streamed index's hashed ids spread over many chunks); inferred from the
    doc count only for indexes without the stamp."""
    mx = index.meta.get("max_docid")
    if mx is not None:
        return int(mx) // int(chunk_span) + 1
    return max(1, -(-int(index.stats["num_docs"]) // chunk_span))


def _with_task_group(index, tids) -> tuple[DataFrame, int]:
    """Candidate blocks for the query terms, tagged with their docid-chunk
    task group. The isin filter reaches the parquet scan (row-group min/max
    pruning on the range-partitioned postings files)."""
    meta = index.meta
    chunk_span = meta.get("chunk_span", 1 << 16)
    n_groups = int(meta.get("batch_groups", 32))
    cand = index.blocks.filter(F.col("term_id").isin(tids)).withColumn(
        "chunk", (F.col("docid_first") / F.lit(chunk_span)).cast("long")
    ).withColumn("task_group", F.pmod(F.col("chunk"), F.lit(n_groups)))
    return cand, chunk_span


def retrieve_blockmax(
    index,  # PersistedIndex
    queries: list[tuple[str, str]] | None,
    k: int = DEFAULT_NUM_RESULTS,
    scorer: str = "bm25",
    stopwords=DEFAULT_STOPWORDS,
    conjunctive: bool = False,
    include_query: bool = True,
    cast_float32: bool = True,
    k1: float | None = None,
    b: float | None = None,
    mu: float = 1000.0,
    c: float = 1.0,
    queries_toks: list[tuple[str, dict]] | None = None,
    toks_scale: float = 100.0,
) -> DataFrame:
    """Pruned top-k retrieval over a persisted block index, any scorer.
    Returns (qid[, query], docid, docno, score, rank) — rank- and
    score-identical to the exhaustive plan. Pass ``queries_toks``
    ([(qid, {term: weight})]) instead of ``queries`` for the pretokenized
    (learned-sparse) path — no query string exists there, so the query
    column is omitted.

    Parallelism: (qid, task_group) — a query's candidate blocks spread over
    up to ``batch_groups`` tasks, each pruning independently and emitting a
    local top-k (no single-task hot-query bottleneck)."""
    if queries_toks is not None:
        include_query = False
    spark, qinfo, partial, use_block_max = _query_plan_inputs(
        index, queries, k1, b, mu, c, scorer, stopwords,
        queries_toks=queries_toks, toks_scale=toks_scale)

    tid_qids: list[tuple[int, str]] = []
    for qid, terms in qinfo.items():
        for (tid, *_rest) in terms:
            tid_qids.append((tid, qid))
    if not tid_qids:
        return _empty_result(spark, include_query, cast_float32)
    # term -> qid tags: a driver-built Arrow LocalRelation (see
    # ``retrieve.local_relation``), broadcast without a Python worker
    tq = local_relation(spark, tid_qids, "term_id long, qid string")

    tids = sorted({tid for tid, _ in tid_qids})
    cand, _span = _with_task_group(index, tids)
    cand = cand.join(F.broadcast(tq), "term_id").select(
        "qid", "task_group", "term_id", "block_id", "count", "docid_first",
        "docid_last", "block_max_score", "docids_delta", "tfs", "doclens"
    )
    kernel = make_query_kernel(qinfo, partial, k, conjunctive=conjunctive,
                               use_block_max=use_block_max)
    # explicit repartition on the group keys: satisfies the groupBy's
    # distribution (no second exchange) AND is exempt from AQE partition
    # coalescing, which would otherwise fold a few-MB candidate shuffle into
    # ONE task and serialize the whole kernel phase; sized by the session's
    # shuffle-partitions knob (cluster-size-invariant task structure)
    from .retrieve import shuffle_parts

    local = cand.repartition(shuffle_parts(spark), "qid", "task_group").groupBy(
        "qid", "task_group").applyInPandas(
        kernel, schema="qid string, docid long, score double, rank int"
    )
    # single-chunk index => a query's candidates all share task_group 0: the
    # kernel's local top-k (already ranked under the engine-wide order) IS
    # the global answer — skip the window merge exchange (guide §2.4)
    return _finalize_blockmax(spark, index, local, queries, k, include_query,
                              cast_float32,
                              local_is_global=_single_chunk(index, _span))


def retrieve_blockmax_batch(
    index,  # PersistedIndex
    queries: list[tuple[str, str]] | None,
    k: int = DEFAULT_NUM_RESULTS,
    scorer: str = "bm25",
    stopwords=DEFAULT_STOPWORDS,
    conjunctive: bool = False,
    include_query: bool = True,
    cast_float32: bool = True,
    k1: float | None = None,
    b: float | None = None,
    mu: float = 1000.0,
    c: float = 1.0,
    queries_toks: list[tuple[str, dict]] | None = None,
    toks_scale: float = 100.0,
) -> DataFrame:
    """Batch-throughput retrieval, any scorer: partition the candidate blocks
    by chunk task group and score the whole query batch inside each task with
    a dense accumulator, then keep the global top-k per query with a window.

    vs ``retrieve_blockmax`` (per-query fan-out): candidate blocks are
    shuffled ONCE for the whole batch instead of once per query — the right
    plan when many queries share hot terms (batch analytics / evaluation
    runs). Per-chunk conjunctive filtering stays exact because every posting
    of docid d (any term) lives in chunk(d) by the build contract.
    Results are rank- and score-identical to the exhaustive plan."""
    if queries_toks is not None:
        include_query = False
    spark, qinfo, partial, _ubm = _query_plan_inputs(
        index, queries, k1, b, mu, c, scorer, stopwords,
        queries_toks=queries_toks, toks_scale=toks_scale)
    tids = sorted({t[0] for terms in qinfo.values() for t in terms})
    if not tids:
        return _empty_result(spark, include_query, cast_float32)

    cand, chunk_span = _with_task_group(index, tids)
    # QUERY-group dimension when the corpus has fewer docid chunks than the
    # shuffle width (small/mid corpora: every doc lives in chunk 0 and the
    # dense batch kernel would otherwise serialize on ONE task). Queries are
    # independent, so splitting the batch across tasks is exact; candidate
    # blocks replicate n_qgroups x in the shuffle — by construction only when
    # chunks are scarce, i.e. when the candidate set is small. At scale
    # (chunks >= shuffle width) n_qgroups == 1 and the plan is unchanged.
    from .retrieve import shuffle_parts

    sp_ = shuffle_parts(spark)
    n_chunks = _chunk_count(index, chunk_span)
    n_qgroups = 1
    if n_chunks < sp_:
        n_qgroups = max(1, min(len(qinfo), -(-sp_ // n_chunks)))
    # single-chunk index: every query is scored by exactly one task, so the
    # kernel's local top-k IS the global answer — it emits ranks directly and
    # the window merge exchange is skipped below (guide §2.4)
    single_chunk = _single_chunk(index, chunk_span)
    kernel = make_batch_kernel(qinfo, partial, k, chunk_span,
                               conjunctive=conjunctive, n_qgroups=n_qgroups,
                               emit_rank=single_chunk)
    # explicit repartition: same AQE-coalescing exemption as the per-query
    # path — without it the kernel runs as one task on small candidate sets;
    # shuffle-partitions-sized so ~each task group lands in its own task
    # (hash collisions at defaultParallelism-sized bins skew the kernel
    # phase and cap the speedup from added cores)
    if n_qgroups > 1:
        # replicate each candidate block ONLY to the query groups whose
        # queries use its term (tiny broadcast tag join — not a full explode):
        # shuffle bytes and per-task decode work stay proportional to what
        # each task's query subset actually needs. The tags, like the qidx
        # map and the query strings below, are an Arrow LocalRelation
        tag_rows = sorted({(int(t[0]), qi % n_qgroups)
                           for qi, qid in enumerate(qinfo)
                           for t in qinfo[qid]})
        tags = local_relation(spark, tag_rows, "term_id long, qgrp int")
        cand = cand.join(F.broadcast(tags), "term_id")
        group_keys = ["task_group", "qgrp"]
    else:
        group_keys = ["task_group"]
    schema = "qidx int, docid long, score double" + (
        ", rank int" if single_chunk else "")
    local = cand.repartition(sp_, *group_keys).groupBy(*group_keys).applyInPandas(
        kernel, schema=schema
    )
    # global top-k over the int query index, then restore the qid string via
    # a tiny broadcast map (the window shuffles groups*queries*k rows — the
    # narrow qidx column keeps that transfer small); single-chunk indexes
    # skip the window outright (kernel ranks are already global)
    from ..operators.retrieve import topk as _topk_plan

    if single_chunk:
        top = local
    else:
        top = _topk_plan(local.withColumnRenamed("qidx", "qid"), k) \
            .withColumnRenamed("qid", "qidx")
    qmap = local_relation(spark, list(enumerate(qinfo)), "qidx int, qid string")
    top = top.join(F.broadcast(qmap), "qidx").drop("qidx")
    # size-conditional decode join side (see _finalize_blockmax)
    from ..operators.retrieve import decode_docnos

    out = decode_docnos(top, index.docmap, index.stats.get("num_docs"))
    score_col = F.col("score").cast("float").alias("score") if cast_float32 else F.col("score")
    if include_query:
        qdf = local_relation(spark, queries, QUERIES_SCHEMA)
        out = out.join(F.broadcast(qdf), "qid")
        return out.select("qid", "query", "docid", "docno", score_col, "rank")
    return out.select("qid", "docid", "docno", score_col, "rank")
