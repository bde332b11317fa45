"""Block-max / max-score pruned retrieval (reference R7/R8/R9: ``wand``,
``block_max_wand``, ``maxscore``, ``ranked_or_taat``,
``_pisathon.cpp:296-354``) re-designed for Spark's execution model.

Every scorer (bm25/dph/pl2/qld/quantized) runs under the kernel — the
reference's variants matrix contract (``tests/test_variants.py:7-28``).
Scoring arithmetic comes from one registry (``score.np_partial_fn``), the
same formulas as the exhaustive Column plan, so pruned results are rank- AND
score-identical to the exhaustive oracle.

One kernel over the packed 128-posting block table, behind both
``retrieve_blockmax`` and its alias ``retrieve_blockmax_batch``. Candidate
blocks are partitioned by ``task_group`` (the block's docid chunk mod
``batch_groups``), plus a query group ``qgrp`` when the index has fewer
chunks than shuffle partitions, so each block crosses the shuffle once per
task, not once per query that uses its term. Each task flattens its blocks
once (``TaskBlocks``), runs threshold-pruned TAAT for every query of its
subset and emits a local top-k; a window keeps the global top-k (exact:
every global top-k doc survives its task's local top-k).

    Pruning inside a task: terms in descending max_score order, threshold
    θ = kth-best accumulated score, block skipped iff
        qw*block_bound + max(acc_max_in_block_range, 0) + rest_ub < θ
    where block_bound is the STORED per-block max when the index was built
    for this (scorer, params) — true block-max WAND — else the term-level
    max_score (max-score algorithm). rest_ub clamps per-term bounds at 0, so
    the bound stays valid for scorers with negative partials (qld/pl2/dph).

``batch_groups`` (the task-group count) is derived from index size at BUILD
time and recorded in meta — work stays invariant across cluster sizes
(scaling comparability) while parallelism grows with data.

Term max-scores per (scorer, params) come from the index's scorer-keyed
cache (``index_store.ensure_term_stats``), mirroring the reference's WAND
data files (``_pisathon.cpp:229-255``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.stopwords import DEFAULT_STOPWORDS
from . import codec as C
from . import score as S
from .retrieve import (DEFAULT_NUM_RESULTS, QTERMS_SCHEMA, QUERIES_SCHEMA,
                       local_relation)

# the postings columns the kernel reads (``TaskBlocks`` orders a term's
# blocks by docid_first, so no block_id)
KERNEL_COLS = ("term_id", "count", "docid_first", "docid_last",
               "block_max_score", *C.LIST_COLUMNS)


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


class TaskBlocks:
    """Postings blocks flattened once, for ``_taat_score``: per-block arrays
    sorted by (term_id, docid_first), so a term's blocks are one contiguous
    slice in docid order, and the postings concatenated in input order, so a
    block's postings are one segment. A term's blocks arrive in any order (its
    chunks hash to different build and shuffle partitions), but the TAAT
    accumulator and ``_topk_select`` need ascending docids: a term's blocks
    cover disjoint docid ranges, so decoding them in docid_first order yields
    sorted docids. The kernel builds one per task; ``LocalSearcher
    (mode='blockmax')`` builds one over the whole index."""

    def __init__(self, blocks):
        """``blocks``: an Arrow table or batch in the postings layout."""
        d, tf, dl, counts = C.decode_arrow(blocks)
        tid = blocks.column("term_id").to_numpy()
        first = blocks.column("docid_first").to_numpy()
        order = np.lexsort((first, tid))
        self.term_id = tid[order]
        self.count = counts[order]
        self.start = C.segment_starts(counts)[order]
        self.first = first[order]
        self.last = blocks.column("docid_last").to_numpy()[order]
        self.bmax = blocks.column("block_max_score").to_numpy()[order]
        self.postings = (d, tf.astype(np.float64), dl.astype(np.float64))

    def term(self, tid: int) -> np.ndarray:
        """Positions of the term's blocks."""
        return np.arange(np.searchsorted(self.term_id, tid, "left"),
                         np.searchsorted(self.term_id, tid, "right"))

    def decode(self, sel: np.ndarray):
        """(docids, tfs, doclens) of the blocks at ``sel``, concatenated."""
        post = C.gather_index(self.start[sel], self.count[sel])
        return tuple(a[post] for a in self.postings)


def _topk_select(docids: np.ndarray, scores: np.ndarray,
                 k: int) -> tuple[np.ndarray, np.ndarray]:
    """Exact (float32(score) DESC, docid ASC) top-k without a full lexsort:
    partition on the ranking key bounds the candidate set (keeping ALL
    boundary ties), then the small subset lexsorts. Ranking is at float32
    granularity engine-wide (see ``retrieve.topk``), so summation-order ulp
    noise ties break by docid identically across engines. Integer score
    arrays (the quantized int fast path) rank directly — the caller
    guarantees values < 2^24, where float32 represents every integer
    exactly, so integer order IS the engine-wide float32-granularity order.

    Candidates MUST arrive in ascending docid order (the dense engine's
    ``flatnonzero`` and the TAAT accumulator — ``TaskBlocks`` docid order,
    then ``_merge_acc`` — both guarantee it) — boundary ties
    then resolve by taking the FIRST ``k - above`` tied positions (smallest
    docids), so the final lexsort runs over exactly k rows, never over the
    (potentially huge — coarse integer scores) tie group."""
    key = scores if scores.dtype.kind in "iu" else scores.astype(np.float32)
    n = docids.size
    if n > k:
        thresh = np.partition(key, n - k)[n - k]
        above = np.flatnonzero(key > thresh)  # all of these are in the top-k
        tied = np.flatnonzero(key == thresh)[: k - above.size]
        sel = np.sort(np.concatenate((above, tied)))
        docids, scores, key = docids[sel], scores[sel], key[sel]
    kk = min(k, docids.size)
    order = np.lexsort((docids, -key))[:kk]
    return docids[order], scores[order]


def _taat_score(terms, blocks: TaskBlocks, partial, k, conjunctive, use_block_max):
    """Shared TAAT core: terms = [(term_id, qweight, stat, max_score,
    block_scale, min_score)] sorted by max_score desc, over ``blocks`` ->
    (docids, scores) — exact: only docs provably outside any possible top-k
    are skipped.

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
      therefore had no skipped blocks: reported scores are exact.

    Conjunctive queries are exact per task because a doc's postings for ALL
    terms live in the same chunk (build contract) and a chunk maps to one
    task — per-task match counts are therefore complete."""
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
        sel = blocks.term(tid)
        if not sel.size:
            continue
        # theta/acc are frozen across a term's blocks (the accumulator merge
        # happens after the term), so the skip test VECTORIZES over blocks
        if can_prune and acc_d.size >= k and theta > -np.inf:
            lo = np.searchsorted(acc_d, blocks.first[sel], "left")
            hi = np.searchsorted(acc_d, blocks.last[sel], "right")
            bounds = (bscale * blocks.bmax[sel] if use_block_max
                      else np.full(sel.size, ms))
            acc_maxes = np.zeros(sel.size, dtype=np.float64)
            for j in np.flatnonzero(hi > lo):  # slice-max only; no decode
                acc_maxes[j] = acc_s[lo[j]:hi[j]].max()
            keep = ~(np.maximum(qw * bounds, 0.0) + np.maximum(acc_maxes, 0.0)
                     + rest_ub[i] < theta + neg_rest[i])
            sel = sel[keep]
        if sel.size:
            # surviving blocks decode in ONE segment-batched gather
            new_d, tf, dl = blocks.decode(sel)
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


def make_kernel(qterms: list, partial, k: int, conjunctive: bool,
                use_block_max: bool, n_qgroups: int, emit_rank: bool):
    """The ``applyInArrow`` kernel: one task holds the candidate blocks of
    one task group (and query group), flattens them once and scores every
    query of its subset, ``qidx % n_qgroups == qgrp``, against them.
    ``qterms[qidx]`` is the query's term list (see ``_taat_score``). Emits
    each query's local top-k as (qidx, docid, score[, rank]); ``emit_rank``
    when one task sees all of a query's candidates, so its local ranks are
    global."""
    names = ["qidx", "docid", "score"] + (["rank"] if emit_rank else [])

    def kernel(key, table):
        qsel = range(key[1].as_py() if n_qgroups > 1 else 0, len(qterms), n_qgroups)
        blocks = TaskBlocks(table)
        out_q, out_d, out_s = [], [], []
        for qi in qsel:
            acc_d, acc_s = _taat_score(qterms[qi], blocks, partial, k,
                                       conjunctive, use_block_max)
            if acc_d.size:
                d, sc = _topk_select(acc_d, acc_s, k)
                out_q.append(np.full(d.size, qi, dtype=np.int32))
                out_d.append(d)
                out_s.append(sc)
        cols = [np.concatenate(c) if c else np.empty(0, dt) for c, dt in
                ((out_q, np.int32), (out_d, np.int64), (out_s, np.float64))]
        if emit_rank:
            cols.append(np.concatenate([np.arange(q.size, dtype=np.int32)
                                        for q in out_q] or [np.empty(0, np.int32)]))
        return pa.table(cols, names=names)

    return kernel


def _query_plan_inputs(index, queries, k1, b, mu, c, scorer, stopwords,
                       queries_toks=None, toks_scale=100.0):
    """Query prep for the kernel: parse queries, join lexicon + scorer-keyed
    max_scores, return (spark, qinfo, partial, use_block_max).

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
        pos = tbl["index"].get_indexer(pd.Index([t for (_q, t, _w) in rows]))
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


def _finalize_blockmax(spark, index, local: DataFrame, qids: list, queries,
                       k, include_query, cast_float32,
                       local_is_global: bool) -> DataFrame:
    """Local per-task top-ks (qidx, docid, score[, rank]) -> global window
    top-k -> qid (and query string) by qidx -> docno decode.

    ``local_is_global``: the caller proved every query's candidates land in
    ONE kernel task (single-docid-chunk index), so the kernel's local top-k
    IS the global top-k with identical (float32 score DESC, docid ASC) ranks
    — the window merge (one full exchange) is skipped outright (guide §2.4).
    Otherwise the window shuffles tasks x queries x k rows, keyed by the
    narrow int qidx; the qid strings join back after it through a tiny
    broadcast map.

    The docno decode join picks its broadcast side from the corpus size
    (``decode_docnos``): small docmaps broadcast (probe builds concurrently
    with the top-k subtree); corpus-sized docmaps stream against the bounded
    broadcast top-k — never shuffled, never mis-chosen by a size estimate
    (guide §3.1)."""
    from .retrieve import decode_docnos, topk

    top = local if local_is_global else topk(
        local.withColumnRenamed("qidx", "qid"), k).withColumnRenamed("qid", "qidx")
    if include_query:
        text: dict[str, list] = {}
        for qid, query in queries:
            text.setdefault(qid, []).append(query)
        qmap = local_relation(spark, [(i, q, t) for i, q in enumerate(qids)
                                      for t in text.get(q, [])],
                              "qidx int, " + QUERIES_SCHEMA)
    else:
        qmap = local_relation(spark, list(enumerate(qids)), "qidx int, qid string")
    top = top.join(F.broadcast(qmap), "qidx").drop("qidx")
    out = decode_docnos(top, index.docmap, index.stats.get("num_docs"))
    # reference pins float32 result dtype (__init__.py:500-503); keep double
    # when the caller compares against a double-precision oracle
    score_col = F.col("score").cast("float").alias("score") if cast_float32 else F.col("score")
    front = ["qid", "query"] if include_query else ["qid"]
    return out.select(*front, "docid", "docno", score_col, "rank")


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

    Parallelism: the candidate blocks are partitioned by docid-chunk task
    group, so they shuffle once for the whole query batch and a hot query's
    postings spread over up to ``batch_groups`` tasks; each task prunes
    independently and emits a local top-k per query (module docstring)."""
    if queries_toks is not None:
        include_query = False
    spark, qinfo, partial, use_block_max = _query_plan_inputs(
        index, queries, k1, b, mu, c, scorer, stopwords,
        queries_toks=queries_toks, toks_scale=toks_scale)
    tids = sorted({t[0] for terms in qinfo.values() for t in terms})
    if not tids:
        return _empty_result(spark, include_query, cast_float32)

    from .retrieve import shuffle_parts

    cand, chunk_span = _with_task_group(index, tids)
    keys = ["task_group"]
    # QUERY-group dimension when the corpus has fewer docid chunks than the
    # shuffle width (small/mid corpora: every doc in chunk 0 would otherwise
    # run the whole batch as ONE task). Exact: every (query, doc) pair is
    # still scored in exactly one task, a doc's chunk x the query's group.
    # At scale (chunks >= shuffle width) there is no query group.
    sp_ = shuffle_parts(spark)
    n_chunks = _chunk_count(index, chunk_span)
    n_qgroups = max(1, min(len(qinfo), -(-sp_ // n_chunks))) if n_chunks < sp_ else 1
    if n_qgroups > 1:
        # copy each block only to the query groups whose queries use its
        # term, through a literal term_id -> groups map (no join, no job)
        groups: dict[int, set] = {}
        for qi, terms in enumerate(qinfo.values()):
            for t in terms:
                groups.setdefault(t[0], set()).add(qi % n_qgroups)
        tags = ", ".join(f"{tid}L, array({', '.join(map(str, sorted(g)))})"
                         for tid, g in sorted(groups.items()))
        cand = cand.withColumn(
            "qgrp", F.expr(f"explode(element_at(map({tags}), term_id))"))
        keys.append("qgrp")
    # single-chunk index: each query is scored by exactly one task, so the
    # kernel's local top-k IS the global answer and carries its ranks
    single = _single_chunk(index, chunk_span)
    kernel = make_kernel(list(qinfo.values()), partial, k, conjunctive,
                         use_block_max, n_qgroups, emit_rank=single)
    schema = "qidx int, docid long, score double" + (", rank int" if single else "")
    # explicit repartition on the group keys: satisfies the groupBy's
    # distribution (no second exchange) AND is exempt from AQE partition
    # coalescing, which would otherwise fold a few-MB candidate shuffle into
    # ONE task; sized by the session's shuffle-partitions knob
    # (cluster-size-invariant task structure)
    local = (cand.select(*keys, *KERNEL_COLS).repartition(sp_, *keys)
             .groupBy(*keys).applyInArrow(kernel, schema=schema))
    return _finalize_blockmax(spark, index, local, list(qinfo), queries, k,
                              include_query, cast_float32, local_is_global=single)


# the batch-throughput name of the same plan (API ``query_algorithm='batch'``)
retrieve_blockmax_batch = retrieve_blockmax
