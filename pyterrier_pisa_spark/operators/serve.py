"""Driver-local low-latency serving (``LocalSearcher``) — the reference's
single-node query model (``_pisathon.cpp:442-545``: an in-process engine over
mmap'd index files, ~1 ms/query) re-created over the SAME persisted block
index with results identical to the Spark retrieval paths.

Why this exists: the Spark retrieval paths (``wand.retrieve_blockmax*``) are
the 100 TB answer — candidate blocks shuffle to executors, every query scales
horizontally — but each batch pays Spark's task-scheduling floor (~10 ms),
which no amount of plan tuning removes for a SINGLE interactive query. The
reference never pays it because serving is in-process. ``LocalSearcher`` is
the in-process twin: collect the (small-enough) index to the driver ONCE,
then answer queries with zero Spark jobs.

Two engines, both rank- AND score-identical to the Spark kernel:

``mode='dense'`` (default) — postings are decoded ONCE at construction and
the scorer's per-posting partial is PRE-COMPUTED per posting (the searcher is
scorer-bound, partials are query-independent). A query is then one vectorized
``acc[docids] += qw * partials`` pass per term (docids are unique within a
term, so a plain fancy-indexed add is exact) followed by an exact
float32-granularity top-k. Float64 sums accumulate in the SAME term-major
order as the kernel's ``_merge_acc``, so scores are bit-identical.

``mode='blockmax'`` — runs the Spark kernel's own pruned ``_taat_score`` over
one ``wand.TaskBlocks`` of the whole index (the helper each Spark task builds
over its candidate blocks).
Slower per query but holds no per-posting partials; useful to cross-check
the dense engine and when memory is tight.

Both engines construct from Arrow columns (the list columns flattened in
one pass, no per-row Python objects) and need dense docids
``0..num_docs-1``, which the index's ``max_docid`` stamp must prove.

Scale contract: this is a SERVING-TIER component, not a data-path one. The
guard refuses indexes whose decoded postings (12 B each) exceed
``max_bytes`` (default 4 GiB — a single-node serving replica's budget, the
same regime the reference operates in: its test collections are 192k-404k
docs). Web-scale corpora stay on the Spark paths or
shard across serving replicas by docid range (each replica = one
``LocalSearcher`` over a docid-sliced index; the per-replica top-k merge is
exact, the same local-topk-then-merge argument as ``retrieve_blockmax``).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ..functions.stopwords import DEFAULT_STOPWORDS, get_stopwords
from ..functions.tokenizer import tokenize_queries
from . import codec as C
from . import score as S
from .wand import TaskBlocks, _taat_score, _topk_select

_BLOCK_COLS = ["term_id", "block_id", "count", "docid_first", "docid_last",
               "block_max_score", *C.LIST_COLUMNS]


def _require_dense(index) -> None:
    """Serving arrays are indexed by docid, sized by ``num_docs``: refuse an
    index whose meta does not prove docids ``0..num_docs-1``."""
    nd = int(index.stats["num_docs"])
    mx = index.meta.get("max_docid")
    if nd and (mx is None or int(mx) != nd - 1):
        raise ValueError(
            f"local serving needs dense docids 0..{nd - 1}, but the index's "
            f"max_docid is {mx} (streamed indexes hash docids; indexes built "
            "before the stamp have none): use the Spark paths "
            "(retrieve_blockmax) or rebuild with build_index")


class ShardedLocalSearcher:
    """Docid-range-sharded serving fleet — the serving tier's scale path: N
    ``LocalSearcher`` replicas over chunk-aligned docid slices of ONE index
    (in production each slice lives on its own host; here the class holds
    them in-process to pin the merge math). Global collection statistics are
    shared — scoring is identical to the unsharded engine because every doc's
    postings live entirely in one shard (blocks are chunk-local by the build
    contract, and shard boundaries align to chunks). Per-shard top-ks merge
    under the same (float32(score) DESC, docid ASC) order, so results are
    EXACT: a global top-k doc is necessarily in its shard's local top-k.
    Each shard's term maxima are its own (a view never writes the index's
    term-stats cache): sound bounds for the shard's own blocks.
    """

    def __init__(self, index, n_shards: int = 2, scorer: str = "bm25", **kw):
        import math
        from dataclasses import replace

        span = int(index.meta.get("chunk_span", 1 << 16))
        nd = int(index.stats["num_docs"])
        chunks = max(1, math.ceil(nd / span))
        per = max(1, math.ceil(chunks / n_shards))
        self.shards: list[LocalSearcher] = []
        for s in range(n_shards):
            lo, hi = s * per * span, min((s + 1) * per * span, chunks * span)
            if lo >= nd:
                break
            view = replace(
                index,
                blocks=index.blocks.filter(
                    (F.col("docid_first") >= lo) & (F.col("docid_first") < hi)),
                docmap=index.docmap.filter(
                    (F.col("docid") >= lo) & (F.col("docid") < hi)),
                # a filtered VIEW: the pyarrow construction fast path must not
                # bypass these filters by reading the raw parquet
                pristine=False,
            )
            self.shards.append(LocalSearcher(view, scorer=scorer, **kw))

    def _merge(self, parts: list[pd.DataFrame], k: int) -> pd.DataFrame:
        """Per-qid merge of per-shard top-ks through the SAME ``_topk_select``
        the unsharded engine uses — boundary ties (equal float32 scores
        straddling a shard split) resolve identically to a single searcher,
        and no full-tie-group lexsort ever runs (candidates re-sort by docid
        first, the order ``_topk_select``'s tie-trim contract requires)."""
        allp = pd.concat(parts, ignore_index=True)
        if not len(allp):
            return allp
        outs = []
        for qid, grp in allp.groupby("qid", sort=False):
            d = grp["docid"].to_numpy(np.int64)
            sc = grp["score"].to_numpy()
            by_doc = np.argsort(d, kind="stable")  # docids unique across shards
            di, si = _topk_select(d[by_doc], sc[by_doc], k)
            pos = by_doc[np.searchsorted(d[by_doc], di)]
            g = grp.iloc[pos].reset_index(drop=True)
            g["rank"] = np.arange(len(g), dtype=np.int32)
            outs.append(g)
        return pd.concat(outs, ignore_index=True)

    def search(self, queries, k: int = 1000, **kw) -> pd.DataFrame:
        return self._merge([s.search(queries, k=k, **kw) for s in self.shards], k)

    def search_toks(self, queries_toks, k: int = 1000, **kw) -> pd.DataFrame:
        return self._merge(
            [s.search_toks(queries_toks, k=k, **kw) for s in self.shards], k)


class LocalSearcher:
    """In-process top-k search over a collected block index, one scorer.

    Build once (one Spark collect of blocks + lexicon⋈term_stats + docnos),
    then ``search([(qid, text), ...])`` / ``search_toks`` run entirely on the
    driver. Results are rank- and score-identical to ``retrieve_blockmax`` on
    the same index.
    """

    def __init__(self, index, scorer: str = "bm25", k1: float | None = None,
                 b: float | None = None, mu: float = 1000.0, c: float = 1.0,
                 stopwords=DEFAULT_STOPWORDS, max_bytes: int = 4 << 30,
                 mode: str = "dense", dense_cache_bytes: int = 256 << 20):
        from ..sources.index_store import ensure_term_stats

        if mode not in ("dense", "blockmax"):
            raise ValueError(f"unknown LocalSearcher mode {mode!r}")
        meta = index.meta
        self.meta = meta
        self.stats = index.stats
        self.scorer = scorer
        self.mode = mode
        self.k1 = meta["scorer"].get("k1", 0.9) if k1 is None else k1
        self.b = meta["scorer"].get("b", 0.4) if b is None else b
        self.stemmer = meta.get("stemmer", "porter2")
        # stemmed-stoplist TermProcessor semantics (see query_terms_df)
        stops = get_stopwords(stopwords)
        if stops and self.stemmer == "porter2":
            from ..functions.porter2 import CachedStemmer

            st = CachedStemmer()
            stops = frozenset(st(w) for w in stops)
        self.stops = stops

        # ---- construction fast path (r6): a PRISTINE index (opened by
        # load_index, tables = raw parquet reads) constructs entirely
        # driver-side with pyarrow — zero Spark jobs. Filtered views
        # (docid-range shards) and over-gate vocabularies read the same
        # columns through Spark as Arrow (same values, same budget guard).
        from ..sources.index_store import _read_arrow, _table_path, driver_term_table

        _require_dense(index)
        postings_dir = os.path.join(index.path, "postings")
        arrow_tbl = None
        if getattr(index, "pristine", False) and os.path.isdir(postings_dir):
            arrow_tbl = driver_term_table(index, scorer, self.k1, self.b, mu, c)

        # ---- size guard: serving replicas hold the decoded postings in
        # memory. The count is the build's (meta), or for a view its own.
        if arrow_tbl is not None:
            nposts = int(meta["num_postings"])
        else:
            nposts = int(index.blocks.agg(F.sum("count")).collect()[0][0] or 0)
        nbytes = C.DECODED_BYTES_PER_POSTING * nposts
        if nbytes > max_bytes:
            raise MemoryError(
                f"index postings ~{nbytes/2**30:.1f} GiB decoded exceed the local-"
                f"serving budget ({max_bytes/2**30:.1f} GiB); use the Spark "
                "paths (retrieve_blockmax) or shard by docid range across "
                "serving replicas")

        # ---- term table: term -> (term_id, stat, max_score, min_score)
        if arrow_tbl is not None:
            terms = arrow_tbl["index"].tolist()
            lex = [arrow_tbl[c] for c in ("term_id", "stat", "ms", "mn")]
        else:
            stat_col = S.term_stat_col(scorer)
            ts = ensure_term_stats(index, scorer, k1=self.k1, b=self.b, mu=mu, c=c)
            t = index.lexicon.select(
                "term", "term_id", F.col(stat_col).cast("double").alias("stat")).join(
                ts.withColumnRenamed("max_score", "ms")
                  .withColumnRenamed("min_score", "mn"), "term_id", "left"
            ).fillna({"ms": 0.0, "mn": 0.0}).toArrow()
            terms = t.column("term").to_pylist()
            lex = [t.column(c).to_numpy() for c in ("term_id", "stat", "ms", "mn")]
        self._terms = dict(zip(terms, zip(*(a.tolist() for a in lex))))

        if arrow_tbl is not None:
            blk = _read_arrow(postings_dir, _BLOCK_COLS)
        else:
            blk = index.blocks.select(*_BLOCK_COLS).toArrow()
        partial = S.np_partial_fn(scorer, self.stats, self.k1, self.b, mu, c)
        self._all_pos = False
        self._dvecs: dict[int, np.ndarray] = {}
        self._accD = None
        self._index_blocks = None
        self._post_d = self._post_p = self._post_tid_sorted = None

        if mode == "dense":
            # ---- postings, flattened once and ordered by (term_id, block_id)
            # so each term is one contiguous slice
            d_all, tf_all, dl_all, counts = C.decode_arrow(blk)
            tid_b = blk.column("term_id").to_numpy()
            order = np.lexsort((blk.column("block_id").to_numpy(), tid_b))
            post = C.gather_index(C.segment_starts(counts)[order], counts[order])
            d_all, tf_all, dl_all = d_all[post], tf_all[post], dl_all[post]
            counts, tid_b = counts[order], tid_b[order]
            # the scorer's per-term statistic, looked up by term_id
            stat_of = np.zeros(int(max(lex[0].max(initial=-1), tid_b.max(initial=-1))) + 1)
            stat_of[lex[0]] = lex[1]
            nposts = int(counts.sum())
            if 16 * nposts > max_bytes:
                raise MemoryError(
                    f"~{16*nposts/2**30:.1f} GiB decoded exceeds the local-"
                    f"serving budget; use mode='blockmax' or shard replicas")
            # pre-computed per-posting partial (float64 — per-query sums must
            # be bit-identical to the kernel's)
            p_all = partial(tf_all.astype(np.float64), dl_all.astype(np.float64),
                            np.repeat(stat_of[tid_b], counts))
            self._post_d = d_all
            self._post_p = np.ascontiguousarray(p_all, dtype=np.float64)
            self._post_tid_sorted = np.repeat(tid_b, counts)  # ascending
            # dense accumulators, reused across queries (reset touched-only)
            nd = int(self.stats["num_docs"])
            self._acc = np.zeros(nd, dtype=np.float64)
            self._nmatch = np.zeros(nd, dtype=np.int32)
            self._mask = np.zeros(nd, dtype=bool)
            # INTEGER fast path for quantized (impact) indexes: partials are
            # exact small ints, so an int32 scatter-add is both exact (equal
            # to the kernel's float64 integer sums — no rounding anywhere)
            # and ~35% faster than the float64 accumulate (narrower traffic
            # on the random-access hot loop). Guarded per query against
            # int32 overflow via the per-term max impacts.
            self._post_pi = None
            self._acc_i = None
            if scorer == "quantized" and p_all.size and \
                    float(np.max(p_all)) < float(1 << 30):
                self._post_pi = p_all.astype(np.int32)
                self._acc_i = np.zeros(nd, dtype=np.int32)
            # strictly-positive partials => a matched doc's accumulated score
            # is provably nonzero, so candidates come straight from
            # flatnonzero(acc) and the per-posting bool-mask write (a SECOND
            # random-access stream through the cache) is skipped entirely —
            # measured -24% per query on the int path at the 200k-doc serving
            # regime. bm25/quantized always qualify (idf clamped at IDF_EPS;
            # impacts are >= 1 by construction); qld/pl2/dph partials can go
            # negative, so those keep the mask.
            self._all_pos = bool(p_all.size) and float(np.min(p_all)) > 0.0
            # ---- dense per-term score-vector cache for the df-head (r5):
            # a hot query whose terms are all cached accumulates by VECTORIZED
            # array adds (two ~800 KB streaming passes for a 3-term query at
            # 200k docs) instead of ~half a million random scatter-adds — the
            # scatter floor was the measured residual ~2x vs the reference
            # C++ serving band. Exactness: int32 sums are order-free; float64
            # vectors accumulate in the same term-major order as the scatter
            # path and absent docs contribute +0.0 (an exact identity), so
            # scores stay bit-identical to the Spark kernel. Only strictly-
            # positive-partial scorers qualify (candidates come from
            # flatnonzero of the dense accumulator). Budgeted separately from
            # the postings (default 256 MB ≈ 160 cached terms at 200k docs —
            # far past the Zipf head that serves hot traffic).
            if self._all_pos and dense_cache_bytes > 0:
                self._build_dense_cache(dense_cache_bytes, nd)
        else:
            self._index_blocks = TaskBlocks(blk)

        # ---- docid (dense 0..n-1) -> docno as a direct-indexed array
        # (scatter by docid — input order is irrelevant, so the fast path
        # needs no sort)
        if arrow_tbl is not None:
            dm = _read_arrow(_table_path(index.path, meta, "docmap")
                             or _table_path(index.path, meta, "fwd"), ["docid", "docno"])
        else:
            dm = index.docmap.select("docid", "docno").toArrow()
        docnos = np.empty(int(self.stats["num_docs"]), dtype=object)
        docnos[dm.column("docid").to_numpy()] = \
            dm.column("docno").to_numpy(zero_copy_only=False)
        self._docnos = docnos

        self._partial = partial
        built = meta["scorer"].get("name", "bm25")
        self._use_block_max = (
            (scorer == "bm25" and built == "bm25"
             and self.k1 == meta["scorer"].get("k1")
             and self.b == meta["scorer"].get("b"))
            or (scorer == "quantized" and built == "quantized")
        )
        self._rest_kind = (self._use_block_max
                           and meta.get("block_max_kind") == "bm25_rest")
        self._num_docs = float(self.stats["num_docs"])

    # ------------------------------------------------------------- internals

    def _build_dense_cache(self, budget: int, nd: int) -> None:
        """Materialize dense score vectors for the highest-df terms, largest
        first, until the byte budget runs out. The int32 impact array backs
        the vectors on quantized indexes (the latency-critical path); float64
        partials back them otherwise. Terms below ``nd // 16`` postings stay
        on the scatter path — their sparse accumulate is already cheap."""
        src = self._post_pi if self._post_pi is not None else self._post_p
        tids, starts, counts = np.unique(
            self._post_tid_sorted, return_index=True, return_counts=True)
        order = np.argsort(-counts, kind="stable")
        vec_bytes = nd * src.dtype.itemsize
        budget -= vec_bytes  # reserve the shared dense accumulator
        min_df = max(32, nd // 16)
        for i in order:
            if counts[i] < min_df or budget < vec_bytes:
                break
            v = np.zeros(nd, dtype=src.dtype)
            lo = int(starts[i])
            sl = slice(lo, lo + int(counts[i]))
            v[self._post_d[sl]] = src[sl]
            self._dvecs[int(tids[i])] = v
            budget -= vec_bytes
        if self._dvecs:
            self._accD = np.empty(nd, dtype=src.dtype)

    def _query_dense_cached(self, terms: list, use_int: bool, bound: float):
        """Vectorized accumulate over cached dense vectors. Caller guarantees:
        disjunctive query, strictly positive partials and weights, and either
        every term cached (float64 — preserves term-major order bit-identity)
        or the int path (order-free exact sums; uncached terms scatter into
        the dense accumulator after the cached ones initialize it)."""
        accD = self._accD
        first = True
        seq = terms if not use_int else sorted(
            terms, key=lambda t: t[0] not in self._dvecs)
        for (tid, qw, _st, _ms, _bs, _mn) in seq:
            v = self._dvecs.get(tid)
            w = np.int32(qw) if use_int else qw
            if v is not None:
                if first:
                    if w == 1:
                        np.copyto(accD, v)
                    else:
                        np.multiply(v, w, out=accD)
                    first = False
                elif w == 1:
                    np.add(accD, v, out=accD)
                else:
                    accD += w * v
            else:  # int path only (cached terms ran first, accD initialized)
                lo = np.searchsorted(self._post_tid_sorted, tid, "left")
                hi = np.searchsorted(self._post_tid_sorted, tid, "right")
                if hi == lo:
                    continue
                p = self._post_pi[lo:hi]
                accD[self._post_d[lo:hi]] += p if w == 1 else w * p
        cand = np.flatnonzero(accD)
        sc = accD[cand]
        if use_int and bound >= float(1 << 24):
            sc = sc.astype(np.float64)
        return cand, sc

    def _bscale(self, df_: float) -> float:
        if not self._rest_kind:
            return 1.0
        import math

        return max(S.IDF_EPS,
                   math.log((self._num_docs - df_ + 0.5) / (df_ + 0.5)))

    def _query_dense(self, terms: list, k: int, conjunctive: bool):
        """Exhaustive dense TAAT over pre-scored postings — exact, and the
        same float64 accumulation order as the kernel (term-major). On
        quantized indexes with integer query weights the accumulate runs in
        int32 (exact: integer sums, no rounding — identical to the kernel's
        float64 integer arithmetic) when the per-query upper bound
        ``sum(qw * term_max_impact)`` provably fits."""
        bound = sum(qw * ms for (_t, qw, _s, ms, *_r) in terms)
        use_int = self._acc_i is not None and bound < float(2**31 - 1) and all(
            qw == int(qw) for (_t, qw, *_r) in terms)
        if use_int:
            acc, posts = self._acc_i, self._post_pi
        else:
            acc, posts = self._acc, self._post_p
        # maskless mode: positive partials make acc itself the touched-set
        # record (see __init__) — one random-access stream per posting, not two
        maskless = self._all_pos and all(qw > 0 for (_t, qw, *_r) in terms)
        # dense-cached fast path (see _build_dense_cache): all-or-nothing on
        # the float path (preserves bit-identity), mixed dense+scatter on the
        # int path (order-free exact sums); conjunctive stays on scatter
        if (self._accD is not None and maskless and not conjunctive
                and use_int == (self._accD.dtype == np.int32)):
            n_cached = sum(t[0] in self._dvecs for t in terms)
            if n_cached and (use_int or n_cached == len(terms)):
                return self._query_dense_cached(terms, use_int, bound)
        nmatch, mask = self._nmatch, self._mask
        hit = False
        for (tid, qw, _st, _ms, _bs, _mn) in terms:
            lo = np.searchsorted(self._post_tid_sorted, tid, "left")
            hi = np.searchsorted(self._post_tid_sorted, tid, "right")
            if hi == lo:
                continue
            d = self._post_d[lo:hi]
            p = posts[lo:hi]
            w = np.int32(qw) if use_int else qw
            # docids unique within a term: plain fancy add is exact
            acc[d] += p if w == 1 else w * p
            if not maskless:
                mask[d] = True
            if conjunctive:
                nmatch[d] += 1
            hit = True
        if not hit:
            return None, None
        # candidates via a linear scan (acc directly when partials are all
        # positive, else the touched mask), NOT a sort/unique of the
        # concatenated per-term docids — hot 3-term queries touch ~3x the
        # matched docs, and the O(n log n) unique dominated per-query latency
        cand = np.flatnonzero(acc) if maskless else np.flatnonzero(mask)
        # int32 scores stay native when they provably fit float32's exact-
        # integer range (< 2^24): _topk_select then ranks on the integers,
        # which IS the float32-granularity order. Bigger bounds convert.
        sc = acc[cand]
        if use_int and bound >= float(1 << 24):
            sc = sc.astype(np.float64)
        acc[cand] = 0
        if not maskless:
            mask[cand] = False
        if conjunctive:
            ok = nmatch[cand] >= len(terms)
            nmatch[cand] = 0
            cand, sc = cand[ok], sc[ok]
        return cand, sc

    def _run(self, qinfo: dict, k: int, conjunctive: bool,
             cast_float32: bool) -> pd.DataFrame:
        # numpy end-to-end: per-query (docid, score) selections concatenate
        # into ONE pandas frame at the end — frame construction was a
        # measurable slice of per-query latency at the reference's serving
        # regime, so it is paid once per call, not once per query
        parts: list[tuple[str, np.ndarray, np.ndarray]] = []
        for qid, terms in qinfo.items():
            terms.sort(key=lambda t: -t[3])
            if self.mode == "dense":
                acc_d, acc_s = self._query_dense(terms, k, conjunctive)
            else:
                acc_d, acc_s = _taat_score(terms, self._index_blocks, self._partial,
                                           k, conjunctive, self._use_block_max)
            if acc_d is not None and acc_d.size:
                parts.append((qid, *_topk_select(acc_d, acc_s, k)))
        sdtype = np.float32 if cast_float32 else np.float64
        if not parts:
            return pd.DataFrame({"qid": pd.Series(dtype=object),
                                 "docid": pd.Series(dtype=np.int64),
                                 "docno": pd.Series(dtype=object),
                                 "score": pd.Series(dtype=sdtype),
                                 "rank": pd.Series(dtype=np.int32)})
        lens = [d.size for _q, d, _s in parts]
        docid = np.concatenate([d for _q, d, _s in parts])
        score = np.concatenate([s.astype(np.float64) for _q, _d, s in parts])
        return pd.DataFrame({
            "qid": np.repeat(np.array([q for q, _d, _s in parts], dtype=object),
                             lens),
            "docid": docid,
            "docno": self._docnos[docid],
            "score": score.astype(sdtype) if cast_float32 else score,
            "rank": np.concatenate([np.arange(n, dtype=np.int32) for n in lens]),
        }, copy=False)

    # ------------------------------------------------------------------- API

    def search(self, queries: list[tuple[str, str]], k: int = 1000,
               conjunctive: bool = False, cast_float32: bool = True) -> pd.DataFrame:
        """Raw-text queries -> pandas (qid, docid, docno, score, rank)."""
        rows = tokenize_queries(queries, stemmer=self.stemmer, stopwords=self.stops)
        qinfo: dict[str, list] = {}
        for qid, term, qw in rows:
            hit = self._terms.get(term)
            if hit is None:
                continue  # OOV drop (reference termlex-miss)
            tid, stat, ms, mn = hit
            qinfo.setdefault(qid, []).append(
                (tid, qw, stat, ms, self._bscale(stat), mn))
        return self._run(qinfo, k, conjunctive, cast_float32)

    def search_toks(self, queries_toks: list[tuple[str, dict]], k: int = 1000,
                    toks_scale: float = 100.0,
                    cast_float32: bool = True) -> pd.DataFrame:
        """Pretokenized (learned-sparse) queries — no stemming/stopwords,
        weights scaled by ``toks_scale`` and truncated to int (reference
        ``__init__.py:485-495``)."""
        qinfo: dict[str, list] = {}
        for qid, toks in queries_toks:
            for term, w in toks.items():
                iw = int(float(w) * toks_scale)
                if iw <= 0:
                    continue
                hit = self._terms.get(str(term))
                if hit is None:
                    continue
                tid, stat, ms, mn = hit
                qinfo.setdefault(str(qid), []).append(
                    (tid, float(iw), stat, ms, self._bscale(stat), mn))
        return self._run(qinfo, k, False, cast_float32)
