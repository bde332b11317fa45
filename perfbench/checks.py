"""Correctness checks: every top-k against the exhaustive plan's, and the
built index against the generated corpus."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd


def _digest(rank, docid, docno, score) -> str:
    if (rank[1:] < rank[:-1]).any():
        order = np.argsort(rank, kind="stable")
        rank, docid, docno, score = rank[order], docid[order], docno[order], score[order]
    h = hashlib.sha1()
    h.update(rank.astype(np.int64).tobytes())
    h.update(docid.astype(np.int64).tobytes())
    h.update("\0".join(map(str, docno.tolist())).encode())
    h.update(score.astype(np.float32).tobytes())
    return h.hexdigest()


def per_query(df) -> dict[str, str]:
    """qid -> digest of its ranked (rank, docid, docno, float32 score) rows,
    from a result frame or its ``compact`` form."""
    qid, *cols = df if isinstance(df, tuple) else compact(df)
    if not len(qid):
        return {}
    qid = qid.astype(object)
    if (qid == qid[0]).all():  # one query: skip the grouping
        return {str(qid[0]): _digest(*cols)}
    order = np.argsort(qid.astype(str), kind="stable")
    qid = qid[order]
    cols = [c[order] for c in cols]
    bounds = np.flatnonzero(qid[1:] != qid[:-1]) + 1
    starts = np.concatenate(([0], bounds))
    ends = np.concatenate((bounds, [len(qid)]))
    return {str(qid[s]): _digest(*(c[s:e] for c in cols))
            for s, e in zip(starts.tolist(), ends.tolist())}


def compact(df: pd.DataFrame) -> tuple:
    """The columns a check reads, as numpy arrays: a response kept this way
    holds no objects the garbage collector must scan."""
    return tuple(df[c].to_numpy() for c in ("qid", "rank", "docid", "docno", "score"))


def mismatches(reference: dict[str, str], got: pd.DataFrame, qids) -> int:
    """How many of ``qids`` have a top-k that differs from the reference in
    any of (rank, docid, docno, float32 score). A query absent from both
    (every term OOV or a stopword) matches."""
    mine = per_query(got)
    return sum(reference.get(q) != mine.get(q) for q in qids)


def results_digest(reference: dict[str, str], extra: dict) -> str:
    """One digest of a run's reference results and index counts, so runs of
    one seed can be compared."""
    h = hashlib.sha256()
    for q in sorted(reference):
        h.update(f"{q}:{reference[q]};".encode())
    for k in sorted(extra):
        h.update(f"{k}={extra[k]};".encode())
    return h.hexdigest()[:16]


def index_failures(index_path: str, corpus_path: str, expected_tokens: int) -> list[str]:
    """Checks of a built index against its corpus: the document count, the
    docno set, and the total doclen against an independent token count."""
    import json
    import os

    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    with open(os.path.join(index_path, "meta.json")) as fh:
        stats = json.load(fh)["stats"]
    src = pq.read_table(corpus_path, columns=["repo", "path", "commit"]).to_pandas()
    docnos = set(src["repo"] + "/" + src["path"] + "@" + src["commit"])
    dm = pads.dataset(os.path.join(index_path, "fwd")).to_table(
        columns=["docno", "doclen"]).to_pandas()
    errors = []
    if stats["num_docs"] != len(src):
        errors.append(f"num_docs {stats['num_docs']} != corpus rows {len(src)}")
    if set(dm["docno"]) != docnos or len(dm) != len(src):
        errors.append("docno set differs from the corpus")
    if int(dm["doclen"].sum()) != expected_tokens or stats["total_doclen"] != expected_tokens:
        errors.append(f"total doclen {int(dm['doclen'].sum())} != "
                      f"{expected_tokens} [a-z0-9]+ tokens")
    return errors
