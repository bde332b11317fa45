"""Scorers (reference R4, ``__init__.py:223-293``, ``_pisathon.cpp:222-240``):
bm25 (k1=0.9, b=0.4 defaults), dph, pl2 (c=1), qld (mu=1000), quantized
(dot product). Each exists twice, computing identical arithmetic:

- as a Catalyst ``Column`` expression (whole-stage-codegen'd JVM math) for the
  exhaustive DataFrame plan — the correctness oracle;
- as a numpy kernel for the block-max pruned ``mapInPandas`` path.

BM25 formula (paper-derived; see SURVEY.md §2.4 R4 `[paper]` note — the PISA
submodule is not vendored, so the formula is pinned by the published BM25/DFR
literature and validated against our own frozen goldens):
    idf = max(1e-6, ln((N - df + 0.5) / (df + 0.5)))
    w(tf, dl) = idf * (k1 + 1) * tf / (tf + k1 * (1 - b + b * dl / avgdl))

The idf clamp matches PISA's ``bm25::query_term_weight`` epsilon (public
PISA ``include/pisa/scorer/bm25.hpp``: ``std::max(epsilon_score, idf)`` with
epsilon 1e-6): a term with df > N/2 contributes ~0, never negative. Besides
rank parity with the reference, the clamp keeps every BM25 partial strictly
positive, so the max-score/block-max pruning bounds are valid for EVERY
query (no negative-idf fallback to exhaustive scoring)."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

LOG2E = math.log2(math.e)
IDF_EPS = 1e-6  # PISA bm25.hpp epsilon_score


# ---------------------------------------------------------------- Column path

def bm25_col(tf: Column, doclen: Column, df: Column, num_docs: int, avg_doclen: float,
             k1: float = 0.9, b: float = 0.4) -> Column:
    idf = F.greatest(
        F.lit(IDF_EPS),
        F.log((F.lit(float(num_docs)) - df + F.lit(0.5)) / (df + F.lit(0.5))),
    )
    norm = tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * doclen / F.lit(avg_doclen))
    return idf * F.lit(k1 + 1.0) * tf / norm


def qld_col(tf: Column, doclen: Column, cf: Column, total_doclen: int,
            mu: float = 1000.0) -> Column:
    """Dirichlet-smoothed query likelihood, per-posting form: the doc-length
    component is added once per *matching* term (impact-style DAAT engines
    score only postings that exist)."""
    p_c = cf / F.lit(float(total_doclen))
    return F.log(F.lit(1.0) + tf / (F.lit(mu) * p_c)) + F.log(F.lit(mu) / (doclen + F.lit(mu)))


def pl2_col(tf: Column, doclen: Column, cf: Column, num_docs: int, avg_doclen: float,
            c: float = 1.0) -> Column:
    lam = cf / F.lit(float(num_docs))
    tfn = tf * F.log2(F.lit(1.0) + F.lit(c) * F.lit(avg_doclen) / doclen)
    return (F.lit(1.0) / (tfn + F.lit(1.0))) * (
        tfn * F.log2(tfn / lam)
        + (lam - tfn) * F.lit(LOG2E)
        + F.lit(0.5) * F.log2(F.lit(2.0 * math.pi) * tfn)
    )


def dph_col(tf: Column, doclen: Column, cf: Column, num_docs: int, avg_doclen: float) -> Column:
    f = tf / doclen
    norm = (F.lit(1.0) - f) * (F.lit(1.0) - f) / (tf + F.lit(1.0))
    return norm * (
        tf * F.log2((tf * F.lit(avg_doclen) / doclen) * (F.lit(float(num_docs)) / cf))
        + F.lit(0.5) * F.log2(F.lit(2.0 * math.pi) * tf * (F.lit(1.0) - f))
    )


def quantized_col(impact: Column, query_weight: Column) -> Column:
    """Quantized dot product (reference ``quantized`` scorer used for
    learned-sparse indexes): sum of int(doc impact) * int(query weight)
    (exact arithmetic pinned by reference ``tests/test_dict.py:49-79``)."""
    return (impact * query_weight).cast("double")


# ----------------------------------------------------------------- numpy path

def bm25_np(tf: np.ndarray, doclen: np.ndarray, df_: float, num_docs: int,
             avg_doclen: float, k1: float = 0.9, b: float = 0.4) -> np.ndarray:
    # np.maximum/np.log keep this valid for scalar OR per-posting-array df_
    idf = np.maximum(IDF_EPS, np.log((num_docs - df_ + 0.5) / (df_ + 0.5)))
    return idf * (k1 + 1.0) * tf / (tf + k1 * (1.0 - b + b * doclen / avg_doclen))


def bm25_max_score(df_: float, num_docs: int, k1: float = 0.9, b: float = 0.4) -> float:
    """Upper bound of the per-posting BM25 partial as tf -> inf, dl -> 0:
    idf * (k1 + 1). Used as a cheap scalar bound; the stored per-term
    max_score (exact max over postings) is tighter and preferred."""
    idf = max(IDF_EPS, math.log((num_docs - df_ + 0.5) / (df_ + 0.5)))
    return idf * (k1 + 1.0)


def qld_np(tf, doclen, cf_, total_doclen, mu=1000.0):
    return np.log(1.0 + tf * total_doclen / (mu * cf_)) + np.log(mu / (doclen + mu))


def pl2_np(tf, doclen, cf_, num_docs, avg_doclen, c=1.0):
    lam = cf_ / float(num_docs)
    tfn = tf * np.log2(1.0 + c * avg_doclen / doclen)
    return (1.0 / (tfn + 1.0)) * (
        tfn * np.log2(tfn / lam) + (lam - tfn) * LOG2E + 0.5 * np.log2(2.0 * math.pi * tfn)
    )


def dph_np(tf, doclen, cf_, num_docs, avg_doclen):
    f = tf / doclen
    norm = (1.0 - f) ** 2 / (tf + 1.0)
    return norm * (
        tf * np.log2((tf * avg_doclen / doclen) * (num_docs / cf_))
        + 0.5 * np.log2(2.0 * math.pi * tf * (1.0 - f))
    )


SCORERS = ("bm25", "dph", "pl2", "qld", "quantized")


# ------------------------------------------------- scorer registry (kernels)

def term_stat_col(scorer: str) -> str:
    """Which per-term lexicon statistic the scorer's partial needs: bm25 uses
    df; the DFR/LM scorers use cf; quantized needs none (df as placeholder)."""
    return "df" if scorer in ("bm25", "quantized") else "cf"


def np_partial_fn(scorer: str, stats: dict, k1: float = 0.9, b: float = 0.4,
                  mu: float = 1000.0, c: float = 1.0):
    """Vectorized per-posting partial scorer ``f(tf, doclen, term_stat) ->
    partials`` for the pruned kernel and LocalSearcher — the SAME arithmetic as the
    Column path (``attach_scores``), per the reference contract that every
    scorer runs under every retrieval algorithm (``tests/test_variants.py:
    7-28``, scorer wiring ``_pisathon.cpp:222-240``)."""
    n, avgdl, total = stats["num_docs"], stats["avg_doclen"], stats.get("total_doclen")
    if scorer == "bm25":
        return lambda tf, dl, st: bm25_np(tf, dl, st, n, avgdl, k1, b)
    if scorer == "qld":
        return lambda tf, dl, st: qld_np(tf, dl, st, total, mu)
    if scorer == "pl2":
        return lambda tf, dl, st: pl2_np(tf, dl, st, n, avgdl, c)
    if scorer == "dph":
        return lambda tf, dl, st: dph_np(tf, dl, st, n, avgdl)
    if scorer == "quantized":
        return lambda tf, dl, st: tf  # impact; query weight applied by caller
    raise ValueError(f"unknown scorer {scorer!r}")


def scorer_cache_key(scorer: str, k1: float = 0.9, b: float = 0.4,
                     mu: float = 1000.0, c: float = 1.0) -> str:
    """Filesystem-safe cache key for scorer-derived index artifacts
    (term max-scores), mirroring the reference's per-(scorer, params) WAND
    data files (``_pisathon.cpp:229-255`` quantized/bmw cache keys)."""
    if scorer == "bm25":
        return f"bm25_k1_{k1}_b_{b}".replace(".", "p")
    if scorer == "qld":
        return f"qld_mu_{mu}".replace(".", "p")
    if scorer == "pl2":
        return f"pl2_c_{c}".replace(".", "p")
    return scorer
