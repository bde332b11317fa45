"""Tokenization + stemming — the engine's only per-row "UDF" surface.

Semantics mirror the reference's ``EnglishTokenizer``: lowercase alphanumeric
word tokens, punctuation dropped (``'hello worlds!' -> ['hello','worlds']``,
reference ``README.md:125-127``, ``_pisathon.cpp:612-632``), optional Porter2
stemming (reference default stemmer, ``__init__.py:117``), newline/CR scrub
before tokenization (reference ``indexers.py:74``).

Everything is Arrow-vectorized: the only Python loop is over tokens inside a
pandas batch, with a memoized stemmer (Zipfian vocab => high hit rate). No
row-at-a-time ``udf()`` anywhere (BASELINE.json input_hint: "vectorized
pandas/Arrow UDFs (no per-row Python)").
"""

from __future__ import annotations

import re
from collections import Counter

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .porter2 import CachedStemmer

# Reference tokenizer: maximal runs of lowercase alphanumerics after
# lowercasing (pisa EnglishTokenizer semantics pinned by
# reference tests/test_tokenize.py:10-11).
_TOKEN_RE = re.compile(r"[a-z0-9]+")


class _SepMap(dict):
    """str.translate table: keep [a-z0-9], map EVERY other codepoint to a
    space (``__missing__`` covers the whole unicode range without
    enumerating it; ASCII stays a C-speed dict hit)."""

    def __missing__(self, cp: int) -> str:  # rare non-ASCII chars only
        return " "


_SEP_MAP = _SepMap(
    {cp: (chr(cp) if ("a" <= chr(cp) <= "z" or "0" <= chr(cp) <= "9") else " ")
     for cp in range(128)})


def _fast_tokens(lowered: str) -> list[str]:
    """Exactly ``_TOKEN_RE.findall(lowered)`` (every non-[a-z0-9] codepoint
    separates tokens), ~2x faster via C-side translate+split."""
    return lowered.translate(_SEP_MAP).split()

STEMMERS = ("porter2", "none")

# The reference also enumerates 'krovetz' (``__init__.py:45``, wired to the
# Lemur KStem C++ in ``_pisathon.cpp:145-148``). KStem is a DICTIONARY-driven
# stemmer: faithful behavior requires the Lemur head-word dictionary (tens of
# thousands of entries), which is data we deliberately do not vendor; a
# rules-only approximation would silently diverge from the reference and
# corrupt cross-engine index compatibility. Requests fail loudly instead.
_KROVETZ_MSG = (
    "stemmer 'krovetz' is not implemented: KStem requires the Lemur "
    "dictionary (not vendored). Use stemmer='porter2' (the reference "
    "default) or stemmer='none', or pre-tokenize the corpus (toks path) "
    "with your own Krovetz implementation."
)


def _check_stemmer(stemmer: str) -> None:
    if stemmer == "krovetz":
        raise NotImplementedError(_KROVETZ_MSG)
    if stemmer not in STEMMERS:
        raise ValueError(f"unknown stemmer {stemmer!r}; choose from {STEMMERS}")


def tokenize_text(text: str, stemmer: str = "porter2") -> list[str]:
    """Driver-side single-string tokenize (reference ``tokenize()`` public fn,
    ``__init__.py:546-555``). Used for query parsing and tests."""
    if text is None:
        return []
    toks = _fast_tokens(text.lower())
    if stemmer == "porter2":
        st = CachedStemmer()
        toks = [st(t) for t in toks]
    return toks


def tokenize_udf(stemmer: str = "porter2"):
    """``content:string -> array<string>`` Arrow-batched pandas UDF."""
    _check_stemmer(stemmer)
    use_stem = stemmer == "porter2"

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _tokenize(content: pd.Series) -> pd.Series:
        st = CachedStemmer()
        findall = _fast_tokens
        if use_stem:
            return content.map(
                lambda x: [st(t) for t in findall(x.lower())] if x is not None else []
            )
        return content.map(lambda x: findall(x.lower()) if x is not None else [])

    return _tokenize


_TERMVEC_SCHEMA = T.StructType(
    [
        T.StructField("terms", T.ArrayType(T.StringType())),
        T.StructField("tfs", T.ArrayType(T.IntegerType())),
        T.StructField("doclen", T.LongType()),
    ]
)


def termvec_udf(stemmer: str = "porter2"):
    """``content:string -> struct<terms:array<string>, tfs:array<int>, doclen:long>``.

    Computes term frequencies map-side inside the UDF (one pass, no
    tokens-explode/groupBy shuffle for tf) — the Spark-first equivalent of the
    reference's forward-index batch parse (``_pisathon.cpp:126-178``).
    ``doclen`` = total token count = sum(tfs), matching the reference's
    ``inv.sizes`` doclen semantics (``indexers.py:115``).
    """
    _check_stemmer(stemmer)
    use_stem = stemmer == "porter2"

    @F.pandas_udf(_TERMVEC_SCHEMA)
    def _termvec(content: pd.Series) -> pd.DataFrame:
        # Batch-vectorized: the only per-TOKEN work is C-side (translate+split,
        # pandas hash factorize, numpy unique/sort). Python-level loops run
        # per DOC (regex calls, output slicing) and per batch-UNIQUE token
        # (stemming, memoized process-wide) — by Zipf's law both are orders
        # of magnitude smaller than the token count.
        import itertools

        import numpy as np

        st = CachedStemmer()
        findall = _fast_tokens
        n = len(content)
        tok_lists = [findall(x.lower()) if isinstance(x, str) else []
                     for x in content]
        lens = np.fromiter((len(t) for t in tok_lists), dtype=np.int64, count=n)
        total = int(lens.sum())
        if total == 0:
            empty: list = [[] for _ in range(n)]
            return pd.DataFrame({"terms": empty, "tfs": [list(e) for e in empty],
                                 "doclen": lens})
        flat = np.fromiter(itertools.chain.from_iterable(tok_lists),
                           dtype=object, count=total)
        codes, uniques = pd.factorize(flat, sort=False)
        if use_stem:
            # stem ONLY the batch-unique vocabulary, then re-factorize (two
            # raw tokens may share a stem and must merge their counts)
            stems = np.asarray(st.stem_unique(uniques), dtype=object)
            stem_code_of_unique, vocab = pd.factorize(stems, sort=False)
            term_codes = stem_code_of_unique[codes]
        else:
            term_codes, vocab = codes, np.asarray(uniques, dtype=object)
        nv = len(vocab)
        doc_idx = np.repeat(np.arange(n, dtype=np.int64), lens)
        # (doc, term) count via one C-side sort over composite keys
        key = doc_idx * nv + term_codes
        uk, tfs = np.unique(key, return_counts=True)
        out_doc = uk // nv
        term_objs = vocab[uk % nv]
        bounds = np.searchsorted(out_doc, np.arange(n + 1, dtype=np.int64))
        terms_out = [term_objs[a:b].tolist() for a, b in zip(bounds[:-1], bounds[1:])]
        tfs_out = [tfs[a:b].tolist() for a, b in zip(bounds[:-1], bounds[1:])]
        return pd.DataFrame({"terms": terms_out, "tfs": tfs_out, "doclen": lens})

    return _termvec


_DICTTOKS_SCHEMA = T.MapType(T.StringType(), T.DoubleType())


def dict_tokenizer_udf(stemmer=None):
    """Reference ``DictTokeniser`` (``__init__.py:558-567``): lowercase word
    tokens kept if ``isalnum()``, counted into a ``map<string,double>`` bag.
    We use the same alnum-token semantics via regex (the reference uses nltk
    ``word_tokenize`` then filters ``isalnum()``; for space/punct-separated
    text the surviving tokens coincide). ``stemmer`` mirrors the reference's
    per-token callable (identity when None); the string names
    'porter2'/'none' select the built-in stemmers."""
    if isinstance(stemmer, str):
        _check_stemmer(stemmer)
    stem_name = stemmer if isinstance(stemmer, str) else None

    @F.pandas_udf(_DICTTOKS_SCHEMA)
    def _dicttoks(content: pd.Series) -> pd.Series:
        findall = _fast_tokens
        if stem_name == "porter2":
            sfn = CachedStemmer()
        elif callable(stemmer):
            sfn = stemmer
        else:
            sfn = None
        if sfn is None:
            return content.map(
                lambda x: dict(Counter(findall(x.lower()))) if x is not None else {}
            )
        return content.map(
            lambda x: dict(Counter(sfn(t) for t in findall(x.lower())))
            if x is not None else {}
        )

    return _dicttoks


class DictTokeniser:
    """Transformer-class parity with the reference's ``DictTokeniser``
    (``__init__.py:558-567``, a ``pt.Transformer``): ``transform(df)`` adds a
    ``{field}_toks`` map<token,count> column. Accepts a Spark DataFrame
    (Arrow-vectorized ``dict_tokenizer_udf``) or a pandas DataFrame (the
    reference's own input type). ``stemmer`` may be a per-token callable
    (reference signature) or a built-in stemmer name ('porter2'/'none')."""

    def __init__(self, field: str = "text", stemmer=None):
        self.field = field
        self.stemmer = stemmer

    def transform(self, inp):
        from pyspark.sql import DataFrame as SparkDataFrame

        if isinstance(inp, SparkDataFrame):
            if self.field not in inp.columns:
                raise ValueError(f"DictTokeniser: input lacks column {self.field!r}")
            return inp.withColumn(
                f"{self.field}_toks", dict_tokenizer_udf(self.stemmer)(F.col(self.field))
            )
        # pandas path (reference behavior)
        if self.field not in inp.columns:
            raise ValueError(f"DictTokeniser: input lacks column {self.field!r}")
        if isinstance(self.stemmer, str):
            _check_stemmer(self.stemmer)
            sfn = CachedStemmer() if self.stemmer == "porter2" else (lambda t: t)
        else:
            sfn = self.stemmer or (lambda t: t)
        findall = _fast_tokens
        return inp.assign(**{
            f"{self.field}_toks": inp[self.field].map(
                lambda x: dict(Counter(sfn(t) for t in findall(x.lower()))))
        })

    __call__ = transform

    def __repr__(self) -> str:
        return f"DictTokeniser(field={self.field!r})"


def tokenize_queries(
    queries: list[tuple[str, str]], stemmer: str = "porter2", stopwords: frozenset | None = None
) -> list[tuple[str, str, float]]:
    """Driver-side query parse (queries are tiny): returns
    ``[(qid, term, weight)]`` with stopwords dropped *query-side only*
    (reference applies stopword filtering to parsed query terms, never to the
    index: ``_pisathon.cpp:501``; skipped for pretokenized queries,
    ``_pisathon.cpp:463-492``). Repeated terms accumulate weight (reference
    repeats the term in the query; sum-over-repeats == weighted sum)."""
    out: list[tuple[str, str, float]] = []
    for qid, qtext in queries:
        acc: Counter = Counter()
        for t in tokenize_text(qtext, stemmer=stemmer):
            if stopwords and t in stopwords:
                continue
            acc[t] += 1
        out.extend((qid, term, float(w)) for term, w in acc.items())
    return out
