"""Corpus sources.

1. ``synth_code_corpus`` — deterministic synthetic source-code corpus with the
   exact input_hint shape ``(repo, path, commit, lang, content)``
   (BASELINE.json; FIXTURES.md §1): Zipfian token distribution (exercises the
   build's skew handling), keywords/identifiers/punctuation/newlines
   (exercises the tokenizer scrub, reference ``indexers.py:74``).
   Generated distributed (mapInPandas over an id range), no driver-side
   materialization — the same generator scales to any row count.

2. ``load_documents`` — adapter for the driver testdata ``documents`` table
   ``(doc_id, text, lang, source, n_chars)`` -> the engine's corpus shape.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_KEYWORDS = [
    "def", "return", "if", "else", "for", "while", "import", "class", "self",
    "none", "true", "false", "try", "except", "raise", "with", "lambda",
    "yield", "assert", "pass", "break", "continue", "in", "not", "and", "or",
    "is", "from", "as", "print", "len", "range", "int", "str", "list", "dict",
]
_IDENT_STEMS = [
    "parse", "build", "index", "query", "score", "merge", "shard", "token",
    "stream", "buffer", "cache", "config", "handler", "worker", "batch",
    "record", "field", "value", "result", "partition", "offset", "writer",
    "reader", "codec", "block", "posting", "term", "doc", "lexicon", "engine",
]
_LANGS = ["py", "java", "c", "js", "go"]


def _vocab() -> list[str]:
    vocab = list(_KEYWORDS)
    for s in _IDENT_STEMS:
        vocab.append(s)
        vocab.append(s + "s")
        vocab.append(s + "_id")
        vocab.append("get_" + s)
        vocab.append(s + "_count")
    for i in range(400):
        vocab.append(f"var{i}")
    return vocab


def synth_code_corpus(
    spark: SparkSession,
    num_docs: int = 1000,
    seed: int = 42,
    avg_tokens: int = 120,
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic (seeded, partition-independent) synthetic corpus.

    Layout mirrors a column-prunable source: the metadata columns
    (repo/path/commit/lang — everything ``docno`` derives from) are pure JVM
    Column expressions over the id range, and only ``content`` crosses the
    Python boundary (a pandas UDF of the id alone). Consumers that project
    metadata — e.g. ``prepare_corpus``'s docno pass — therefore never run
    the content generator at all, exactly like a pruned parquet scan
    (guide §4.1: pass only the columns the function needs). Per-doc content
    is byte-identical to the pre-r6 mapInPandas generator (same per-doc
    seeded rng stream)."""
    from pyspark.sql import functions as F

    vocab = _vocab()
    nv = len(vocab)
    # Zipf-ish weights over the vocabulary
    ranks = np.arange(1, nv + 1, dtype=np.float64)
    probs = (1.0 / ranks) / np.sum(1.0 / ranks)
    if num_partitions is None:
        num_partitions = min(spark.sparkContext.defaultParallelism, max(1, num_docs // 50))

    base = spark.range(0, num_docs, 1, num_partitions)
    i = F.col("id")
    lang = F.element_at(F.array(*[F.lit(x) for x in _LANGS]),
                        (i % len(_LANGS)).cast("int") + 1)
    repo = F.concat(F.lit("org"), (i % 13).cast("string"),
                    F.lit("/proj"), (i % 7).cast("string"))
    path = F.concat(F.lit("src/mod_"), (i % 29).cast("string"),
                    F.lit("/file_"), i.cast("string"), F.lit("."), lang)
    commit = F.sha1(F.concat(repo, F.lit("/"), path, F.lit(f"#{seed}")))

    @F.pandas_udf("string")
    def _content(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            rng = np.random.default_rng(seed * 1_000_003 + i)  # per-doc seed: order-independent
            n_tok = max(5, int(rng.poisson(avg_tokens)))
            idx = rng.choice(nv, size=n_tok, p=probs)
            toks = [vocab[j] for j in idx]
            lines = []
            for s in range(0, n_tok, 8):
                lines.append(" ".join(toks[s : s + 8]) + ("();" if s % 16 else ":"))
            out.append("\n".join(lines))
        return pd.Series(out, dtype=object)

    return base.select(
        repo.alias("repo"), path.alias("path"), commit.alias("commit"),
        lang.alias("lang"), _content(i).alias("content"))


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver testdata ``documents`` -> corpus shape with ``docno``/``content``.
    docno = doc_id as string (stable external key)."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return df.select(
        F.col("doc_id").cast("string").alias("docno"),
        F.col("text").alias("content"),
        "lang",
    ).withColumn("content_sha256", F.sha2(F.col("content"), 256))
