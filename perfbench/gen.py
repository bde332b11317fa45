"""Seeded input generator owned by the benchmark.

The program under test only ever sees what this module writes: a parquet
corpus in the source-code shape ``(repo, path, commit, lang, content)`` and
lists of ``(qid, query)`` pairs. Queries are drawn from the generator's own
vocabulary ranks, never from a built lexicon, so a change to the index
cannot change the inputs.

Shape:
  vocabulary  a head of code keywords, then synthesized identifiers
              (syllable strings, unique by construction), Zipf s=1.1 over
              ranks
  documents   lognormal token counts, mean ~250 tokens, joined by the
              separators ``_ . ( ) ; , =``, spaces and newlines
Generated inputs are cached under ``<root>/.perfbench_cache`` keyed by
(generator version, seed, size), because generation is excluded from every
timed figure.
"""

from __future__ import annotations

import json
import os
import re
import shutil

import numpy as np

GENERATOR_VERSION = 2
ZIPF_S = 1.1
MEAN_DOC_TOKENS = 250
DOC_LEN_SIGMA = 0.9
KEYWORDS = (
    "def return import class self none true false int str len list dict "
    "print range yield lambda assert raise try except finally with async "
    "await pass break continue elif else while for static void public "
    "private const let var func struct impl fn match"
).split()
OOV_TERM = "zqxjv"  # q and x are never generated: absent from every lexicon
STOPWORD_TERMS = ("the", "of", "and", "between")
_CONSONANTS = "bcdfghklmnprstvwz"
_VOWELS = "aeiou"
_SEPARATORS = np.array([" ", " ", " ", "_", ".", "(", ")", ";", ",", "=", "\n"],
                       dtype=object)
_TOKEN_RE = re.compile(r"[a-z0-9]+")


def vocabulary(seed: int, num_identifiers: int) -> list[str]:
    """Keyword head followed by ``num_identifiers`` distinct identifiers.

    Identifier ``i`` spells the base-64 digits of ``i + 64`` with a
    seed-permuted table of 64 two-letter syllables; fixed-width syllables
    make the spelling uniquely decodable, so identifiers never collide."""
    rng = np.random.default_rng([seed, 1])
    sylls = [c + v for c in _CONSONANTS for v in _VOWELS]
    table = [sylls[j] for j in rng.permutation(len(sylls))[:64]]
    taken = set(KEYWORDS)
    out = list(KEYWORDS)
    i = 0
    while len(out) < len(KEYWORDS) + num_identifiers:
        n, parts = i + 64, []
        while n:
            n, d = divmod(n, 64)
            parts.append(table[d])
        word = "".join(reversed(parts))
        if i % 5 == 3:
            word += str(i % 10)
        if word not in taken:
            out.append(word)
        i += 1
    return out


def _zipf_cdf(n: int) -> np.ndarray:
    w = np.arange(1, n + 1, dtype=np.float64) ** -ZIPF_S
    cdf = np.cumsum(w)
    return cdf / cdf[-1]


def _documents(rng, vocab: np.ndarray, num_docs: int) -> list[str]:
    mu = np.log(MEAN_DOC_TOKENS) - DOC_LEN_SIGMA ** 2 / 2
    lens = np.clip(rng.lognormal(mu, DOC_LEN_SIGMA, num_docs), 4, 8000).astype(np.int64)
    ids = np.searchsorted(_zipf_cdf(len(vocab)), rng.random(int(lens.sum())))
    seps = rng.integers(0, len(_SEPARATORS), ids.size)
    flat = np.empty(2 * ids.size, dtype=object)
    flat[0::2] = vocab[ids]
    flat[1::2] = _SEPARATORS[seps]
    ends = 2 * np.cumsum(lens)
    starts = ends - 2 * lens
    return ["".join(flat[s:e]) for s, e in zip(starts.tolist(), ends.tolist())]


def _deal(rng, ranks: np.ndarray, sizes: list[int]) -> list[list[int]]:
    """Shuffle a fixed multiset of ranks and deal it into queries of the
    given sizes, swapping ranks between queries until no two queries are
    equal. Every seed then draws the same ranks, so the cost of a query set
    varies little from seed to seed, while which terms meet in one query
    does vary."""
    ranks = ranks[rng.permutation(len(ranks))]
    ends = np.cumsum(sizes)
    starts = ends - np.asarray(sizes)

    def dup() -> int | None:
        seen = set()
        for i, (s, e) in enumerate(zip(starts, ends)):
            k = tuple(sorted(ranks[s:e].tolist()))
            if k in seen:
                return i
            seen.add(k)
        return None

    while (i := dup()) is not None:
        a = int(rng.integers(starts[i], ends[i]))
        b = int(rng.integers(len(ranks)))
        ranks[a], ranks[b] = ranks[b], ranks[a]
    return [ranks[s:e].tolist() for s, e in zip(starts, ends)]


def _topics(rng, vocab: list[str], n: int, hot: int) -> list[tuple[str, str]]:
    """``n`` distinct queries of 2-4 distinct terms from the ``hot`` most
    frequent identifiers (the ranks right after the keyword head): a third
    of each size, over ranks spread evenly across the hot range."""
    sizes = [2 + i % 3 for i in range(n)]
    total = sum(sizes)
    ranks = ((np.arange(total) + 0.5) * hot / total).astype(np.int64) + len(KEYWORDS)
    return [(f"t{i}", " ".join(vocab[r] for r in q))
            for i, q in enumerate(_deal(rng, ranks, sizes))]


def _pool(rng, vocab: list[str], n: int, odd_share: float) -> list[tuple[str, str]]:
    """``n`` distinct queries of 1-4 terms over the whole vocabulary, a
    quarter of each size, with term ranks at evenly spaced quantiles of the
    Zipf distribution; ``odd_share`` of them get one term replaced by an
    OOV term or a stopword."""
    sizes = [1 + i % 4 for i in range(n)]
    total = sum(sizes)
    ranks = np.searchsorted(_zipf_cdf(len(vocab)), (np.arange(total) + 0.5) / total)
    queries = [[vocab[r] for r in q] for q in _deal(rng, ranks, sizes)]
    odd = rng.choice(n, int(round(odd_share * n)), replace=False)
    for j, i in enumerate(sorted(odd.tolist())):
        q = queries[i]
        q[int(rng.integers(len(q)))] = OOV_TERM if j % 2 == 0 else \
            STOPWORD_TERMS[j // 2 % len(STOPWORD_TERMS)]
        texts = {" ".join(other) for other in queries if other is not q}
        if len(q) == 1 or " ".join(q) in texts:  # one real term, still distinct
            q.append(vocab[len(KEYWORDS) + 1000 + i])
    return [(f"q{i}", " ".join(q)) for i, q in enumerate(queries)]


def generate(root: str, seed: int, num_docs: int, num_identifiers: int,
             num_topics: int, hot_terms: int, pool_size: int,
             odd_share: float = 0.05) -> dict:
    """Create (or reuse) the inputs for one (seed, size) and return their
    description: ``corpus`` (parquet path), ``num_docs``, ``content_bytes``,
    ``tokens`` (an independent ``[a-z0-9]+`` count of the lowercased
    content), ``topics`` and ``pool``."""
    key = (f"v{GENERATOR_VERSION}-s{seed}-n{num_docs}-v{num_identifiers}"
           f"-t{num_topics}x{hot_terms}-p{pool_size}")
    cache = os.path.join(root, ".perfbench_cache", key)
    desc_path = os.path.join(cache, "inputs.json")
    if os.path.exists(desc_path):
        with open(desc_path) as fh:
            return json.load(fh)

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    vocab = vocabulary(seed, num_identifiers)
    docs = _documents(rng, np.array(vocab, dtype=object), num_docs)
    commits = rng.integers(0, 1 << 62, num_docs)
    langs = np.array(["python", "java", "go", "javascript", "rust"], dtype=object)
    table = pa.table({
        "repo": [f"org{i % 37}/repo{i % 211}" for i in range(num_docs)],
        "path": [f"src/m{i // 256}/f{i}.py" for i in range(num_docs)],
        "commit": [f"{c:016x}" for c in commits.tolist()],
        "lang": langs[rng.integers(0, len(langs), num_docs)].tolist(),
        "content": docs,
    })
    tokens = sum(len(_TOKEN_RE.findall(d.lower())) for d in docs)
    content_bytes = sum(len(d.encode()) for d in docs)
    desc = {
        "key": key,
        "corpus": os.path.join(cache, "corpus.parquet"),
        "num_docs": num_docs,
        "content_bytes": content_bytes,
        "tokens": tokens,
        "topics": _topics(rng, vocab, num_topics, hot_terms),
        "pool": _pool(rng, vocab, pool_size, odd_share),
    }
    tmp = cache + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(table, os.path.join(tmp, "corpus.parquet"), row_group_size=4096)
    with open(os.path.join(tmp, "inputs.json"), "w") as fh:
        json.dump(desc, fh)
    shutil.rmtree(cache, ignore_errors=True)
    os.replace(tmp, cache)
    return desc
