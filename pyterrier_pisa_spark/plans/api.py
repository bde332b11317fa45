"""Reference-parity user API: ``PisaSparkIndex`` mirrors the reference's
``PisaIndex`` (``__init__.py:100-420``) and ``SparkRetriever`` its
``PisaRetrieve`` transformer (``__init__.py:427-530``) — a user of the
reference switches by renaming the class and passing Spark DataFrames (or
plain ``[(qid, text)]`` lists / pandas frames) where the reference takes
pandas.

    idx = PisaSparkIndex("/data/idx", spark=spark)
    idx.index(corpus_df)                      # build (mode='create')
    res = idx.bm25(num_results=100).search("chemical reactions")
    res = idx.dph().transform(queries_df)     # any scorer
    fast = idx.bm25(precompute_impact=True)   # quantized impacts (B9)

Every retriever runs on the persisted block index: ``query_algorithm=``
'block_max_wand' (default), 'block_max_maxscore', 'maxscore', 'wand' and
'batch' all run the one pruned kernel (``operators.wand.retrieve_blockmax``);
'ranked_or' / 'ranked_and' run the exhaustive DataFrame plans.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from enum import Enum

from ..functions.stopwords import DEFAULT_STOPWORDS
from ..functions.tokenizer import tokenize_text


class PisaStemmer(Enum):
    """Reference ``PisaStemmer`` (``__init__.py:27-51``). krovetz is accepted
    by the enum for signature parity; selecting it raises the documented
    out-of-scope error at tokenize time."""
    none = "none"
    porter2 = "porter2"
    krovetz = "krovetz"


class PisaScorer(Enum):
    """Reference ``PisaScorer`` (``__init__.py:53-70``)."""
    bm25 = "bm25"
    dph = "dph"
    pl2 = "pl2"
    qld = "qld"
    quantized = "quantized"


class PisaIndexEncoding(Enum):
    """Posting storage variants (reference ``PisaIndexEncoding`` lists 14
    SIMD variants, ``__init__.py:72-89``; the reference's own test matrix
    proves encodings are rank-preserving storage variants). Every index has
    one layout, Parquet ``array<int>`` posting lists; a name selects only the
    Parquet writer settings (``operators/codec.py``): varint = dictionary
    pages + zstd (the default), bytepack = plain fixed-width pages + zstd,
    bitpack = the v2 writer's DELTA_BINARY_PACKED (bit-packed miniblocks,
    the block_simdbp family) + zstd."""
    varint = "varint"
    bytepack = "bytepack"
    bitpack = "bitpack"


class PisaQueryAlgorithm(Enum):
    """Reference ``PisaQueryAlgorithm`` (``__init__.py:93-105``) plus this
    engine's batch name. Every name in ``PRUNED_ALGORITHMS`` runs the one
    pruned kernel (same exact-pruning core); ranked_or/ranked_and are the
    exhaustive DataFrame plans."""
    wand = "wand"
    block_max_wand = "block_max_wand"
    block_max_maxscore = "block_max_maxscore"
    maxscore = "maxscore"
    ranked_and = "ranked_and"
    ranked_or = "ranked_or"
    batch = "batch"


# query_algorithm names and what runs them: the CLI and SparkRetriever
# dispatch from these two tuples
PRUNED_ALGORITHMS = ("block_max_wand", "block_max_maxscore", "maxscore", "wand",
                     "batch")
EXHAUSTIVE_ALGORITHMS = ("ranked_or", "ranked_and")


class PisaStopwords(Enum):
    """Reference ``PisaStopwords`` (``__init__.py:107-113``)."""
    terrier = "terrier"
    lucene = "lucene"
    none = "none"


class PisaIndexingMode(Enum):
    """Reference ``indexers.py:20-23``."""
    create = "create"
    overwrite = "overwrite"


def _val(x):
    """Enums and their string values are interchangeable everywhere."""
    return x.value if isinstance(x, Enum) else x


PISA_INDEX_DEFAULTS = {
    # reference PISA_INDEX_DEFAULTS (__init__.py:117-123): Terrier stop list,
    # porter2 stemmer, block_max_wand
    "stemmer": "porter2",
    "stops": DEFAULT_STOPWORDS,
    "query_algorithm": "block_max_wand",
}


def pisa_artifact_metadata_adapter(path: str, dir_listing: list) -> dict | None:
    """Sniff a directory as a (legacy) PISA index (reference
    ``pisa_metadata_adapter.py:1-13``): pre-``pt_meta.json`` reference
    indexes carried ``pt_pisa_config.json`` instead. Returns the same
    artifact-metadata dict the reference guesses, else None."""
    if "pt_pisa_config.json" in dir_listing:
        return {
            "type": "sparse_index",
            "format": "pisa",
            "package_hint": "pyterrier-pisa",
        }
    return None


def _legacy_config(path: str) -> dict | None:
    """Read a legacy ``pt_pisa_config.json`` (or a ``pt_meta.json``) if one
    sits at ``path`` — reference ``__init__.py:160-171`` honors the stored
    stemmer from either and warns on mismatch."""
    for name in ("pt_pisa_config.json", "pt_meta.json"):
        p = os.path.join(path, name)
        if os.path.exists(p):
            try:
                with open(p) as fin:
                    return json.load(fin)
            except (OSError, ValueError):
                return None
    return None


# Query frames are tiny by the reference contract (it takes pandas); the
# driver-side parse collects them. The cap catches a misrouted corpus-sized
# frame BEFORE it lands on the driver: limit(cap+1).collect() never pulls
# more than cap+1 rows, so the check itself cannot OOM.
MAX_DRIVER_QUERIES = 200_000


def _as_query_list(queries) -> tuple[bool, list]:
    """Accept [(qid, text)] / [(qid, {term: weight})], pandas DataFrame, or
    Spark DataFrame with (qid, query) or (qid, query_toks) — queries are tiny
    by contract (reference takes pandas). Returns (pretokenized, rows):
    a ``query_toks`` column (dict term -> float weight, reference
    ``__init__.py:485-492``) selects the pretokenized path."""
    if isinstance(queries, DataFrame):
        cols = ["qid", "query_toks"] if "query_toks" in queries.columns \
            else ["qid", "query"]
        rows = queries.select(*cols).limit(MAX_DRIVER_QUERIES + 1).collect()
        if len(rows) > MAX_DRIVER_QUERIES:
            raise ValueError(
                f"queries frame exceeds {MAX_DRIVER_QUERIES} rows — the "
                "retriever parses queries driver-side (reference contract: "
                "pandas-sized query sets), whatever its query_algorithm. "
                f"Split the queries into batches of at most {MAX_DRIVER_QUERIES} "
                "rows and transform each.")
        if cols[1] == "query_toks":
            return True, [(r["qid"], dict(r["query_toks"])) for r in rows]
        return False, [(r["qid"], r["query"]) for r in rows]
    try:
        import pandas as pd

        if isinstance(queries, pd.DataFrame):
            if "query_toks" in queries.columns:
                for t in queries["query_toks"]:
                    if not isinstance(t, dict):
                        raise TypeError("query_toks column should be a dictionary")
                return True, list(zip(queries["qid"].astype(str), queries["query_toks"]))
            return False, list(zip(queries["qid"].astype(str), queries["query"]))
    except ImportError:  # pragma: no cover
        pass
    rows = list(queries)
    if rows and isinstance(rows[0][1], dict):
        return True, [(str(q), t) for q, t in rows]
    return False, [(str(q), t) for q, t in rows]


class SparkRetriever:
    """The reference's ``PisaRetrieve`` transformer: ``transform(queries)``
    and ``search(text)`` sugar (R17). ``transform`` accepts raw-text frames
    AND pretokenized ``query_toks`` frames (learned-sparse querying,
    reference ``__init__.py:480-495``) with ``toks_scale`` weight scaling.

    ``verbose``/``threads`` are accepted for signature parity and ignored
    (Spark's UI/task scheduler owns progress + parallelism here);
    ``query_weighted`` likewise — the reference realizes query weights by
    REPEATING term ids (``_pisathon.cpp:486-489`` — "PISA doesn't use the
    query_weights"), which is exactly what the weight-as-multiplier qweight
    column computes on both of this engine's paths."""

    def __init__(self, index: "PisaSparkIndex", scorer: str, num_results: int,
                 query_algorithm: str, stops, query_weighted: bool | None = None,
                 toks_scale: float = 100.0, verbose: bool = False,
                 threads: int | None = None, **scorer_params):
        self.index = index
        self.scorer = _val(scorer)
        self.num_results = num_results
        self.query_algorithm = _val(query_algorithm)
        self.stops = _val(stops)
        self.query_weighted = (self.scorer == "quantized") if query_weighted is None \
            else query_weighted
        self.toks_scale = toks_scale
        self.verbose = verbose      # parity no-op
        self.threads = threads      # parity no-op
        self.scorer_params = scorer_params

    def fuse_rank_cutoff(self, k: int) -> "SparkRetriever | None":
        """PyTerrier rank-cutoff fusion (reference ``__init__.py:475-479``):
        a downstream ``% k`` folds into the retriever itself when smaller."""
        if k < self.num_results:
            return SparkRetriever(self.index, self.scorer, k,
                                  self.query_algorithm, self.stops,
                                  query_weighted=self.query_weighted,
                                  toks_scale=self.toks_scale,
                                  verbose=self.verbose, threads=self.threads,
                                  **self.scorer_params)
        return None

    def reset_retrieval_context(self, force: bool = False) -> None:
        """Reference ``__init__.py:454-473``: rebuild the cached retrieval
        context. Here the context is the index's persisted lexicon/term-stats
        caches plus the loaded table handles — drop and reload."""
        from ..sources.index_store import load_index

        if force or self.index._pidx is not None:
            try:
                self.index._pidx.lexicon.unpersist()
            except Exception:
                pass
            self.index._pidx = load_index(self.index.spark, self.index.path)

    def __repr__(self) -> str:
        return (f"SparkRetriever({self.index!r}, {self.scorer!r}, "
                f"num_results={self.num_results}, "
                f"query_algorithm={self.query_algorithm!r})")

    @classmethod
    def from_dataset(cls, spark: SparkSession, name: str, scorer="bm25",
                     num_results: int = 1000, query_algorithm=None,
                     stops=None, registry_dir: str | None = None,
                     **scorer_params) -> "SparkRetriever":
        """Retriever-level dataset convenience (reference
        ``PisaRetrieve.from_dataset``, ``__init__.py:527-528``): load a
        registered index by dataset name and return a ready retriever."""
        idx = PisaSparkIndex.from_dataset(spark, name, registry_dir)
        return cls(idx, _val(scorer) or "bm25", num_results,
                   _val(query_algorithm) or PISA_INDEX_DEFAULTS["query_algorithm"],
                   idx.stops if stops is None else _val(stops), **scorer_params)

    def transform(self, queries) -> DataFrame:
        pretok, qs = _as_query_list(queries)
        pidx = self.index._persisted()
        qkw = ({"queries_toks": qs, "toks_scale": self.toks_scale}
               if pretok else {})
        if self.query_algorithm in PRUNED_ALGORITHMS:
            from ..operators.wand import retrieve_blockmax

            return retrieve_blockmax(pidx, None if pretok else qs,
                                     k=self.num_results, scorer=self.scorer,
                                     stopwords=self.stops,
                                     **qkw, **self.scorer_params)
        if self.query_algorithm in EXHAUSTIVE_ALGORITHMS:
            from ..plans.pipeline import retrieve, retrieve_toks

            if pretok:
                if self.query_algorithm == "ranked_and":
                    raise ValueError("ranked_and is term-presence conjunctive; "
                                     "use ranked_or/batch/block_max_wand for "
                                     "pretokenized queries")
                return retrieve_toks(pidx.as_logical(), qs,
                                     toks_scale=self.toks_scale, k=self.num_results,
                                     scorer=self.scorer, **self.scorer_params)
            return retrieve(pidx.as_logical(), qs, scorer=self.scorer,
                            k=self.num_results, stopwords=self.stops,
                            mode=self.query_algorithm, **self.scorer_params)
        raise ValueError(f"unknown query_algorithm {self.query_algorithm!r}")

    # pyterrier-style sugar
    __call__ = transform

    def search(self, query: str) -> DataFrame:
        return self.transform([("1", query)])


class SparkIndexer:
    """Transformer-style indexer (reference ``PisaIndexer``/``PisaToksIndexer``,
    ``indexers.py:25-107``): holds (index, mode, options); ``index(corpus)``
    (alias ``transform``) runs the build. ``threads``/``batch_size`` are
    parity no-ops."""

    def __init__(self, index: "PisaSparkIndex", mode: str = "create",
                 pretokenized: bool = False, scale: float = 100.0,
                 threads: int | None = None, batch_size: int | None = None, **kw):
        self.index_ref = index
        self.mode = mode
        self.pretokenized = pretokenized
        self.scale = scale
        self.threads = threads        # parity no-op
        self.batch_size = batch_size  # parity no-op
        self.kw = kw

    def index(self, corpus: DataFrame) -> "PisaSparkIndex":
        if self.pretokenized:
            return self.index_ref.toks_index(corpus, scale=self.scale,
                                             mode=self.mode, **self.kw)
        return self.index_ref.index(corpus, mode=self.mode, **self.kw)

    transform = index
    __call__ = index

    def __repr__(self) -> str:
        kind = "toks_indexer" if self.pretokenized else "indexer"
        return f"SparkIndexer({self.index_ref!r}, mode={self.mode!r}, {kind})"


class PisaSparkIndex:
    """Reference ``PisaIndex`` parity over the persisted parquet block index."""

    def __init__(self, path: str, spark: SparkSession | None = None,
                 stemmer: str | None = None, stops=None, **build_defaults):
        self.path = path
        self.spark = spark or SparkSession.getActiveSession()
        stemmer, stops = _val(stemmer), _val(stops)
        if "encoding" in build_defaults:
            build_defaults["encoding"] = _val(build_defaults["encoding"])
        # honor the stemmer an existing index (including a legacy
        # pt_pisa_config.json-era reference index) was built with, warning on
        # mismatch — reference ``__init__.py:160-171`` semantics
        cfg = _legacy_config(path)
        if cfg is None and os.path.exists(os.path.join(path, "meta.json")):
            try:
                with open(os.path.join(path, "meta.json")) as fin:
                    cfg = json.load(fin)
            except (OSError, ValueError):
                cfg = None
        if cfg and cfg.get("stemmer"):
            if stemmer is not None and stemmer != cfg["stemmer"]:
                import warnings

                warnings.warn(f"requested stemmer={stemmer}, but index was "
                              f"constructed with {cfg['stemmer']}")
            else:
                stemmer = cfg["stemmer"]
        self.stemmer = stemmer or PISA_INDEX_DEFAULTS["stemmer"]
        self.stops = stops if stops is not None else PISA_INDEX_DEFAULTS["stops"]
        self.build_defaults = build_defaults
        self._pidx = None
        self._quantized: dict[str, "PisaSparkIndex"] = {}

    # ------------------------------------------------------------- lifecycle

    def built(self) -> bool:
        # legacy reference indexes are recognized (reference built() accepts
        # pt_pisa_config.json, ``__init__.py:187``) but not loadable here —
        # _persisted() raises a clear error pointing at CIFF interchange
        return os.path.exists(os.path.join(self.path, "meta.json")) or \
            os.path.exists(os.path.join(self.path, "pt_pisa_config.json"))

    def index(self, corpus: DataFrame, mode: str = "create", **kw) -> "PisaSparkIndex":
        """Build the index from a corpus DataFrame (reference
        ``PisaIndexer.index``; mode='create' errors if the index exists)."""
        from ..sources.index_store import build_index

        params = dict(self.build_defaults)
        params.update(kw)
        build_index(corpus, self.path, stemmer=self.stemmer, mode=_val(mode),
                    **params)
        self._pidx = None
        return self

    def index_inputs(self) -> list[list[str]]:
        """Expected input columns (reference ``__init__.py:189-200``), plus
        this engine's source-code corpus shape."""
        return [
            ["docno", "content"],                         # typical case
            ["docno", "toks"],                            # pretokenized
            ["repo", "path", "commit", "lang", "content"],  # input_hint shape
            ["docno"],                                    # generic
        ]

    def indexer(self, mode="create", **kw) -> "SparkIndexer":
        """Indexer-factory parity (reference ``__init__.py:392-401``):
        returns a transformer-style object whose ``.index(corpus)`` builds
        this index. ``threads``/``batch_size`` are accepted no-ops (Spark's
        scheduler and Arrow batching own those knobs)."""
        return SparkIndexer(self, mode=_val(mode), pretokenized=False, **kw)

    def toks_indexer(self, mode="create", scale: float = 100.0, **kw) -> "SparkIndexer":
        """Pretokenized indexer factory (reference ``__init__.py:403-415``)."""
        return SparkIndexer(self, mode=_val(mode), pretokenized=True,
                            scale=scale, **kw)

    def __repr__(self) -> str:
        return f"PisaSparkIndex({self.path!r})"

    def toks_index(self, corpus: DataFrame, scale: float = 100.0,
                   mode: str = "create", **kw) -> "PisaSparkIndex":
        """Pretokenized (learned-sparse) build: corpus carries
        ``toks: map<string,double>`` (reference ``PisaToksIndexer``)."""
        from ..sources.index_store import build_index

        build_index(corpus, self.path, mode=mode, pretokenized=True, scale=scale, **kw)
        self._pidx = None
        return self

    def _persisted(self):
        from ..sources.index_store import load_index

        if self._pidx is None:
            if not self.built():
                raise FileNotFoundError(
                    f"no index at {self.path}; build one with .index(corpus)")
            if not os.path.exists(os.path.join(self.path, "meta.json")):
                raise NotImplementedError(
                    f"{self.path} is a legacy reference (pt_pisa_config.json) "
                    "index in PISA's native binary layout; export it to CIFF "
                    "with the reference engine and load it here via "
                    "PisaSparkIndex.from_ciff")
            self._pidx = load_index(self.spark, self.path)
        return self._pidx

    # ----------------------------------------------------------- retrievers

    def bm25(self, k1: float = 0.9, b: float = 0.4, num_results: int = 1000,
             query_algorithm: str | None = None, stops=None,
             precompute_impact: bool = False, **kw) -> SparkRetriever:
        if precompute_impact:
            return self._impact_retriever("bm25", num_results, query_algorithm,
                                          stops, retr_kw=kw, k1=k1, b=b)
        return SparkRetriever(self, "bm25", num_results,
                              query_algorithm or PISA_INDEX_DEFAULTS["query_algorithm"],
                              self.stops if stops is None else stops, k1=k1, b=b, **kw)

    def dph(self, num_results: int = 1000, query_algorithm: str | None = None,
            stops=None, **kw) -> SparkRetriever:
        return SparkRetriever(self, "dph", num_results,
                              query_algorithm or PISA_INDEX_DEFAULTS["query_algorithm"],
                              self.stops if stops is None else stops, **kw)

    def pl2(self, c: float = 1.0, num_results: int = 1000,
            query_algorithm: str | None = None, stops=None, **kw) -> SparkRetriever:
        return SparkRetriever(self, "pl2", num_results,
                              query_algorithm or PISA_INDEX_DEFAULTS["query_algorithm"],
                              self.stops if stops is None else stops, c=c, **kw)

    def qld(self, mu: float = 1000.0, num_results: int = 1000,
            query_algorithm: str | None = None, stops=None, **kw) -> SparkRetriever:
        return SparkRetriever(self, "qld", num_results,
                              query_algorithm or PISA_INDEX_DEFAULTS["query_algorithm"],
                              self.stops if stops is None else stops, mu=mu, **kw)

    def quantized(self, num_results: int = 1000, query_algorithm: str | None = None,
                  stops=None, **kw) -> SparkRetriever:
        """Quantized dot-product retrieval over an impact index (reference
        ``PisaIndex.quantized`` — for toks-built or quantize_index outputs).
        Pretokenized ``query_toks`` frames route through ``transform`` with
        ``toks_scale`` (reference ``__init__.py:223,480-495``)."""
        return SparkRetriever(self, "quantized", num_results,
                              query_algorithm or PISA_INDEX_DEFAULTS["query_algorithm"],
                              self.stops if stops is None else stops, **kw)

    def _impact_retriever(self, scorer, num_results, query_algorithm, stops,
                          retr_kw=None, **params) -> SparkRetriever:
        """precompute_impact=True (reference ``__init__.py:223,449``): fold
        the scorer into 8-bit impacts once (cached beside the index,
        cache-keyed like the reference's wand data), retrieve quantized."""
        from ..operators.score import scorer_cache_key
        from ..sources.index_store import load_index, quantize_index

        key = scorer_cache_key(scorer, **params)
        if key not in self._quantized:
            qpath = os.path.join(self.path, f"quantized_{key}")
            if not os.path.exists(os.path.join(qpath, "meta.json")):
                quantize_index(self._persisted(), qpath, scorer=scorer, **params)
            sub = PisaSparkIndex(qpath, spark=self.spark, stemmer=self.stemmer,
                                 stops=self.stops)
            self._quantized[key] = sub
        return self._quantized[key].quantized(
            num_results=num_results, query_algorithm=query_algorithm, stops=stops,
            **(retr_kw or {}))

    def local_searcher(self, scorer: str = "bm25", **kw):
        """In-process low-latency serving over this index (no Spark jobs per
        query) — see ``operators/serve.LocalSearcher``. Single-node-scale
        indexes only (the reference's own serving regime); web-scale corpora
        stay on the Spark retrievers."""
        from ..operators.serve import LocalSearcher

        return LocalSearcher(self._persisted(), scorer=scorer, **kw)

    # -------------------------------------------------------------- metadata

    def num_docs(self) -> int:
        return self._persisted().num_docs()

    def num_terms(self) -> int:
        return self._persisted().num_terms()

    def __len__(self) -> int:
        return self.num_docs()

    def tokenize(self, text: str) -> list[str]:
        return tokenize_text(text, stemmer=self.stemmer)

    def get_corpus_iter(self, verbose: bool = False):
        """Iterate {'docno', 'toks'} dicts from the forward view (reference
        ``get_corpus_iter``, ``__init__.py:371-390``) — driver-streamed."""
        pidx = self._persisted()
        flat = pidx.flat_tf().join(pidx.lexicon.select("term_id", "term"), "term_id")
        from pyspark.sql import functions as F

        grouped = (flat.groupBy("docid")
                   .agg(F.map_from_arrays(F.collect_list("term"),
                                          F.collect_list("tf")).alias("toks"))
                   .join(pidx.docmap.select("docid", "docno"), "docid")
                   .orderBy("docid"))
        for row in grouped.toLocalIterator():
            yield {"docno": row["docno"], "toks": dict(row["toks"])}

    # ----------------------------------------------------------- interchange

    def to_ciff(self, out_path: str, description: str = "pyterrier_pisa_spark") -> dict:
        from ..sources.ciff import export_ciff

        return export_ciff(self._persisted(), out_path, description)

    @classmethod
    def from_ciff(cls, spark: SparkSession, ciff_path: str, index_path: str,
                  **kw) -> "PisaSparkIndex":
        from ..sources.ciff import import_ciff

        import_ciff(spark, ciff_path, index_path, **kw)
        return cls(index_path, spark=spark)

    @classmethod
    def from_dataset(cls, spark: SparkSession, name: str,
                     registry_dir: str | None = None) -> "PisaSparkIndex":
        from ..sources.index_store import from_dataset as _fd

        pidx = _fd(spark, name, registry_dir)
        obj = cls(pidx.path, spark=spark, stemmer=pidx.meta.get("stemmer", "porter2"))
        obj._pidx = pidx
        return obj
