"""Similarity search over embedding columns (``array<float>``) — ANN for the
training-data pipeline (no reference counterpart; first-class addition).

  cosine_topk          brute-force exact cosine top-k (the correctness
                       baseline): broadcast queries ⋈ corpus, JVM-side
                       ``aggregate``/``zip_with`` dot products, window top-k.
  lsh_cosine_topk      random-hyperplane LSH bucketing (seeded, deterministic)
                       -> exact rescoring INSIDE matching buckets only.
                       The scale path: candidate set ~ corpus/2^bits per probe.
  embedding_near_dup   all-pairs cosine >= threshold via the same LSH blocks.

Vector math stays in Catalyst (higher-order functions) — no Python on the
per-row path; the hyperplanes are a tiny seeded numpy matrix broadcast as
literal columns.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .retrieve import local_relation


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
                       lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def with_unit_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Pre-normalize vectors (cosine == dot afterwards)."""
    n = _norm(F.col(vec_col).cast("array<double>"))
    return df.withColumn(
        "_unit", F.transform(F.col(vec_col).cast("array<double>"), lambda v: v / n)
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Exact brute-force: (qid, vec_id, cos, rank). Queries broadcast; ties
    broken (cos DESC, vec_id ASC) like the engine's doc tie-break."""
    # norms are per-VECTOR: compute them once per row on each side before the
    # pair blow-up (same expression over the same array -> bit-identical
    # doubles, so scores and the oracle hash are unchanged; the per-pair work
    # drops to the dot product alone)
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v"))
    c = c.select("vec_id", "v", _norm(F.col("v")).alias("_vn"))
    q = queries.select(F.col(qid_col).alias("qid"), F.col(qvec_col).cast("array<double>").alias("qv"))
    q = q.select("qid", "qv", _norm(F.col("qv")).alias("_qn"))
    j = c.crossJoin(F.broadcast(q))
    cos = _dot(F.col("v"), F.col("qv")) / (F.col("_vn") * F.col("_qn"))
    scored = j.select("qid", "vec_id", cos.alias("cos"))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w) - 1)
        .filter(F.col("rank") < k)
        .select("qid", "vec_id", F.round("cos", 6).alias("cos"), "rank")
    )


def _probe_buckets(bucket: Column, bits: int, hamming: int) -> Column:
    """Array of probe buckets within the given Hamming radius (0 or 1
    supported: identity + all single-bit flips)."""
    probes = [bucket]
    if hamming >= 1:
        probes += [bucket.bitwiseXOR(F.lit(1 << j)) for j in range(bits)]
    return F.array(*probes)


def suggest_bits(n_rows: int, target_bucket: int = 256, max_bits: int = 24) -> int:
    """Scale-aware hyperplane count: 2^bits buckets sized so the expected
    bucket holds ~``target_bucket`` vectors (candidate set per probe stays
    O(target_bucket) as the corpus grows — the 100 TB knob). Callers that
    know their corpus size should pass ``bits=suggest_bits(n)`` explicitly;
    the default bits=16 (65k buckets) suits 10^6–10^8-row corpora."""
    import math

    if n_rows <= target_bucket:
        return 4
    return max(4, min(max_bits, math.ceil(math.log2(n_rows / target_bucket))))


def _hyperplanes(dim: int, bits: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((bits, dim))


def _bucket_col(vec: Column, planes: np.ndarray) -> Column:
    """LSH bucket id = sign bits against ``planes`` (literal coefficients —
    pure Catalyst arithmetic, whole-stage codegen'd). Only for SMALL
    bits*dim: the expression tree has one node per coefficient. Use
    ``with_bucket`` to pick this or the vectorized path automatically."""
    bits = []
    for j, row in enumerate(planes):
        dot = sum(
            (F.element_at(vec, i + 1) * float(c) for i, c in enumerate(row)),
            F.lit(0.0),
        )
        bits.append(F.when(dot >= 0, F.lit(1 << j)).otherwise(F.lit(0)))
    return sum(bits[1:], bits[0]).cast("int")


# above this many literal coefficients the Catalyst expression tree stops
# being a win: at production embedding dims (768-4096) x 16-24 bits it is a
# 10^4-10^5-node tree (codegen fallback, minutes of planning) — the Arrow
# matmul path bucketizes those in one BLAS call per batch
_LITERAL_BUCKET_MAX_CELLS = 2048


def with_bucket(df: DataFrame, vec_field: str, planes: np.ndarray,
                out: str = "bucket") -> DataFrame:
    """Attach the LSH bucket id for ``vec_field`` (array<double>).

    Small bits*dim -> literal Catalyst expression (whole-stage codegen'd,
    and exactly reproducible in the DuckDB oracle SQL); large bits*dim ->
    ``mapInPandas`` sign-bit matmul (one (batch x dim) @ (dim x bits) BLAS
    call per Arrow batch — the 100 TB shape for real embedding dims)."""
    nbits, dim = planes.shape
    if nbits * dim <= _LITERAL_BUCKET_MAX_CELLS:
        return df.withColumn(out, _bucket_col(F.col(vec_field), planes))

    from pyspark.sql.types import IntegerType, StructField, StructType

    # fresh StructType — StructType.add would MUTATE df's live schema object
    out_schema = StructType(list(df.schema.fields) + [StructField(out, IntegerType())])
    weights = (1 << np.arange(nbits)).astype(np.int64)

    def _fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf[vec_field].to_numpy())
            b = ((V @ planes.T >= 0) @ weights).astype(np.int32)
            pdf = pdf.copy()
            pdf[out] = b
            yield pdf

    return df.mapInPandas(_fn, schema=out_schema)


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bits: int = 16,
    dim: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    multiprobe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: exact cosine computed only inside buckets whose id
    is within ``multiprobe_hamming`` of the query's bucket (multi-probe
    recovers near-boundary neighbors). Returns (qid, vec_id, cos, rank).

    Pass ``dim`` explicitly (schema metadata / dataset contract) — the
    ``None`` fallback infers it with a ``first()`` driver action (an extra
    job). Size ``bits`` to the corpus with ``suggest_bits(n_rows)``."""
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    planes = _hyperplanes(dim, bits, seed)
    c = corpus.select(F.col(id_col).alias("vec_id"),
                      F.col(vec_col).cast("array<double>").alias("v"))
    c = with_bucket(c, "v", planes, out="bucket")
    q = queries.select(F.col(qid_col).alias("qid"),
                       F.col(qvec_col).cast("array<double>").alias("qv"))
    q = with_bucket(q, "qv", planes, out="qbucket")
    # multi-probe as an EQUI-join: explode the query's probe buckets
    # (bucket + single-bit flips) so the join hashes on bucket id —
    # no nested-loop scan of the corpus
    q = q.withColumn("bucket", F.explode(_probe_buckets(F.col("qbucket"), bits, multiprobe_hamming)))

    # per-vector norms computed once per side before the candidate join
    # (identical doubles — see cosine_topk)
    c = c.select("vec_id", "v", "bucket", _norm(F.col("v")).alias("_vn"))
    q = q.select("qid", "qv", "bucket", _norm(F.col("qv")).alias("_qn"))
    j = c.join(F.broadcast(q), "bucket")
    cos = _dot(F.col("v"), F.col("qv")) / (F.col("_vn") * F.col("_qn"))
    scored = j.select("qid", "vec_id", cos.alias("cos"))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w) - 1)
        .filter(F.col("rank") < k)
        .select("qid", "vec_id", F.round("cos", 6).alias("cos"), "rank")
    )


def embedding_near_dup(
    corpus: DataFrame,
    threshold: float = 0.95,
    bits: int = 16,
    dim: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe_hamming: int = 1,
) -> DataFrame:
    """(id_a, id_b, cos) pairs with cosine >= threshold, blocked by LSH
    bucket (id_a < id_b). Candidate pairs only form within/near buckets —
    the standard linear-ish near-dup plan at corpus scale. Pass ``dim``
    explicitly (the None fallback costs a first() driver job); size ``bits``
    with ``suggest_bits(n_rows)``."""
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    planes = _hyperplanes(dim, bits, seed)
    c = corpus.select(F.col(id_col).alias("id"),
                      F.col(vec_col).cast("array<double>").alias("v"))
    c = with_bucket(c, "v", planes, out="bucket")
    # per-vector norm computed once per row BEFORE the pair blow-up
    # (identical doubles — see cosine_topk)
    c = c.select("id", "v", "bucket", _norm(F.col("v")).alias("_n"))
    probed = c.withColumn("bucket", F.explode(_probe_buckets(F.col("bucket"), bits, multiprobe_hamming)))
    a, b = c.alias("a"), probed.alias("b")
    # equi-join on bucket (hash/sort-merge, scalable); each hamming<=1 pair
    # matches exactly once (bucket==bucket via probe 0, or the one flipped bit)
    pairs = a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")))
    cos = _dot(F.col("a.v"), F.col("b.v")) / (F.col("a._n") * F.col("b._n"))
    return (
        pairs.select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), cos.alias("cos"))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


# ------------------------------------------------------------------ IVF ANN

def ivf_build(
    corpus: DataFrame,
    n_centroids: int = 64,
    iters: int = 2,
    seed: int = 42,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[np.ndarray, DataFrame]:
    """IVF coarse quantizer (the inverted-file ANN scale path, complementing
    the hyperplane-LSH variant): ``iters`` Lloyd rounds of k-means over unit
    vectors, fully deterministic (seeded init, fixed iteration count).

    Distributed shape per round: ONE Arrow-vectorized assignment pass
    (argmax of a corpus x centroids matmul inside mapInPandas — centroids are
    a small broadcast closure) + a map-side PARTIAL-SUM combiner for the
    update: each Arrow batch emits at most one (cluster, sum-vector, count)
    row per cluster it saw, a groupBy(cluster) reduce sums those, and the
    driver collects exactly n_centroids array rows — the same order of data
    as the centroid matrix it must hold anyway (NOT n_centroids x dim scalar
    rows, which OOMs the driver at 10^5 centroids x 10^3 dims). Returns
    (centroids, assigned) where assigned = (vec_id, v:array<double>,
    cluster:int); persist/write ``assigned`` bucketed by cluster for
    repeated serving."""
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    rng = np.random.default_rng(seed)
    cents = rng.standard_normal((n_centroids, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)

    c = corpus.select(F.col(id_col).alias("vec_id"),
                      F.col(vec_col).cast("array<double>").alias("v"))
    # norm computed ONCE per row (a transform-lambda that re-aggregates the
    # norm per element would be O(dim^2) per row)
    unit = c.withColumn(
        "_n", F.greatest(F.lit(1e-30), _norm(F.col("v")))
    ).withColumn("v", F.transform(F.col("v"), lambda x: x / F.col("_n"))).drop("_n")

    def _assign_fn(cmat: np.ndarray):
        def _assign(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.stack(pdf["v"].to_numpy())
                cl = np.argmax(V @ cmat.T, axis=1).astype(np.int32)
                yield pd.DataFrame({"vec_id": pdf["vec_id"], "v": pdf["v"],
                                    "cluster": cl})
        return _assign

    def _partial_sums(batches):
        # map-side combine: <= n_centroids array rows per Arrow batch
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["v"].to_numpy())
            cl = pdf["cluster"].to_numpy()
            uniq, inv = np.unique(cl, return_inverse=True)
            sums = np.zeros((uniq.size, V.shape[1]), dtype=np.float64)
            np.add.at(sums, inv, V)
            yield pd.DataFrame({"cluster": uniq.astype(np.int32),
                                "s": list(sums),
                                "n": np.bincount(inv).astype(np.int64)})

    def _combine(pdf: pd.DataFrame) -> pd.DataFrame:
        s = np.stack(pdf["s"].to_numpy()).sum(axis=0)
        n = int(pdf["n"].sum())
        return pd.DataFrame({"cluster": [int(pdf["cluster"].iloc[0])],
                             "mean": [s / max(1, n)]})

    assigned = None
    for _ in range(max(1, iters)):
        assigned = unit.mapInPandas(
            _assign_fn(cents), schema="vec_id long, v array<double>, cluster int")
        means = (
            assigned.mapInPandas(_partial_sums,
                                 schema="cluster int, s array<double>, n long")
            .groupBy("cluster")
            .applyInPandas(_combine, schema="cluster int, mean array<double>")
            .collect()  # exactly n_centroids rows, one mean VECTOR each
        )
        new = cents.copy()  # empty clusters keep their previous centroid
        for r in means:
            vec = np.asarray(r["mean"], dtype=np.float64)
            n = np.linalg.norm(vec)
            if n > 0:
                new[r["cluster"]] = vec / n
        cents = new
    assigned = unit.mapInPandas(
        _assign_fn(cents), schema="vec_id long, v array<double>, cluster int")
    return cents, assigned


def ivf_search(
    assigned: DataFrame,
    centroids: np.ndarray,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    qid_col: str = "qid",
    qvec_col: str = "qvec",
) -> DataFrame:
    """IVF probe: each query scans only its ``nprobe`` nearest clusters.
    Queries are tiny by contract — their probe lists are computed driver-side
    (numpy) and broadcast; candidate access is an equi-join on cluster, exact
    cosine inside (vectors in ``assigned`` are unit, so cosine == dot).
    Returns (qid, vec_id, cos, rank) with the engine's (cos DESC, vec_id ASC)
    tie-break. Candidate cost ~ nprobe/n_centroids of the corpus per query."""
    spark = assigned.sparkSession
    qrows = queries.select(F.col(qid_col).alias("qid"),
                           F.col(qvec_col).cast("array<double>").alias("qv")).collect()
    probe_rows = []
    for r in qrows:
        qv = np.asarray(r["qv"], dtype=np.float64)
        qv = qv / (np.linalg.norm(qv) or 1.0)
        order = np.argsort(-(centroids @ qv))[:nprobe]
        for cl in order:
            probe_rows.append((r["qid"], [float(x) for x in qv], int(cl)))
    if not probe_rows:
        return local_relation(spark, [], "qid string, vec_id long, cos double, rank int")
    q = local_relation(spark, probe_rows, "qid string, qv array<double>, cluster int")
    j = assigned.join(F.broadcast(q), "cluster")
    cos = _dot(F.col("v"), F.col("qv"))  # unit vectors: cosine == dot
    scored = j.select("qid", "vec_id", cos.alias("cos"))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w) - 1)
        .filter(F.col("rank") < k)
        .select("qid", "vec_id", F.round("cos", 6).alias("cos"), "rank")
    )
