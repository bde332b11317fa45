"""Persisted index: parquet-backed tables + checkpoint-resumable phased build.

Layout (SURVEY.md §1.4 Spark mapping of the reference's flat-file artifact):

    <root>/
      meta.json          stemmer, block_size, scorer params, stats, version
      docmap/            (docid, docno, doclen, content_sha256)
      lexicon/           (term, term_id, df, cf)
      term_stats/        (term_id, max_score)           [scorer-keyed, B7]
      postings/          (term_id, block_id, count, docid_first, docid_last,
                          block_max_score, docids_delta, tfs, doclens)
                         the last three are array<int> columns; layout and
                         per-encoding writer settings in operators/codec.py
      metrics/           (phase, partition_id, docs, postings, bytes, ts)
      _phases/<name>.done  checkpoint markers (JSON payload)

The build is four idempotent phases, each committed with a marker — the
checkpoint-resume boundary required by BASELINE.json's north_rule (mirrors
the reference's batch-shard -> merge boundary, ``indexers.py:89-120`` +
``_pisathon.cpp:572-584``, where shards already written survive a restart):

  1. fwd      corpus -> termvec UDF -> ONE forward table
              (docid, docno, sha256, doclen, terms[], tfs[]).
              The parquet write IS the shard checkpoint; tf/docmap are
              column-pruned projections.
  2. lexicon  tf -> (term, term_id, df, cf) + global stats (dense sorted
              term ids, validated).
  3. postings the single posting-granularity shuffle:
              repartition(term_id, chunk=docid//chunk_span) — the chunk key
              is a deterministic salt, so Zipf-hot terms spread across MANY
              reducers — then a streaming kernel packs CHUNK-LOCAL
              128-posting blocks (see ``_build_postings``), range-partitioned
              by term_id on write (parquet min/max stats => term pruning).
  4. maxscore per-term max of block maxes -> term_stats (scorer-keyed like
              the reference's WAND-data cache, ``_pisathon.cpp:229-255``).

Per-posting ``doclens`` are stored inside each block: a few bits per posting
buy query-time scoring with ZERO joins (no docid->doclen lookup shuffle),
which is the right trade for a read-heavy index. ``meta.json`` carries
``version``; ``load_index`` refuses any other version.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import porter2 as _p2
from ..operators import build as B
from ..operators import score as S
from ..operators import codec as C
from ..operators.retrieve import local_relation
from ..plans.pipeline import LogicalIndex, prepare_corpus

FORMAT_VERSION = 2  # 2: postings lists are array<int>, docids frame-of-reference

# Parquet row-group target for the postings tables. The default writer target
# (128 MB) lets a small/mid-scale index collapse into ONE row group per file —
# a single row group cannot be split, so the postings scan degenerates to one
# task per file and the query-time term_id min/max pruning degenerates from
# row-group to file granularity. 16 MB row groups keep (a) split parallelism
# (a 1 GiB postings file reads as ~64 independently-scannable units) and
# (b) real row-group-level term_id pruning at ANY corpus scale, while staying
# far above the size where per-group metadata overhead matters.
POSTINGS_PARQUET_BLOCK_BYTES = 16 << 20
DEFAULT_CHUNK_SPAN = 1 << 16  # docids per chunk row (bounds collect_list row size)


def _marker(path: str, name: str) -> str:
    return os.path.join(path, "_phases", f"{name}.done")


def _phase_done(path: str, name: str) -> bool:
    return os.path.exists(_marker(path, name))


def _commit_phase(path: str, name: str, payload: dict) -> None:
    os.makedirs(os.path.join(path, "_phases"), exist_ok=True)
    tmp = _marker(path, name) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
    os.replace(tmp, _marker(path, name))


def _append_metrics(spark: SparkSession, path: str, phase: str, rows: list[tuple]) -> None:
    """Append lineage/counter rows to the metrics table. Written DRIVER-SIDE
    with pyarrow (the rows are a handful of counters): a Spark job per phase
    just to persist <10 rows is pure serial overhead — it was costing ~1s per
    phase of the build's non-parallelizable fraction. The output is normal
    parquet in the same directory, fully readable as one Spark/DuckDB table."""
    import uuid

    import pyarrow.parquet as pq

    cols = list(zip(*rows)) if rows else [[]] * 6
    table = pa.table({
        "phase": pa.array(cols[0], pa.string()),
        "partition_id": pa.array(cols[1], pa.int64()),
        "docs": pa.array(cols[2], pa.int64()),
        "postings": pa.array(cols[3], pa.int64()),
        "bytes": pa.array(cols[4], pa.int64()),
        "ts": pa.array(cols[5], pa.float64()),
    })
    mdir = os.path.join(path, "metrics")
    os.makedirs(mdir, exist_ok=True)
    pq.write_table(table, os.path.join(mdir, f"part-{phase}-{uuid.uuid4().hex[:8]}.parquet"))


def build_index(
    corpus: DataFrame,
    path: str,
    stemmer: str = "porter2",
    block_size: int = B.DEFAULT_BLOCK_SIZE,
    k1: float = B.DEFAULT_K1,
    b: float = B.DEFAULT_B,
    mode: str = "overwrite",
    docno_col: str | None = None,
    id_col: str | None = None,
    chunk_span: int = DEFAULT_CHUNK_SPAN,
    pretokenized: bool = False,
    scale: float = 100.0,
    num_partitions: int | None = None,
    encoding: str = "varint",
) -> "dict":
    """Build (or resume) a persisted index. Returns meta dict.

    mode: 'create' (error if exists, reference ``indexers.py:20-23``),
    'overwrite' (replace), 'resume' (skip completed phases — restartable at
    every phase boundary).
    """
    spark = corpus.sparkSession
    if os.path.exists(os.path.join(path, "meta.json")) or os.path.exists(os.path.join(path, "_phases")):
        if mode == "create":
            raise FileExistsError(f"index already exists at {path} (mode='create')")
        if mode == "overwrite":
            shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)

    t0 = time.time()
    # --------------------------------------------------------- phase 1: fwd
    # ONE UDF pass writes ONE table: the forward index
    # (docid, docno, content_sha256, doclen, terms[], tfs[]) — the shard
    # checkpoint. tf and docmap are column-pruned projections of it (tf's
    # explode is pure JVM; docmap never touches the terms columns), which is
    # also the reference's fwd artifact (S5 ``get_corpus_iter``,
    # ``__init__.py:371-390``) for free.
    from ..operators.retrieve import shuffle_parts

    sp_ = num_partitions or shuffle_parts(spark)
    _gate_thread = None   # concurrent docid-distinct gate (id_col builds)
    _gate_out: dict = {}
    _tf_payload = None    # tf marker payload, committed once the gate passes
    if not _phase_done(path, "tf"):
        from pyspark.sql import Observation

        # small inputs arrive in few parquet splits (maxPartitionBytes); the
        # tokenize UDF stage must span the full parallelism regardless — and
        # at FINE, cluster-size-invariant granularity (shuffle-partitions
        # width): doc-length variance balances over waves at any core count,
        # and the fwd files it writes carry that granularity into the
        # invert/lexicon scans below. (An r5 experiment gated this on cores
        # instead: absolute 2-core time improved ~7 s, but the coarse fwd
        # files throttled the invert map side at every level — measured
        # postings-phase regression at BOTH 2 and 8 cores — so the fine
        # exchange stays. At real scale splits >> width and this never
        # fires.)
        if corpus.rdd.getNumPartitions() < sp_:
            corpus = corpus.repartition(sp_)
        prepared = prepare_corpus(corpus, docno_col=docno_col, id_col=id_col,
                                  num_partitions=num_partitions)
        fwd = _toks_fwd(prepared, scale) if pretokenized else _text_fwd(prepared, stemmer)
        # stats ride the WRITE job via Observation — no separate re-scan job
        # (distinct-count is not observable; that gate runs below on the
        # single pruned docid column)
        obs = Observation("fwd_stats")
        fwd = fwd.observe(obs, F.count(F.lit(1)).alias("ndocs"),
                          F.min("docid").alias("mn"), F.max("docid").alias("mx"),
                          F.sum(F.size("terms")).alias("nterms"),
                          F.sum("doclen").alias("total_dl"))
        # Bounded Arrow batches through the tokenize UDF: one giant batch per
        # task serializes the whole scan -> python -> parquet-write pipeline
        # (the JVM idles while python chews, python idles while the JVM
        # writes). ~1k docs per batch keeps every stage streaming — measured
        # 5.8s vs 30s for the same 8-task tokenize of 100k docs under a
        # 100k-record batch cap — while staying far above the per-batch
        # roundtrip overhead and the vectorized kernel's amortization knee.
        _bk = "spark.sql.execution.arrow.maxRecordsPerBatch"
        _saved_bk = spark.conf.get(_bk, "10000")
        spark.conf.set(_bk, "1024")
        try:
            # 16 MB row groups (same rationale as the postings write): fwd
            # files written by big tasks stay splittable for the downstream
            # invert/lexicon scans at any corpus scale
            fwd.write.mode("overwrite") \
                .option("parquet.block.size", str(POSTINGS_PARQUET_BLOCK_BYTES)) \
                .parquet(os.path.join(path, "fwd"))
        finally:
            spark.conf.set(_bk, _saved_bk)
        agg = obs.get
        fwd_r = spark.read.parquet(os.path.join(path, "fwd"))
        ndocs, nposts = agg["ndocs"], int(agg["nterms"] or 0)
        # Hard gate on docid assignment. When WE assigned the ids
        # (id_col None), prepare_corpus already proved docno uniqueness and
        # assign_dense_ids emits exactly 0..n-1, so the Observation's
        # min/max/count riding the write suffice. A CALLER-supplied id column
        # is unproven: it gets the distinct check — launched as a CONCURRENT
        # job (guide §2.6) so its full fwd scan overlaps the lexicon phase
        # instead of serializing the build; the result is asserted (and the
        # tf marker committed) before any phase marker is written, so a
        # failed gate still aborts the build with nothing committed.
        # range check from the Observation applies to BOTH paths (the id_col
        # contract is an already-DENSE 0..n-1 id — prepare_corpus docs — and
        # density is what the single-chunk query fast paths derive chunk
        # counts from); the distinct check then completes the dense proof
        dense_ok = ndocs == 0 or (agg["mn"] == 0 and agg["mx"] == ndocs - 1)
        if ndocs and not dense_ok:
            raise AssertionError(
                f"docid assignment corrupted: n={ndocs} "
                f"min={agg['mn']} max={agg['mx']} (ids must be dense 0..n-1)")
        if id_col is not None and ndocs:
            from pyspark import InheritableThread

            def _distinct_gate():
                spark.sparkContext.setJobDescription("build: docid-distinct gate")
                _gate_out["nd"] = fwd_r.agg(
                    F.countDistinct("docid").alias("nd")).collect()[0]["nd"]

            _gate_thread = InheritableThread(target=_distinct_gate, daemon=True)
            _gate_thread.start()
        _append_metrics(spark, path, "tf", [("tf", -1, ndocs, nposts, 0, time.time())])
        _tf_payload = {"num_docs": ndocs, "tf_rows": nposts,
                       "total_doclen": int(agg["total_dl"] or 0),
                       "max_docid": agg["mx"], "sec": time.time() - t0}

    if os.path.exists(os.path.join(path, "fwd")):
        fwd = spark.read.parquet(os.path.join(path, "fwd"))
        if fwd.rdd.getNumPartitions() < sp_:
            # the explode/join map side of the invert must not be throttled
            # by fewer parquet splits than shuffle width; when the splits
            # already cover it, skip the exchange — it re-shuffles the whole
            # fwd table TWICE (lexicon scan + invert scan) for nothing
            fwd = fwd.repartition(sp_)
        tf = _fwd_to_tf(fwd)
        docmap = fwd.select("docid", "docno", "doclen", "content_sha256")
    else:  # streaming ingest writes flat tf + docmap shards instead of fwd
        tf = spark.read.parquet(os.path.join(path, "tf"))
        docmap = spark.read.parquet(os.path.join(path, "docmap"))

    def _finish_gate_commit_tf():
        """Join the concurrent distinct gate (asserting the caller-supplied
        ids were unique) and only then commit the tf marker — called before
        ANY phase marker is written, so resume can never skip the gate."""
        nonlocal _gate_thread, _tf_payload
        if _gate_thread is not None:
            _gate_thread.join()
            nd = _gate_out.get("nd")
            _gate_thread = None
            if nd != _tf_payload["num_docs"]:
                raise AssertionError(
                    f"docid assignment corrupted: n={_tf_payload['num_docs']} "
                    f"distinct={nd}")
        if _tf_payload is not None:
            _commit_phase(path, "tf", _tf_payload)
            _tf_payload = None

    # ----------------------------------------------------- phase 2: lexicon
    small_lex_pdf = None  # driver-built lexicon handed to phases 3/4
    if not _phase_done(path, "lexicon"):
        t1 = time.time()
        # collection stats rode the phase-1 write's Observation when this
        # build ran phase 1 (batch path); streaming/CIFF ingest markers lack
        # them -> one agg over docmap as the fallback
        tfm = _tf_payload or (
            json.load(open(_marker(path, "tf"))) if _phase_done(path, "tf") else {})
        if "total_doclen" in tfm:
            nd, tot = int(tfm["num_docs"]), int(tfm["total_doclen"])
            stats = {"num_docs": nd, "total_doclen": tot,
                     "avg_doclen": (tot / nd) if nd else 0.0}
        else:
            stats = B.collection_stats(docmap)
        # The vocab-sized agg rides Arrow to the driver in ONE bounded job
        # (``limit(cap+1)`` — the probe itself cannot OOM on an
        # identifier-heavy corpus; num_docs alone is NOT a sound vocab
        # proxy) and, when it fits, the lexicon is sorted and written
        # DRIVER-SIDE with pyarrow: same single scan the old write job
        # paid, but zero additional Spark jobs, dense term_ids by
        # construction, exact count for free — lexicon-phase constants were
        # eating straight into build scaling efficiency. Vocabularies above
        # the cap take the distributed range-partitioned path + the
        # validate_dense_ids corruption gate (only that path's
        # sampling/cache machinery can mis-assign).
        agg = tf.groupBy("term").agg(
            F.count("*").alias("df"), F.sum("tf").cast("long").alias("cf"))
        # NOT persisted on the common path: the cap-overflow fallback below
        # re-scans once (rare — identifier-heavy multi-M vocab), while a
        # persist here would add cache-materialization overhead to every
        # normal build's critical path
        with B.eager_limits(spark):
            pdf = agg.limit(B.SMALL_VOCAB_MAX + 1).toPandas()
        ldir = os.path.join(path, "lexicon")
        if len(pdf) <= B.SMALL_VOCAB_MAX:
            import pyarrow.parquet as papq

            pdf = pdf.sort_values("term", ignore_index=True)
            pdf["term_id"] = np.arange(len(pdf), dtype=np.int64)
            shutil.rmtree(ldir, ignore_errors=True)
            os.makedirs(ldir, exist_ok=True)
            papq.write_table(
                pa.Table.from_pandas(pdf, schema=pa.schema(
                    [("term", pa.string()), ("df", pa.int64()),
                     ("cf", pa.int64()), ("term_id", pa.int64())]),
                    preserve_index=False),
                os.path.join(ldir, "part-00000.parquet"))
            stats["num_terms"] = len(pdf)
            small_lex_pdf = pdf
        else:
            agg = agg.persist()  # freeze for the range sampler + count
            n = agg.count()
            lexicon = B.assign_dense_ids(agg, ["term"], "term_id",
                                         num_partitions)
            lexicon = lexicon.coalesce(max(1, n // (2 << 20) + 1))
            lexicon.write.mode("overwrite").parquet(ldir)
            stats["num_terms"] = B.validate_dense_ids(
                spark.read.parquet(ldir), "term_id")
            agg.unpersist()
        _append_metrics(spark, path, "lexicon",
                        [("lexicon", -1, stats["num_docs"], stats["num_terms"], 0, time.time())])
        _finish_gate_commit_tf()  # gate job overlapped this whole phase
        _commit_phase(path, "lexicon", {"stats": stats, "sec": time.time() - t1})

    _finish_gate_commit_tf()  # no-op unless phase 2 was skipped
    stats = json.load(open(_marker(path, "lexicon")))["stats"]
    lexicon = spark.read.parquet(os.path.join(path, "lexicon"))

    # ---------------------------------------------------- phase 3: postings
    if not _phase_done(path, "postings"):
        t1 = time.time()
        agg = _build_postings(spark, path, tf, lexicon, stats, block_size, k1, b,
                              chunk_span, num_partitions, encoding,
                              lex_pdf=small_lex_pdf)
        _append_metrics(spark, path, "postings",
                        [("postings", -1, agg["blocks"], agg["postings"], agg["bytes"], time.time())])
        _commit_phase(path, "postings", {"blocks": agg["blocks"], "postings": agg["postings"],
                                         "compressed_bytes": agg["bytes"], "sec": time.time() - t1})

    # ---------------------------------------------------- phase 4: maxscore
    if not _phase_done(path, "maxscore"):
        t1 = time.time()
        # stored block maxes are df-independent "rest" factors; the ABSOLUTE
        # per-term BM25 bound = clamped idf * max rest. The input is two
        # pruned columns of the BLOCK table (1/128th of postings): below
        # ~20M blocks that is a driver-sized pandas groupby — one pyarrow
        # read instead of a whole Spark job (the job's fixed cost is pure
        # serial build time); bigger indexes take the distributed agg.
        nblocks = json.load(open(_marker(path, "postings"))).get("blocks", 0) \
            if _phase_done(path, "postings") else (1 << 62)
        if nblocks <= 20_000_000:
            import pyarrow.dataset as pads
            import pyarrow.parquet as papq

            blk = pads.dataset(os.path.join(path, "postings")).to_table(
                columns=["term_id", "block_max_score"]).to_pandas()
            max_rest = blk.groupby("term_id")["block_max_score"].max()
            if small_lex_pdf is not None:  # phase-2 output is still in memory
                lexp = small_lex_pdf.set_index("term_id")["df"]
            else:
                lexp = pads.dataset(_table_path(path, {}, "lexicon")).to_table(
                    columns=["term_id", "df"]).to_pandas().set_index("term_id")["df"]
            lexp = lexp.loc[max_rest.index]
            nd = float(stats["num_docs"])
            idf_v = np.maximum(S.IDF_EPS,
                               np.log((nd - lexp + 0.5) / (lexp + 0.5)))
            out_pdf = pd.DataFrame({"term_id": max_rest.index.to_numpy(),
                                    "max_score": (idf_v * max_rest).to_numpy()})
            tdir = os.path.join(path, "term_stats")
            os.makedirs(tdir, exist_ok=True)
            papq.write_table(pa.Table.from_pandas(out_pdf, preserve_index=False),
                             os.path.join(tdir, "part-00000.parquet"))
        else:
            pc = spark.read.parquet(os.path.join(path, "postings"))
            max_rest = pc.groupBy("term_id").agg(
                F.max("block_max_score").alias("max_rest"))
            idf = F.greatest(
                F.lit(S.IDF_EPS),
                F.log((F.lit(float(stats["num_docs"])) - F.col("df") + F.lit(0.5))
                      / (F.col("df") + F.lit(0.5))),
            )
            term_stats = max_rest.join(lexicon.select("term_id", "df"), "term_id").select(
                "term_id", (idf * F.col("max_rest")).alias("max_score"))
            # vocab-sized table: ~2M terms per file, not one file per task
            nfiles = max(1, int(stats.get("num_terms") or 1) // (2 << 20) + 1)
            term_stats.coalesce(nfiles).write.mode("overwrite").parquet(
                os.path.join(path, "term_stats"))
        _commit_phase(path, "maxscore", {"sec": time.time() - t1})

    # task-group count for the retrieval kernel: derived from INDEX SIZE at
    # build time (not cluster size) so the query-phase work plan is invariant
    # across cluster sizes (scaling comparability), while parallelism grows
    # with data: one group per docid chunk up to 4096 (beyond that, local
    # top-k merging per group matters more than extra task keys)
    num_chunks = max(1, -(-int(stats["num_docs"]) // chunk_span))
    batch_groups = min(4096, max(32, num_chunks))

    meta = {
        "version": FORMAT_VERSION,
        "type": "sparse_index",
        "format": "pyterrier_pisa_spark",
        "batch_groups": batch_groups,
        "stemmer": stemmer if not pretokenized else "none",
        # which porter2 implementation produced the index vocabulary (the
        # optional PyStemmer C backend vs the vendored from-spec stemmer) —
        # load_index warns when the querying process resolves the other one
        "stemmer_backend": (_p2.stemmer_backend()
                            if stemmer == "porter2" and not pretokenized else None),
        "pretokenized": pretokenized,
        "scale": scale if pretokenized else None,
        "block_size": block_size,
        "chunk_span": chunk_span,
        # per-block maxima store the df-independent rest factor; absolute
        # bounds are reconstructed as idf * rest at query time
        "block_max_kind": "bm25_rest",
        "encoding": encoding,
        "scorer": {"name": "bm25", "k1": k1, "b": b},
        "stats": stats,
        # from the postings write's Observation; sizes the serving budget
        "num_postings": json.load(open(_marker(path, "postings")))["postings"],
        # largest docid, from the phase-1 write's Observation (or the
        # streamed/CIFF ingest's own stats): the single-chunk query fast
        # paths switch on only when it proves every docid lies in chunk 0
        "max_docid": json.load(open(_marker(path, "tf"))).get("max_docid"),
        "built_sec": time.time() - t0,
    }
    with open(os.path.join(path, "meta.json"), "w") as fh:
        json.dump(meta, fh, indent=1)
    B.release_caches()
    # a plan cached over an earlier index at this path (load_index persists
    # the lexicon) would otherwise keep serving the old tables
    spark.catalog.refreshByPath(path)
    return meta


def _text_fwd(prepared: DataFrame, stemmer: str) -> DataFrame:
    from ..functions.tokenizer import termvec_udf

    tv = prepared.withColumn("_tv", termvec_udf(stemmer)(F.col("content")))
    return tv.select(
        "docid", "docno", "content_sha256",
        F.col("_tv.doclen").alias("doclen"),
        F.col("_tv.terms").alias("terms"),
        F.col("_tv.tfs").alias("tfs"),
    )


def _toks_fwd(prepared: DataFrame, scale: float) -> DataFrame:
    """Pretokenized (learned-sparse) path: ``toks: map<string,double>`` ->
    quantized impact arrays (reference ``indexers.py:97-107``: int(w*scale)
    truncation, drop <=0, doclen = sum of impacts). Pure JVM column ops."""
    ent = F.filter(
        F.transform(
            F.map_entries(F.col("toks")),
            lambda e: F.struct(
                e["key"].alias("term"),
                F.floor(e["value"] * F.lit(scale)).cast("int").alias("tf"),
            ),
        ),
        lambda s: s["tf"] > 0,
    )
    out = prepared.withColumn("_ent", ent)
    return out.select(
        "docid", "docno", "content_sha256",
        F.aggregate(F.col("_ent"), F.lit(0).cast("long"),
                    lambda a, s: a + s["tf"]).alias("doclen"),
        F.col("_ent.term").alias("terms"),
        F.col("_ent.tf").alias("tfs"),
    )


def _fwd_to_tf(fwd: DataFrame) -> DataFrame:
    """fwd -> (docid, term, tf, doclen) — JVM-side explode, no Python."""
    return fwd.select(
        "docid", "doclen",
        F.explode(F.arrays_zip(F.col("terms").alias("term"), F.col("tfs").alias("tf"))).alias("_e"),
    ).select("docid", F.col("_e.term").alias("term"),
             F.col("_e.tf").cast("int").alias("tf"), "doclen")


def make_block_packer(block_size: int, blocks_per_chunk: int,
                      k1: float, b: float, avgdl: float):
    """The invert's pack kernel as a standalone ``mapInArrow`` function:
    self-contained (term_id, chunk, docids[], tfdls[]) array rows -> packed
    block rows (``codec.POSTINGS_SCHEMA``). Module-level (not a closure of
    ``_build_postings``) so the block invariants — chunk-locality, strictly
    increasing block_id, count <= block_size, exact roundtrip — are
    property-fuzzable without a SparkSession.

    block_max_score holds the scorer-INDEPENDENT-of-df "rest" factor
        rest(tf, dl) = (k1+1)*tf / (tf + k1*(1-b + b*dl/avgdl))
    (meta block_max_kind='bm25_rest'); the true BM25 block bound is
    idf(df) * rest, reconstructed at query time (idf is per-term, known to
    the kernel from the lexicon join)."""

    def _groups_to_blocks(batches):
        """No carry/streaming logic needed: every group is complete in its
        row and bounded by chunk_span."""
        for batch in batches:
            if not batch.num_rows:
                continue
            lens = pc.list_value_length(batch.column("docids")).to_numpy().astype(np.int64)
            d = C.flat_values(batch.column("docids")).astype(np.int64)
            tfdl = C.flat_values(batch.column("tfdls")).astype(np.int64)
            tf_, doclen = tfdl >> np.int64(32), tfdl & np.int64(0xFFFFFFFF)
            nb = (lens + block_size - 1) // block_size  # blocks per group
            g_of_block = np.repeat(np.arange(len(lens), dtype=np.int64), nb)
            blk_seq = np.arange(int(nb.sum()), dtype=np.int64) - np.repeat(
                np.cumsum(nb) - nb, nb)
            # blocks tile each group's postings in order
            counts = np.minimum(block_size, lens[g_of_block] - blk_seq * block_size)
            tid = batch.column("term_id").to_numpy()[g_of_block]
            bid = batch.column("chunk").to_numpy()[g_of_block] * blocks_per_chunk + blk_seq
            t = tf_.astype(np.float64)
            scores = (k1 + 1.0) * t / (t + k1 * (1.0 - b + b * doclen / avgdl))
            bmax = np.maximum.reduceat(scores, C.segment_starts(counts))
            yield C.block_batch(tid, bid, d, tf_, doclen, counts, bmax)

    return _groups_to_blocks


def _build_postings(spark, path, tf, lexicon, stats, block_size, k1, b, chunk_span,
                    num_partitions, encoding=C.DEFAULT_ENCODING, lex_pdf=None) -> dict:
    """The invert: ONE map-side-combined aggregation shuffle, then vectorized
    block packing — with CHUNK-LOCAL blocks.

    Plan:
      tf ⋈ lexicon(term->term_id,df)            [broadcast/AQE join]
      groupBy(term_id, chunk)                   [THE shuffle; partial
        .agg(sort_array(collect_list(...)))      collect_list collapses each
                                                 map partition's postings into
                                                 array rows BEFORE the
                                                 exchange; chunk =
                                                 docid//chunk_span is a
                                                 deterministic salt -> Zipf-hot
                                                 terms spread across reducers;
                                                 groups bounded by chunk_span]
      mapInArrow kernel                         [self-contained (term_id,
                                                 chunk, arrays) rows ->
                                                 128-posting blocks]

    Blocks never span a chunk boundary (the last block of a term's chunk may
    hold < block_size postings). That costs a few ragged blocks per hot term
    but buys: (a) no global-position bookkeeping — no prefix-sum window, no
    broadcast join, no cross-partition partial-block merge; (b) trivially
    deterministic output under any parallelism; (c) every block lies entirely
    inside one docid chunk, so the retrieval kernel can partition the index by
    chunk and accumulate each docid's score exactly once per task
    (``wand.retrieve_blockmax``).

    block_id = chunk * (chunk_span//block_size + 1) + seq-within-chunk —
    strictly increasing with docid per term.

    Kernel vectorization: all segments of an Arrow batch pack in a handful of
    numpy passes (``reduceat`` maxima, list arrays built from offsets); no
    per-posting or per-block Python, and no pandas conversion.
    """
    from ..operators.retrieve import shuffle_parts

    avgdl = stats["avg_doclen"]
    codec = C.get_codec(encoding)
    # reduce-side width of THE shuffle: the session's shuffle-partitions knob,
    # NOT defaultParallelism — (a) cluster-size-invariant task structure (the
    # same build at N and 4N executors runs identical tasks), (b) many more
    # tasks than cores, so Zipf-skewed (term, chunk) group sizes amortize over
    # waves instead of idling cores behind one straggler reducer
    np_ = num_partitions or shuffle_parts(spark)
    blocks_per_chunk = chunk_span // block_size + 1

    # The invert shuffle is a MAP-SIDE-COMBINED aggregation into bounded
    # per-(term_id, chunk) posting ARRAYS, not a posting-per-row exchange:
    #   - the row is as narrow as possible first — (term_id, docid, tfdl)
    #     where tfdl packs tf<<32|doclen into ONE long; df is NOT carried
    #     (the stored block max is the df-independent "rest" factor, idf is
    #     applied at query time from the lexicon the kernel joins anyway)
    #   - collect_list's partial aggregation collapses each map partition's
    #     postings into one array row per (term_id, chunk) BEFORE the
    #     exchange — an order of magnitude fewer shuffle rows carrying the
    #     same posting bytes, and the per-ROW costs of the exchange, of
    #     Arrow, and of the old partition-wide Tungsten sort were the
    #     dominant JVM-side build costs
    #   - groups are BOUNDED by construction: a term has at most chunk_span
    #     postings inside one chunk, so the aggregation buffers and the
    #     per-group sort_array stay O(chunk_span) at ANY corpus scale —
    #     Zipf-hot terms spread across chunks exactly as before
    #   - sort_array orders each group by docid (struct field order; docids
    #     are unique within a group), replacing the global sort with many
    #     tiny C-side ones
    chunk_expr = (F.col("docid") / F.lit(chunk_span)).cast("long").alias("chunk")
    # term -> term_id map: when phase 2 just built the lexicon DRIVER-SIDE
    # (small-vocab path) the pandas frame is still in memory — an explicit
    # broadcast of it skips the parquet read-back job; otherwise read the
    # lexicon table and let the planner pick the join strategy
    if lex_pdf is not None:
        lex_map = F.broadcast(local_relation(spark, lex_pdf, "term string, term_id long"))
    else:
        lex_map = lexicon.select("term", "term_id")
    tf2 = tf.join(lex_map, "term").select(
        "term_id", chunk_expr, "docid",
        F.shiftleft(F.col("tf").cast("long"), 32).bitwiseOR(
            F.col("doclen").cast("long")).alias("tfdl"),
    )
    grouped = (
        tf2.groupBy("term_id", "chunk")
        .agg(F.sort_array(F.collect_list(F.struct("docid", "tfdl"))).alias("posts"))
        .select("term_id", "chunk",
                F.col("posts.docid").alias("docids"),
                F.col("posts.tfdl").alias("tfdls"))
        # vocab-sized array rows: a cheap partition-local sort restores the
        # (term_id, chunk) write order so parquet row groups keep tight
        # term_id min/max stats for query-time row-group pruning
        .sortWithinPartitions("term_id", "chunk")
    )

    _groups_to_blocks = make_block_packer(block_size, blocks_per_chunk, k1, b, avgdl)

    from pyspark.sql import Observation

    out = grouped.mapInArrow(_groups_to_blocks, schema=C.POSTINGS_SCHEMA)
    # NO re-partitioning before the write: the kernel's output is already
    # sorted by (term_id, block_id) within each (term_id, chunk)-hashed
    # partition (the invert's sortWithinPartitions order is preserved), so
    # every parquet ROW GROUP carries tight term_id min/max stats and the
    # query-time term_id filter prunes at row-group granularity. A
    # repartitionByRange here would add a range-sampling pass that EXECUTES
    # THE ENTIRE INVERT A SECOND TIME (the sampler's input is this pipeline)
    # for only marginally better file-level pruning.
    # block/posting counters ride the write job (Observation) instead of a
    # re-scan of the just-written table
    obs = Observation("postings_stats")
    out = out.observe(obs, F.count(F.lit(1)).alias("blocks"),
                      F.sum("count").alias("postings"))
    # Scoped session conf for the write: (a) the groupBy's reduce width comes
    # from the shuffle-partitions knob — honor an explicit num_partitions
    # override; (b) Arrow sizes batches in ROWS, and these rows carry up-to-
    # chunk_span-element arrays — cap rows/batch so a pathological run of
    # full groups (hot terms) cannot balloon one Arrow batch into gigabytes
    # in the pack worker at web scale.
    overrides = {"spark.sql.shuffle.partitions": str(np_),
                 "spark.sql.execution.arrow.maxRecordsPerBatch": "8192"}
    saved = {}
    for k_, v_ in overrides.items():
        try:
            saved[k_] = spark.conf.get(k_)
        except Exception:
            saved[k_] = None
        if str(saved[k_]) != v_:
            spark.conf.set(k_, v_)
    try:
        _write_postings(out, os.path.join(path, "postings"), codec)
    finally:
        for k_, v_ in overrides.items():
            if str(saved[k_]) != v_:
                if saved[k_] is None:
                    spark.conf.unset(k_)
                else:
                    spark.conf.set(k_, saved[k_])
    m = obs.get
    return {"blocks": int(m["blocks"] or 0), "postings": int(m["postings"] or 0),
            "bytes": _dir_bytes(os.path.join(path, "postings"))}


def _write_postings(blocks: DataFrame, out_dir: str, codec: "C.Codec") -> None:
    """Write a postings table with the encoding's Parquet writer settings."""
    blocks.write.mode("overwrite") \
        .option("parquet.block.size", str(POSTINGS_PARQUET_BLOCK_BYTES)) \
        .options(**codec.writer_options).parquet(out_dir)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _dirs, files in os.walk(path) for f in files)


def quantize_index(index: "PersistedIndex", dst_path: str, scorer: str = "bm25",
                   bits: int = 8, k1: float | None = None, b: float | None = None,
                   mu: float = 1000.0, c: float = 1.0) -> dict:
    """``precompute_impact`` (reference B9, ``__init__.py:223,449`` +
    ``_pisathon.cpp:236-264``): fold the scorer into the index as quantized
    integer impacts, so query time is a pure integer dot product (the
    ``quantized`` scorer) — faster and smaller than runtime float scoring.

    Linear quantization against the collection-wide max partial (PISA's
    LinearQuantizer semantics, default 8 bits):

        impact(s) = max(1, ceil(s / global_max * (2^bits - 1)))

    One mapInArrow pass over the packed blocks (flatten tf/doclen -> partial
    -> impact -> new tfs lists; embarrassingly parallel, no shuffle except the
    small term-stats agg). docmap/fwd/lexicon are NOT copied: the new meta
    records TABLE REFERENCES to the source index's parquet (tables, not
    files — a driver-side copy would bottleneck on driver bandwidth on an
    object store), and ``load_index`` resolves referenced tables
    transparently. The result is a normal persisted index whose meta records
    the quantization lineage."""
    spark = index.docmap.sparkSession
    meta = index.meta
    k1 = meta["scorer"]["k1"] if k1 is None else k1
    b = meta["scorer"]["b"] if b is None else b
    partial = S.np_partial_fn(scorer, index.stats, k1, b, mu, c)
    stat_col = S.term_stat_col(scorer)
    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in 1..31 (impacts are stored as int), got {bits}")

    # global max partial: driver-side over the vocab-sized term table when it
    # fits (zero Spark jobs; same max the agg would compute), else the agg
    tbl = driver_term_table(index, scorer, k1, b, mu, c)
    if tbl is not None:
        gmax = float(np.max(tbl["ms"])) if len(tbl["ms"]) else 0.0
    else:
        ts = ensure_term_stats(index, scorer, k1=k1, b=b, mu=mu, c=c)
        gmax = float(ts.agg(F.max("max_score")).collect()[0][0])
    if not (gmax > 0):
        raise ValueError(f"cannot quantize: global max {scorer} partial is {gmax}")
    levels = float((1 << bits) - 1)

    os.makedirs(dst_path, exist_ok=True)
    table_refs = {}
    for sub in ("docmap", "fwd", "lexicon"):
        srcd = os.path.join(index.path, sub)
        if os.path.exists(srcd):
            # resolve chained refs: quantizing an index that itself
            # references tables points at the ORIGINAL parquet
            table_refs[sub] = (meta.get("table_refs") or {}).get(sub) \
                or os.path.abspath(srcd)
        elif (meta.get("table_refs") or {}).get(sub):
            table_refs[sub] = meta["table_refs"][sub]

    stats_map = F.broadcast(index.lexicon.select("term_id", F.col(stat_col).alias("stat")))
    blocks = index.blocks.join(stats_map, "term_id")

    def _quantize(batches):
        # one flatten + one partial/impact computation over the whole Arrow
        # batch's postings; the other columns pass through untouched
        for batch in batches:
            if not batch.num_rows:
                continue
            counts = batch.column("count").to_numpy().astype(np.int64)
            t = C.flat_values(batch.column("tfs")).astype(np.float64)
            dl = C.flat_values(batch.column("doclens")).astype(np.float64)
            st = np.repeat(batch.column("stat").to_numpy().astype(np.float64), counts)
            imp = np.maximum(1.0, np.ceil(partial(t, dl, st) / gmax * levels))
            cols = {c: batch.column(c) for c in
                    ("term_id", "block_id", "count", "docid_first", "docid_last")}
            yield pa.RecordBatch.from_arrays([
                *cols.values(),
                pa.array(np.maximum.reduceat(imp, C.segment_starts(counts))),
                batch.column("docids_delta"), C.list_array(imp, counts),
                batch.column("doclens"),
            ], names=[*cols, "block_max_score", *C.LIST_COLUMNS])

    out = blocks.mapInArrow(_quantize, schema=C.POSTINGS_SCHEMA)
    _write_postings(out, os.path.join(dst_path, "postings"),
                    C.get_codec(meta.get("encoding")))
    # term max impacts: same driver-vs-distributed gate as the build's phase 4
    # (the input is two pruned columns of the block table — below ~20M blocks
    # one pyarrow read replaces a whole Spark agg job of fixed serial cost)
    nblocks = json.load(open(_marker(index.path, "postings"))).get("blocks", 1 << 62) \
        if _phase_done(index.path, "postings") else (1 << 62)
    if nblocks <= 20_000_000:
        import pyarrow.parquet as papq

        blk = _read_arrow(os.path.join(dst_path, "postings"),
                          ["term_id", "block_max_score"]).to_pandas()
        ts_pdf = blk.groupby("term_id", as_index=False)["block_max_score"].max() \
            .rename(columns={"block_max_score": "max_score"})
        tdir = os.path.join(dst_path, "term_stats")
        # parts of an earlier quantize into this dir would be read as well
        shutil.rmtree(tdir, ignore_errors=True)
        os.makedirs(tdir, exist_ok=True)
        papq.write_table(pa.Table.from_pandas(ts_pdf, preserve_index=False),
                         os.path.join(tdir, "part-00000.parquet"))
    else:
        pc = spark.read.parquet(os.path.join(dst_path, "postings"))
        term_stats = pc.groupBy("term_id").agg(F.max("block_max_score").alias("max_score"))
        term_stats.write.mode("overwrite").parquet(os.path.join(dst_path, "term_stats"))

    for name in ("tf", "lexicon", "postings", "maxscore"):
        if _phase_done(index.path, name):
            _commit_phase(dst_path, name, json.load(open(_marker(index.path, name))))
    new_meta = dict(meta)
    new_meta["scorer"] = {"name": "quantized"}
    new_meta["block_max_kind"] = "absolute"  # stored maxes ARE max impacts
    new_meta["table_refs"] = table_refs
    new_meta["table_ref_fingerprints"] = {
        sub: fp for sub, ref in table_refs.items()
        if (fp := _meta_fingerprint(os.path.dirname(ref))) is not None}
    new_meta["quantized_from"] = {"scorer": scorer, "bits": bits, "k1": k1, "b": b,
                                  "mu": mu, "c": c, "global_max": gmax}
    with open(os.path.join(dst_path, "meta.json"), "w") as fh:
        json.dump(new_meta, fh, indent=1)
    spark.catalog.refreshByPath(dst_path)
    return new_meta


def ensure_term_stats(index: "PersistedIndex", scorer: str, k1: float = 0.9,
                      b: float = 0.4, mu: float = 1000.0, c: float = 1.0) -> DataFrame:
    """(term_id, max_score, min_score) for the requested scorer — the
    per-scorer WAND data of the reference (``_pisathon.cpp:229-255``:
    wand/quantized data is cache-keyed by (scorer, params) and rebuilt on
    miss). ``min_score`` (the per-term MINIMUM per-posting partial) makes the
    pruning threshold sound for scorers with negative partials (qld/pl2/dph):
    theta is lowered by the worst possible remaining negative contribution.

    The index stores BM25 max-scores at its build params for free (phase 4);
    bm25's clamped idf and quantized impacts are provably non-negative, so
    min_score is 0 on those fast paths. Any other (scorer, params) triggers
    ONE decode pass over the packed blocks (per-block min/max partial ->
    per-term min/max), cached as ``term_stats_<key>/`` parquet beside the
    index so subsequent queries on the same scorer are pure reads. The pass
    is embarrassingly parallel over block rows (no shuffle before the
    term-level agg).

    Only a pristine index (opened by ``load_index``) reads or writes the
    cache: a derived view (say a docid-range shard) has its own blocks, so
    its stats are computed uncached — sound for its own blocks, and never
    stored where the whole index would read them as its bounds."""
    spark = index.docmap.sparkSession
    meta = index.meta
    built = meta["scorer"].get("name", "bm25")
    if scorer == "bm25" and built == "bm25" and k1 == meta["scorer"].get("k1") \
            and b == meta["scorer"].get("b"):
        # bm25 partials are strictly positive (idf clamped at IDF_EPS)
        return index.lexicon.select("term_id", "max_score",
                                    F.lit(0.0).alias("min_score"))
    if scorer == "quantized" and built == "quantized":
        # a quantized index's stored term stats ARE the max impacts (>= 0)
        return index.lexicon.select("term_id", "max_score",
                                    F.lit(0.0).alias("min_score"))
    key = S.scorer_cache_key(scorer, k1, b, mu, c)
    cache_dir = os.path.join(index.path, f"term_stats_{key}")

    def _read_cache():
        df = spark.read.parquet(cache_dir)
        return df if "min_score" in df.columns else None  # pre-min cache

    if index.pristine and os.path.exists(cache_dir):
        cached = _read_cache()
        if cached is not None:
            return cached
    stat_col = S.term_stat_col(scorer)
    partial = S.np_partial_fn(scorer, index.stats, k1, b, mu, c)
    stats_map = F.broadcast(index.lexicon.select("term_id", F.col(stat_col).alias("stat")))
    blocks = index.blocks.select("term_id", "count", "tfs", "doclens").join(stats_map, "term_id")

    def _block_minmax(batches):
        # one flatten + one vectorized partial over the whole Arrow batch,
        # per-block extrema via ufunc.reduceat
        for batch in batches:
            if not batch.num_rows:
                continue
            counts = batch.column("count").to_numpy().astype(np.int64)
            starts = C.segment_starts(counts)
            t = C.flat_values(batch.column("tfs")).astype(np.float64)
            dl = C.flat_values(batch.column("doclens")).astype(np.float64)
            st = np.repeat(batch.column("stat").to_numpy().astype(np.float64), counts)
            p = partial(t, dl, st)
            yield pa.RecordBatch.from_arrays(
                [batch.column("term_id"), pa.array(np.maximum.reduceat(p, starts)),
                 pa.array(np.minimum.reduceat(p, starts))],
                names=["term_id", "bmax", "bmin"])

    per_block = blocks.mapInArrow(_block_minmax,
                                  schema="term_id long, bmax double, bmin double")
    ts = per_block.groupBy("term_id").agg(F.max("bmax").alias("max_score"),
                                          F.min("bmin").alias("min_score"))
    if not index.pristine:
        return ts
    ts.write.mode("overwrite").parquet(cache_dir)
    return spark.read.parquet(cache_dir)


# driver-side term-table gate: vocabularies at or below this many terms load
# the lexicon + scorer stats to the driver ONCE per (index, scorer) with
# pyarrow, so query planning (the per-batch qterms ⋈ lexicon lookup) is pure
# Python — ZERO Spark jobs per retrieve call. Mirrors the build's
# SMALL_VOCAB_MAX driver-side lexicon gate; larger vocabularies keep the
# distributed broadcast-join path.
DRIVER_TERM_TABLE_MAX = B.SMALL_VOCAB_MAX


def _read_arrow(path: str, columns: list[str]) -> "pa.Table":
    import pyarrow.dataset as pads

    return pads.dataset(path).to_table(columns=columns)


def driver_term_table(index: "PersistedIndex", scorer: str, k1: float,
                      b: float, mu: float, c: float):
    """(term -> term_id, stat, max_score, min_score) resolved DRIVER-SIDE for
    vocab-sized lexicons: a pyarrow read of the lexicon + the scorer-keyed
    term stats (computing/caching them via ``ensure_term_stats`` first if
    needed), cached per (index, scorer-params). Returns a dict of aligned
    numpy arrays {'index': pd.Index(term), 'term_id', 'stat', 'ms', 'mn'} or
    None above ``DRIVER_TERM_TABLE_MAX`` and for derived views, whose tables
    are not the parquet at ``index.path`` (callers fall back to the Spark
    broadcast-join path — same values, one job)."""
    meta = index.meta
    nt = (index.stats or {}).get("num_terms")
    if not index.pristine or nt is None or int(nt) > DRIVER_TERM_TABLE_MAX:
        return None
    key = (scorer, float(k1), float(b), float(mu), float(c))
    cache = index._driver_cache
    if key in cache:
        return cache[key]
    lex = cache.get("_lexicon")
    if lex is None:
        lex = _read_arrow(_table_path(index.path, meta, "lexicon"),
                          ["term", "term_id", "df", "cf"])
        cache["_lexicon"] = lex
    built = meta["scorer"].get("name", "bm25")
    fast = (scorer == "bm25" and built == "bm25"
            and k1 == meta["scorer"].get("k1") and b == meta["scorer"].get("b")) \
        or (scorer == "quantized" and built == "quantized")
    if fast:
        # bm25-at-build-params / quantized-on-quantized: the stored term_stats
        # ARE this scorer's maxima; partials provably non-negative -> mn = 0
        ts = _read_arrow(os.path.join(index.path, "term_stats"),
                         ["term_id", "max_score"])
    else:
        import pyarrow.dataset as pads

        skey = S.scorer_cache_key(scorer, k1, b, mu, c)
        cdir = os.path.join(index.path, f"term_stats_{skey}")
        have = os.path.exists(cdir) and \
            "min_score" in pads.dataset(cdir).schema.names
        if not have:
            # one Spark pass computes + persists the scorer-keyed cache
            # (exactly what the Spark path would do); subsequent loads here
            # are pure pyarrow reads
            ensure_term_stats(index, scorer, k1=k1, b=b, mu=mu, c=c)
        ts = _read_arrow(cdir, ["term_id", "max_score", "min_score"])
    # term stats scatter into term_id-indexed arrays (0 where a term has
    # none), then gather in lexicon row order: no join
    tid = lex.column("term_id").to_numpy()
    ts_tid = ts.column("term_id").to_numpy()
    size = int(max(tid.max(initial=-1), ts_tid.max(initial=-1))) + 1

    def _by_term(col: str) -> np.ndarray:
        out = np.zeros(size, dtype=np.float64)
        if col in ts.column_names:
            out[ts_tid] = ts.column(col).to_numpy()
        return out[tid]

    tbl = {
        "index": pd.Index(lex.column("term").to_numpy(zero_copy_only=False)),
        "term_id": tid.astype(np.int64),
        "stat": lex.column(S.term_stat_col(scorer)).to_numpy().astype(np.float64),
        "ms": _by_term("max_score"),
        "mn": _by_term("min_score"),
    }
    cache[key] = tbl
    return tbl


# ------------------------------------------------------------------ loading

@dataclass
class PersistedIndex:
    path: str
    meta: dict
    lexicon: DataFrame       # (term, term_id, df, cf, max_score)
    blocks: DataFrame        # packed postings
    docmap: DataFrame
    stats: dict
    # per-index driver-side term-table cache (``driver_term_table``)
    _driver_cache: dict = field(default_factory=dict, repr=False)
    # True only for indexes opened untouched by ``load_index``: their table
    # DataFrames are plain parquet reads, so driver-side pyarrow fast paths
    # (serving construction) may read the same files directly. Derived VIEWS
    # (e.g. docid-range shards with filtered blocks) must set this False.
    pristine: bool = False

    def flat_tf(self, blocks: DataFrame | None = None) -> DataFrame:
        """Decode blocks (all of them by default) back to (term_id, docid,
        tf, doclen) in the JVM — the oracle view (also backs the reference's
        ``get_corpus_iter``, S5). It shares no decoder with the kernel it
        checks."""
        return C.flat_postings(self.blocks if blocks is None else blocks)

    def num_docs(self) -> int:
        return int(self.stats["num_docs"])

    def num_terms(self) -> int:
        nt = self.stats.get("num_terms")
        return int(nt) if nt is not None else self.lexicon.count()

    def __len__(self) -> int:
        return self.num_docs()

    def _term_tf(self, blocks: DataFrame) -> DataFrame:
        return self.flat_tf(blocks).join(self.lexicon.select("term_id", "term"), "term_id").select(
            "docid", "term", F.col("tf").cast("int").alias("tf"), "doclen"
        )

    def tf_for_terms(self, terms: list[str]) -> DataFrame:
        """Flat postings of ``terms`` only: a broadcast left-semi join with
        (terms ⋈ lexicon) restricts the blocks to the terms' ids BELOW the
        decode, so the exhaustive plan's cost follows the query, not the
        index. One plan for every lexicon size; no driver-side read."""
        want = F.broadcast(local_relation(
            self.blocks.sparkSession, [(t,) for t in terms], "term string"))
        want = want.join(self.lexicon.select("term", "term_id"), "term").select("term_id")
        return self._term_tf(self.blocks.join(F.broadcast(want), "term_id", "left_semi"))

    def as_logical(self) -> LogicalIndex:
        return LogicalIndex(lexicon=self.lexicon, tf=self._term_tf(self.blocks),
                            docmap=self.docmap, stats=self.stats, blocks=self.blocks,
                            meta=self.meta, tf_for_terms=self.tf_for_terms)


def _meta_fingerprint(index_path: str) -> str | None:
    """sha256 of an index's meta.json bytes — the identity of the index
    contents for table-reference lifetime checks (a rebuild rewrites meta)."""
    mp = os.path.join(index_path, "meta.json")
    if not os.path.exists(mp):
        return None
    import hashlib

    with open(mp, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def _verify_table_refs(path: str, meta: dict) -> None:
    """Derived indexes (quantize_index) reference the source index's tables
    instead of copying them; that couples their lifetimes. Verify the stored
    source-meta fingerprint so a moved / rebuilt / deleted source fails LOUDLY
    at load time instead of silently stale-reading."""
    fps = meta.get("table_ref_fingerprints") or {}
    for sub, ref in (meta.get("table_refs") or {}).items():
        if os.path.exists(os.path.join(path, sub)):
            continue  # local copy wins; the reference is not used
        want = fps.get(sub)
        if want is None:
            continue  # pre-fingerprint derived index (r3) — best-effort load
        got = _meta_fingerprint(os.path.dirname(ref))
        if got != want:
            raise ValueError(
                f"derived index at {path}: referenced table {sub!r} -> {ref} "
                f"{'no longer exists' if got is None else 'was rebuilt or replaced'} "
                "since this index was created (source meta.json fingerprint "
                "mismatch); re-run quantize_index against the current source")


def _table_path(path: str, meta: dict, name: str) -> str | None:
    """Resolve an index table: local subdir first, else the table REFERENCE
    recorded in meta (derived indexes — e.g. ``quantize_index`` outputs —
    point at the source's parquet instead of copying it)."""
    local = os.path.join(path, name)
    if os.path.exists(local):
        return local
    return (meta.get("table_refs") or {}).get(name)


def _load_docmap(spark: SparkSession, path: str, meta: dict) -> DataFrame:
    """docmap = column-pruned projection of fwd (batch build) or the
    standalone docmap table (streaming ingest); either may be a table
    reference on derived indexes."""
    dm = _table_path(path, meta, "docmap")
    if dm:
        return spark.read.parquet(dm).select(
            "docid", "docno", "doclen", "content_sha256")
    return spark.read.parquet(_table_path(path, meta, "fwd")).select(
        "docid", "docno", "doclen", "content_sha256")


DATASET_REGISTRY_ENV = "PYTERRIER_PISA_SPARK_DATASETS"
_DEFAULT_REGISTRY = os.path.expanduser("~/.pyterrier_pisa_spark/datasets")


def _registry_file(registry_dir: str | None) -> str:
    d = registry_dir or os.environ.get(DATASET_REGISTRY_ENV) or _DEFAULT_REGISTRY
    return os.path.join(d, "registry.json")


def register_dataset(name: str, path: str, registry_dir: str | None = None) -> None:
    """Register a built index under a dataset name (reference S8
    ``from_dataset`` / ``pta.Artifact``, ``__init__.py:128,311-313`` —
    re-expressed as a local catalog: name -> index path in a JSON registry,
    the sandbox-appropriate stand-in for a remote artifact store)."""
    reg = _registry_file(registry_dir)
    os.makedirs(os.path.dirname(reg), exist_ok=True)
    entries = json.load(open(reg)) if os.path.exists(reg) else {}
    if not os.path.exists(os.path.join(path, "meta.json")):
        raise FileNotFoundError(f"no index at {path} (meta.json missing)")
    entries[name] = os.path.abspath(path)
    tmp = reg + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(entries, fh, indent=1)
    os.replace(tmp, reg)


def from_dataset(spark: SparkSession, name: str,
                 registry_dir: str | None = None) -> "PersistedIndex":
    """Load a registered index by dataset name (reference ``from_dataset``)."""
    reg = _registry_file(registry_dir)
    entries = json.load(open(reg)) if os.path.exists(reg) else {}
    if name not in entries:
        known = ", ".join(sorted(entries)) or "<none>"
        raise KeyError(f"dataset {name!r} not registered (known: {known}); "
                       f"register with register_dataset(name, path)")
    return load_index(spark, entries[name])


def load_index(spark: SparkSession, path: str,
               cache_lexicon: bool = True) -> PersistedIndex:
    """Open a persisted index. ``cache_lexicon`` persists the (vocab-sized)
    lexicon ⋈ term_stats frame across query batches — the reference's
    retrieval-context cache (R1, ``__init__.py:452-470``): repeated batches
    skip the parquet read + stats join. The cache is cluster-distributed
    (MEMORY_AND_DISK), so it scales with executors, not the driver."""
    from pyspark import StorageLevel

    meta = json.load(open(os.path.join(path, "meta.json")))
    if meta.get("version") != FORMAT_VERSION:
        raise ValueError(
            f"index at {path} has format version {meta.get('version')!r}; this "
            f"engine reads version {FORMAT_VERSION}: rebuild with build_index")
    _verify_table_refs(path, meta)
    _p2.check_stemmer_backend(meta)  # warn on vendored-vs-PyStemmer mismatch
    lexicon = spark.read.parquet(_table_path(path, meta, "lexicon"))
    term_stats = spark.read.parquet(os.path.join(path, "term_stats"))
    lexicon = lexicon.join(term_stats, "term_id", "left").fillna({"max_score": 0.0})
    if cache_lexicon:
        lexicon = lexicon.persist(StorageLevel.MEMORY_AND_DISK)
    return PersistedIndex(
        path=path,
        meta=meta,
        lexicon=lexicon,
        blocks=spark.read.parquet(os.path.join(path, "postings")),
        docmap=_load_docmap(spark, path, meta),
        stats=meta["stats"],
        pristine=True,
    )
