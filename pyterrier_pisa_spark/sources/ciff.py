"""CIFF (Common Index File Format) import/export — reference S6/S7
(``PisaIndex.from_ciff`` / ``to_ciff``, reference ``__init__.py:315-369``).

CIFF is the public interchange format of Lin et al., "Supporting
Interoperability Between Open-Source Search Engines with the Common Index
File Format" (SIGIR 2020; spec at github.com/osirrc/ciff): a sequence of
length-delimited protobuf messages —

    Header
    num_postings_lists x PostingsList   (terms in lexicographic order;
                                         posting docids delta-encoded:
                                         first absolute, then gaps)
    num_docs x DocRecord

Since no protobuf library ships in this environment, this module implements
the tiny subset of the protobuf wire format those three fixed messages need
(varint fields, length-delimited strings/submessages, one double) from the
public wire-format spec. Field numbers follow the published
common-index-file-format .proto.

Import reuses the build pipeline's phase protocol (like streaming
compaction): parsed postings land as the tf/docmap shard tables, then phases
2–4 rebuild lexicon/blocks/maxscore — so an imported index is
indistinguishable from a built one.
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass

from pyspark.sql import SparkSession

# ----------------------------------------------------------- wire primitives

def _write_varint(out: bytearray, v: int) -> None:
    if v < 0:
        # negative values would loop forever under >>= 7; reachable from
        # encode_postings_list if caller-supplied docids are not strictly
        # ascending (negative gap) — fail loudly instead
        raise ValueError(f"varint value must be non-negative, got {v}")
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    result = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _tag(field_no: int, wire: int) -> int:
    return (field_no << 3) | wire


def _put_varint_field(out: bytearray, field_no: int, v: int) -> None:
    if v == 0:
        return  # proto3 default omitted
    _write_varint(out, _tag(field_no, 0))
    _write_varint(out, v)


def _put_bytes_field(out: bytearray, field_no: int, data: bytes) -> None:
    _write_varint(out, _tag(field_no, 2))
    _write_varint(out, len(data))
    out.extend(data)


def _put_double_field(out: bytearray, field_no: int, v: float) -> None:
    if v == 0.0:
        return
    _write_varint(out, _tag(field_no, 1))
    out.extend(struct.pack("<d", v))


def _parse_fields(buf: bytes):
    """Yield (field_no, wire_type, value) over one message's bytes."""
    pos = 0
    n = len(buf)
    while pos < n:
        key, pos = _read_varint(buf, pos)
        field_no, wire = key >> 3, key & 7
        if wire == 0:
            v, pos = _read_varint(buf, pos)
        elif wire == 1:
            v = struct.unpack("<d", buf[pos:pos + 8])[0]
            pos += 8
        elif wire == 2:
            ln, pos = _read_varint(buf, pos)
            v = buf[pos:pos + ln]
            pos += ln
        elif wire == 5:
            v = struct.unpack("<f", buf[pos:pos + 4])[0]
            pos += 4
        else:
            raise ValueError(f"unsupported wire type {wire}")
        yield field_no, wire, v


# ------------------------------------------------------------- CIFF messages

@dataclass
class CiffHeader:
    version: int = 1
    num_postings_lists: int = 0
    num_docs: int = 0
    total_postings_lists: int = 0
    total_docs: int = 0
    total_terms_in_collection: int = 0
    average_doclength: float = 0.0
    description: str = ""

    def encode(self) -> bytes:
        out = bytearray()
        _put_varint_field(out, 1, self.version)
        _put_varint_field(out, 2, self.num_postings_lists)
        _put_varint_field(out, 3, self.num_docs)
        _put_varint_field(out, 4, self.total_postings_lists)
        _put_varint_field(out, 5, self.total_docs)
        _put_varint_field(out, 6, self.total_terms_in_collection)
        _put_double_field(out, 7, self.average_doclength)
        if self.description:
            _put_bytes_field(out, 8, self.description.encode())
        return bytes(out)

    @classmethod
    def decode(cls, buf: bytes) -> "CiffHeader":
        h = cls()
        for fno, _w, v in _parse_fields(buf):
            if fno == 1: h.version = v
            elif fno == 2: h.num_postings_lists = v
            elif fno == 3: h.num_docs = v
            elif fno == 4: h.total_postings_lists = v
            elif fno == 5: h.total_docs = v
            elif fno == 6: h.total_terms_in_collection = v
            elif fno == 7: h.average_doclength = v
            elif fno == 8: h.description = v.decode()
        return h


def _encode_posting(docid_gap: int, tf: int) -> bytes:
    out = bytearray()
    _put_varint_field(out, 1, docid_gap)
    _put_varint_field(out, 2, tf)
    return bytes(out)


def encode_postings_list(term: str, df: int, cf: int, docids, tfs) -> bytes:
    out = bytearray()
    _put_bytes_field(out, 1, term.encode())
    _put_varint_field(out, 2, df)
    _put_varint_field(out, 3, cf)
    prev = 0
    for d, t in zip(docids, tfs):
        _put_bytes_field(out, 4, _encode_posting(int(d) - prev, int(t)))
        prev = int(d)
    return bytes(out)


def decode_postings_list(buf: bytes) -> tuple[str, int, int, list[int], list[int]]:
    term, df, cf = "", 0, 0
    docids: list[int] = []
    tfs: list[int] = []
    acc = 0
    for fno, _w, v in _parse_fields(buf):
        if fno == 1:
            term = v.decode()
        elif fno == 2:
            df = v
        elif fno == 3:
            cf = v
        elif fno == 4:
            gap, tf_ = 0, 0
            for pf, _pw, pv in _parse_fields(v):
                if pf == 1: gap = pv
                elif pf == 2: tf_ = pv
            acc += gap
            docids.append(acc)
            tfs.append(tf_)
    return term, df, cf, docids, tfs


def encode_doc_record(docid: int, collection_docid: str, doclength: int) -> bytes:
    out = bytearray()
    _put_varint_field(out, 1, docid)
    _put_bytes_field(out, 2, collection_docid.encode())
    _put_varint_field(out, 3, doclength)
    return bytes(out)


def decode_doc_record(buf: bytes) -> tuple[int, str, int]:
    docid, docno, dl = 0, "", 0
    for fno, _w, v in _parse_fields(buf):
        if fno == 1: docid = v
        elif fno == 2: docno = v.decode()
        elif fno == 3: dl = v
    return docid, docno, dl


def _write_delimited(fh, msg: bytes) -> None:
    out = bytearray()
    _write_varint(out, len(msg))
    fh.write(bytes(out))
    fh.write(msg)


def _read_delimited(fh) -> bytes | None:
    # read a varint length byte-by-byte, then the payload
    shift, ln = 0, 0
    while True:
        b = fh.read(1)
        if not b:
            return None
        ln |= (b[0] & 0x7F) << shift
        if not b[0] & 0x80:
            break
        shift += 7
    return fh.read(ln)


# -------------------------------------------------------------- export/import

def export_ciff(index, out_path: str, description: str = "pyterrier_pisa_spark") -> dict:
    """PersistedIndex -> CIFF file. Terms stream in lexicographic order
    (term_id order); postings in docid order. Driver-streamed: CIFF is a
    single sequential file, so export is inherently single-writer —
    ``toLocalIterator`` keeps memory bounded."""
    from pyspark.sql import functions as F

    lex_it = (
        index.lexicon.select("term_id", "term", "df", "cf")
        .orderBy("term_id").toLocalIterator()
    )
    flat = index.flat_tf().join(index.lexicon.select("term_id", "term"), "term_id")
    grouped = (
        flat.groupBy("term_id")
        .agg(F.sort_array(F.collect_list(F.struct("docid", "tf"))).alias("plist"))
        .orderBy("term_id")
        .toLocalIterator()
    )
    stats = index.stats
    n_terms = stats.get("num_terms") or index.lexicon.count()
    header = CiffHeader(
        version=1,
        num_postings_lists=int(n_terms),
        num_docs=int(stats["num_docs"]),
        total_postings_lists=int(n_terms),
        total_docs=int(stats["num_docs"]),
        total_terms_in_collection=int(stats["total_doclen"]),
        average_doclength=float(stats["avg_doclen"]),
        description=description,
    )
    n_lists = 0
    with open(out_path, "wb") as fh:
        _write_delimited(fh, header.encode())
        for lex_row, grp_row in zip(lex_it, grouped):
            assert lex_row["term_id"] == grp_row["term_id"]
            plist = grp_row["plist"]
            msg = encode_postings_list(
                lex_row["term"], int(lex_row["df"]), int(lex_row["cf"]),
                [p["docid"] for p in plist], [p["tf"] for p in plist],
            )
            _write_delimited(fh, msg)
            n_lists += 1
        for r in index.docmap.orderBy("docid").toLocalIterator():
            _write_delimited(fh, encode_doc_record(int(r["docid"]), r["docno"], int(r["doclen"])))
    return {"postings_lists": n_lists, "num_docs": header.num_docs, "path": out_path}


def import_ciff(spark: SparkSession, ciff_path: str, index_path: str,
                batch_rows: int = 500_000, **build_kwargs) -> dict:
    """CIFF file -> persisted index. The sequential file is parsed
    driver-side (CIFF is single-stream by design), but NOTHING accumulates on
    the driver: postings flush to ``tf_raw/`` parquet shards and doc records
    to ``docmap/`` shards every ``batch_rows`` rows, so driver memory stays
    O(batch_rows) for an arbitrarily large CIFF. Doc lengths are then
    attached to the postings with ONE distributed join (tf_raw ⋈ docmap),
    and build phases 2-4 rebuild lexicon/blocks/maxscore — an imported index
    is indistinguishable from a built one."""
    import shutil

    from ..operators.retrieve import local_relation
    from .index_store import _commit_phase, build_index

    os.makedirs(index_path, exist_ok=True)
    tf_raw_dir = os.path.join(index_path, "tf_raw")
    docmap_dir = os.path.join(index_path, "docmap")
    for d in (tf_raw_dir, docmap_dir, os.path.join(index_path, "tf")):
        shutil.rmtree(d, ignore_errors=True)

    TF_SCHEMA = "docid long, term string, tf long"
    DOC_SCHEMA = "docid long, docno string, doclen long, content_sha256 string"

    def _flush(rows, schema, out_dir, mode):
        local_relation(spark, rows, schema).write.mode(mode).parquet(out_dir)

    n_lists, n_tf, n_docs, max_docid = 0, 0, 0, None
    tf_mode, doc_mode = "overwrite", "overwrite"
    tf_rows: list[tuple] = []
    doc_rows: list[tuple] = []
    with open(ciff_path, "rb") as fh:
        hdr_buf = _read_delimited(fh)
        if hdr_buf is None:
            raise ValueError(f"not a CIFF file (empty or truncated header): {ciff_path}")
        header = CiffHeader.decode(hdr_buf)
        for _ in range(header.num_postings_lists):
            buf = _read_delimited(fh)
            if buf is None:
                raise ValueError(f"truncated CIFF: expected {header.num_postings_lists} "
                                 f"postings lists, got {n_lists}")
            term, df, cf, docids, tfs = decode_postings_list(buf)
            n_lists += 1
            for d, t in zip(docids, tfs):
                tf_rows.append((d, term, t))
            if len(tf_rows) >= batch_rows:
                _flush(tf_rows, TF_SCHEMA, tf_raw_dir, tf_mode)
                n_tf += len(tf_rows)
                tf_rows, tf_mode = [], "append"
        for _ in range(header.num_docs):
            buf = _read_delimited(fh)
            if buf is None:
                raise ValueError(f"truncated CIFF: expected {header.num_docs} "
                                 f"doc records, got {n_docs}")
            docid, docno, dl = decode_doc_record(buf)
            doc_rows.append((docid, docno, dl, None))
            n_docs += 1
            max_docid = docid if max_docid is None else max(max_docid, docid)
            if len(doc_rows) >= batch_rows:
                _flush(doc_rows, DOC_SCHEMA, docmap_dir, doc_mode)
                doc_rows, doc_mode = [], "append"
    _flush(tf_rows, TF_SCHEMA, tf_raw_dir, tf_mode)
    n_tf += len(tf_rows)
    _flush(doc_rows, DOC_SCHEMA, docmap_dir, doc_mode)

    # doclen attach: one distributed join, not a driver-side dict
    from pyspark.sql import functions as F

    tf_raw = spark.read.parquet(tf_raw_dir)
    docmap = spark.read.parquet(docmap_dir).select("docid", "doclen")
    tf_raw.join(docmap, "docid").select("docid", "term", "tf", "doclen").write.mode(
        "overwrite").parquet(os.path.join(index_path, "tf"))
    shutil.rmtree(tf_raw_dir, ignore_errors=True)

    _commit_phase(index_path, "tf", {
        "num_docs": int(header.num_docs), "tf_rows": n_tf, "max_docid": max_docid,
        "imported_ciff": ciff_path,
    })
    empty = local_relation(spark, [], "docno string, content string")
    meta = build_index(empty, index_path, mode="resume", **build_kwargs)
    return meta
