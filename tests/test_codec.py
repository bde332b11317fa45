"""Posting-block layout: frame-of-reference docids, Arrow list packing and
flattening, and the Parquet writer settings behind each encoding name."""

import os

import numpy as np
import pyarrow.parquet as pq
from hypothesis import given, settings, strategies as st

from pyterrier_pisa_spark.operators import codec as C


def _blocks(docids, tfs, doclens, block):
    """Cut ascending postings into consecutive blocks of ``block``."""
    n = len(docids)
    counts = np.array([min(block, n - i) for i in range(0, n, block)], dtype=np.int64)
    return C.block_batch(np.full(counts.size, 7), np.arange(counts.size),
                         np.asarray(docids, np.int64), np.asarray(tfs, np.int64),
                         np.asarray(doclens, np.int64), counts,
                         np.zeros(counts.size))


@given(st.lists(st.integers(min_value=0, max_value=2**40), min_size=1,
                max_size=300, unique=True),
       st.integers(min_value=1, max_value=40))
@settings(max_examples=100)
def test_delta_roundtrip(docids, block):
    """docids_delta is ``docid - docid_first`` per block: decoding adds the
    block's first docid back, with no prefix sum."""
    d = np.sort(np.array(docids, dtype=np.int64))
    counts = np.array([min(block, d.size - i) for i in range(0, d.size, block)])
    starts = C.segment_starts(counts)
    first, offsets = C.encode_docids(d, starts, counts)
    assert (first == d[starts]).all() and (offsets >= 0).all()
    assert C.decode_docids(first, offsets, counts).tolist() == d.tolist()


@given(st.lists(st.tuples(st.integers(min_value=0, max_value=10**9),
                          st.integers(min_value=1, max_value=10**6),
                          st.integers(min_value=1, max_value=10**6)),
                min_size=1, max_size=300, unique_by=lambda p: p[0]),
       st.integers(min_value=1, max_value=128))
@settings(max_examples=100, deadline=None)
def test_block_roundtrip(postings, block):
    """Postings -> Arrow block rows -> postings."""
    postings.sort()
    d, t, dl = (np.array(c, dtype=np.int64) for c in zip(*postings))
    batch = _blocks(d, t, dl, block)
    assert str(batch.schema.field("docids_delta").type) == "list<item: int32>"
    assert batch.column("count").to_pylist() == [
        min(block, len(d) - i) for i in range(0, len(d), block)]
    got = C.decode_arrow(batch)
    for a, b in zip(got[:3], (d, t, dl)):
        np.testing.assert_array_equal(a, b)


def test_codec_registry():
    import pytest as _pytest

    assert set(C.ENCODINGS) == {"varint", "bytepack", "bitpack"}
    assert C.get_codec(None).name == "varint"
    for name, codec in C.ENCODINGS.items():
        assert codec.name == name and isinstance(codec.writer_options, dict)
    with _pytest.raises(ValueError, match="unknown index encoding"):
        C.get_codec("simd9000")


def test_decode_segments_roundtrip_both_codecs():
    """Segment methods (one list column at a time) split and concatenate
    exactly for every registered codec, including single-value blocks; a
    count mismatch is refused."""
    import pytest as _pytest

    rng = np.random.default_rng(3)
    blocks = [rng.integers(0, 1 << 20, size=n) for n in (1, 128, 7, 300, 1)]
    counts = np.array([len(b) for b in blocks], dtype=np.int64)
    flat = np.concatenate(blocks)
    for name, codec in C.ENCODINGS.items():
        cells = codec.encode_segments(flat, C.segment_starts(counts))
        assert [len(c) for c in cells] == counts.tolist(), name
        np.testing.assert_array_equal(codec.decode_segments(cells, counts), flat,
                                      err_msg=name)
        with _pytest.raises(ValueError, match="expected"):
            codec.decode_segments(cells, counts + 1)


def _written(spark, tmp_path, batch, name):
    from pyterrier_pisa_spark.sources.index_store import _write_postings

    out = str(tmp_path / name)
    _write_postings(spark.createDataFrame(batch.to_pandas()).coalesce(1), out,
                    C.get_codec(name))
    files = [os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")]
    return files, sum(os.path.getsize(f) for f in files)


def _dense_postings(n=60_000):
    rng = np.random.default_rng(11)
    d = np.cumsum(rng.integers(1, 9, n))
    return _blocks(d, rng.integers(1, 6, n), rng.integers(20, 400, n), 128)


def test_compression_actually_compresses(spark, tmp_path):
    """Every encoding's Parquet writer settings store the postings in fewer
    bytes than their raw 4-byte values, and read back unchanged."""
    batch = _dense_postings()
    raw = 3 * 4 * int(batch.column("count").to_numpy().sum())
    for name in C.ENCODINGS:
        files, nbytes = _written(spark, tmp_path, batch, name)
        assert nbytes < raw, (name, nbytes, raw)
        back = pq.read_table(files)
        for c in C.LIST_COLUMNS:
            assert back.column(c).to_pylist() == batch.column(c).to_pylist(), name


def test_bitpack_density(spark, tmp_path):
    """``bitpack`` writes the list values as DELTA_BINARY_PACKED pages (bit-
    packed miniblocks), denser than ``bytepack``'s plain fixed-width ones."""
    batch = _dense_postings()
    sizes = {}
    for name in ("bitpack", "bytepack"):
        files, sizes[name] = _written(spark, tmp_path, batch, name)
        md = pq.ParquetFile(files[0]).metadata
        for g in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(g).column(ci)
                if col.path_in_schema.split(".")[0] in C.LIST_COLUMNS:
                    enc = set(col.encodings)
                    assert "PLAIN_DICTIONARY" not in enc and "RLE_DICTIONARY" not in enc
                    want = "DELTA_BINARY_PACKED" if name == "bitpack" else "PLAIN"
                    assert want in enc, (name, col.path_in_schema, enc)
    assert sizes["bitpack"] < sizes["bytepack"]
