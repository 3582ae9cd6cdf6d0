"""Avro snappy blocks (sources/avro): a raw-snappy body plus the CRC32
of the uncompressed data.

The hand-built bitstreams below come straight from the public snappy
format description (varint preamble; 00/01/10/11 tags), not from a
compressor, so they pin the block reader against the spec.
"""

import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from graph_db_clustering_spark.sources import avro


def _decode(stream: bytes, expected: bytes = b"") -> bytes:
    """Read one block: `stream` plus the CRC32 of `expected`."""
    crc = (zlib.crc32(expected) & 0xFFFFFFFF).to_bytes(4, "big")
    return avro._snappy_decompress(stream + crc)


# --- hand-built bitstreams (spec-derived, compressor-independent) ----------


def test_literal_only_stream():
    # preamble 3, tag (3-1)<<2 = 0x08 (literal len 3), "abc"
    assert _decode(b"\x03\x08abc", b"abc") == b"abc"


def test_long_literal_one_byte_length():
    # len 100 -> tag 60<<2 = 0xF0, then (100-1) as one byte
    payload = bytes(range(100))
    assert _decode(b"\x64\xf0\x63" + payload, payload) == payload


def test_copy_1byte_offset_rle():
    # "a" then copy(offset=1, len=8): tag 01 | (8-4)<<2 | (0<<5) = 0x11,
    # offset byte 0x01 -> "a"*9 (overlapping copy == RLE)
    blob = b"\x09" + b"\x00a" + b"\x11\x01"
    assert _decode(blob, b"a" * 9) == b"a" * 9


def test_copy_2byte_offset():
    # "abcd" + copy(offset=4, len=4): tag 10 | (4-1)<<2 = 0x0e, offset LE
    blob = b"\x08" + b"\x0cabcd" + b"\x0e\x04\x00"
    assert _decode(blob, b"abcdabcd") == b"abcdabcd"


def test_copy_4byte_offset():
    blob = b"\x08" + b"\x0cabcd" + b"\x0f\x04\x00\x00\x00"
    assert _decode(blob, b"abcdabcd") == b"abcdabcd"


def test_overlapping_copy_period_three():
    # "abc" then copy(offset=3, len=7): tag 10 | (7-1)<<2 = 0x1a
    blob = b"\x0a" + b"\x08abc" + b"\x1a\x03\x00"
    assert _decode(blob, b"abcabcabca") == b"abcabcabca"


def test_empty_input():
    assert _decode(b"\x00") == b""
    assert _roundtrip(b"")[0] == b""


# --- controlled failure on corrupt input -----------------------------------


def test_corrupt_inputs_raise():
    with pytest.raises(avro.AvroError, match="shorter than its CRC"):
        avro._snappy_decompress(b"")
    with pytest.raises(avro.AvroError, match="length preamble"):
        _decode(b"")
    for stream in (
        b"\x04\x00a\x0e\x00\x00",  # copy with offset 0
        b"\x05\x00a\x0e\x09\x00",  # copy from before the output start
        b"\x05\x10ab",  # literal claims 5 bytes, two present
        b"\x09\x08abc",  # stream ends 6 bytes short of its preamble
    ):
        with pytest.raises(avro.AvroError, match="corrupt snappy"):
            _decode(stream)


# --- roundtrips through the container writer and reader ---------------------

BYTES_SCHEMA = {"type": "record", "name": "r",
                "fields": [{"name": "b", "type": "bytes"}]}


def _roundtrip(data: bytes) -> tuple[bytes, bool]:
    """(data read back from a snappy container, whether the snappy
    container is smaller than the null one)."""
    rows = [{"b": data}]
    blob = avro.encode_container(BYTES_SCHEMA, rows, codec="snappy")
    raw = avro.encode_container(BYTES_SCHEMA, rows, codec="null")
    return avro.decode_container(blob)[1][0]["b"], len(blob) < len(raw)


@given(st.binary(max_size=4096))
@settings(max_examples=200, deadline=None)
def test_roundtrip_random(data):
    assert _roundtrip(data)[0] == data


@given(
    st.binary(min_size=1, max_size=8),
    st.integers(min_value=1, max_value=2000),
)
@settings(max_examples=50, deadline=None)
def test_roundtrip_repetitive_compresses(unit, reps):
    data = unit * reps
    got, smaller = _roundtrip(data)
    assert got == data
    if len(data) > 256:
        assert smaller  # RLE path actually engages


def test_roundtrip_large_structured():
    # parquet-footer-ish: long runs + embedded distinct strings; the runs
    # expand close to the 22x bound the reader puts on a preamble
    data = (b"x" * 100000 + b"HEADER" + bytes(range(256)) * 64) * 3
    rows = [{"b": data}]
    blob = avro.encode_container(BYTES_SCHEMA, rows, codec="snappy")
    assert avro.decode_container(blob)[1] == rows
    assert len(blob) < len(data) // 10


# --- the container ------------------------------------------------------------


def test_avro_snappy_container_roundtrip():
    schema = {
        "type": "record",
        "name": "Doc",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "text", "type": "string"},
        ],
    }
    rows = [{"id": i, "text": "the quick brown fox " * 5} for i in range(50)]
    blob = avro.encode_container(schema, rows, codec="snappy")
    fields, got = avro.decode_container(blob)
    assert got == rows
    # the CRC32 trailer is verified: flip one body byte
    bad = bytearray(blob)
    bad[-30] ^= 0xFF
    with pytest.raises(avro.AvroError, match="snappy|CRC|corrupt"):
        avro.decode_container(bytes(bad))
