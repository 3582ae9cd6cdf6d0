"""Avro zstandard blocks (sources/avro): the reader decodes any frame
sequence libzstd writes, at any level, with skippable frames between
frames; corrupt frames raise AvroError; the writer's blocks compress."""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa
import pytest

from graph_db_clustering_spark.sources import avro as A

BYTES_SCHEMA = {"type": "record", "name": "r",
                "fields": [{"name": "b", "type": "bytes"}]}


def _frame(data: bytes, level: int = 3) -> bytes:
    return pa.Codec("zstd", compression_level=level).compress(data, asbytes=True)


def _with_block(schema, rows, make_block) -> bytes:
    """A one-block zstandard container of `rows` whose block is
    `make_block(uncompressed block bytes)`."""
    nul = A.encode_container(schema, rows, codec="null")
    _f, _codec, _sync, pos = A.read_header(nul)
    count, p = A._read_varint(nul, pos)
    size, p = A._read_varint(nul, p)
    block = make_block(nul[p : p + size])
    blob = A.encode_container(schema, rows, codec="zstandard")
    hdr_end = A.read_header(blob)[3]
    return (blob[:hdr_end] + A._write_varint(count)
            + A._write_varint(len(block)) + block + blob[-16:])


def _payloads():
    import random

    random.seed(7)
    rng = np.random.default_rng(7)
    yield b""
    yield b"x"
    yield b"A" * 50_000  # RLE
    yield bytes(rng.integers(0, 256, 100_000, dtype=np.uint8))  # raw
    words = [b"alpha", b"beta", b"gamma", b"delta", b"longer-word-x"]
    yield b" ".join(random.choice(words) for _ in range(20_000))  # seqs
    yield bytes(rng.integers(0, 3, 80_000, dtype=np.uint8))  # huffman
    with open(A.__file__, "rb") as f:
        txt = f.read()
    yield txt
    yield txt * 4  # multi-block (>128k)
    for sz in (17, 255, 256, 4096, 131_073):
        yield bytes(rng.integers(0, 64, sz, dtype=np.uint8))
    block = bytes(rng.integers(0, 256, 3_000, dtype=np.uint8))
    yield block * 30  # long-offset matches


@pytest.mark.parametrize("level", [1, 3, 9, 19])
def test_libzstd_cross_check(level):
    """Every payload shape, compressed by libzstd at this level, reads
    back byte-identically from a zstandard block."""
    for p in _payloads():
        rows = [{"b": p}]
        blob = _with_block(BYTES_SCHEMA, rows, lambda raw: _frame(raw, level))
        assert A.decode_container(blob)[1] == rows


def test_skippable_frames_and_concatenation():
    rows = [{"b": b"first-second"}]
    skip = struct.pack("<I", 0x184D2A53) + struct.pack("<I", 5) + b"noise"

    def two_frames(raw):
        cut = len(raw) // 3
        return _frame(raw[:cut]) + skip + _frame(raw[cut:])

    blob = _with_block(BYTES_SCHEMA, rows, two_frames)
    assert A.decode_container(blob)[1] == rows


def test_gates_and_corrupt_inputs():
    rows = [{"b": b"hello world, here is some compressible text" * 40}]

    def truncated(raw):
        frame = _frame(raw)
        return frame[: len(frame) // 2]

    for make_block in (
        lambda _raw: b"\x00\x01\x02\x03\x04\x05",  # bad magic
        lambda _raw: b"\x28",  # shorter than a magic
        # a frame header with the dictionary-ID flag and nothing after
        lambda _raw: struct.pack("<I", 0xFD2FB528) + bytes([0x21, 0x00, 0x05]),
        truncated,
    ):
        blob = _with_block(BYTES_SCHEMA, rows, make_block)
        with pytest.raises(A.AvroError, match="corrupt zstandard"):
            A.decode_container(blob)


def test_avro_zstandard_container():
    """zstandard containers round-trip through the repo's own writer
    AND decode when the block is a libzstd frame written elsewhere."""
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "k", "type": "long"},
        {"name": "s", "type": ["null", "string"]},
    ]}
    rows = [
        {"k": i, "s": None if i % 7 == 0 else f"row-{i}" * 3}
        for i in range(500)
    ]
    blob = A.encode_container(schema, rows, codec="zstandard")
    _fields, got = A.decode_container(blob)
    assert got == rows
    _f2, got2 = A.decode_container(_with_block(schema, rows, _frame))
    assert got2 == rows


def test_avro_zstandard_blocks_now_compress(tmp_path):
    from graph_db_clustering_spark.sources import avro as pyavro

    schema = {"type": "record", "name": "r", "fields": [
        {"name": "t", "type": "string"}]}
    rows = [{"t": "repetitive payload " * 10} for _ in range(200)]
    blob = pyavro.encode_container(schema, rows, codec="zstandard")
    raw = pyavro.encode_container(schema, rows, codec="null")
    assert len(blob) < 0.3 * len(raw)
    _f, out = pyavro.decode_container(blob)
    assert out == rows
