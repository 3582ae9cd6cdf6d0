"""Puffin file format + the delete-vector-v1 blob type — the storage
Iceberg v3 deletion vectors use (public specs: iceberg.apache.org
puffin-spec and the format v3 spec's Deletion Vectors section).

Puffin layout:

    Magic  Blob1 .. BlobN  Magic FooterPayload FooterPayloadSize Flags Magic

- Magic is the 4 bytes ``PFA1``.
- FooterPayload is UTF-8 JSON: ``{"blobs": [{type, fields,
  snapshot-id, sequence-number, offset, length, properties}, ...],
  "properties": {...}}`` — offsets are absolute file positions.
- FooterPayloadSize is a 4-byte little-endian int; Flags is 4 bytes
  (bit 0 of byte 0: payload LZ4-frame-compressed — read support only;
  the writer emits uncompressed). Blob-level `compression-codec`
  lz4/zstd frames decode through pyarrow's codecs; unknown codecs gate
  loudly.

delete-vector-v1 blob layout (format v3 deletion vectors): the blob
deliberately matches ONE Delta Lake deletion-vector record so DV
payloads are engine-portable —

    len(magic+vector) int32 BE | magic D1 D3 39 64 | vector | CRC-32 BE

where ``magic`` is exactly the little-endian int32 1681511377 that
heads Delta's serialized RoaringBitmapArray, ``vector`` is the
"portable" 64-bit roaring serialization, and the checksum covers
magic+vector. functions/roaring.py provides both halves (built for
Delta DVs in round 10); this module only frames them. Required blob
properties: ``referenced-data-file`` and ``cardinality``.

Caveat recorded per repo policy: the framing is transcribed from the
public specs and pinned by byte-level tests + same-repo roundtrips; no
real-engine v3 fixture exists in this container to cross-check against
(v3 shipped in 2025 engines only).
"""

from __future__ import annotations

import json
import struct
import zlib

import pyarrow as pa

from graph_db_clustering_spark.functions.roaring import (
    decode_rbm_array,
    encode_rbm_array,
)

MAGIC = b"PFA1"


class PuffinError(ValueError):
    pass


def _frame_decompress(data: bytes, codec: str) -> bytes:
    """One lz4 or zstd frame -> its content; corrupt input is a PuffinError."""
    try:
        return pa.CompressedInputStream(pa.BufferReader(data), codec).read()
    except OSError as e:
        raise PuffinError(f"puffin: corrupt {codec} frame ({e})")


def write_puffin(
    path: str, blobs: list[dict], properties: dict | None = None
) -> list[dict]:
    """Write a Puffin file. Each blob dict: {'type', 'data': bytes,
    optional 'fields', 'snapshot_id', 'sequence_number',
    'properties'}. Returns the footer blob entries (with absolute
    offset/length) for the caller's metadata."""
    parts = [MAGIC]
    at = len(MAGIC)
    entries = []
    for b in blobs:
        data = b["data"]
        e = {
            "type": b["type"],
            "fields": list(b.get("fields") or []),
            "snapshot-id": int(b.get("snapshot_id", 0)),
            "sequence-number": int(b.get("sequence_number", 0)),
            "offset": at,
            "length": len(data),
        }
        if b.get("properties"):
            e["properties"] = dict(b["properties"])
        entries.append(e)
        parts.append(data)
        at += len(data)
    payload = json.dumps(
        {"blobs": entries, "properties": dict(properties or {})},
        sort_keys=True,
    ).encode()
    parts += [
        MAGIC,
        payload,
        struct.pack("<i", len(payload)),
        b"\x00\x00\x00\x00",
        MAGIC,
    ]
    with open(path, "wb") as f:
        f.write(b"".join(parts))
    return entries


def read_puffin(path: str) -> tuple[dict, bytes]:
    """Read a Puffin file: returns (footer JSON dict, raw file bytes).
    Blob data = raw[offset : offset + length] per footer entry."""
    with open(path, "rb") as f:
        raw = f.read()
    if raw[:4] != MAGIC or raw[-4:] != MAGIC:
        raise PuffinError(f"puffin: bad magic in {path}")
    flags = raw[-8:-4]
    if flags[0] & ~0x01 or any(flags[1:]):
        raise PuffinError(f"puffin: unknown footer flags {flags.hex()}")
    (size,) = struct.unpack_from("<i", raw, len(raw) - 12)
    start = len(raw) - 12 - size
    if raw[start - 4 : start] != MAGIC:
        raise PuffinError("puffin: footer start magic missing")
    payload = raw[start : start + size]
    if flags[0] & 0x01:  # footer payload LZ4-frame-compressed
        payload = _frame_decompress(payload, "lz4")
    footer = json.loads(payload.decode("utf-8"))
    return footer, raw


def puffin_blob(raw: bytes, entry: dict) -> bytes:
    off, length = entry["offset"], entry["length"]
    body = raw[off : off + length]
    codec = entry.get("compression-codec")
    if not codec:
        return body
    if codec in ("lz4", "zstd"):  # a single frame per the spec
        return _frame_decompress(body, codec)
    raise NotImplementedError(
        f"puffin: blob compression-codec {codec!r} not supported"
    )


def encode_dv_blob(positions) -> bytes:
    """delete-vector-v1 blob bytes for a set of row positions."""
    rbm = encode_rbm_array(positions)  # magic + portable-64 vector
    return (
        struct.pack(">i", len(rbm))
        + rbm
        + struct.pack(">I", zlib.crc32(rbm) & 0xFFFFFFFF)
    )


def decode_dv_blob(data: bytes) -> list[int]:
    """Positions from a delete-vector-v1 blob (length + CRC checked)."""
    if len(data) < 8:
        raise PuffinError("puffin dv: blob too short")
    (n,) = struct.unpack_from(">i", data, 0)
    if len(data) != 8 + n:
        raise PuffinError(
            f"puffin dv: declared {n} + framing != blob size {len(data)}"
        )
    rbm = data[4 : 4 + n]
    (want,) = struct.unpack_from(">I", data, 4 + n)
    got = zlib.crc32(rbm) & 0xFFFFFFFF
    if got != want:
        raise PuffinError(f"puffin dv: checksum {got:#x} != {want:#x}")
    return decode_rbm_array(rbm)
