"""Puffin container + delete-vector-v1 blobs + Iceberg v3 deletion
vectors (functions/puffin.py, sources/iceberg.iceberg_add_deletion_
vectors)."""

from __future__ import annotations

import json
import os
import struct
import zlib

import pytest
from pyspark.sql import functions as F

from graph_db_clustering_spark.functions.puffin import (
    MAGIC,
    PuffinError,
    decode_dv_blob,
    encode_dv_blob,
    puffin_blob,
    read_puffin,
    write_puffin,
)


def test_puffin_layout_bytes(tmp_path):
    p = str(tmp_path / "x.puffin")
    entries = write_puffin(
        p,
        [{"type": "deletion-vector-v1", "data": b"ABCDEF",
          "properties": {"referenced-data-file": "/d/a.parquet",
                         "cardinality": "3"}}],
        properties={"created-by": "gdc"},
    )
    raw = open(p, "rb").read()
    assert raw[:4] == MAGIC and raw[-4:] == MAGIC
    # first blob sits immediately after the head magic
    assert entries[0]["offset"] == 4 and entries[0]["length"] == 6
    assert raw[4:10] == b"ABCDEF"
    # footer: Magic payload size(LE) flags Magic
    (size,) = struct.unpack_from("<i", raw, len(raw) - 12)
    payload = raw[len(raw) - 12 - size : len(raw) - 12]
    assert raw[len(raw) - 16 - size : len(raw) - 12 - size] == MAGIC
    assert raw[-8:-4] == b"\x00\x00\x00\x00"
    footer = json.loads(payload)
    assert footer["blobs"][0]["type"] == "deletion-vector-v1"
    assert footer["properties"] == {"created-by": "gdc"}


def test_puffin_roundtrip_multi_blob(tmp_path):
    p = str(tmp_path / "m.puffin")
    write_puffin(
        p,
        [{"type": "t1", "data": b"one"},
         {"type": "t2", "data": b"twotwo", "snapshot_id": 7,
          "sequence_number": 3}],
    )
    footer, raw = read_puffin(p)
    b1, b2 = footer["blobs"]
    assert puffin_blob(raw, b1) == b"one"
    assert puffin_blob(raw, b2) == b"twotwo"
    assert b2["snapshot-id"] == 7 and b2["sequence-number"] == 3


def test_puffin_bad_magic_and_flags(tmp_path):
    p = str(tmp_path / "bad.puffin")
    write_puffin(p, [{"type": "t", "data": b"x"}])
    raw = bytearray(open(p, "rb").read())
    raw[0] = 0x00
    open(p, "wb").write(bytes(raw))
    with pytest.raises(PuffinError, match="magic"):
        read_puffin(p)
    # unknown flag bits are an error, not a shrug
    write_puffin(p, [{"type": "t", "data": b"x"}])
    raw = bytearray(open(p, "rb").read())
    raw[-8] = 0x02
    open(p, "wb").write(bytes(raw))
    with pytest.raises(PuffinError, match="flags"):
        read_puffin(p)
    # the LZ4 flag over a payload that is not an LZ4 frame
    raw[-8] = 0x01
    open(p, "wb").write(bytes(raw))
    with pytest.raises(PuffinError, match="corrupt lz4"):
        read_puffin(p)


def test_puffin_lz4_compressed_footer_reads(tmp_path):
    """Flag bit 0: the footer payload is one LZ4 frame — rebuild a
    valid compressed-footer file by hand and read it back."""
    import struct as _struct

    import pyarrow as pa

    p = str(tmp_path / "c.puffin")
    write_puffin(p, [{"type": "t", "data": b"payload"}])
    raw = open(p, "rb").read()
    (size,) = _struct.unpack_from("<i", raw, len(raw) - 12)
    start = len(raw) - 12 - size
    payload = raw[start : start + size]
    comp = pa.compress(payload, codec="lz4", asbytes=True)
    rebuilt = (
        raw[: start - 4] + MAGIC + comp
        + _struct.pack("<i", len(comp)) + b"\x01\x00\x00\x00" + MAGIC
    )
    open(p, "wb").write(rebuilt)
    footer, raw2 = read_puffin(p)
    assert footer["blobs"][0]["type"] == "t"
    assert puffin_blob(raw2, footer["blobs"][0]) == b"payload"


def test_dv_blob_framing():
    """delete-vector-v1 = len(BE) | D1 D3 39 64 magic | portable-64
    roaring | CRC-32(BE of magic+vector) — the magic IS Delta's
    little-endian int32 1681511377, so the framed chunk is
    byte-identical to one Delta DV record."""
    blob = encode_dv_blob([1, 5, 99, 2**33])
    (n,) = struct.unpack_from(">i", blob, 0)
    assert len(blob) == 8 + n
    assert blob[4:8] == bytes([0xD1, 0xD3, 0x39, 0x64])
    assert struct.unpack_from("<i", blob, 4)[0] == 1681511377
    (crc,) = struct.unpack_from(">I", blob, 4 + n)
    assert crc == zlib.crc32(blob[4 : 4 + n]) & 0xFFFFFFFF
    assert decode_dv_blob(blob) == [1, 5, 99, 2**33]


def test_dv_blob_checksum_and_length_guards():
    blob = bytearray(encode_dv_blob([3, 4]))
    blob[6] ^= 0xFF
    with pytest.raises(PuffinError, match="checksum|magic"):
        decode_dv_blob(bytes(blob))
    with pytest.raises(PuffinError, match="blob size"):
        decode_dv_blob(encode_dv_blob([3, 4])[:-2])


@pytest.fixture()
def dv_table(spark, tmp_path):
    from graph_db_clustering_spark.sources.iceberg import (
        iceberg_live_files,
        write_iceberg,
    )

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "id long, val string"
    )
    write_iceberg(spark, df.coalesce(1), t)
    scan = spark.read.parquet(*iceberg_live_files(t)).select(
        F.col("_metadata.file_path").alias("file_path"),
        F.col("_metadata.row_index").alias("pos"),
        "id",
    )
    return t, scan


def test_iceberg_dv_read_and_format_bump(spark, dv_table):
    from graph_db_clustering_spark.sources.iceberg import (
        _snapshot_entries,
        iceberg_add_deletion_vectors,
        read_iceberg,
    )

    t, scan = dv_table
    iceberg_add_deletion_vectors(
        spark, t,
        scan.filter(F.col("id") % 7 == 0).select("file_path", "pos"),
    )
    got = sorted(r["id"] for r in read_iceberg(spark, t).collect())
    assert got == [i for i in range(100) if i % 7 != 0]
    data, dels, meta = _snapshot_entries(t)
    assert meta["format-version"] == 3
    (dv,) = [d for d in dels if d.get("fmt") == "PUFFIN"]
    assert dv["path"].endswith(".puffin")
    assert dv["record_count"] == len(range(0, 100, 7))
    assert dv["referenced_data_file"] == data[0]["path"]


def test_iceberg_dv_merge_supersedes(spark, dv_table):
    from graph_db_clustering_spark.sources.iceberg import (
        _snapshot_entries,
        iceberg_add_deletion_vectors,
        read_iceberg,
    )

    t, scan = dv_table
    iceberg_add_deletion_vectors(
        spark, t,
        scan.filter(F.col("id") % 7 == 0).select("file_path", "pos"),
    )
    iceberg_add_deletion_vectors(
        spark, t,
        scan.filter(F.col("id") % 11 == 3).select("file_path", "pos"),
    )
    got = sorted(r["id"] for r in read_iceberg(spark, t).collect())
    assert got == [
        i for i in range(100) if i % 7 != 0 and i % 11 != 3
    ]
    _d, dels, meta = _snapshot_entries(t)
    dvs = [d for d in dels if d.get("fmt") == "PUFFIN"]
    assert len(dvs) == 1  # single live DV per file (v3 invariant)
    # time travel: the first DV snapshot still shows only %7 removed
    first_dv_snap = meta["snapshots"][1]["snapshot-id"]
    got1 = read_iceberg(spark, t, snapshot_id=first_dv_snap).count()
    assert got1 == 100 - len(range(0, 100, 7))


def test_iceberg_dv_mixed_with_parquet_position_deletes(spark, dv_table):
    from graph_db_clustering_spark.sources.iceberg import (
        iceberg_add_deletion_vectors,
        iceberg_add_position_deletes,
        read_iceberg,
    )

    t, scan = dv_table
    iceberg_add_position_deletes(
        spark, t,
        scan.filter(F.col("id") < 3).select("file_path", "pos"),
    )
    iceberg_add_deletion_vectors(
        spark, t,
        scan.filter(F.col("id") % 10 == 9).select("file_path", "pos"),
    )
    got = sorted(r["id"] for r in read_iceberg(spark, t).collect())
    assert got == [
        i for i in range(100) if i >= 3 and i % 10 != 9
    ]


def test_iceberg_dv_rejects_unknown_file(spark, dv_table):
    from graph_db_clustering_spark.sources.iceberg import (
        IcebergError,
        iceberg_add_deletion_vectors,
    )

    t, _scan = dv_table
    bogus = spark.createDataFrame(
        [("/nope.parquet", 0)], "file_path string, pos long"
    )
    with pytest.raises(IcebergError, match="non-live"):
        iceberg_add_deletion_vectors(spark, t, bogus)


def test_iceberg_dv_multiple_data_files(spark, tmp_path):
    """One puffin, one blob per referenced data file; each bitmap
    applies only to its own file."""
    from graph_db_clustering_spark.sources.iceberg import (
        _snapshot_entries,
        iceberg_add_deletion_vectors,
        iceberg_live_files,
        read_iceberg,
        write_iceberg,
    )

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 4) for i in range(80)], "id long, g int"
    )
    write_iceberg(
        spark, df, t, partition_by=[("g", "identity", "g")]
    )
    scan = spark.read.parquet(*iceberg_live_files(t)).select(
        F.col("_metadata.file_path").alias("file_path"),
        F.col("_metadata.row_index").alias("pos"),
        "id",
    )
    iceberg_add_deletion_vectors(
        spark, t,
        scan.filter(F.col("id") % 5 == 0).select("file_path", "pos"),
    )
    got = sorted(r["id"] for r in read_iceberg(spark, t).collect())
    assert got == [i for i in range(80) if i % 5 != 0]
    data, dels, _m = _snapshot_entries(t)
    dvs = [d for d in dels if d.get("fmt") == "PUFFIN"]
    touched = {d["referenced_data_file"] for d in dvs}
    assert len(dvs) == len(touched)  # one DV per touched data file
    assert len(touched) >= 4  # every partition contributed
    assert touched <= {d["path"] for d in data}
    assert len({d["path"] for d in dvs}) == 1  # all in ONE puffin


def test_puffin_blob_codecs(tmp_path):
    """compression-codec lz4 and zstd blobs decode as single frames;
    corrupt frames are a PuffinError; unknown codecs gate loudly."""
    import pyarrow as pa

    body = b"blob payload " * 20
    p = str(tmp_path / "c.puffin")
    write_puffin(p, [
        {"type": "l", "data": pa.compress(body, codec="lz4", asbytes=True),
         "properties": {"compression-codec": "lz4"}},
        {"type": "z", "data": pa.compress(body, codec="zstd", asbytes=True),
         "properties": {"compression-codec": "zstd"}},
        {"type": "r", "data": body},
    ])
    footer, raw = read_puffin(p)
    for e in footer["blobs"]:
        # the codec rides blob properties in our writer; real metadata
        # carries it on the entry — accept both spellings
        codec = (e.get("properties") or {}).get("compression-codec")
        entry = dict(e)
        if codec:
            entry["compression-codec"] = codec
        assert puffin_blob(raw, entry) == body
        if codec:
            # a truncated frame and a plain blob relabeled as a frame
            for bad in (dict(entry, length=entry["length"] // 2),
                        dict(footer["blobs"][2], **{"compression-codec": codec})):
                with pytest.raises(PuffinError, match=f"corrupt {codec}"):
                    puffin_blob(raw, bad)
    entry = dict(footer["blobs"][2])
    entry["compression-codec"] = "snappy"
    with pytest.raises(NotImplementedError, match="compression-codec"):
        puffin_blob(raw, entry)
