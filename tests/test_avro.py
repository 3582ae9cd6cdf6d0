"""Pure-Python Avro object-container source (sources/avro)."""

import numpy as np  # noqa: F401
import pytest
from pyspark.sql import functions as F

from graph_db_clustering_spark.sources import avro

SCHEMA = {
    "type": "record",
    "name": "Doc",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "score", "type": "double"},
        {"name": "ratio", "type": "float"},
        {"name": "n", "type": "int"},
        {"name": "ok", "type": "boolean"},
        {"name": "name", "type": "string"},
        {"name": "blob", "type": "bytes"},
        {"name": "opt", "type": ["null", "string"]},
    ],
}

ROWS = [
    {"id": 1, "score": 1.5, "ratio": 0.25, "n": -7, "ok": True,
     "name": "alpha", "blob": b"\x00\xff", "opt": "x"},
    {"id": -12345678901, "score": -2.25, "ratio": 2.0, "n": 0, "ok": False,
     "name": "βeta", "blob": b"", "opt": None},
]


@pytest.mark.parametrize("codec", ["null", "deflate", "snappy", "zstandard"])
def test_container_roundtrip_all_primitives(codec):
    blob = avro.encode_container(SCHEMA, ROWS, codec=codec)
    fields, rows = avro.decode_container(blob)
    assert [f[0] for f in fields] == [f["name"] for f in SCHEMA["fields"]]
    assert len(rows) == 2
    for got, want in zip(rows, ROWS):
        for k, v in want.items():
            if isinstance(v, float):
                assert got[k] == pytest.approx(v)
            else:
                assert got[k] == v


def test_zigzag_varint_edge_values():
    for v in (0, 1, -1, 63, -64, 2**31 - 1, -(2**31), 2**62, -(2**62)):
        enc = avro._write_varint(v)
        dec, pos = avro._read_varint(enc, 0)
        assert (dec, pos) == (v, len(enc))


def test_gates():
    with pytest.raises(avro.AvroError, match="magic"):
        avro.decode_container(b"NOPE")
    with pytest.raises(avro.AvroError, match="zstandard"):
        # a deflate body relabeled zstandard is a corrupt frame, not a gate
        # (value length prefixes are zigzag varints: 7 -> 0x0e, 9 -> 0x12)
        avro.decode_container(
            avro.encode_container(
                SCHEMA, [ROWS[0]], codec="deflate"
            ).replace(b"\x0edeflate", b"\x12zstandard")
        )
    # round 9: recursion PARSES (lazy reps); only the Spark-schema
    # surface gates when no unroll depth is given
    recursive = {"type": "record", "name": "Tree",
                 "fields": [{"name": "child", "type": ["null", "Tree"]}]}
    fields = avro.parse_schema(recursive)
    with pytest.raises(NotImplementedError, match="recursive_max_depth"):
        avro.spark_schema_for(fields)
    with pytest.raises(avro.AvroError, match="non-nullable"):
        avro.encode_container(SCHEMA, [{**ROWS[0], "id": None}])


NESTED_SCHEMA = {
    "type": "record",
    "name": "Nested",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "scores", "type": {"type": "map", "values": "double"}},
        {"name": "color", "type": {"type": "enum", "name": "Color",
                                   "symbols": ["RED", "GREEN", "BLUE"]}},
        {"name": "digest", "type": {"type": "fixed", "name": "MD5", "size": 4}},
        {"name": "loc", "type": {"type": "record", "name": "Point",
                                 "fields": [{"name": "x", "type": "double"},
                                            {"name": "y", "type": "double"}]}},
        {"name": "loc2", "type": ["null", "Point"]},  # named-type reference
        {"name": "nums", "type": {"type": "array",
                                  "items": ["null", "long"]}},  # nullable items
    ],
}

NESTED_ROWS = [
    {"id": 1, "tags": ["a", "b"], "scores": {"p": 1.5}, "color": "GREEN",
     "digest": b"\x01\x02\x03\x04", "loc": {"x": 1.0, "y": 2.0},
     "loc2": {"x": 3.0, "y": 4.0}, "nums": [1, None, 3]},
    {"id": 2, "tags": [], "scores": {}, "color": "RED",
     "digest": b"\xff\xfe\xfd\xfc", "loc": {"x": -1.0, "y": 0.5},
     "loc2": None, "nums": []},
]


@pytest.mark.parametrize("codec", ["null", "deflate", "snappy", "zstandard"])
def test_nested_container_roundtrip(codec):
    blob = avro.encode_container(NESTED_SCHEMA, NESTED_ROWS, codec=codec)
    fields, rows = avro.decode_container(blob)
    assert [f[0] for f in fields] == [f["name"] for f in NESTED_SCHEMA["fields"]]
    assert rows == NESTED_ROWS


def test_nested_spark_schema_mapping():
    fields = avro.parse_schema(NESTED_SCHEMA)
    st = avro.spark_schema_for(fields)
    assert st["tags"].dataType.simpleString() == "array<string>"
    assert st["scores"].dataType.simpleString() == "map<string,double>"
    assert st["color"].dataType.typeName() == "string"
    assert st["digest"].dataType.typeName() == "binary"
    assert st["loc"].dataType.simpleString() == "struct<x:double,y:double>"
    assert st["loc2"].dataType.simpleString() == "struct<x:double,y:double>"
    assert st["nums"].dataType.simpleString() == "array<bigint>"


def test_nested_read_avro_distributed(spark, tmp_path):
    for i in range(2):
        rows = [dict(r, id=i * 10 + r["id"]) for r in NESTED_ROWS]
        (tmp_path / f"part-{i}.avro").write_bytes(
            avro.encode_container(NESTED_SCHEMA, rows)
        )
    df = avro.read_avro(spark, str(tmp_path))
    assert df.count() == 4
    r = df.filter(F.col("id") == 1).first()
    assert r.tags == ["a", "b"]
    assert r.scores == {"p": 1.5}
    assert r.color == "GREEN"
    assert bytes(r.digest) == b"\x01\x02\x03\x04"
    assert (r.loc.x, r.loc.y) == (1.0, 2.0)
    assert (r.loc2.x, r.loc2.y) == (3.0, 4.0)
    assert r.nums == [1, None, 3]
    r2 = df.filter(F.col("id") == 2).first()
    assert r2.loc2 is None and r2.tags == [] and r2.nums == []
    # complex columns survive Catalyst expressions (explode, map access)
    assert (
        df.select(F.explode("tags").alias("t")).count() == 4
    )  # 2 files x 2 tags on row id%10==1


def test_corrupt_union_branch_index_raises():
    schema = {"type": "record", "name": "U",
              "fields": [{"name": "a", "type": ["null", "long"]}]}
    blob = avro.encode_container(schema, [{"a": 5}], codec="null")
    # the value branch varint (0x02 = zigzag 1) follows the header; flip
    # it to branch index 5 (zigzag 0x0a) and the decode must fail loudly
    assert blob.count(b"\x02\x0a") == 1
    with pytest.raises(avro.AvroError, match="union branch index 5"):
        avro.decode_container(blob.replace(b"\x02\x0a", b"\x0a\x0a"))


def test_corrupt_enum_index_raises():
    schema = {"type": "record", "name": "E",
              "fields": [{"name": "c", "type": {"type": "enum", "name": "C",
                                                "symbols": ["A", "B"]}}]}
    blob = avro.encode_container(schema, [{"c": "B"}], codec="null")
    with pytest.raises(avro.AvroError, match="enum index"):
        # the single enum varint 0x02 (=1) is the last body byte before
        # the trailing sync; bump it out of range
        avro.decode_container(blob[:-17] + b"\x08" + blob[-16:])


def test_read_avro_distributed(spark, tmp_path):
    for i in range(3):
        rows = [{**ROWS[0], "id": i * 10 + j} for j in range(4)]
        (tmp_path / f"part-{i}.avro").write_bytes(
            avro.encode_container(SCHEMA, rows)
        )
    df = avro.read_avro(spark, str(tmp_path))
    assert df.count() == 12
    assert df.schema["id"].dataType.typeName() == "long"
    assert df.schema["ratio"].dataType.typeName() == "float"
    got = sorted(r.id for r in df.collect())
    assert got == sorted(i * 10 + j for i in range(3) for j in range(4))
    row = df.filter(F.col("id") == 1).first()
    assert row.name == "alpha" and bytes(row.blob) == b"\x00\xff"


def test_read_avro_schema_mismatch_fails_loudly(spark, tmp_path):
    (tmp_path / "a.avro").write_bytes(avro.encode_container(SCHEMA, ROWS[:1]))
    other = {"type": "record", "name": "Y",
             "fields": [{"name": "zzz", "type": "long"}]}
    (tmp_path / "b.avro").write_bytes(avro.encode_container(other, [{"zzz": 1}]))
    with pytest.raises(Exception, match="differ from the expected"):
        avro.read_avro(spark, str(tmp_path)).collect()


def test_empty_directory_raises(spark, tmp_path):
    (tmp_path / "x.txt").write_text("no avro here")
    with pytest.raises(avro.AvroError, match="no avro files"):
        avro.read_avro(spark, str(tmp_path))


def test_null_second_union_honors_branch_order():
    """[T, "null"] is legal Avro: index 0 is the VALUE branch. Both the
    encoder and decoder must honor the declared order (review finding:
    assuming index 0 = null silently corrupts such files)."""
    schema = {"type": "record", "name": "U",
              "fields": [{"name": "a", "type": ["string", "null"]},
                         {"name": "b", "type": "long"}]}
    rows = [{"a": "x", "b": 1}, {"a": None, "b": 2}]
    blob = avro.encode_container(schema, rows)
    fields, got = avro.decode_container(blob)
    assert fields[0] == ("a", "string", 1)  # null is branch 1
    assert got == rows
    # wire check: present value must carry union index 0 (varint 0x00)
    raw = avro.encode_container(schema, [{"a": "z", "b": 0}], codec="null")
    assert b"\x00\x02z" in raw  # idx 0, len 1, 'z'


def test_nullable_long_preserves_precision_past_2_53(spark, tmp_path):
    """A null beside a value > 2^53 in a nullable long column must not
    round-trip through float64 (review finding)."""
    schema = {"type": "record", "name": "B",
              "fields": [{"name": "v", "type": ["null", "long"]}]}
    big = 2**60 + 1
    (tmp_path / "x.avro").write_bytes(
        avro.encode_container(schema, [{"v": None}, {"v": big}])
    )
    got = sorted(
        [(r.v,) for r in avro.read_avro(spark, str(tmp_path)).collect()],
        key=lambda t: (t[0] is not None, t[0] or 0),
    )
    assert got == [(None,), (big,)]


# --- general unions (spark-avro mapping convention, round 7) ----------------

GUNION_SCHEMA = {
    "type": "record",
    "name": "G",
    "fields": [
        {"name": "id", "type": "long"},
        # struct mode: struct<member0: long, member1: string>
        {"name": "v", "type": ["long", "string"]},
        # nullable struct mode: null branch in the middle is honored
        {"name": "w", "type": ["string", "null", "boolean"]},
        # numeric promotions
        {"name": "n", "type": ["int", "long"]},
        {"name": "x", "type": ["float", "double"]},
    ],
}

GUNION_ROWS = [
    {"id": 1, "v": {"member0": 7, "member1": None},
     "w": {"member0": "yes", "member1": None}, "n": 5, "x": 1.5},
    {"id": 2, "v": {"member0": None, "member1": "txt"},
     "w": None, "n": 2**40, "x": -0.25},
    {"id": 3, "v": {"member0": -1, "member1": None},
     "w": {"member0": None, "member1": True}, "n": 0, "x": 0.0},
]


@pytest.mark.parametrize("codec", ["null", "snappy"])
def test_general_union_roundtrip(codec):
    blob = avro.encode_container(GUNION_SCHEMA, GUNION_ROWS, codec=codec)
    fields, rows = avro.decode_container(blob)
    assert rows == GUNION_ROWS


def test_general_union_spark_schema():
    st = avro.spark_schema_for(avro.parse_schema(GUNION_SCHEMA))
    assert st["v"].dataType.simpleString() == "struct<member0:bigint,member1:string>"
    assert st["w"].dataType.simpleString() == "struct<member0:string,member1:boolean>"
    assert st["n"].dataType.typeName() == "long"
    assert st["x"].dataType.typeName() == "double"


def test_general_union_distributed(spark, tmp_path):
    (tmp_path / "g.avro").write_bytes(
        avro.encode_container(GUNION_SCHEMA, GUNION_ROWS)
    )
    df = avro.read_avro(spark, str(tmp_path))
    rows = {r.id: r for r in df.collect()}
    assert rows[1].v.member0 == 7 and rows[1].v.member1 is None
    assert rows[2].v.member1 == "txt" and rows[2].w is None
    assert rows[2].n == 2**40  # promoted long survives past int range
    assert rows[3].w.member1 is True
    assert rows[1].x == pytest.approx(1.5)


def test_general_union_corrupt_branch_and_dup():
    blob = avro.encode_container(
        GUNION_SCHEMA, [dict(GUNION_ROWS[0], w=None)], codec="null"
    )
    # w=None encodes branch 1 (zigzag 0x02); bump it to branch 9
    with pytest.raises(avro.AvroError, match="union value|branch index"):
        avro.encode_container(
            GUNION_SCHEMA,
            [dict(GUNION_ROWS[0], v={"member0": 1, "member1": "both"})],
        )
    assert blob  # encoding with a null-branch union value is legal
    with pytest.raises(avro.AvroError, match="duplicate union branches"):
        avro.parse_schema({"type": "record", "name": "D",
                           "fields": [{"name": "a",
                                       "type": ["int", "int"]}]})


def test_general_union_with_complex_branch():
    """A union carrying a record/array branch maps to the struct form
    (round-7 review fix: this used to crash with an uncontrolled
    TypeError in the promotion check)."""
    sch = {"type": "record", "name": "R", "fields": [
        {"name": "u", "type": ["string", {"type": "array", "items": "int"}]}]}
    st = avro.spark_schema_for(avro.parse_schema(sch))
    assert st["u"].dataType.simpleString() == \
        "struct<member0:string,member1:array<int>>"
    rows = [{"u": {"member0": "x", "member1": None}},
            {"u": {"member0": None, "member1": [1, 2]}}]
    _, got = avro.decode_container(avro.encode_container(sch, rows))
    assert got == rows


def test_bare_null_field_roundtrips():
    """A field of type "null" encodes to zero bytes and decodes to None
    (review fix: the encoder lacked the null branch)."""
    sch = {"type": "record", "name": "N", "fields": [
        {"name": "n", "type": "null"}, {"name": "x", "type": "long"}]}
    _, got = avro.decode_container(
        avro.encode_container(sch, [{"n": None, "x": 5}])
    )
    assert got == [{"n": None, "x": 5}]


def test_nested_named_type_inherits_namespace():
    """A nested record without its own namespace gets the enclosing
    one, so both fullname and relative references resolve (spec
    fullname rules; review fix)."""
    sch = {"type": "record", "name": "Outer", "namespace": "com.x",
           "fields": [
               {"name": "a", "type": {"type": "record", "name": "Inner",
                                      "fields": [{"name": "v",
                                                  "type": "long"}]}},
               {"name": "b", "type": "com.x.Inner"},
               {"name": "c", "type": "Inner"}]}
    row = {"a": {"v": 1}, "b": {"v": 2}, "c": {"v": 3}}
    _, got = avro.decode_container(avro.encode_container(sch, [row]))
    assert got == [row]


# --- round 9: recursive type definitions ------------------------------------

REC_SCHEMA = {
    "type": "record",
    "name": "Node",
    "namespace": "tree",
    "fields": [
        {"name": "value", "type": "long"},
        {"name": "next", "type": ["null", "Node"]},
    ],
}


def _chain(vals):
    node = None
    for v in reversed(vals):
        node = {"value": v, "next": node}
    return node


def test_recursive_schema_roundtrips_pure_python():
    """A self-referential record (linked list) encodes and decodes
    through the lazy-reference rep with NO depth limit — the data is
    finite even though the schema is not."""
    rows = [_chain([1, 2, 3]), _chain([7]), {"value": 9, "next": None}]
    blob = avro.encode_container(REC_SCHEMA, rows, codec="null")
    fields, back = avro.decode_container(blob)
    assert [f[0] for f in fields] == ["value", "next"]
    assert back == rows
    # mutual recursion parses too (A -> B -> A)
    mut = {
        "type": "record", "name": "A",
        "fields": [
            {"name": "b", "type": ["null", {
                "type": "record", "name": "B",
                "fields": [{"name": "a", "type": ["null", "A"]}],
            }]},
        ],
    }
    v = {"b": {"a": {"b": {"a": None}}}}
    blob2 = avro.encode_container(mut, [v], codec="null")
    _, back2 = avro.decode_container(blob2)
    assert back2 == [v]


def test_recursive_schema_gates_without_depth(spark, tmp_path):
    """Without recursive_max_depth the Spark surface still raises the
    loud gate (no finite schema), mentioning the escape hatch."""
    d = tmp_path / "rec"
    d.mkdir()
    blob = avro.encode_container(REC_SCHEMA, [_chain([1, 2])], codec="null")
    (d / "a.avro").write_bytes(blob)
    with pytest.raises(NotImplementedError, match="recursive_max_depth"):
        avro.read_avro(spark, str(d)).collect()


def test_recursive_schema_unrolls_to_depth(spark, tmp_path):
    """recursive_max_depth=N keeps N levels of the recursion in the
    Spark schema and DROPS deeper values — spark-avro's
    recursiveFieldMaxDepth contract — while shallow rows survive
    intact."""
    d = tmp_path / "recd"
    d.mkdir()
    rows = [_chain([1, 2, 3, 4]), _chain([10, 20]), _chain([5])]
    blob = avro.encode_container(REC_SCHEMA, rows, codec="null")
    (d / "a.avro").write_bytes(blob)
    df = avro.read_avro(spark, str(d), recursive_max_depth=2)
    # schema: value, next.value (+ next.next pruned at depth 2's tail)
    got = sorted(df.collect(), key=lambda r: r.value)
    assert [r.value for r in got] == [1, 5, 10]
    assert got[0].next.value == 2          # level 2 kept
    assert got[1].next is None             # short chain: genuine null
    assert got[2].next.value == 20
    # the depth-2 struct must NOT contain a 3rd level
    next_type = dict(zip(df.schema.names, df.schema.fields))["next"].dataType
    inner_names = [f.name for f in next_type.fields]
    assert "value" in inner_names
    if "next" in inner_names:
        # a 3rd-level struct would itself carry no recursive tail
        lvl3 = dict(
            (f.name, f.dataType) for f in next_type.fields
        )["next"]
        assert "next" not in [f.name for f in lvl3.fields]
    # deep chain truncated, not errored: row 1 exists with its 2 levels
    assert got[0].asDict(True)["next"] is not None


def test_bzip2_and_xz_codecs_roundtrip():
    """The spec's bzip2 and xz container codecs (stdlib decoders)
    round-trip; zstandard round-trips too, and a relabeled non-frame
    block is corrupt."""
    from graph_db_clustering_spark.sources.avro import (
        decode_container,
        encode_container,
    )

    schema = {"type": "record", "name": "r", "fields": [
        {"name": "a", "type": "long"}, {"name": "b", "type": "string"},
    ]}
    rows = [{"a": i, "b": f"s{i}" * (i % 5)} for i in range(200)]
    for codec in ("bzip2", "xz", "zstandard"):
        blob = encode_container(schema, rows, codec=codec)
        _f, got = decode_container(blob)
        assert got == rows, codec
    with pytest.raises(avro.AvroError, match="zstandard"):
        blob = bytearray(encode_container(schema, rows, codec="null"))
        # rewrite the codec metadata value in place: raw bytes are not
        # a zstd frame -> corrupt, loudly
        blob2 = bytes(blob).replace(b"\x08null", b"\x12zstandard")
        decode_container(blob2)


def _single_block(blob):
    """(header incl. sync, row count, block bytes, sync) of a
    one-block container."""
    _f, _codec, sync, pos = avro.read_header(blob)
    count, p = avro._read_varint(blob, pos)
    size, p = avro._read_varint(blob, p)
    assert blob[p + size :] == sync
    return blob[:pos], count, blob[p : p + size], sync


def _with_block(header, count, block, sync):
    return (header + avro._write_varint(count)
            + avro._write_varint(len(block)) + block + sync)


def test_corrupt_snappy_blocks_raise_avro_error(monkeypatch):
    """Every corrupt snappy block is an AvroError: a flipped body byte,
    a truncated or over-long length preamble, a body pyarrow rejects,
    and a preamble that claims more than the body can expand to —
    refused before any buffer of that size is asked for."""
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"}, {"name": "text", "type": "string"}]}
    rows = [{"id": i, "text": "the quick brown fox " * 5} for i in range(50)]
    header, count, block, sync = _single_block(
        avro.encode_container(schema, rows, codec="snappy"))
    body, crc = block[:-4], block[-4:]

    def decode(body, crc=crc):
        return avro.decode_container(_with_block(header, count, body + crc, sync))

    assert decode(body)[1] == rows
    flipped = bytearray(body)
    flipped[-10] ^= 0xFF
    cases = {
        "CRC|corrupt": bytes(flipped),
        "truncated or over-long": b"\x80\x80",
        "over-long": b"\xff" * 5 + b"\x01abc",
        "corrupt snappy": b"\x05\x00a\x0e\x09\x00",  # copy before start
    }
    for match, bad in cases.items():
        with pytest.raises(avro.AvroError, match=match):
            decode(bad)

    def no_alloc(*a, **k):
        raise AssertionError("oversized preamble reached the decompressor")

    monkeypatch.setattr(avro.pa, "decompress", no_alloc)
    with pytest.raises(avro.AvroError, match="claims 4294967295 bytes"):
        decode(b"\xff\xff\xff\xff\x0f", crc=b"\0" * 4)  # 4 GiB from 5 bytes
    with pytest.raises(avro.AvroError, match="claims"):
        decode(bytes([111]) + b"\x00" * 4)  # 22 * 5 + 1


@pytest.mark.parametrize("codec", ["bzip2", "xz"])
def test_corrupt_bzip2_and_xz_blocks_raise_avro_error(codec):
    """A block that is not a bzip2/xz stream (a `null` container
    relabelled) and a truncated real one are AvroErrors, not the stdlib
    decoders' bare OSError/ValueError/LZMAError."""
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "a", "type": "long"}, {"name": "b", "type": "string"}]}
    rows = [{"a": i, "b": f"s{i}" * (i % 5)} for i in range(200)]
    label = codec.encode()
    relabelled = avro.encode_container(schema, rows, codec="null").replace(
        b"\x08null", avro._write_varint(len(label)) + label)
    with pytest.raises(avro.AvroError, match=f"corrupt {codec} block"):
        avro.decode_container(relabelled)
    header, count, block, sync = _single_block(
        avro.encode_container(schema, rows, codec=codec))
    with pytest.raises(avro.AvroError, match=f"corrupt {codec} block"):
        avro.decode_container(_with_block(header, count, block[:-8], sync))


def test_logical_types_roundtrip_and_spark_read(spark, tmp_path):
    """Avro logical types (round 11): date, timestamp-millis/micros,
    local-timestamp, decimal over bytes AND fixed — typed Python
    values through encode/decode and typed Spark columns through
    read_avro. uuid and time-* stay at their base types per the
    spec's unknown-logical-type fallback rule (Spark has no TIME)."""
    import datetime as dt
    from decimal import Decimal

    schema = {"type": "record", "name": "r", "fields": [
        {"name": "d", "type": {"type": "int", "logicalType": "date"}},
        {"name": "ts", "type": {
            "type": "long", "logicalType": "timestamp-micros"}},
        {"name": "lts", "type": {
            "type": "long", "logicalType": "local-timestamp-micros"}},
        {"name": "dec", "type": {
            "type": "bytes", "logicalType": "decimal",
            "precision": 12, "scale": 2}},
        {"name": "decf", "type": {
            "type": "fixed", "name": "f8", "size": 8,
            "logicalType": "decimal", "precision": 18, "scale": 4}},
        {"name": "tm", "type": {
            "type": "long", "logicalType": "time-micros"}},
        {"name": "nd", "type": [
            "null", {"type": "int", "logicalType": "date"}]},
    ]}
    rows = [
        {"d": dt.date(2024, 3, 1),
         "ts": dt.datetime(2024, 3, 1, 12, 30, 45, 123456,
                           tzinfo=dt.timezone.utc),
         "lts": dt.datetime(2024, 3, 1, 6, 0, 0),
         "dec": Decimal("12345.67"), "decf": Decimal("-9.0001"),
         "tm": 123, "nd": None},
        {"d": dt.date(1969, 12, 31),
         "ts": dt.datetime(1960, 1, 1, tzinfo=dt.timezone.utc),
         "lts": dt.datetime(1950, 6, 1, 1, 2, 3),
         "dec": Decimal("-0.01"), "decf": Decimal("0.0000"),
         "tm": 5, "nd": dt.date(2000, 1, 1)},
    ]
    blob = avro.encode_container(schema, rows, codec="null")
    fields, out = avro.decode_container(blob)
    assert out == rows  # negative decimals, pre-epoch dates included
    # ADVICE r11: plain-int decimal inputs scale like Decimal — 5 at
    # scale 2 is 5.00, never the raw unscaled 0.05
    int_rows = [dict(rows[0], dec=5, decf=-3)]
    _, out_i = avro.decode_container(
        avro.encode_container(schema, int_rows, codec="null"))
    assert out_i[0]["dec"] == Decimal("5.00")
    assert out_i[0]["decf"] == Decimal("-3.0000")
    with open(tmp_path / "lt.avro", "wb") as f:
        f.write(blob)
    df = avro.read_avro(spark, str(tmp_path))
    ss = df.schema.simpleString()
    assert "d:date" in ss and "ts:timestamp," in ss
    assert "lts:timestamp_ntz" in ss
    assert "dec:decimal(12,2)" in ss and "decf:decimal(18,4)" in ss
    assert "tm:bigint" in ss
    got = sorted(df.collect(), key=lambda r: r["d"])
    assert got[0]["dec"] == Decimal("-0.01")
    assert got[1]["ts"] == dt.datetime(2024, 3, 1, 12, 30, 45, 123456)
    assert got[0]["nd"] == dt.date(2000, 1, 1)
