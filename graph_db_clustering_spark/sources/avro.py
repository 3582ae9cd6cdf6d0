"""Pure-Python Avro object-container source (no spark-avro package).

Spark's `format("avro")` lives in an external module absent from this
environment, so the Avro source was availability-gated. This module
lifts the gate the same way functions/jpeg lifted the image-codec gap:
the container format (magic, metadata map with embedded JSON schema,
deflate/null codec blocks, sync markers) and the binary encoding
(zigzag varints, IEEE floats, length-prefixed bytes/strings, index-
prefixed unions, block-encoded arrays/maps) are fully specified and
need no native library.

Scope: record schemas over the primitive types, nullable unions, and —
round 7 — the full complex-type set: nested records, arrays, maps,
enums, fixed, and named-type references (a record/enum/fixed defined
once and referenced by name later in the schema), plus all six
spec codecs: null, deflate, snappy, bzip2, xz and zstandard (snappy
and zstandard through pyarrow's bundled C++ codecs, with the
Avro-mandated big-endian CRC32-of-uncompressed trailer verified per
snappy block), and general unions via the public spark-avro mapping
convention ({int,long} promotes to long, {float,double} to double,
anything else becomes struct<member0, member1, ...> over the non-null
branches). The one remaining gate, loud and scoped: recursive type
definitions (a record containing itself has no finite Spark schema).

Scale shape: identical to sources/warc — the FILE is the unit of
parallelism (binaryFile + mapInPandas), each task decodes its own
containers where the bytes were read, and the embedded writer schema is
parsed per file (so mixed-schema directories fail loudly per file, not
silently)."""

from __future__ import annotations

import json
import struct
import zlib
from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graph_db_clustering_spark.sources.files import read_binary_dir

_MAGIC = b"Obj\x01"

_PRIMITIVE_SPARK = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "bytes": T.BinaryType(),
    "string": T.StringType(),
}


class AvroError(ValueError):
    pass


# --- binary decoding -------------------------------------------------------


def _read_varint(data: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    while True:
        b = data[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos  # zigzag -> signed


# --- recursive type representation -----------------------------------------
#
# rep ::= "<primitive>"                        (string name, as before)
#       | ("array",  item_rep)
#       | ("map",    value_rep)                (keys are always string)
#       | ("enum",   (symbols...))
#       | ("fixed",  size)
#       | ("record", ((fname, field_rep), ...))
#       | ("union",  null_branch_index, value_rep)   (nullable union)
#
# Top-level record fields keep the historical flat triple
# (name, rep, null_idx) — null_idx pulled out of a nullable union for
# the hot flat-primitive path and API compatibility; nested nullable
# unions use the ("union", ...) rep.


class _Lazy:
    """A recursive named-type reference: resolves through the shared
    name registry after the named type finishes parsing. A class (not a
    tuple) so the rep graph's reference cycle pickles to executors —
    pickle memoizes mutable objects, letting the cycle close."""

    __slots__ = ("names", "key")

    def __init__(self, names: dict, key: str):
        self.names = names
        self.key = key

    def resolve(self):
        rep = self.names.get(self.key)
        if rep is None:
            raise AvroError(f"avro: unresolved recursive type {self.key!r}")
        return rep

    def __repr__(self) -> str:  # debugging aid; avoids cycling
        return f"_Lazy({self.key!r})"


def _parse_type(t, names: dict, parsing: set, ns: str | None = None):
    """Avro type decl (JSON value) -> rep. ``names`` registers named
    record/enum/fixed declarations for later by-name references;
    ``parsing`` holds names currently being defined (recursion gate);
    ``ns`` is the ENCLOSING namespace — per the spec a nested named
    type without its own "namespace" attribute inherits it, and both
    its bare name and its fullname must resolve."""
    if isinstance(t, str):
        if t in _PRIMITIVE_SPARK or t == "null":
            return t
        if t in names:
            return names[t]
        if ns and f"{ns}.{t}" in names:  # relative reference
            return names[f"{ns}.{t}"]
        if t in parsing or (ns and f"{ns}.{t}" in parsing):
            # recursive reference (round 9): a LAZY rep that resolves
            # through the registry once the named type finishes parsing.
            # Decoding/encoding recurse unboundedly (the DATA is always
            # finite); only the Spark schema needs the depth bound —
            # spark_schema_for unrolls recursive_max_depth times, the
            # same contract spark-avro's recursiveFieldMaxDepth defines.
            return _Lazy(names, t if t in parsing else f"{ns}.{t}")
        raise AvroError(f"avro: undefined named type {t!r}")
    if isinstance(t, list):
        non_null = [x for x in t if x != "null"]
        if len(t) == 2 and "null" in t and len(non_null) == 1:
            return ("union", t.index("null"), _parse_type(non_null[0], names, parsing, ns))
        # general union -> the public spark-avro mapping convention:
        # {int,long} promotes to long, {float,double} to double, anything
        # else becomes struct<member0, member1, ...> over the non-null
        # branches (an optional "null" branch makes the struct nullable)
        null_idx = t.index("null") if "null" in t else None
        named = [x for x in t if isinstance(x, str)]
        if len(set(named)) != len(named):
            raise AvroError(f"avro: duplicate union branches: {t!r}")
        all_prim = all(isinstance(x, str) for x in non_null)
        if all_prim and set(non_null) == {"int", "long"}:
            mode = "promote_long"
        elif all_prim and set(non_null) == {"float", "double"}:
            mode = "promote_double"
        else:
            mode = "struct"
        branches = tuple(
            (bi, _parse_type(b, names, parsing, ns))
            for bi, b in enumerate(t)
            if b != "null"
        )
        return ("gunion", null_idx, branches, mode)
    if isinstance(t, dict):
        kind = t["type"]
        lt = t.get("logicalType")
        if lt:
            # Avro spec: a reader that doesn't recognize a logical
            # type falls back to the base type — so every branch
            # below either returns a typed ("logical", ...) rep for a
            # KNOWN (logicalType, base) pair or the plain base rep.
            if lt == "decimal" and kind in ("bytes", "fixed"):
                prec = int(t.get("precision") or 0)
                scale = int(t.get("scale") or 0)
                if prec >= 1 and 0 <= scale <= prec:
                    base = (
                        "bytes" if kind == "bytes"
                        else _parse_type(
                            {k: v for k, v in t.items()
                             if k not in ("logicalType",
                                          "precision", "scale")},
                            names, parsing, ns,
                        )
                    )
                    return ("logical", "decimal", base, prec, scale)
            elif (lt, kind) in (
                ("date", "int"),
                ("timestamp-millis", "long"),
                ("timestamp-micros", "long"),
                ("local-timestamp-millis", "long"),
                ("local-timestamp-micros", "long"),
            ):
                return ("logical", lt, kind, None, None)
            # uuid(string), time-* and unknown logical types: base
            # type (time-* documented — Spark has no TIME type)
        if kind in _PRIMITIVE_SPARK or kind == "null":
            return kind  # {"type": "int", "logicalType": ...} — raw base type
        if kind == "array":
            return ("array", _parse_type(t["items"], names, parsing, ns))
        if kind == "map":
            return ("map", _parse_type(t["values"], names, parsing, ns))
        if kind == "enum":
            rep = ("enum", tuple(t["symbols"]))
            _register(t, rep, names, ns)
            return rep
        if kind == "fixed":
            rep = ("fixed", int(t["size"]))
            _register(t, rep, names, ns)
            return rep
        if kind == "record":
            return _parse_record(t, names, parsing, ns)
        raise NotImplementedError(f"avro: type {kind!r} not supported")
    raise AvroError(f"avro: malformed type declaration {t!r}")


def _register(decl: dict, rep, names: dict, enclosing_ns: str | None = None) -> None:
    name = decl.get("name")
    if not name:
        return
    names[name] = rep
    # spec: a declaration without its own "namespace" inherits the
    # enclosing declaration's, and its fullname must resolve
    ns = decl.get("namespace", enclosing_ns)
    if ns:
        names[f"{ns}.{name}"] = rep


def _parse_record(decl: dict, names: dict, parsing: set, ns: str | None = None):
    name = decl.get("name")
    eff_ns = decl.get("namespace", ns)
    keys = {name, f"{eff_ns}.{name}"} if eff_ns and name \
        else ({name} if name else set())
    parsing |= keys
    try:
        fields = tuple(
            (f["name"], _parse_type(f["type"], names, parsing, eff_ns))
            for f in decl["fields"]
        )
    finally:
        parsing -= keys
    rep = ("record", fields)
    _register(decl, rep, names, ns)
    return rep


def _decode_value(data: bytes, pos: int, prim: str):
    if prim == "null":
        return None, pos
    if prim == "boolean":
        return data[pos] != 0, pos + 1
    if prim in ("int", "long"):
        return _read_varint(data, pos)
    if prim == "float":
        return struct.unpack("<f", data[pos : pos + 4])[0], pos + 4
    if prim == "double":
        return struct.unpack("<d", data[pos : pos + 8])[0], pos + 8
    # bytes / string
    n, pos = _read_varint(data, pos)
    raw = data[pos : pos + n]
    return (raw.decode("utf-8") if prim == "string" else raw), pos + n


def _decode_typed(data: bytes, pos: int, rep):
    """Decode one value of any rep at ``pos`` -> (value, new_pos)."""
    if isinstance(rep, str):
        return _decode_value(data, pos, rep)
    if isinstance(rep, _Lazy):
        return _decode_typed(data, pos, rep.resolve())
    tag = rep[0]
    if tag == "union":
        _, null_idx, inner = rep
        idx, pos = _read_varint(data, pos)
        if idx == null_idx:
            return None, pos
        if idx != 1 - null_idx:
            # a corrupt branch index must raise, not silently decode
            # as a value (ADVICE r6)
            raise AvroError(
                f"avro: union branch index {idx} out of range "
                f"(valid: {null_idx} = null, {1 - null_idx} = value)"
            )
        return _decode_typed(data, pos, inner)
    if tag == "gunion":
        _, null_idx, branches, mode = rep
        idx, pos = _read_varint(data, pos)
        if idx == null_idx:
            return None, pos
        for k, (bi, brep) in enumerate(branches):
            if bi == idx:
                v, pos = _decode_typed(data, pos, brep)
                if mode == "struct":
                    return {
                        f"member{j}": (v if j == k else None)
                        for j in range(len(branches))
                    }, pos
                return v, pos  # promoted numeric
        raise AvroError(
            f"avro: union branch index {idx} out of range "
            f"(valid: {[b[0] for b in branches]}"
            + (f" or {null_idx} = null)" if null_idx is not None else ")")
        )
    if tag == "array":
        out = []
        while True:
            count, pos = _read_varint(data, pos)
            if count == 0:
                return out, pos
            if count < 0:  # negative count: byte size follows (skippable form)
                count = -count
                _, pos = _read_varint(data, pos)
            for _ in range(count):
                v, pos = _decode_typed(data, pos, rep[1])
                out.append(v)
    if tag == "map":
        m = {}
        while True:
            count, pos = _read_varint(data, pos)
            if count == 0:
                return m, pos
            if count < 0:
                count = -count
                _, pos = _read_varint(data, pos)
            for _ in range(count):
                k, pos = _decode_value(data, pos, "string")
                v, pos = _decode_typed(data, pos, rep[1])
                m[k] = v
    if tag == "enum":
        idx, pos = _read_varint(data, pos)
        symbols = rep[1]
        if not 0 <= idx < len(symbols):
            raise AvroError(f"avro: enum index {idx} out of range 0..{len(symbols)-1}")
        return symbols[idx], pos
    if tag == "fixed":
        n = rep[1]
        if pos + n > len(data):
            raise AvroError("avro: truncated fixed value")
        return data[pos : pos + n], pos + n
    if tag == "record":
        row = {}
        for fname, frep in rep[1]:
            row[fname], pos = _decode_typed(data, pos, frep)
        return row, pos
    if tag == "logical":
        import datetime as _dt
        from decimal import Decimal

        _, lt, base, _prec, scale = rep
        v, pos = _decode_typed(data, pos, base)
        if lt == "date":
            return _dt.date(1970, 1, 1) + _dt.timedelta(days=v), pos
        if lt == "decimal":
            unscaled = int.from_bytes(v, "big", signed=True)
            return Decimal(unscaled).scaleb(-scale), pos
        unit = 1_000 if lt.endswith("millis") else 1_000_000
        delta = _dt.timedelta(microseconds=v * (1_000_000 // unit))
        epoch = (
            _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
            if lt.startswith("timestamp-")
            else _dt.datetime(1970, 1, 1)
        )
        return epoch + delta, pos
    raise AvroError(f"avro: unknown rep {rep!r}")


def parse_schema(schema_json: str | dict) -> list[tuple[str, object, int | None]]:
    """Writer schema -> [(field_name, rep, null_branch_index)].

    ``rep`` is the primitive name for flat fields (historical shape) or
    the recursive tuple rep for complex ones; ``null_branch_index`` is
    the union branch index of "null" for a top-level nullable field
    (["null", T] -> 0, [T, "null"] -> 1 — both legal Avro, and the
    branch index is what the wire encoding carries, so the order must
    be honored, not assumed), else None."""
    sc = (
        json.loads(schema_json)
        if isinstance(schema_json, (str, bytes))
        else schema_json
    )
    if not isinstance(sc, dict) or sc.get("type") != "record":
        raise NotImplementedError("avro: top-level schema must be a record")
    names: dict = {}
    rep = _parse_record(sc, names, set())
    out = []
    for fname, frep in rep[1]:
        if isinstance(frep, tuple) and frep[0] == "union":
            out.append((fname, frep[2], frep[1]))
        else:
            out.append((fname, frep, None))
    return out


def _spark_type(rep, counts: dict | None = None, max_depth: int = 0):
    """rep -> Spark DataType, or None when the (sub)type consists of a
    recursive reference past its unroll budget and must be DROPPED from
    the schema — the spark-avro recursiveFieldMaxDepth contract. With
    max_depth 0 (the default) a recursive schema raises loudly."""
    if isinstance(rep, str):
        if rep == "null":
            return T.NullType()
        return _PRIMITIVE_SPARK[rep]
    if isinstance(rep, _Lazy):
        if max_depth <= 0:
            raise NotImplementedError(
                f"avro: recursive type {rep.key!r} has no finite Spark "
                "schema — pass recursive_max_depth=N to unroll N levels "
                "(deeper values are dropped, as spark-avro's "
                "recursiveFieldMaxDepth does)"
            )
        counts = counts if counts is not None else {}
        c = counts.get(rep.key, 0)
        if c >= max_depth:
            return None  # unroll budget spent: drop this field
        counts[rep.key] = c + 1
        try:
            return _spark_type(rep.resolve(), counts, max_depth)
        finally:
            counts[rep.key] = c
    tag = rep[0]
    if tag == "union":
        inner = _spark_type(rep[2], counts, max_depth)
        return inner
    if tag == "gunion":
        _, _, branches, mode = rep
        if mode == "promote_long":
            return T.LongType()
        if mode == "promote_double":
            return T.DoubleType()
        fields = []
        for k, (_, brep) in enumerate(branches):
            bt = _spark_type(brep, counts, max_depth)
            if bt is None:
                return None
            fields.append(T.StructField(f"member{k}", bt, True))
        return T.StructType(fields)
    if tag == "array":
        inner = _spark_type(rep[1], counts, max_depth)
        return None if inner is None else T.ArrayType(inner, True)
    if tag == "map":
        inner = _spark_type(rep[1], counts, max_depth)
        return None if inner is None else T.MapType(T.StringType(), inner, True)
    if tag == "enum":
        return T.StringType()
    if tag == "fixed":
        return T.BinaryType()
    if tag == "record":
        fields = []
        for n, r in rep[1]:
            ft = _spark_type(r, counts, max_depth)
            if ft is not None:  # dropped recursive tail: omit the field
                fields.append(T.StructField(n, ft, True))
        return T.StructType(fields)
    if tag == "logical":
        _, lt, _base, prec, scale = rep
        if lt == "date":
            return T.DateType()
        if lt == "decimal":
            return T.DecimalType(prec, scale)
        if lt.startswith("timestamp-"):
            return T.TimestampType()
        return T.TimestampNTZType()  # local-timestamp-*
    raise AvroError(f"avro: unknown rep {rep!r}")


def spark_schema_for(
    fields: list[tuple[str, object, int | None]],
    recursive_max_depth: int = 0,
) -> T.StructType:
    out = []
    for name, rep, _ in fields:
        ft = _spark_type(rep, {}, recursive_max_depth)
        if ft is not None:
            out.append(T.StructField(name, ft, True))
    return T.StructType(out)


_DROP = object()


def _prune_recursive(v, rep, counts: dict, max_depth: int):
    """Mirror _spark_type's drop decisions on a DECODED value: values
    under a recursive reference past the unroll budget return _DROP and
    vanish from their parent record, so rows match the bounded schema
    exactly. The walk shares _spark_type's per-name counting."""
    if isinstance(rep, str):
        return v
    if isinstance(rep, _Lazy):
        c = counts.get(rep.key, 0)
        if c >= max_depth:
            return _DROP
        counts[rep.key] = c + 1
        try:
            return _prune_recursive(v, rep.resolve(), counts, max_depth)
        finally:
            counts[rep.key] = c
    tag = rep[0]
    if tag == "union":
        if _spark_type(rep[2], dict(counts), max_depth) is None:
            return _DROP
        return v if v is None else _prune_recursive(v, rep[2], counts, max_depth)
    if tag == "gunion":
        if _spark_type(rep, dict(counts), max_depth) is None:
            return _DROP
        _, _, branches, mode = rep
        if mode != "struct" or v is None:
            return v
        return {
            f"member{k}": _prune_recursive(
                v.get(f"member{k}"), brep, counts, max_depth
            )
            for k, (_, brep) in enumerate(branches)
        }
    if tag == "array":
        if _spark_type(rep, dict(counts), max_depth) is None:
            return _DROP
        if v is None:
            return v
        return [_prune_recursive(x, rep[1], counts, max_depth) for x in v]
    if tag == "map":
        if _spark_type(rep, dict(counts), max_depth) is None:
            return _DROP
        if v is None:
            return v
        return {
            k: _prune_recursive(x, rep[1], counts, max_depth)
            for k, x in v.items()
        }
    if tag == "record":
        if v is None:
            return v
        out = {}
        for fname, frep in rep[1]:
            r = _prune_recursive(v.get(fname), frep, counts, max_depth)
            if r is not _DROP:
                out[fname] = r
        return out
    return v


def read_header(blob: bytes):
    """Container header only -> (fields, codec, sync, position after the
    sync marker). Needs just the first few KB of the file — the schema
    probe never decodes a row."""
    try:
        return _read_header_inner(blob)
    except (IndexError, KeyError, struct.error, UnicodeDecodeError) as e:
        raise AvroError(f"avro: truncated or corrupt container header ({e!r})")


def _read_header_inner(blob: bytes):
    if blob[:4] != _MAGIC:
        raise AvroError("not an Avro object container (magic missing)")
    pos = 4
    meta: dict[str, bytes] = {}
    while True:  # metadata: map<bytes> in blocks
        count, pos = _read_varint(blob, pos)
        if count == 0:
            break
        if count < 0:  # negative block count: size follows
            count = -count
            _, pos = _read_varint(blob, pos)
        for _ in range(count):
            klen, pos = _read_varint(blob, pos)
            key = blob[pos : pos + klen].decode()
            pos += klen
            vlen, pos = _read_varint(blob, pos)
            meta[key] = blob[pos : pos + vlen]
            pos += vlen
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate", "snappy", "bzip2", "xz", "zstandard"):
        raise NotImplementedError(f"avro codec {codec!r} not supported")
    if "avro.schema" not in meta:
        raise AvroError("avro: container metadata missing avro.schema")
    fields = parse_schema(meta["avro.schema"].decode())
    sync = blob[pos : pos + 16]
    return fields, codec, sync, pos + 16


def decode_container(
    blob: bytes,
) -> tuple[list[tuple[str, object, int | None]], list[dict]]:
    """One Avro object-container file -> (fields, row dicts)."""
    fields, codec, sync, pos = read_header(blob)
    try:
        return fields, _decode_blocks(blob, fields, codec, sync, pos)
    except (IndexError, struct.error, UnicodeDecodeError) as e:
        raise AvroError(f"avro: truncated or corrupt data block ({e!r})")
    except zlib.error as e:
        raise AvroError(f"avro: corrupt deflate block ({e!r})")


def _snappy_decompress(block: bytes) -> bytes:
    """One Avro snappy block: a raw-snappy body plus the 4-byte
    big-endian CRC32 of the UNCOMPRESSED data (Avro spec, file container
    codecs), verified here."""
    if len(block) < 4:
        raise AvroError("avro: snappy block shorter than its CRC")
    body, crc = block[:-4], int.from_bytes(block[-4:], "big")
    # the body opens with its uncompressed length: an unsigned varint of
    # at most 5 bytes (a 32-bit value)
    n = 0
    for i, b in enumerate(body[:5]):
        n |= (b & 0x7F) << (7 * i)
        if not b & 0x80:
            break
    else:
        raise AvroError("avro: truncated or over-long snappy length preamble")
    # a 3-byte copy element yields at most 64 bytes, so a body cannot
    # expand past 22x its size: refuse a larger claim before allocating it
    if n > 0xFFFFFFFF or n > 22 * len(body):
        raise AvroError(
            f"avro: snappy preamble claims {n} bytes from a {len(body)}-byte body"
        )
    try:
        out = pa.decompress(body, decompressed_size=n, codec="snappy", asbytes=True)
    except (OSError, pa.ArrowException) as e:
        raise AvroError(f"avro: corrupt snappy block ({e})")
    if zlib.crc32(out) & 0xFFFFFFFF != crc:
        raise AvroError("avro: snappy block CRC mismatch")
    return out


def _decode_blocks(blob, fields, codec, sync, pos) -> list[dict]:
    rows: list[dict] = []
    while pos < len(blob):
        count, pos = _read_varint(blob, pos)
        size, pos = _read_varint(blob, pos)
        if count < 0 or size < 0:
            # a negative size would walk pos BACKWARDS — an infinite
            # loop, not an error, on a corrupt shard (review finding)
            raise AvroError(
                f"avro: negative block count/size ({count}/{size}) — corrupt"
            )
        block = blob[pos : pos + size]
        pos += size
        if blob[pos : pos + 16] != sync:
            raise AvroError("avro: sync marker mismatch (corrupt block)")
        pos += 16
        if codec == "deflate":
            block = zlib.decompress(block, wbits=-15)
        elif codec == "bzip2":
            import bz2

            try:
                block = bz2.decompress(block)
            except (OSError, ValueError) as e:  # bad stream / truncated
                raise AvroError(f"avro: corrupt bzip2 block ({e})")
        elif codec == "xz":
            import lzma

            try:
                block = lzma.decompress(block)
            except lzma.LZMAError as e:
                raise AvroError(f"avro: corrupt xz block ({e})")
        elif codec == "snappy":
            block = _snappy_decompress(block)
        elif codec == "zstandard":
            # a stream read handles frames without a content size,
            # concatenated frames and skippable frames
            try:
                block = pa.CompressedInputStream(pa.BufferReader(block), "zstd").read()
            except OSError as e:
                raise AvroError(f"avro: corrupt zstandard block ({e})")
        bpos = 0
        for _ in range(count):
            row, bpos = decode_record(block, bpos, fields)
            rows.append(row)
    return rows


def decode_record(
    data: bytes, pos: int, fields
) -> tuple[dict, int]:
    """One Avro BINARY-encoded record (no container framing) ->
    (row dict, new pos). `fields` is parse_schema() output. Public so
    record-level consumers (Hudi log blocks) share the codec."""
    row = {}
    for name, rep, null_idx in fields:
        if null_idx is not None:
            idx, pos = _read_varint(data, pos)
            if idx == null_idx:
                row[name] = None
                continue
            if idx != 1 - null_idx:
                raise AvroError(
                    f"avro: union branch index {idx} out of range "
                    f"(valid: {null_idx} = null, "
                    f"{1 - null_idx} = value)"
                )
        v, pos = _decode_typed(data, pos, rep)
        row[name] = v
    return row, pos


# --- write side (fixtures / sinks) -----------------------------------------


def _write_varint(v: int) -> bytes:
    acc = (v << 1) ^ (v >> 63) if v < 0 else v << 1
    out = bytearray()
    while True:
        b = acc & 0x7F
        acc >>= 7
        if acc:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _encode_value(prim: str, v) -> bytes:
    if prim == "null":
        return b""  # null encodes to zero bytes (mirror of _decode_value)
    if prim == "boolean":
        return b"\x01" if v else b"\x00"
    if prim in ("int", "long"):
        return _write_varint(int(v))
    if prim == "float":
        return struct.pack("<f", float(v))
    if prim == "double":
        return struct.pack("<d", float(v))
    raw = v.encode("utf-8") if prim == "string" else bytes(v)
    return _write_varint(len(raw)) + raw


def _encode_typed(rep, v) -> bytes:
    """Encode one value of any rep (single-block array/map form)."""
    if isinstance(rep, str):
        return _encode_value(rep, v)
    if isinstance(rep, _Lazy):
        return _encode_typed(rep.resolve(), v)
    tag = rep[0]
    if tag == "union":
        _, null_idx, inner = rep
        if v is None:
            return _write_varint(null_idx)
        return _write_varint(1 - null_idx) + _encode_typed(inner, v)
    if tag == "gunion":
        _, null_idx, branches, mode = rep
        if v is None:
            if null_idx is None:
                raise AvroError("avro: null in a union without a null branch")
            return _write_varint(null_idx)
        if mode != "struct":  # promoted numeric: encode the wide branch
            wide = "long" if mode == "promote_long" else "double"
            for bi, brep in branches:
                if brep == wide:
                    return _write_varint(bi) + _encode_value(wide, v)
            raise AvroError(f"avro: no {wide} branch in promoted union")
        live = [
            (k, bi, brep)
            for k, (bi, brep) in enumerate(branches)
            if v.get(f"member{k}") is not None
        ]
        if len(live) != 1:
            raise AvroError(
                f"avro: union value must set exactly one member, got {v!r}"
            )
        k, bi, brep = live[0]
        return _write_varint(bi) + _encode_typed(brep, v[f"member{k}"])
    if tag == "array":
        if not v:
            return _write_varint(0)
        body = b"".join(_encode_typed(rep[1], x) for x in v)
        return _write_varint(len(v)) + body + _write_varint(0)
    if tag == "map":
        if not v:
            return _write_varint(0)
        body = b"".join(
            _encode_value("string", k) + _encode_typed(rep[1], x)
            for k, x in v.items()
        )
        return _write_varint(len(v)) + body + _write_varint(0)
    if tag == "enum":
        symbols = rep[1]
        try:
            return _write_varint(symbols.index(v))
        except ValueError:
            raise AvroError(f"avro: {v!r} not an enum symbol of {symbols}")
    if tag == "fixed":
        raw = bytes(v)
        if len(raw) != rep[1]:
            raise AvroError(
                f"avro: fixed value of {len(raw)} bytes, schema says {rep[1]}"
            )
        return raw
    if tag == "record":
        out = bytearray()
        for fname, frep in rep[1]:
            fv = v.get(fname) if isinstance(v, dict) else getattr(v, fname)
            if fv is None and not (
                isinstance(frep, tuple) and frep[0] in ("union", "gunion")
            ) and frep != "null":
                raise AvroError(f"null in non-nullable field {fname!r}")
            out += _encode_typed(frep, fv)
        return bytes(out)
    if tag == "logical":
        import datetime as _dt
        from decimal import Decimal

        _, lt, base, _prec, scale = rep
        if lt == "date":
            if isinstance(v, _dt.datetime):  # pandas Timestamp included
                v = v.date()
            if isinstance(v, _dt.date):
                v = (v - _dt.date(1970, 1, 1)).days
            return _encode_typed(base, int(v))
        if lt == "decimal":
            # ints scale like Decimal/float: value 5 at scale 2 is
            # unscaled 500 (5.00), never raw-unscaled 5 (= 0.05)
            unscaled = int(Decimal(v).scaleb(scale).to_integral_value())
            if isinstance(base, tuple) and base[0] == "fixed":
                raw = unscaled.to_bytes(base[1], "big", signed=True)
            else:
                length = max(1, (unscaled.bit_length() + 8) // 8)
                raw = unscaled.to_bytes(length, "big", signed=True)
            return _encode_typed(base, raw)
        unit = 1_000 if lt.endswith("millis") else 1_000_000
        if isinstance(v, _dt.datetime):
            epoch = (
                _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
                if v.tzinfo is not None
                else _dt.datetime(1970, 1, 1)
            )
            micros = (v - epoch) // _dt.timedelta(microseconds=1)
            v = micros // (1_000_000 // unit)
        return _encode_typed(base, int(v))
    raise AvroError(f"avro: unknown rep {rep!r}")


def encode_record(fields, row: dict) -> bytes:
    """One row dict -> Avro BINARY record bytes (no container
    framing). `fields` is parse_schema() output. Public mirror of
    decode_record for record-level consumers (Hudi log blocks)."""
    body = bytearray()
    for name, rep, null_idx in fields:
        v = row.get(name)
        if null_idx is not None:
            if v is None:
                body += _write_varint(null_idx)
                continue
            body += _write_varint(1 - null_idx)
        elif v is None and rep != "null" and not (
            isinstance(rep, tuple) and rep[0] == "gunion"
        ):
            raise AvroError(f"null in non-nullable field {name!r}")
        body += _encode_typed(rep, v)
    return bytes(body)


def encode_container(
    schema: dict, rows: list[dict], codec: str = "deflate", sync: bytes = b"\x07" * 16
) -> bytes:
    """Rows -> one Avro object-container blob (fixture builder and the
    write side of an Avro sink)."""
    fields = parse_schema(schema)
    body = bytearray()
    for row in rows:
        body += encode_record(fields, row)
    block = bytes(body)
    if codec == "deflate":
        c = zlib.compressobj(6, zlib.DEFLATED, -15)
        block = c.compress(block) + c.flush()
    elif codec == "bzip2":
        import bz2

        block = bz2.compress(block)
    elif codec == "xz":
        import lzma

        block = lzma.compress(block)
    elif codec == "snappy":
        crc = zlib.crc32(block) & 0xFFFFFFFF
        block = pa.compress(block, codec="snappy", asbytes=True) + crc.to_bytes(4, "big")
    elif codec == "zstandard":
        block = pa.compress(block, codec="zstd", asbytes=True)
    elif codec != "null":
        raise NotImplementedError(f"avro codec {codec!r} not supported")
    meta = {
        "avro.schema": json.dumps(schema).encode(),
        "avro.codec": codec.encode(),
    }
    out = bytearray(_MAGIC)
    out += _write_varint(len(meta))
    for k, v in meta.items():
        out += _write_varint(len(k)) + k.encode()
        out += _write_varint(len(v)) + v
    out += _write_varint(0)
    out += sync
    out += _write_varint(len(rows)) + _write_varint(len(block)) + block + sync
    return bytes(out)


# --- the distributed source ------------------------------------------------


def parse_avro_blobs(
    blobs: DataFrame,
    fields: list[tuple[str, object, int | None]],
    recursive_max_depth: int = 0,
    with_pos: bool = False,
) -> DataFrame:
    """DataFrame with a `content: binary` column of container blobs ->
    decoded rows. Every blob must carry the given field layout (enforced
    per blob inside the task, so mixed-schema inputs fail loudly).
    Recursive schemas need recursive_max_depth > 0: the Spark schema
    unrolls that many levels and deeper values are dropped (the
    spark-avro recursiveFieldMaxDepth contract); decode itself walks
    the actual data depth regardless. ``with_pos`` (round 12) appends
    `__fp` (the blob's `path` column, required then) and `__pos` (the
    EXACT per-file row ordinal — container decode order IS file order)
    for consumers that anti-join position deletes (sources/iceberg)."""
    out_schema = spark_schema_for(fields, recursive_max_depth)
    kept = {f.name for f in out_schema.fields}
    out_fields = [f for f in fields if f[0] in kept]
    names = [f[0] for f in fields]
    if with_pos:
        out_schema = T.StructType(list(out_schema.fields) + [
            T.StructField("__fp", T.StringType(), False),
            T.StructField("__pos", T.LongType(), False),
        ])

    # nullable integer columns must NOT fall to float64 (a null beside a
    # value > 2^53 would silently round it) — build columns explicitly
    # with pandas nullable dtypes; complex types stay object
    _PD_DTYPES = {"long": "Int64", "int": "Int32", "boolean": "boolean"}

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            all_rows: list[dict] = []
            fps: list = []
            poss: list = []
            paths = pdf["path"] if with_pos else [None] * len(pdf)
            for fp, content in zip(paths, pdf["content"]):
                f_fields, rows = decode_container(bytes(content))
                if [x[0] for x in f_fields] != names:
                    raise AvroError(
                        f"avro: file schema fields {[x[0] for x in f_fields]} "
                        f"differ from the expected {names}"
                    )
                if with_pos:
                    fps.extend([fp] * len(rows))
                    poss.extend(range(len(rows)))
                all_rows.extend(rows)
            if recursive_max_depth > 0:
                all_rows = [
                    {
                        name: _prune_recursive(
                            r.get(name), rep, {}, recursive_max_depth
                        )
                        for name, rep, _ in out_fields
                    }
                    for r in all_rows
                ]
            cols = {
                name: pd.array(
                    [r.get(name) for r in all_rows],
                    dtype=_PD_DTYPES.get(rep, object)
                    if isinstance(rep, str)
                    else object,
                )
                for name, rep, _ in out_fields
            }
            out_names = [f[0] for f in out_fields]
            if with_pos:
                cols["__fp"] = pd.array(fps, dtype=object)
                cols["__pos"] = pd.array(poss, dtype="Int64")
                out_names += ["__fp", "__pos"]
            yield pd.DataFrame(cols, columns=out_names)

    sel = ["path", "content"] if with_pos else ["content"]
    return blobs.select(*sel).mapInPandas(decode, out_schema)


def read_avro(
    spark: SparkSession,
    path: str,
    glob: str = "*.avro",
    recursive_max_depth: int = 0,
) -> DataFrame:
    """Directory of Avro object-container files -> DataFrame. The result
    schema comes from the FIRST file's embedded writer schema (one tiny
    driver read); every file then decodes executor-side via
    parse_avro_blobs."""
    binaries = read_binary_dir(spark, path, glob=glob)
    first = binaries.select("path").limit(1).collect()
    if not first:
        raise AvroError(f"no avro files match {path}/{glob}")
    # schema probe: header-only parse of the first file's HEAD — never
    # ship or row-decode a whole (possibly multi-GB) file on the driver
    fpath = first[0].path
    local = fpath[len("file:") :] if fpath.startswith("file:") else None
    if local:
        with open(local, "rb") as f:
            head = f.read(1 << 20)
        fields, _, _, _ = read_header(head)
    else:  # non-local FS: fetch the content OF THE PROBED PATH (a second
        # unordered limit(1) could pick a different file — ADVICE r6)
        blob = (
            binaries.filter(F.col("path") == fpath)
            .select("content")
            .limit(1)
            .collect()[0]
            .content
        )
        fields, _, _, _ = read_header(bytes(blob))
    return parse_avro_blobs(binaries, fields, recursive_max_depth)
