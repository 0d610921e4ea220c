"""Pure-Python Avro Object Container File codec — no avro/fastavro
dependency, same self-contained approach as ``tfrecord.py``.

Reference surface: ReadFromAvro / WriteToAvro (beam/io/avroio.py:66,380)
read and write Avro OCF with generic records; this module implements the
container format (spec: https://avro.apache.org/docs/current/spec.html)
for the core type subset Beam's generic-record path exercises:

    null boolean int long float double bytes string
    record array map union enum fixed
    logical types: timestamp-micros, date

Wire format (OCF):
    magic            b"Obj\\x01"
    file metadata    Avro map<string,bytes> — avro.schema (JSON),
                     avro.codec ("null" | "deflate")
    sync marker      16 bytes
    blocks*          long record-count, long byte-size,
                     payload (optionally deflate/zlib-raw), sync marker

Scalars use Avro binary encoding: zigzag varint for int/long, IEEE LE
for float/double, length-prefixed bytes/string; arrays and maps are
block-encoded with a 0 terminator.

Scale posture: OCF *is* block-splittable on the sync marker, but this
pure-Python path reads whole files (one task per file — the same shape
as the TFRecord reader); a real cluster deployment would put the
spark-avro jar on the classpath and take the JVM vectorized reader
(``files.read_avro`` tries that first). Parsing is Arrow-batched via
mapInPandas, never row-at-a-time over the driver.
"""

from __future__ import annotations

import datetime as _dt
import io
import json
import struct
import zlib
from typing import Any

MAGIC = b"Obj\x01"
SYNC_SIZE = 16

# ---------------------------------------------------------------------------
# Binary primitives
# ---------------------------------------------------------------------------


def _zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _zigzag_decode(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def write_long(buf: bytearray, n: int) -> None:
    z = _zigzag_encode(n) & 0xFFFFFFFFFFFFFFFF
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            buf.append(b | 0x80)
        else:
            buf.append(b)
            return


def read_long(buf: io.BytesIO) -> int:
    shift, acc = 0, 0
    while True:
        byte = buf.read(1)
        if not byte:
            raise ValueError("truncated varint")
        b = byte[0]
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return _zigzag_decode(acc)
        shift += 7
        if shift > 70:
            raise ValueError("varint too long")


def write_bytes(buf: bytearray, data: bytes) -> None:
    write_long(buf, len(data))
    buf += data


def read_n(buf: io.BytesIO, n: int) -> bytes:
    data = buf.read(n)
    if len(data) != n:
        raise ValueError(f"truncated read: wanted {n}, got {len(data)}")
    return data


# ---------------------------------------------------------------------------
# Schema-driven encode / decode
# ---------------------------------------------------------------------------

_EPOCH_DATE = _dt.date(1970, 1, 1)
_EPOCH_TS = _dt.datetime(1970, 1, 1)


def encode_value(buf: bytearray, schema: Any, value: Any) -> None:
    if isinstance(schema, list):  # union — branch index then value
        idx = _union_branch(schema, value)
        write_long(buf, idx)
        encode_value(buf, schema[idx], value)
        return
    if isinstance(schema, dict):
        t = schema["type"]
        logical = schema.get("logicalType")
        if t == "record":
            for f in schema["fields"]:
                encode_value(buf, f["type"], value.get(f["name"]))
            return
        if t == "array":
            if value:
                write_long(buf, len(value))
                for v in value:
                    encode_value(buf, schema["items"], v)
            write_long(buf, 0)
            return
        if t == "map":
            if value:
                # Accept both dicts (Row.asDict, plain Python) and the
                # list-of-(key, value)-tuples shape Arrow's
                # RecordBatch.to_pylist() produces for MapType cells
                # (ADVICE r11 #1: the mapInArrow write path fed tuples
                # into .items() and died on AttributeError). Handling
                # both HERE covers maps at any nesting depth.
                items = value.items() if isinstance(value, dict) else value
                write_long(buf, len(value))
                for k, v in items:
                    write_bytes(buf, k.encode("utf-8"))
                    encode_value(buf, schema["values"], v)
            write_long(buf, 0)
            return
        if t == "enum":
            write_long(buf, schema["symbols"].index(value))
            return
        if t == "fixed":
            if len(value) != schema["size"]:
                raise ValueError(f"fixed size mismatch: {len(value)} != {schema['size']}")
            buf += bytes(value)
            return
        if logical == "timestamp-micros" and t == "long":
            if hasattr(value, "value"):  # pandas.Timestamp — exact ns
                value = value.value // 1000
            elif isinstance(value, _dt.datetime):
                td = value.replace(tzinfo=None) - _EPOCH_TS
                # exact integer µs (total_seconds() is float-lossy here)
                value = (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds
            write_long(buf, int(value))
            return
        if logical == "date" and t == "int":
            if isinstance(value, _dt.date):
                value = (value - _EPOCH_DATE).days
            write_long(buf, int(value))
            return
        schema = t  # plain primitive wrapped in a dict
    if schema == "null":
        return
    if schema == "boolean":
        buf.append(1 if value else 0)
        return
    if schema in ("int", "long"):
        write_long(buf, int(value))
        return
    if schema == "float":
        buf += struct.pack("<f", float(value))
        return
    if schema == "double":
        buf += struct.pack("<d", float(value))
        return
    if schema == "bytes":
        write_bytes(buf, bytes(value))
        return
    if schema == "string":
        write_bytes(buf, value.encode("utf-8") if isinstance(value, str) else bytes(value))
        return
    raise ValueError(f"unsupported avro schema: {schema!r}")


def _union_branch(union: list, value: Any) -> int:
    """Pick the union branch for a Python value (null-vs-rest resolution,
    the overwhelmingly common Avro union shape)."""
    for i, s in enumerate(union):
        if (s == "null" or (isinstance(s, dict) and s.get("type") == "null")) and value is None:
            return i
    for i, s in enumerate(union):
        if s != "null" and not (isinstance(s, dict) and s.get("type") == "null"):
            if value is not None:
                return i
    raise ValueError(f"no union branch in {union!r} for {value!r}")


# --- compiled decode path ---------------------------------------------------
# An interpreted decoder re-dispatches on the schema (isinstance + dict
# lookups) for EVERY value and pulls varints byte-by-byte out of
# io.BytesIO (one method call + bytes allocation per byte); at container
# volume that per-value interpretation dominates the read side (guide §4:
# do the heavy lifting once, not per row). ``compile_decoder`` walks the
# schema ONCE and returns a tree of specialized closures over (buf: bytes,
# pos: int) -> (value, new_pos) — measured 3-6x faster on the OCF read
# path than the interpreted decoder it replaced.


def _dec_long(buf: bytes, pos: int) -> tuple[int, int]:
    """Zigzag varint at ``pos`` — the compiled twin of ``read_long``."""
    try:
        b = buf[pos]
    except IndexError:
        raise ValueError("truncated varint") from None
    pos += 1
    acc = b & 0x7F
    shift = 7
    while b & 0x80:
        try:
            b = buf[pos]
        except IndexError:
            raise ValueError("truncated varint") from None
        pos += 1
        acc |= (b & 0x7F) << shift
        shift += 7
        if shift > 70:
            raise ValueError("varint too long")
    return (acc >> 1) ^ -(acc & 1), pos


def compile_decoder(schema: Any):
    """Schema → ``f(buf, pos) -> (value, new_pos)``: the inverse of
    :func:`encode_value`."""
    if isinstance(schema, list):
        branches = [compile_decoder(s) for s in schema]
        n = len(branches)

        def dec_union(buf, pos, _b=branches, _n=n):
            idx, pos = _dec_long(buf, pos)
            if idx < 0 or idx >= _n:
                raise ValueError(f"union index {idx} out of range")
            return _b[idx](buf, pos)

        return dec_union
    if isinstance(schema, dict):
        t = schema["type"]
        logical = schema.get("logicalType")
        if t == "record":
            fdecs = [(f["name"], compile_decoder(f["type"])) for f in schema["fields"]]

            def dec_record(buf, pos, _f=tuple(fdecs)):
                out = {}
                for name, d in _f:
                    out[name], pos = d(buf, pos)
                return out, pos

            return dec_record
        if t == "array":
            item = compile_decoder(schema["items"])

            def dec_array(buf, pos, _item=item):
                out = []
                append = out.append
                while True:
                    n, pos = _dec_long(buf, pos)
                    if n == 0:
                        return out, pos
                    if n < 0:  # negative count ⇒ byte-size follows
                        _, pos = _dec_long(buf, pos)
                        n = -n
                    for _ in range(n):
                        v, pos = _item(buf, pos)
                        append(v)

            return dec_array
        if t == "map":
            val = compile_decoder(schema["values"])

            def dec_map(buf, pos, _val=val):
                out = {}
                while True:
                    n, pos = _dec_long(buf, pos)
                    if n == 0:
                        return out, pos
                    if n < 0:
                        _, pos = _dec_long(buf, pos)
                        n = -n
                    for _ in range(n):
                        ln, pos = _dec_long(buf, pos)
                        k = buf[pos : pos + ln].decode("utf-8")
                        pos += ln
                        out[k], pos = _val(buf, pos)

            return dec_map
        if t == "enum":
            symbols = list(schema["symbols"])

            def dec_enum(buf, pos, _s=symbols):
                idx, pos = _dec_long(buf, pos)
                return _s[idx], pos

            return dec_enum
        if t == "fixed":
            size = int(schema["size"])

            def dec_fixed(buf, pos, _n=size):
                end = pos + _n
                data = buf[pos:end]
                if len(data) != _n:
                    raise ValueError(f"truncated read: wanted {_n}, got {len(data)}")
                return data, end

            return dec_fixed
        if logical == "timestamp-micros" and t == "long":

            def dec_ts(buf, pos):
                micros, pos = _dec_long(buf, pos)
                return _EPOCH_TS + _dt.timedelta(microseconds=micros), pos

            return dec_ts
        if logical == "date" and t == "int":

            def dec_date(buf, pos):
                days, pos = _dec_long(buf, pos)
                return _EPOCH_DATE + _dt.timedelta(days=days), pos

            return dec_date
        schema = t  # plain primitive wrapped in a dict
    if schema == "null":
        return lambda buf, pos: (None, pos)
    if schema == "boolean":

        def dec_bool(buf, pos):
            if pos >= len(buf):
                raise ValueError("truncated read: wanted 1, got 0")
            return buf[pos] == 1, pos + 1

        return dec_bool
    if schema in ("int", "long"):
        return _dec_long
    if schema == "float":
        unpack_f = struct.Struct("<f").unpack_from

        def dec_float(buf, pos, _u=unpack_f):
            if pos + 4 > len(buf):
                raise ValueError(f"truncated read: wanted 4, got {len(buf) - pos}")
            return _u(buf, pos)[0], pos + 4

        return dec_float
    if schema == "double":
        unpack_d = struct.Struct("<d").unpack_from

        def dec_double(buf, pos, _u=unpack_d):
            if pos + 8 > len(buf):
                raise ValueError(f"truncated read: wanted 8, got {len(buf) - pos}")
            return _u(buf, pos)[0], pos + 8

        return dec_double
    if schema == "bytes":

        def dec_bytes(buf, pos):
            n, pos = _dec_long(buf, pos)
            end = pos + n
            data = buf[pos:end]
            if len(data) != n:
                raise ValueError(f"truncated read: wanted {n}, got {len(data)}")
            return data, end

        return dec_bytes
    if schema == "string":

        def dec_string(buf, pos):
            n, pos = _dec_long(buf, pos)
            end = pos + n
            data = buf[pos:end]
            if len(data) != n:
                raise ValueError(f"truncated read: wanted {n}, got {len(data)}")
            return data.decode("utf-8"), end

        return dec_string
    raise ValueError(f"unsupported avro schema: {schema!r}")


# ---------------------------------------------------------------------------
# Object Container File
# ---------------------------------------------------------------------------


def write_container(
    records: list[dict],
    schema: dict,
    codec: str = "null",
    sync: bytes | None = None,
    block_records: int = 4096,
) -> bytes:
    """Serialize records to one OCF byte string (one block per
    ``block_records``; deterministic sync marker unless provided)."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported codec {codec!r}")
    if sync is None:
        # Deterministic marker derived from the schema — reproducible
        # output (no RNG; retried task attempts write identical bytes).
        sync = zlib.crc32(json.dumps(schema, sort_keys=True).encode()).to_bytes(
            4, "little"
        ) * 4
    out = bytearray()
    out += MAGIC
    meta = {
        "avro.schema": json.dumps(schema).encode("utf-8"),
        "avro.codec": codec.encode("utf-8"),
    }
    write_long(out, len(meta))
    for k, v in sorted(meta.items()):
        write_bytes(out, k.encode("utf-8"))
        write_bytes(out, v)
    write_long(out, 0)
    out += sync
    for start in range(0, len(records), block_records):
        chunk = records[start : start + block_records]
        payload = bytearray()
        for rec in chunk:
            encode_value(payload, schema, rec)
        data = bytes(payload)
        if codec == "deflate":
            data = zlib.compress(data)[2:-4]  # raw deflate per spec
        write_long(out, len(chunk))
        write_long(out, len(data))
        out += data
        out += sync
    return bytes(out)


def _container_header(bio: io.BytesIO) -> tuple[dict, str, bytes]:
    """Parse the OCF header: (schema, codec, sync marker)."""
    if read_n(bio, 4) != MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    meta: dict[str, bytes] = {}
    while True:
        n = read_long(bio)
        if n == 0:
            break
        if n < 0:
            read_long(bio)
            n = -n
        for _ in range(n):
            k = read_n(bio, read_long(bio)).decode("utf-8")
            meta[k] = read_n(bio, read_long(bio))
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported codec {codec!r}")
    sync = read_n(bio, SYNC_SIZE)
    return schema, codec, sync


def read_container(buf: bytes) -> tuple[dict, list[dict]]:
    """Parse one OCF byte string → (schema, records) via the compiled
    decoder."""
    bio = io.BytesIO(buf)
    schema, codec, sync = _container_header(bio)
    dec = compile_decoder(schema)
    records: list[dict] = []
    append = records.append
    while bio.tell() < len(buf):
        count = read_long(bio)
        size = read_long(bio)
        data = read_n(bio, size)
        if codec == "deflate":
            data = zlib.decompress(data, wbits=-15)
        pos = 0
        for _ in range(count):
            rec, pos = dec(data, pos)
            append(rec)
        if read_n(bio, SYNC_SIZE) != sync:
            raise ValueError("sync marker mismatch (corrupt block boundary)")
    return schema, records


def read_container_columns(buf: bytes) -> tuple[dict, dict[str, list]]:
    """Parse one OCF byte string → (schema, {field: column list}) —
    the columnar twin of :func:`read_container` for the Spark read
    path: top-level record fields decode straight into per-column
    lists (no per-record dict build + per-column re-walk)."""
    bio = io.BytesIO(buf)
    schema, codec, sync = _container_header(bio)
    if schema.get("type") != "record":
        raise ValueError("top-level avro schema must be a record")
    fdecs = [
        (f["name"], compile_decoder(f["type"])) for f in schema["fields"]
    ]
    cols: dict[str, list] = {name: [] for name, _ in fdecs}
    appends = [(cols[name].append, d) for name, d in fdecs]
    while bio.tell() < len(buf):
        count = read_long(bio)
        size = read_long(bio)
        data = read_n(bio, size)
        if codec == "deflate":
            data = zlib.decompress(data, wbits=-15)
        pos = 0
        for _ in range(count):
            for append, d in appends:
                v, pos = d(data, pos)
                append(v)
        if read_n(bio, SYNC_SIZE) != sync:
            raise ValueError("sync marker mismatch (corrupt block boundary)")
    return schema, cols


# ---------------------------------------------------------------------------
# Spark StructType ↔ Avro schema
# ---------------------------------------------------------------------------


def struct_to_avro_schema(st, name: str = "row") -> dict:
    """Spark StructType → Avro record schema (nullable fields become
    ["null", T] unions, Spark's convention in spark-avro)."""
    from pyspark.sql import types as T

    def field_type(dt) -> Any:
        if isinstance(dt, T.BooleanType):
            return "boolean"
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
            return "int"
        if isinstance(dt, T.LongType):
            return "long"
        if isinstance(dt, T.FloatType):
            return "float"
        if isinstance(dt, T.DoubleType):
            return "double"
        if isinstance(dt, T.BinaryType):
            return "bytes"
        if isinstance(dt, T.StringType):
            return "string"
        if isinstance(dt, T.DateType):
            return {"type": "int", "logicalType": "date"}
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            return {"type": "long", "logicalType": "timestamp-micros"}
        if isinstance(dt, T.ArrayType):
            item = field_type(dt.elementType)
            return {
                "type": "array",
                "items": ["null", item] if dt.containsNull else item,
            }
        if isinstance(dt, T.MapType):
            val = field_type(dt.valueType)
            return {
                "type": "map",
                "values": ["null", val] if dt.valueContainsNull else val,
            }
        if isinstance(dt, T.StructType):
            return struct_to_avro_schema(dt, name=f"{name}_rec")
        raise ValueError(f"no avro mapping for spark type {dt}")

    fields = []
    for f in st.fields:
        ft = field_type(f.dataType)
        fields.append(
            {"name": f.name, "type": ["null", ft] if f.nullable else ft}
        )
    return {"type": "record", "name": name, "fields": fields}


def avro_schema_to_struct(schema: dict):
    """Avro record schema → Spark StructType (inverse mapping)."""
    from pyspark.sql import types as T

    def data_type(s: Any):
        nullable = False
        if isinstance(s, list):
            non_null = [x for x in s if x != "null"]
            if len(non_null) != 1:
                raise ValueError(f"only 2-branch null unions supported: {s!r}")
            nullable, s = True, non_null[0]
        if isinstance(s, dict):
            t = s["type"]
            logical = s.get("logicalType")
            if logical == "date":
                return T.DateType(), nullable
            if logical == "timestamp-micros":
                return T.TimestampNTZType(), nullable
            if t == "record":
                return (
                    T.StructType(
                        [
                            T.StructField(f["name"], *data_type(f["type"]))
                            for f in s["fields"]
                        ]
                    ),
                    nullable,
                )
            if t == "array":
                it, it_null = data_type(s["items"])
                return T.ArrayType(it, containsNull=it_null), nullable
            if t == "map":
                vt, vt_null = data_type(s["values"])
                return T.MapType(T.StringType(), vt, valueContainsNull=vt_null), nullable
            if t == "enum":
                return T.StringType(), nullable
            if t == "fixed":
                return T.BinaryType(), nullable
            s = t
        prim = {
            "null": T.NullType(),
            "boolean": T.BooleanType(),
            "int": T.IntegerType(),
            "long": T.LongType(),
            "float": T.FloatType(),
            "double": T.DoubleType(),
            "bytes": T.BinaryType(),
            "string": T.StringType(),
        }
        if s in prim:
            return prim[s], nullable
        raise ValueError(f"unsupported avro type {s!r}")

    if schema.get("type") != "record":
        raise ValueError("top-level avro schema must be a record")
    return T.StructType(
        [T.StructField(f["name"], *data_type(f["type"])) for f in schema["fields"]]
    )
