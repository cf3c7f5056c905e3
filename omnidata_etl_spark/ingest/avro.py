"""Dependency-free Apache Avro Object Container File reader/writer.

Clean-room from the PUBLIC Avro 1.11 specification (binary encoding +
object container file layout). Nothing here comes from the Avro library;
it exists because this container ships neither the spark-avro connector
jar nor a DuckDB avro extension, and Avro is — with Parquet and ORC —
one of the three formats a real ingestion surface cannot refuse
(generalizes the reference's format-dispatch upload, /root/reference
backend/index.js:88-97, the same way ingest/xlsx.py and xls_biff.py do
for the spreadsheet formats).

Scope (the subset a data-engineering corpus actually contains):
  * primitives: null boolean int long float double bytes string
  * complex: record enum array map union fixed (nested arbitrarily)
  * logical types: date, timestamp-millis, timestamp-micros,
    decimal(bytes|fixed)
  * codecs: null, deflate (raw RFC-1951 per spec). snappy/zstd raise an
    actionable error naming the remedy (honest-scope pattern, codecs.py).

Scale design — how this reads 100 TB: `read_avro_df` decodes NOTHING on
the driver except one file header (the writer schema). The files ride
Spark's binaryFile source and every container decodes inside
`mapInPandas` on executors, one pandas batch per OCF *block* (the
writer's natural ~64 KiB-1 MiB unit), so executor memory is bounded by
block size, not file size. Parallelism granularity is one file — the
standard Avro layout is many files per directory, which is exactly what
a 1000-executor cluster wants; splitting a single file at sync markers
is a documented non-goal (binaryFile hands whole files; at 100 TB the
fix is the layout, not a custom InputFormat).
"""

from __future__ import annotations

import datetime as _dt
import io
import json
import struct
import zlib
from decimal import Decimal

MAGIC = b"Obj\x01"

_PRIMITIVES = {
    "null", "boolean", "int", "long", "float", "double", "bytes", "string",
}


# ---------------------------------------------------------------------------
# binary decoding (Avro spec "Binary Encoding")


class Decoder:
    """Cursor over OCF bytes; all reads are little-endian per spec."""

    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos

    def read(self, n: int) -> bytes:
        b = self.buf[self.pos : self.pos + n]
        if len(b) != n:
            raise EOFError(
                f"avro: truncated input at offset {self.pos} (wanted {n} bytes)"
            )
        self.pos += n
        return b

    def read_long(self) -> int:
        """Zigzag-encoded variable-length integer (int and long share it)."""
        shift = 0
        accum = 0
        while True:
            byte = self.buf[self.pos]
            self.pos += 1
            accum |= (byte & 0x7F) << shift
            if not byte & 0x80:
                break
            shift += 7
            if shift > 70:
                raise ValueError("avro: varint longer than 10 bytes")
        return (accum >> 1) ^ -(accum & 1)

    def read_bytes(self) -> bytes:
        return self.read(self.read_long())

    def read_boolean(self) -> bool:
        return self.read(1) != b"\x00"

    def read_float(self) -> float:
        return struct.unpack("<f", self.read(4))[0]

    def read_double(self) -> float:
        return struct.unpack("<d", self.read(8))[0]


class Encoder:
    __slots__ = ("out",)

    def __init__(self):
        self.out = io.BytesIO()

    def write(self, b: bytes) -> None:
        self.out.write(b)

    def write_long(self, n: int) -> None:
        n = (n << 1) ^ (n >> 63) if n < 0 else (n << 1)
        while True:
            b = n & 0x7F
            n >>= 7
            if n:
                self.out.write(bytes((b | 0x80,)))
            else:
                self.out.write(bytes((b,)))
                return

    def write_bytes(self, b: bytes) -> None:
        self.write_long(len(b))
        self.out.write(b)

    def getvalue(self) -> bytes:
        return self.out.getvalue()


# ---------------------------------------------------------------------------
# schema-directed value decode/encode

_EPOCH_DATE = _dt.date(1970, 1, 1)
_EPOCH_TS = _dt.datetime(1970, 1, 1)


def _logical(schema: dict):
    return schema.get("logicalType") if isinstance(schema, dict) else None


def decode_value(schema, dec: Decoder, names: dict):
    """One value per the writer schema. `names` maps named-type fullnames
    (record/enum/fixed) to their definitions for reference re-use."""
    if isinstance(schema, str):
        if schema in _PRIMITIVES:
            t = schema
        else:
            return decode_value(names[schema], dec, names)
    elif isinstance(schema, list):  # union: long index + value
        idx = dec.read_long()
        return decode_value(schema[idx], dec, names)
    else:
        t = schema["type"]

    if t == "null":
        return None
    if t == "boolean":
        return dec.read_boolean()
    if t in ("int", "long"):
        v = dec.read_long()
        lt = _logical(schema) if isinstance(schema, dict) else None
        if lt == "date":
            return _EPOCH_DATE + _dt.timedelta(days=v)
        if lt == "timestamp-millis":
            return _EPOCH_TS + _dt.timedelta(milliseconds=v)
        if lt == "timestamp-micros":
            return _EPOCH_TS + _dt.timedelta(microseconds=v)
        return v
    if t == "float":
        return dec.read_float()
    if t == "double":
        return dec.read_double()
    if t in ("bytes", "fixed"):
        raw = (
            dec.read(schema["size"]) if t == "fixed" else dec.read_bytes()
        )
        lt = _logical(schema) if isinstance(schema, dict) else None
        if lt == "decimal":
            unscaled = int.from_bytes(raw, "big", signed=True)
            return Decimal(unscaled).scaleb(-schema.get("scale", 0))
        return raw
    if t == "string":
        return dec.read_bytes().decode("utf-8")
    if t == "record":
        return {
            f["name"]: decode_value(f["type"], dec, names)
            for f in schema["fields"]
        }
    if t == "enum":
        return schema["symbols"][dec.read_long()]
    if t == "array":
        out = []
        while True:
            n = dec.read_long()
            if n == 0:
                return out
            if n < 0:  # negative count: byte size follows (skippable blocks)
                dec.read_long()
                n = -n
            for _ in range(n):
                out.append(decode_value(schema["items"], dec, names))
    if t == "map":
        out = {}
        while True:
            n = dec.read_long()
            if n == 0:
                return out
            if n < 0:
                dec.read_long()
                n = -n
            for _ in range(n):
                k = dec.read_bytes().decode("utf-8")
                out[k] = decode_value(schema["values"], dec, names)
    raise NotImplementedError(f"avro: unsupported schema type {t!r}")


def encode_value(schema, v, enc: Encoder, names: dict) -> None:
    if isinstance(schema, str):
        if schema in _PRIMITIVES:
            t = schema
        else:
            return encode_value(names[schema], v, enc, names)
    elif isinstance(schema, list):
        # writer picks the first branch matching the value's nullness —
        # enough for the ["null", X] unions this writer emits
        idx = 0 if v is None else next(
            i for i, b in enumerate(schema)
            if (b == "null") == (v is None)
        )
        enc.write_long(idx)
        return encode_value(schema[idx], v, enc, names)
    else:
        t = schema["type"]

    if t == "null":
        return None
    if t == "boolean":
        enc.write(b"\x01" if v else b"\x00")
    elif t in ("int", "long"):
        lt = _logical(schema) if isinstance(schema, dict) else None
        if lt == "date":
            v = (v - _EPOCH_DATE).days
        elif lt == "timestamp-millis":
            v = int((v - _EPOCH_TS).total_seconds() * 1000)
        elif lt == "timestamp-micros":
            d = v - _EPOCH_TS
            v = (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
        enc.write_long(v)
    elif t == "float":
        enc.write(struct.pack("<f", v))
    elif t == "double":
        enc.write(struct.pack("<d", v))
    elif t in ("bytes", "fixed"):
        lt = _logical(schema) if isinstance(schema, dict) else None
        if lt == "decimal":
            unscaled = int(v.scaleb(schema.get("scale", 0)))
            size = schema["size"] if t == "fixed" else max(
                1, (unscaled.bit_length() + 8) // 8
            )
            v = unscaled.to_bytes(size, "big", signed=True)
        if t == "fixed":
            enc.write(v)
        else:
            enc.write_bytes(v)
    elif t == "string":
        enc.write_bytes(v.encode("utf-8"))
    elif t == "record":
        for f in schema["fields"]:
            encode_value(f["type"], v[f["name"]], enc, names)
    elif t == "enum":
        enc.write_long(schema["symbols"].index(v))
    elif t == "array":
        if v:
            enc.write_long(len(v))
            for item in v:
                encode_value(schema["items"], item, enc, names)
        enc.write_long(0)
    elif t == "map":
        if v:
            enc.write_long(len(v))
            for k, item in v.items():
                enc.write_bytes(k.encode("utf-8"))
                encode_value(schema["values"], item, enc, names)
        enc.write_long(0)
    else:
        raise NotImplementedError(f"avro: unsupported schema type {t!r}")


def collect_names(schema, names: dict) -> None:
    """Index named types (record/enum/fixed) by fullname so later
    references-by-name resolve (spec "Names")."""
    if isinstance(schema, list):
        for b in schema:
            collect_names(b, names)
        return
    if not isinstance(schema, dict):
        return
    t = schema.get("type")
    if t in ("record", "enum", "fixed"):
        ns = schema.get("namespace")
        full = f"{ns}.{schema['name']}" if ns else schema["name"]
        names[full] = schema
        names[schema["name"]] = schema
    if t == "record":
        for f in schema["fields"]:
            collect_names(f["type"], names)
    elif t == "array":
        collect_names(schema.get("items"), names)
    elif t == "map":
        collect_names(schema.get("values"), names)


# ---------------------------------------------------------------------------
# object container file


def read_header(dec: Decoder) -> tuple[dict, str, bytes]:
    """Returns (schema, codec, sync_marker); dec is left at the first block."""
    if dec.read(4) != MAGIC:
        raise ValueError("avro: bad magic — not an Avro object container file")
    meta = decode_value({"type": "map", "values": "bytes"}, dec, {})
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    if codec not in ("null", "deflate"):
        raise NotImplementedError(
            f"avro: codec {codec!r} not supported (null/deflate are); "
            "rewrite the file with --codec deflate"
        )
    sync = dec.read(16)
    return schema, codec, sync


def iter_blocks(data: bytes):
    """Yield (schema, names, record_count, block_decoder) per OCF block.
    Block payloads are decompressed lazily, one block in memory at a time."""
    dec = Decoder(data)
    schema, codec, sync = read_header(dec)
    names: dict = {}
    collect_names(schema, names)
    while dec.pos < len(data):
        n = dec.read_long()
        payload = dec.read_bytes()
        if dec.read(16) != sync:
            raise ValueError("avro: sync marker mismatch (corrupt block)")
        if codec == "deflate":
            payload = zlib.decompress(payload, -15)  # raw RFC-1951 per spec
        yield schema, names, n, Decoder(payload)


def read_records(data: bytes) -> tuple[dict, list]:
    """Whole-container decode → (schema, list of record dicts)."""
    schema = None
    out = []
    for schema, names, n, bdec in iter_blocks(data):
        for _ in range(n):
            out.append(decode_value(schema, bdec, names))
    if schema is None:  # zero-block file: still surface the schema
        dec = Decoder(data)
        schema, _, _ = read_header(dec)
    return schema, out


def read_avro(path: str) -> tuple[dict, list]:
    with open(path, "rb") as f:
        return read_records(f.read())


def write_avro(
    path: str,
    schema: dict,
    records: list,
    codec: str = "null",
    records_per_block: int = 1000,
) -> None:
    """Spec-shaped OCF writer (fixtures, sink demos, tests). The sync
    marker is derived deterministically from the schema text so fixture
    bytes are stable across runs (same rationale as fixture_gz_path's
    pinned gzip mtime)."""
    import hashlib

    schema_json = json.dumps(schema, sort_keys=True)
    sync = hashlib.md5(schema_json.encode("utf-8")).digest()
    names: dict = {}
    collect_names(schema, names)
    enc = Encoder()
    enc.write(MAGIC)
    meta = {
        "avro.schema": schema_json.encode("utf-8"),
        "avro.codec": codec.encode("utf-8"),
    }
    encode_value({"type": "map", "values": "bytes"}, meta, enc, names)
    enc.write(sync)
    for i in range(0, max(len(records), 1), records_per_block):
        chunk = records[i : i + records_per_block]
        if not chunk:
            break
        benc = Encoder()
        for r in chunk:
            encode_value(schema, r, benc, names)
        payload = benc.getvalue()
        if codec == "deflate":
            co = zlib.compressobj(wbits=-15)
            payload = co.compress(payload) + co.flush()
        enc.write_long(len(chunk))
        enc.write_bytes(payload)
        enc.write(sync)
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(enc.getvalue())
    import os

    os.replace(tmp, path)


# ---------------------------------------------------------------------------
# Spark integration


def spark_type_for(schema, names: dict):
    """Avro writer schema → (Spark DataType, nullable). Unions with null
    unwrap to their non-null branch; other unions and nested records map
    to struct/driver-side JSON is NOT used — real nested types."""
    from pyspark.sql import types as T

    if isinstance(schema, list):
        branches = [b for b in schema if b != "null"]
        nullable = len(branches) != len(schema)
        if len(branches) != 1:
            raise NotImplementedError(
                "avro: general unions beyond [null, X] are not mapped"
            )
        dt, _ = spark_type_for(branches[0], names)
        return dt, nullable
    if isinstance(schema, str) and schema not in _PRIMITIVES:
        return spark_type_for(names[schema], names)
    t = schema if isinstance(schema, str) else schema["type"]
    lt = _logical(schema)
    if lt == "date":
        return T.DateType(), False
    if lt in ("timestamp-millis", "timestamp-micros"):
        return T.TimestampType(), False
    if lt == "decimal":
        return (
            T.DecimalType(schema.get("precision", 38), schema.get("scale", 0)),
            False,
        )
    simple = {
        "null": T.NullType(),
        "boolean": T.BooleanType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "bytes": T.BinaryType(),
        "string": T.StringType(),
        "enum": T.StringType(),
        "fixed": T.BinaryType(),
    }
    if t in simple:
        return simple[t], False
    if t == "array":
        dt, n = spark_type_for(schema["items"], names)
        return T.ArrayType(dt, containsNull=n), False
    if t == "map":
        dt, n = spark_type_for(schema["values"], names)
        return T.MapType(T.StringType(), dt, valueContainsNull=n), False
    if t == "record":
        fields = []
        for f in schema["fields"]:
            dt, n = spark_type_for(f["type"], names)
            fields.append(T.StructField(f["name"], dt, nullable=n))
        return T.StructType(fields), False
    raise NotImplementedError(f"avro: unsupported schema type {t!r}")


def spark_schema_for(schema: dict):
    """Top-level record schema → Spark StructType with per-field nullability."""
    names: dict = {}
    collect_names(schema, names)
    if not (isinstance(schema, dict) and schema.get("type") == "record"):
        raise ValueError("avro: top-level schema must be a record")
    dt, _ = spark_type_for(schema, names)
    return dt


def read_avro_df(spark, path: str):
    """Distributed Avro scan: driver reads ONE header for the schema; file
    contents ride binaryFile and decode on executors via mapInPandas, one
    pandas batch per OCF block (executor memory bounded by block size).
    Directory layouts parallelize per file — the standard Avro shape."""
    from omnidata_etl_spark.ingest.readers import first_visible_file
    from omnidata_etl_spark.session import ensure_tuned

    ensure_tuned(spark)
    first = first_visible_file(path)
    with open(first, "rb") as f:
        head = f.read(1 << 20)  # header is a small metadata map
    schema, _, _ = read_header(Decoder(head))
    spark_schema = spark_schema_for(schema)
    field_names = [f.name for f in spark_schema.fields]
    # struct columns arrive in pandas as dicts; Arrow handles the rest
    binary = spark.read.format("binaryFile").load(path)

    def _decode(batches):
        import pandas as pd

        for pdf in batches:
            for blob in pdf["content"]:
                data = bytes(blob)
                for _sch, names, n, bdec in iter_blocks(data):
                    rows = [
                        decode_value(_sch, bdec, names) for _ in range(n)
                    ]
                    if rows:
                        yield pd.DataFrame(
                            {c: [r.get(c) for r in rows] for c in field_names}
                        )

    return binary.select("content").mapInPandas(_decode, schema=spark_schema)


def avro_schema_for(struct, name: str = "spark_export") -> dict:
    """Spark StructType → Avro record schema (the reverse of
    spark_schema_for). Nullable fields become ["null", X] unions; nested
    record names derive from the field path (Avro named types must be
    unique per schema)."""
    from pyspark.sql import types as T

    def branch(dt, nullable, path):
        if isinstance(dt, T.StructType):
            base = {
                "type": "record",
                "name": f"{name}_{path}" if path else name,
                "fields": [
                    branch_field(f, f"{path}_{f.name}" if path else f.name)
                    for f in dt.fields
                ],
            }
        elif isinstance(dt, T.ArrayType):
            base = {
                "type": "array",
                "items": branch(dt.elementType, dt.containsNull, f"{path}_item"),
            }
        elif isinstance(dt, T.MapType):
            base = {
                "type": "map",
                "values": branch(dt.valueType, dt.valueContainsNull, f"{path}_value"),
            }
        elif isinstance(dt, T.DateType):
            base = {"type": "int", "logicalType": "date"}
        elif isinstance(dt, T.TimestampType):
            base = {"type": "long", "logicalType": "timestamp-micros"}
        elif isinstance(dt, T.DecimalType):
            base = {
                "type": "bytes",
                "logicalType": "decimal",
                "precision": dt.precision,
                "scale": dt.scale,
            }
        else:
            simple = {
                T.BooleanType: "boolean",
                T.ByteType: "int",
                T.ShortType: "int",
                T.IntegerType: "int",
                T.LongType: "long",
                T.FloatType: "float",
                T.DoubleType: "double",
                T.StringType: "string",
                T.BinaryType: "bytes",
            }
            for cls, avro_t in simple.items():
                if isinstance(dt, cls):
                    base = avro_t
                    break
            else:
                raise NotImplementedError(
                    f"avro writer: unsupported Spark type {dt.simpleString()}"
                )
        return ["null", base] if nullable else base

    def branch_field(f, path):
        return {"name": f.name, "type": branch(f.dataType, f.nullable, path)}

    return {
        "type": "record",
        "name": name,
        "fields": [branch_field(f, f.name) for f in struct.fields],
    }


def _to_py(v):
    """Arrow/pandas cell → the plain-Python value the encoder expects.
    NaN/NaT at the pandas boundary mean SQL NULL here (the standard
    pandas-interchange caveat: a true float NaN in a non-null column is
    indistinguishable and also becomes null)."""
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return None
    if isinstance(v, float) and v != v:
        return None
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, np.generic):
        return v.item()
    if isinstance(v, np.ndarray):
        return [_to_py(x) for x in v]
    if isinstance(v, (list, tuple)):
        return [_to_py(x) for x in v]
    if isinstance(v, dict):
        return {k: _to_py(x) for k, x in v.items()}
    return v


def write_avro_df(
    df,
    directory: str,
    codec: str = "deflate",
    records_per_block: int = 1000,
) -> list:
    """Distributed Avro sink: each task serializes its partition into one
    `part-NNNNN.avro` under `directory` (executor-side, no driver
    materialization) and emits a one-row manifest; returns the collected
    manifest [(path, records), ...]. At 100 TB this is the layout
    read_avro_df parallelizes over — many container files per directory,
    file count = write parallelism (repartition upstream to size them)."""
    import os

    os.makedirs(directory, exist_ok=True)
    schema = avro_schema_for(df.schema)
    cols = list(df.columns)

    def _write(batches):
        import pandas as pd
        from pyspark import TaskContext

        rows: list = []
        for pdf in batches:
            for tup in pdf.itertuples(index=False, name=None):
                rows.append({c: _to_py(v) for c, v in zip(cols, tup)})
        if rows:
            pid = TaskContext.get().partitionId()
            fname = f"part-{pid:05d}.avro"
            write_avro(
                os.path.join(directory, fname),
                schema,
                rows,
                codec=codec,
                records_per_block=records_per_block,
            )
            yield pd.DataFrame({"path": [fname], "records": [len(rows)]})

    manifest = df.mapInPandas(_write, schema="path string, records long")
    return [(r["path"], r["records"]) for r in manifest.collect()]
