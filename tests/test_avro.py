"""Avro OCF reader/writer (ingest/avro.py) — clean-room spec conformance.

Strategy mirrors tests/test_codecs.py: roundtrip every supported type
family through the writer+reader pair, pin hand-built byte sequences for
the encoding primitives (so a self-consistent encoder/decoder bug pair
cannot fake a pass), and drive the distributed read path end-to-end.
"""

from __future__ import annotations

import datetime
import struct
from decimal import Decimal

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from omnidata_etl_spark.ingest.avro import (
    Decoder,
    Encoder,
    read_avro,
    read_records,
    write_avro,
)


def test_zigzag_pinned_bytes():
    """Spec examples: 0→00, -1→01, 1→02, -2→03, 2→04; 64→80 01."""
    cases = {0: b"\x00", -1: b"\x01", 1: b"\x02", -2: b"\x03",
             2: b"\x04", 64: b"\x80\x01", -64: b"\x7f"}
    for v, b in cases.items():
        e = Encoder()
        e.write_long(v)
        assert e.getvalue() == b, v
        assert Decoder(b).read_long() == v


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
def test_zigzag_roundtrip_int64(v):
    e = Encoder()
    e.write_long(v)
    assert Decoder(e.getvalue()).read_long() == v


def test_float_double_little_endian():
    e = Encoder()
    e.write(struct.pack("<f", 1.5))
    assert Decoder(e.getvalue()).read_float() == 1.5


SCHEMA_ALL = {
    "type": "record",
    "name": "everything",
    "fields": [
        {"name": "b", "type": "boolean"},
        {"name": "i", "type": "int"},
        {"name": "l", "type": "long"},
        {"name": "f", "type": "float"},
        {"name": "d", "type": "double"},
        {"name": "s", "type": "string"},
        {"name": "by", "type": "bytes"},
        {"name": "u", "type": ["null", "string"]},
        {"name": "arr", "type": {"type": "array", "items": "long"}},
        {"name": "m", "type": {"type": "map", "values": "double"}},
        {"name": "e", "type": {"type": "enum", "name": "color",
                               "symbols": ["RED", "GREEN", "BLUE"]}},
        {"name": "fx", "type": {"type": "fixed", "name": "f8", "size": 8}},
        {"name": "dt", "type": {"type": "int", "logicalType": "date"}},
        {"name": "ts", "type": {"type": "long",
                                "logicalType": "timestamp-micros"}},
        {"name": "dec", "type": {"type": "bytes", "logicalType": "decimal",
                                 "precision": 18, "scale": 2}},
        {"name": "nested", "type": {
            "type": "record", "name": "inner",
            "fields": [{"name": "x", "type": "long"},
                       {"name": "tags",
                        "type": {"type": "array", "items": "string"}}],
        }},
    ],
}


def _rec(i: int) -> dict:
    return {
        "b": i % 2 == 0,
        "i": i - 3,
        "l": (i - 3) * 10**12,
        "f": float(i),
        "d": i * 0.125,
        "s": f"ünïcode-{i}",
        "by": bytes([i]) * 3,
        "u": None if i % 3 == 0 else f"u{i}",
        "arr": list(range(i)),
        "m": {f"k{j}": j * 0.5 for j in range(i % 4)},
        "e": ["RED", "GREEN", "BLUE"][i % 3],
        "fx": bytes([i]) * 8,
        "dt": datetime.date(2024, 1, 1) + datetime.timedelta(days=i),
        "ts": datetime.datetime(2024, 1, 1, 10, 0, 0, 123456)
        + datetime.timedelta(hours=i),
        "dec": Decimal(i * 7) / Decimal(100) - Decimal("1.50"),
        "nested": {"x": i, "tags": [f"t{i}", "z"]},
    }


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_roundtrip_all_types(tmp_path, codec):
    recs = [_rec(i) for i in range(7)]
    p = str(tmp_path / f"all_{codec}.avro")
    write_avro(p, SCHEMA_ALL, recs, codec=codec, records_per_block=3)
    schema, got = read_avro(p)
    assert schema["name"] == "everything"
    assert got == recs


def test_multi_block_and_negative_decimal(tmp_path):
    recs = [_rec(i) for i in range(25)]
    p = str(tmp_path / "blocks.avro")
    write_avro(p, SCHEMA_ALL, recs, records_per_block=4)
    _, got = read_avro(p)
    assert got == recs
    assert got[0]["dec"] == Decimal("-1.50")  # signed big-endian unscaled


def test_bad_magic_and_unsupported_codec(tmp_path):
    with pytest.raises(ValueError, match="bad magic"):
        read_records(b"PAR1not-avro-bytes")
    p = str(tmp_path / "x.avro")
    write_avro(p, SCHEMA_ALL, [_rec(1)], codec="null")
    # metadata entry is key "avro.codec" + varint len 4 (zigzag 0x08) + value
    data = open(p, "rb").read().replace(
        b"avro.codec\x08null", b"avro.codec\x08zstd", 1
    )
    with pytest.raises(NotImplementedError, match="codec 'zstd'"):
        read_records(data)


def test_truncated_block_raises(tmp_path):
    p = str(tmp_path / "t.avro")
    write_avro(p, SCHEMA_ALL, [_rec(2), _rec(3)])
    data = open(p, "rb").read()
    with pytest.raises((EOFError, ValueError)):
        read_records(data[:-10])


def test_sync_marker_mismatch(tmp_path):
    p = str(tmp_path / "s.avro")
    write_avro(p, SCHEMA_ALL, [_rec(1)] * 5, records_per_block=2)
    data = bytearray(open(p, "rb").read())
    data[-1] ^= 0xFF  # corrupt the trailing sync
    with pytest.raises(ValueError, match="sync marker"):
        read_records(bytes(data))


def test_deterministic_fixture_bytes(tmp_path):
    a, b = str(tmp_path / "a.avro"), str(tmp_path / "b.avro")
    recs = [_rec(i) for i in range(4)]
    write_avro(a, SCHEMA_ALL, recs, codec="deflate")
    write_avro(b, SCHEMA_ALL, recs, codec="deflate")
    assert open(a, "rb").read() == open(b, "rb").read()


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(2**62), max_value=2**62),
            st.text(max_size=20),
            st.one_of(st.none(), st.floats(allow_nan=False,
                                           allow_infinity=False)),
        ),
        max_size=30,
    )
)
def test_property_roundtrip_simple(rows):
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "t", "type": "string"},
            {"name": "v", "type": ["null", "double"]},
        ],
    }
    recs = [{"a": a, "t": t, "v": v} for a, t, v in rows]
    import io as _io
    import os
    import tempfile

    fd, p = tempfile.mkstemp(suffix=".avro")
    os.close(fd)
    try:
        write_avro(p, schema, recs, codec="deflate", records_per_block=7)
        _, got = read_avro(p)
        assert got == recs
    finally:
        os.unlink(p)


# --- distributed read path -------------------------------------------------


def test_read_avro_df_typed(spark, tmp_path):
    """Schema mapping + executor-side decode: types arrive as real Spark
    types (LongType/TimestampType/ArrayType/nested struct), not strings."""
    recs = [_rec(i) for i in range(6)]
    p = str(tmp_path / "typed.avro")
    write_avro(p, SCHEMA_ALL, recs, codec="deflate", records_per_block=2)
    from omnidata_etl_spark.ingest.avro import read_avro_df

    df = read_avro_df(spark, p)
    dt = dict(df.dtypes)
    assert dt["l"] == "bigint"
    assert dt["ts"] == "timestamp"
    assert dt["dt"] == "date"
    assert dt["arr"] == "array<bigint>"
    assert dt["dec"] == "decimal(18,2)"
    assert dt["nested"].startswith("struct<x:bigint")
    rows = df.orderBy("i").collect()
    assert len(rows) == 6
    assert rows[0]["s"] == "ünïcode-0"
    assert rows[0]["u"] is None  # union null branch
    assert rows[1]["nested"]["tags"] == ["t1", "z"]
    assert rows[2]["dec"] == Decimal("-1.36")


def test_read_avro_df_directory_parallel(spark, tmp_path):
    """Directory layout: one file per task, union of all records."""
    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "a", "type": "long"}],
    }
    d = tmp_path / "many"
    d.mkdir()
    for i in range(3):
        write_avro(
            str(d / f"part-{i}.avro"),
            schema,
            [{"a": i * 10 + j} for j in range(5)],
        )
    from omnidata_etl_spark.ingest.avro import read_avro_df

    df = read_avro_df(spark, str(d))
    got = sorted(r["a"] for r in df.collect())
    assert got == sorted(i * 10 + j for i in range(3) for j in range(5))
    # decode is distributed: the plan carries mapInPandas over binaryFile,
    # no driver-side materialization
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan


def test_read_avro_df_batch_invariant(spark, tmp_path):
    """The decode's mapInPandas input is one row per file: with every file
    of a directory in one partition, 7-row Arrow batches split the files
    over several batches, and the decoded rows must equal the default
    single-batch run."""
    from omnidata_etl_spark.ingest.avro import read_avro_df

    d = tmp_path / "batches"
    d.mkdir()
    for k in range(30):  # 30 files of 3 records, 2-record blocks
        write_avro(
            str(d / f"part-{k:02d}.avro"),
            SCHEMA_ALL,
            [_rec(3 * k + j) for j in range(3)],
            records_per_block=2,
        )
    confs = {  # pack all 30 files into one scan partition
        "spark.sql.files.openCostInBytes": "1",
        "spark.sql.files.minPartitionNum": "1",
    }
    batch = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = {k: spark.conf.get(k, None) for k in [*confs, batch]}

    def rows():
        df = read_avro_df(spark, str(d))
        assert df.rdd.getNumPartitions() == 1
        return sorted(df.collect(), key=lambda r: r["i"])

    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        full = rows()
        spark.conf.set(batch, "7")
        tiny = rows()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert len(full) == 90
    assert tiny == full


def test_read_any_dispatches_avro(spark, tmp_path):
    from omnidata_etl_spark.ingest.readers import read_any

    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "a", "type": "long"}],
    }
    p = str(tmp_path / "x.avro")
    write_avro(p, schema, [{"a": 1}, {"a": 2}])
    assert sorted(r["a"] for r in read_any(spark, p).collect()) == [1, 2]


def test_write_avro_df_roundtrip_partitioned(spark, tmp_path):
    """Distributed sink: multi-partition write → one container per task,
    read-back equals the source including nulls and timestamps."""
    import pandas as pd

    from omnidata_etl_spark.ingest.avro import read_avro_df, write_avro_df

    src = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": list(range(20)),
                "name": [None if i % 7 == 0 else f"n{i}" for i in range(20)],
                "score": [i * 0.5 for i in range(20)],
            }
        )
    ).repartition(4)
    out = str(tmp_path / "sinkdir")
    manifest = write_avro_df(src, out, codec="deflate")
    assert sum(n for _, n in manifest) == 20
    assert 1 <= len(manifest) <= 4  # one file per non-empty task
    back = read_avro_df(spark, out)
    got = sorted((r["k"], r["name"], r["score"]) for r in back.collect())
    want = sorted((r["k"], r["name"], r["score"]) for r in src.collect())
    assert got == want


def test_sink_avro_roundtrip_query_oracle(spark):
    """Registry entry vs its oracle — nation through the avro sink+source
    equals DuckDB on the original parquet."""
    import duckdb

    from omnidata_etl_spark.queries.scans import sink_avro_roundtrip

    sf = "/root/testdata/sf0.001"
    df = sink_avro_roundtrip(spark, sf)
    got = sorted(tuple(r) for r in df.collect())
    want = sorted(
        tuple(r)
        for r in duckdb.sql(
            f"SELECT * FROM read_parquet('{sf}/nation.parquet')"
        ).fetchall()
    )
    assert got == want
    assert dict(df.dtypes)["n_nationkey"] == "int"


def test_ingest_avro_query_matches_oracle(spark):
    """The registry entry against its own pinned-VALUES oracle via DuckDB —
    the same comparison the driver runs."""
    import duckdb

    from omnidata_etl_spark.queries.scans import (
        _people_avro_values_sql,
        ingest_avro,
    )

    df = ingest_avro(spark, "/root/testdata/sf0.001")
    spark_rows = sorted(
        (
            r["person_id"],
            r["full_name"],
            r["balance"],
            r["signup_ts"].strftime("%Y-%m-%d %H:%M:%S"),
            r["active"],
            r["notes"],
        )
        for r in df.collect()
    )
    duck = sorted(
        (
            r[0],
            r[1],
            r[2],
            r[3].strftime("%Y-%m-%d %H:%M:%S"),
            r[4],
            r[5],
        )
        for r in duckdb.sql(_people_avro_values_sql()).fetchall()
    )
    assert spark_rows == duck
    assert spark_rows[2][5] is None  # the planted union-null row


def test_read_avro_df_schema_evolution(spark, tmp_path):
    """Mixed writer schemas in one directory — the Avro evolution
    contract: the reader schema (taken from the lexically-first file)
    projects every file; fields ADDED by later writers are dropped,
    fields MISSING from older writers read as NULL. Mirrors
    ingest_schema_evolution's parquet semantics."""
    d = tmp_path / "evo"
    d.mkdir()
    v1 = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "note", "type": ["null", "string"]},
        ],
    }
    v0 = {  # older writer: no `note`
        "type": "record",
        "name": "r",
        "fields": [{"name": "a", "type": "long"}],
    }
    v2 = {  # newer writer: extra field the reader doesn't know
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "note", "type": ["null", "string"]},
            {"name": "extra", "type": "long"},
        ],
    }
    write_avro(str(d / "a_reader.avro"), v1, [{"a": 1, "note": "n1"}])
    write_avro(str(d / "b_old.avro"), v0, [{"a": 2}])
    write_avro(
        str(d / "c_new.avro"), v2, [{"a": 3, "note": None, "extra": 9}]
    )
    from omnidata_etl_spark.ingest.avro import read_avro_df

    df = read_avro_df(spark, str(d))
    assert set(df.columns) == {"a", "note"}
    got = {r["a"]: r["note"] for r in df.collect()}
    assert got == {1: "n1", 2: None, 3: None}
