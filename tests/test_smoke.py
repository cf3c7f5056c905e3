"""Smoke: the driver contract module loads, entry() returns rows, and every
rows-only query executes with a stable schema."""

from __future__ import annotations

import pytest

import __spark_entry__ as contract
from omnidata_etl_spark.registry import all_specs

_SPECS = all_specs()
_ROWS_ONLY = sorted(n for n, s in _SPECS.items() if s.oracle is None)


def test_entry_returns_rows(spark):
    df = contract.entry(spark)
    assert len(df.columns) > 0
    assert df.count() > 0


def test_contract_shape():
    qs = contract.queries()
    oracles = contract.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 40


@pytest.mark.parametrize("name", _ROWS_ONLY)
def test_rows_only_queries_run(spark, sf_dir, name):
    df = _SPECS[name].fn(spark, sf_dir)
    assert df.columns  # stable, non-empty schema
    assert df.count() >= 0


def test_mirror_parity(spark):
    """The layout mirror (catalog._splittable_path) must be value-invisible.

    Forces a mirror of the largest sf0.01 table and checks the mirrored scan
    is row- and value-identical to a direct scan of the original file, and
    actually splittable (>1 row group)."""
    import pyarrow.parquet as pq

    from omnidata_etl_spark import catalog

    sf = "/root/testdata/sf0.01"
    path, n_splits = catalog._splittable_path(sf, "lineitem")
    assert path != f"{sf}/lineitem.parquet", "60k-row table should mirror"
    assert pq.ParquetFile(path).metadata.num_row_groups > 1
    assert n_splits > 1
    mirrored = spark.read.parquet(path)
    direct = spark.read.parquet(f"{sf}/lineitem.parquet")
    assert mirrored.schema == direct.schema
    assert mirrored.count() == direct.count()
    # order-independent full-content fingerprint
    from pyspark.sql import functions as F

    def fp(df):
        cols = [F.col(c).cast("string") for c in df.columns]
        return df.select(
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]

    assert fp(mirrored) == fp(direct)


def _jobs_in_group(spark, group: str, fn):
    """``fn()``'s value and the number of Spark jobs it ran, counted in a
    job group of its own."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        value = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store is async
    return value, len(sc.statusTracker().getJobIdsForGroup(group))


def _assert_footer_schema_matches_inference(spark, path: str) -> None:
    """`catalog.parquet_schema` reads ``path``'s footer without a Spark job,
    and a scan opened with it has the schema Spark's own inference gives."""
    from omnidata_etl_spark.catalog import parquet_schema

    schema, jobs = _jobs_in_group(
        spark, f"footer-schema-{path}", lambda: parquet_schema(spark, path)
    )
    assert jobs == 0, f"{path}: the footer read fell back to a Spark job"
    inferred = spark.read.parquet(path).schema
    assert spark.read.schema(schema).parquet(path).schema == inferred, path


_SCALES = [f"/root/testdata/sf{s}" for s in ("0.001", "0.01", "0.1")]


@pytest.mark.parametrize("sf", _SCALES)
def test_parquet_schema_matches_inference_on_catalog_tables(spark, sf):
    """Every catalog table, at the path the catalog scans (the layout
    mirror where one exists), opens from its footer with Spark's schema."""
    from omnidata_etl_spark import catalog

    for name in catalog.TABLES:
        path, _ = catalog._splittable_path(sf, name)
        _assert_footer_schema_matches_inference(spark, path)


def test_parquet_schema_matches_inference_on_edge_files(spark, sf_dir, tmp_path):
    """Physical types whose Spark mapping depends on the session conf or on
    footer metadata: ns timestamps (`bigint` under `nanosAsLong`), tz-aware
    µs and naive ms timestamps, INT96, unsigned ints, decimal, date, binary
    and nested types; zero-row copies of every catalog table; and a
    Spark-written part file, whose footer carries Spark's row-metadata key
    (field metadata included)."""
    import datetime as dt
    import glob
    from decimal import Decimal

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from omnidata_etl_spark import catalog
    from omnidata_etl_spark.catalog import parquet_schema

    ts = [dt.datetime(2024, 1, 2, 3, 4, 5, 123456), None]
    tbl = pa.table({
        "ts_ns": pa.array(ts, pa.timestamp("ns")),
        "ts_us_utc": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "ts_ms": pa.array(ts, pa.timestamp("ms")),
        "u32": pa.array([1, 4_000_000_000], pa.uint32()),
        "dec": pa.array([Decimal("1.25"), None], pa.decimal128(12, 2)),
        "day": pa.array([dt.date(2024, 1, 2), None], pa.date32()),
        "raw": pa.array([b"\x00\xff", None], pa.binary()),
        "st": pa.array([{"a": 1, "b": "x"}, None],
                       pa.struct([("a", pa.int64()), ("b", pa.string())])),
        "mp": pa.array([[("k", 1)], None], pa.map_(pa.string(), pa.int32())),
        "ls": pa.array([[1.5, 2.5], []], pa.list_(pa.float64())),
    })
    typed = str(tmp_path / "typed.parquet")
    pq.write_table(tbl, typed, version="2.6")
    int96 = str(tmp_path / "int96.parquet")
    pq.write_table(
        pa.table({"ts": pa.array(ts, pa.timestamp("us"))}), int96,
        use_deprecated_int96_timestamps=True,
    )
    paths = [typed, int96]
    for name in catalog.TABLES:  # zero rows, the catalog's own schemas
        empty = str(tmp_path / f"empty_{name}.parquet")
        src = catalog.parquet_path(sf_dir, name)
        pq.write_table(pq.read_table(src).slice(0, 0), empty, version="2.6")
        paths.append(empty)
    spark.range(3).select(
        F.col("id").alias("id", metadata={"comment": "row id"}),
        F.col("id").cast("string").alias("s"),
    ).coalesce(1).write.parquet(str(tmp_path / "spark_out"))
    (part,) = glob.glob(str(tmp_path / "spark_out" / "part-*.parquet"))
    meta = pq.ParquetFile(part).metadata.metadata
    assert b"org.apache.spark.sql.parquet.row.metadata" in meta
    paths.append(part)

    for path in paths:
        _assert_footer_schema_matches_inference(spark, path)
    assert parquet_schema(spark, typed)["ts_ns"].dataType.simpleString() == "bigint"
    assert parquet_schema(spark, part)["id"].metadata == {"comment": "row id"}


@pytest.mark.parametrize("sf", [_SCALES[0], _SCALES[2]])
def test_opening_the_catalog_runs_no_spark_job(spark, sf, monkeypatch):
    """A fresh session memo opens every catalog table from its footer: no
    schema-inference job, mirrors included (sf0.1 mirrors four tables)."""
    from omnidata_etl_spark import catalog

    monkeypatch.setattr(spark, "_omnidata_memo", {}, raising=False)
    for name in catalog.TABLES:  # build any missing mirror outside the count
        catalog._splittable_path(sf, name)
    frames, jobs = _jobs_in_group(
        spark, f"open-catalog-{sf}", lambda: catalog.load_tables(spark, sf)
    )
    assert set(frames) == set(catalog.TABLES)
    assert jobs == 0


def test_read_any_opens_a_parquet_file_without_a_job(spark, sf_dir, tmp_path):
    """`read_any` on a regular parquet file takes the footer path too."""
    import shutil

    from omnidata_etl_spark.catalog import parquet_path
    from omnidata_etl_spark.ingest import read_any

    path = str(tmp_path / "orders.parquet")
    shutil.copy(parquet_path(sf_dir, "orders"), path)
    df, jobs = _jobs_in_group(
        spark, "read-any-parquet", lambda: read_any(spark, path)
    )
    assert jobs == 0
    assert df.schema == spark.read.parquet(path).schema


def test_local_df_handles_parameterized_types(spark):
    """local_df's top-level schema split must survive nested commas in
    parameterized types (decimal(18,2), array<struct<...>>) — a bare
    split-on-comma shredded the column-name list (r3 review fix)."""
    from decimal import Decimal

    from omnidata_etl_spark.queries._util import local_df

    df = local_df(
        spark,
        [(1, Decimal("2.50"), [3, 4])],
        "a bigint, b decimal(18,2), c array<bigint>",
    )
    row = df.collect()[0]
    assert row["a"] == 1
    assert row["b"] == Decimal("2.50")
    assert list(row["c"]) == [3, 4]
    assert df.columns == ["a", "b", "c"]


def test_catalog_sizes_advisory_from_input(spark, sf_dir):
    """The catalog sizer derives the AQE advisory partition bytes from
    input stats: at bench scale it must land on the 1MB floor (so small
    shuffles still fan out across cores), and the shuffle partition count
    on the core floor."""
    from omnidata_etl_spark.catalog import table
    from omnidata_etl_spark.session import default_parallelism

    table(spark, sf_dir, "lineitem")  # triggers the sizer
    adv = int(spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    assert adv == 1 << 20  # sf<=0.1 inputs sit on the floor
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == (
        default_parallelism()
    )

