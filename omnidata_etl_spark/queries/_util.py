"""Determinism helpers shared by the declared queries.

Float hash-parity with DuckDB is the #1 risk (SURVEY.md §7.3). Rules applied
throughout:

  * Money aggregates: cast each row's expression to DECIMAL(18,2) *before*
    SUM. Decimal addition is exact, so the result is independent of Spark's
    (and DuckDB's) partition/summation order; a double SUM would not be.
    The final value is cast to DOUBLE on both sides (a decimal with scale 2
    converts to the same double bit pattern everywhere).
  * Averages: exact decimal SUM cast to double, divided by COUNT in double —
    identical double division on identical inputs on both engines. Never
    AVG(decimal) (Spark yields decimal(.,6), DuckDB yields double: different
    rounding points).
  * Raw column values (no arithmetic) pass through untouched — bit-identical
    in parquet on both engines.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from omnidata_etl_spark.session import default_parallelism, release_cached_reads

DEC = "decimal(18,2)"


def local_df(spark, rows, schema: str) -> DataFrame:
    """Small driver-side result set as an Arrow-backed local DataFrame.

    ``spark.createDataFrame(list_of_tuples)`` ships rows through RDD
    parallelize + per-row pickling and every later materialization pays a
    full job over those partitions — measured ~290ms per toPandas() for a
    ONE-ROW frame (r3 profiling). Routing the same rows through a pandas
    frame takes the Arrow fast path into a LocalRelation (~40ms), a plain
    local scan with no job. Self-check/summary queries that end in a tiny
    driver-built result use this instead of createDataFrame(list).

    ``schema`` is the usual DDL string; Spark casts/validates against it
    exactly as in the list form. Empty ``rows`` falls back to the plain
    path (Arrow conversion of a columnless pandas frame is finicky).
    """
    if not rows or any(v is None for row in rows for v in row):
        # Empty rows: Arrow conversion of a columnless pandas frame is
        # finicky. None cells: pandas would coerce a numeric column with
        # None to float64 NaN, which errors (or silently changes
        # semantics) against a long-typed schema column, while the list
        # path yields a clean NULL — so fall back whenever a None appears
        # (r3 ADVICE; these frames are tiny, the slow path is fine).
        return spark.createDataFrame(rows, schema)
    import pandas as pd

    # top-level comma split: parameterized types (decimal(18,2),
    # array<struct<...>>) carry nested commas a bare split would shred
    names, depth, start = [], 0, 0
    for i, ch in enumerate(schema + ","):
        if ch in "(<":
            depth += 1
        elif ch in ")>":
            depth -= 1
        elif ch == "," and depth == 0:
            names.append(schema[start:i].strip().split()[0])
            start = i + 1
    return spark.createDataFrame(
        pd.DataFrame(list(rows), columns=names), schema
    )


def spread(df: DataFrame) -> DataFrame:
    """Fan a too-narrow scan out to all cores before CPU-heavy per-row work.

    The local testdata tables are single-file / single-row-group parquet, so
    a scan yields ONE input partition and expression-heavy map stages
    (shingle hashing, per-token explodes) run on one core of 32 (measured:
    text_decontaminate 1.95s → 0.9s at sf0.1 with this). The round-robin
    repartition moves the small input bytes once and buys full parallelism
    for the expensive stage. Conditional on observed scan parallelism: on a
    real multi-file corpus the scan is already wide and this is a no-op plan
    (no shuffle inserted) — AQE cannot do this adaptively because it only
    coalesces shuffle outputs, never splits a too-coarse scan, and a
    single-row-group file is unsplittable by maxPartitionBytes.

    The width probe is metadata-only: catalog.table() stamps the frame with
    the parquet split-count estimate (`_omnidata_splits`); the fallback is
    `inputFiles()` (file listing, no job). Never `df.rdd.getNumPartitions()`
    — that materializes an RDD lineage through py4j on every query build
    (r2 ADVICE: a measurable slice of the per-query overhead floor).
    """
    target = default_parallelism()
    splits = getattr(df, "_omnidata_splits", None)
    if splits is None:
        try:
            splits = len(df.inputFiles())
        except Exception:
            splits = 1
    if splits >= target:
        return df
    return df.repartition(target)


# Largest plan-time input size (optimized-plan `sizeInBytes`) that a global
# rank sorts in one task. Measured with typed CSV loads on a 4-core host,
# each path forced, medians of 3: the range path costs ~1.0 s even at 3 MB
# (its job floor), while one task takes ~0.5 s at 3 MB, ~1.1 s at 12.5 MB
# and breaks even with the parallel path at 25-37 MB. Up to 8 MB one task
# beats that floor, which is job scheduling, not data work, so more cores
# should not lower it (not measured). The bound deliberately ignores
# session conf: the AQE advisory size changes when catalog reads resize it.
ONE_TASK_MAX_BYTES = 8 << 20


def fits_one_task(df: DataFrame) -> bool:
    """Plan-time size of `df` at most ONE_TASK_MAX_BYTES. Below it, one
    task's scan + sort costs less than the range path's extra jobs. The
    range path itself is parallel (explicit `default_parallelism()` range
    partitions, which AQE does not coalesce), so this trades its
    parallelism for fewer jobs."""
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return int(str(size)) <= ONE_TASK_MAX_BYTES


def range_numbered(df: DataFrame, order_cols: list[str]) -> DataFrame:
    """`df` in global `order_cols` order, numbered without a global Window:
    a row's 1-based rank is `offset(_sk_pid) + _sk_rn`, where `_sk_pid` is
    its partition and `_sk_rn` its 1-based position inside it (the offset
    is :func:`rank_offset` over per-partition counts).

    An input that `fits_one_task` is coalesced to one partition (no
    shuffle: the upstream scan and projections run in that task), so
    `_sk_pid` is 0, `_sk_rn` is the rank itself, and a later
    `groupBy("_sk_pid")` or unpartitioned Window needs no exchange. A
    larger input is range-partitioned on `order_cols` into
    `default_parallelism()` partitions, so partition i's keys all sort
    before partition i+1's and the local sorts run in parallel. For a
    unique ordering key the rank equals `row_number() OVER (ORDER BY
    order_cols)` wherever the range boundaries fall."""
    if fits_one_task(df):
        parts = df.coalesce(1)
    else:
        parts = df.repartitionByRange(default_parallelism(), *order_cols)
    # The local row number WITHOUT a Window: Window.partitionBy(pid) would
    # demand hashpartitioning(pid), a second full-data shuffle Catalyst
    # can't elide. monotonically_increasing_id() is documented (its API doc
    # and source) as the partition id in the upper bits and the
    # consecutive-from-0 record number within the partition in the low 33
    # bits; masked, it IS the local row number over the sorted stream (the
    # id is tagged nondeterministic, so Catalyst never moves it below the
    # sort).
    return (
        parts.sortWithinPartitions(*order_cols)
        .withColumn("_sk_pid", F.spark_partition_id())
        .withColumn(
            "_sk_rn",
            F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
            + 1,
        )
    )


def rank_offset() -> Column:
    """Rows in the partitions before this one, over a frame of one row per
    `_sk_pid` with its row count `cnt` (see :func:`range_numbered`). The
    unpartitioned prefix-sum Window is bounded by the partition count, not
    the row count."""
    return F.coalesce(
        F.sum("cnt").over(
            Window.orderBy("_sk_pid").rowsBetween(
                Window.unboundedPreceding, -1
            )
        ),
        F.lit(0).cast("long"),
    )


def map_rows(df: DataFrame, fn, schema) -> DataFrame:
    """Run a per-row Python function over ``df`` through ``mapInArrow``.

    ``fn`` takes one input row's values in ``df.columns`` order and yields
    output tuples in ``schema`` order — zero, one or many per input row.
    ``schema`` (DDL string or StructType) is parsed once, on the driver,
    and is the only place the output types are declared: the Arrow schema
    the batches are built to is derived from it. The batch loop is
    :func:`rows_to_batches`."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    return df.mapInArrow(
        functools.partial(
            rows_to_batches, fn=fn, schema=to_arrow_schema(schema)
        ),
        schema,
    )


def rows_to_batches(batches, fn, schema):
    """The worker side of :func:`map_rows`: per input Arrow batch, feed each
    row's values to ``fn`` and transpose the tuples it yields into one
    output batch typed by the Arrow ``schema`` (an empty input batch gives
    an empty output batch of the same types)."""
    import pyarrow as pa

    for b in batches:
        rows = [
            out
            for row in zip(*(c.to_pylist() for c in b.columns))
            for out in fn(*row)
        ]
        cols = list(zip(*rows)) if rows else [()] * len(schema)
        yield pa.RecordBatch.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
            schema=schema,
        )


def dec2(col: str | Column) -> Column:
    """Exact decimal view of a 2dp-generated money column.

    Only ever applied to RAW columns whose generated values are exact 2dp
    decimals (l_extendedprice, l_discount, o_totalprice, events.value, ...):
    for those the nearest-double is within 1e-13 of the true decimal, so both
    engines land on the same DECIMAL regardless of their double→decimal
    rounding mode. Never cast a *computed* double to decimal — the two
    engines disagree on half-cent boundaries (observed on sum_disc_price).
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


def dsum(expr: Column) -> Column:
    """Order-independent money sum: SUM(CAST(expr AS DECIMAL(18,2)))::DOUBLE.

    Safe only when `expr` is a raw 2dp column (see dec2). For derived money
    expressions, build the expression from dec2() inputs so the arithmetic
    itself is decimal, then F.sum(...).cast('double') directly.
    """
    return F.sum(expr.cast(DEC)).cast("double")


def cents(col: str | Column, scale: int = 2) -> Column:
    """Exact scaled-integer (units of 10^-scale) view of a raw 2dp column.

    The int64 fast path for money aggregation — the same representation
    DuckDB uses internally for DECIMAL (int64-scaled), re-created on Spark:
    `round(x*100)::long` recovers the exact generated 2dp value from its
    nearest-double (HALF_UP absorbs the ≤1e-13 double error, see dec2), and
    long addition stays inside whole-stage codegen's primitive loop, where
    decimal sums promote to a BigDecimal-backed buffer (sum(decimal(18,2))
    → decimal(28,2) > Decimal.MAX_LONG_DIGITS). Measured on the sf0.1
    pricing summary: 886ms (decimal) → 434ms (cents) fresh-built.

    Exactness at scale: int64 overflows past ~9e9 rows/group at max-price
    cents products; under ANSI that RAISES (fail-safe), and groups that
    large should use the decimal path (dsum) instead. Cross-engine
    bit-parity of the final double holds while the group total stays under
    2^53 units (the driver's sf0.01 check is ~3 orders of magnitude below
    that); past it, both paths remain correctly-rounded-to-1-ulp doubles.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * (10**scale)).cast("long")


def csum(col: str | Column) -> Column:
    """Order-independent money sum on the int64 fast path → DOUBLE.

    Value-identical to dsum (both emit the correctly-rounded double of the
    same exact total — parity asserted against the unchanged DECIMAL oracle
    SQL in tests/test_parity.py and scripts/verify_driver.py)."""
    return F.sum(cents(col)) / F.lit(100.0)


def rev_units(price: str | Column = "l_extendedprice",
              disc: str | Column = "l_discount") -> Column:
    """Per-row revenue price*(1-disc) as exact int64 units of 1e-4.

    Building block for the TPC-H revenue sums: SUM(rev_units())/1e4 equals
    SUM(DECIMAL(18,2)price * (1-DECIMAL(18,2)disc))::DOUBLE exactly (same
    rational total, one correctly-rounded double conversion each)."""
    return cents(price) * (100 - cents(disc))


def crevsum(price: str | Column = "l_extendedprice",
            disc: str | Column = "l_discount") -> Column:
    """SUM(price*(1-disc)) on the int64 fast path → DOUBLE (see rev_units)."""
    return F.sum(rev_units(price, disc)) / F.lit(10000.0)


def memo_pin(df: DataFrame) -> DataFrame:
    """Materialize a small derived frame once, OUTSIDE the SQL cache
    manager, and release the SQL-cache entries it read.

    ``localCheckpoint(eager=True)`` writes the frame into block-manager
    storage that ``spark.catalog.clearCache()`` cannot evict. Persist-backed
    memo frames were silently un-cached by long-lived-session housekeeping
    (bench.py between-pass clearCache), and every later pass re-ran the full
    build (r10: audio-fingerprint 2.06 s benched vs 1.10 s measured).

    Once the pin holds the rows, nothing reads the frames its build
    persisted, so ``session.release_cached_reads`` uncaches every entry
    the frame read except those a ``session_memo`` value owns (an
    intermediate that another build shares, such as the n=5 shingle sets).

    Cluster safety (r10 ADVICE): localCheckpoint blocks are UNREPLICATED
    and truncate lineage: on executor loss every later consumer action
    fails, with no recompute path. That trade is only sound where block
    loss implies the whole app died, i.e. a local[*] master. On any
    non-local master this falls back to persist(MEMORY_AND_DISK): the
    frame stays lineage-backed (recomputable on block loss), and
    `session.session_memo` re-persists it on a hit after an eviction."""
    spark = df.sparkSession
    master = spark.conf.get("spark.master", "")
    if not master.startswith("local"):
        from pyspark import StorageLevel

        out = df.persist(StorageLevel.MEMORY_AND_DISK)
        out.count()
    else:
        out = df.localCheckpoint(eager=True)
    release_cached_reads(df)
    return out
