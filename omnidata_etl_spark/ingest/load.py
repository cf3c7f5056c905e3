"""The `load` verb: projection → typed cast → surrogate key → atomic sink.

Mirrors the reference's save flow (SURVEY.md §3.2): column selection
(backend/index.js:167,:223), type mapping (:167-171), smart-id injection
(:174-182), exists-check → error (:153-160), transactional batched insert
(:186-236,:249-273). Empty→NULL and the user casts are one projection.

Surrogate key: the rows are numbered by `queries/_util.range_numbered`,
whose path follows the engine's one size rule (`_util.fits_one_task`): an
input whose plan-time size is at most `_util.ONE_TASK_MAX_BYTES` (8 MB) is
read, sorted and numbered in ONE task — one Spark job. A larger input is
range-partitioned into `default_parallelism()` tasks with parallel local
sorts, and its per-partition offsets are broadcast back: more jobs, but the
scan, parse, casts and sort run in parallel. Both paths give the same dense
1..N ids for a unique ordering key.

Atomicity: Spark has no cross-partition transaction (SURVEY.md §7.3 #3), so
the sink stages the whole write into a hidden directory and atomically
renames it into place — all-or-nothing like the reference's single
BEGIN/COMMIT, with the semantic difference documented here: concurrent
readers see old-or-new, never partial; concurrent *writers* are not
serialized by the engine.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from omnidata_etl_spark.ingest.readers import empty_to_null
from omnidata_etl_spark.queries._util import (
    fits_one_task,
    range_numbered,
    rank_offset,
)
from omnidata_etl_spark.session import release_cached_reads


class TableExistsError(RuntimeError):
    """Target exists and mode='error' (reference HTTP 409, R13)."""


def sanitize_identifier(name: str) -> str:
    """Strip [^a-zA-Z0-9_] and lowercase (backend/index.js:146)."""
    return re.sub(r"[^a-zA-Z0-9_]", "", name or "").lower()


def has_id_column(df: DataFrame) -> bool:
    return any(c.lower() == "id" for c in df.columns)


def _guarded_id(pos: str, as_long: bool) -> Column:
    """`id` from the 1-based LONG position expression `pos`.

    Arithmetic stays in LONG; the default int cast is guarded with an
    explicit, actionable error: a >2^31-row load must not wrap (or die in
    an opaque ANSI overflow) — SERIAL parity caps at INT_MAX by design, and
    bigger loads opt into BIGSERIAL via as_long (r5 ADVICE on the
    silent-wrap hazard)."""
    if as_long:
        return F.expr(pos).alias("id")
    return F.expr(
        f"CASE WHEN {pos} > 2147483647 THEN "
        "raise_error('surrogate_key: row number exceeds INT_MAX "
        "(SERIAL parity); use BIGSERIAL semantics upstream for "
        ">2.1B-row loads') "
        f"ELSE cast({pos} AS INT) END"
    ).alias("id")


def add_surrogate_key(
    df: DataFrame,
    order_by: list[str] | None = None,
    as_long: bool = False,
) -> DataFrame:
    """Inject a dense 1..N `id` iff no case-insensitive `id` exists (R12,
    reference `backend/index.js:174-182` — `id SERIAL` when absent).

    The rows are numbered by `_util.range_numbered`, so the path follows
    the engine's one size rule, `_util.fits_one_task` (see
    `_util.ONE_TASK_MAX_BYTES`):

    * **At most ONE_TASK_MAX_BYTES** — the input sorts in ONE task and `id`
      is the in-task row number. `coalesce(1)` has no shuffle, so the
      upstream scan, parse and casts run in that task too. One job; no
      range-sampling job, exchange, cache, offsets Window or broadcast
      join (each Spark job costs ~30-100 ms locally, and the range path
      below runs eight of them for a 10k-row CSV).
    * **Larger inputs** take the two-phase distributed row_number, NOT a
      global `Window.orderBy` (that form moves every row to one partition —
      the single-node sort is the 100 TB anti-pattern WindowExec itself
      warns about): range partitions with parallel local sorts, then
      per-partition row-count offsets — one row per partition, broadcast
      — added to the local row numbers.

    For a unique ordering key both paths give the global window's result (a
    row's number is its position in the total order), regardless of where
    range boundaries fall. Ties get an arbitrary-but-dense assignment — the
    same nondeterminism any ORDER BY with ties has. Defaults to ordering by
    all columns, stable for deduplicated loads. `id` stays int for
    reference `SERIAL` parity; past INT_MAX the projection raises an
    explicit error (never wraps) — a >2.1B-row load opts into BIGSERIAL
    semantics (long ids) upstream. `as_long=True` IS that BIGSERIAL opt-in:
    long ids, no INT_MAX guard (for consumers whose row space legitimately
    exceeds 2.1B, e.g. etl_global_shuffle positions at corpus scale).
    """
    if has_id_column(df):
        return df
    numbered = range_numbered(df, order_by or df.columns)
    if fits_one_task(df):
        return numbered.withColumn(
            "id", _guarded_id("_sk_rn", as_long)
        ).drop("_sk_pid", "_sk_rn")
    # two consumers below; ReusedExchange cannot dedupe a broadcast-side
    # subtree, so without the cache the offsets branch would re-run the
    # range shuffle. The consumer that materializes the rows releases it:
    # load() after its sink write, memo_pin after its checkpoint.
    numbered = numbered.persist()
    offsets = numbered.groupBy("_sk_pid").agg(
        F.count(F.lit(1)).alias("cnt")
    ).select("_sk_pid", rank_offset().alias("_sk_off"))
    out = (
        numbered.join(F.broadcast(offsets), "_sk_pid")
        .withColumn("id", _guarded_id("_sk_rn + _sk_off", as_long))
        .drop("_sk_pid", "_sk_rn", "_sk_off")
    )
    return out


def load(
    df: DataFrame,
    table_name: str,
    *,
    warehouse: str,
    columns: list[str] | None = None,
    types: dict[str, str] | None = None,
    mode: str = "error",
    surrogate_key: bool = True,
    order_by: list[str] | None = None,
) -> str:
    """Project → normalize → cast → key → atomically sink as parquet.

    Returns the final table path. mode: 'error' (reference default, R13) or
    'overwrite'. The staged write + rename gives reference-style
    all-or-nothing loads (R15).
    """
    name = sanitize_identifier(table_name)
    if not name:
        raise ValueError("table name sanitized to empty string")
    if not df.columns:  # an empty file: no header line, no JSON object
        raise ValueError(f"table {name!r}: the input has no columns")
    target = os.path.join(warehouse, name)
    if os.path.exists(target) and mode == "error":
        raise TableExistsError(f"table {name!r} already exists")

    out = empty_to_null(df.select(*columns) if columns else df, types)
    if surrogate_key:
        out = add_surrogate_key(out, order_by)

    staging = os.path.join(warehouse, f".{name}.staging-{uuid.uuid4().hex}")
    try:
        out.write.mode("overwrite").parquet(staging)  # executes the plan
    finally:  # the surrogate key's scratch cache, never the caller's own
        release_cached_reads(out, keep=df)
    if os.path.exists(target):
        if mode == "error":  # re-check: lost race
            shutil.rmtree(staging, ignore_errors=True)
            raise TableExistsError(f"table {name!r} already exists")
        old = target + f".old-{uuid.uuid4().hex}"
        os.rename(target, old)
        os.rename(staging, target)
        shutil.rmtree(old, ignore_errors=True)
    else:
        os.rename(staging, target)
    return target


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    *,
    mode: str = "error",
    batchsize: int = 1000,
    **options: str,
) -> None:
    """JDBC sink with the reference's batch size (1000-row INSERT batches,
    backend/index.js:188,:226). Per-partition transactions only — true
    cross-partition atomicity needs the staging pattern of :func:`load`.
    Extra ``options`` pass through to the JDBC writer (e.g. ``driver`` for
    drivers not registered with java.sql.DriverManager's service loader —
    exercised live in tests/test_jdbc.py)."""
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
    )
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.mode(mode).save()
