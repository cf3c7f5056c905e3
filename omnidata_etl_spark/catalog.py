"""Test-table catalog: the driver's parquet star schema (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events documents
embeddings — one parquet per table under an ``sf_dir``. Parquet scans get
predicate pushdown / column pruning / vectorized reads from Catalyst for free
(SURVEY.md §4). A single-file table's schema comes from its parquet footer,
read on the driver with Spark's own conversion rule (`parquet_schema`), so
opening the catalog runs no Spark job.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from omnidata_etl_spark.session import (
    default_parallelism,
    ensure_tuned,
    session_memo,
)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# --- storage-layout optimizer -------------------------------------------------
#
# The driver's generated tables are ONE parquet file with ONE row group each
# (sf0.1 lineitem: 600k rows, 1 row group). Spark's scan split granularity is
# the row group, so every scan of such a file is a single task on one core of
# 32 — the dominant term in the local bench floor (measured: filter_numeric
# 184ms exec, ~150ms of it a 1-core scan DuckDB intra-row-group-parallelizes).
# A cluster never sees this shape: 100 TB arrives as thousands of files with
# 128 MB row groups, written by the engine's own sinks. The catalog therefore
# OWNS its local storage layout the way Delta's OPTIMIZE does: an unsplittable
# input file is transparently mirrored once into a multi-row-group twin (same
# rows, same schema, same values — pyarrow round-trip, pinned by
# tests/test_smoke.py::test_mirror_parity) under /tmp, keyed by the source's
# (mtime, size) so a regenerated table invalidates its mirror. The oracle
# (DuckDB) keeps reading the original file. Opt out: OMNIDATA_NO_MIRROR=1.
_MIRROR_ROOT = os.environ.get("OMNIDATA_MIRROR_DIR", "/tmp/omnidata_mirror")
_MIN_MIRROR_ROWS = 50_000  # below this a 1-task scan is already ~free
_MIN_GROUP_ROWS = 8_192  # don't shred into groups too small to scan well
# Wide-row SMALL tables (documents: 5k rows / 594 KB disk / 1.6 MB unc,
# embeddings: 2k rows / 798 KB) deliberately do NOT mirror — settled by
# r12 measurement, closing the r11 byte-threshold question (VERDICT r11
# #1). Two facts:
#   1. A single file below `spark.sql.files.openCostInBytes` can never
#      scan as more than one task whatever its row-group count
#      (maxSplitBytes = min(maxPartitionBytes, max(openCost, bytesPerCore))
#      is floored at openCost = 1 MB here), so the r11 plan — fix the 4 MB
#      byte threshold so documents mirrors into 32 row groups — could not
#      have removed the spread() exchange even once the threshold fired.
#      The only mechanism that fans such a table out at the scan is a
#      DIRECTORY of single-group part files.
#   2. The directory mirror was implemented (commit a1d5948) and A/B'd
#      same-session, mirror vs OMNIDATA_NO_MIRROR, noop sink, min of 4
#      (OPTIMIZATION_r12.md, VERDICT r11 disposition item 1; the A/B
#      script is in `git show 86b1f03:scripts/`): it LOSES on most
#      consumers —
#      binary_stats −63 ms, curriculum −62, similarity_cosine −34,
#      ann_pq −34, udtf_chunk −20, decontaminate −15, decode_stats −14,
#      vs wins of +38 (audio_stats) and +20 (scene_cut) only. 32 micro-file
#      scan tasks cost more than the 1-task scan plus the ~1.6 MB
#      round-robin exchange they replace (trivial-op decomposition:
#      1-task scan 0.31 s, +spread 0.57 s, 32-file mirror 0.50 s).
# At the 100 TB design point both shapes vanish: a real corpus arrives as
# thousands of files, the scan is already wide, and spread() no-ops.


def parquet_path(sf_dir: str, name: str) -> str:
    """The driver's parquet file (or directory) of catalog table ``name``."""
    return os.path.join(sf_dir, f"{name}.parquet")


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` would infer, without its job.

    Spark infers a parquet schema in a one-task job that reads one footer.
    For a regular file this reads that footer on the driver instead and
    converts it with Spark's own rule (`ParquetFileFormat.readSchemaFromFooter`
    with a `ParquetToSparkSchemaConverter` over the session conf), so the
    Spark row-metadata key, INT96, `nanosAsLong` and TIMESTAMP_NTZ inference
    all follow the session as it is at call time: call it after
    `ensure_tuned`. Anything else (a directory, a glob, a non-local URI, a
    footer the JVM cannot read) goes through Spark's inference, which also
    raises Spark's own error for a bad path.
    """
    if os.path.isfile(path):
        try:
            jvm, state = spark._jvm, spark._jsparkSession.sessionState()
            parquet = jvm.org.apache.parquet
            jpath = jvm.org.apache.hadoop.fs.Path(os.path.abspath(path))
            skip = parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
            footer = parquet.hadoop.ParquetFileReader.readFooter(
                state.newHadoopConf(), jpath, skip
            )
            rule = jvm.org.apache.spark.sql.execution.datasources.parquet
            jschema = rule.ParquetFileFormat.readSchemaFromFooter(
                parquet.hadoop.Footer(jpath, footer),
                rule.ParquetToSparkSchemaConverter(state.conf()),
            )
            return StructType.fromJson(json.loads(jschema.json()))
        except Py4JError:  # pragma: no cover - unreadable: Spark's own error
            pass
    return spark.read.parquet(path).schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, opened with `parquet_schema` when
    ``path`` is a regular file. A directory keeps Spark's own inference:
    its partition discovery and its choice of footer file."""
    reader = spark.read
    if os.path.isfile(path):
        reader = reader.schema(parquet_schema(spark, path))
    return reader.parquet(path)


def _splittable_path(sf_dir: str, name: str) -> tuple[str, int]:
    """Path to scan for a catalog table + its split-count estimate.

    Returns the original path untouched for directory-style (already
    multi-file) tables, small tables, and already-chunked files; otherwise
    the lazily-built multi-row-group mirror.
    """
    src = parquet_path(sf_dir, name)
    if os.path.isdir(src):
        try:
            return src, sum(1 for f in os.listdir(src) if f.endswith(".parquet"))
        except OSError:
            return src, 1
    if os.environ.get("OMNIDATA_NO_MIRROR"):
        return src, 1
    try:
        import pyarrow.parquet as pq

        meta = pq.ParquetFile(src).metadata
        rows, groups = meta.num_rows, meta.num_row_groups
    except Exception:
        return src, 1
    cores = default_parallelism()
    target = min(cores, max(1, rows // _MIN_GROUP_ROWS))
    if rows < _MIN_MIRROR_ROWS or groups >= max(2, target // 2):
        return src, groups
    st = os.stat(src)
    key = hashlib.md5(os.path.abspath(src).encode()).hexdigest()[:12]
    mdir = os.path.join(_MIRROR_ROOT, key)
    dst = os.path.join(
        mdir, f"{name}-{st.st_mtime_ns}-{st.st_size}-{target}.parquet"
    )
    if not os.path.exists(dst):
        try:
            os.makedirs(mdir, exist_ok=True)
            tbl = pq.read_table(src)
            tmp = f"{dst}.tmp{os.getpid()}"
            # version 2.6 preserves ns timestamps (events.ts) losslessly
            pq.write_table(
                tbl,
                tmp,
                row_group_size=math.ceil(rows / target),
                compression="snappy",
                version="2.6",
            )
            os.replace(tmp, dst)  # atomic vs a concurrent test session
            for stale in glob.glob(os.path.join(mdir, f"{name}-*.parquet")):
                if stale != dst:
                    try:
                        os.remove(stale)
                    except OSError:
                        pass
        except Exception:  # pragma: no cover - mirror is an optimization only
            return src, groups
    return dst, target


def _size_shuffle_partitions(spark: SparkSession, sf_dir: str) -> None:
    """Size `spark.sql.shuffle.partitions` AND the AQE advisory partition
    bytes from the catalog's input stats.

    Plan-time analog of AQE coalescing: the right reducer count is a
    function of the data — `total on-disk bytes × fileCompressionFactor ÷
    64 MB advisory` — floored at the core count (a CPU-heavy shuffle stage
    with fewer tasks than cores starves: measured +100-500ms on the
    hash-heavy dedup/text queries with an 8-partition floor on 32 cores,
    while the small-aggregate "win" of fewer tasks was a warm-up artifact
    that disappears at steady state) and capped at 2000. At bench scale
    this resolves to the core count; at cluster scale the byte term yields
    thousands, and AQE still coalesces/splits per-stage at runtime.

    The advisory bytes get the same treatment in the other direction: a
    static 64 MB advisory is the right *cluster* setting (per-task overhead
    amortizes over big partitions) but at local scale it lets AQE coalesce
    an entire 5-10 MB shuffle into 1-2 tasks, serializing CPU-heavy
    sort/window/join stages on a 32-core box. Sized as
    `clamp(est_bytes / (4 × cores), 1 MB, 64 MB)` — i.e. aim for ~4 waves
    of post-shuffle tasks when the whole input shuffles, hitting the 1 MB
    floor at bench scale (r4 interleaved A/B over 22 shuffle-heavy
    queries: 1 MB 4.60s vs 64 MB 5.03s, with q18/skew-salted/scd2 −30-50%)
    and the 64 MB cluster cap from ~8 GB of input upward. Runs once per
    (session, sf_dir): a deliberate later override by the user would be
    clobbered on the next table() call otherwise.
    """
    key = getattr(spark, "_omnidata_sized_for", None)
    if key == sf_dir:
        return
    spark._omnidata_sized_for = sf_dir
    try:
        # Respect an explicit external setting (ADVICE r2): only replace the
        # stock default (200), ensure_tuned's core-count floor, or a value
        # this sizer itself wrote earlier for another sf_dir.
        cur = spark.conf.get("spark.sql.shuffle.partitions", "200")
        ours = getattr(spark, "_omnidata_sized_value", None)
        if cur not in {"200", str(default_parallelism()), ours}:
            return
    except Exception:  # pragma: no cover
        pass
    try:
        total = 0
        for f in glob.glob(os.path.join(sf_dir, "*.parquet")):
            if os.path.isdir(f):  # directory-style parquet (multi-part)
                for root, _, files in os.walk(f):
                    total += sum(
                        os.path.getsize(os.path.join(root, p)) for p in files
                    )
            else:
                total += os.path.getsize(f)
        est = total * 3  # uncompressed estimate, mirrors fileCompressionFactor
        n = max(default_parallelism(), min(2000, est // (64 << 20)))
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        spark._omnidata_sized_value = str(n)
        advisory = max(1 << 20, min(64 << 20, est // (4 * default_parallelism())))
        cur_adv = spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "67108864"
        )
        ours_adv = getattr(spark, "_omnidata_sized_advisory", None)
        # same override discipline: only replace the stock default (64m,
        # also what ensure_tuned writes) or our own earlier sizing
        if cur_adv in {"64m", "67108864", str(64 << 20), ours_adv}:
            spark.conf.set(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes", str(advisory)
            )
            spark._omnidata_sized_advisory = str(advisory)
    except Exception:  # pragma: no cover - stats are an optimization only
        pass


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one catalog table; also ensures engine conf on the session.

    events.ts arrives in whatever physical type the generator used: nanosecond
    parquet is illegal as a Spark timestamp, so it is read as a nanos long
    (`nanosAsLong`) and truncated to a µs timestamp here (integer `div`, never
    float division: ns epochs exceed 2^53); µs parquet arrives as
    TIMESTAMP_NTZ and is normalized to session-time TIMESTAMP (a value-level
    no-op under the engine's pinned UTC session zone) so downstream epoch
    arithmetic (`cast(ts as double)`) stays legal under ANSI.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    ensure_tuned(spark)
    _size_shuffle_partitions(spark, sf_dir)
    return session_memo(
        spark, ("table", sf_dir, name), lambda: _read_table(spark, sf_dir, name)
    )


def table_memo(spark: SparkSession, sf_dir: str, name: str, key, build):
    """``session_memo`` for a value derived from catalog table ``name``:
    keyed by ``(key, sf_dir)``, rebuilt once the table's parquet changes."""
    return session_memo(spark, (key, sf_dir), build, source=parquet_path(sf_dir, name))


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path, n_splits = _splittable_path(sf_dir, name)
    df = read_parquet(spark, path)
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    # Scan-width hint for queries.spread(): a metadata-derived split count so
    # fan-out decisions never materialize an RDD lineage (r2 ADVICE: the
    # df.rdd.getNumPartitions() probe cost a full analysis per query build).
    df._omnidata_splits = n_splits
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every catalog table as a temp view (for SQL-form queries)."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
