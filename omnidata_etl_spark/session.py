"""SparkSession factory + tuning for the omnidata-etl-spark engine.

The engine is designed for a large multi-executor cluster (the 100 TB design
point) but is exercised locally on ``local[N]``. Everything here is sizing, not
semantics: AQE re-plans shuffles at runtime, shuffle partitions default to the
core count instead of 200 (right for local/bench scale; a real cluster
deployment would raise it or rely on AQE coalescing), and ANSI mode is on from
day 1 so casts are strict (reference behavior: bad value aborts the load,
``backend/index.js:240`` — see SURVEY.md §1.2).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession

# Conf that is safe (and required for oracle parity) to set at runtime on any
# session, including the driver-provided one.
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",  # duckdb timestamps are UTC-naive
    "spark.sql.ansi.enabled": "true",  # strict casts (reference R7 semantics)
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # events.ts is TIMESTAMP(NANOS) parquet, which Spark cannot read natively
    # (PARQUET_TYPE_ILLEGAL): read as long, convert in catalog.table (ns→µs).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow result channel for toPandas/pandas-UDF exchange — runtime-settable,
    # so the driver's plain session gets it too (row-based collect spends ~3s
    # deserializing what Arrow moves in <1s on 600k-row outputs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Fewer, larger Arrow batches on the result channel: the stock 10k
    # rows/batch pays per-batch IPC framing ~10× more often than needed on
    # 100k+-row results (r4 A/B over the 5 largest-output queries: −18%
    # wall). 128k rows × typical result widths stays well under executor
    # memory pressure at any scale; selfDestruct was also tried and
    # measured slower (+10%) — copy avoidance doesn't pay at these widths.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "131072",
    # Size post-shuffle partitions by bytes, not by raw parallelism; 64 MB
    # is the cluster-scale default (per-task overhead amortizes over big
    # partitions) and catalog._size_shuffle_partitions re-derives the value
    # from actual input stats per sf_dir — at local bench scale it lands on
    # the 1 MB floor so a 5-10 MB shuffle still fans out across cores
    # instead of coalescing CPU-heavy sort/window stages onto 1-2 tasks.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    # Plan-time sizeInBytes is compressed-file-size-based; snappy parquet
    # compresses ~3x, so a multi-million-row fact table can slip under the
    # broadcast threshold at compile time (observed: 7.5M-row orders, 33MB
    # on disk, chosen as BroadcastHashJoin build side — the broadcast-OOM
    # pattern at cluster scale). Estimating uncompressed size fixes the
    # decision; AQE still converts to broadcast when runtime stats show a
    # side is truly small.
    "spark.sql.sources.fileCompressionFactor": "3.0",
    # Broadcast threshold raised from the 10 MB stock default so every DIM
    # and pruned intermediate broadcasts at plan time (q10's orders side,
    # est ~8 MB, was the r3 motivating case: −13% under an order-alternated
    # A/B), but kept BELOW the largest local fact: at 64 MB (the r3
    # setting) tpch_q5's plan chose the full 600k-row lineitem (est 33 MB
    # under the ×3 compression factor) as a broadcast BUILD side — a
    # single-threaded 600k-entry hash build locally, and the exact
    # broadcast-a-fact OOM pattern at cluster scale that
    # fileCompressionFactor=3.0 exists to prevent. 20 MB keeps the r3
    # dim-broadcast wins (r4 A/B over the 14 join-heavy queries: 20 MB
    # 5.09s vs 64 MB 5.29s vs 10 MB 5.57s total) while restoring the
    # invariant the cluster design point relies on: facts shuffle, dims
    # broadcast. Size-relative as before: at sf1+ orders crosses the
    # threshold too and falls back to SortMergeJoin (the ×10 probe's
    # documented flip).
    "spark.sql.autoBroadcastJoinThreshold": str(20 << 20),
    "spark.sql.adaptive.autoBroadcastJoinThreshold": str(20 << 20),
    # Scan-split sizing: maxSplitBytes = min(maxPartitionBytes,
    # max(openCostInBytes, scanBytes/defaultParallelism)). The stock 4 MB
    # openCost clamps a 10 MB local table to ~3 splits, starving the
    # catalog's multi-row-group mirrors (fn_math 0.41s → 0.20s at 1 MB).
    # But TOO low storms the multi-scan TPC-H shapes with tiny tasks
    # (lineitem appears 2-3× in q15/q17/q21; at 256 KB each scan spawned
    # ~32 splits and q17 went 0.52 → 0.84s). 1 MB measured best across
    # both classes (~11 splits for the 10.8 MB sf0.1 lineitem). At cluster
    # scale scanBytes/parallelism ≫ 1 MB and the term is inert.
    "spark.sql.files.openCostInBytes": "1048576",
}


_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def ensure_tuned(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to an externally-created session.

    Called from every query builder so the driver's own SparkSession gets the
    same semantics (UTC, ANSI, AQE) as one built by :func:`get_session`.
    Leaves a deliberately-set shuffle-partition count alone; only replaces the
    stock 200 default, which over-parallelizes the small scale factors.

    Idempotent and cached: each conf.set is a py4j round-trip, and table()
    calls this on every read — the flag makes repeat calls free (part of the
    per-query overhead-floor work, VERDICT.md Next round #6). Nothing in the
    engine unsets these keys mid-session (sink demos that toggle other conf
    restore them in finally blocks).
    """
    if getattr(spark, "_omnidata_tuned", False):
        return spark
    spark._omnidata_tuned = True
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf may be locked down
            pass
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(default_parallelism())
            )
    except Exception:  # pragma: no cover
        pass
    return spark


def get_session(app_name: str = "omnidata-etl-spark") -> SparkSession:
    """Build (or get) the engine's local session.

    ``local[N]`` with N from ``$SPARK_GRAFT_CPUS``; one JVM, so
    ``spark.driver.memory`` is the only memory knob that matters locally.

    Session-global side effect (r7, ADVICE): the WindowExec 'No Partition
    Defined' warning logger is demoted to ERROR for the session's
    lifetime — including for ad-hoc user queries run through the same
    session, whose unpartitioned windows are NOT covered by the repo's
    structural allow-list (tests/test_plans.py). Set
    ``OMNIDATA_KEEP_WINDOW_WARN=1`` to keep the stock warning for your
    own queries.

    Python workers run under the engine daemon
    (``spark.python.daemon.module`` = :mod:`omnidata_etl_spark.pydaemon`),
    which stops every task from re-reading the unchanged ``pyspark.zip``
    (~65 ms per task on Python 3.11), and find the engine through
    ``spark.executorEnv.PYTHONPATH`` from any cwd. Both are static conf, so
    only sessions built here get them; a driver-provided session keeps the
    stock daemon.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("OMNIDATA_DRIVER_MEM", "16g"))
        # A long-lived session running 150+ distinct queries generates
        # thousands of whole-stage-codegen classes; the JVM's default 240MB
        # reserved code cache fills, the JIT disables itself, and late
        # queries run interpreted (measured 3-5x inflation on the
        # alphabetically-last bench queries vs the same query isolated).
        # A 1GB reserve + explicit flushing keeps compilation alive for the
        # whole run; harmless for short sessions (reserve is virtual).
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing "
            "-XX:MaxMetaspaceSize=2g",
        )
        .config("spark.ui.enabled", "false")
        # Whole-stage-codegen CLASS cache (static conf, build-time only):
        # the stock 100-entry cache thrashes when 150+ distinct queries
        # interleave — every generated stage is evicted before its next
        # run and janino recompiles it (~50-200ms/stage). Sized so the
        # whole suite's stages stay resident; entries are soft-referenced
        # so memory pressure can still reclaim them.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        # Single-node shuffle I/O (static conf, LOCAL factory only — a
        # cluster deployment brings its own conf and keeps the stock
        # values): shuffle blocks never cross a network here and live in
        # page cache, so block compression is pure CPU overhead, and
        # /dev/shm skips filesystem syscall latency for the many tiny
        # shuffle files a 32-way local exchange writes. r4 A/B over 15
        # shuffle-heavy queries, fresh JVMs: 3.27-3.47s stock vs
        # 2.68-2.71s with both (−18%). At cluster scale compression is
        # load-bearing (network + disk spill) — these two keys are the
        # single-node exception, not the design point.
        .config("spark.shuffle.compress", "false")
        .config("spark.shuffle.spill.compress", "false")
        # Engine Python daemon (static conf, LOCAL factory only, like the
        # shuffle keys: a driver-provided session keeps the stock daemon).
        # Every Python task calls importlib.invalidate_caches(), and on
        # Python 3.11 each of the worker's 14-16 zipimporters over the
        # 3.5 MB pyspark.zip re-parses the whole archive: ~65 ms per task,
        # 0.35 s wall / 1.15 CPU-s for an identity mapInArrow over 5000
        # rows in 4 tasks (4-core host). pydaemon re-reads an archive only
        # when it changed (0.17-0.19 s / 0.44-0.47 CPU-s). The cost is per
        # task, so it grows with fan-out.
        .config("spark.python.daemon.module", "omnidata_etl_spark.pydaemon")
        # Workers import the daemon and the engine's UDF modules by name:
        # put the package on their path, whatever the JVM's cwd.
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        # saveAsTable target (bucketed tables for co-located joins);
        # keep the managed warehouse out of the repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("OMNIDATA_WAREHOUSE", "/tmp/omnidata_warehouse"),
        )
    )
    # tmpfs shuffle/scratch dir when it can actually hold a spill (same
    # local-only rationale as the compression keys above). tmpfs capacity
    # is RAM, not disk: a spill-heavy job on a small /dev/shm dies with
    # ENOSPC mid-shuffle (r5 ADVICE), so the pin is gated on free space —
    # ≥8 GiB free, or OMNIDATA_SHM_SCRATCH=1 to force / =0 to forbid.
    # Anything else falls back to the java.io.tmpdir default (disk-backed,
    # the right call on spill-heavy or shared hosts).
    shm = "/dev/shm/omnidata_spark"
    want = os.environ.get("OMNIDATA_SHM_SCRATCH", "")
    try:
        if want != "0":
            os.makedirs(shm, exist_ok=True)
            free = shutil.disk_usage("/dev/shm").free
            if os.access(shm, os.W_OK) and (
                want == "1" or free >= 8 << 30
            ):
                builder = builder.config("spark.local.dir", shm)
    except OSError:
        pass
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # WindowExec's 'No Partition Defined' warning is a per-execution alarm
    # for a hazard this engine pins structurally instead: every partition-
    # less window sits above an aggregate or a bounded dim (allow-list +
    # plan-shape asserts in tests/test_plans.py::
    # test_unpartitioned_windows_sit_above_small_frames). Demote that one
    # logger so real warnings stay visible in bench/driver logs; opt out
    # via OMNIDATA_KEEP_WINDOW_WARN=1 (see docstring — the demotion is
    # session-global, so it would also silence user-authored queries).
    if os.environ.get("OMNIDATA_KEEP_WINDOW_WARN") == "1":
        return ensure_tuned(spark)
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # logging backend differences must never break the session
    return ensure_tuned(spark)
