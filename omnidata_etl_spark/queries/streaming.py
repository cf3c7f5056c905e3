"""Structured Streaming demo (SURVEY.md §2B `stream_structured_demo`).

A true streaming query over the events parquet: file source → 2-hour
watermark → 1-hour tumbling window counts → memory sink. Output mode is
`complete` here so the result equals the batch `stream_tumbling_counts`
exactly (append mode would withhold windows not yet past the watermark —
that drop behavior is demonstrated separately in tests/test_streaming.py).
Rows-only check: streaming is not DuckDB-checkable; the equality-with-batch
assertion lives in the test suite (SURVEY.md §5 item 5).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from omnidata_etl_spark.catalog import parquet_schema, read_parquet
from omnidata_etl_spark.registry import query


def tumbling_stream(
    spark: SparkSession,
    sf_dir: str,
    *,
    output_mode: str = "complete",
    watermark: str = "2 hours",
) -> DataFrame:
    """Run the streaming tumbling-count to completion on the static events
    parquet and return the materialized result.

    The file source requires a directory, and the stream must use the RAW
    parquet schema — ts normalization (nanos long or NTZ → µs TIMESTAMP)
    happens on the stream, mirroring catalog.table.
    """
    src = _event_stream(spark, sf_dir)
    agg = (
        src.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("window.start").alias("hour_start"),
            "event_type",
            "n_events",
        )
    )
    qname = f"omnidata_stream_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(qname)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        _stop(q)
    return spark.table(qname)


@query("stream_structured_demo", tags=("streaming",))
def stream_structured_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling counts, self-evidencing (VERDICT r2 #8): the
    driver's rows-only check can't hash streaming output against DuckDB, so
    the frame carries its own verdict — ``matches_batch`` is per-window
    equality against the BATCH evaluation of the same aggregation, computed
    via full-outer join so a window missing from either side reads false.
    All-true output IS the streaming==batch proof, recorded row-by-row in
    the driver's artifact (the same equality tests/test_streaming.py
    asserts)."""
    from omnidata_etl_spark.catalog import table

    streamed = tumbling_stream(spark, sf_dir)
    batch = (
        table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_batch"))
        .select(
            F.col("window.start").alias("hour_start"), "event_type", "n_batch"
        )
    )
    return (
        streamed.join(batch, ["hour_start", "event_type"], "full_outer")
        .select(
            "hour_start",
            "event_type",
            "n_events",
            (
                F.col("n_events").isNotNull()
                & F.col("n_batch").isNotNull()
                & (F.col("n_events") == F.col("n_batch"))
            ).alias("matches_batch"),
        )
    )


def _normalize_ts(df: DataFrame) -> DataFrame:
    """Mirror catalog.table's ts normalization on a raw events scan: nanos
    long → µs timestamp; TIMESTAMP_NTZ → session-UTC TIMESTAMP (value no-op,
    keeps ANSI epoch casts legal)."""
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _event_stream(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_copies: int = 1,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over the events parquet (raw schema; ns→µs).

    ``n_copies`` symlinks the file N times (each symlink is a distinct
    source file → N micro-batches of identical rows, the cross-batch
    duplicate generator for dedup demos); ``max_files_per_trigger``
    throttles to one file per batch so the copies arrive sequentially.
    """
    src_file = f"{sf_dir}/events.parquet"
    raw_schema = parquet_schema(spark, src_file)
    stream_dir = tempfile.mkdtemp(prefix="omnidata_stream_src_")
    _STREAM_DIRS.append(stream_dir)
    for i in range(n_copies):
        os.symlink(src_file, os.path.join(stream_dir, f"events_{i}.parquet"))
    reader = spark.readStream.schema(raw_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.parquet(stream_dir)
    return _normalize_ts(src)


# Symlink staging dirs created by _event_stream, drained by _stop(): the
# source dir is only read while the stream runs, so once the query is
# stopped (every declared stream here runs processAllAvailable → stop
# before returning a memory-sink frame) the dir is garbage. Without the
# drain, repeated bench passes accreted one /tmp dir per stream query per
# pass (r2 ADVICE class).
_STREAM_DIRS: list[str] = []


def _stop(q) -> None:
    """Stop a finished streaming query and drain its source staging dirs."""
    q.stop()
    while _STREAM_DIRS:
        shutil.rmtree(_STREAM_DIRS.pop(), ignore_errors=True)


@query("stream_stateful_user_totals", tags=("streaming", "stateful"))
def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running (event count, value total) kept in explicit group
    state — the engine's extension point for operators Structured
    Streaming lacks natively. Rows-only, self-evidencing: update mode
    emits every intermediate state, so the FINAL state per user (the
    max-count row) is re-joined against the batch groupBy of the same
    events and ``matches_batch`` certifies streaming==batch per user in
    the driver's own artifact (cent-exact comparison — the 2dp values sum
    exactly in either order at these magnitudes). The same equality is
    pinned in tests/test_streaming.py."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_totals(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    src = _event_stream(spark, sf_dir)
    agg = src.groupBy("user_id").applyInPandasWithState(
        update_totals,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    qname = f"omnidata_stateful_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName(qname)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        _stop(q)
    mem = spark.table(qname)
    w = Window.partitionBy("user_id").orderBy(
        F.desc("n_events"), F.desc("total_value")
    )
    final = (
        mem.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    from omnidata_etl_spark.catalog import table as _table

    batch = (
        _table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("b_n"),
            F.sum("value").alias("b_total"),
        )
    )
    return final.join(batch, "user_id").select(
        "user_id",
        "n_events",
        "total_value",
        (
            (F.col("n_events") == F.col("b_n"))
            & (
                F.round(F.col("total_value") * 100).cast("long")
                == F.round(F.col("b_total") * 100).cast("long")
            )
        ).alias("matches_batch"),
    )


@query("stream_foreachbatch_upsert", tags=("streaming", "sink"))
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental upsert sink via foreachBatch — the streaming ETL pattern
    for targets with no native streaming writer.

    Two deterministic micro-batches (base events, then updates for every
    event_id % 10 == 0 with a bumped ts and value=999); each batch MERGEs
    into a versioned parquet target: union with the previous version, keep
    the max-ts row per event_id, write a new version, atomically advance the
    pointer. At scale the same closure targets a MERGE-capable store and the
    per-batch dedup rides the event_id shuffle. Rows-only: the invariants
    (row count == source count; exactly the %10 keys carry the update) are
    asserted in tests/test_streaming.py.
    """
    from pyspark.sql import Window

    raw = _normalize_ts(read_parquet(spark, f"{sf_dir}/events.parquet"))

    base = tempfile.mkdtemp(prefix="omnidata_febatch_")
    src_dir, tgt_base = f"{base}/src", f"{base}/tgt"
    raw.coalesce(1).write.parquet(f"{src_dir}/batch0")
    updates = (
        raw.where(F.col("event_id") % 10 == 0)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
        .withColumn("value", F.lit(999.0))
    )
    updates.coalesce(1).write.parquet(f"{src_dir}/batch1")

    state: dict[str, str | None] = {"path": None}

    def merge(batch: DataFrame, batch_id: int) -> None:
        cur = batch
        if state["path"] is not None:
            cur = batch.unionByName(batch.sparkSession.read.parquet(state["path"]))
        w = Window.partitionBy("event_id").orderBy(F.desc("ts"))
        latest = (
            cur.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        new_path = f"{tgt_base}/v{batch_id}"
        latest.write.mode("overwrite").parquet(new_path)
        state["path"] = new_path

    stream = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src_dir)
    )
    q = (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", f"{base}/ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        _stop(q)

    # Same leak discipline as stream_text_source_tail: collect the summary,
    # then remove the staging dir (src batches, checkpoint, target versions).
    import shutil

    try:
        result = spark.read.parquet(state["path"]).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((F.col("value") == 999.0).cast("bigint")).alias("n_updated"),
        )
        rows = result.collect()
        schema = result.schema
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


@query("stream_dedup_watermark", tags=("streaming", "dedup"))
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup: the same events file is fed as two
    consecutive micro-batches (every row a cross-batch duplicate) and
    `dropDuplicatesWithinWatermark` on event_id emits each event exactly
    once — the streaming counterpart of `stream_dedup_latest`, with state
    bounded by the watermark instead of growing forever (the property that
    makes it viable on an unbounded 100 TB/day feed; plain dropDuplicates
    would accrete state per key indefinitely).

    Rows-only; tests assert the emitted counts equal the batch per-type
    counts of the distinct-event_id set (tests/test_streaming.py).
    """
    src = _event_stream(spark, sf_dir, n_copies=2, max_files_per_trigger=1)
    deduped = src.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    qname = f"omnidata_dedup_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        _stop(q)
    return (
        spark.table(qname)
        .groupBy("event_type")
        .agg(F.count("*").cast("bigint").alias("n_events"))
    )


@query(
    "stream_static_join",
    oracle="""
        SELECT 'tier_' || CAST(user_id % 3 AS VARCHAR) AS tier,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events
        WHERE user_id BETWEEN 0 AND 9999
        GROUP BY 1
    """,
    tags=("streaming", "join"),
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the streaming events feed enriched against a
    static dimension (user → tier) before a windowed-style aggregate — the
    canonical streaming-ETL enrichment. The static side is broadcast into
    every micro-batch (re-read per batch if it changes on disk; here it is
    deterministic: tier = user_id mod 3).

    Oracle-checked (r11 promotion): the complete-mode aggregate the
    memory sink materializes is a deterministic relational result, so the
    WHOLE streaming path — file source, micro-batch broadcast join,
    stateful complete-mode aggregation — hash-checks against DuckDB
    running the equivalent batch SQL over the same parquet."""
    src = _event_stream(spark, sf_dir)
    users = spark.range(0, 10000).select(
        F.col("id").alias("user_id"),
        F.concat(F.lit("tier_"), (F.col("id") % 3).cast("string")).alias("tier"),
    )
    joined = src.join(F.broadcast(users), "user_id").groupBy("tier").agg(
        F.count("*").cast("bigint").alias("n_events")
    )
    qname = f"omnidata_ss_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.outputMode("complete")
        .format("memory")
        .queryName(qname)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        _stop(q)
    return spark.table(qname)


@query(
    "stream_stream_interval_join",
    oracle="""
        WITH pairs AS (
            SELECT c.user_id AS c_user, p.value
            FROM events c JOIN events p
              ON c.user_id = p.user_id
             AND c.event_type = 'click' AND p.event_type = 'purchase'
             AND p.ts BETWEEN c.ts AND c.ts + INTERVAL 1 HOUR
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(COUNT(DISTINCT c_user) AS BIGINT) AS n_users,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                   AS attributed_value
        FROM pairs
    """,
    tags=("streaming", "join"),
)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchases attributed to a preceding
    click by the same user within 1 hour — two independently watermarked
    streams joined on equality + a time-range predicate. The watermarks
    bound BOTH sides' join state (each side buffers only rows younger than
    watermark + interval), which is what makes an unbounded two-feed join
    viable at 100 TB/day; without them state grows forever.
    Oracle-checked (r11 promotion): the summary the join materializes is
    deterministic (the single-file source drains inside the watermark, so
    no pair is late-dropped — the batch-equality test pins the same), and
    the decimal-summed value makes it hash-exact vs DuckDB's batch
    formulation of the identical interval join.

    The attributed-value sum goes through DECIMAL(18,2) per row (raw 2dp
    column) so the total is summation-order-independent — streaming
    micro-batch order must not change the answer."""
    clicks = (
        _event_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
    )
    purchases = (
        _event_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            "value",
        )
    )
    joined = clicks.withWatermark("click_ts", "2 hours").join(
        purchases.withWatermark("purchase_ts", "2 hours"),
        F.expr(
            "c_user = p_user AND "
            "purchase_ts BETWEEN click_ts AND click_ts + INTERVAL 1 HOUR"
        ),
    )
    qname = f"omnidata_ssj_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        _stop(q)
    return spark.table(qname).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("c_user").alias("n_users"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("attributed_value"),
    )


@query("stream_text_source_tail", tags=("streaming", "source", "ingest"))
def stream_text_source_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion through the custom Python DataSource: the
    `omnidata_text` sniffing scan (sources/text_source.py) driven as a
    micro-batch stream — two fixture segments arrive as two batches via
    the log-segment offset protocol (SimpleDataSourceStreamReader), and
    the count-per-segment result proves both were consumed exactly once.
    Rows-only: the source/offset machinery is engine-specific; batch
    parity of the same scan is oracle-adjacent via the ingest_* checks."""
    import shutil
    import uuid

    from omnidata_etl_spark.ingest.fixtures import fixture_path
    from omnidata_etl_spark.sources import register_text_source

    register_text_source(spark)
    seg_dir = tempfile.mkdtemp(prefix="omnidata_textstream_")
    shutil.copy(fixture_path("people_comma.csv"), f"{seg_dir}/part-00001.csv")
    shutil.copy(fixture_path("people_tab.tsv"), f"{seg_dir}/part-00002.tsv")

    qname = f"omnidata_txt_{uuid.uuid4().hex[:8]}"
    stream = spark.readStream.format("omnidata_text").load(seg_dir)
    q = (
        stream.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # Materialize the aggregate BEFORE tearing down the memory sink and
        # segment dir — the bench invokes this repeatedly in one long-lived
        # session, and leaking a /tmp dir + a registered memory table per
        # invocation accretes without bound (r2 ADVICE).
        result = spark.table(qname).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("person_id").alias("n_people"),
        )
        rows = result.collect()
        schema = result.schema
    finally:
        _stop(q)
        spark.catalog.dropTempView(qname)
        shutil.rmtree(seg_dir, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


@query("stream_checkpoint_recovery", tags=("streaming", "sink", "exactly-once"))
def stream_checkpoint_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once across a kill/restart — the streaming guarantee the
    other stream ops assume, here PROVEN: a file-source → parquet-sink
    stream processes two source files, is STOPPED, two more files land,
    and a fresh query object restarts from the same checkpoint. The
    offset/commit logs must replay nothing and skip nothing: every
    source file contributes exactly once.

    Self-evidence columns (rows-only; a restart harness has no SQL
    twin): n_sink_rows must equal 4 × n_source_rows, and
    n_wrong_multiplicity — event_ids whose sink count ≠ 4 — must be 0.
    A replayed batch would show multiplicity 5+, a dropped one 3-, so
    the exactly-once claim is visible in the driver's own artifact.
    Pinned behaviorally in tests/test_streaming.py."""
    src_file = f"{sf_dir}/events.parquet"
    raw_schema = parquet_schema(spark, src_file)
    base = tempfile.mkdtemp(prefix="omnidata_ckpt_rec_")
    src_dir, sink_dir, ckpt = f"{base}/src", f"{base}/sink", f"{base}/ckpt"
    os.makedirs(src_dir)

    def run_until_drained(tag: str) -> None:
        stream = (
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        q = (
            _normalize_ts(stream)
            .select("event_id", "user_id", "event_type")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink_dir)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    try:
        for i in range(2):
            os.symlink(src_file, f"{src_dir}/events_{i}.parquet")
        run_until_drained("phase1")
        for i in range(2, 4):
            os.symlink(src_file, f"{src_dir}/events_{i}.parquet")
        run_until_drained("phase2")  # NEW query object, SAME checkpoint

        n_source = read_parquet(spark, src_file).count()
        sink = spark.read.parquet(sink_dir)
        n_sink = sink.count()
        n_wrong = (
            sink.groupBy("event_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") != 4)
            .count()
        )
        row = (n_source, n_sink, n_sink == 4 * n_source, n_wrong)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(
        [row],
        "n_source_rows long, n_sink_rows long, exactly_once_ok boolean, "
        "n_wrong_multiplicity long",
    )
