"""Aggregation queries (SURVEY.md §2B "Aggregations"). EXT provenance — the
reference has no aggregations (SURVEY.md §2A).

Scale notes: groupBy on low-cardinality keys gets map-side partial
aggregation automatically (HashAggregate partial → shuffle tiny partials →
final). COUNT(DISTINCT) expands to a two-phase distinct-then-count plan;
for sketch-tolerant consumers `agg_approx_distinct` is the 100 TB path
(one pass, HLL, no shuffle of distinct values).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from omnidata_etl_spark.catalog import table
from omnidata_etl_spark.queries._util import (
    DEC,
    cents,
    crevsum,
    csum,
    dec2,
    range_numbered,
    rank_offset,
)
from omnidata_etl_spark.registry import query


@query(
    "agg_pricing_summary",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2))))
                    AS DOUBLE) AS sum_disc_price,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   / COUNT(*) AS avg_qty,
               COUNT(*) AS count_order
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg",),
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style pricing summary; exact order-independent money sums on
    the int64 fast path (_util.cents — value-identical to the oracle's
    DECIMAL formulation, 2× faster at sf0.1)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        csum("l_quantity").alias("sum_qty"),
        csum("l_extendedprice").alias("sum_base_price"),
        crevsum().alias("sum_disc_price"),
        (csum("l_quantity") / F.count("*")).alias("avg_qty"),
        F.count("*").alias("count_order"),
    )


@query(
    "agg_global",
    oracle="""
        SELECT COUNT(*) AS n_orders,
               MIN(o_totalprice) AS min_price,
               MAX(o_totalprice) AS max_price
        FROM orders
    """,
    tags=("agg",),
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.agg(
        F.count("*").alias("n_orders"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


@query(
    "agg_count_distinct",
    oracle="""
        SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_custs
        FROM orders GROUP BY o_orderstatus
    """,
    tags=("agg",),
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_custs")
    )


@query(
    "agg_having",
    oracle="""
        SELECT c_mktsegment, COUNT(*) AS n_customers
        FROM customer GROUP BY c_mktsegment HAVING COUNT(*) > 20
    """,
    tags=("agg",),
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
        .filter(F.col("n_customers") > 20)
    )


@query(
    "agg_rollup",
    oracle="""
        SELECT o_orderstatus, o_orderpriority,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
               COUNT(*) AS n_orders
        FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
    tags=("agg",),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        csum("o_totalprice").alias("total_price"),
        F.count("*").alias("n_orders"),
    )


@query(
    "agg_cube",
    oracle="""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows
        FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
    tags=("agg",),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows")
    )


@query(
    "agg_grouping_sets",
    oracle="""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    tags=("agg",),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets via the DataFrame API (Spark 4's groupingSets —
    the same Catalyst Expand plan the SQL form produces)."""
    o = table(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count("*").alias("n_orders"),
        csum("o_totalprice").alias("total_price"),
    )


@query(
    "agg_bool",
    oracle="""
        SELECT c_mktsegment,
               bool_and(c_acctbal > 0) AS all_positive,
               bool_or(c_acctbal > 9000) AS any_high
        FROM customer GROUP BY c_mktsegment
    """,
    tags=("agg",),
)
def agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (every/any)."""
    c = table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.bool_and(F.col("c_acctbal") > 0).alias("all_positive"),
        F.bool_or(F.col("c_acctbal") > 9000).alias("any_high"),
    )


@query(
    "agg_salted_two_phase",
    oracle="""
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "skew"),
)
def agg_salted_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof aggregation: explicit salt → partial agg on (key, salt) →
    final re-agg on key. Results are provably identical to the plain groupBy
    (that's the oracle); the point is the plan — a hot key's rows spread
    over SALT_BUCKETS reducers in phase 1, so no single task owns a 100 TB
    key. (Spark's own partial aggregation covers moderate skew; explicit
    salting is the pattern for when a single group exceeds one executor.)"""
    SALT_BUCKETS = 8
    li = table(spark, sf_dir, "lineitem")
    salted = li.withColumn(
        "salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(SALT_BUCKETS))
    )
    partial = salted.groupBy("l_returnflag", "salt").agg(
        F.count("*").alias("pn"),
        # int64 cents fast path (see _util.cents): the salted partial sums
        # are exact scaled integers, so the two-phase re-aggregation stays
        # in codegen's primitive loop and is still provably order-proof
        F.sum(cents("l_quantity")).alias("pq"),
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("pn").alias("n_rows"),
        (F.sum("pq") / 100.0).alias("sum_qty"),
    )


@query("agg_approx_distinct", tags=("agg", "approx"))
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approximate distinct — the one-pass 100 TB alternative to exact
    COUNT(DISTINCT). Rows-only: HLL sketches are engine-specific
    (SURVEY.md §7.3 #5), never hash-comparable with DuckDB.

    Self-evidencing (VERDICT r2 #8): ``within_bound`` re-derives the exact
    distinct in the same frame and asserts the estimate sits inside 3× the
    default rsd (0.05) — the sketch's own accuracy contract, checked by
    the driver's rows-only run itself. The exact side is a second
    aggregate over the same scan (one pass, no extra shuffle stage beyond
    the distinct's own partials); at 100 TB you would drop the exact
    column and keep only the sketch — the point of the op."""
    o = table(spark, sf_dir, "orders")
    return o.agg(
        F.approx_count_distinct("o_custkey").alias("approx_custs"),
        F.countDistinct("o_custkey").alias("exact_custs"),
        F.count("*").alias("n_orders"),
    ).select(
        "approx_custs",
        "exact_custs",
        "n_orders",
        (
            (
                F.abs(F.col("approx_custs") - F.col("exact_custs"))
                / F.col("exact_custs").cast("double")
            )
            <= 3 * 0.05
        ).alias("within_bound"),
    )


@query(
    "agg_arg_extremes",
    oracle="""
        SELECT o_orderstatus,
               arg_max(o_orderkey,
                       CAST(o_totalprice AS DECIMAL(18,2)) * 1000000000000
                       + o_orderkey) AS max_price_orderkey,
               arg_min(o_orderkey,
                       CAST(o_totalprice AS DECIMAL(18,2)) * 1000000000000
                       + o_orderkey) AS min_price_orderkey,
               CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS max_price,
               CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS min_price
        FROM orders
        GROUP BY o_orderstatus
    """,
    tags=("agg",),
)
def agg_arg_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argument-extreme aggregates (max_by/min_by ↔ DuckDB arg_max/arg_min):
    which order carries each status's highest/lowest price — the one-pass
    alternative to a rank-window + filter (no second shuffle, no sort).

    Determinism: prices tie across orders, and tie-breaking inside
    max_by/arg_max is engine-defined — so the ordering value is the exact
    int64 price-in-cents scaled by 10¹⁰ and offset by the unique orderkey,
    making the argmax unique on both engines. The scale factor must exceed
    the max orderkey or the key term could outvote a one-cent price
    difference (10¹⁰ covers keys to ten billion; the product stays inside
    int64 while max cents ≤ ~9.2e8 — i.e. prices to ~$9.2M, three orders
    of magnitude above the data's ~$550k max — and under ANSI an overflow
    RAISES rather than corrupting the argmax, so scaling past that bound
    fails safe; re-derive the 10¹⁰ factor from the actual key range before
    reusing the pattern on other data)."""
    o = table(spark, sf_dir, "orders")
    ordval = cents("o_totalprice") * 10000000000 + F.col("o_orderkey")
    return o.groupBy("o_orderstatus").agg(
        F.max_by("o_orderkey", ordval).alias("max_price_orderkey"),
        F.min_by("o_orderkey", ordval).alias("min_price_orderkey"),
        (F.max(cents("o_totalprice")) / 100.0).alias("max_price"),
        (F.min(cents("o_totalprice")) / 100.0).alias("min_price"),
    )


@query(
    "agg_variance_exact",
    oracle="""
        SELECT o_orderstatus,
               CAST(n AS BIGINT) AS n_orders,
               (CAST(CAST(sumsq AS VARCHAR) AS DOUBLE)
                - CAST(CAST(sumx AS VARCHAR) AS DOUBLE)
                  * CAST(CAST(sumx AS VARCHAR) AS DOUBLE) / n)
               / (n - 1) AS var_price,
               sqrt((CAST(CAST(sumsq AS VARCHAR) AS DOUBLE)
                     - CAST(CAST(sumx AS VARCHAR) AS DOUBLE)
                       * CAST(CAST(sumx AS VARCHAR) AS DOUBLE) / n)
                    / (n - 1)) AS stddev_price
        FROM (
            SELECT o_orderstatus, COUNT(*) AS n,
                   SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sumx,
                   SUM(CAST(o_totalprice AS DECIMAL(18,2))
                       * CAST(o_totalprice AS DECIMAL(18,2))) AS sumsq
            FROM orders GROUP BY o_orderstatus
        ) moments
    """,
    tags=("agg", "stats"),
)
def agg_variance_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance/stddev from EXACT decimal moments — never the
    engines' native STDDEV (their running/pairwise double accumulations are
    summation-order-dependent, so two engines — or two partitionings of the
    same engine — disagree in the last bits). Σx and Σx² are decimal (2dp
    values ⇒ x² is exact 4dp), so every partition order yields the same
    sums; the variance formula is then one fixed tree of double ops,
    bit-identical everywhere. The same trick is the 100 TB answer to
    deterministic metrics across rerun/re-partitioned jobs.

    One conversion subtlety (found at sf0.1): once a decimal sum's unscaled
    integer exceeds 2^53, decimal→double itself becomes engine-dependent —
    Spark (BigDecimal) converts correctly-rounded, DuckDB's native cast
    double-rounds via int128→double ÷ 10^scale. The oracle therefore casts
    through VARCHAR (strtod is correctly rounded), pinning both engines to
    the same conversion."""
    o = table(spark, sf_dir, "orders")
    x = dec2("o_totalprice")
    moments = o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sumx"),
        F.sum(x * x).alias("sumsq"),
    )
    var = (
        F.col("sumsq").cast("double")
        - F.col("sumx").cast("double") * F.col("sumx").cast("double") / F.col("n")
    ) / (F.col("n") - 1)
    return moments.select(
        "o_orderstatus",
        F.col("n").cast("bigint").alias("n_orders"),
        var.alias("var_price"),
        F.sqrt(var).alias("stddev_price"),
    )


@query(
    "agg_histogram",
    oracle="""
        SELECT CAST(FLOOR(o_totalprice / 50000.0) AS INTEGER) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders
        GROUP BY bucket
    """,
    tags=("agg", "stats"),
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (50k buckets over order value) — the
    distribution-profiling aggregate. Binning is floor of one double
    division (identical IEEE op both engines; 2dp inputs never land close
    enough to a boundary for the quotient to straddle it), so the
    histogram hash-matches exactly. One partial-agg shuffle of
    (bucket, count) pairs — cardinality ≈ bucket count, not row count."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.floor(F.col("o_totalprice") / 50000.0)
            .cast("int")
            .alias("bucket")
        )
        .agg(F.count("*").cast("bigint").alias("n_orders"))
    )


@query(
    "agg_multi_distinct",
    oracle="""
        SELECT o_orderstatus,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
               CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders
        GROUP BY o_orderstatus
    """,
    tags=("agg", "distinct"),
)
def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple DISTINCT aggregates in one GROUP BY — a distinct planner
    path: Catalyst rewrites N distinct columns into an Expand (N+1 row
    replicas tagged by group id) + two-level aggregate, instead of N
    separate shuffles + join. One query, one shuffle lineage, any number
    of distinct columns — the form to prefer over self-joining per-distinct
    subqueries at scale."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").cast("bigint").alias("n_customers"),
        F.countDistinct("o_orderpriority").cast("bigint").alias("n_priorities"),
        F.count("*").cast("bigint").alias("n_orders"),
    )


@query(
    "agg_try_sum",
    oracle="""
        SELECT o_orderstatus,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0
                    AS DOUBLE) AS total_price
        FROM orders GROUP BY o_orderstatus
    """,
    tags=("agg", "try"),
)
def agg_try_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-aborting int64 money sum: try_sum yields NULL on overflow where
    ANSI sum raises — the per-expression escape hatch for the cents fast
    path (_util.cents) on groups that might exceed ~1e9 max-cents rows.
    At oracle scale no overflow occurs, so values equal the plain sum
    (which is what the oracle asserts); the overflow→NULL behavior itself
    is pinned by tests/test_types.py::test_try_sum_overflow_nulls."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        (F.try_sum(cents("o_totalprice")) / 100.0).alias("total_price")
    )


@query(
    "agg_bitmap_distinct",
    oracle="""
        SELECT o_orderstatus,
               COUNT(DISTINCT o_custkey) AS n_custs
        FROM orders GROUP BY o_orderstatus
    """,
    tags=("agg", "distinct", "scale"),
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct count via two-level bitmap aggregation — the 100 TB
    pattern for exact COUNT(DISTINCT): keys fold into fixed 4KB bitmap
    buckets map-side (bitmap_construct_agg), buckets OR-merge across
    partitions (bitmap_or_agg), and the count is the sum of set bits.
    Unlike COUNT(DISTINCT)'s expand-then-dedup plan, the shuffle carries
    (group, bucket)-keyed 4KB bitmaps instead of one row per distinct
    value — constant-size state per bucket no matter how many duplicates —
    while staying exact, unlike the HLL sketch (agg_approx_distinct).
    The oracle asserts equality with plain COUNT(DISTINCT)."""
    o = table(spark, sf_dir, "orders")
    per_bucket = (
        o.select(
            "o_orderstatus",
            F.bitmap_bucket_number(F.col("o_custkey")).alias("bucket"),
            F.bitmap_bit_position(F.col("o_custkey")).alias("pos"),
        )
        .groupBy("o_orderstatus", "bucket")
        .agg(F.bitmap_construct_agg(F.col("pos")).alias("bm"))
    )
    return per_bucket.groupBy("o_orderstatus").agg(
        F.sum(F.bitmap_count(F.col("bm"))).alias("n_custs")
    )


@query(
    "agg_exact_moments",
    oracle="""
        SELECT l_returnflag,
               n,
               CAST(CAST(den_q AS DOUBLE) / (CAST(n AS DOUBLE) * n)
                    AS DOUBLE) AS var_qty,
               CAST(num AS DOUBLE)
                   / sqrt(CAST(den_q AS DOUBLE) * CAST(den_p AS DOUBLE))
                   AS corr_qty_price
        FROM (
            SELECT l_returnflag,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   COUNT(*) * SUM(q * q) - SUM(q) * SUM(q) AS den_q,
                   COUNT(*) * SUM(p * p) - SUM(p) * SUM(p) AS den_p,
                   COUNT(*) * SUM(q * p) - SUM(q) * SUM(p) AS num
            FROM (
                SELECT l_returnflag,
                       CAST(CAST(l_quantity AS BIGINT) AS DECIMAL(38,0)) AS q,
                       CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                            AS DECIMAL(38,0)) AS p
                FROM lineitem
            )
            GROUP BY l_returnflag
        )
    """,
    tags=("agg", "stats"),
)
def agg_exact_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance and correlation with EXACT integer moments — the
    determinism-hardened form of the statistical aggregates. Stock
    ``stddev``/``corr`` stream partial (mean, M2) states whose float
    merges are partition-order-dependent — two runs of the same engine
    can differ in low bits, and two engines always do, so they can never
    hash-match. Here the five sufficient statistics (n, Σx, Σy, Σx²,
    Σxy, Σy²) are summed exactly — quantity as int64, price as cents,
    squares in DECIMAL(38,0) (Σcents² overflows int64 at ~1e5 rows; 38
    digits carry ~1e12 rows × max-price before the documented DECIMAL
    headroom bound) — and the classical cross-multiplied formulas
    (n·Σxy − ΣxΣy etc.) stay in exact decimal until ONE cast to double
    per term. From there both engines perform the identical IEEE
    divide/sqrt sequence, so the doubles are bit-equal and the driver
    hash holds. Map-side partial aggregation throughout — one 3-group
    shuffle of six numbers per group at any scale."""
    li = table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("bigint").cast("decimal(38,0)")
    p = (
        F.round(F.col("l_extendedprice") * 100)
        .cast("bigint")
        .cast("decimal(38,0)")
    )
    base = li.select("l_returnflag", q.alias("q"), p.alias("p"))
    agg = base.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("sq"),
        F.sum("p").alias("sp"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
        F.sum(F.col("p") * F.col("p")).alias("spp"),
        F.sum(F.col("q") * F.col("p")).alias("sqp"),
    )
    den_q = F.col("n") * F.col("sqq") - F.col("sq") * F.col("sq")
    den_p = F.col("n") * F.col("spp") - F.col("sp") * F.col("sp")
    num = F.col("n") * F.col("sqp") - F.col("sq") * F.col("sp")
    return agg.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        (
            den_q.cast("double")
            / (F.col("n").cast("double") * F.col("n"))
        ).alias("var_qty"),
        (
            num.cast("double")
            / F.sqrt(den_q.cast("double") * den_p.cast("double"))
        ).alias("corr_qty_price"),
    )


@query(
    "agg_linear_fit",
    oracle="""
        SELECT l_returnflag, n,
               CAST(num AS DOUBLE) / CAST(den_q AS DOUBLE) / 100 AS slope,
               (CAST(sp AS DOUBLE) / 100
                - (CAST(num AS DOUBLE) / CAST(den_q AS DOUBLE) / 100)
                  * CAST(sq AS DOUBLE))
                   / CAST(n AS DOUBLE) AS intercept,
               (CAST(num AS DOUBLE)
                / sqrt(CAST(den_q AS DOUBLE) * CAST(den_p AS DOUBLE)))
               * (CAST(num AS DOUBLE)
                  / sqrt(CAST(den_q AS DOUBLE) * CAST(den_p AS DOUBLE)))
                   AS r2
        FROM (
            SELECT l_returnflag,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(q) AS sq, SUM(p) AS sp,
                   COUNT(*) * SUM(q * q) - SUM(q) * SUM(q) AS den_q,
                   COUNT(*) * SUM(p * p) - SUM(p) * SUM(p) AS den_p,
                   COUNT(*) * SUM(q * p) - SUM(q) * SUM(p) AS num
            FROM (
                SELECT l_returnflag,
                       CAST(CAST(l_quantity AS BIGINT) AS DECIMAL(38,0)) AS q,
                       CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                            AS DECIMAL(38,0)) AS p
                FROM lineitem
            )
            GROUP BY l_returnflag
        )
    """,
    tags=("agg", "stats", "ml"),
)
def agg_linear_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares line (price ~ quantity): slope, intercept,
    R² — the distributed regression primitive (drift monitors, quick
    feature screens, pricing sanity checks) on the same exact-sufficient-
    statistics machinery as agg_exact_moments: integer/DECIMAL(38) sums,
    classical cross-multiplied formulas in exact decimal, ONE cast to
    double per term, then an identical IEEE op sequence on both engines —
    bit-equal fit coefficients, pinned by the oracle hash. Price moments
    are cent-scaled for exactness; slope and intercept convert to currency
    units (/100) with the division sequenced identically on both sides so
    the doubles stay bit-equal. One tiny shuffle at any scale."""
    li = table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("bigint").cast("decimal(38,0)")
    p = (
        F.round(F.col("l_extendedprice") * 100)
        .cast("bigint")
        .cast("decimal(38,0)")
    )
    base = li.select("l_returnflag", q.alias("q"), p.alias("p"))
    agg = base.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("sq"),
        F.sum("p").alias("sp"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
        F.sum(F.col("p") * F.col("p")).alias("spp"),
        F.sum(F.col("q") * F.col("p")).alias("sqp"),
    )
    den_q = (F.col("n") * F.col("sqq") - F.col("sq") * F.col("sq")).cast(
        "double"
    )
    den_p = (F.col("n") * F.col("spp") - F.col("sp") * F.col("sp")).cast(
        "double"
    )
    num = (F.col("n") * F.col("sqp") - F.col("sq") * F.col("sp")).cast(
        "double"
    )
    slope = num / den_q / 100
    corr = num / F.sqrt(den_q * den_p)
    return agg.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        slope.alias("slope"),
        (
            (
                F.col("sp").cast("double") / 100
                - slope * F.col("sq").cast("double")
            )
            / F.col("n").cast("double")
        ).alias("intercept"),
        (corr * corr).alias("r2"),
    )


@query(
    "agg_weighted_avg",
    oracle="""
        SELECT l_returnflag,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                        * CAST(l_quantity AS BIGINT)) AS DOUBLE)
                   / CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / 100
                   AS wavg_price,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        FROM lineitem
        GROUP BY l_returnflag
    """,
    tags=("agg", "stats"),
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted average price per flag — the volume-weighted
    metric shape (VWAP, weighted quality scores, per-token averages).
    Exact int64 numerator (cents × integral quantity) and denominator,
    ONE double division sequence identical on both engines — the same
    order-proof discipline as the money sums, extended to ratios.
    Overflow headroom: Σ(cents·qty) ≤ 5e10/row — int64 carries ~2e8 rows
    per group before the documented DECIMAL fallback applies."""
    li = table(spark, sf_dir, "lineitem")
    num = F.sum(
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        * F.col("l_quantity").cast("bigint")
    )
    den = F.sum(F.col("l_quantity").cast("bigint"))
    return li.groupBy("l_returnflag").agg(
        (num.cast("double") / den.cast("double") / 100).alias("wavg_price"),
        den.cast("bigint").alias("total_qty"),
    )


@query(
    "agg_mode_deterministic",
    oracle="""
        WITH counted AS (
            SELECT l_returnflag, l_linestatus, l_quantity,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM lineitem GROUP BY 1, 2, 3
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                       PARTITION BY l_returnflag, l_linestatus
                       ORDER BY n DESC, l_quantity ASC
                   ) AS rn
            FROM counted
        )
        SELECT l_returnflag, l_linestatus,
               l_quantity AS modal_qty, n AS n_modal
        FROM ranked WHERE rn = 1
    """,
    tags=("agg", "stats"),
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode with an explicit smallest-value tiebreak. Built as
    count-then-top1 rather than the engines' native mode() because neither
    Spark (arbitrary on ties) nor DuckDB (first-seen) defines tie order —
    the explicit (n DESC, value ASC) rank is the only hash-stable contract.

    Scale: the count collapses map-side to |groups|×|distinct values| rows
    and the top-1 window runs on that bounded frame (WindowGroupLimit
    prunes to one row per group before the sort at scale)."""
    li = table(spark, sf_dir, "lineitem")
    counted = li.groupBy("l_returnflag", "l_linestatus", "l_quantity").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("l_returnflag", "l_linestatus").orderBy(
        F.col("n").desc(), F.col("l_quantity").asc()
    )
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("l_quantity").alias("modal_qty"),
            F.col("n").alias("n_modal"),
        )
    )


@query(
    "agg_rollup_grouping_id",
    oracle="""
        SELECT COALESCE(l_returnflag, '(all)') AS l_returnflag,
               COALESCE(l_linestatus, '(all)') AS l_linestatus,
               CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
                    AS BIGINT) AS gid,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("agg", "rollup"),
)
def agg_rollup_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with explicit grouping-level identification: GROUPING bits
    distinguish a real NULL group key from a rollup subtotal — the
    disambiguation every BI layer needs before it can render subtotal
    rows. Emitted as the composed bigint gid (flag-bit*2 + status-bit)
    because Spark's grouping_id() and DuckDB's GROUPING_ID() disagree on
    bit order conventions across dialects; composing from per-column
    GROUPING() bits is convention-free and hash-exact. Subtotal keys are
    COALESCEd to a sentinel so the output carries no ambiguous NULLs.
    One pass, partial-aggregated map-side like agg_rollup."""
    li = table(spark, sf_dir, "lineitem")
    g = li.rollup("l_returnflag", "l_linestatus").agg(
        (
            F.grouping("l_returnflag").cast("long") * 2
            + F.grouping("l_linestatus").cast("long")
        ).alias("gid"),
        F.count(F.lit(1)).alias("n"),
    )
    return g.select(
        F.coalesce("l_returnflag", F.lit("(all)")).alias("l_returnflag"),
        F.coalesce("l_linestatus", F.lit("(all)")).alias("l_linestatus"),
        "gid",
        "n",
    )


@query(
    "agg_weighted_median",
    oracle="""
        WITH pre AS (
            SELECT l_returnflag, l_linestatus,
                   CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
                   SUM(CAST(l_quantity AS DECIMAL(18,2))) AS w
            FROM lineitem
            GROUP BY l_returnflag, l_linestatus, price
        ),
        c AS (
            SELECT l_returnflag, l_linestatus, price,
                   SUM(w) OVER (
                       PARTITION BY l_returnflag, l_linestatus
                       ORDER BY price
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cw,
                   SUM(w) OVER (
                       PARTITION BY l_returnflag, l_linestatus
                   ) AS tw
            FROM pre
        )
        SELECT l_returnflag, l_linestatus,
               CAST(MIN(price) AS DOUBLE) AS weighted_median_price
        FROM c WHERE cw * 2 >= tw
        GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "percentile", "window"),
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median: the smallest price whose cumulative quantity
    weight reaches half the group total — the robust "typical price paid"
    statistic a plain median (per-row) or mean (skew-sensitive) misreads.

    r11 optimization round (guide §2.3/§2.5): the original one-pass form
    pre-aggregated to DISTINCT (group, price) — but prices are ~unique
    (583k distinct of 600k rows at sf0.1), so the "bounded" cumulative
    window in fact shuffled 597k rows into |groups| = 4 partitions and
    sorted ~150k rows per single task: a funnel that grows linearly with
    corpus size. Replaced with the classic two-phase exact quantile
    refinement, every step in exact decimal so the selected price is
    bit-identical to the one-pass form (equivalence proof in the inline
    comments; oracle unchanged):

      1. coarse: bucket price-cents (div 32768, ~340 buckets over the
         domain), one map-side-combined aggregation → ≤ |groups|×|buckets|
         rows; the cumulative window rides THIS tiny frame.
      2. crossing: the unique bucket per group where cumulative weight
         first reaches half the total (cw*2 >= tw AND (cw-w)*2 < tw).
      3. fine: re-scan only that bucket's rows per group (a broadcast
         join of the ≤|groups|-row crossing table), aggregate per price,
         and pick the smallest price where (base + within-bucket
         cumulative)*2 >= tw, base = cumulative weight below the bucket.

    The crossing price provably lies in the crossing bucket (cumulative
    weight through the previous bucket is < tw/2, through this one is
    >= tw/2, and weights are positive), so phases 1+3 select exactly the
    one-pass minimum. At 100 TB both windows stay |buckets|-bounded and
    the second scan touches ~1/|buckets| of the fact after pushdown."""
    grp = ["l_returnflag", "l_linestatus"]
    # all-integer internals (exact, and long sums codegen far cheaper than
    # decimal sums): quantity rides as exact CENTS (2dp-exact double ×100
    # rounds to the exact integer), the price stays the raw double —
    # distinct 2dp-exact doubles ↔ distinct DECIMAL(18,2) one-to-one and
    # in the same order, and double→DECIMAL(18,2)→double is the identity
    # for them (dec2 contract), so MIN(price) emits the oracle's bits
    li = table(spark, sf_dir, "lineitem").select(
        *grp,
        F.col("l_extendedprice").alias("price"),
        F.round(F.col("l_quantity") * 100).cast("long").alias("qc"),
    )
    # price cents are exact ≤ ~2^24 values: the /32768 double quotient is
    # exact and the floor is a monotone bucket id at any scale
    bucket = F.floor(F.round(F.col("price") * 100) / 32768).cast("long")
    coarse = li.groupBy(*grp, bucket.alias("bucket")).agg(
        F.sum("qc").alias("w")
    )
    wcum = (
        Window.partitionBy(*grp)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy(*grp)
    crossing = (
        coarse.select(
            *grp,
            "bucket",
            "w",
            F.sum("w").over(wcum).alias("cw"),
            F.sum("w").over(wtot).alias("tw"),
        )
        .where(
            (F.col("cw") * 2 >= F.col("tw"))
            & ((F.col("cw") - F.col("w")) * 2 < F.col("tw"))
        )
        .select(
            F.col(grp[0]).alias("g0"),
            F.col(grp[1]).alias("g1"),
            "bucket",
            (F.col("cw") - F.col("w")).alias("base"),
            "tw",
        )
    )
    fine = li.join(
        F.broadcast(crossing),
        (li[grp[0]] == F.col("g0"))
        & (li[grp[1]] == F.col("g1"))
        & (bucket == F.col("bucket")),
    )
    pre = fine.groupBy(*grp, "price", "base", "tw").agg(
        F.sum("qc").alias("w")
    )
    cum_in = F.sum("w").over(
        Window.partitionBy(*grp)
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        pre.select(*grp, "price", "base", "tw", cum_in.alias("cwi"))
        .where((F.col("base") + F.col("cwi")) * 2 >= F.col("tw"))
        .groupBy(*grp)
        .agg(F.min("price").cast("double").alias("weighted_median_price"))
    )


@query(
    "agg_gini_concentration",
    oracle="""
        WITH rev AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                        AS BIGINT) AS xc
            FROM orders GROUP BY o_custkey
        ),
        r AS (
            SELECT xc,
                   row_number() OVER (ORDER BY xc, o_custkey) AS rn
            FROM rev
        ),
        a AS (
            SELECT COUNT(*) AS n, SUM(xc) AS s, SUM(rn * xc) AS s1 FROM r
        )
        SELECT CAST(n AS BIGINT) AS n_customers,
               CAST(CAST(s AS DOUBLE) / 100 AS DOUBLE) AS total_revenue,
               CAST(2 * s1 - (n + 1) * s AS DOUBLE)
                   / CAST(n * s AS DOUBLE) AS gini
        FROM a
    """,
    tags=("agg", "rank", "scale"),
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration — the standard
    inequality readout over the per-customer revenue distribution
    (G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) with x sorted ascending).

    The EXACT global rank comes from `_util.range_numbered`, so it follows
    the engine's one size rule (`_util.fits_one_task`): a small revenue
    frame is ranked in one task, a larger one over range partitions with
    parallel local sorts — never a `row_number() OVER (ORDER BY x)` that
    funnels every customer through one WindowExec partition. Gini never
    needs the per-row rank column: with rank = local_rn + offset(partition),

        Σ rank·x = Σ_p [ Σ_local rn·x  +  offset(p) · Σ_local x ]

    so ONE pass over the numbered frame aggregates per-partition (count,
    Σx, Σ rn·x), the |partitions|-row result takes the prefix-sum offsets
    (`_util.rank_offset`), and the three global sums fall out — no
    persist, no second consumer, no broadcast join back. All sums run in
    integer cents (revenue decimals ×100; rank·cents products summed
    exactly in decimal/HUGEINT), so the final double quotient is
    bit-identical across engines. Revenue ties don't perturb G: equal x
    contribute x·Σranks regardless of which tied row gets which rank (and
    the (x, custkey) order key is unique anyway)."""
    o = table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        (F.sum(dec2("o_totalprice")) * 100).cast("long").alias("xc")
    )
    per = range_numbered(rev, ["xc", "o_custkey"]).groupBy("_sk_pid").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("xc").cast("decimal(38,0)")).alias("sx"),
        F.sum((F.col("_sk_rn") * F.col("xc")).cast("decimal(38,0)")).alias(
            "srx"
        ),
    )
    a = (
        per.withColumn("off", rank_offset())
        .agg(
            F.sum("cnt").alias("n"),
            F.sum("sx").alias("s"),
            F.sum(
                F.col("srx")
                + F.col("off").cast("decimal(38,0)") * F.col("sx")
            ).alias("s1"),
        )
    )
    n, s, s1 = F.col("n"), F.col("s"), F.col("s1")
    return a.select(
        n.alias("n_customers"),
        (s.cast("double") / 100).cast("double").alias("total_revenue"),
        (
            (2 * s1 - (n + 1) * s).cast("double") / (n * s).cast("double")
        ).alias("gini"),
    )
