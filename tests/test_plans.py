"""Physical-plan shape assertions (SURVEY.md §4 / the 100 TB design point):
filters and projections must reach the parquet scan, tiny dims must
broadcast, and top-k must plan as TakeOrderedAndProject — not a full sort.
These guard against regressions that stay correct but stop scaling."""

from __future__ import annotations

import json
import os

from omnidata_etl_spark.registry import all_specs
from perfbench.layers import python_boundary_nodes

_SPECS = all_specs()


def _plan(spark, sf_dir, name: str) -> str:
    df = _SPECS[name].fn(spark, sf_dir)
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushed_to_parquet_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "filter_numeric")
    assert "PushedFilters:" in plan
    assert "GreaterThan(l_quantity,30" in plan.replace(" ", "")


def test_projection_pruned_at_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "project_columns")
    # ReadSchema carries only the 3 selected columns
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "c_custkey" in read and "c_name" in read and "c_mktsegment" in read
    assert "c_acctbal" not in read and "c_nationkey" not in read


def test_dim_join_broadcasts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_broadcast_dims")
    assert "BroadcastHashJoin" in plan
    assert "ShuffleExchange" not in plan  # zero-shuffle dim join


def test_star_join_broadcasts_dims(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_multiway_star")
    assert plan.count("BroadcastHashJoin") >= 2  # nation + region at least


def test_topk_plans_as_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "order_multi_nulls")
    assert "TakeOrderedAndProject" in plan  # never a global Sort for LIMIT


def test_semi_anti_plan_as_joins(spark, sf_dir):
    assert "LeftSemi" in _plan(spark, sf_dir, "join_semi")
    assert "LeftAnti" in _plan(spark, sf_dir, "join_anti")


def test_bucketed_join_needs_no_shuffle(spark, sf_dir):
    """Bucketing as the co-located-join layout (SURVEY.md scale list): both
    sides bucketed on the join key → sort-merge join reads buckets directly,
    with NO shuffle exchange in the plan."""
    import uuid

    from pyspark.sql import functions as F

    from omnidata_etl_spark.catalog import table

    suffix = uuid.uuid4().hex[:8]
    lt, ot = f"b_lineitem_{suffix}", f"b_orders_{suffix}"
    table(spark, sf_dir, "lineitem").write.bucketBy(4, "l_orderkey").sortBy(
        "l_orderkey"
    ).saveAsTable(lt)
    table(spark, sf_dir, "orders").write.bucketBy(4, "o_orderkey").sortBy(
        "o_orderkey"
    ).saveAsTable(ot)
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = spark.table(lt).join(
                spark.table(ot),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            plan = spark._jvm.PythonSQLUtils.explainString(
                j._jdf.queryExecution(), "formatted"
            )
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan  # co-located: no shuffle at all
            assert j.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {lt}")
        spark.sql(f"DROP TABLE IF EXISTS {ot}")


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """The 100 TB layout skill: write partitioned by a filter column, read
    back with that filter → the scan must list only the matching partition
    (partition pruning), not scan-then-filter."""
    from pyspark.sql import functions as F

    from omnidata_etl_spark.catalog import table

    out = str(tmp_path / "docs_by_lang")
    table(spark, sf_dir, "documents").write.partitionBy("lang").parquet(out)
    df = spark.read.parquet(out).filter(F.col("lang") == "en")
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    part = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part and "lang" in part[0] and "= en" in part[0]
    # fully pruned: lang never appears as a pushed *data* filter
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert not pushed or "lang" not in pushed[0]
    # and the result is correct
    n_en = table(spark, sf_dir, "documents").filter(F.col("lang") == "en").count()
    assert df.count() == n_en


def test_pricing_summary_partial_agg(spark, sf_dir):
    # map-side partial aggregation before the shuffle (two HashAggregates)
    plan = _plan(spark, sf_dir, "agg_pricing_summary")
    assert plan.count("HashAggregate") >= 2


def test_q7_broadcasts_both_nation_roles(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q7_volume_shipping")
    assert plan.count("BroadcastHashJoin") >= 2  # nation x2
    # shipdate range reaches the lineitem scan (assert on the scan's
    # PushedFilters line itself, not anywhere in the plan text)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("l_shipdate" in l for l in pushed)


def test_q8_dims_broadcast_facts_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q8_market_share")
    # part, supplier, nation x2, region all broadcast
    assert plan.count("BroadcastHashJoin") >= 4
    # the p_type filter prunes the part scan, not post-join
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("p_type" in l for l in pushed)


def test_q15_scan_budget_and_pushdown(spark, sf_dir):
    """revenue0 is a persisted derived view feeding both the scalar MAX and
    the join: lineitem must be scanned ONCE (inside the cached relation,
    with the quarter filter pushed) and both consumers must read the cache
    (InMemoryTableScan), never a second parquet scan of the fact table."""
    plan = _plan(spark, sf_dir, "tpch_q15_top_supplier")
    assert "InMemoryTableScan" in plan
    pushed = [
        l
        for l in plan.splitlines()
        if "PushedFilters" in l and "l_shipdate" in l
    ]
    assert len(pushed) >= 1
    # both consumers read the cache: the cached relation is referenced at
    # least twice (the InMemoryRelation's own details re-print its inner
    # parquet scan, so raw scan counts cannot isolate distinct scans)
    assert plan.count("InMemoryTableScan") >= 2


def test_q19_extracts_common_equi_key(spark, sf_dir):
    """OR-of-ANDs must still plan as an equi join on p_partkey (hash or
    broadcast), never a nested-loop cross product."""
    plan = _plan(spark, sf_dir, "tpch_q19_discounted_revenue")
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q21_single_scan_window_form(spark, sf_dir):
    """Round-3 Q21: the EXISTS/NOT-EXISTS pair is derived from windowed
    order statistics, not lineitem self-joins — exactly ONE lineitem scan
    (plus the finalized-orders semi join), and Window nodes present."""
    plan = _plan(spark, sf_dir, "tpch_q21_waiting_supplier")
    assert "LeftAnti" not in plan
    assert "Window" in plan
    assert plan.count("lineitem") == 1


def test_q17_q18_single_scan_forms(spark, sf_dir):
    """Round-3 Q17/Q18: one lineitem leg each. Q17 keeps the window form
    (its filter is LINE-level against a per-part aggregate); Q18's output
    is pure order-level, so it must plan as a plain partial aggregation —
    HashAggregate with NO Window (a window would sort every fact row the
    partial agg collapses map-side)."""
    plan17 = _plan(spark, sf_dir, "tpch_q17_small_quantity_revenue")
    assert "Window" in plan17
    assert plan17.count("lineitem") == 1
    plan18 = _plan(spark, sf_dir, "tpch_q18_large_orders")
    assert "Window" not in plan18
    assert "HashAggregate" in plan18
    assert plan18.count("lineitem") == 1
    # r10: the fact-DERIVED big-orders frame must never be a broadcast
    # build side — it grows with lineitem (caught OOMing a 1g driver at
    # x10; at 100 TB it is billions of rows). The merge hint pins the
    # big<->orders join to SMJ; the customer dim join may still broadcast.
    assert "SortMergeJoin" in plan18


def test_runtime_bloom_filter_prefilters_probe_side(spark, sf_dir):
    """Runtime Bloom-filter join reduction — the semi-join pushdown that
    matters at 100 TB: a selective dim-side filter materializes a Bloom
    filter (bloom_filter_agg) that is applied as `might_contain` on the
    fact scan BEFORE the shuffle, so filtered-out rows never ship.
    Thresholds are lowered to force injection at test scale; at production
    sizes the defaults trigger it on any selective build side."""
    from pyspark.sql import functions as F

    from omnidata_etl_spark.catalog import table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "10KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        o = table(spark, sf_dir, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = table(spark, sf_dir, "lineitem")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = spark._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted"
        )
        assert "might_contain" in plan  # probe side prefiltered
        assert "bloom_filter_agg" in plan  # build side produced the filter
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_money_sums_stay_on_int64_path(spark, sf_dir):
    """The cents fast path must not regress to BigDecimal buffers: the
    optimized aggregation plan for the pricing summary carries bigint sum
    buffers and no decimal(28,2) (the promoted type a sum(decimal(18,2))
    would force — measured 2x slower, PLANS.md round-2 section)."""
    from omnidata_etl_spark.registry import all_specs

    df = all_specs()["agg_pricing_summary"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "decimal(28,2)" not in plan
    assert "sum(" in plan


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """Partition-pruning at runtime (DPP): joining a partitioned fact on its
    partition column against a filtered dim injects a dynamicpruning
    subquery into the fact scan, so only matching partitions are read —
    the scan-elimination that makes partitioned 100 TB layouts queryable."""
    from pyspark.sql import functions as F

    from omnidata_etl_spark.catalog import table

    fact_dir = str(tmp_path / "orders_by_status")
    table(spark, sf_dir, "orders").write.partitionBy("o_orderstatus").parquet(
        fact_dir
    )
    fact = spark.read.parquet(fact_dir)
    # DPP's planner heuristic requires a SELECTIVE predicate on the build
    # side (an unfiltered dim would prune nothing, so no subquery is
    # injected) — the segment filter below is that predicate.
    dim = (
        table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select(
            F.when(F.col("c_custkey") % 2 == 0, "F")
            .otherwise("O")
            .alias("status")
        )
        .distinct()
    )
    j = fact.join(
        F.broadcast(dim), fact.o_orderstatus == dim.status
    ).groupBy("o_orderstatus").count()
    plan = spark._jvm.PythonSQLUtils.explainString(
        j._jdf.queryExecution(), "formatted"
    )
    assert "dynamicpruningexpression" in plan.lower(), plan[:2000]
    assert j.count() > 0  # pruned scan still returns the matching statuses


def test_rolling_shingles_are_map_only(spark, sf_dir):
    """The shingle-hash producer must stay a pure map: no Window, no
    Exchange anywhere in its plan (the r3 formulation war: the LEAD-window
    variant cost a corpus-wide shuffle+sort; the chosen posexplode +
    0-based array-index form has none). A regression here silently adds a
    1x-corpus shuffle to every dedup/decontamination pipeline."""
    from omnidata_etl_spark.catalog import table
    from omnidata_etl_spark.queries.dedup import rolling_shingle_hashes

    df = rolling_shingle_hashes(table(spark, sf_dir, "documents"), 5)
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Window" not in plan
    # spread()'s round-robin fan-out is the only allowed exchange: no
    # hash/range partitioning means no data-dependent shuffle anywhere
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan


def test_minhash_pipeline_exchange_budget(spark, sf_dir):
    """dedup_near_minhash's main pipeline must not re-shuffle the shingle
    ARRAYS: after the collect_set clustering, minhash consumes them in
    place (r3 removed a redundant repartition(doc_id) that shuffled the
    heaviest intermediate once per consumer). Pin the property by counting
    hashpartitioning exchanges keyed on doc_id-bearing columns: the set
    build + signature agg account for the expected budget."""
    from omnidata_etl_spark.queries.dedup import (
        _shingle_sets,
        minhash_signatures,
    )

    sigs = minhash_signatures(_shingle_sets(spark, sf_dir, n=5))
    plan = spark._jvm.PythonSQLUtils.explainString(
        sigs._jdf.queryExecution(), "formatted"
    )
    # one exchange for the collect_set groupBy, one for the signature
    # groupBy (the union with short docs breaks co-partitioning), plus the
    # spread round-robin — but NO third doc_id hash exchange
    n_hash_exchanges = plan.count("hashpartitioning(doc_id")
    assert n_hash_exchanges <= 2, plan[:2000]


def test_q5_fact_never_broadcast_build_side(spark, sf_dir):
    """The r4 regression guard: projection pruning deflated lineitem's size
    estimate under the broadcast threshold and the planner chose the
    600k-row FACT as a BroadcastHashJoin build side (single-threaded hash
    build locally, OOM at cluster scale). The dim-first rewrite must keep
    every broadcast build side fact-free: no BroadcastExchange subtree may
    scan lineitem."""
    plan = _plan(spark, sf_dir, "tpch_q5_local_supplier")
    assert "BroadcastHashJoin" in plan  # dims do broadcast
    # The broadcast-a-fact plan put lineitem's scan (the only scan reading
    # l_extendedprice) UNDER a BroadcastExchange. In the formatted tree,
    # ancestors are the operators with smaller indentation above a node:
    # assert the lineitem scan has no BroadcastExchange ancestor.
    tree_lines = plan.split("\n\n", 1)[0].splitlines()

    def indent(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    scan_ids = [i for i, l in enumerate(tree_lines) if "Scan parquet" in l]
    detail = plan.split("\n\n", 1)[1] if "\n\n" in plan else ""
    # find which tree scan is lineitem via the detail blocks
    import re

    li_nodes = {
        m.group(1)
        for m in re.finditer(r"\((\d+)\) Scan parquet[\s\S]*?Location:[^\n]*lineitem", detail)
    }
    for i in scan_ids:
        node = re.search(r"\((\d+)\)", tree_lines[i])
        if not node or node.group(1) not in li_nodes:
            continue
        my_indent = indent(tree_lines[i])
        for j in range(i - 1, -1, -1):
            if indent(tree_lines[j]) < my_indent:
                my_indent = indent(tree_lines[j])
                assert "BroadcastExchange" not in tree_lines[j], (
                    "lineitem scan feeds a BroadcastExchange "
                    "(broadcast-a-fact antipattern)"
                )
    # and the residual fact join still shuffles
    assert "hashpartitioning" in plan


def test_bm25_single_agg_no_posting_shuffle(spark, sf_dir):
    """BM25 is one tokenize→explode feeding ONE per-doc aggregation
    (conditional tf sums), corpus stats reduced to one broadcast row, and
    a TakeOrderedAndProject top-k — no per-term shuffle, no cartesian."""
    plan = _plan(spark, sf_dir, "text_bm25_topk")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # per_doc is persisted and consumed by BOTH the scoring side and the
    # broadcast stats row: documents must be scanned/exploded ONCE (the
    # cache materialization). The formatted tree re-displays the cached
    # subtree under each InMemoryTableScan, so count DISTINCT scan node
    # ids, not text occurrences.
    import re

    tree = plan.split("\n\n", 1)[0]
    scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", tree))
    assert len(scan_ids) <= 1, f"corpus scanned per-consumer: {scan_ids}"
    assert tree.count("InMemoryTableScan") >= 2  # both consumers hit cache
    # one-row stats side arrives via broadcast, not shuffle
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_stratified_sample_single_shuffle(spark, sf_dir):
    import re

    plan = _plan(spark, sf_dir, "etl_sample_stratified")
    tree = plan.split("\n\n", 1)[0]
    # one shuffle (stratum key), and Spark's rank-limit pushdown keeps a
    # partial top-5 per group BEFORE the exchange so the shuffle carries
    # ≤5 rows per (partition, stratum), not the corpus
    shuffles = re.findall(r"(?<!Broadcast)Exchange \(\d+\)", tree)
    assert len(shuffles) == 1, tree
    assert tree.count("WindowGroupLimit") == 2  # Partial + Final
    assert "CartesianProduct" not in plan


def test_q2_decorrelated_single_supply_scan(spark, sf_dir):
    """Q2's correlated MIN is expressed as a per-part window over the
    joined offers: lineitem (the supply fact) must be scanned exactly
    once — the naive correlated form would scan it twice (once for the
    MIN subquery, once for the outer join)."""
    import re

    plan = _plan(spark, sf_dir, "tpch_q2_min_cost_supplier")
    detail = plan.split("\n\n", 1)[1] if "\n\n" in plan else plan
    li = re.findall(r"Scan parquet[\s\S]{0,400}?Location:[^\n]*lineitem", detail)
    assert len(li) == 1, f"supply fact scanned {len(li)}x"
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # dims broadcast


def test_q20_single_fact_pass(spark, sf_dir):
    """Q20's share threshold is decorrelated into two conditional sums in
    ONE groupBy — one lineitem scan, one fact exchange; part IN-list and
    the qualifying-supplier set travel as broadcast semi joins."""
    import re

    plan = _plan(spark, sf_dir, "tpch_q20_promo_share_suppliers")
    detail = plan.split("\n\n", 1)[1] if "\n\n" in plan else plan
    li = re.findall(r"Scan parquet[\s\S]{0,400}?Location:[^\n]*lineitem", detail)
    assert len(li) == 1, f"fact scanned {len(li)}x"
    tree = plan.split("\n\n", 1)[0]
    shuffles = re.findall(r"(?<!Broadcast)Exchange \(\d+\)", tree)
    assert len(shuffles) == 1, tree


def test_unpartitioned_windows_sit_above_small_frames(spark, sf_dir):
    """The WindowExec 'No Partition Defined' warning is acceptable ONLY
    when the single-partition exchange carries a cardinality-reduced frame
    (an aggregate output or a bounded dim), never corpus/fact rows. Pin it
    two ways (r4 verdict #6 / r5 #8):

    1. Source allow-list: every partition-less Window in the package is a
       known site — adding a new one forces this test to be updated (and
       its frame size argued).
    2. Plan shape: for each registry query among those sites, the Window's
       subtree contains the cardinality reducer (HashAggregate) or scans
       only a bounded dim (region: 5 rows at every SF).
    """
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parent.parent / "omnidata_etl_spark"
    sites = set()
    for p in sorted(pkg.rglob("*.py")):
        text = p.read_text()
        if re.search(r"Window\.orderBy\(|Window\.partitionBy\(\)", text):
            sites.add(str(p.relative_to(pkg)))
    assert sites == {
        "queries/_util.py",      # rank_offset: prefix-sum over per-partition COUNTs
        "queries/projections.py",  # surrogate_key over `region` (5 rows)
        "queries/text.py",       # vocab total over groupBy(tok) output
        "queries/events.py",     # cumulative sum over per-day aggregates
        "queries/windows.py",    # share-of-total over groupBy(o_orderstatus) (3 rows)
        "queries/reshape.py",    # MoM lag over groupBy(month) (~80 rows)
        # etl_curriculum_stages: grand total over the per-PARTITION count
        # frame (|partitions| rows at any SF)
        "queries/quality.py",
    }, f"new unpartitioned-window site(s): {sites}"

    def window_subtrees_reduced(name: str, dim_ok: bool = False) -> None:
        plan = _plan(spark, sf_dir, name)
        tree = plan.split("\n\n", 1)[0].splitlines()

        def indent(line: str) -> int:
            return len(line) - len(line.lstrip(" :+-*"))

        for i, line in enumerate(tree):
            if not re.search(r"\bWindow\b", line):
                continue
            my = indent(line)
            subtree = []
            for j in range(i + 1, len(tree)):
                if indent(tree[j]) <= my:
                    break
                subtree.append(tree[j])
            sub = "\n".join(subtree)
            ok = "HashAggregate" in sub or "SortAggregate" in sub
            if dim_ok and not ok:
                # dim-scan case: subtree reads no fact/corpus table
                detail = plan.split("\n\n", 1)[1]
                ok = not re.search(
                    r"Location:[^\n]*(lineitem|orders|documents|events|"
                    r"customer|part|supplier|embeddings)",
                    detail,
                )
            assert ok, f"{name}: unpartitioned Window over unreduced frame:\n{sub}"

    window_subtrees_reduced("surrogate_key", dim_ok=True)
    window_subtrees_reduced("text_perplexity_proxy")
    window_subtrees_reduced("events_daily_user_growth")
    window_subtrees_reduced("window_share_of_total")
    window_subtrees_reduced("text_zipf_fit")
    window_subtrees_reduced("agg_percent_change_mom")
    window_subtrees_reduced("agg_gini_concentration")
    window_subtrees_reduced("etl_curriculum_stages")


def test_q11_no_unpartitioned_window_and_single_fact_pass(spark, sf_dir):
    """r7 (ADVICE medium): q11's scalar totals must NOT ride an
    unpartitioned Window over the per-part frame — part cardinality is
    SF-linear, so that single-partition exchange is unbounded at scale.
    Pins the replacement shape: no Window at all, the per-part aggregate
    persisted (InMemoryRelation) so the fact join runs once for both the
    totals branch and the filter branch, and totals arrive via a
    broadcast join of a one-row aggregate."""
    plan = _plan(spark, sf_dir, "tpch_q11_important_value")
    tree = plan.split("\n\n", 1)[0]
    assert "Window" not in tree
    assert "InMemoryTableScan" in tree or "InMemoryRelation" in plan
    assert "BroadcastNestedLoopJoin" in tree or "BroadcastHashJoin" in tree


def test_tfidf_builds_lazily_no_job(spark, sf_dir):
    """r7 (r6 verdict #4): text_tfidf_topterms previously ran an eager
    docs.count() inside the builder — the only declared query executing a
    Spark job before its returned DataFrame did. Pin the fix: a repeat
    build (handle caches warm — the first build may read parquet footers)
    schedules NO job; the corpus count is a lazy one-row aggregate riding
    the df_t broadcast instead."""
    _SPECS["text_tfidf_topterms"].fn(spark, sf_dir)  # warm handle caches
    sc = spark.sparkContext
    sc.setJobGroup("tfidf-build-check", "assert lazy build")
    try:
        _SPECS["text_tfidf_topterms"].fn(spark, sf_dir)
        ids = sc.statusTracker().getJobIdsForGroup("tfidf-build-check")
    finally:
        sc._jsc.clearJobGroup()
    assert list(ids) == [], f"build ran jobs: {ids}"


def test_q4_derived_shipdate_bound_reaches_scan(spark, sf_dir):
    """r6 rewrite pins: (a) the derived bound l_shipdate > 1996-08-30
    (quarter start + 60 days — underivable by Catalyst across the
    non-equi join conjunct) is pushed into the lineitem scan, (b) the
    lineitem side pre-aggregates to per-order MAX below the join (no
    per-line rows cross the join), (c) the scan reads only the two
    needed columns."""
    plan = _plan(spark, sf_dir, "tpch_q4_priority_late_ship")
    flat = plan.replace(" ", "")
    assert "GreaterThan(l_shipdate,1996-08-30" in flat
    detail = plan.split("\n\n", 1)[1]
    import re

    li_read = re.search(
        r"Scan parquet[\s\S]{0,800}?Location:[^\n]*lineitem[\s\S]{0,400}?"
        r"ReadSchema: (\S+)",
        detail,
    )
    assert li_read and set(
        re.findall(r"(\w+):", li_read.group(1))
    ) <= {"struct", "l_orderkey", "l_shipdate"}
    # pre-agg below the join: a HashAggregate with max(l_shipdate) exists
    assert "max(l_shipdate" in plan


def test_q3_preagg_and_semi_reduction(spark, sf_dir):
    """r6 rewrite pins: revenue pre-aggregates per order below the join
    (partial_sum over the shipdate sliver), orders semi-reduce via the
    key-only customer projection (LeftSemi), and no fact ends up as a
    forced broadcast build side (the c_custkey projection may broadcast —
    it is key-only)."""
    import re

    plan = _plan(spark, sf_dir, "tpch_q3_shipping_priority")
    assert "LeftSemi" in plan
    assert re.search(r"partial_sum", plan), "revenue agg not partial below join"
    detail = plan.split("\n\n", 1)[1]
    cust = re.search(
        r"Scan parquet[\s\S]{0,800}?Location:[^\n]*customer[\s\S]{0,400}?"
        r"ReadSchema: (\S+)",
        detail,
    )
    assert cust and set(re.findall(r"(\w+):", cust.group(1))) <= {
        "struct", "c_custkey", "c_mktsegment",
    }, "customer side is not a key-only projection (+ filter column)"


def test_ann_pq_plans_take_ordered_no_extra_exchange(spark, sf_dir):
    """The PQ/IVF-PQ ADC scans must plan as: scan → (Arrow eval) encode →
    filter/project → TakeOrderedAndProject — top-k never a global Sort,
    and the probe filter sits below the distance projection so unprobed
    rows do no distance work (visible as Filter before the ADC project
    in the IVF-PQ plan)."""
    for name in ("ann_pq_topk", "ann_ivf_pq_topk"):
        plan = _plan(spark, sf_dir, name)
        tree = plan.split("\n\n", 1)[0]
        assert "TakeOrderedAndProject" in tree, name
        assert "ArrowEvalPython" in tree or "BatchEvalPython" in tree, name
        assert "CartesianProduct" not in tree, name


def test_q9_single_fact_exchange_and_unhinted_orders_join(spark, sf_dir):
    """r8: q9's orders join is UNHINTED — the planner/AQE chooses (a
    broadcast of the 2-column projected orders at bench scale, sort-merge
    on the established l_orderkey partitioning at cluster scale). Pins
    (a) exactly ONE hashpartitioning exchange on l_orderkey alone (the
    explicit repartition that serves BOTH the pre-agg and the join — the
    single-fact-exchange trick), and (b) the pre-aggregation sits BELOW
    the orders join: the plan's only fact-side aggregate keys include
    l_orderkey, so per-line rows never reach the join."""
    import re

    plan = _plan(spark, sf_dir, "tpch_q9_product_profit")
    tree = plan.split("\n\n", 1)[0]
    fact_exchanges = re.findall(
        r"hashpartitioning\(l_orderkey#\d+L?, \d+\)", plan
    )
    assert len(fact_exchanges) == 1, (
        f"expected exactly one l_orderkey-only exchange, got "
        f"{fact_exchanges} in:\n{tree}"
    )
    assert re.search(r"Keys \[2\]: \[l_orderkey#\d+L?, nation#\d+\]", plan), (
        "pre-aggregation below the orders join went missing"
    )


def test_rollup_multires_reuses_hourly_exchange(spark, sf_dir):
    """The cascading rollup's daily branch must re-aggregate the HOURLY
    partials, not rescan base: after AQE finalizes, the union's second
    branch reads a ReusedExchange of the hourly aggregation (one
    FileScan at runtime)."""
    df = _SPECS["events_rollup_multires"].fn(spark, sf_dir)
    df.collect()  # materialize so AQE settles the final plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan


def test_mode_deterministic_windowgrouplimit(spark, sf_dir):
    """Top-1-per-group must prune below the rank window (Partial+Final
    WindowGroupLimit) so only one candidate row per group reaches the
    final sort at scale."""
    df = _SPECS["agg_mode_deterministic"].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # toString() prints "== Final Plan ==" then "== Initial Plan ==": count
    # in the plan that ran only, or each node counts twice
    final = plan.split("== Initial Plan ==")[0].splitlines()
    limits = [l.rstrip() for l in final if "WindowGroupLimit" in l]
    assert len(limits) == 2, plan
    assert limits[0].endswith(", Final") and limits[1].endswith(", Partial"), plan


def test_range_bucketed_join_never_cartesian(spark, sf_dir):
    """The no-equi-key interval join must plan as an equi join on the
    bucket column (+ residual range predicate), never a cartesian/BNLJ
    over the corpus."""
    plan = _plan(spark, sf_dir, "join_range_bucketed")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _final_plan(spark, sf_dir, name: str) -> list[str]:
    """Executed plan lines after a collect, so AQE has settled the final
    plan (toString() prints "== Final Plan ==" then "== Initial Plan ==")."""
    df = _SPECS[name].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0].splitlines()


def test_two_pass_ranks_reuse_or_single_range_exchange(
    spark, sf_dir, two_phase_key
):
    """The two-pass distributed ranks must not depend on RangePartitioner
    sampling determinism (Spark seeds range-bound sampling with the RDD
    id — VERDICT r11 #4): their safety argument is structural. For
    agg_gini_concentration the rank has exactly ONE consumer of the range
    exchange, so the plan must hold exactly one
    `Exchange rangepartitioning`. For etl_curriculum_stages the offsets
    branch and the stage projection both read the SAME range exchange —
    the executed plan must materialize it once and serve the second
    consumer a ReusedExchange/reused stage, never two independently
    sampled range exchanges (which could silently skew ranks if a future
    edit makes the subtrees non-identical). The test inputs fit
    ONE_TASK_MAX_BYTES, so two_phase_key forces the range path."""
    def count_range(lines):
        mat = [
            l for l in lines
            if "Exchange rangepartitioning" in l and "ReusedExchange" not in l
        ]
        reused = [
            l for l in lines
            if "ReusedExchange" in l and "rangepartitioning" in l
        ]
        return len(mat), len(reused)

    mat, _ = count_range(_final_plan(spark, sf_dir, "agg_gini_concentration"))
    assert mat == 1, f"gini: expected 1 materialized range exchange, got {mat}"

    mat, reused = count_range(_final_plan(spark, sf_dir, "etl_curriculum_stages"))
    assert mat == 1 and reused >= 1, (
        f"curriculum: expected one materialized range exchange plus a "
        f"ReusedExchange, got {mat} materialized / {reused} reused"
    )


def test_small_ranks_run_in_one_task(spark, sf_dir):
    """At default settings both rank queries' inputs fit ONE_TASK_MAX_BYTES:
    range_numbered coalesces to one partition, so the plan holds no range
    exchange, and each `_sk_pid` aggregate reads the helper's one-task sort
    with no Exchange between them."""
    for name in ("agg_gini_concentration", "etl_curriculum_stages"):
        lines = _final_plan(spark, sf_dir, name)
        assert not any("rangepartitioning" in l for l in lines), name
        aggs = [i for i, l in enumerate(lines) if "HashAggregate(keys=[_sk_pid" in l]
        assert aggs, name
        for i in aggs:
            j = next(
                k for k in range(i + 1, len(lines) - 1)
                if "Sort [" in lines[k] and "Coalesce 1" in lines[k + 1]
            )
            between = lines[i:j]
            assert not any("Exchange" in l for l in between), (
                name + "\n" + "\n".join(lines)
            )


# --- per-query plan budget ---------------------------------------------------

_BUDGET = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plan_budget.json")


def plan_counts(df) -> dict[str, int]:
    """Node counts of `df`'s pre-AQE physical plan (`sparkPlan()`), before
    exchanges are added for joins and aggregates: what the builder asked
    for, not what the planner's core-count-dependent choices add. The walk
    follows children only, so a cached frame counts as a leaf: the plan
    printed under its InMemoryRelation reads differently once an earlier
    action has run it."""
    names, stack = [], [df._jdf.queryExecution().sparkPlan()]
    while stack:
        node = stack.pop()
        names.append(node.nodeName())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.length()))
    return {
        "exchange": names.count("Exchange"),
        "python_boundary": python_boundary_nodes("\n".join(names)),
    }


def test_plan_budget(spark, sf_dir):
    """Every registry query that is neither in NO_PREPARE nor streaming
    keeps the explicit exchanges and Python-boundary nodes recorded in
    tests/plan_budget.json (sf0.001). (A pre-AQE plan holds no
    ReusedExchange, so exchange reuse is checked on the executed plan, by
    test_two_pass_ranks_reuse_or_single_range_exchange.) An added
    repartition or Python map turns this red; to accept one, copy the
    printed counts into the budget."""
    from omnidata_etl_spark.registry import NO_PREPARE

    with open(_BUDGET) as f:
        budget = json.load(f)
    got = {}
    for name, spec in _SPECS.items():
        if name in NO_PREPARE:
            continue
        df = spec.fn(spark, sf_dir)
        if not df.isStreaming:
            got[name] = plan_counts(df)
    bad = [
        f"{name}: budget {json.dumps(budget.get(name))} plan {json.dumps(got.get(name))}"
        for name in sorted(set(budget) | set(got))
        if budget.get(name) != got.get(name)
    ]
    assert not bad, "plan budget broken:\n" + "\n".join(bad)
