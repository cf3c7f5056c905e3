"""Behavioral checks for the quality/sampling operators (rows-only keys)."""

from __future__ import annotations

from omnidata_etl_spark.catalog import table
from omnidata_etl_spark.registry import all_specs


def _sample_counts(spark, sf_dir):
    from omnidata_etl_spark.queries.quality import stratified_sample

    docs = table(spark, sf_dir, "documents")
    return sorted(
        (r["lang"], r["n"])
        for r in stratified_sample(docs).groupBy("lang").count()
        .withColumnRenamed("count", "n").collect()
    )


def test_stratified_sample_deterministic(spark, sf_dir):
    assert _sample_counts(spark, sf_dir) == _sample_counts(spark, sf_dir)


def test_stratified_sample_envelope_holds(spark, sf_dir):
    """The registered query's acceptance-envelope verdict (the oracle-
    hashed self-evidence) must hold for every stratum, and the envelope
    must be non-trivial (lo > 0 for the seeded corpus strata)."""
    rows = all_specs()["sample_bernoulli_strata"].fn(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["envelope_ok"], r
        assert 0 < r["env_lo"] < r["env_hi"], r


def test_stratified_sample_fractions_plausible(spark, sf_dir):
    src = {
        r["lang"]: r["n"]
        for r in table(spark, sf_dir, "documents")
        .groupBy("lang")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    got = dict(_sample_counts(spark, sf_dir))
    assert set(got) <= set(src)
    for lang, n in got.items():
        assert 0 < n <= src[lang]
    # the 'en' stratum is downsampled 0.25 vs 0.8 elsewhere: its keep-rate
    # must be well below any other stratum's
    rates = {lang: got.get(lang, 0) / src[lang] for lang in src}
    assert rates["en"] < min(v for k, v in rates.items() if k != "en")


def test_approx_percentiles_within_declared_bound(spark, sf_dir):
    """The GK sketch's rank guarantee must verify against the exact counts
    on every group (the within_bound self-evidence column)."""
    from omnidata_etl_spark.registry import all_specs

    rows = all_specs()["agg_approx_percentiles_checked"].fn(spark, sf_dir).collect()
    assert rows
    assert all(r["within_bound"] for r in rows)


def test_observation_rides_a_real_write(spark, sf_dir, tmp_path):
    """The production form of etl_observed_metrics: metrics ride the sink
    write itself (the declared query drives the observation with count() to
    keep the bench free of a full-table copy — this pins that the same
    observation works on the real write action, at zero extra scans)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    obs = Observation("write_metrics")
    observed = li.observe(
        obs, F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )
    out = str(tmp_path / "observed_write")
    observed.write.mode("overwrite").parquet(out)
    assert obs.get["n_rows"] == li.count()
    assert spark.read.parquet(out).count() == obs.get["n_rows"]


def test_corpus_mix_weights_and_determinism(spark, sf_dir):
    fn = all_specs()["etl_corpus_mix"].fn
    kept = {(r["doc_id"], r["source"]) for r in fn(spark, sf_dir).collect()}
    docs = table(spark, sf_dir, "documents").select("doc_id", "source").collect()
    by_source: dict[str, int] = {}
    for r in docs:
        by_source[r["source"]] = by_source.get(r["source"], 0) + 1
    kept_by_source: dict[str, int] = {}
    for _, src in kept:
        kept_by_source[src] = kept_by_source.get(src, 0) + 1
    # benchmark source fully excluded; curated sources fully kept
    assert "src0" not in kept_by_source
    for s in ("src1", "src2", "src3", "src4"):
        assert kept_by_source.get(s, 0) == by_source[s]
    # crawl sources thinned (strictly between 0% and 100% in aggregate)
    crawl_total = sum(n for s, n in by_source.items()
                     if s not in ("src0", "src1", "src2", "src3", "src4"))
    crawl_kept = sum(n for s, n in kept_by_source.items()
                    if s not in ("src1", "src2", "src3", "src4"))
    assert 0 < crawl_kept < crawl_total
    # rerun-stable row-for-row
    assert kept == {(r["doc_id"], r["source"]) for r in fn(spark, sf_dir).collect()}


def test_pii_redact_scrubs_everything(spark, sf_dir):
    import re

    rows = all_specs()["text_pii_redact"].fn(spark, sf_dir).collect()
    email = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
    phone = re.compile(r"\+?[0-9][0-9-]{6,}[0-9]")
    for r in rows:
        assert not email.search(r["redacted"]), r
        assert not phone.search(r["redacted"]), r
        assert r["n_email"] == 1
        assert r["n_phone"] == (0 if r["doc_id"] % 3 == 0 else 1)
        assert "[EMAIL]" in r["redacted"]


def test_repetition_score_orders_planted_docs(spark):
    # repetitive doc vs all-distinct doc: the declared formula must
    # separate them (same expressions as text_repetition_score, applied to
    # a planted frame since the registered builder reads the catalog table)
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "spam spam spam spam spam ham"), (2, "a b c d e f")],
        "doc_id long, text string",
    )

    toks = F.split("text", " ")
    n = F.size(toks)
    bigrams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
    )
    out = {
        r["doc_id"]: (r["t"], r["b"])
        for r in df.select(
            "doc_id",
            (F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / n).alias("t"),
            (F.lit(1.0) - F.size(F.array_distinct(bigrams)).cast("double") / (n - 1)).alias("b"),
        ).collect()
    }
    assert out[1][0] > 0.5 and out[1][1] > 0.5
    assert out[2] == (0.0, 0.0)


def test_pack_sequences_invariants(spark, sf_dir):
    from pyspark.sql import functions as F

    from omnidata_etl_spark.queries.quality import (
        PACK_TOKEN_BUDGET,
        pack_documents,
    )

    def fn(spark, sf_dir):
        docs = table(spark, sf_dir, "documents").select(
            "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
        )
        return pack_documents(docs)

    rows = fn(spark, sf_dir).collect()
    docs_n = table(spark, sf_dir, "documents").count()
    # every document packed exactly once
    assert len(rows) == docs_n
    assert len({r["doc_id"] for r in rows}) == docs_n
    by_pack: dict[str, list[int]] = {}
    for r in rows:
        by_pack.setdefault(r["pack_id"], []).append(r["n_tokens"])
    # budget respected except dedicated oversize bins
    for toks in by_pack.values():
        assert sum(toks) <= PACK_TOKEN_BUDGET or len(toks) == 1
    # packing is effective: can't use fewer packs than the global bound
    total = sum(r["n_tokens"] for r in rows)
    assert len(by_pack) >= -(-total // PACK_TOKEN_BUDGET)
    # packs are reasonably full on this corpus (~100-token docs)
    import statistics

    fills = [sum(t) for t in by_pack.values()]
    assert statistics.mean(fills) > PACK_TOKEN_BUDGET * 0.6
    # rerun-stable
    again = {(r["doc_id"], r["pack_id"]) for r in fn(spark, sf_dir).collect()}
    assert again == {(r["doc_id"], r["pack_id"]) for r in rows}


def test_training_corpus_build_consistent_with_stages(spark, sf_dir):
    from pyspark.sql import functions as F

    from omnidata_etl_spark.queries.quality import (
        MIN_TOKENS,
        REPETITION_MAX,
        etl_training_corpus_build,
        mix_keep_predicate,
    )

    got = {r["source"]: r for r in etl_training_corpus_build(spark, sf_dir).collect()}
    assert "src0" not in got and len(got) > 0
    # recompute the kept set stage by stage with independent expressions
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    bigrams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
    )
    dup_bg = F.when(
        n >= 2,
        F.lit(1.0) - F.size(F.array_distinct(bigrams)).cast("double") / (n - 1),
    ).otherwise(F.lit(0.0))
    clean = (
        docs.where(mix_keep_predicate())
        .where((dup_bg <= REPETITION_MAX) & (n >= MIN_TOKENS))
        .groupBy(F.sha2(F.col("text"), 256).alias("sha"))
        .agg(F.min(F.struct(F.col("doc_id"), F.col("source"))).alias("keep"))
        .select("keep.source")
    )
    want = {r["source"]: r["n"] for r in clean.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert {s: r["n_docs"] for s, r in got.items()} == want
    for r in got.values():
        assert r["total_tokens"] > 0 and r["n_packs_touched"] > 0


def test_cms_heavy_hitters_within_bound(spark, sf_dir):
    """CMS one-sided guarantee must verify for every exact-top-10 token:
    estimate >= exact and <= exact + eps*N (the within_bound column)."""
    rows = all_specs()["agg_heavy_hitters_cms"].fn(spark, sf_dir).collect()
    assert len(rows) == 10
    assert all(r["within_bound"] for r in rows)


def test_hll_partitioned_union_matches_exact(spark, sf_dir):
    """Unioned per-nation HLL sketches must estimate the global distinct
    within 3x the sketch's standard error (the within_bound column)."""
    rows = all_specs()["agg_hll_partitioned_union"].fn(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["within_bound"], (r["hll_distinct"], r["exact_distinct"])


def test_approx_distinct_self_evidencing(spark, sf_dir):
    """agg_approx_distinct carries its own accuracy contract: the HLL
    estimate must sit within 3x the default rsd of the exact distinct,
    computed in the same frame."""
    from omnidata_etl_spark.registry import all_specs

    row = all_specs()["agg_approx_distinct"].fn(spark, sf_dir).collect()[0]
    assert row["within_bound"] is True
    assert row["exact_custs"] > 0


def test_bpe_train_apply_self_evidencing(spark, sf_dir):
    """BPE op: every learned encoding must reconstruct its word, merges
    must actually compress (avg subtokens/word well under chars/word), and
    per-source stats must cover the corpus."""
    from omnidata_etl_spark.registry import all_specs

    rows = all_specs()["text_bpe_train_apply"].fn(spark, sf_dir).collect()
    assert rows and all(r["decode_ok"] for r in rows)
    assert all(r["n_merges"] == 20 for r in rows)
    assert all(1.0 < r["avg_subtokens_per_word"] < 7.0 for r in rows)


def test_etl_global_shuffle_is_dense_permutation(spark, sf_dir):
    """Positions are exactly 1..N (dense, no dups), deterministic across
    rebuilds, and actually permute (not identity on doc_id order)."""
    from omnidata_etl_spark.registry import all_specs

    fn = all_specs()["etl_global_shuffle"].fn
    rows = fn(spark, sf_dir).collect()
    n = len(rows)
    assert n > 0
    assert sorted(r["pos"] for r in rows) == list(range(1, n + 1))
    # deterministic: same seed → same permutation
    again = {r["doc_id"]: r["pos"] for r in fn(spark, sf_dir).collect()}
    assert all(again[r["doc_id"]] == r["pos"] for r in rows)
    # it's a real shuffle: doc_id order and pos order disagree somewhere
    by_doc = sorted(rows, key=lambda r: r["doc_id"])
    assert any(
        a["pos"] > b["pos"] for a, b in zip(by_doc, by_doc[1:])
    ), "hash order degenerated to doc_id order"


def test_etl_global_shuffle_plan_scale_shape(spark, sf_dir, two_phase_key):
    """Above ONE_TASK_MAX_BYTES the global position comes from the
    two-phase range-partitioned row_number: the plan must carry a RANGE
    partitioning exchange, and the only Window sits over the per-partition
    offsets frame (partition-count rows), never over the full corpus (the
    single-partition global-sort anti-pattern). The test corpus is under
    the bound, so the two_phase_key fixture forces the large path;
    add_surrogate_key is called on the op's own sort input because
    etl_global_shuffle's result is memoized per session. Pinned as the op
    pins it, the frame leaves no SQL-cache entry behind."""
    from omnidata_etl_spark.ingest.load import add_surrogate_key
    from omnidata_etl_spark.queries._util import memo_pin
    from omnidata_etl_spark.queries.quality import global_shuffle_keys

    cache = spark._jsparkSession.sharedState().cacheManager()
    n_cached = cache.numCachedEntries()
    df = add_surrogate_key(
        global_shuffle_keys(spark, sf_dir),
        order_by=["skey", "doc_id"],
        as_long=True,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    memo_pin(df)
    assert cache.numCachedEntries() == n_cached
    assert "rangepartitioning" in plan.lower()
    # the Window's child aggregates to one row per partition id
    assert "_sk_pid" in plan


def test_text_url_extract_planted_domains(spark, sf_dir):
    """Every 37th doc plants one site<K>.example.com URL and one
    cdn.example.org URL; the domain table must reflect exactly that."""
    from omnidata_etl_spark.catalog import table as _table
    from omnidata_etl_spark.registry import all_specs

    docs = _table(spark, sf_dir, "documents")
    planted = docs.where((docs.doc_id % 37) == 0).count()
    rows = {
        r["domain"]: (r["n_urls"], r["n_docs"])
        for r in all_specs()["text_url_extract"].fn(spark, sf_dir).collect()
    }
    assert rows["cdn.example.org"] == (planted, planted)
    site_urls = sum(v[0] for d, v in rows.items() if d.startswith("site"))
    assert site_urls == planted
    assert all(d.endswith((".example.com", ".example.org")) for d in rows)


def test_events_ewma_is_the_recursion(spark, sf_dir):
    """EWMA values equal a hand-rolled per-user replay (ordering by
    (ts, event_id), alpha=0.2), bit-exact — the same recursion the
    DuckDB oracle runs."""
    from omnidata_etl_spark.catalog import table as _table
    from omnidata_etl_spark.registry import all_specs

    got = {
        (r["user_id"], r["event_id"]): r["ewma"]
        for r in all_specs()["events_ewma_smoothed"].fn(spark, sf_dir).collect()
    }
    rows = (
        _table(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts", "value")
        .collect()
    )
    rows.sort(key=lambda r: (r["user_id"], r["ts"], r["event_id"]))
    state: dict = {}
    for r in rows:
        u = r["user_id"]
        x = float(r["value"])
        state[u] = x if u not in state else 0.2 * x + 0.8 * state[u]
        assert got[(u, r["event_id"])] == state[u], (u, r["event_id"])
    assert len(got) == len(rows)


def test_events_ewma_streams_across_arrow_batches(spark, sf_dir):
    """The per-batch seed-carry path (r10 ADVICE: peak memory must bound
    at one Arrow batch, not a concatenated hash partition) is bit-exact:
    forcing 37-row batches splits every user's history across many
    batches, and the spliced-seed ewm must equal the single-pass run."""
    from omnidata_etl_spark.registry import all_specs

    fn = all_specs()["events_ewma_smoothed"].fn
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "37")
        tiny = {
            (r["user_id"], r["event_id"]): r["ewma"]
            for r in fn(spark, sf_dir).collect()
        }
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    full = {
        (r["user_id"], r["event_id"]): r["ewma"]
        for r in fn(spark, sf_dir).collect()
    }
    assert tiny == full


def test_packer_state_carries_across_arrow_batches(spark, sf_dir):
    """The packer's open bin (bin_id, used) carries across Arrow batches:
    7-row batches split every partition's documents over several batches,
    and the packing must equal the default single-batch run."""
    from pyspark.sql import functions as F

    from omnidata_etl_spark.queries.quality import pack_documents

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )

    def packs():
        return {
            (r["doc_id"], r["pack_id"], r["n_tokens"])
            for r in pack_documents(docs).collect()
        }

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "7")
        tiny = packs()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    full = packs()
    assert tiny == full


def test_time_to_convert_oracle_degenerate_n1(tmp_path, spark):
    """r10 ADVICE: with exactly ONE converted user the oracle's median
    upper-element term indexes past the array (a[2] is NULL); without
    the COALESCE guard DuckDB yields NULL median while Spark's when-
    guard returns the single value. Both engines must agree at n=1."""
    import duckdb
    import pandas as pd

    from omnidata_etl_spark.registry import all_specs

    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00", "2024-01-01 00:01:40",
                 "2024-01-02 09:00:00"]
            ),
            "user_id": [7, 7, 8],        # user 7 converts in 100 s;
            "event_type": ["view", "purchase", "purchase"],  # 8 never views
            "value": [1.0, 2.0, 3.0],
            "props": ["{}", "{}", "{}"],
        }
    )
    pdf.to_parquet(tmp_path / "events.parquet", index=False)

    spec = all_specs()["events_time_to_convert"]
    got = spec.fn(spark, str(tmp_path)).collect()[0]
    assert (got["n_converted"], got["median_s"], got["p90_s"]) == (1, 100.0, 100.0)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'events.parquet'}')"
    )
    orc = con.execute(spec.oracle).fetchone()
    assert orc == (1, 100.0, 100.0), orc


def test_gini_bounds_and_rank_path(spark, sf_dir, two_phase_key):
    """Gini must land in (0,1) on the skewed revenue distribution, and the
    distributed-rank identity must hold: sum of ranks == n(n+1)/2 (a rank
    collision or gap from the two-phase offsets would break it). The
    grouped frame is under ONE_TASK_MAX_BYTES, so the two_phase_key fixture
    forces add_surrogate_key's two-phase path on this multi-partition
    aggregate input. Pinned, the ranked frame leaves no SQL-cache entry
    behind."""
    from pyspark.sql import functions as F

    from omnidata_etl_spark.ingest.load import add_surrogate_key
    from omnidata_etl_spark.queries._util import dec2, memo_pin

    r = all_specs()["agg_gini_concentration"].fn(spark, sf_dir).collect()[0]
    assert 0.0 < r["gini"] < 1.0
    assert r["n_customers"] > 0 and r["total_revenue"] > 0

    o = table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        (F.sum(dec2("o_totalprice")) * 100).cast("long").alias("xc")
    )
    cache = spark._jsparkSession.sharedState().cacheManager()
    n_cached = cache.numCachedEntries()
    ranked = add_surrogate_key(rev, order_by=["xc", "o_custkey"], as_long=True)
    qe = ranked._jdf.queryExecution()
    assert "_sk_pid" in qe.optimizedPlan().toString()
    assert "rangepartitioning" in qe.executedPlan().toString().lower()
    pinned = memo_pin(ranked)
    assert cache.numCachedEntries() == n_cached
    agg = pinned.agg(
        F.count(F.lit(1)).alias("n"), F.sum("id").alias("s")
    ).collect()[0]
    assert agg["s"] == agg["n"] * (agg["n"] + 1) // 2


def test_curriculum_stages_balanced_and_ordered(spark, sf_dir):
    """Four stages, populations within 1 of n/4, and difficulty strictly
    non-decreasing across stage boundaries (max_tokens[k] <= min_tokens[k+1]
    can tie on equal lengths, so compare min<=min and max<=max)."""
    rows = sorted(
        all_specs()["etl_curriculum_stages"].fn(spark, sf_dir).collect(),
        key=lambda r: r["stage"],
    )
    assert [r["stage"] for r in rows] == [0, 1, 2, 3]
    n = sum(r["n_docs"] for r in rows)
    for r in rows:
        assert abs(r["n_docs"] - n / 4) <= 1
    for a, b in zip(rows, rows[1:]):
        assert a["min_tokens"] <= b["min_tokens"]
        assert a["max_tokens"] <= b["max_tokens"]


def test_join_skew_report_consistent(spark, sf_dir):
    """Top-10 shares/ratios must agree with independently computed counts."""
    from pyspark.sql import functions as F

    rows = all_specs()["etl_join_skew_report"].fn(spark, sf_dir).collect()
    assert len(rows) == 10
    li = table(spark, sf_dir, "lineitem")
    total = li.count()
    heaviest = (
        li.groupBy("l_partkey").count()
        .orderBy(F.desc("count"), F.asc("l_partkey")).limit(1).collect()[0]
    )
    assert rows[0]["l_partkey"] == heaviest["l_partkey"]
    assert rows[0]["n_rows"] == heaviest["count"]
    assert abs(rows[0]["share_of_total"] - heaviest["count"] / total) < 1e-12
    assert rows[0]["ratio_to_mean"] >= 1.0


def test_r11_single_pass_rank_rewrites_match_naive_window_forms(
    spark, sf_dir, monkeypatch
):
    """r11 optimization pins: agg_weighted_median (two-phase bucket
    refinement), agg_gini_concentration (per-partition rank folding), and
    etl_curriculum_stages (counts-frame offsets) were restructured for
    single-pass/bounded-window execution — each must still equal the
    naive global-window formulation it replaced, computed here directly.
    The gini and curriculum ranks run on both paths of the size rule: the
    default (one task at this scale) and the range path that
    `two_phase_key` forces."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from omnidata_etl_spark.catalog import table
    from omnidata_etl_spark.queries import _util
    from omnidata_etl_spark.queries._util import dec2
    from omnidata_etl_spark.registry import all_specs

    specs = all_specs()

    # --- weighted median: naive cumulative window over (group, price)
    grp = ["l_returnflag", "l_linestatus"]
    li = table(spark, sf_dir, "lineitem").select(
        *grp, dec2("l_extendedprice").alias("price"), dec2("l_quantity").alias("q")
    )
    pre = li.groupBy(*grp, "price").agg(F.sum("q").alias("w"))
    cum = F.sum("w").over(
        Window.partitionBy(*grp).orderBy("price").rowsBetween(
            Window.unboundedPreceding, 0
        )
    )
    tot = F.sum("w").over(Window.partitionBy(*grp))
    naive_wm = (
        pre.select(*grp, "price", cum.alias("cw"), tot.alias("tw"))
        .where(F.col("cw") * 2 >= F.col("tw"))
        .groupBy(*grp)
        .agg(F.min("price").cast("double").alias("weighted_median_price"))
    ).toPandas().sort_values(grp).reset_index(drop=True)
    got_wm = (
        specs["agg_weighted_median"].fn(spark, sf_dir).toPandas()
        .sort_values(grp).reset_index(drop=True)
    )
    assert naive_wm.equals(got_wm)

    # --- gini: naive single-partition row_number rank
    o = table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        (F.sum(dec2("o_totalprice")) * 100).cast("long").alias("xc")
    )
    rn = F.row_number().over(Window.orderBy("xc", "o_custkey"))
    ranked = rev.select("xc", rn.cast("long").alias("id"))
    a = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("xc").cast("decimal(38,0)")).alias("s"),
        F.sum((F.col("id") * F.col("xc")).cast("decimal(38,0)")).alias("s1"),
    )
    n, s, s1 = F.col("n"), F.col("s"), F.col("s1")
    naive_gini = a.select(
        n.alias("n_customers"),
        (s.cast("double") / 100).cast("double").alias("total_revenue"),
        ((2 * s1 - (n + 1) * s).cast("double") / (n * s).cast("double")).alias(
            "gini"
        ),
    ).toPandas()

    # --- curriculum: naive single-partition rank + stage split
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n_tokens")
    )
    rid = F.row_number().over(Window.orderBy("n_tokens", "doc_id"))
    ranked_docs = docs.select("n_tokens", rid.cast("long").alias("id"))
    n_total = ranked_docs.agg(F.count(F.lit(1)).alias("n"))
    naive_cs = (
        ranked_docs.crossJoin(F.broadcast(n_total))
        .select(
            F.expr("CAST((id - 1) * 4 DIV n AS INT)").alias("stage"),
            "n_tokens",
        )
        .groupBy("stage")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    ).toPandas().sort_values("stage").reset_index(drop=True)

    for bound in (_util.ONE_TASK_MAX_BYTES, -1):  # default, two_phase_key
        with monkeypatch.context() as m:
            m.setattr(_util, "ONE_TASK_MAX_BYTES", bound)
            got_gini = specs["agg_gini_concentration"].fn(spark, sf_dir).toPandas()
            got_cs = (
                specs["etl_curriculum_stages"].fn(spark, sf_dir).toPandas()
                .sort_values("stage").reset_index(drop=True)
            )
        assert naive_gini.equals(got_gini), bound
        assert naive_cs.equals(got_cs), bound
