"""Similarity-search behavioral tests: ANN variants must approximate the
brute-force ranking with measurable recall, deterministically."""

from __future__ import annotations

from omnidata_etl_spark.registry import all_specs

_SPECS = all_specs()


def _ids(spark, sf_dir, name):
    return [r["vec_id"] for r in _SPECS[name].fn(spark, sf_dir).collect()]


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    brute = set(_ids(spark, sf_dir, "similarity_cosine_topk"))
    ivf = set(_ids(spark, sf_dir, "ann_ivf_topk"))
    # deterministic corpus + deterministic centroids → stable recall;
    # measured 9/10 at nprobe=4 of 16 cells
    assert len(brute & ivf) >= 7


def test_ivf_deterministic(spark, sf_dir):
    assert _ids(spark, sf_dir, "ann_ivf_topk") == _ids(
        spark, sf_dir, "ann_ivf_topk"
    )


def test_lsh_results_subset_of_corpus(spark, sf_dir):
    lsh = _ids(spark, sf_dir, "ann_lsh_topk")
    assert lsh  # the query's own bucket is never empty (contains itself)
    assert 0 not in lsh  # self excluded


def test_lsh_self_evidence_flags_match_brute(spark, sf_dir):
    """The in_brute_topk flags must agree row-for-row with an independently
    computed brute-force top-10 (the self-evidence channel is only worth
    its bytes if it is itself correct)."""
    rows = _SPECS["ann_lsh_topk"].fn(spark, sf_dir).collect()
    brute = set(_ids(spark, sf_dir, "similarity_cosine_topk"))
    for r in rows:
        assert r["in_brute_topk"] == (r["vec_id"] in brute)


def test_label_centroids_match_numpy(spark, sf_dir):
    import numpy as np

    from omnidata_etl_spark.catalog import table
    from omnidata_etl_spark.queries.similarity import embedding_label_centroids

    got = {
        r["label"]: (np.array(r["centroid"]), r["n_vectors"])
        for r in embedding_label_centroids(spark, sf_dir).collect()
    }
    rows = table(spark, sf_dir, "embeddings").select("label", "embedding").collect()
    by_label = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(np.array(r["embedding"], dtype=np.float64))
    for label, vecs in by_label.items():
        want = np.mean(vecs, axis=0)
        cent, n = got[label]
        assert n == len(vecs)
        assert cent.shape == want.shape
        # 9dp decimal summand quantization (the r11 oracle-promotion
        # trick) bounds the mean within 5e-10 of the float64 mean
        np.testing.assert_allclose(cent, want, rtol=0, atol=1e-9)


def test_quantize_int8_roundtrip_bound(spark, sf_dir):
    """q8 codes stay in int8 range and dequantization reconstructs every
    element within one quantization step ((mx-mn)/255)."""
    from omnidata_etl_spark.catalog import table
    from omnidata_etl_spark.queries.similarity import embedding_quantize_int8

    got = {
        r["vec_id"]: (r["q8"], r["q_min"], r["q_max"])
        for r in embedding_quantize_int8(spark, sf_dir).collect()
    }
    orig = {
        r["vec_id"]: r["embedding"]
        for r in table(spark, sf_dir, "embeddings").collect()
    }
    assert got.keys() == orig.keys()
    for vid, (q8, mn, mx) in got.items():
        assert all(-128 <= c <= 127 for c in q8)
        step = (mx - mn) / 255.0
        for c, x in zip(q8, orig[vid]):
            dequant = mn + (c + 128) * step
            assert abs(dequant - float(x)) <= step + 1e-12, (vid, c, x)


def test_embedding_dedup_planted_recall(spark, sf_dir):
    """The blocked-cosine dedup must recover most planted near-identical
    pairs through its own bucket->join->cosine stack, and must surface the
    recall on a sentinel row even when the corpus holds no true pairs."""
    from omnidata_etl_spark.registry import all_specs

    rows = all_specs()["dedup_embedding_cosine"].fn(spark, sf_dir).collect()
    sentinel = [r for r in rows if r["vec_a"] == -1 and r["vec_b"] == -1]
    assert len(sentinel) == 1
    assert sentinel[0]["cosine"] is None
    assert sentinel[0]["planted_recall"] >= 0.5
    for r in rows:
        assert r["planted_recall"] == sentinel[0]["planted_recall"]


def test_banded_lsh_adapts_granularity_and_keeps_known_pairs(spark):
    """The r6 scale fix: bucket granularity must grow with declared corpus
    size (r = max(8, ceil(log2 n) + 3) planes per band), each vector must
    emit exactly LSH_BANDS (band, bucket) rows, and a planted
    near-identical pair must survive banding even at the granularity a
    100M-vector corpus would use (per-band misses are re-caught by the
    other bands — the whole point of banding over one finer table)."""
    from pyspark.sql import functions as F

    from omnidata_etl_spark.queries.similarity import (
        LSH_BANDS,
        banded_lsh_buckets,
        blocked_cosine_pairs,
    )

    base = [0.9 if i % 3 else -0.4 for i in range(64)]
    near = list(base)
    near[7] += 0.05  # one-dim bump: cosine just under 1
    far = [(-1.0) ** i * (0.1 + 0.01 * i) for i in range(64)]
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)],
        "vec_id long, embedding array<double>",
    )
    exploded = banded_lsh_buckets(df, 12)
    per_vec = (
        exploded.groupBy("vec_id").count().select("count").distinct().collect()
    )
    assert [r["count"] for r in per_vec] == [LSH_BANDS]
    # bucket ids stay within band range
    assert exploded.where(
        (F.col("bucket") < 0) | (F.col("bucket") >= 2**12)
    ).count() == 0
    # the near pair survives at 100M-corpus granularity (n=1e8 -> r=30)
    got = {
        (r["vec_a"], r["vec_b"])
        for r in blocked_cosine_pairs(df, 0.95, n_vectors=10**8).collect()
    }
    assert (1, 2) in got
    assert all(3 not in p for p in got)


def test_banded_lsh_buckets_match_a_sequential_fold(spark, sf_dir):
    """The BLAS-matmul LSH kernel must assign exactly the (vec_id, band,
    bucket) rows a plain sequential left fold gives: the same hyperplanes,
    sign convention (dot ≥ 0 → 1) and per-band packing (first plane most
    significant), with each dot summed in array order in double, as a SQL
    aggregate over zip_with would. Exact equality over the whole corpus at
    a deployed-scale granularity (r=18)."""
    from omnidata_etl_spark.catalog import table
    from omnidata_etl_spark.queries.similarity import (
        LSH_BANDS,
        banded_lsh_buckets,
        hyperplane,
    )

    r = 18
    planes = [hyperplane(p) for p in range(LSH_BANDS * r)]

    def folded_buckets(vec):
        bits = []
        for plane in planes:
            acc = 0.0
            for x, y in zip(vec, plane):
                acc += float(x) * y
            bits.append(1 if acc >= 0 else 0)
        out = []
        for b in range(LSH_BANDS):
            bucket = 0
            for bit in bits[b * r : (b + 1) * r]:
                bucket = bucket * 2 + bit
            out.append(bucket)
        return out

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    want = sorted(
        (row.vec_id, band, bucket)
        for row in emb.collect()
        for band, bucket in enumerate(folded_buckets(row.embedding))
    )
    got = sorted(
        tuple(row)
        for row in banded_lsh_buckets(emb, r)
        .select("vec_id", "band", "bucket")
        .collect()
    )
    assert len(want) == LSH_BANDS * emb.count()
    assert got == want


def test_ann_lsh_topk_rebuild_reads_its_persisted_buckets(spark, sf_dir):
    """ann_lsh_topk persists its bucketed corpus; a rebuild holds a fresh
    bucket UDF over the same kernel and must still match that cache entry,
    so the second build adds no entry and its plan reads the cached frame."""
    fn = _SPECS["ann_lsh_topk"].fn
    cache = spark._jsparkSession.sharedState().cacheManager()
    first = fn(spark, sf_dir).collect()
    n_cached = cache.numCachedEntries()
    again = fn(spark, sf_dir)
    assert cache.numCachedEntries() == n_cached
    plan = again._jdf.queryExecution().withCachedData().toString()
    assert "InMemoryRelation" in plan
    assert again.collect() == first


def test_dedup_embedding_cosine_leaves_no_sql_cache_entry(spark, sf_dir):
    """Once the pair frame is pinned, nothing reads blocked_cosine_pairs'
    LSH frame again (it holds every embedding), so a first build leaves the
    SQL cache empty. The cache is cleared first: an entry an earlier build
    left behind would absorb this build's persist and hide a new one."""
    fn = _SPECS["dedup_embedding_cosine"].fn
    cache = spark._jsparkSession.sharedState().cacheManager()
    saved = getattr(spark, "_omnidata_memo", None)
    spark._omnidata_memo = {}  # an empty memo: the pairs are built, not hit
    try:
        spark.catalog.clearCache()
        rows = fn(spark, sf_dir).collect()
        assert cache.numCachedEntries() == 0
    finally:
        spark._omnidata_memo = saved
    assert any(r["vec_a"] == -1 for r in rows)


def test_pq_codebooks_recover_clusters_and_rank_planted_duplicate(spark):
    """The property PQ promises: on separated clustered data the
    sample-trained codebooks quantize same-cluster vectors to equal
    codes, so ADC distance ranks every same-cluster vector ahead of
    every other-cluster vector, and a planted near-duplicate of the
    query attains the minimum ADC distance. (The declared ann_pq_topk
    runs the same math through the Spark expression path; its corpus is
    i.i.d. random where 4-bit PQ is honestly coarse — this pins the
    algorithm on data with actual structure.)"""
    import numpy as np

    from omnidata_etl_spark.queries.similarity import (
        PQ_CODEWORDS,
        PQ_SUBSPACES,
        pq_codebooks,
    )

    rng = np.random.default_rng(7)
    protos = rng.normal(0, 1, (16, 64)) * 10
    idx = rng.integers(0, 16, 256)
    X = protos[idx] + rng.normal(0, 0.01, (256, 64))
    idx[0] = 0
    X[0] = protos[0]
    idx[77] = 0
    X[77] = protos[0] + 0.001  # planted near-duplicate of the query
    df = spark.createDataFrame(
        [(int(i), [float(v) for v in X[i]]) for i in range(256)],
        "vec_id long, embedding array<double>",
    )
    books, sample = pq_codebooks(df)
    assert books.shape == (PQ_SUBSPACES, PQ_CODEWORDS, 64 // PQ_SUBSPACES)
    assert np.allclose(sample[0], X[0])

    V = X.reshape(len(X), PQ_SUBSPACES, -1)
    codes = np.stack(
        [
            ((V[:, m, None, :] - books[m][None]) ** 2).sum(-1).argmin(1)
            for m in range(PQ_SUBSPACES)
        ],
        axis=1,
    )
    q = X[0].reshape(PQ_SUBSPACES, -1)
    adt = ((q[:, None, :] - books) ** 2).sum(-1)
    d = adt[np.arange(PQ_SUBSPACES)[None, :], codes].sum(1)
    same = idx == 0
    assert d[77] == d[1:].min()  # the planted duplicate attains the min
    assert d[same].max() < d[~same].min()  # clusters fully separated


def test_ann_pq_topk_structural(spark, sf_dir):
    """Declared-query pins: 10 rows ascending by approx_d2, boolean
    recall flags present, and the ADC expression path agrees with the
    deterministic numpy replication above on rank-1 membership (the
    corpus and codebooks are deterministic, so this is a regression pin,
    not a statistical claim)."""
    from omnidata_etl_spark.registry import all_specs

    rows = all_specs()["ann_pq_topk"].fn(spark, sf_dir).collect()
    assert len(rows) == 10
    d2s = [r.approx_d2 for r in rows]
    assert d2s == sorted(d2s)
    assert all(isinstance(r.in_brute_topk, bool) for r in rows)
    assert any(r.in_brute_topk for r in rows)


def test_ivf_pq_residual_composition_on_clusters(spark):
    """IVF-PQ building-block property on separated clustered data: the
    coarse quantizer recovers the clusters, the residual-trained PQ
    codebooks quantize same-cluster residuals compatibly, and under the
    composed probe+ADC search every same-cluster vector outranks every
    other-cluster vector reachable in the probed cells, with the planted
    near-duplicate of the query attaining the minimum ADC distance."""
    import numpy as np

    from omnidata_etl_spark.queries.similarity import (
        IVF_NPROBE,
        PQ_SUBSPACES,
        _train_sample,
        ivf_centroids,
        pq_codebooks,
    )

    rng = np.random.default_rng(13)
    protos = rng.normal(0, 1, (16, 64)) * 10
    idx = rng.integers(0, 16, 256)
    X = protos[idx] + rng.normal(0, 0.01, (256, 64))
    idx[0] = 0
    X[0] = protos[0]
    idx[77] = 0
    X[77] = protos[0] + 0.001
    df = spark.createDataFrame(
        [(int(i), [float(v) for v in X[i]]) for i in range(256)],
        "vec_id long, embedding array<double>",
    )
    sample = _train_sample(df)
    cents, by_id = ivf_centroids(df, sample=sample)
    xs = sample[0]
    assign = ((xs[:, None, :] - cents[None]) ** 2).sum(2).argmin(1)
    books, _ = pq_codebooks(df, sample=sample, train_x=xs - cents[assign])

    qv = by_id[0]
    cellq = ((cents - qv) ** 2).sum(1)
    probe = set(np.argsort(cellq, kind="stable")[:IVF_NPROBE].tolist())
    cid = ((X[:, None, :] - cents[None]) ** 2).sum(2).argmin(1)
    R = (X - cents[cid]).reshape(len(X), PQ_SUBSPACES, -1)
    codes = np.stack(
        [
            ((R[:, m, None, :] - books[m][None]) ** 2).sum(-1).argmin(1)
            for m in range(PQ_SUBSPACES)
        ],
        axis=1,
    )
    # ADC per vector from the query's residual in THAT vector's cell
    d = np.full(len(X), np.inf)
    for c in probe:
        qr = (qv - cents[c]).reshape(PQ_SUBSPACES, -1)
        adt = ((qr[:, None, :] - books) ** 2).sum(-1)
        sel = cid == c
        d[sel] = adt[
            np.arange(PQ_SUBSPACES)[None, :], codes[sel]
        ].sum(1)
    same = idx == 0
    assert d[0] < np.inf and same[0]  # query's own cell is probed
    assert d[77] == d[1:].min()  # planted duplicate attains the min
    reachable_other = (~same) & (d < np.inf)
    if reachable_other.any():
        assert d[same].max() < d[reachable_other].min()


def test_ann_ivf_pq_topk_structural(spark, sf_dir):
    """Declared-query pins: 10 rows ascending by approx_d2, recall flags
    present and at least one true on the deterministic corpus. r9: the
    evidence column is probe-bounded (`in_probed_exact_topk`) — verify
    it row-for-row against an independently computed exact top-10 over
    the probed cells (recomputed here with numpy from the same
    deterministic quantizer sample)."""
    import numpy as np

    from omnidata_etl_spark.catalog import table
    from omnidata_etl_spark.queries.similarity import (
        IVF_NPROBE,
        _sq_dists,
        _train_sample,
        ivf_centroids,
    )
    from omnidata_etl_spark.registry import all_specs

    rows = all_specs()["ann_ivf_pq_topk"].fn(spark, sf_dir).collect()
    assert len(rows) == 10
    d2s = [r.approx_d2 for r in rows]
    assert d2s == sorted(d2s)
    assert any(r.in_probed_exact_topk for r in rows)

    emb = table(spark, sf_dir, "embeddings")
    cents, by_id = ivf_centroids(emb, sample=_train_sample(emb))
    qv = np.asarray(by_id[0], dtype=np.float64)
    probe = set(
        np.argsort(((cents - qv) ** 2).sum(axis=1), kind="stable")[
            :IVF_NPROBE
        ].tolist()
    )
    pdf = emb.toPandas()
    xs = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
    cid = _sq_dists(xs, cents).argmin(axis=1)
    ids = pdf["vec_id"].to_numpy()
    mask = (ids != 0) & np.isin(cid, list(probe))
    d2 = ((xs[mask] - qv) ** 2).sum(axis=1)
    order = np.lexsort((ids[mask], d2))
    exact10 = set(ids[mask][order[:10]].tolist())
    for r in rows:
        assert r.in_probed_exact_topk == (r.vec_id in exact10)


def test_ann_ivf_served_index_pruning_and_ranking(spark, sf_dir):
    """r9 served-index layout: the query's top-10 must equal an
    independently computed exact top-10 over the probed cells (numpy,
    same quantizer sample), the pruned-fraction evidence columns must
    reflect the real directory layout, and the scan must carry a
    PartitionFilter on cid — partition pruning proven in the plan, not
    assumed."""
    import numpy as np

    from omnidata_etl_spark.catalog import table
    from omnidata_etl_spark.queries.similarity import (
        IVF_NPROBE,
        _sq_dists,
        _train_sample,
        ivf_centroids,
    )
    from omnidata_etl_spark.registry import all_specs

    df = all_specs()["ann_ivf_served_index"].fn(spark, sf_dir)
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan and "cid" in plan
    rows = df.collect()
    assert len(rows) == 10
    assert all(r.n_cells_probed == IVF_NPROBE for r in rows)
    assert all(r.n_cells_probed < r.n_cells_total for r in rows)

    emb = table(spark, sf_dir, "embeddings")
    cents, by_id = ivf_centroids(emb, sample=_train_sample(emb))
    qv = np.asarray(by_id[0], dtype=np.float64)
    probe = set(
        np.argsort(((cents - qv) ** 2).sum(axis=1), kind="stable")[
            :IVF_NPROBE
        ].tolist()
    )
    pdf = emb.toPandas()
    xs = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
    cid = _sq_dists(xs, cents).argmin(axis=1)
    ids = pdf["vec_id"].to_numpy()
    mask = (ids != 0) & np.isin(cid, list(probe))
    d2 = np.round(((xs[mask] - qv) ** 2).sum(axis=1), 4)
    order = np.lexsort((ids[mask], d2))
    want = [int(v) for v in ids[mask][order[:10]]]
    assert [r.vec_id for r in rows] == want


def test_power_iteration_three_legs(spark, sf_dir):
    """The iterative showcase must converge, satisfy the definitional
    eigenpair residual, and recover the planted dominant direction."""
    from omnidata_etl_spark.registry import all_specs

    row = all_specs()["embedding_power_iteration"].fn(spark, sf_dir).collect()[0]
    assert row.converged_ok and row.residual_ok and row.planted_recovery_ok
    assert row.eigenvalue > 0
    # spike is 100x the corpus energy: the eigenvalue must be dominated
    # by the planted mass (within a few % — the corpus adds its share)
    assert row.n_vectors > 32


def test_power_iteration_memo_hit_runs_only_the_gemv_rounds(spark, sf_dir):
    """A repeat build reuses the memoized augmented corpus, so the corpus
    energy aggregate and the planted rows behind it are not rebuilt: its job
    group holds only the five GEMV rounds, and all three legs still hold."""
    fn = all_specs()["embedding_power_iteration"].fn
    fn(spark, sf_dir)
    sc, group = spark.sparkContext, "test-power-iteration-memo-hit"
    sc.setJobGroup(group, "second embedding_power_iteration build")
    try:
        row = fn(spark, sf_dir).collect()[0]
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store is async
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 5
    assert row.converged_ok and row.residual_ok and row.planted_recovery_ok


def test_power_iteration_batch_invariant(spark, sf_dir):
    """Each GEMV pass reduces per Arrow batch and sums the partials on the
    driver: 7-row batches split every partition's rows over several
    batches (more than 56 rows over at most 8 partitions), and the result
    must equal the default run up to float summation order (1e-9)."""
    import pytest

    fn = all_specs()["embedding_power_iteration"].fn
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "7")
        tiny = fn(spark, sf_dir).collect()[0]
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    full = fn(spark, sf_dir).collect()[0]
    assert full.n_vectors > 56
    for name in ("n_vectors", "dim", "converged_ok", "residual_ok",
                 "planted_recovery_ok"):
        assert tiny[name] == full[name], name
    assert tiny.eigenvalue == pytest.approx(full.eigenvalue, rel=1e-9)
    for name in ("converge_cos", "residual_ratio", "planted_recovery_cos"):
        assert tiny[name] == pytest.approx(full[name], rel=0, abs=1e-9), name


def test_quantizer_training_keeps_what_a_tiny_sample_has():
    """The Lloyd kernel behind both quantizers keeps min(k, n) centroids: on
    0, 1 and 5 training rows the IVF centroids and PQ codebooks come back
    with n rows per quantizer (each distinct row its own cell), and encoding
    and ADC work on them. No Spark: the sample is passed in."""
    import numpy as np

    from omnidata_etl_spark.queries.similarity import (
        IVF_CLUSTERS,
        PQ_SUBSPACES,
        _adc_table,
        _pq_encode,
        _probe,
        ivf_centroids,
        pq_codebooks,
    )

    rng = np.random.default_rng(5)
    for n in (0, 1, 5):
        x = rng.normal(size=(n, 64))
        cents, _ = ivf_centroids(None, sample=(x, {}))
        books, _ = pq_codebooks(None, sample=(x, {}))
        assert cents.shape == (min(n, IVF_CLUSTERS), 64)
        assert books.shape == (PQ_SUBSPACES, n, 64 // PQ_SUBSPACES)
        np.testing.assert_array_equal(cents, x)
        if n:
            codes = _pq_encode(x, books)
            assert codes.tolist() == [[i] * PQ_SUBSPACES for i in range(n)]
            assert _adc_table(x[0], books).shape == (PQ_SUBSPACES, n)
            assert _probe(cents, x[0])[0] == 0


def _write_embeddings(tmp_path, sf_dir, ids):
    """An sf directory holding only embeddings.parquet: the test corpus's
    rows with these vec_ids, written with pyarrow."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    t = t.filter(pc.is_in(t["vec_id"], pa.array(ids, pa.int64())))
    pq.write_table(t, tmp_path / "embeddings.parquet")
    return str(tmp_path)


def test_ann_builders_on_a_five_row_corpus(spark, sf_dir, tmp_path):
    """Five vectors are too few to train 16 cells or 16 codewords: the
    builders train on what there is, probe IVF_NPROBE of the five cells,
    and return every reachable neighbour with its exact-search flag set."""
    from omnidata_etl_spark.queries.similarity import IVF_NPROBE

    sf = _write_embeddings(tmp_path, sf_dir, [0, 1, 2, 3, 4])
    for name, flag, n_rows in (
        ("ann_ivf_topk", "in_brute_topk", IVF_NPROBE - 1),
        ("ann_pq_topk", "in_brute_topk", 4),
        ("ann_ivf_pq_topk", "in_probed_exact_topk", IVF_NPROBE - 1),
    ):
        rows = _SPECS[name].fn(spark, sf).collect()
        assert len(rows) == n_rows, name
        assert {r.vec_id for r in rows} <= {1, 2, 3, 4}, name
        assert all(r[flag] for r in rows), name


def test_ann_builders_name_a_missing_query_vector(spark, sf_dir, tmp_path):
    """A corpus without vec_id 0 (or with no rows at all) has no query
    vector: the quantizer builders raise a ValueError naming it."""
    import pytest

    for rows, sub in (([1, 2, 3, 4, 5], "no_query"), ([], "empty")):
        (tmp_path / sub).mkdir()
        sf = _write_embeddings(tmp_path / sub, sf_dir, rows)
        for name in (
            "ann_ivf_topk", "ann_pq_topk", "ann_ivf_pq_topk",
            "ann_ivf_served_index",
        ):
            with pytest.raises(ValueError, match="vec_id 0"):
                _SPECS[name].fn(spark, sf)
