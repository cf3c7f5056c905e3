"""Similarity search over `embeddings` (north-star: ANN over array<float>).

Baseline: brute-force cosine top-k — broadcast the query vector(s), compute
dot/norms with array expressions (zip_with + aggregate: sequential fold, so
both engines sum in array order), TakeOrderedAndProject for the top-k. That
plan scans the corpus once with no shuffle except the k-row merge: at 100 TB
it is bandwidth-bound, which is exactly what brute-force ANN should be.

Scale path: random-hyperplane LSH bucketing (dedup-style banding for vectors)
— signature bits from deterministic pseudo-random planes, candidates from an
equi-join on bucket id, exact re-rank within buckets only.

Every dense kernel the ANN family repeats (squared-L2 argmin, Lloyd's
k-means, PQ encoding, the ADC table, the probe-cell choice, the sign-bit LSH
hash) is written once at module level, next to `_sq_dists`, and runs in
numpy: on the driver for training, inside `_series_udf` batches for the
corpus. The r10 crossover that kept a SQL-lambda LSH path below 8k vectors
(PLANS.md, "dedup_embedding_cosine settled under the driver protocol") no
longer holds with the engine's Python daemon: the numpy hash is ahead at
every test scale (ROADMAP item 9).
"""

from __future__ import annotations

import numbers

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from omnidata_etl_spark.catalog import table, table_memo
from omnidata_etl_spark.queries._util import memo_pin, spread
from omnidata_etl_spark.registry import query
from omnidata_etl_spark.session import default_parallelism

EMBED_DIM = 64
LSH_PLANES = 8  # 2^8 = 256 buckets


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold double dot product of two float arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


@query(
    "similarity_cosine_topk",
    oracle="""
        WITH q AS (
            SELECT CAST(embedding AS DOUBLE[]) AS qe
            FROM embeddings WHERE vec_id = 0
        )
        SELECT vec_id,
               list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe)
                   AS cosine
        FROM embeddings, q
        WHERE vec_id <> 0
        ORDER BY cosine DESC, vec_id ASC
        LIMIT 10
    """,
    tags=("similarity",),
)
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most similar vectors to vec_id=0 (self excluded, tiebreak
    vec_id). Both engines do double arithmetic in array order; the cosine is
    emitted UNROUNDED — per-row pure double expressions are bit-identical
    across engines, while ROUND(double, n) is not (Spark rounds the shortest
    decimal repr, DuckDB the exact binary)."""
    emb = table(spark, sf_dir, "embeddings")
    # query norm rides the 1-row broadcast: computing norm(q) per corpus
    # row re-folded the constant 64-element array once per comparison
    # (a third of the cosine's work); the value (and so the oracle hash)
    # is bit-identical either way
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_embedding"),
        norm(F.col("embedding")).alias("qn"),
    )
    joined = spread(emb.filter(F.col("vec_id") != 0)).crossJoin(
        F.broadcast(q)
    )
    cos = dot(F.col("embedding"), F.col("q_embedding")) / (
        norm(F.col("embedding")) * F.col("qn")
    )
    return (
        joined.select("vec_id", cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


@query(
    "ann_multi_query_topk",
    oracle="""
        WITH q AS (
            SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
            FROM embeddings WHERE vec_id IN (0, 1, 2)
        )
        SELECT query_id, vec_id, cosine FROM (
            SELECT q.query_id, e.vec_id,
                   list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                          q.qe) AS cosine,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY list_cosine_similarity(
                                    CAST(e.embedding AS DOUBLE[]), q.qe) DESC,
                                e.vec_id ASC) AS rn
            FROM embeddings e, q
            WHERE e.vec_id <> q.query_id
        ) WHERE rn <= 5
    """,
    tags=("similarity",),
)
def ann_multi_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched brute-force ANN: top-5 neighbors for each of 3 query vectors.
    Queries broadcast; per-query ranking via window (one shuffle on query_id,
    which AQE collapses at this cardinality). Cosine emitted unrounded —
    per-row double arithmetic is bit-identical across engines; ROUND is not.
    """
    from pyspark.sql import Window

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        norm(F.col("embedding")).alias("qn"),  # once per query, not per row
    )
    joined = spread(emb).crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    cos = dot(F.col("embedding"), F.col("qe")) / (
        norm(F.col("embedding")) * F.col("qn")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    return (
        joined.select("query_id", "vec_id", cos.alias("cosine"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "vec_id", "cosine")
    )


IVF_CLUSTERS = 16
IVF_NPROBE = 4
IVF_ITERS = 2
IVF_TRAIN_SAMPLE = 4096  # quantizer-training sample rows (driver-side)
PQ_SUBSPACES = 8  # 64-dim → 8 sub-vectors of 8 dims
PQ_CODEWORDS = 16  # 4-bit codes: a vector compresses to 8 nibbles
PQ_ITERS = 10
LSH_BANDS = 8  # near-dup banding width (recall = 1 - (1 - p^r)^B)


def _sq_dists(x, c):
    """All-pairs squared L2 distances as ONE BLAS GEMM: ||x||² − 2x·cᵀ +
    ||c||² instead of the broadcast-subtract form ((x[:,None,:] −
    c[None,:,:])²).sum(2). The naive form materializes an (n, K, dim)
    float64 temporary — 1.6 GB and 15-17 s single-thread for a 100 k × 32
    × 64 assignment batch (measured, r9) — while the expansion is an
    (n, dim)@(dim, K) matmul: 0.3 s for the same batch, 50×. Every
    quantizer assignment/encode UDF and Lloyd step in this module routes
    through here so engine, trainer, and test replications share one
    argmin surface (same fp rounding → same tie behavior). Expect tiny
    negative values for near-identical pairs (cancellation); callers use
    the result only for argmin/ordering, where that is harmless."""
    import numpy as np

    x = np.asarray(x, dtype=np.float64)
    c = np.asarray(c, dtype=np.float64)
    return (
        (x * x).sum(axis=1)[:, None]
        - 2.0 * (x @ c.T)
        + (c * c).sum(axis=1)[None, :]
    )


def _nearest(x, c):
    """Index of the nearest row of ``c`` for every row of ``x``; ties break
    to the lowest index (argmin keeps the first minimum)."""
    return _sq_dists(x, c).argmin(axis=1)


def _lloyd(x, k: int, iters: int):
    """K-means on the driver: init from the first min(k, n) rows, ``iters``
    Lloyd steps, a cell that loses all its members keeps its centroid. A
    sample with fewer than k rows keeps n centroids (every row its own
    cell) instead of training on rows it does not have."""
    cents = x[:k].copy()
    for _ in range(iters if len(cents) else 0):
        assign = _nearest(x, cents)
        for j in range(len(cents)):
            members = x[assign == j]
            if len(members):
                cents[j] = members.mean(axis=0)
    return cents


def _pq_encode(x, books):
    """PQ codes (n × M int32): per subspace m, the nearest codeword of
    ``books[m]`` to that slice of each row."""
    import numpy as np

    sub = x.reshape(len(x), len(books), x.shape[1] // len(books))
    return np.stack(
        [_nearest(sub[:, m, :], book) for m, book in enumerate(books)], axis=1
    ).astype(np.int32)


def _adc_table(q, books):
    """ADC lookup table of one query vector:
    adt[m][c] = ||q_m − books[m][c]||²."""
    import numpy as np

    qsub = np.asarray(q, dtype=np.float64).reshape(len(books), -1)
    return ((qsub[:, None, :] - books) ** 2).sum(axis=2)


def _probe(cents, q) -> list[int]:
    """The IVF_NPROBE cells nearest ``q``, nearest first (stable: equal
    distances keep the lower cid first)."""
    import numpy as np

    return np.argsort(((cents - q) ** 2).sum(axis=1), kind="stable")[
        :IVF_NPROBE
    ].tolist()


def hyperplane(plane_id: int, dim: int = EMBED_DIM) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane component list.

    Components derive from a splitmix64-style integer mix of (plane_id, d) —
    reproducible across sessions with no RNG state (scripts can't call
    random()); only the *sign structure* matters for LSH.
    """
    comps = []
    for d in range(dim):
        x = (plane_id * 1_000_003 + d * 40_009 + 12_345) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 30
        x = (x * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 27
        x = (x * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 31
        comps.append((x % 2_000_001 - 1_000_000) / 1_000_000.0)
    return comps


def _band_buckets(x, planes, r: int):
    """Random-hyperplane LSH (n × bands int64): bit p is the sign of
    x·plane_p (≥ 0 → 1), and band b packs bits [b·r, b·r + r) with the
    first plane most significant. ``planes`` is dim × (bands·r)."""
    import numpy as np

    bits = ((x @ planes) >= 0).astype(np.int64)
    return bits.reshape(len(x), -1, r) @ (1 << np.arange(r - 1, -1, -1))


def _series_udf(return_type: str, kernel):
    """The module's one Series→Series pandas_udf form: each Arrow batch of
    embeddings enters ``kernel`` as a B×dim float64 array, and its B
    results (a vector, or a B×k matrix for an array column) leave as the
    batch's Series."""
    import numpy as np
    import pandas as pd

    def batch(s):
        out = kernel(np.asarray(s.tolist(), dtype=np.float64))
        return pd.Series(list(out) if out.ndim > 1 else out)

    # real objects: `from __future__ import annotations` would leave strings
    # that Spark resolves in this module's globals, where pandas is absent
    batch.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return F.pandas_udf(batch, return_type)


def _lsh_udf(planes_per_band: int, bands: int):
    """pandas_udf: embedding → its ``bands`` LSH bucket ids (array<long>),
    one BLAS matmul per Arrow batch; the dim × bands·r planes ride the
    closure (57 KB for sf0.1's 112 planes)."""
    import numpy as np

    planes = np.array(
        [hyperplane(p) for p in range(bands * planes_per_band)],
        dtype=np.float64,
    ).T
    return _series_udf(
        "array<long>", lambda x: _band_buckets(x, planes, planes_per_band)
    )


def _sql_array(v) -> str:
    """Numbers (a vector, or nested lists of them) as ONE parsed SQL
    ``array(...)`` literal. The Column form (F.array of F.lit) costs a py4j
    round trip per element at build time (~500 trips ≈ 0.5 s for 8 planes,
    profiled r3), and the ANN builders train and rebuild per run."""
    if isinstance(v, numbers.Number):
        if isinstance(v, numbers.Integral):
            return str(int(v))
        return repr(float(v))
    return "array({})".format(", ".join(_sql_array(e) for e in v))


def _sq_l2_to(q) -> Column:
    """Exact squared L2 distance of ``embedding`` to the vector ``q``: a
    double fold in array order."""
    return F.expr(
        "aggregate(zip_with(cast(embedding AS array<double>), "
        f"{_sql_array(q)}, (x, q) -> (x - q) * (x - q)), 0.0d, "
        "(acc, x) -> acc + x)"
    )


def _adc_d2(codes: str, adt: str) -> Column:
    """ADC distance of a row: M 1-based lookups of its PQ ``codes`` into the
    M×K literal table ``adt``, summed (transform's index supplies m)."""
    return F.expr(
        f"aggregate(transform({codes}, (c, m) -> element_at(element_at("
        f"{adt}, m + 1), cast(c AS INT) + 1)), 0.0d, (acc, x) -> acc + x)"
    )


def _top10(df: DataFrame, rank: Column) -> DataFrame:
    """The 10 first rows in ``rank`` order, vec_id tiebreak."""
    return df.orderBy(rank, F.asc("vec_id")).limit(10)


def _flag_hits(
    approx: DataFrame, exact: DataFrame, rank: Column, flag: str
) -> DataFrame:
    """The ANN queries' self-evidence: ``approx``'s rows, each flagged
    ``flag`` when its vec_id is also in the exact top-10 ``exact``, in
    ``rank`` order (vec_id tiebreak)."""
    hits = exact.select(F.col("vec_id").alias("b_vec_id"))
    return (
        approx.join(hits, approx.vec_id == F.col("b_vec_id"), "left")
        .select(*approx.columns, F.col("b_vec_id").isNotNull().alias(flag))
        .orderBy(rank, F.asc("vec_id"))
    )


@query("ann_lsh_topk", tags=("similarity", "lsh"))
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH: rank only vectors sharing
    the query's bucket (falls back to exact ranking within the bucket).
    Rows-only: bucket membership is hash-family-specific.

    The bucket is band 0 of the banded-LSH kernel at r = LSH_PLANES (the
    same planes and bit order as dedup_embedding_cosine's hash). At scale
    the bucketed corpus would be written ``partitionBy(bucket)`` so a query
    touches one partition — an IVF-style index expressed as Spark
    partitioning.

    Self-evidencing (VERDICT r2 #8 pattern): every row carries
    ``in_brute_topk`` — whether this candidate also appears in the exact
    brute-force top-10 over the full corpus — so the driver's rows-only
    artifact records the sketch's recall directly (sum of the flags / 10;
    tests/test_similarity.py asserts the same recall ≥ 0.5 bound the
    hyperplane family guarantees at these dimensions).
    """
    # the bucketed corpus feeds both the query-row filter and the
    # candidate join, and later builds read it: one persisted frame per
    # (session, sf_dir), owned by the memo
    emb = table_memo(
        spark, sf_dir, "embeddings", "lsh_buckets",
        lambda: spread(table(spark, sf_dir, "embeddings")).withColumn(
            "bucket", _lsh_udf(LSH_PLANES, 1)("embedding")[0]
        ).persist(),
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"),
        norm(F.col("embedding")).alias("qn"),
        F.col("bucket").alias("q_bucket"),
    )
    cand = emb.crossJoin(F.broadcast(q)).filter(
        (F.col("bucket") == F.col("q_bucket")) & (F.col("vec_id") != 0)
    )
    cos = dot(F.col("embedding"), F.col("qe")) / (
        norm(F.col("embedding")) * F.col("qn")
    )
    approx = _top10(
        cand.select("vec_id", F.round(cos, 4).alias("cosine")),
        F.desc("cosine"),
    )
    # unrounded, matching similarity_cosine_topk's ranking exactly (the
    # 4dp display rounding above could flip ties at the top-k boundary)
    brute = _top10(
        spread(table(spark, sf_dir, "embeddings"))
        .crossJoin(F.broadcast(q.select("qe", "qn")))
        .filter(F.col("vec_id") != 0)
        .select("vec_id", cos.alias("b_cos")),
        F.desc("b_cos"),
    )
    return _flag_hits(approx, brute, F.desc("cosine"), "in_brute_topk")


def _train_sample(emb: "DataFrame"):
    """The bounded deterministic training sample every quantizer in this
    module trains on (first IVF_TRAIN_SAMPLE vectors by vec_id, one
    driver-side collect): (N×dim float64 array, {vec_id: row} dict).
    Callers composing several quantizers (ann_ivf_pq_topk) collect once
    and pass the tuple through.

    r9 scale fix: the original ``orderBy(vec_id).limit(N)`` planned as a
    TakeOrdered over the FULL corpus — every partition heap-sorted its
    rows *with their 64-dim embeddings in the heap*, so the "bounded"
    collect's cost grew linearly with corpus size (measured 3.1 s of the
    x50 probe's 4.7 s wall; it was the real slope the r8 probe
    attributed to the brute pass). vec_id is contiguous 0..N-1 in this
    data model, so ``vec_id < N`` selects the same rows as a
    parquet-pushed range predicate: row groups (and at x50, whole
    replica files) whose min exceeds the bound are pruned at scan time
    and the sort handles ≤N rows. The TakeOrdered path survives only as
    a fallback for a non-zero-based id space (planner cost, not
    correctness: both forms return the first N rows by vec_id whenever
    any rows fall under the bound)."""
    import numpy as np

    cols = ["vec_id", "embedding"]
    # No Spark-side orderBy: a global sort range-partitions, which runs a
    # SECOND sampling pass over the filtered scan; ≤N collected rows sort
    # driver-side for free.
    rows = (
        emb.filter(F.col("vec_id") < IVF_TRAIN_SAMPLE)
        .select(*cols)
        .toPandas()
    )
    if len(rows) == 0:
        rows = (
            emb.orderBy("vec_id")
            .limit(IVF_TRAIN_SAMPLE)
            .select(*cols)
            .toPandas()
        )
    if rows.empty:  # still a 2-D sample: the kernels read its dim
        return np.empty((0, EMBED_DIM)), {}
    rows = rows.sort_values("vec_id", ignore_index=True)
    x = np.asarray(rows["embedding"].tolist(), dtype=np.float64)
    return x, dict(zip(rows["vec_id"].tolist(), x))


def _query_vector(by_id: dict):
    """The ANN queries' query vector, vec_id 0, read from the sample."""
    if 0 not in by_id:
        raise ValueError(
            "embeddings holds no query vector: the ANN queries search "
            "around vec_id 0, and no row has that id"
        )
    return by_id[0]


def ivf_centroids(emb: "DataFrame", sample=None):
    """K-means centroids for an IVF coarse quantizer, trained on a bounded
    deterministic sample (first IVF_TRAIN_SAMPLE vectors by vec_id) on the
    driver with numpy.

    Training on a sample is the standard IVF recipe (a coarse quantizer
    needs ~100× K training points, not the corpus): the 100 TB corpus never
    participates in training — only the one bounded collect does — while
    cell *assignment* of the full corpus stays distributed in the caller.
    Deterministic init (first K sample rows), IVF_ITERS Lloyd steps; ties
    in assignment break to the lowest cid (argmin keeps the first minimum);
    a sample of n < K rows gives n cells (_lloyd).
    Returns (K×dim centroid array, {vec_id: sample row} dict) — callers
    that also need specific low-vec_id vectors (e.g. the query vector) read
    them from the sample instead of issuing a second collect job.
    ``sample``: a precollected _train_sample tuple (r7 — ann_ivf_pq_topk
    trains coarse + PQ quantizers from ONE collect).
    """
    x, by_id = sample if sample is not None else _train_sample(emb)
    return _lloyd(x, IVF_CLUSTERS, IVF_ITERS), by_id


@query("ann_ivf_topk", tags=("similarity", "ivf"))
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: sample-trained k-means coarse quantizer →
    assign corpus to cells → probe the NPROBE cells nearest the query →
    exact cosine re-rank inside the probed cells only. Rows-only
    (centroids are engine-derived).

    Scale shape: training touches only a bounded sample (see ivf_centroids);
    corpus assignment is one map-only scan — the K centroids ride the
    closure of a vectorized Arrow UDF whose per-batch numpy argmin does the
    K×D distance algebra (no shuffle, no per-element interpreted lambdas —
    see the inline note). The probe-cell choice is K driver-side distance evals
    against the already-collected query vector, so the only distributed
    work after assignment is the cosine re-rank over NPROBE/K of the data.
    In a served index the assigned corpus is written `partitionBy(cid)` —
    IVF as Spark partitioning, the same layout trick as ann_lsh_topk but
    with data-adaptive cells.

    Scale knobs: IVF_CLUSTERS is fixed (16) here because the declared
    query's cost is dominated by its self-evidencing brute-force top-10
    (a full-corpus scan by construction), so finer cells cannot move the
    measured wall. A production index sizes nlist ≈ √n with nprobe
    growing alongside (the banded-LSH dedup path in this module shows the
    adaptive-granularity pattern applied where it DOES change the
    asymptotics — pair generation); training stays bounded either way
    (sample ≈ 100×nlist, capped).
    """
    emb = table(spark, sf_dir, "embeddings")
    cents, by_id = ivf_centroids(emb)
    qv = _query_vector(by_id)
    probe = _probe(cents, qv)

    # Cell assignment as a vectorized Arrow UDF: nearest-centroid argmin is
    # dense K×D linear algebra, which numpy does in one BLAS-shaped batch
    # per Arrow block while the equivalent relational form (crossJoin ×K +
    # zip_with/aggregate distance + min_by) evaluates interpreted
    # higher-order lambdas per element AND shuffles every embedding through
    # a groupBy — measured 4-5× slower at sf0.1 and strictly worse at scale
    # (the UDF form is map-only: no shuffle, centroids ride the closure).
    # Ties break to the lowest cid (np.argmin keeps the first minimum),
    # matching the min_by(struct(d, cid)) form it replaces.
    nearest_cid = _series_udf("int", lambda x: _nearest(x, cents))
    assigned = spread(emb).withColumn("cid", nearest_cid(F.col("embedding")))
    qe = F.array(*[F.lit(float(v)) for v in qv])
    cos = cosine(F.col("embedding"), qe)
    approx = _top10(
        assigned.filter(F.col("cid").isin(probe) & (F.col("vec_id") != 0))
        .select("vec_id", F.round(cos, 4).alias("cosine")),
        F.desc("cosine"),
    )
    # Self-evidencing, same device as ann_lsh_topk: flag which approximate
    # hits also sit in the exact brute-force top-10 (unrounded score,
    # vec_id tiebreak), so the driver's rows-only artifact carries the
    # per-row recall of the probed-cells search itself.
    brute = _top10(
        spread(emb)
        .filter(F.col("vec_id") != 0)
        .select("vec_id", cos.alias("b_cos")),
        F.desc("b_cos"),
    )
    return _flag_hits(approx, brute, F.desc("cosine"), "in_brute_topk")


def pq_codebooks(emb: "DataFrame", sample=None, train_x=None):
    """Per-subspace k-means codebooks for product quantization, trained on
    the same bounded deterministic sample discipline as ivf_centroids
    (first IVF_TRAIN_SAMPLE vectors by vec_id, driver-side numpy — the
    100 TB corpus never participates in training). Deterministic init
    (first PQ_CODEWORDS sample rows per subspace), PQ_ITERS Lloyd steps,
    argmin ties to the lowest code; a sample of n < K rows gives n codewords
    per subspace (_lloyd). Returns (M×K×ds codebook array,
    {vec_id: sample row} dict). ``sample``: precollected _train_sample
    tuple; ``train_x``: train on THESE vectors instead of the sample rows
    themselves (ann_ivf_pq_topk passes cell RESIDUALS — codebooks must
    quantize what they will encode)."""
    import numpy as np

    x, by_id = sample if sample is not None else _train_sample(emb)
    if train_x is not None:
        x = np.asarray(train_x, dtype=np.float64)
    sub = x.reshape(len(x), PQ_SUBSPACES, x.shape[1] // PQ_SUBSPACES)
    books = np.stack(
        [
            _lloyd(sub[:, m, :], PQ_CODEWORDS, PQ_ITERS)
            for m in range(PQ_SUBSPACES)
        ]
    )
    return books, by_id


@query("ann_pq_topk", tags=("similarity", "pq"))
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (the IVF-PQ memory-reduction path a
    100 TB embedding store runs on): sample-trained per-subspace k-means
    codebooks compress every vector to PQ_SUBSPACES 4-bit codes (4 bytes
    vs 256 for the float32 vector — 64×), and the query scans CODES with
    an asymmetric-distance (ADC) lookup table instead of touching raw
    embeddings. Rows-only (codebooks are engine-derived).

    Scale shape: training is the bounded-sample exception (pq_codebooks,
    same discipline as ivf_centroids); encoding is one map-only Arrow
    UDF pass (per-batch numpy argmin over the M×K×ds codebook riding the
    closure — no shuffle); the ADC table (M×K distances of the query to
    every codeword) is computed driver-side from the already-collected
    query vector and enters the scan as a 128-double literal, so the
    per-row search cost is M table lookups + adds — no per-row distance
    algebra at all, which is the entire point of PQ at scale. In a
    served index the codes column is what gets stored/partitioned;
    re-ranking the ADC top-k against raw vectors is the standard final
    step and is exactly similarity_cosine_topk over the shortlist.

    Self-evidencing like ann_lsh/ann_ivf: ``in_brute_topk`` flags which
    ADC hits sit in the exact squared-L2 brute-force top-10, so the
    rows-only artifact carries the search's own recall per row. (On this
    synthetic corpus — i.i.d. random 64-dim vectors — distances
    concentrate and 4-bit PQ is a COARSE sieve, so moderate flags are
    the honest expectation; tests/test_similarity.py pins exact-ranking
    recovery on separated clustered data and a planted duplicate of the
    query ranking first, which is the property PQ actually promises.)"""
    emb = table(spark, sf_dir, "embeddings")
    books, by_id = pq_codebooks(emb)
    qv = _query_vector(by_id)
    pq_code = _series_udf("array<int>", lambda x: _pq_encode(x, books))
    # No spread() before the encode UDF: at scale the corpus arrives
    # pre-split (spread is a no-op by its own size guard) and locally the
    # fan-out exchange costs more than the single-split numpy encode it
    # parallelizes (r12 A/B: +0.21 s). The brute branch keeps spread — its
    # interpreted zip_with fold is the part that pays for parallelism.
    coded = emb.select(
        "vec_id", "embedding", pq_code(F.col("embedding")).alias("code")
    )
    approx_d2 = _adc_d2("code", _sql_array(_adc_table(qv, books)))
    approx = _top10(
        coded.filter(F.col("vec_id") != 0).select(
            "vec_id", F.round(approx_d2, 4).alias("approx_d2")
        ),
        F.asc("approx_d2"),
    )
    brute = _top10(
        spread(emb)
        .filter(F.col("vec_id") != 0)
        .select("vec_id", _sq_l2_to(qv).alias("b_d2")),
        F.asc("b_d2"),
    )
    return _flag_hits(approx, brute, F.asc("approx_d2"), "in_brute_topk")


@query("ann_ivf_pq_topk", tags=("similarity", "ivf", "pq"))
def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (the FAISS IndexIVFPQ composition — THE standard billion-
    vector serving index): the coarse quantizer bounds the SCAN (only
    NPROBE cells are read), product quantization bounds the MEMORY (each
    vector stores as cid + 8 four-bit residual codes), and the query
    runs ADC over codes inside the probed cells only. Residual encoding:
    PQ codebooks are trained on (x − centroid(x)) and the per-cell ADC
    tables are built from (q − centroid_cell) — residuals are what the
    codes must reconstruct, and quantizing them instead of raw vectors
    is what makes the composition beat either half alone. Rows-only
    (both quantizers engine-derived).

    Scale shape: ONE bounded driver collect trains both quantizers
    (_train_sample); corpus encoding is one map-only Arrow pass emitting
    [cid, code₀..code₇] per vector; the probed cells' ADC tables enter
    the scan as one parsed NPROBE×M×K literal (512 doubles), indexed by
    array_position(probe-list, cid) — so the per-row search cost inside
    a probed cell is M lookups + adds and rows outside probed cells are
    filtered before any distance work. In a served index the codes
    column is written partitionBy(cid): the probe filter becomes
    partition pruning and the scan touches NPROBE/K of the files.

    Self-evidencing like the LSH/IVF/PQ siblings, but BOUNDED (r9,
    VERDICT r8 #3): ``in_probed_exact_topk`` flags membership in the
    exact squared-L2 top-10 *within the probed cells*, so the evidence
    cost scales with the same NPROBE/K corpus fraction as the search
    itself instead of rescanning the full corpus (the r8 ×50 probe
    measured 4.3× growth on the old full brute pass; self-evidence must
    not set the op's asymptotics). Exact ranking conditioned on the
    probe list is precisely what ADC-over-residual-codes claims to
    approximate; coarse-quantizer recovery (probing does not miss the
    true cell on separable data) is pinned separately in tests
    (test_ivf_pq_residual_composition_on_clusters).

    Execution shape (r12 correction of the r9 "single-encode" account):
    the brute top-10 feeds the flag join as a BROADCAST consumer, and
    broadcast consumers get no ReusedExchange (the r3 finding), so the
    planner duplicates the scored subtree — the encode UDF runs once per
    branch, column-pruned to each branch's columns (the r12 after-plan
    dump is under `git show 86b1f03:plans/`). Forcing actual sharing was
    A/B'd twice and REJECTED: a persist (r11) and a single-pass mapInArrow
    emitting the triple once (r12; OPTIMIZATION_r12.md, VERDICT r11
    disposition item 4) both lose — the shared exchange serializes two
    cheap parallel subtrees. The probed-rows repartition is kept per branch: removing
    it measured -0.10 s (it fans the post-UDF rows out for the distance
    work and TakeOrdered). At 100 TB the same trade holds per branch:
    the exchange moves only the probed fraction at ~20 bytes/row."""
    import numpy as np

    emb = table(spark, sf_dir, "embeddings")
    sample = _train_sample(emb)
    cents, by_id = ivf_centroids(emb, sample=sample)
    qv = _query_vector(by_id)
    xs = sample[0]
    residuals = xs - cents[_nearest(xs, cents)]
    books, _ = pq_codebooks(emb, sample=sample, train_x=residuals)
    probe = _probe(cents, qv)
    # per-probed-cell ADC tables from the query's RESIDUAL in that cell
    adts = [_adc_table(qv - cents[cid], books) for cid in probe]

    def enc(x):
        cid = _nearest(x, cents)
        codes = _pq_encode(x - cents[cid], books)
        return np.column_stack([cid, codes]).astype(np.int32)

    # asNondeterministic is an optimizer FENCE, not a semantics claim (the
    # encode is deterministic): without it the pos>0 filter is pushed below
    # the ADC projection and the encode evaluates TWICE in the approx
    # branch — once under the filter over the full corpus, once above it
    # for the projection (guide §4.4). One evaluation halves the encode map
    # stage at scale; locally ±0.01 s (the corpus is small). The lost
    # vec_id!=0 scan pushdown is one row.
    ivfpq_enc = _series_udf("array<int>", enc).asNondeterministic()
    # No spread() before the encode UDF (same reasoning as the served-index
    # cell UDF and ann_pq_topk's encode): the scored frame repartitions
    # right below, so the fan-out exchange was redundant — at scale spread
    # is a no-op by its own size guard, and locally removing it is the
    # r12 A/B's largest single win (+0.47 s).
    coded = emb.select(
        "vec_id", "embedding", ivfpq_enc(F.col("embedding")).alias("cc")
    )
    # pos = 1-based index of this row's cell in the probe list (NULL →
    # unprobed cell, filtered before any distance work — BOTH the ADC
    # lookups and the exact fold run only on probed rows). The broadcast
    # consumer duplicates this subtree (no ReusedExchange, docstring), so
    # the repartition runs once per branch: it fans each branch's probed
    # rows out for the distance work and TakeOrdered, not to share one
    # exchange.
    approx_d2 = _adc_d2(
        f"slice(cc, 2, {PQ_SUBSPACES})",
        f"element_at({_sql_array(adts)}, cast(pos AS INT))",
    )
    scored = (
        coded.withColumn(
            "pos", F.expr(f"array_position({_sql_array(probe)}, cc[0])")
        )
        .filter((F.col("pos") > 0) & (F.col("vec_id") != 0))
        .select(
            "vec_id",
            F.round(approx_d2, 4).alias("approx_d2"),
            _sq_l2_to(qv).alias("exact_d2"),
        )
        .repartition(default_parallelism())
    )
    approx = _top10(scored.select("vec_id", "approx_d2"), F.asc("approx_d2"))
    brute = _top10(scored.select("vec_id", "exact_d2"), F.asc("exact_d2"))
    return _flag_hits(
        approx, brute, F.asc("approx_d2"), "in_probed_exact_topk"
    )


_IVF_INDEX_ROOT: str | None = None


def _ivf_index_root() -> str:
    """Session-lifetime staging root for the served IVF index layout (the
    orc-demo staging idiom: one tempdir per process, per-sf subdirs
    OVERWRITTEN per build so repeated bench executions don't grow disk)."""
    global _IVF_INDEX_ROOT
    import tempfile

    if _IVF_INDEX_ROOT is None:
        _IVF_INDEX_ROOT = tempfile.mkdtemp(prefix="omnidata_ivf_index_")
    return _IVF_INDEX_ROOT


@query("ann_ivf_served_index", tags=("similarity", "ivf", "sink"))
def ann_ivf_served_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVED-index layout every ANN docstring in this module promises,
    made real: the corpus is assigned to IVF cells once and WRITTEN as
    `partitionBy(cid)` parquet (the write IS the index build — r9), and
    the query filters `cid IN (probe list)` against the read-back table,
    so Spark's partition pruning touches only the NPROBE/K probed
    directories — at 100 TB the unprobed ~7/8ths of the index are never
    opened, listed row-groups aside. Probed rows get an exact squared-L2
    re-rank (the standard IVF-Flat search). NO_PREPARE: the partitioned
    write runs at build time because it is the declared index build.

    Rows-only (cell assignment engine-derived). Self-evidence in-output:
    ``n_cells_probed`` / ``n_cells_total`` carry the pruned fraction the
    layout delivers (cells counted from the written directory, not
    assumed), and tests/test_plans.py pins `PartitionFilters` on the scan
    node — the pruning is visible in the executed plan, not just claimed.
    """
    import os

    emb = table(spark, sf_dir, "embeddings")
    cents, by_id = ivf_centroids(emb)
    qv = _query_vector(by_id)
    probe = _probe(cents, qv)
    ivf_cell = _series_udf("int", lambda x: _nearest(x, cents))

    sf_tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    index_dir = os.path.join(_ivf_index_root(), sf_tag)
    # repartition ON the partition column before the partitioned write:
    # each task then owns whole cells and writes ONE file per cell,
    # instead of every task writing a sliver of every cell (width × K
    # small files — measured 5-7 s/run from the 512-file commit at sf0.1;
    # this shuffle-then-write is also the standard cluster-scale shape,
    # where the small-files explosion is the thing that kills a 100 TB
    # partitioned index write).
    # (no spread() before the cell UDF: the cid repartition is an exchange
    # already, and on a real multi-file corpus the scan is wide without it)
    (
        emb.select(
            "vec_id", "embedding", ivf_cell(F.col("embedding")).alias("cid")
        )
        # IVF_CLUSTERS-way, not the session default: a cell hashes to ONE
        # partition either way, so write parallelism is bounded by the
        # cell count in both forms — the extra session-default partitions
        # were always empty tasks paying schedule+commit overhead (r12
        # A/B: 1.39→1.05 and 0.98→0.75 s). A production index passes its
        # nlist here for the same reason. Caveat: hashing K cells into K
        # partitions collides, leaving ~1/e of the partitions empty and
        # stacking several cells on some tasks, so effective parallelism
        # is below IVF_CLUSTERS (output is unaffected: still one file per
        # cell).
        .repartition(IVF_CLUSTERS, "cid")
        .write.mode("overwrite")
        .partitionBy("cid")
        .parquet(index_dir)
    )
    n_cells_total = sum(
        1 for d in os.listdir(index_dir) if d.startswith("cid=")
    )

    served = spark.read.parquet(index_dir).filter(
        F.col("cid").isin([int(c) for c in probe]) & (F.col("vec_id") != 0)
    )
    return (
        _top10(
            served.select("vec_id", F.round(_sq_l2_to(qv), 4).alias("d2")),
            F.asc("d2"),
        ).select(
            "vec_id",
            "d2",
            F.lit(len(probe)).alias("n_cells_probed"),
            F.lit(n_cells_total).alias("n_cells_total"),
        )
    )


def banded_lsh_buckets(
    vectors: DataFrame, planes_per_band: int, col: str = "embedding"
) -> DataFrame:
    """Explode a (…, embedding) frame to one row per (band, bucket): band b's
    bucket id packs the sign bits of planes [b·r, b·r+r), first plane most
    significant (_band_buckets). All B·r plane dot products are ONE BLAS
    matmul per Arrow batch, so the plane work is done once per vector, not
    per band.

    The hash runs in numpy at every corpus size. A SQL zip_with/aggregate
    form ran until the r10 sweep's 8k-vector crossover went stale: with the
    engine's Python daemon the numpy path is ahead 9/9 reps at sf0.001,
    sf0.01 and sf0.1 with identical pair sets (ROADMAP item 9). Bucket
    parity with a sequential left-fold sum (that form's order) is pinned
    by tests/test_similarity.py at r=18: the smallest |dot| over the test
    corpora is ~5e-6, far above the rounding the two orders can differ by
    (a dot within a few ULPs of zero could flip a bit, which is
    recall-neutral: candidate verification recomputes the exact cosine)."""
    return (
        vectors.withColumn("_bks", _lsh_udf(planes_per_band, LSH_BANDS)(col))
        .select("*", F.posexplode("_bks").alias("band", "bucket"))
        .drop("_bks")
    )


def blocked_cosine_pairs(
    vectors: DataFrame, threshold: float, n_vectors: int
) -> DataFrame:
    """Banded-LSH near-dup pairs over a (vec_id, embedding) frame:
    candidates share a random-hyperplane bucket in ANY of LSH_BANDS bands,
    verified by exact cosine ≥ threshold. Norms are computed once per
    VECTOR, not once per candidate pair.

    Scale design (r6 — the ×50 probe caught the previous single-table,
    fixed-8-plane form at 49 s/quadratic): bucket granularity ADAPTS to
    corpus size, r = max(8, ⌈log₂ n⌉ + 3) planes per band, so expected
    bucket occupancy stays ~constant and the within-bucket pair space
    grows LINEARLY with n instead of n²/2⁸. Finer buckets alone would
    crater recall (per-band match rate is p^r, p = 1 − θ/π per plane), so
    the banding restores it exactly like the MinHash-LSH family in
    dedup.py: a pair is a candidate if any of the B=8 bands agree —
    recall 1 − (1 − p^r)^B, self-evidenced per run by the caller's
    planted_recall column (the probe corpus is hashed with the MAIN
    corpus's r via n_vectors, so the measured recall is the deployed
    operator's, not a toy setting's). A pair matching several bands is
    deduplicated AFTER the cheap threshold filter (dropDuplicates on the
    id pair — the survivor set is tiny, re-verifying a duplicate costs
    one 64-dim dot).

    ``n_vectors`` is REQUIRED (r7, ADVICE): the caller passes the corpus
    count that pins the adaptive r, memoized per (session, sf_dir) — see
    ``_corpus_count`` — instead of a ``vectors.count()`` job here.

    Eager: returns the pair frame pinned (memo_pin). The LSH frame both
    sides of the self-join read is persisted for the pin's one pass, and
    the pin releases it, so only the survivor set stays materialized, not
    the O(corpus) embeddings and bucket rows."""
    import math

    r = max(8, math.ceil(math.log2(max(n_vectors, 2))) + 3)
    emb = banded_lsh_buckets(
        vectors.withColumn("_norm", norm(F.col("embedding"))), r
    ).persist()
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("_norm").alias("norm_a"),
        "band",
        "bucket",
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("_norm").alias("norm_b"),
        F.col("band").alias("band_b"),
        F.col("bucket").alias("bucket_b"),
    )
    pairs = a.join(
        b,
        (F.col("band") == F.col("band_b"))
        & (F.col("bucket") == F.col("bucket_b"))
        & (F.col("vec_a") < F.col("vec_b")),
    )
    cos = F.round(
        dot(F.col("emb_a"), F.col("emb_b"))
        / (F.col("norm_a") * F.col("norm_b")),
        4,
    )
    return memo_pin(
        pairs.select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .dropDuplicates(["vec_a", "vec_b"])
    )


def _corpus_count(
    spark: SparkSession,
    sf_dir: str,
    name: str = "embeddings",
    id_below: int | None = None,
    id_col: str = "vec_id",
) -> int:
    """Row count of catalog table ``name``, once per session while its
    parquet is unchanged (`session.session_memo`): one parquet-metadata
    count job the first time a build needs the corpus size (the
    adaptive-LSH r pin, the planted-probe denominators), then a dict hit.

    ``id_below`` (r10, r9 ADVICE #2): count only rows with id_col <
    id_below — a pushed-down range predicate, used to validate the
    planted-probe id contract (probe filters like ``vec_id < 10`` assume a
    zero-based contiguous id space; an empty probe must fail loudly at
    build instead of degrading the recall evidence column to 0/NULL)."""

    def build() -> int:
        df = table(spark, sf_dir, name)
        if id_below is not None:
            df = df.filter(F.col(id_col) < id_below)
        return df.count()

    return table_memo(spark, sf_dir, name, ("count", name, id_below), build)


@query("dedup_embedding_cosine", tags=("similarity", "dedup"))
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ 0.95 among vectors sharing an
    LSH bucket (blocked all-pairs — the O(n²/buckets) scale path). Rows-only.

    Self-evidencing (the near_minhash pattern): ``planted_recall`` on every
    row is the fraction of 10 planted (original, perturbed-copy) vector
    pairs the SAME bucket→join→cosine stack recovers, computed on a 20-row
    mini-corpus (bucket collision for a pair depends only on that pair's
    own vectors, so planted recall is identical to planting corpus-wide).
    The perturbation bumps one deterministic dimension by 0.05, so the copy
    is a true near-duplicate (cosine just under 1) that CAN legitimately
    fall out of the bucket when the bumped dimension flips a hyperplane
    sign — exactly the miss probability recall measures.

    The synthetic embeddings corpus contains NO true ≥0.95 pairs (random
    64-dim vectors), so the recall row also rides a sentinel summary row
    (vec_a = vec_b = −1, NULL cosine): the empty main result is then
    visibly a true negative from a stack proven live on the planted pairs,
    not a silently broken pipeline.

    Single LSH pass (r7): the 10 perturbed probe copies (ids offset by
    _POFF) are UNIONED into the main corpus and blocked_cosine_pairs runs
    ONCE — the B·r plane-dot expressions evaluate once per vector instead
    of twice per probe vector (corpus pass + separate mini-corpus pass),
    halving the hashing work the r6 verdict flagged on the suite's
    slowest query. Planted recall is then read off the SAME pair frame
    (vec_b = vec_a + _POFF ⟺ a copy met its original — random corpus
    vectors can't reach cosine 0.95 with a copy, so the filter is exact),
    which also makes the measurement strictly end-to-end: the copies are
    hashed, bucketed, and verified inside the deployed corpus run itself.
    The pair frame is pinned in the session memo: its three consumers
    (main split, recall row, sentinel) read the tiny survivor set, not three re-joins. The corpus count that pins the adaptive r is
    memoized per (session, sf_dir) — see _corpus_count."""
    _POFF = 10_000_000  # sentinel id offset, far above any real vec_id
    raw = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n_main = _corpus_count(spark, sf_dir)

    # Pushed-down range predicate, not orderBy().limit(10): the TakeOrdered
    # form heap-sorted the FULL corpus with embeddings in the heap (the
    # _train_sample r9 finding — linear cost hiding in a "first 10 rows"
    # subplan) and added an AQE stage to the run's job ladder; vec_id is
    # contiguous 0..N-1 in this data model, so the filter selects the same
    # 10 rows as a row-group-prunable scan predicate. The contract is
    # VALIDATED, not assumed (r9 ADVICE): a memoized pushed-filter count
    # (one tiny job per session) fails the build loudly on a non-zero-based
    # id space instead of letting planted_recall degrade to 0 over an
    # empty probe — and doubles as the recall denominator.
    n_probe = _corpus_count(spark, sf_dir, id_below=10)
    if n_main > 0 and n_probe == 0:
        raise ValueError(
            "dedup_embedding_cosine planted probe is empty: vec_id < 10 "
            "matched no rows in a non-empty embeddings table — the "
            "zero-based contiguous vec_id contract is violated"
        )
    originals = raw.filter(F.col("vec_id") < 10)
    bump = F.transform(
        F.col("embedding"),
        lambda x, i: x.cast("double")
        + F.when(i == F.pmod(F.col("vec_id"), F.lit(EMBED_DIM)), 0.05)
        .otherwise(0.0),
    )
    # the union stays array<float> (the probe copies cast DOWN, not the
    # corpus up): the persisted LSH frame and the candidate join carry
    # emb_a/emb_b for every vector, and float halves those bytes — all
    # plane-dot/cosine arithmetic casts per-element to double inside the
    # expressions regardless. The 0.05 bump survives float rounding with
    # ~7 decimal digits to spare.
    corpus = spread(raw).unionByName(
        originals.select(
            (F.col("vec_id") + _POFF).alias("vec_id"),
            bump.cast("array<float>").alias("embedding"),
        )
    )
    # r is pinned by the MAIN corpus size: the probe copies ride along at
    # exactly the granularity deployed for this corpus. One pinned pair
    # frame per (session, sf_dir): repeated builds reuse it
    all_pairs = table_memo(
        spark, sf_dir, "embeddings", "emb_cosine_pairs",
        lambda: blocked_cosine_pairs(corpus, 0.95, n_vectors=n_main),
    )
    main = all_pairs.filter(
        (F.col("vec_a") < _POFF) & (F.col("vec_b") < _POFF)
    )
    # the denominator is the number of copies WE planted — the memoized
    # pushed-filter count above — not a quantity to re-derive with a
    # second sort-limit + crossJoin per execution (r7: shaved one
    # TakeOrdered job and a join from every run). max(1, ·) keeps the
    # division defined on an empty corpus (recall 0/1 = 0.0 instead of
    # 0/0 = NaN).
    n_planted = max(1, n_probe)
    recall = (
        all_pairs.filter(F.col("vec_b") == F.col("vec_a") + _POFF)
        .agg(F.count(F.lit(1)).alias("n_found"))
        .select(
            (F.col("n_found").cast("double") / F.lit(float(n_planted))).alias(
                "planted_recall"
            )
        )
    )
    sentinel = recall.select(
        F.lit(-1).cast("long").alias("vec_a"),
        F.lit(-1).cast("long").alias("vec_b"),
        F.lit(None).cast("double").alias("cosine"),
        "planted_recall",
    )
    return main.crossJoin(F.broadcast(recall)).unionByName(sentinel)


@query(
    "embedding_label_centroids",
    oracle="""
        WITH per_dim AS (
            SELECT label,
                   CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER)
                       AS dim,
                   unnest(embedding) AS x
            FROM embeddings
        ),
        agg AS (
            SELECT label, dim,
                   SUM(CAST(round(CAST(x AS DOUBLE), 9)
                            AS DECIMAL(18,9))) AS sx,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM per_dim GROUP BY label, dim
        )
        SELECT label,
               list(CAST(sx AS DOUBLE) / n ORDER BY dim) AS centroid,
               MAX(n) AS n_vectors
        FROM agg GROUP BY label
    """,
    tags=("similarity", "ml"),
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean embedding per label (class centroids / prototypes — the
    nearest-class-mean classifier's training step, and the reduce that
    k-means iterates). Expressed dimension-wise: posexplode each vector,
    average per (label, dim), reassemble sorted by dim — one shuffle keyed
    on (label, dim), map-side partial sums, no vectors collected to the
    driver.

    Oracle-checked (r11 promotion, formerly rows-only for float-sum
    order): each summand is rounded to 9dp and summed as DECIMAL, so the
    per-dim sums are associative and engine-order-proof. The rounding
    loses nothing structural — float32 values are binary fractions, which
    can never sit ON a 0.5e-9 decimal boundary (their lowest-term
    denominators have no factor 5), so both engines round every summand
    identically — and the mean deviates from the exact float64 mean by
    < 1e-9 (numpy parity pinned at that tolerance in
    tests/test_similarity.py). The hashed ARRAY column directly verifies
    the reassembly (order, completeness, per-dim values), superseding the
    r9 mean_identity_ok self-evidence column."""
    emb = table(spark, sf_dir, "embeddings")
    per_dim = (
        emb.select("label", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(
            F.sum(
                F.round(F.col("x").cast("double"), 9).cast("decimal(18,9)")
            ).alias("sx"),
            F.count("*").alias("n"),
        )
        .select(
            "label", "dim", "n",
            (F.col("sx").cast("double") / F.col("n")).alias("mean_x"),
        )
    )
    return (
        per_dim.groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", "mean_x"))
            ).alias("pairs"),
            F.max("n").alias("n_vectors"),
        )
        .select(
            "label",
            F.transform(F.col("pairs"), lambda p: p.mean_x).alias("centroid"),
            F.col("n_vectors").cast("bigint").alias("n_vectors"),
        )
    )


@query(
    "embedding_quantize_int8",
    oracle="""
        SELECT vec_id,
               list_transform(
                   CAST(embedding AS DOUBLE[]),
                   x -> CASE WHEN mx = mn THEN 0
                             ELSE CAST(floor((x - mn) / (mx - mn) * 255.0)
                                       AS INTEGER) - 128 END
               ) AS q8,
               mn AS q_min,
               mx AS q_max
        FROM (
            SELECT vec_id, embedding,
                   list_min(CAST(embedding AS DOUBLE[])) AS mn,
                   list_max(CAST(embedding AS DOUBLE[])) AS mx
            FROM embeddings
        ) b
    """,
    tags=("similarity", "ml", "quantization"),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 min-max quantization — the 4× storage/bandwidth cut
    an embedding-serving layout applies before indexing (each vector ships
    as 64 int8 codes + 2 doubles for dequantization).

    Pure array-lambda expressions, no UDF, no shuffle — one scan, codegen
    throughout; at 100 TB this is bandwidth-bound like the brute-force
    scorer. Determinism: all arithmetic in double ((x−mn)/(mx−mn) ≤ 1 is
    guaranteed by IEEE division, so floor(…*255)−128 lands in [−128,127]);
    constant vectors (mx=mn) quantize to 0 rather than dividing by zero.
    spread(): the embeddings file is one scan split locally, and the
    per-vector array math is CPU-heavy enough that the round-robin
    exchange pays (r4 A/B: 351ms → 177ms); at cluster scale the scan
    arrives pre-split and spread() is a no-op by its own size guard.
    """
    emb = spread(table(spark, sf_dir, "embeddings"))
    xd = F.transform("embedding", lambda x: x.cast("double"))
    b = emb.select(
        "vec_id",
        xd.alias("ed"),
        F.array_min(xd).alias("mn"),
        F.array_max(xd).alias("mx"),
    )
    code = lambda x: (  # noqa: E731
        F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
            F.floor(
                (x - F.col("mn")) / (F.col("mx") - F.col("mn")) * 255.0
            ).cast("int")
            - 128
        )
    )
    return b.select(
        "vec_id",
        F.transform("ed", code).alias("q8"),
        F.col("mn").alias("q_min"),
        F.col("mx").alias("q_max"),
    )


@query(
    "ann_range_search",
    oracle="""
        WITH q AS (
            SELECT vec_id AS query_id,
                   CAST(embedding AS DOUBLE[]) AS qe
            FROM embeddings WHERE vec_id < 5
        ),
        c AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings WHERE vec_id >= 5
        )
        SELECT query_id, vec_id,
               list_cosine_similarity(e, qe) AS cosine
        FROM c, q
        WHERE list_cosine_similarity(e, qe) >= 0.25
    """,
    tags=("similarity", "ann"),
)
def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) search: every corpus vector within cosine ≥ 0.25 of
    each of 5 query vectors — the retrieval shape behind "find everything
    similar enough", the complement of fixed-k top-k.

    The query set broadcasts (5 rows) and the corpus streams through one
    scan — embarrassingly parallel, no shuffle at all; output size is
    data-dependent, which is exactly why range search (unlike top-k)
    needs no global ordering stage. At 100 TB with a LARGE query set the
    broadcast-nested-loop degenerates — that regime switches to the
    LSH-bucketed band join (dedup_embedding_cosine's plan) where only
    candidate pairs are scored; the exact form here is the oracle
    baseline those bucketed plans are recall-checked against. The 0.25
    threshold comparison rides bit-identical double cosines (unrounded,
    array-order folds) so the boundary classifies identically in both
    engines."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        norm(F.col("embedding")).alias("qn"),
    )
    c = spread(emb.filter(F.col("vec_id") >= 5))
    cos = dot(F.col("embedding"), F.col("qe")) / (
        norm(F.col("embedding")) * F.col("qn")
    )
    return (
        c.crossJoin(F.broadcast(q))
        .select("query_id", "vec_id", cos.alias("cosine"))
        .where(F.col("cosine") >= 0.25)
    )


@query("embedding_power_iteration", tags=("similarity", "iterative"))
def embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction by distributed power iteration — the
    iterative-algorithm shape (PageRank, ALS, PCA) where a small model
    vector bounces between driver and cluster while the DATA never moves.

    Each round is ONE job: every Arrow batch computes its 64-float
    partial Xᵀ(Xv) with two BLAS GEMVs (the same vectorized-inner-loop
    rule as the ANN family's _sq_dists — never per-row Python), and the
    driver reduces n_partitions × 64 floats (bounded collect: KB per
    round at ANY corpus size — the model is small, the data is big).
    The scanned frame persists once (session memo) and every round runs
    on the cache — at 100 TB that cache is the cluster-wide persisted
    scan and the rounds are the only sequential barrier.

    The raw synthetic embeddings are near-isotropic (λ₂/λ₁ ≈ 0.983
    measured — power iteration needs ~800 rounds there), so the query
    plants a known dominant direction: 32 rows of c·u (u a fixed
    alternating unit vector, c sized from the corpus' own total energy
    Σ‖x‖² so the spike stays ≥100× the rest of the spectrum at ANY
    data scale → contraction ≤0.01/round). FIVE rounds then land the
    residual at ~1e-7, and the round count is the algorithmic minimum
    for the target — the local wall is jobs × the ~0.2 s local
    mapInPandas job floor, which is why the rounds are budgeted, not
    padded (measured: 10 naive jobs over 64 micro-tasks = 8.1 s; 5
    budgeted jobs over 8 cached partitions ≈ 1.3 s at sf0.1).

    Rows-only with three-legged self-evidence (float partial-sum order
    makes exact hashes meaningless): ``converged_ok`` pins
    |cos(v₄, v₅)| > 0.9999, ``residual_ok`` pins the definitional
    eigenpair check ‖A v − λv‖ ≤ 1e-6·λ on the SAME augmented operator
    the iteration ran on (the final round's product serves as both the
    next iterate and the residual witness — no extra pass), and
    ``planted_recovery_ok`` pins |cos(v, u)| > 0.99 — the iteration
    must actually FIND the planted direction, so a wrong GEMV, a wrong
    reduce, or a broken union all fail at least one leg."""
    import numpy as np

    from omnidata_etl_spark.queries._util import local_df

    emb = table(spark, sf_dir, "embeddings").select("embedding")
    dim = 64
    m_planted = 32
    u = np.array([1.0 if j % 2 == 0 else -1.0 for j in range(dim)])
    u /= np.linalg.norm(u)

    def build():
        # corpus energy Σ‖x‖² (one cheap agg) sizes the planted spike so it
        # dominates the spectrum by ≥100× at any corpus size
        energy = emb.select(
            F.sum(F.aggregate(
                F.transform("embedding", lambda x: x * x),
                F.lit(0.0),
                lambda a, x: a + x,
            )).alias("e")
        ).collect()[0].e
        c = float(np.sqrt(100.0 * energy / m_planted))
        planted_rows = [((c * u).tolist(),) for _ in range(m_planted)]
        planted = local_df(spark, planted_rows, "embedding array<double>")
        df = memo_pin(
            emb.select(F.col("embedding").cast("array<double>"))
            .unionAll(planted)
            .coalesce(8)
        )
        return df, df.count()

    data, n_vec = table_memo(spark, sf_dir, "embeddings", "power_iter_aug", build)

    def gemv_pass(v: "np.ndarray") -> "np.ndarray":
        def op(batches):
            import numpy as np
            import pandas as pd

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                s = X @ v
                yield pd.DataFrame({"w": [(X.T @ s).tolist()]})

        parts = data.mapInPandas(op, "w array<double>").collect()
        return np.sum([np.asarray(r.w) for r in parts], axis=0)

    # e_0 start: overlap with u is u_0 = 1/8 ≠ 0 (the all-ones start is
    # EXACTLY orthogonal to the alternating u — it would never converge)
    v = np.zeros(dim)
    v[0] = 1.0
    for _ in range(4):
        w = gemv_pass(v)
        v = w / float(np.linalg.norm(w))
    # final round: w = A·v serves as eigen-witness AND next iterate
    w = gemv_pass(v)
    lam = float(np.linalg.norm(w))
    resid = float(np.linalg.norm(w - lam * v)) / lam
    v_next = w / lam
    conv = float(abs(np.dot(v, v_next)))
    recov = float(abs(np.dot(v_next, u)))
    return local_df(
        spark,
        [
            (
                int(n_vec),
                dim,
                lam,
                conv,
                bool(conv > 0.9999),
                resid,
                bool(resid <= 1e-6),
                recov,
                bool(recov > 0.99),
            )
        ],
        "n_vectors long, dim int, eigenvalue double, converge_cos double, "
        "converged_ok boolean, residual_ratio double, residual_ok boolean, "
        "planted_recovery_cos double, planted_recovery_ok boolean",
    )


@query(
    "embedding_dim_stats",
    oracle="""
        WITH flat AS (
            SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER)
                       AS dim,
                   unnest(embedding) AS x
            FROM embeddings
        )
        SELECT dim,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MIN(x) AS DOUBLE) AS min_x,
               CAST(MAX(x) AS DOUBLE) AS max_x,
               CAST(SUM(CASE WHEN abs(x) > CAST(0.3 AS DOUBLE)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM flat GROUP BY dim
    """,
    tags=("similarity", "embedding", "profile"),
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding QA profile — the pre-index sanity pass a
    vector corpus needs before ANN builds or quantization: a dimension
    whose range collapsed (dead dim), blew out (tail-mass outliers), or
    lost rows (ragged vectors) poisons IVF centroids and int8 scaling.

    One posexplode→groupBy(dim) pass: map-side partial aggregation means
    the shuffle carries |dims| partial rows per task, never the exploded
    corpus — the same property that makes text_word_counts viable at
    100 TB. min/max/count on raw float32 values are exact in both engines
    (float→double widening is value-preserving; no arithmetic), so this
    is fully hash-checked, unlike mean/variance profiles whose float
    accumulation order diverges."""
    emb = table(spark, sf_dir, "embeddings")
    flat = emb.select(F.posexplode("embedding").alias("dim", "x"))
    return flat.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("x").cast("double").alias("min_x"),
        F.max("x").cast("double").alias("max_x"),
        F.sum(
            (F.abs(F.col("x").cast("double")) > F.lit(0.3)).cast("bigint")
        ).alias("n_outliers"),
    )
