"""Similarity search over an embedding column (array<float>).

Baseline: brute-force cosine top-k against a small probe set — the probe
side is broadcast, the scan side stays partitioned, scoring is a native
``aggregate``/``zip_with`` fold in double precision (no Python).
Scale paths: sign-LSH bucketing (random-hyperplane sketch) restricts
the search to matching buckets — hyperplanes derived from md5 so the
result is deterministic and oracle-reproducible — and an IVF index
(spherical-k-means coarse quantizer trained on a bounded sample, one
inverted-list id per vector, probes search nprobe lists) whose recall
is measured against the brute-force ranking in tests/test_ivf.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gwv_spark.session import local_frame


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_topk(
    vectors: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """Exact top-k by cosine for each probe vector.

    probes is small (broadcast); ranking uses a window per probe with a
    deterministic (score desc, vec_id) tie-break.  At cluster scale the
    per-partition topK is computed map-side before the single shuffle
    (Spark's TakeOrderedAndProject / window with AQE)."""
    p = probes.select(
        F.col(probe_id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec")
    )
    scored = vectors.crossJoin(F.broadcast(p)).select(
        "probe_id",
        F.col(id_col).alias("vec_id"),
        F.round(
            _dot(F.col(vec_col), F.col("probe_vec"))
            / (_norm(F.col(vec_col)) * _norm(F.col("probe_vec"))),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("probe_id", "vec_id", "cosine", "rank")
    )


def _hyperplane(dim: int, plane_id: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane from md5 — the
    same construction is reproducible in SQL if ever needed."""
    import hashlib

    vals = []
    for j in range(dim):
        h = hashlib.md5(f"plane:{plane_id}:{j}".encode()).hexdigest()
        vals.append((int(h[:8], 16) / 0xFFFFFFFF) * 2.0 - 1.0)
    return vals


def sign_lsh_buckets(
    vectors: DataFrame,
    dim: int,
    n_planes: int = 12,
    vec_col: str = "embedding",
    table_id: int = 0,
    out_col: str = "lsh_bucket",
) -> DataFrame:
    """Attach a sign-LSH bucket id: bit i = sign(v · plane_i).

    ``table_id`` selects an independent plane family (planes
    ``table_id*n_planes .. table_id*n_planes+n_planes-1``) for OR-amplified
    multi-table LSH."""
    return vectors.withColumn(out_col, _bucket_expr(vec_col, dim, n_planes, table_id))


def _bucket_expr(vec_col: str, dim: int, n_planes: int, table_id: int = 0):
    bucket = F.lit(0).cast("long")
    for i in range(n_planes):
        plane = F.array(*[F.lit(x) for x in _hyperplane(dim, table_id * n_planes + i)])
        bit = (_dot(F.col(vec_col), plane) > 0).cast("long")
        bucket = bucket + F.shiftleft(bit, i)
    return bucket


def lsh_amplification(threshold: float, n_planes: int, target_recall: float = 0.95) -> int:
    """Number of OR'd hash tables needed for sign-LSH to reach
    ``target_recall`` on pairs at cosine == ``threshold``.

    A pair at cosine t agrees on one hyperplane's sign with
    p = 1 - acos(t)/pi, lands in the same bucket of one table with
    p**n_planes, and is found by at least one of T tables with
    1 - (1 - p**n_planes)**T.  A single table is NOT enough away from
    t=1 (p**6 is 0.53 at t=0.95) — that was round 1's silent recall
    hole."""
    import math

    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    p_band = p**n_planes
    if p_band >= 1.0:
        return 1
    if p_band <= 1e-9:
        raise ValueError(
            f"sign-LSH with {n_planes} planes is hopeless at threshold "
            f"{threshold} (band match prob {p_band:.2e}); use fewer planes"
        )
    return max(1, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p_band)))


def lsh_cosine_topk(
    vectors: DataFrame,
    probes: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the probe's LSH
    bucket, then exact cosine rank within the bucket.  At 10^12 vectors
    the bucketed table is the partitioning key (write bucketed-by
    lsh_bucket), so a probe touches one partition group."""
    v = sign_lsh_buckets(vectors, dim, n_planes, vec_col)
    p = sign_lsh_buckets(
        probes.select(
            F.col(probe_id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec")
        ),
        dim,
        n_planes,
        "probe_vec",
    )
    joined = v.join(F.broadcast(p), "lsh_bucket").select(
        "probe_id",
        F.col(id_col).alias("vec_id"),
        F.round(
            _dot(F.col(vec_col), F.col("probe_vec"))
            / (_norm(F.col(vec_col)) * _norm(F.col("probe_vec"))),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("probe_id", "vec_id", "cosine", "rank")
    )


def ivf_train_centroids(
    vectors: DataFrame,
    dim: int,
    n_lists: int = 64,
    max_train: int = 262_144,
    iters: int = 10,
    seed: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Train the IVF coarse quantizer: spherical k-means on a BOUNDED
    deterministic sample (the standard IVF design — FAISS trains its
    quantizer on a sample too; at 10^12 vectors the sample stays
    ~max_train rows, so the driver collect is size-capped by
    construction, not by luck).  Returns an (n_lists, dim) float64
    numpy array of L2-normalized centroids.

    Determinism: the sample is the first ``max_train`` rows by id and
    the k-means++-style seeding uses a fixed rng, so the same corpus
    always yields the same centroids (oracle-reproducible)."""
    import numpy as np

    sample = (
        vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy("id")
        .limit(max_train)
        .toPandas()
    )
    x = np.array([np.asarray(v, dtype=np.float64) for v in sample["v"]])
    if x.shape[0] < n_lists:
        raise ValueError(f"need >= {n_lists} training vectors, got {x.shape[0]}")
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    # k-means++ seeding on the unit sphere (distance = 1 - cosine)
    cent = [x[rng.integers(x.shape[0])]]
    for _ in range(n_lists - 1):
        d = 1.0 - np.max(np.stack([x @ c for c in cent]), axis=0)
        d = np.clip(d, 1e-12, None)
        cent.append(x[rng.choice(x.shape[0], p=d / d.sum())])
    c = np.stack(cent)
    for _ in range(iters):
        assign = np.argmax(x @ c.T, axis=1)
        for j in range(n_lists):
            members = x[assign == j]
            if members.shape[0]:
                c[j] = members.mean(axis=0)
        c /= np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    return c


def _ivf_assign_udf(centroids, top: int):
    """Pandas UDF: per batch, one (B, dim) @ (dim, n_lists) matmul then
    argmax/argsort — the whole assignment is two BLAS calls per Arrow
    batch, no per-row Python."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    c_t = centroids.T.copy()

    # NB: hint-less UDFs — PEP-563 string annotations (this module's
    # `from __future__ import annotations`) break pandas_udf eval-type
    # inference (same pitfall as streaming.py's SimHash UDF)
    if top == 1:

        def assign(v):
            if len(v) == 0:
                return pd.Series([], dtype="int32")
            x = np.stack(v.to_numpy()).astype(np.float64, copy=False)
            return pd.Series(np.argmax(x @ c_t, axis=1).astype("int32"))

        return pandas_udf(assign, "int")

    def assign_top(v):
        if len(v) == 0:
            return pd.Series([], dtype="object")
        x = np.stack(v.to_numpy()).astype(np.float64, copy=False)
        order = np.argsort(-(x @ c_t), axis=1)[:, :top].astype("int32")
        return pd.Series(list(order))

    return pandas_udf(assign_top, "array<int>")


def ivf_assign(
    vectors: DataFrame,
    centroids,
    vec_col: str = "embedding",
    out_col: str = "ivf_list",
) -> DataFrame:
    """Attach each vector's inverted-list id (nearest centroid by
    cosine).  At 10^12 vectors this column is the partitioning/bucketing
    key of the stored index: a probe reads nprobe list partitions, never
    the table."""
    return vectors.withColumn(out_col, _ivf_assign_udf(centroids, 1)(F.col(vec_col)))


def ivf_topk(
    vectors: DataFrame,
    probes: DataFrame,
    centroids,
    k: int = 10,
    nprobe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """IVF approximate top-k: each probe searches only its ``nprobe``
    nearest inverted lists, exact cosine ranks within them.

    Plan shape: vectors get ONE list id (pandas-UDF matmul), probes
    explode to nprobe list ids, the candidate set is a broadcast
    equi-join on the list id — the scan side never shuffles and the
    fraction of the table scored is ~nprobe/n_lists.  Recall is
    measured, not assumed: tests/test_ivf.py asserts >= 0.9 vs the
    brute-force ranking on the shipped embeddings."""
    v = ivf_assign(vectors, centroids, vec_col)
    p = probes.select(
        F.col(probe_id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec")
    ).withColumn("lists", _ivf_assign_udf(centroids, nprobe)(F.col("probe_vec")))
    p = p.select("probe_id", "probe_vec", F.explode("lists").alias("ivf_list"))
    joined = v.join(F.broadcast(p), "ivf_list").select(
        "probe_id",
        F.col(id_col).alias("vec_id"),
        F.round(
            _dot(F.col(vec_col), F.col("probe_vec"))
            / (_norm(F.col(vec_col)) * _norm(F.col("probe_vec"))),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("probe_id", "vec_id", "cosine", "rank")
    )


def write_ivf_index(
    vectors: DataFrame,
    centroids,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index: the vector table written partitioned
    by inverted-list id.  This is what makes IVF the SCALE path — a
    probe's nprobe lists become parquet partition directories, so the
    scan reads nprobe/n_lists of the table via partition pruning
    (asserted on the plan in tests/test_ivf.py), not via a post-scan
    filter.

    partitionOverwriteMode is forced to ``static`` here: the session
    default is dynamic (session.py), under which a retrain that maps a
    list id to zero vectors would silently KEEP the old quantizer's
    files for that list — stale mis-routed vectors coexisting with the
    new ``_centroids``.  A rebuild must truncate the whole index, which
    is also the contract load_ivf_centroids's recovery story assumes."""
    ivf_assign(vectors, centroids, vec_col).write.partitionBy(
        "ivf_list"
    ).mode("overwrite").option("partitionOverwriteMode", "static").parquet(path)
    _write_ivf_centroids(vectors.sparkSession, centroids, path)


def _write_ivf_centroids(spark, centroids, path: str) -> None:
    """Persist the quantizer beside its index (under ``_centroids``,
    underscore-invisible to the index scan).  The centroids ARE the
    index's identity: probing or appending with a retrained quantizer
    would silently mis-route vectors, so a fresh session must load
    these rather than retrain."""
    import numpy as np

    rows = [(i, [float(x) for x in c]) for i, c in enumerate(np.asarray(centroids))]
    local_frame(spark, rows, "list_id int, centroid array<double>").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/_centroids")


def load_ivf_centroids(spark, path: str):
    """The stored index's quantizer as the (n_lists, dim) numpy array
    every probe/append API takes.

    A missing quantizer means an interrupted ``write_ivf_index`` (the
    static overwrite truncates the whole path — data AND old quantizer —
    before either is rewritten, so a crash mid-rebuild leaves neither
    trustworthy).  The only sound recovery is re-running the rebuild;
    fail with that instruction rather than a bare path error."""
    import numpy as np

    try:
        rows = spark.read.parquet(f"{path}/_centroids").orderBy("list_id").collect()
    except Exception as e:
        raise ValueError(
            f"IVF index at {path!r} has no quantizer ({e.__class__.__name__}) "
            f"- likely an interrupted write_ivf_index; the data files are "
            f"equally untrustworthy after a partial static overwrite, so "
            f"re-run write_ivf_index to rebuild"
        ) from e
    return np.array([r["centroid"] for r in rows], dtype=np.float64)


def append_to_ivf_index(
    new_vectors: DataFrame,
    path: str,
    centroids=None,
    vec_col: str = "embedding",
) -> None:
    """Fold newly-arrived vectors into a stored IVF index WITHOUT
    rebuilding: assign against the index's own persisted quantizer and
    append into the list partitions.  The per-append cost is the new
    vectors' assignment + write — never a rebuild of the table — and
    probe-side partition pruning is unaffected (appended files land
    inside their list directories).  The IVF trade-off is the standard
    one: list sizes drift as the corpus distribution does; retrain +
    write_ivf_index when recall degrades."""
    spark = new_vectors.sparkSession
    if centroids is None:
        centroids = load_ivf_centroids(spark, path)
    ivf_assign(new_vectors, centroids, vec_col).write.partitionBy(
        "ivf_list"
    ).mode("append").parquet(path)


def indexed_ivf_topk(
    spark,
    index_path: str,
    probes: DataFrame,
    centroids,
    k: int = 10,
    nprobe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """Top-k against a stored IVF index with STATIC partition pruning:
    the probes' nprobe list ids are computed up front (probes are small
    by contract — the same boundedness cosine_topk's broadcast relies
    on), deduped, and pushed into the scan as an IN partition filter;
    only those list directories are read."""
    import numpy as np

    p = probes.select(
        F.col(probe_id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec")
    ).withColumn("lists", _ivf_assign_udf(centroids, nprobe)(F.col("probe_vec")))
    p = p.select("probe_id", "probe_vec", F.explode("lists").alias("ivf_list"))
    wanted = sorted({int(r["ivf_list"]) for r in p.select("ivf_list").distinct().collect()})
    index = spark.read.parquet(index_path).where(F.col("ivf_list").isin(wanted))
    joined = index.join(F.broadcast(p), "ivf_list").select(
        "probe_id",
        F.col(id_col).alias("vec_id"),
        F.round(
            _dot(F.col(vec_col), F.col("probe_vec"))
            / (_norm(F.col(vec_col)) * _norm(F.col("probe_vec"))),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("probe_id", "vec_id", "cosine", "rank")
    )


def cosine_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int | None = None,
    target_recall: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via OR-amplified sign-LSH.

    Each vector lands in one bucket per hash table (independent plane
    families); candidates are pairs sharing a bucket in ANY table
    (recall 1-(1-p^n_planes)^n_tables, sized by
    :func:`lsh_amplification` when ``n_tables`` is None), then exact
    cosine ≥ threshold filters false positives.  Plan shape at 10^12
    vectors: one explode to (table_id, bucket) keys — n_tables rows per
    vector — one equi-self-join on (table_id, bucket) so no pair crosses
    partition groups, one distinct on the pair to collapse multi-table
    hits, exact scoring only on surviving candidates.  Bucket sizes are
    bounded because near-duplicate clusters are what buckets isolate;
    skewed buckets split under AQE."""
    if n_tables is None:
        n_tables = lsh_amplification(threshold, n_planes, target_recall)
    buckets = F.array(
        *[
            F.struct(
                F.lit(t).alias("table_id"),
                _bucket_expr(vec_col, dim, n_planes, t).alias("bucket"),
            )
            for t in range(n_tables)
        ]
    )
    keyed = vectors.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.explode(buckets).alias("tb"),
    ).select("id", "vec", "tb.table_id", "tb.bucket")
    a = keyed.select(
        F.col("id").alias("vec_a"), F.col("vec").alias("va"), "table_id", "bucket"
    )
    b = keyed.select(
        F.col("id").alias("vec_b"), F.col("vec").alias("vb"), "table_id", "bucket"
    )
    cand = (
        a.join(b, ["table_id", "bucket"])
        .where(F.col("vec_a") < F.col("vec_b"))
        # same pair can match in several tables: collapse before the
        # (more expensive) exact scoring — va/vb ride along, identical
        # for every copy of a pair, so the dedup stays deterministic
        .dropDuplicates(["vec_a", "vec_b"])
    )
    pairs = cand.select(
        "vec_a",
        "vec_b",
        F.round(
            _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb"))),
            6,
        ).alias("cosine"),
    )
    return pairs.where(F.col("cosine") >= threshold)
