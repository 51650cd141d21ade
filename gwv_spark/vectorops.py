"""Similarity search over an embedding column (array<float>).

Baseline: brute-force cosine top-k against a small probe set — the probe
side is broadcast, the scan side stays partitioned, scoring is a native
``aggregate``/``zip_with`` fold in double precision (no Python).
Scale path: sign-LSH bucketing (random-hyperplane sketch) restricts
the search to matching buckets — hyperplanes derived from md5 so the
result is deterministic and oracle-reproducible.  The same buckets,
OR-amplified over several plane families, drive the embedding
near-duplicate join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


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
