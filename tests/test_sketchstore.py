"""HLL register core + incremental column-stats sketch store.

Properties pinned here:

- HLL accuracy against exact distinct counts (both the linear-counting
  small range and the raw-estimate large range);
- merge invariance: register folding is order/grouping-independent, so
  incremental store stats are BIT-IDENTICAL to a one-shot recompute for
  n / n_null / vmin / vmax / distinct_est (quantiles carry the t-digest
  rank bound instead);
- ``update_store`` sketches only files absent from the store, is a
  no-op when nothing is new, and its batch write is retry-idempotent;
- plan shape: the sketching pass is a zero-shuffle mapInPandas over the
  scan (sketch rows shuffle, data rows never do).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gwv_spark import hll, sketchstore


def _hashes(values) -> np.ndarray:
    """64-bit hashes the way Spark makes them (xxhash64 not available in
    Python, so tests use a deterministic stand-in: random 64-bit ints
    keyed by value identity — what HLL assumes of any good hash)."""
    rng = np.random.default_rng(12345)
    # one stable hash per distinct value
    uniq = {v: h for v, h in zip(values, rng.integers(-(2**63), 2**63 - 1, len(values), dtype=np.int64))}
    return np.array([uniq[v] for v in values], dtype=np.int64)


# ------------------------------------------------------------- numpy core


def test_hll_small_range_linear_counting():
    vals = [f"v{i}" for i in range(200)] * 50
    reg = hll.empty_registers(14)
    hll.accumulate(reg, _hashes(vals))
    est = hll.estimate(reg)
    assert abs(est - 200) / 200 <= 0.01, est


def test_hll_large_range_accuracy():
    n = 300_000
    rng = np.random.default_rng(7)
    h = rng.integers(-(2**63), 2**63 - 1, n, dtype=np.int64)
    reg = hll.empty_registers(14)
    hll.accumulate(reg, h)
    est = hll.estimate(reg)
    # sigma = 1.04/sqrt(16384) = 0.81%; allow 3 sigma
    assert abs(est - n) / n <= 0.025, est


def test_hll_merge_equals_single_pass():
    rng = np.random.default_rng(11)
    h = rng.integers(-(2**63), 2**63 - 1, 100_000, dtype=np.int64)
    whole = hll.empty_registers(12)
    hll.accumulate(whole, h)
    merged = hll.empty_registers(12)
    for part in np.array_split(h, 13):
        r = hll.empty_registers(12)
        hll.accumulate(r, part)
        merged = hll.merge(merged, r)
    assert np.array_equal(whole, merged)
    # idempotent: folding a sketch in twice changes nothing
    assert np.array_equal(hll.merge(merged, whole), merged)


def test_hll_roundtrip_bytes():
    reg = hll.empty_registers(11)
    hll.accumulate(reg, np.array([123456789, -987654321], dtype=np.int64))
    assert np.array_equal(hll.from_bytes(hll.to_bytes(reg)), reg)


# ------------------------------------------------------------- spark pass


@pytest.fixture(scope="module")
def table(spark):
    """A small mixed table with known exact stats: ints with nulls +
    strings with repeats, written as 4 parquet files."""
    n = 20_000
    df = (
        spark.range(n)
        .select(
            F.when(F.col("id") % 7 == 0, None)
            .otherwise((F.col("id") % 997).cast("double"))
            .alias("num"),
            F.concat(F.lit("k"), (F.col("id") % 1500).cast("string")).alias("key"),
            F.col("id").cast("double").alias("val"),
        )
        .repartition(4)
    )
    return df


def _stats_by_col(df):
    rows = df.collect()
    return {r["column"]: r.asDict() for r in rows}


def test_sketch_column_stats_matches_exact(spark, table):
    got = _stats_by_col(sketchstore.sketch_column_stats(table, ["num", "key", "val"]))
    n = table.count()
    exact_null = table.where(F.col("num").isNull()).count()
    assert got["num"]["n"] == n and got["num"]["n_null"] == exact_null
    assert got["key"]["n_null"] == 0
    # HLL within 3 sigma of exact distincts
    for col, true_d in (("num", 997), ("key", 1500)):
        est = got[col]["distinct_est"]
        assert abs(est - true_d) / true_d <= 0.025, (col, est)
    # exact extremes, quantiles within the t-digest bound
    assert got["val"]["vmin"] == 0.0 and got["val"]["vmax"] == float(n - 1)
    for q, key in ((0.25, "p25"), (0.5, "p50"), (0.75, "p75")):
        assert abs(got["val"][key] / (n - 1) - q) <= 0.01
    # string columns carry no digest
    assert got["key"]["vmin"] is None


def test_sketch_plan_is_shuffle_free_below_stage1(spark):
    # a clean scan-shaped source (the module-level fixture repartitions,
    # which plants an Exchange in the INPUT, not the operator)
    src = spark.range(10_000).select(
        (F.col("id") % 97).cast("double").alias("num"),
        F.col("id").cast("string").alias("key"),
    )
    out = sketchstore.column_sketches(src, ["num", "key"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    first_map = plan.rfind("MapInPandas")
    assert first_map != -1
    below = plan[first_map:]
    assert "Exchange" not in below and "Sort" not in below


def test_store_incremental_equals_one_shot(spark, table, tmp_path):
    base_dir = str(tmp_path / "data")
    store = str(tmp_path / "store")
    table.write.parquet(base_dir)

    r1 = sketchstore.update_store(spark, base_dir, store, ["num", "key", "val"])
    assert r1["n_new_files"] >= 1 and r1["n_known_files"] == 0

    # append two more files (an Iceberg-append-shaped change)
    extra = (
        spark.range(20_000, 26_000)
        .select(
            (F.col("id") % 997).cast("double").alias("num"),
            F.concat(F.lit("x"), (F.col("id") % 400).cast("string")).alias("key"),
            F.col("id").cast("double").alias("val"),
        )
        .repartition(2)
    )
    extra.write.mode("append").parquet(base_dir)

    r2 = sketchstore.update_store(spark, base_dir, store, ["num", "key", "val"])
    assert r2["n_new_files"] == 2, r2
    assert r2["n_known_files"] == r1["n_new_files"]

    # a third update with nothing new is a pure no-op
    r3 = sketchstore.update_store(spark, base_dir, store, ["num", "key", "val"])
    assert r3["n_new_files"] == 0 and r3["batch_id"] is None

    inc = _stats_by_col(sketchstore.stats_from_store(spark, store))
    full = _stats_by_col(
        sketchstore.sketch_column_stats(
            spark.read.parquet(base_dir), ["num", "key", "val"]
        )
    )
    for col in ("num", "key", "val"):
        # counts/extremes/HLL fold exactly — grouping cannot change them
        for k in ("n", "n_null", "vmin", "vmax", "distinct_est"):
            assert inc[col][k] == full[col][k], (col, k, inc[col][k], full[col][k])
    # quantiles: both sides hold the digest bound vs true ranks
    vals = np.sort(
        np.array(spark.read.parquet(base_dir).select("val").toPandas()["val"])
    )
    for side in (inc, full):
        for q, key in ((0.25, "p25"), (0.5, "p50"), (0.75, "p75")):
            rank = np.searchsorted(vals, side["val"][key]) / len(vals)
            assert abs(rank - q) <= 0.015


def test_sketch_job_cli_incremental_lifecycle(spark, table, tmp_path):
    """spark-submit surface: first run bootstraps, a file append is
    folded in incrementally, a no-op run still refreshes the stats
    snapshot; the _stats subdir is invisible to the store's own reads
    (underscore-prefixed paths are hidden from Spark's file index)."""
    from gwv_spark import sketch_job, sketchstore

    data = str(tmp_path / "d")
    store = str(tmp_path / "s")
    table.write.parquet(data)
    argv = ["--input", data, "--store", store, "--columns", "num", "key", "val"]
    sketch_job.main(argv, spark=spark)
    snap1 = {r["column"]: r["n"] for r in spark.read.parquet(f"{store}/_stats").collect()}
    assert snap1["key"] == 20_000

    extra = spark.range(20_000, 21_000).select(
        (F.col("id") % 997).cast("double").alias("num"),
        F.col("id").cast("string").alias("key"),
        F.col("id").cast("double").alias("val"),
    )
    extra.coalesce(1).write.mode("append").parquet(data)
    sketch_job.main(argv, spark=spark)
    snap2 = {r["column"]: r["n"] for r in spark.read.parquet(f"{store}/_stats").collect()}
    assert snap2["key"] == 21_000

    # no new files: a pure stats refresh, store rows unchanged
    n_rows = spark.read.parquet(store).count()
    sketch_job.main(argv, spark=spark)
    assert spark.read.parquet(store).count() == n_rows
    # the _stats snapshot never leaks into the store's own fold
    assert sketchstore.store_files(spark, store)  # parses cleanly


def test_store_retry_is_idempotent(spark, table, tmp_path):
    data = str(tmp_path / "d")
    store = str(tmp_path / "s")
    table.write.parquet(data)
    r1 = sketchstore.update_store(spark, data, store, ["key"])
    rows1 = spark.read.parquet(store).count()
    # simulate a retried batch: re-sketch the SAME file set and rewrite
    # under the same batch_id (what a replayed task/driver retry does)
    files = sorted(
        sketchstore._norm_file(f)
        for f in spark.read.parquet(data).inputFiles()
    )
    sk = sketchstore.fold_file_sketches(
        sketchstore.column_sketches(spark.read.parquet(*files), ["key"], by_file=True)
    )
    markers = spark.createDataFrame(
        [(f, "", 0, 0, None, None, None, None, None, None, None) for f in files],
        sketchstore.SKETCH_SCHEMA,
    )
    sk = sk.unionByName(markers)
    (
        sk.withColumn("batch_id", F.lit(r1["batch_id"]))
        .write.option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .mode("overwrite")
        .parquet(store)
    )
    assert spark.read.parquet(store).count() == rows1
    # and the folded stats still match a fresh one-shot
    inc = _stats_by_col(sketchstore.stats_from_store(spark, store))
    full = _stats_by_col(
        sketchstore.sketch_column_stats(spark.read.parquet(data), ["key"])
    )
    assert inc["key"]["distinct_est"] == full["key"]["distinct_est"]


def test_unreadable_store_raises(spark, table, tmp_path):
    """An unreadable store fails the update.  Read as "nothing
    sketched" it would re-sketch every file and append a second copy of
    its rows; the store's files must be left as they were."""
    import pathlib

    data = str(tmp_path / "d")
    store = pathlib.Path(tmp_path / "s")
    table.write.parquet(data)
    sketchstore.update_store(spark, data, str(store), ["key"])
    garbage = next(store.glob("batch_id=*")) / "part-00000-garbage.parquet"
    garbage.write_bytes(b"not a parquet file")

    def tree():
        return {str(p): p.stat().st_mtime_ns for p in store.rglob("*")}

    before = tree()
    with pytest.raises(Exception, match="(?i)parquet"):
        sketchstore.update_store(spark, data, str(store), ["key"])
    assert tree() == before


def test_stream_sketch_store_two_drops_and_retry(spark, table, tmp_path):
    """Streaming maintenance: land the table in two drops, drain after
    each — folded stats equal the one-shot sketch over everything
    (exactly, for the fold-exact fields); re-invoking the epoch
    processor with the same (batch, epoch) leaves the store unchanged
    (dynamic-partition-overwrite idempotence)."""
    from gwv_spark.streaming import make_sketch_batch_processor, stream_sketch_drain

    land = str(tmp_path / "land")
    store = str(tmp_path / "store")
    full_dir = str(tmp_path / "full")
    table.write.parquet(full_dir)
    schema = spark.read.parquet(full_dir).schema
    files = sorted(
        f for f in __import__("os").listdir(full_dir) if f.endswith(".parquet")
    )
    assert len(files) >= 2
    import shutil

    __import__("os").makedirs(land)
    shutil.copy(f"{full_dir}/{files[0]}", f"{land}/drop-000.parquet")
    cols = ["num", "key", "val"]
    stream_sketch_drain(spark, land, store, schema, cols)
    for f in files[1:]:
        shutil.copy(f"{full_dir}/{f}", f"{land}/drop-{f}")
    inc = _stats_by_col(stream_sketch_drain(spark, land, store, schema, cols))
    full = _stats_by_col(
        sketchstore.sketch_column_stats(spark.read.parquet(full_dir), cols)
    )
    for col in cols:
        for k in ("n", "n_null", "vmin", "vmax", "distinct_est"):
            assert inc[col][k] == full[col][k], (col, k)

    # epoch retry: replay an epoch's batch through the processor body
    n_rows = spark.read.parquet(store).count()
    proc = make_sketch_batch_processor(store, cols)
    proc(spark.read.parquet(f"{land}/drop-000.parquet"), 0)
    assert spark.read.parquet(store).count() == n_rows


def test_racing_writers_cannot_double_count(spark, table, tmp_path):
    """Two update_store invocations racing on the same append would both
    sketch the new files under different batch_ids.  Counts are sums, so
    the fold dedupes (file, column) first — sketch rows are
    deterministic per file, so keeping one copy is exact."""
    data = str(tmp_path / "d")
    store = str(tmp_path / "s")
    table.write.parquet(data)
    sketchstore.update_store(spark, data, store, ["key", "num"])
    before = _stats_by_col(sketchstore.stats_from_store(spark, store))

    # simulate the losing racer: same files re-sketched under a new batch
    files = sorted(
        sketchstore._norm_file(f)
        for f in spark.read.parquet(data).inputFiles()
    )
    sk = sketchstore.column_sketches(
        spark.read.parquet(*files), ["key", "num"], by_file=True
    )
    (
        sk.withColumn("batch_id", F.lit("racer-duplicate"))
        .write.option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .mode("overwrite")
        .parquet(store)
    )
    after = _stats_by_col(sketchstore.stats_from_store(spark, store))
    for col in ("key", "num"):
        for k in ("n", "n_null", "distinct_est", "vmin", "vmax"):
            assert after[col][k] == before[col][k], (col, k)


def test_zero_row_file_converges_and_all_null_column(spark, table, tmp_path):
    """A zero-row data file yields no sketch rows (input_file_name rides
    on rows) — the presence marker keeps the file-list diff convergent.
    And an all-null column folds to distinct 0 / null_rate 1 / NaN-free
    counts rather than crashing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    data = str(tmp_path / "d")
    store = str(tmp_path / "s")
    df = spark.range(1_000).select(
        F.lit(None).cast("double").alias("allnull"),
        F.col("id").cast("string").alias("key"),
    )
    df.coalesce(1).write.parquet(data)
    # plant a ZERO-ROW parquet file with the same schema
    schema = pa.schema([("allnull", pa.float64()), ("key", pa.string())])
    pq.write_table(pa.table({"allnull": [], "key": []}, schema=schema),
                   f"{data}/part-empty.parquet")

    r1 = sketchstore.update_store(spark, data, store, ["allnull", "key"])
    assert r1["n_new_files"] == 2
    r2 = sketchstore.update_store(spark, data, store, ["allnull", "key"])
    assert r2["n_new_files"] == 0, "zero-row file must not be re-scanned"

    got = _stats_by_col(sketchstore.stats_from_store(spark, store))
    assert set(got) == {"allnull", "key"}, "markers must not leak into stats"
    assert got["allnull"]["n"] == 1000 and got["allnull"]["n_null"] == 1000
    assert got["allnull"]["null_rate"] == 1.0
    assert got["allnull"]["distinct_est"] == 0.0
    assert got["allnull"]["vmin"] is None
    assert abs(got["key"]["distinct_est"] - 1000) / 1000 <= 0.025


def test_stream_job_cli_sketch_mode(spark, table, tmp_path):
    """stream_job --sketch drains landed files into the store; a second
    invocation with no new files is a checkpointed no-op; stats fold
    from the store."""
    from gwv_spark import stream_job

    land = str(tmp_path / "land")
    store = str(tmp_path / "store")
    full = str(tmp_path / "full")
    table.write.parquet(full)
    import os
    import shutil

    os.makedirs(land)
    for f in os.listdir(full):
        if f.endswith(".parquet"):
            shutil.copy(f"{full}/{f}", f"{land}/{f}")
    argv = ["--input", land, "--output", "unused", "--sketch", store,
            "--sketch-columns", "num", "key"]
    stream_job.main(argv, spark=spark)
    got = _stats_by_col(sketchstore.stats_from_store(spark, store))
    assert got["key"]["n"] == 20_000
    n_rows = spark.read.parquet(store).count()
    stream_job.main(argv, spark=spark)  # no new files
    assert spark.read.parquet(store).count() == n_rows
    with pytest.raises(SystemExit):
        stream_job.main(argv + ["--ri"], spark=spark)


def test_bootstrap_chunks_commit_independently(spark, table, tmp_path):
    """files_per_batch=2 over a 4-file table: two independently
    committed chunks; stats identical to the unchunked fold; a crash
    between chunks resumes at the unsketched remainder (simulated by
    diffing after only the first chunk exists)."""
    data = str(tmp_path / "d")
    store = str(tmp_path / "s")
    table.write.parquet(data)
    r = sketchstore.update_store(spark, data, store, ["key"], files_per_batch=2)
    assert r["n_new_files"] == 4 and r["n_batches"] == 2
    chunked = _stats_by_col(sketchstore.stats_from_store(spark, store))
    full = _stats_by_col(
        sketchstore.sketch_column_stats(spark.read.parquet(data), ["key"])
    )
    assert chunked["key"] == full["key"]

    # crash-resume shape: a store holding only the FIRST chunk leaves
    # exactly the other files as the next update's diff
    store2 = str(tmp_path / "s2")
    files = sorted(
        sketchstore._norm_file(f)
        for f in spark.read.parquet(data).inputFiles()
    )
    first_two = spark.read.parquet(store).where(
        F.col("file").isin(files[:2])
    )
    first_two.write.partitionBy("batch_id").parquet(store2)
    r2 = sketchstore.update_store(spark, data, store2, ["key"], files_per_batch=2)
    assert r2["n_new_files"] == 2 and r2["n_known_files"] == 2
    resumed = _stats_by_col(sketchstore.stats_from_store(spark, store2))
    assert resumed["key"] == full["key"]


def test_hll_accuracy_sweep_across_cardinalities():
    """Estimator error within 3 sigma (2.5%) at every cardinality scale
    from the linear-counting region through the raw-estimate region —
    including the awkward transition band around 2.5m (~40k at p=14)."""
    rng = np.random.default_rng(99)
    for n in (10, 100, 1_000, 10_000, 30_000, 50_000, 100_000, 500_000):
        h = rng.integers(-(2**63), 2**63 - 1, n, dtype=np.int64)
        reg = hll.empty_registers(14)
        hll.accumulate(reg, h)
        est = hll.estimate(reg)
        assert abs(est - n) / n <= 0.025, (n, est)


def test_multi_split_file_counts_exact(spark, tmp_path):
    """A data file larger than maxPartitionBytes spans several scan
    tasks, so column_sketches emits several rows for one (file, column);
    the store must fold them to the (file, column) grain or the
    read-time racing-writer dedup silently keeps one split's share.
    Regression: before fold_file_sketches this undercounted every
    multi-split file."""
    data = str(tmp_path / "data")
    store = str(tmp_path / "store")
    n = 60_000
    (
        spark.range(n)
        .select(
            F.concat(F.lit("k"), (F.col("id") % 700).cast("string")).alias("key"),
            F.col("id").cast("double").alias("val"),
        )
        .coalesce(1)
        # small row groups: a split only yields rows when a row group
        # starts inside its byte range, so multi-task reads of one file
        # need a multi-row-group file
        .write.option("parquet.block.size", 65536).parquet(data)
    )
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
    try:
        raw = sketchstore.column_sketches(
            spark.read.parquet(data), ["key", "val"], by_file=True
        )
        per_key = raw.groupBy("file", "column").count().collect()
        assert max(r["count"] for r in per_key) > 1, (
            "precondition: the file must actually split"
        )
        sketchstore.update_store(spark, data, store, ["key", "val"])
        got = _stats_by_col(sketchstore.stats_from_store(spark, store))
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert got["key"]["n"] == n
    assert got["val"]["n"] == n
    assert got["val"]["vmin"] == 0.0 and got["val"]["vmax"] == float(n - 1)
    assert abs(got["key"]["distinct_est"] - 700) / 700 <= 0.025
    # store grain restored: exactly one row per (file, column)
    rows = (
        spark.read.parquet(store)
        .where(F.col("column") != "")
        .groupBy("file", "column")
        .count()
        .collect()
    )
    assert all(r["count"] == 1 for r in rows)


def test_store_heavy_hitters(spark, tmp_path):
    """The store's MG tier: a planted 25% value must surface as the top
    item of its column with the certified sandwich (lo <= true <= lo +
    bound) holding through the per-file → store → fold pipeline, and an
    appended file's hitters must fold in incrementally."""
    data = str(tmp_path / "data")
    store = str(tmp_path / "store")
    n = 24_000
    df = spark.range(n).select(
        F.when(F.col("id") % 4 == 0, F.lit("HOT"))
        .otherwise(F.concat(F.lit("c"), (F.col("id") % 3000).cast("string")))
        .alias("cat")
    ).repartition(3)
    df.write.parquet(data)
    sketchstore.update_store(spark, data, store, ["cat"])
    got = _stats_by_col(sketchstore.stats_from_store(spark, store))["cat"]
    true_hot = n // 4
    assert got["top_items"][0] == "HOT"
    lo = got["top_weights"][0]
    assert lo <= true_hot <= lo + got["top_error_bound"]
    assert got["top_error_bound"] <= (n - sum(got["top_weights"])) / 33 + 1e-9

    # append a file that makes a NEW value dominant overall
    extra = spark.range(n, n + 40_000).select(F.lit("HOT2").alias("cat"))
    extra.coalesce(1).write.mode("append").parquet(data)
    sketchstore.update_store(spark, data, store, ["cat"])
    got2 = _stats_by_col(sketchstore.stats_from_store(spark, store))["cat"]
    assert got2["top_items"][0] == "HOT2"
    assert got2["top_items"][1] == "HOT"
    lo2 = dict(zip(got2["top_items"], got2["top_weights"]))
    assert lo2["HOT2"] <= 40_000 <= lo2["HOT2"] + got2["top_error_bound"]
    assert lo2["HOT"] <= true_hot <= lo2["HOT"] + got2["top_error_bound"]
    # convenience accessor agrees
    tv = sketchstore.top_values(sketchstore.stats_from_store(spark, store), "cat")
    assert tv[0] == ("HOT2", lo2["HOT2"])


def test_store_heavy_hitters_exact_low_cardinality(spark, tmp_path):
    """Distincts ≤ mg_k: no prune fires anywhere, so the store's heavy
    hitters are EXACT counts with a zero bound, whatever the file
    layout."""
    data = str(tmp_path / "data")
    store = str(tmp_path / "store")
    df = spark.range(9_000).select((F.col("id") % 5).cast("string").alias("g")).repartition(4)
    df.write.parquet(data)
    sketchstore.update_store(spark, data, store, ["g"])
    got = _stats_by_col(sketchstore.stats_from_store(spark, store))["g"]
    assert got["top_error_bound"] == 0.0
    assert dict(zip(got["top_items"], got["top_weights"])) == {str(i): 1800 for i in range(5)}


def test_stale_input_files_are_evicted(spark, tmp_path):
    """Review regression: an input compaction/overwrite replaces data
    files; the store's rows for vanished files must be evicted or every
    fold double-counts the rewritten data."""
    data = str(tmp_path / "data")
    store = str(tmp_path / "store")
    df = spark.range(5000).select(
        (F.col("id") % 11).cast("double").alias("num")
    )
    df.repartition(3).write.parquet(data)
    sketchstore.update_store(spark, data, store, ["num"])
    # rewrite the input in place (compaction shape: same rows, new files)
    import shutil as _sh

    tmp2 = str(tmp_path / "rewrite")
    spark.read.parquet(data).repartition(1).write.parquet(tmp2)
    _sh.rmtree(data)
    _sh.move(tmp2, data)
    res = sketchstore.update_store(spark, data, store, ["num"])
    assert res["n_stale_removed"] == 3, res
    got = _stats_by_col(sketchstore.stats_from_store(spark, store))["num"]
    assert got["n"] == 5000  # single-counted
    assert abs(got["distinct_est"] - 11) < 1
    # string column quantiles are NULL, not NaN (review regression)
    data2 = str(tmp_path / "d2")
    store2 = str(tmp_path / "s2")
    spark.range(100).select(F.col("id").cast("string").alias("s")).write.parquet(data2)
    sketchstore.update_store(spark, data2, store2, ["s"])
    row = _stats_by_col(sketchstore.stats_from_store(spark, store2))["s"]
    assert row["p50"] is None and row["p25"] is None
