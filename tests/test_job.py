"""End-to-end job entrypoint: violations + verdicts + ledger on disk,
and --resume skipping completed rules (north-rule lifecycle)."""

from __future__ import annotations

from pyspark.sql import functions as F

from gwv_spark import job
from gwv_spark.corpus import ensure_corpus


def test_job_end_to_end_and_resume(spark, tmp_path):
    data_dir = ensure_corpus(tmp_path / "corpus", 300)
    out = tmp_path / "out"
    args = [
        "--input", str(data_dir / "documents.parquet"),
        "--output", str(out),
        "--rules", "numexp", "delquote", "order",
        "--n-buckets", "16",
    ]
    job.main(args, spark=spark)

    vio = spark.read.parquet(str(out / "violations"))
    assert set(vio.columns) == {"rule_id", "errcode", "doc_id", "detail", "sortkey"}
    rules_seen = {r["rule_id"] for r in vio.select("rule_id").distinct().collect()}
    assert rules_seen == {"numexp", "delquote", "order"}
    assert vio.count() > 0

    verdicts = spark.read.parquet(str(out / "verdicts"))
    assert verdicts.where("pass = false").count() > 0
    assert verdicts.select("partition_id").distinct().count() <= 16

    ledger = spark.read.parquet(str(out / "ledger"))
    marked = {r["rule_id"] for r in ledger.where("partition_id = -1").collect()}
    assert marked == {"numexp", "delquote", "order"}

    # run-metrics table: one row per recomputed rule, counts match the
    # committed violations, wall time recorded
    metrics = {r["rule_id"]: r for r in spark.read.parquet(str(out / "metrics")).collect()}
    assert set(metrics) == {"numexp", "delquote", "order"}
    vio_counts = {
        r["rule_id"]: r["n"]
        for r in vio.groupBy("rule_id").agg(F.count("*").alias("n")).collect()
    }
    for rid, row in metrics.items():
        assert row["n_violations"] == vio_counts.get(rid, 0)
        # each rule is its own write: wall_s is that write's time; the
        # run total has its own column (the writes overlap, so summing
        # wall_s across rows would overcount)
        assert row["wall_s"] > 0 and row["per_rule_timing"]
        assert row["run_total_s"] >= row["wall_s"]

    # resume: all three rules complete -> nothing re-marked, no new
    # metrics rows appended
    job.main(args + ["--resume"], spark=spark)
    ledger2 = spark.read.parquet(str(out / "ledger"))
    assert ledger2.where("partition_id = -1").count() == 3
    assert spark.read.parquet(str(out / "metrics")).count() == 3


def test_job_rejects_unknown_rule_ids(spark, tmp_path):
    """A typo'd --rules entry must fail fast, not get a fabricated
    metrics row and a rule-complete ledger mark."""
    import pytest

    data_dir = ensure_corpus(tmp_path / "corpus", 50)
    with pytest.raises(SystemExit, match="nosuchrule"):
        job.main(
            ["--input", str(data_dir / "documents.parquet"),
             "--output", str(tmp_path / "out"),
             "--rules", "numexp", "nosuchrule"],
            spark=spark,
        )


def test_job_concurrent_mode_matches_fused(spark, tmp_path):
    """The job's per-rule writes (one Spark job per rule, several in
    flight, each overwriting its own rule_id=<id> directory) must read
    back as exactly the fused union plan of the same rules
    (engine.run_rules), collected."""
    from gwv_spark import engine
    from gwv_spark.rules import VIOLATIONS_DDL

    data_dir = ensure_corpus(tmp_path / "corpus", 300)
    inp = str(data_dir / "documents.parquet")
    rules = ["numexp", "delquote", "order", "mustrenew"]
    job.main(["--input", inp, "--output", str(tmp_path / "out"), "--rules", *rules,
              "--n-buckets", "16"], spark=spark)
    got = spark.read.parquet(str(tmp_path / "out" / "violations"))

    ctx = engine.make_context(spark, spark.read.parquet(inp))
    union = engine.run_rules(ctx, rules).collect()
    assert {r["rule_id"] for r in union} == {"numexp", "delquote", "order", "mustrenew"}
    want = spark.createDataFrame(union, VIOLATIONS_DDL)
    got = got.select(*want.columns)
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_job_clean_rule_truncates_stale_partition(spark, tmp_path):
    """A rule that becomes violation-free on a rerun must not resurrect
    its stale partition (dynamic partition overwrite only replaces
    partitions that receive rows)."""
    data_dir = ensure_corpus(tmp_path / "corpus", 300)
    out = tmp_path / "out"
    args = ["--output", str(out), "--rules", "numexp", "--n-buckets", "16"]
    job.main(["--input", str(data_dir / "documents.parquet")] + args, spark=spark)
    vio1 = spark.read.parquet(str(out / "violations"))
    assert vio1.count() > 0
    # corpus minus every numexp-offending doc -> rule is now clean
    docs = spark.read.parquet(str(data_dir / "documents.parquet"))
    clean = docs.join(vio1.select("doc_id").dropDuplicates(), "doc_id", "left_anti")
    clean.write.mode("overwrite").parquet(str(tmp_path / "clean.parquet"))
    job.main(["--input", str(tmp_path / "clean.parquet")] + args, spark=spark)
    verdicts = spark.read.parquet(str(out / "verdicts"))
    assert verdicts.where("pass = false").count() == 0


def test_snapshot_fingerprint_pins_resume(spark, tmp_path):
    """catalog.snapshot_id changes when the corpus changes, so a resume
    ledger keyed by it cannot reuse state from an older corpus."""
    import time

    from gwv_spark import catalog

    d1 = ensure_corpus(tmp_path / "c1", 100)
    ref = str(d1 / "documents.parquet")
    s1 = catalog.snapshot_id(spark, ref)
    assert catalog.snapshot_id(spark, ref) == s1  # deterministic
    time.sleep(0.01)
    docs = spark.read.parquet(ref)
    docs.write.mode("overwrite").parquet(str(tmp_path / "c2"))
    # same rows, different files -> different snapshot
    assert catalog.snapshot_id(spark, str(tmp_path / "c2")) != s1
    # job writes its ledger under the snapshot
    out = tmp_path / "out"
    job.main(["--input", ref, "--output", str(out), "--rules", "numexp"],
             spark=spark)
    led = spark.read.parquet(str(out / "ledger"))
    assert "snapshot" in led.columns
    assert {r["snapshot"] for r in led.select("snapshot").collect()} == {s1}


def test_ignore_error_quarantine_wiring(spark, tmp_path):
    """--ignore-error must not change results on healthy data (the
    quarantine branch only fires on per-record crashes)."""
    from gwv_spark import engine

    data_dir = ensure_corpus(tmp_path / "corpus", 200)
    docs = spark.read.parquet(str(data_dir / "documents.parquet"))
    strict = engine.make_context(spark, docs)
    lenient = engine.make_context(spark, docs, ignore_error=True)
    a = engine.run_rules(strict, ["corner", "dup"])
    b = engine.run_rules(lenient, ["corner", "dup"])
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_interrupted_run_resume_equals_full_run(spark, tmp_path):
    """North-rule resumability, end to end: a run that completed only
    half its rules before dying, resumed with --resume, must land on the
    byte-identical violations + verdicts of an uninterrupted run — and
    must NOT lose the already-written partitions to the overwrite (the
    static-mode failure ADVICE r2 flagged; job.main now forces dynamic
    partition overwrite)."""
    data_dir = ensure_corpus(tmp_path / "corpus", 300)
    inp = str(data_dir / "documents.parquet")
    rules = ["numexp", "delquote", "order", "skew"]

    # ground truth: uninterrupted run over all four rules
    job.main(["--input", inp, "--output", str(tmp_path / "full"),
              "--rules", *rules, "--n-buckets", "16"], spark=spark)
    full = spark.read.parquet(str(tmp_path / "full" / "violations"))

    # interrupted run: only two rules completed before the "crash"
    out = tmp_path / "resumed"
    job.main(["--input", inp, "--output", str(out),
              "--rules", "numexp", "delquote", "--n-buckets", "16"], spark=spark)
    # resume with the full rule list: the two complete rules are skipped
    job.main(["--input", inp, "--output", str(out),
              "--rules", *rules, "--n-buckets", "16", "--resume"], spark=spark)

    resumed = spark.read.parquet(str(out / "violations"))
    assert resumed.exceptAll(full).count() == 0
    assert full.exceptAll(resumed).count() == 0
    ledger = spark.read.parquet(str(out / "ledger"))
    marked = {r["rule_id"] for r in ledger.where("partition_id = -1").collect()}
    assert marked == set(rules)


def test_bucket_grain_remaining_filter(spark, tmp_path):
    """Ledger.remaining_filter at bucket grain: with half the buckets
    marked complete, only the other half's violations remain, and
    written ∪ remaining == the full violation set."""
    from pyspark.sql import functions as F

    from gwv_spark import engine

    data_dir = ensure_corpus(tmp_path / "corpus", 300)
    docs = spark.read.parquet(str(data_dir / "documents.parquet"))
    ctx = engine.make_context(spark, docs)
    full = engine.run_rules(ctx, ["numexp"]).cache()
    n_buckets = 16
    bucket = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_buckets)).cast("int")

    ledger = engine.Ledger(spark, str(tmp_path / "ledger"))
    done = spark.createDataFrame(
        [("numexp", b) for b in range(n_buckets // 2)],
        "rule_id STRING, partition_id INT",
    )
    ledger.mark(done)

    remaining = ledger.remaining_filter(full, n_buckets=n_buckets)
    assert remaining.where(bucket < n_buckets // 2).count() == 0
    already = full.where(bucket < n_buckets // 2)
    merged = already.unionByName(remaining)
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0


def test_plan_cache_reuses_built_plans(spark, tmp_path):
    """RuleContext.plan builds each rule's DataFrame once per context
    (prepared-plan cache): repeat calls return the identical object, the
    fused union is memoized per rule-id set, and a cached plan still
    produces the same violations as a fresh build."""
    from gwv_spark import engine
    from gwv_spark.rules import RULES, load_all_rules

    data_dir = ensure_corpus(tmp_path / "corpus", 200)
    docs = spark.read.parquet(str(data_dir / "documents.parquet"))
    ctx = engine.make_context(spark, docs)
    load_all_rules()

    p1 = ctx.plan("numexp")
    p2 = ctx.plan("numexp")
    assert p1 is p2

    u1 = engine.run_rules(ctx, ["numexp", "order"])
    u2 = engine.run_rules(ctx, ["numexp", "order"])
    assert u1 is u2
    # a different subset is its own cache entry, not a collision
    u3 = engine.run_rules(ctx, ["numexp"])
    assert u3 is not u1

    fresh = RULES["numexp"](ctx.__class__(
        spark=ctx.spark, docs=ctx.docs, spans=ctx.spans,
        attrs=ctx.attrs, dims=ctx.dims,
    ))
    def key(r):
        return (r["rule_id"], r["errcode"], r["doc_id"],
                tuple(r["detail"] or []), r["sortkey"])

    got = {key(r) for r in p1.collect()}
    want = {key(r) for r in fresh.collect()}
    assert got == want and len(got) > 0


def test_incremental_append_new_snapshot_recomputes_and_reproduces(spark, tmp_path):
    """Iceberg-shaped incremental lifecycle on parquet (VERDICT r3 next
    #5): appending a data file mints a NEW snapshot fingerprint, so a
    --resume run starts that snapshot's ledger EMPTY (everything
    recomputes over the appended corpus — no stale skip), while the
    prior snapshot's ledger rows survive untouched and the violations
    for the original documents are reproduced row-identically."""
    import pyarrow.parquet as pq

    from gwv_spark import catalog

    # corpus dir with one data file of 300 docs (rows 0..299 of a
    # 350-doc generation, so the appended 50 share the id space but
    # never collide)
    full = ensure_corpus(tmp_path / "gen", 350)
    table = pq.read_table(full / "documents.parquet")
    corpus = tmp_path / "corpus_inc"
    corpus.mkdir()
    pq.write_table(table.slice(0, 300), corpus / "part-000.parquet")

    out = tmp_path / "out"
    args = ["--input", str(corpus), "--output", str(out),
            "--rules", "numexp", "delquote", "order", "--n-buckets", "16"]
    def vio_set(path):
        return {
            (r["rule_id"], r["errcode"], r["doc_id"],
             tuple(r["detail"] or []), r["sortkey"])
            for r in spark.read.parquet(str(path)).collect()
        }

    snap1 = catalog.snapshot_id(spark, str(corpus))
    job.main(args, spark=spark)
    vio1 = vio_set(out / "violations")
    assert vio1

    # append: new data file -> new snapshot fingerprint
    pq.write_table(table.slice(300, 50), corpus / "part-001.parquet")
    snap2 = catalog.snapshot_id(spark, str(corpus))
    assert snap2 != snap1

    job.main(args + ["--resume"], spark=spark)

    # both snapshots' ledgers exist; the new one recomputed ALL rules
    # (its ledger started empty — resume could skip nothing)
    ledger = spark.read.parquet(str(out / "ledger"))
    assert set(ledger.select("snapshot").distinct().toPandas()["snapshot"]) == {
        snap1, snap2,
    }
    marked2 = {
        r["rule_id"]
        for r in ledger.where(
            (F.col("snapshot") == snap2) & (F.col("partition_id") == -1)
        ).collect()
    }
    assert marked2 == {"numexp", "delquote", "order"}

    vio2 = vio_set(out / "violations")
    # prior violations reproduced exactly; anything new involves only
    # appended doc_ids (delquote excepted: an appended doc can RESOLVE a
    # formerly dangling quote, and an old doc can quote an appended one)
    assert vio1 <= vio2 or all(
        row[0] == "delquote" for row in vio1 - vio2
    )
    doc_ids_old = set(table.slice(0, 300).column("doc_id").to_pylist())
    for row in vio2 - vio1:
        assert row[2] not in doc_ids_old or row[0] == "delquote", row

    # and a second --resume on the SAME snapshot is a pure skip
    job.main(args + ["--resume"], spark=spark)
    assert vio_set(out / "violations") == vio2


def _multifile_corpus(spark, tmp_path, n_docs, n_files):
    """The synthetic corpus as an n_files-part parquet directory (file-
    group slicing needs multiple input files to have anything to slice)."""
    data_dir = ensure_corpus(tmp_path / "corpus", n_docs)
    docs = spark.read.parquet(str(data_dir / "documents.parquet"))
    multi = tmp_path / "docs_multi"
    docs.repartition(n_files).write.parquet(str(multi))
    return str(multi)


def test_bucket_groups_matches_ungrouped(spark, tmp_path):
    """--bucket-groups G: doc-local rules evaluated in G independent
    file-group slices must land on exactly the ungrouped run's
    violations; corpus-scoped rules keep the whole-corpus path
    (bucket_group = -1); the ledger carries one mark per committed
    (rule, slice)."""
    inp = _multifile_corpus(spark, tmp_path, 300, 8)
    rules = ["numexp", "order", "delquote"]  # 2 doc-local + 1 corpus-scoped
    common = ["--input", inp, "--rules", *rules, "--n-buckets", "16"]
    job.main(common + ["--output", str(tmp_path / "flat")], spark=spark)
    job.main(common + ["--output", str(tmp_path / "grp"), "--bucket-groups", "4"],
             spark=spark)

    flat = spark.read.parquet(str(tmp_path / "flat" / "violations"))
    grp = spark.read.parquet(str(tmp_path / "grp" / "violations"))
    assert "bucket_group" in grp.columns
    g = grp.select(*flat.columns)
    assert g.exceptAll(flat).count() == 0 and flat.exceptAll(g).count() == 0

    # scoped rule: whole-corpus sentinel slice; local rules: disjoint
    # file-group slices — every doc's violations land in exactly one
    # slice, and the work is actually spread over several slices
    assert {
        r["bucket_group"]
        for r in grp.where("rule_id = 'delquote'").select("bucket_group").collect()
    } == {-1}
    local_rows = grp.where("rule_id != 'delquote'")
    per_doc = local_rows.groupBy("doc_id").agg(
        F.countDistinct("bucket_group").alias("n_slices")
    )
    assert per_doc.where("n_slices > 1").count() == 0
    assert local_rows.select("bucket_group").distinct().count() > 1

    ledger = spark.read.parquet(str(tmp_path / "grp" / "ledger"))
    marks = {(r["rule_id"], r["partition_id"]) for r in ledger.collect()}
    assert marks == (
        {("delquote", -1)}
        | {("numexp", g) for g in range(4)}
        | {("order", g) for g in range(4)}
    )

    # verdict rollup identical to the flat run's
    vf = spark.read.parquet(str(tmp_path / "flat" / "verdicts")).drop("run_id")
    vg = spark.read.parquet(str(tmp_path / "grp" / "verdicts")).drop("run_id")
    assert vf.exceptAll(vg).count() == 0 and vg.exceptAll(vf).count() == 0

    # per-slice metrics: one row per committed slice, wall time recorded,
    # file counts partition the 8 input files, violation counts read back
    # from the committed slice partitions
    sm = {r["bucket_group"]: r
          for r in spark.read.parquet(str(tmp_path / "grp" / "slice_metrics")).collect()}
    assert set(sm) == {0, 1, 2, 3}
    assert sum(r["n_files"] for r in sm.values()) == 8
    assert all(r["wall_s"] > 0 for r in sm.values())
    slice_counts = {
        r["bucket_group"]: r["n"]
        for r in local_rows.groupBy("bucket_group")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for g_id, row in sm.items():
        assert row["n_violations"] == slice_counts.get(g_id, 0)


def test_bucket_groups_mid_rule_resume(spark, tmp_path):
    """A grouped run that died after committing only some slices, resumed
    with --resume, recomputes ONLY the missing slices (surviving slice
    files untouched) and lands on the full violation set."""
    import os

    inp = _multifile_corpus(spark, tmp_path, 300, 8)
    out = tmp_path / "out"
    args = ["--input", inp, "--output", str(out), "--rules", "numexp",
            "--n-buckets", "16", "--bucket-groups", "4"]
    job.main(args, spark=spark)
    full = spark.read.parquet(str(out / "violations")).drop("bucket_group")
    n_full = full.count()
    full.write.parquet(str(tmp_path / "expected"))

    # simulate the crash: slices 2 and 3 never committed — drop their
    # partitions AND their ledger marks (a zero-violation slice has no
    # partition directory at all; that's fine)
    import shutil

    for g in (2, 3):
        d = out / "violations" / "rule_id=numexp" / f"bucket_group={g}"
        if d.exists():
            shutil.rmtree(d)
    ledger_dir = next((out / "ledger").iterdir())
    kept = [
        (r["rule_id"], r["partition_id"])
        for r in spark.read.parquet(str(ledger_dir)).collect()
        if r["partition_id"] in (0, 1)
    ]
    shutil.rmtree(ledger_dir)
    spark.createDataFrame(kept, "rule_id STRING, partition_id INT").write.parquet(
        str(ledger_dir)
    )

    # fingerprint the surviving slices' data files
    def slice_files(g):
        d = out / "violations" / "rule_id=numexp" / f"bucket_group={g}"
        if not d.exists():
            return {}
        return {
            f: os.path.getmtime(d / f) for f in os.listdir(d) if f.endswith(".parquet")
        }

    before = {g: slice_files(g) for g in (0, 1)}

    job.main(args + ["--resume"], spark=spark)

    resumed = spark.read.parquet(str(out / "violations")).drop("bucket_group")
    expected = spark.read.parquet(str(tmp_path / "expected"))
    assert resumed.count() == n_full
    assert resumed.exceptAll(expected).count() == 0
    assert expected.exceptAll(resumed).count() == 0
    marks = {
        (r["rule_id"], r["partition_id"])
        for r in spark.read.parquet(str(ledger_dir)).collect()
    }
    assert marks == {("numexp", g) for g in range(4)}
    # completed slices were NOT rewritten
    for g in (0, 1):
        assert slice_files(g) == before[g]


def test_bucket_groups_modulus_is_pinned(spark, tmp_path):
    """Re-running an output dir under a different --bucket-groups must
    fail fast: a different slice keying over surviving partitions would
    duplicate violations.  Also: a single-file input under G=4 runs fine
    — the three empty file groups are marked complete directly."""
    import pytest

    data_dir = ensure_corpus(tmp_path / "corpus", 100)
    inp = str(data_dir / "documents.parquet")  # ONE parquet file
    out = str(tmp_path / "out")
    job.main(["--input", inp, "--output", out, "--rules", "numexp",
              "--bucket-groups", "4"], spark=spark)
    ledger = spark.read.parquet(str(tmp_path / "out" / "ledger"))
    assert {r["partition_id"] for r in ledger.collect()} == {0, 1, 2, 3}
    with pytest.raises(SystemExit, match="bucket-groups"):
        job.main(["--input", inp, "--output", out, "--rules", "numexp",
                  "--bucket-groups", "2", "--resume"], spark=spark)


def test_job_sample_writes_triage_table(spark, tmp_path):
    """--sample K writes violations_sample: K deterministic examples per
    (rule_id, errcode) with exact totals, consistent with the committed
    violations table."""
    data_dir = ensure_corpus(tmp_path / "corpus_s", 300)
    out = tmp_path / "out_s"
    job.main(
        [
            "--input", str(data_dir / "documents.parquet"),
            "--output", str(out),
            "--rules", "numexp", "delquote", "order",
            "--n-buckets", "16",
            "--sample", "3",
        ],
        spark=spark,
    )
    sample = spark.read.parquet(str(out / "violations_sample"))
    assert set(sample.columns) == {
        "rule_id", "errcode", "n_total", "sample_rank", "doc_id", "detail", "sortkey",
    }
    assert sample.where("sample_rank > 3").count() == 0
    # totals agree with the committed violations table per (rule, code)
    vio = spark.read.parquet(str(out / "violations"))
    want = {
        (r["rule_id"], r["errcode"]): r["n"]
        for r in vio.groupBy("rule_id", "errcode").agg(F.count("*").alias("n")).collect()
    }
    got = {
        (r["rule_id"], r["errcode"]): r["n_total"]
        for r in sample.select("rule_id", "errcode", "n_total").distinct().collect()
    }
    assert got == want
    # every (rule, code) group is represented
    assert set(got) == set(want)
