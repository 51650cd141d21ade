"""End-to-end job entrypoint: violations + verdicts + metrics on disk,
and --resume skipping the rules with a metrics row at the pinned
snapshot (north-rule lifecycle)."""

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

    # resume: all three rules have a metrics row at this snapshot ->
    # no rule rewritten, no new metrics rows appended
    def vio_files():
        return {
            str(f): f.stat().st_mtime_ns
            for f in (out / "violations").rglob("*.parquet")
        }

    before = vio_files()
    job.main(args + ["--resume"], spark=spark)
    assert vio_files() == before
    assert spark.read.parquet(str(out / "metrics")).count() == 3


def test_job_rejects_unknown_rule_ids(spark, tmp_path):
    """A typo'd --rules entry must fail fast, not get a fabricated
    metrics row (which would also mark it done for --resume)."""
    import pytest

    data_dir = ensure_corpus(tmp_path / "corpus", 50)
    with pytest.raises(SystemExit, match="nosuchrule"):
        job.main(
            ["--input", str(data_dir / "documents.parquet"),
             "--output", str(tmp_path / "out"),
             "--rules", "numexp", "nosuchrule"],
            spark=spark,
        )


def test_job_rejects_empty_rules_before_any_write(spark, tmp_path):
    """``--rules`` with no ids is a mistake, not "all 18 rules": both
    lifecycles refuse it before the snapshot manifest or any output is
    written.  result_json likewise reads only None as "all"."""
    import pytest

    from gwv_spark import engine
    from gwv_spark.rules import ALL_RULE_IDS

    data_dir = ensure_corpus(tmp_path / "corpus", 20)

    def tree():
        return sorted(str(p) for p in tmp_path.rglob("*"))

    before = tree()
    for extra in ([], ["--incremental"]):
        with pytest.raises(SystemExit, match="no rule ids"):
            job.main(
                ["--input", str(data_dir / "documents.parquet"),
                 "--output", str(tmp_path / "out"), "--rules", *extra],
                spark=spark,
            )
    assert tree() == before
    assert engine.result_json([], rule_ids=[]) == {}
    assert list(engine.result_json([])) == ALL_RULE_IDS


def test_repeated_rule_id_is_refused_before_any_write(spark, tmp_path):
    """A rule id named twice used to write its rule twice: two
    concurrent overwrites of ``rule_id=numexp`` both committed (22 rows
    where one naming gives 11), and the union held every row twice.  The
    job (both lifecycles), the stream and both engine entry points
    refuse it before any write."""
    import pytest

    from gwv_spark import engine
    from gwv_spark.streaming import validate_stream

    data_dir = ensure_corpus(tmp_path / "corpus", 20)
    inp = str(data_dir / "documents.parquet")

    def tree():
        return sorted(str(p) for p in tmp_path.rglob("*"))

    before = tree()
    for extra in ([], ["--incremental"]):
        with pytest.raises(SystemExit, match="repeated.*numexp"):
            job.main(["--input", inp, "--output", str(tmp_path / "out"),
                      "--rules", "numexp", "order", "numexp", *extra], spark=spark)
    with pytest.raises(ValueError, match="repeated.*numexp"):
        validate_stream(spark, str(data_dir), str(tmp_path / "stream"),
                        rule_ids=["numexp", "numexp"])
    assert tree() == before
    assert not spark.streams.active

    ctx = engine.make_context(spark, spark.read.parquet(inp))
    with pytest.raises(ValueError, match="repeated.*numexp"):
        engine.run_rules(ctx, ["numexp", "numexp"])
    written = []
    with pytest.raises(ValueError, match="repeated.*numexp"):
        engine.run_rules_concurrent(
            ctx, ["numexp", "numexp"], sink=lambda rid, df: written.append(rid)
        )
    assert written == []


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
    """catalog.snapshot_id changes when the corpus changes, so the
    metrics rows --resume reads, keyed by it, cannot reuse state from an
    older corpus."""
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
    # the job keys its metrics rows by the snapshot
    out = tmp_path / "out"
    job.main(["--input", ref, "--output", str(out), "--rules", "numexp"],
             spark=spark)
    metrics = spark.read.parquet(str(out / "metrics"))
    assert {r["snapshot"] for r in metrics.select("snapshot").collect()} == {s1}


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
    # one metrics row per rule: the resume skipped the two done rules
    metrics = [r["rule_id"] for r in spark.read.parquet(str(out / "metrics")).collect()]
    assert sorted(metrics) == sorted(rules)


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
    --resume run finds no metrics rows at that snapshot (everything
    recomputes over the appended corpus — no stale skip), while the
    prior snapshot's metrics rows survive untouched and the violations
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

    # both snapshots have metrics rows; the new one recomputed ALL rules
    # (it had no rows — resume could skip nothing)
    def metrics_rules(snap):
        return sorted(
            r["rule_id"]
            for r in spark.read.parquet(str(out / "metrics"))
            .where(F.col("snapshot") == snap)
            .collect()
        )

    assert metrics_rules(snap1) == metrics_rules(snap2) == ["delquote", "numexp", "order"]

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
    assert metrics_rules(snap2) == ["delquote", "numexp", "order"]


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
