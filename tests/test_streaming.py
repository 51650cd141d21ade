"""Streaming tier tests.

1. The DOC_LOCAL_RULES list is a PROVEN property: every listed rule must
   produce identical violations when the corpus is validated in two
   independent halves vs whole (split-invariance).  Corpus-scoped rules
   must demonstrably fail the property on this corpus, so a rule can't
   drift into the wrong tier silently.
2. validate_stream end-to-end: exactly-once per file (checkpoint), the
   streamed violations equal the batch engine's over the same docs, and
   appending a new file + re-draining processes ONLY the new docs.
3. The epoch-table folds (RI, drift, near-dup) equal their batch
   functions over the corpus-so-far after every drain, and each fold
   body is retry-idempotent: called twice with one (batch, epoch_id) it
   leaves every table as one call does.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _rows(df, drop=()):
    # sorted column names: a hive-partitioned read-back appends the
    # partition column last, so positional order is not comparable
    cols = sorted(c for c in df.columns if c not in drop)
    return {tuple(map(str, r)) for r in df.select(*cols).collect()}


@pytest.fixture(scope="module")
def corpus_df(spark):
    from gwv_spark.corpus import spark_generate

    df = spark_generate(spark, 3000, partitions=4).cache()
    df.count()
    return df


def test_doc_local_rules_are_split_invariant(spark, corpus_df):
    from gwv_spark import engine
    from gwv_spark.rules import RULES, load_all_rules
    from gwv_spark.streaming import CORPUS_SCOPED_RULES, DOC_LOCAL_RULES

    load_all_rules()
    assert sorted(DOC_LOCAL_RULES + CORPUS_SCOPED_RULES) == sorted(RULES)

    docs = corpus_df.select("doc_id", "spans")
    half_a = docs.where(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0)
    half_b = docs.where(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 1)
    ctx_full = engine.make_context(spark, docs, cache=False)
    ctx_a = engine.make_context(spark, half_a, cache=False)
    ctx_b = engine.make_context(spark, half_b, cache=False)

    for rid in DOC_LOCAL_RULES:
        full = _rows(RULES[rid](ctx_full))
        split = _rows(RULES[rid](ctx_a)) | _rows(RULES[rid](ctx_b))
        assert full == split, f"{rid} declared doc-local but is split-variant"

    # the tier boundary is real: at least the referential/existence rules
    # must fail split-invariance on this corpus (if they didn't, the
    # corpus would be too weak for the positive assertion above to mean
    # anything)
    variant = []
    for rid in CORPUS_SCOPED_RULES:
        full = _rows(RULES[rid](ctx_full))
        split = _rows(RULES[rid](ctx_a)) | _rows(RULES[rid](ctx_b))
        if full != split:
            variant.append(rid)
    assert {"delquote", "delvar", "kosekitoki"} <= set(variant)


def test_validate_stream_exactly_once_and_incremental(spark, corpus_df, tmp_path):
    from gwv_spark import engine
    from gwv_spark.streaming import DOC_LOCAL_RULES, validate_stream_drain

    landing = tmp_path / "landing"
    out = tmp_path / "out"
    landing.mkdir()

    docs = corpus_df.select("doc_id", "related", F.col("ts"), "spans")
    part1 = docs.where(F.pmod(F.xxhash64("doc_id"), F.lit(3)) < 2)
    part2 = docs.where(F.pmod(F.xxhash64("doc_id"), F.lit(3)) == 2)
    part1.coalesce(1).write.mode("overwrite").parquet(str(landing / "drop1"))

    validate_stream_drain(spark, str(landing / "*"), str(out))

    streamed1 = spark.read.parquet(str(out / "violations"))
    ctx1 = engine.make_context(spark, part1.select("doc_id", "spans"), cache=False)
    batch1 = engine.run_rules(ctx1, DOC_LOCAL_RULES)
    assert _rows(streamed1, drop=("epoch_id",)) == _rows(batch1)

    # drain again with NO new files: nothing reprocessed
    validate_stream_drain(spark, str(landing / "*"), str(out))
    metrics = spark.read.parquet(str(out / "metrics"))
    n_docs_after_noop = metrics.agg(F.sum("n_docs")).collect()[0][0]
    assert n_docs_after_noop == part1.count()

    # append a second drop: only ITS docs are processed, and the union of
    # streamed violations equals the batch run over the full corpus
    part2.coalesce(1).write.mode("overwrite").parquet(str(landing / "drop2"))
    validate_stream_drain(spark, str(landing / "*"), str(out))
    metrics = spark.read.parquet(str(out / "metrics"))
    assert metrics.agg(F.sum("n_docs")).collect()[0][0] == docs.count()

    streamed_all = spark.read.parquet(str(out / "violations"))
    ctx_full = engine.make_context(
        spark, docs.select("doc_id", "spans"), cache=False
    )
    batch_full = engine.run_rules(ctx_full, DOC_LOCAL_RULES)
    assert _rows(streamed_all, drop=("epoch_id",)) == _rows(batch_full)

    # verdict lineage: every epoch wrote verdict rows tagged epoch=<n>
    verdicts = spark.read.parquet(str(out / "verdicts"))
    assert verdicts.where(~F.col("run_id").startswith("epoch=")).count() == 0
    assert verdicts.count() > 0


def test_epoch_retry_is_idempotent(spark, corpus_df, tmp_path):
    """Spark's foreachBatch delivery is at-least-once: an epoch that
    fails after a partial sink write is retried with the SAME batch and
    epoch_id.  The epoch-keyed dynamic-partition-overwrite sinks must
    make that retry a no-op (exactly-once end to end): re-invoking the
    batch processor with the same (batch, epoch_id) leaves every sink
    with exactly one epoch's worth of rows — and rows for OTHER epochs
    are untouched."""
    from gwv_spark.streaming import DOC_LOCAL_RULES, make_batch_processor

    out = tmp_path / "out"
    docs = corpus_df.select("doc_id", "related", "ts", "spans")
    part1 = docs.where(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0)
    part2 = docs.where(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 1)

    process = make_batch_processor(spark, str(out), list(DOC_LOCAL_RULES))
    process(part1, 0)
    process(part2, 1)
    before = {
        sink: _bag(spark.read.parquet(str(out / sink)), drop=("wall_s",))
        for sink in ("violations", "verdicts", "metrics")
    }
    assert before["violations"]  # non-trivial corpus

    # the retry: epoch 1 re-delivered verbatim
    process(part2, 1)
    for sink in ("violations", "verdicts", "metrics"):
        after = _bag(spark.read.parquet(str(out / sink)), drop=("wall_s",))
        assert after == before[sink], f"{sink} changed on epoch retry"


def test_doc_local_plans_shuffle_free_without_entity_resolution(spark, corpus_df):
    """With resolve_entity=False (the streaming microbatch context) every
    doc-local rule must compile to a narrow, shuffle-free plan — zero
    Exchange operators.  This is the property that makes the stream tier
    embarrassingly parallel at any batch size."""
    from gwv_spark import engine
    from gwv_spark.rules import RULES, load_all_rules
    from gwv_spark.streaming import DOC_LOCAL_RULES

    load_all_rules()
    ctx = engine.make_context(
        spark, corpus_df.select("doc_id", "spans"),
        cache=False, resolve_entity=False,
    )
    for rid in DOC_LOCAL_RULES:
        plan = RULES[rid](ctx)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"{rid} plan shuffles:\n{plan[:2000]}"


def test_validate_stream_rejects_corpus_scoped_rules(spark, tmp_path):
    from gwv_spark.streaming import validate_stream

    with pytest.raises(ValueError, match="delquote"):
        validate_stream(
            spark, str(tmp_path / "in"), str(tmp_path / "out"),
            rule_ids=["corner", "delquote"],
        )


def test_validate_stream_rejects_empty_rule_list(spark, tmp_path):
    """rule_ids=[] selects nothing; it must not fall back to every
    rule over a context built without the entity columns."""
    from gwv_spark.streaming import validate_stream

    with pytest.raises(ValueError, match="empty"):
        validate_stream(
            spark, str(tmp_path / "in"), str(tmp_path / "out"), rule_ids=[]
        )


def test_stream_drift_monitor_matches_batch_psi(spark, corpus_df, tmp_path):
    """The running-PSI fold must converge to exactly the batch
    snapshot_psi over the full corpus: the counts table accumulates
    across microbatches (maxFilesPerTrigger=1 forces one epoch per
    file)."""
    from pyspark.sql.window import Window

    from gwv_spark import derive, stats
    from gwv_spark.streaming import stream_drift_monitor_drain

    landing = tmp_path / "landing"
    landing.mkdir()
    docs = corpus_df.select("doc_id", "related", "ts", "spans")
    part1 = docs.where(F.pmod(F.xxhash64("doc_id"), F.lit(3)) < 2)
    part2 = docs.where(F.pmod(F.xxhash64("doc_id"), F.lit(3)) == 2)

    prepared1 = derive.prepare(part1.select("doc_id", "spans"))
    snap1 = stats.corpus_snapshot(prepared1, derive.exploded_spans(prepared1))
    baseline = {
        (r["metric"], r["bucket"]): r["value"]
        for r in snap1.collect()
        if r["metric"] in ("span_len_hist", "kind_freq")
    }

    part1.coalesce(1).write.mode("overwrite").parquet(str(landing / "d1"))
    part2.coalesce(1).write.mode("overwrite").parquet(str(landing / "d2"))
    updates = stream_drift_monitor_drain(
        spark, str(landing / "*"), str(tmp_path / "drift"), baseline,
        max_files_per_trigger=1,
    )
    # one update row per metric per epoch, epochs advanced past 0
    assert updates.select("epoch_id").distinct().count() >= 2
    last = (
        updates.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("metric").orderBy(F.col("n_seen").desc())
            ),
        )
        .where(F.col("rn") == 1)
        .select("metric", "psi")
    )
    stream_psi = {r["metric"]: r["psi"] for r in last.collect()}

    prepared_full = derive.prepare(docs.select("doc_id", "spans"))
    snap_full = stats.corpus_snapshot(
        prepared_full, derive.exploded_spans(prepared_full)
    )
    batch_psi = {
        r["metric"]: r["psi"]
        for r in stats.snapshot_psi(snap_full, snap1).collect()
    }
    assert set(stream_psi) == {"span_len_hist", "kind_freq"}
    for m, v in batch_psi.items():
        assert abs(stream_psi[m] - v) < 1e-5, (m, stream_psi[m], v)


def test_stream_job_cli_drains_and_resumes(spark, corpus_df, tmp_path):
    """The spark-submit entrypoint: drain validates everything once;
    a second invocation with the same checkpoint is a no-op; an unknown
    or corpus-scoped rule fails fast."""
    from gwv_spark import stream_job

    landing = tmp_path / "landing"
    out = tmp_path / "out"
    landing.mkdir()
    docs = corpus_df.select("doc_id", "related", "ts", "spans").limit(500)
    docs.coalesce(1).write.mode("overwrite").parquet(str(landing / "d1"))

    argv = ["--input", str(landing / "*"), "--output", str(out),
            "--rules", "corner", "numexp"]
    stream_job.main(argv, spark=spark)
    v1 = spark.read.parquet(str(out / "violations"))
    assert set(r["rule_id"] for r in v1.select("rule_id").distinct().collect()) \
        <= {"corner", "numexp"}
    n1 = v1.count()

    stream_job.main(argv, spark=spark)  # no new files -> no new rows
    assert spark.read.parquet(str(out / "violations")).count() == n1

    with pytest.raises(ValueError, match="mustrenew"):
        stream_job.main(
            ["--input", str(landing / "*"), "--output", str(out),
             "--rules", "mustrenew"],
            spark=spark,
        )


def test_two_tier_stream_plus_batch_covers_full_suite(spark, corpus_df, tmp_path):
    """The deployment architecture end to end: the stream tier validates
    doc-local rules on arrival (two file drops, exactly-once), the batch
    job validates the corpus-scoped rules per snapshot — their union
    must equal the full 18-rule batch suite over the same corpus, with
    no rule lost between the tiers."""
    from gwv_spark import engine, job as jobmod
    from gwv_spark.rules import ALL_RULE_IDS
    from gwv_spark.streaming import (
        CORPUS_SCOPED_RULES,
        validate_stream_drain,
    )

    landing = tmp_path / "landing"
    sout = tmp_path / "stream_out"
    bout = tmp_path / "batch_out"
    landing.mkdir()
    docs = corpus_df.select("doc_id", "related", "ts", "spans")
    part1 = docs.where(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0)
    part2 = docs.where(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 1)

    # stream tier: two drops, drained as they land
    part1.coalesce(1).write.mode("overwrite").parquet(str(landing / "d1"))
    validate_stream_drain(spark, str(landing / "*"), str(sout))
    part2.coalesce(1).write.mode("overwrite").parquet(str(landing / "d2"))
    validate_stream_drain(spark, str(landing / "*"), str(sout))
    stream_v = spark.read.parquet(str(sout / "violations"))

    # batch tier: the corpus-scoped rules over the full snapshot
    corpus_path = tmp_path / "corpus"
    docs.select("doc_id", "spans").write.mode("overwrite").parquet(
        str(corpus_path)
    )
    jobmod.main(
        ["--input", str(corpus_path), "--output", str(bout),
         "--rules", *CORPUS_SCOPED_RULES, "--n-buckets", "32"],
        spark=spark,
    )
    batch_v = spark.read.parquet(str(bout / "violations"))

    combined = _rows(stream_v, drop=("epoch_id",)) | _rows(batch_v)
    ctx = engine.make_context(spark, docs.select("doc_id", "spans"), cache=False)
    full = _rows(engine.run_rules(ctx, ALL_RULE_IDS))
    assert combined == full


def _write_gdata_drop(spark, path, rows):
    """rows: [(doc_id, gdata)] → one parquet file matching DOCS_SCHEMA."""
    from gwv_spark import parse

    df = spark.createDataFrame(rows, "doc_id STRING, gdata STRING").select(
        "doc_id",
        F.lit(None).cast("string").alias("related"),
        F.lit(0.0).alias("ts"),
        F.expr(parse.gdata_to_spans("gdata")).alias("spans"),
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(path))
    return df


def _bag(df, drop=()):
    """Rows as a sorted list (a multiset), columns sorted by name."""
    cols = sorted(c for c in df.columns if c not in drop)
    return sorted(tuple(map(str, r)) for r in df.select(*cols).collect())


def _state_epochs(out):
    return sorted(p.name for p in (out / "ri_state").iterdir() if p.is_dir())


def _batch_ri_core(spark, docs):
    """Labeled union of the two batch RI cores over ``docs`` —
    the ground truth the incremental tier must reproduce."""
    from gwv_spark import engine
    from gwv_spark.rules.delquote import missing_quotes
    from gwv_spark.rules.delvar import missing_bases

    ctx = engine.make_context(spark, docs.select("doc_id", "spans"), cache=False)
    dq = missing_quotes(ctx).select(
        F.lit("delquote").alias("rule_id"),
        "doc_id",
        F.col("part_full").alias("detail"),
    )
    dv = missing_bases(ctx).select(
        F.lit("delvar").alias("rule_id"), "doc_id", F.col("base").alias("detail")
    )
    return dq.unionByName(dv)


def test_stream_ri_retraction_semantics(spark, tmp_path):
    """Deterministic add/retract lifecycle: a dangling quote and a
    dangling variant base become violations on arrival and are RETRACTED
    the moment the referenced document lands; references that are never
    satisfied stay outstanding.  After each drain the folded view equals
    the batch RI cores over the corpus-so-far.  A hot key rides along:
    60 documents quote the same missing part, which then lands (60
    adds, then 60 retractions)."""
    from gwv_spark.streaming import ri_outstanding, stream_ri_drain

    landing = tmp_path / "landing"
    landing.mkdir()
    out = str(tmp_path / "ri")

    # drop 1: u4e00 quotes u4e02@3 (lands in drop 2) and u9999 (never
    # lands); u4e01-var-001 derives base u4e01 (lands in drop 2); the
    # hot quoters all quote u9998@1 (lands in drop 2)
    hot = [(f"u5{i:03x}", "99:0:0:10:10:90:90:u9998@1") for i in range(60)]
    hot_rows = {("u9998@1", doc_id, "delquote") for doc_id, _ in hot}
    drop1 = [
        ("u4e00", "99:0:0:10:10:90:90:u4e02@3$99:0:0:10:10:90:90:u9999"),
        ("u4e01-var-001", "1:0:0:10:10:90:90"),
    ] + hot
    d1 = _write_gdata_drop(spark, landing / "d1", drop1)
    updates = stream_ri_drain(spark, str(landing / "*"), out)
    # _rows sorts columns by name: (detail, doc_id, rule_id)
    expect1 = {
        ("u4e02@3", "u4e00", "delquote"),
        ("u9999", "u4e00", "delquote"),
        ("u4e01", "u4e01-var-001", "delvar"),
    } | hot_rows
    assert _rows(ri_outstanding(updates)) == expect1
    assert _rows(ri_outstanding(updates)) == _rows(_batch_ri_core(spark, d1))

    # drop 2: u4e02, u4e01 and the hot key u9998 land (62
    # retractions); u4e03 adds a fresh dangling quote of u9999
    drop2 = [
        ("u4e02", "1:0:0:10:10:90:90"),
        ("u4e01", "1:0:0:10:10:90:90"),
        ("u9998", "1:0:0:10:10:90:90"),
        ("u4e03", "99:0:0:10:10:90:90:u9999"),
    ]
    d2 = _write_gdata_drop(spark, landing / "d2", drop2)
    updates = stream_ri_drain(spark, str(landing / "*"), out)
    rets = {
        (r["rule_id"], r["doc_id"], r["detail"])
        for r in updates.where(F.col("op") == "retract").collect()
    }
    assert rets == {
        ("delquote", "u4e00", "u4e02@3"),
        ("delvar", "u4e01-var-001", "u4e01"),
    } | {(r, d, det) for det, d, r in hot_rows}
    assert updates.where(F.col("op") == "retract").count() == 62
    expect2 = {
        ("u9999", "u4e00", "delquote"),
        ("u9999", "u4e03", "delquote"),
    }
    assert _rows(ri_outstanding(updates)) == expect2
    assert _rows(ri_outstanding(updates)) == _rows(
        _batch_ri_core(spark, d1.unionByName(d2))
    )


def test_stream_ri_sharded_equals_unsharded(spark, tmp_path):
    """The emitted change stream must not depend on how the retraction
    fold is partitioned: one shuffle partition, four, four with
    broadcast joins off (the hot key's probes all shuffle into one
    sort-merge partition), and the first drop split over four
    microbatches.  The hot key: 60 documents all quoting the same
    missing part, which then lands (60 retractions)."""
    from gwv_spark.streaming import stream_ri_drain

    hot = [(f"u5{i:03x}", "99:0:0:10:10:90:90:u9998@1") for i in range(60)]
    # (shuffle partitions, broadcast threshold, files in drop 1)
    configs = {
        "p1": ("1", None, 1),
        "p4": ("4", None, 1),
        "p4smj": ("4", "-1", 1),
        "p4split": ("4", None, 4),
    }
    confs = ("spark.sql.shuffle.partitions", "spark.sql.autoBroadcastJoinThreshold")
    saved = {k: spark.conf.get(k) for k in confs}
    results = {}
    try:
        for tag, (parts, threshold, n_files) in configs.items():
            spark.conf.set(confs[0], parts)
            spark.conf.set(confs[1], threshold or saved[confs[1]])
            landing = tmp_path / f"landing_{tag}"
            landing.mkdir()
            out = str(tmp_path / f"ri_{tag}")
            step = -(-len(hot) // n_files)
            for i in range(n_files):
                _write_gdata_drop(
                    spark, landing / f"d1_{i}", hot[i * step:(i + 1) * step]
                )
            stream_ri_drain(spark, str(landing / "*"), out, max_files_per_trigger=1)
            _write_gdata_drop(
                spark, landing / "d2", [("u9998", "1:0:0:10:10:90:90")]
            )
            updates = stream_ri_drain(spark, str(landing / "*"), out)
            results[tag] = _bag(updates, drop=("epoch_id",))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert all(r == results["p1"] for r in results.values())
    n_adds = sum(1 for r in results["p4smj"] if "add" in r)
    n_rets = sum(1 for r in results["p4smj"] if "retract" in r)
    assert n_adds == 60 and n_rets == 60


def test_stream_ri_matches_batch_per_drop_on_corpus(spark, corpus_df, tmp_path):
    """On the generated corpus, landed in four drops: after every drain
    the folded incremental view must equal the batch anti-join cores over
    the accumulated documents — the probe extractors cannot drift from
    the batch rules — and at most two state epochs remain (the one the
    last batch read and the one it wrote)."""
    from gwv_spark.streaming import ri_outstanding, stream_ri_drain

    landing = tmp_path / "landing"
    landing.mkdir()
    out = str(tmp_path / "ri")
    docs = corpus_df.select("doc_id", "related", "ts", "spans")
    drops = [
        docs.where(F.pmod(F.xxhash64("doc_id"), F.lit(4)) == i) for i in range(4)
    ]
    acc = None
    for i, drop in enumerate(drops):
        drop.coalesce(1).write.mode("overwrite").parquet(
            str(landing / f"d{i}")
        )
        acc = drop if acc is None else acc.unionByName(drop)
        updates = stream_ri_drain(spark, str(landing / "*"), out)
        assert _rows(ri_outstanding(updates)) == _rows(
            _batch_ri_core(spark, acc)
        ), f"incremental RI diverged from batch after drop {i}"
        assert len(_state_epochs(tmp_path / "ri")) <= 2
    assert _state_epochs(tmp_path / "ri") == ["epoch_id=2", "epoch_id=3"]
    # the corpus actually exercises retraction (a quoted part landing
    # after its quoter) — otherwise the per-drop assertions above would
    # be vacuously add-only
    assert updates.where(F.col("op") == "retract").count() > 0

    # full violations-schema equivalence: the projected outstanding view
    # is row-identical to the batch rules, so the two tiers' sinks union
    from gwv_spark import engine
    from gwv_spark.rules import RULES, load_all_rules
    from gwv_spark.streaming import ri_outstanding_violations

    load_all_rules()
    ctx = engine.make_context(spark, docs.select("doc_id", "spans"), cache=False)
    batch_v = RULES["delquote"](ctx).unionByName(RULES["delvar"](ctx))
    assert _rows(ri_outstanding_violations(updates)) == _rows(batch_v)


def test_stream_ri_doc_landing_twice_matches_batch_multiplicity(spark, tmp_path):
    """A doc_id that lands twice is two doc rows.  The stream keeps the
    batch rules' multiplicity: delvar has one violation per doc row (2),
    delquote one per (doc_id, quoted part) (1); the later arrival of
    the base retracts both delvar rows."""
    from gwv_spark.streaming import ri_outstanding, stream_ri_drain

    landing = tmp_path / "landing"
    landing.mkdir()
    out = str(tmp_path / "ri")
    twice = [
        ("u4e00", "99:0:0:10:10:90:90:u9999"),
        ("u4e01-var-001", "1:0:0:10:10:90:90"),
    ]
    d1 = _write_gdata_drop(spark, landing / "d1", twice)
    stream_ri_drain(spark, str(landing / "*"), out)
    d2 = _write_gdata_drop(spark, landing / "d2", twice)
    updates = stream_ri_drain(spark, str(landing / "*"), out)
    acc = d1.unionByName(d2)
    assert _bag(ri_outstanding(updates)) == [
        ("u4e01", "u4e01-var-001", "delvar"),
        ("u4e01", "u4e01-var-001", "delvar"),
        ("u9999", "u4e00", "delquote"),
    ]
    assert _bag(ri_outstanding(updates)) == _bag(_batch_ri_core(spark, acc))

    d3 = _write_gdata_drop(spark, landing / "d3", [("u4e01", "1:0:0:10:10:90:90")])
    updates = stream_ri_drain(spark, str(landing / "*"), out)
    assert updates.where(F.col("op") == "retract").count() == 2
    assert _bag(ri_outstanding(updates)) == _bag(
        _batch_ri_core(spark, acc.unionByName(d3))
    )


def test_stream_ri_epoch_retry_is_idempotent(spark, corpus_df, tmp_path):
    """The RI stream's foreachBatch body called twice with the same
    (batch, epoch_id) — Spark's retry of an epoch that failed before
    its checkpoint commit — leaves the change log, the state and the
    key catalog exactly as one call does."""
    from gwv_spark.streaming import make_ri_batch_processor

    out = tmp_path / "ri"
    docs = corpus_df.select("doc_id", "related", "ts", "spans")
    part1 = docs.where(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0)
    part2 = docs.where(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 1)
    process = make_ri_batch_processor(spark, str(out))

    def sinks():
        return {
            "updates": _bag(spark.read.parquet(str(out / "updates"))),
            "ri_keys": _bag(spark.read.parquet(str(out / "ri_keys"))),
            "ri_state": _bag(spark.read.parquet(str(out / "ri_state" / "epoch_id=1"))),
            "epochs": _state_epochs(out),
        }

    process(part1, 0)
    process(part2, 1)
    before = sinks()
    assert before["updates"] and before["ri_state"]  # non-trivial corpus
    assert any("retract" in r for r in before["updates"])
    process(part2, 1)
    assert sinks() == before


def test_stream_job_cli_ri_mode(spark, tmp_path):
    """The spark-submit entrypoint's --ri mode writes the add/retract
    change log; --rules is rejected alongside it (the RI pair is
    fixed)."""
    from gwv_spark import stream_job

    landing = tmp_path / "landing"
    landing.mkdir()
    out = tmp_path / "ri"
    _write_gdata_drop(
        spark, landing / "d1", [("u4e00", "99:0:0:10:10:90:90:u9999")]
    )
    stream_job.main(
        ["--input", str(landing / "*"), "--output", str(out), "--ri"],
        spark=spark,
    )
    updates = spark.read.parquet(str(out / "updates"))
    assert _rows(updates, drop=("epoch_id",)) == {
        ("u9999", "u4e00", "add", "u9999", "delquote"),
    }

    with pytest.raises(SystemExit):
        stream_job.main(
            ["--input", "x", "--output", "y", "--ri", "--rules", "corner"],
            spark=spark,
        )


def test_three_tier_deployment_covers_full_suite(spark, corpus_df, tmp_path):
    """The full deployment story with the incremental RI tier in play:
    doc-local rules validate on arrival (stream tier), delquote/delvar
    stay current through the incremental RI monitor (folded to
    violation rows), and only the REMAINING corpus-scoped rules wait
    for the batch snapshot job — the union of the three tiers must
    equal the full 18-rule batch suite, with no rule lost or double-
    counted between tiers."""
    from gwv_spark import engine, job as jobmod
    from gwv_spark.rules import ALL_RULE_IDS
    from gwv_spark.streaming import (
        CORPUS_SCOPED_RULES,
        INCREMENTAL_RI_RULES,
        ri_outstanding_violations,
        stream_ri_drain,
        validate_stream_drain,
    )

    landing = tmp_path / "landing"
    sout = tmp_path / "stream_out"
    riout = str(tmp_path / "ri_out")
    bout = tmp_path / "batch_out"
    landing.mkdir()
    docs = corpus_df.select("doc_id", "related", "ts", "spans")
    part1 = docs.where(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0)
    part2 = docs.where(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 1)

    # tiers 1+2 drain after each drop, exactly as deployed
    part1.coalesce(1).write.mode("overwrite").parquet(str(landing / "d1"))
    validate_stream_drain(spark, str(landing / "*"), str(sout))
    stream_ri_drain(spark, str(landing / "*"), riout)
    part2.coalesce(1).write.mode("overwrite").parquet(str(landing / "d2"))
    validate_stream_drain(spark, str(landing / "*"), str(sout))
    ri_updates = stream_ri_drain(spark, str(landing / "*"), riout)

    stream_v = spark.read.parquet(str(sout / "violations"))
    ri_v = ri_outstanding_violations(ri_updates)

    # tier 3: only the rules neither streaming tier owns
    rest = [r for r in CORPUS_SCOPED_RULES if r not in INCREMENTAL_RI_RULES]
    corpus_path = tmp_path / "corpus"
    docs.select("doc_id", "spans").write.mode("overwrite").parquet(
        str(corpus_path)
    )
    jobmod.main(
        ["--input", str(corpus_path), "--output", str(bout),
         "--rules", *rest, "--n-buckets", "32"],
        spark=spark,
    )
    batch_v = spark.read.parquet(str(bout / "violations"))

    combined = (
        _rows(stream_v, drop=("epoch_id",)) | _rows(ri_v) | _rows(batch_v)
    )
    ctx = engine.make_context(spark, docs.select("doc_id", "spans"), cache=False)
    full = _rows(engine.run_rules(ctx, ALL_RULE_IDS))
    assert combined == full


def test_stream_simhash_near_dup_matches_batch(spark, tmp_path):
    """Incremental near-dup detection: (1) the Python SimHash mirror
    must equal the batch Catalyst expression bit-for-bit (they cannot
    drift silently); (2) after landing the corpus in two drops, the
    deduped pair log equals the batch simhash_near_pairs over the full
    table; (3) pairs whose members arrived in DIFFERENT drops are
    discovered at the second drain — the on-arrival property."""
    import os

    from gwv_spark import textops
    from gwv_spark.streaming import simhash_pairs_view, stream_simhash_drain
    from gwv_spark.textops import _simhash64_py

    sf_dir = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
    path = f"{sf_dir}/documents.parquet"
    if not os.path.exists(path):
        pytest.skip("testdata not available")
    df = spark.read.parquet(path).select("doc_id", "text")

    cat = {r["doc_id"]: r["simhash"] for r in textops.simhash64(df).collect()}
    local = df.collect()
    for r in local:
        assert _simhash64_py(r["text"]) == cat[r["doc_id"]], r["doc_id"]

    landing = tmp_path / "landing"
    landing.mkdir()
    out = str(tmp_path / "nd")
    even = df.where(F.col("doc_id") % 2 == 0)
    odd = df.where(F.col("doc_id") % 2 == 1)
    even.coalesce(1).write.parquet(str(landing / "d1"))
    stream_simhash_drain(spark, str(landing / "*"), out)
    odd.coalesce(1).write.parquet(str(landing / "d2"))
    log = stream_simhash_drain(spark, str(landing / "*"), out)

    batch = textops.simhash_near_pairs(df)
    assert _rows(simhash_pairs_view(log)) == _rows(batch)

    cross_late = log.where(
        (F.col("epoch_id") >= 1) & (F.col("doc_a") % 2 != F.col("doc_b") % 2)
    )
    assert cross_late.count() > 0, "no cross-drop pair discovered on arrival"


def _tables(spark, out):
    """Every table under a fold's output dir (hidden ``_``/``.``
    entries such as the checkpoint aside) as row multisets."""
    return {
        p.name: _bag(spark.read.parquet(str(p)))
        for p in sorted(out.iterdir())
        if not p.name.startswith(("_", "."))
    }


def test_stream_drift_epoch_retry_is_idempotent(spark, corpus_df, tmp_path):
    """The drift fold body called twice with the same (batch, epoch_id)
    — Spark's retry of an epoch that failed before its checkpoint
    commit — leaves the counts and the PSI log exactly as one call
    does."""
    from gwv_spark.streaming import make_drift_batch_processor

    out = tmp_path / "drift"
    docs = corpus_df.select("doc_id", "related", "ts", "spans")
    part1 = docs.where(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0)
    part2 = docs.where(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 1)
    baseline = {("span_len_hist", "3"): 10.0, ("kind_freq", "stroke"): 20.0}
    process = make_drift_batch_processor(spark, str(out), baseline)

    process(part1, 0)
    process(part2, 1)
    before = _tables(spark, out)
    assert set(before) == {"counts", "updates"}
    assert len(before["updates"]) == 4  # two metrics x two epochs
    process(part2, 1)
    assert _tables(spark, out) == before


_ND_BASE = "a long shared passage that makes these documents near dups " * 6
_ND_ROWS = [
    (1, _ND_BASE),
    (2, _ND_BASE.replace("long", "lengthy")),
    (3, "something else entirely about query engines " * 8),
    (4, _ND_BASE.replace("shared", "common")),
    (5, "   "),
    (6, _ND_BASE.replace("passage", "excerpt")),
]


def test_stream_simhash_epoch_retry_is_idempotent(spark, tmp_path):
    """The near-dup fold body called twice with the same (batch,
    epoch_id) leaves the signatures and the pair log exactly as one call
    does; the second batch's pairs include ones with a member of the
    first."""
    from gwv_spark.streaming import make_simhash_batch_processor

    out = tmp_path / "nd"
    df = spark.createDataFrame(_ND_ROWS, "doc_id BIGINT, text STRING")
    process = make_simhash_batch_processor(spark, str(out), max_hamming=6)

    process(df.where(F.col("doc_id") <= 3), 0)
    process(df.where(F.col("doc_id") > 3), 1)
    before = _tables(spark, out)
    assert set(before) == {"sigs", "pairs"}
    assert len(before["sigs"]) == 5  # the blank doc has no signature
    late = [r for r in before["pairs"] if r[1] == "4"]  # (doc_a, doc_b, epoch_id, hamming)
    assert any(r[0] in ("1", "2") for r in late), before["pairs"]
    process(df.where(F.col("doc_id") > 3), 1)
    assert _tables(spark, out) == before


def test_drains_read_a_uri_output_dir(spark, tmp_path):
    """A drain into an output dir given as a URI (``file://...``)
    returns the same change log as one into the plain path: the log is
    read through the Hadoop file system, not a local-path glob that
    finds nothing under a URI and reports every violation resolved."""
    from gwv_spark.streaming import stream_ri_drain, stream_simhash_drain

    ri_land = tmp_path / "ri_land"
    ri_land.mkdir()
    _write_gdata_drop(spark, ri_land / "d1", [("u4e00", "99:0:0:10:10:90:90:u9999")])
    nd_land = tmp_path / "nd_land"
    nd_land.mkdir()
    spark.createDataFrame(_ND_ROWS, "doc_id BIGINT, text STRING").coalesce(1).write.parquet(
        str(nd_land / "d1")
    )
    for drain, land, kwargs in (
        (stream_ri_drain, ri_land, {}),
        (stream_simhash_drain, nd_land, {"max_hamming": 6}),
    ):
        plain = drain(spark, str(land / "*"), str(tmp_path / f"{land.name}_out"), **kwargs)
        uri = drain(spark, str(land / "*"), f"file://{tmp_path}/{land.name}_uri", **kwargs)
        assert _bag(plain), drain.__name__
        assert _bag(uri) == _bag(plain), drain.__name__


def test_processing_time_trigger_keeps_running(spark, tmp_path):
    """``processing_time`` is the only trigger option: a query started
    with an interval keeps running after it has processed everything
    available, instead of draining and stopping."""
    from gwv_spark.streaming import validate_stream

    landing = tmp_path / "landing"
    landing.mkdir()
    out = tmp_path / "out"
    _write_gdata_drop(spark, landing / "d1", [("u4e00", "1:0:0:10:10:90:90")])
    q = validate_stream(
        spark, str(landing / "*"), str(out), rule_ids=["numexp"],
        processing_time="1 second",
    )
    try:
        q.processAllAvailable()
        # a drain would stop right after its last batch; this one is
        # still running 5 s later
        assert not q.awaitTermination(5)
        assert q.isActive
    finally:
        q.stop()
    metrics = spark.read.parquet(str(out / "metrics"))
    assert metrics.agg(F.sum("n_docs")).first()[0] == 1


def test_stream_job_compact_after_drain(spark, corpus_df, tmp_path):
    """--compact-after: two drops, each landed as three files, produce
    several small files per epoch in every sink leaf; the post-drain
    maintenance bin-packs them per partition leaf, leaving strictly
    fewer files and the same multiset of rows."""
    from gwv_spark import stream_job

    landing = tmp_path / "landing"
    out = tmp_path / "out"
    landing.mkdir()
    docs = corpus_df.select("doc_id", "related", "ts", "spans").limit(400)
    half = 200
    d1 = docs.limit(half)
    d2 = docs.subtract(d1)
    # three files per drop: three scan tasks, so each sink leaf gets
    # several small files for the compaction to merge
    d1.repartition(3).write.parquet(str(landing / "d1"))
    argv = ["--input", str(landing / "*"), "--output", str(out),
            "--rules", "numexp", "order"]
    stream_job.main(argv, spark=spark)
    d2.repartition(3).write.parquet(str(landing / "d2"))
    stream_job.main(argv, spark=spark)

    vio_dir = out / "violations"
    before = _bag(spark.read.parquet(str(vio_dir)))
    n_files_before = len(list(vio_dir.rglob("*.parquet")))

    stream_job.main(argv + ["--compact-after", str(1 << 30)], spark=spark)
    assert _bag(spark.read.parquet(str(vio_dir))) == before
    assert len(list(vio_dir.rglob("*.parquet"))) < n_files_before

    # continuous mode refuses the maintenance action
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        stream_job.main(
            argv + ["--compact-after", "1024", "--continuous", "1 second"],
            spark=spark,
        )


def test_stream_job_compact_after_uri_output(spark, corpus_df, tmp_path):
    """--compact-after on an output dir given as a ``file://`` URI
    compacts exactly as on the plain path (it used to list nothing and
    compact nothing); any other scheme is refused before the stream
    starts."""
    from gwv_spark import stream_job

    landing = tmp_path / "landing"
    landing.mkdir()
    docs = corpus_df.select("doc_id", "related", "ts", "spans").limit(200)
    # three files: three scan tasks, so each sink leaf gets several
    # small files for the compaction to merge
    docs.repartition(3).write.parquet(str(landing / "d1"))
    argv = ["--input", str(landing / "*"), "--rules", "numexp", "order"]

    def file_counts(out):
        return {
            sub.name: len(list(sub.rglob("*.parquet")))
            for sub in out.iterdir()
            if not sub.name.startswith(("_", "."))
        }

    counts = {}
    for name, spell, extra in (
        ("raw", str, []),
        ("plain", str, ["--compact-after", str(1 << 30)]),
        ("uri", lambda p: p.as_uri(), ["--compact-after", str(1 << 30)]),
    ):
        out = tmp_path / name
        stream_job.main(argv + ["--output", spell(out), *extra], spark=spark)
        counts[name] = file_counts(out)
    assert counts["plain"] != counts["raw"]  # compaction did happen
    assert counts["uri"] == counts["plain"]

    with pytest.raises(SystemExit):
        stream_job.main(
            argv + ["--output", "hdfs://namenode:8020/gwv/out",
                    "--compact-after", "1024"],
            spark=spark,
        )
    assert not spark.streams.active
