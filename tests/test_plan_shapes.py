"""Physical-plan shape guards — the properties the 100 TB design rests
on, asserted so a regression shows up as a test failure, not as a
10^12-row incident.

These build plans (driver-side analysis only, no job execution).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def docs_df(spark):
    from gwv_spark.corpus import spark_generate

    return spark_generate(spark, 2000, partitions=4).select("doc_id", "spans")


def test_ks_no_global_single_partition_sort(spark):
    """Two-level KS: the per-value running CDF must be partitioned by
    bucket; the only SinglePartition exchanges allowed are the bounded
    bucket SUMMARY window and the single-row final aggregate."""
    from gwv_spark import stats

    df = spark.range(0, 10000).select(
        (F.col("id") % 997).cast("double").alias("v"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("g"),
    )
    ks = stats.ks_statistic(df, F.col("v"), F.col("g"), "a", "b")
    plan = _physical(ks)
    assert "hashpartitioning(bucket" in plan, "per-value window not bucket-partitioned"
    assert plan.count("Exchange SinglePartition") <= 2


def test_simhash_is_python_free(spark, tmp_path, monkeypatch):
    """SimHash must stay JVM-side (round 1 ran a per-row Python loop),
    and so must the per-batch plans of the drift and near-dup stream
    folds (they replaced Python state operators).  The fold bodies run
    with the epoch write captured instead of executed, so each plan is
    built but no job runs."""
    from gwv_spark import streaming, textops

    df = spark.createDataFrame([("d1", "hello world")], "doc_id STRING, text STRING")
    plans = [_physical(textops.simhash64(df))]
    written = []
    monkeypatch.setattr(streaming, "_write_epoch", lambda d, *a: written.append(d))
    docs = spark.createDataFrame(
        [("u4e00", None, 0.0, [("stroke", "1:0:0:10:10:90:90", None, 0)])],
        streaming.DOCS_SCHEMA,
    )
    streaming.make_drift_batch_processor(
        spark, str(tmp_path / "drift"), {("kind_freq", "stroke"): 1.0}
    )(docs, 0)
    texts = spark.createDataFrame([(1, "hello world")], "doc_id BIGINT, text STRING")
    streaming.make_simhash_batch_processor(spark, str(tmp_path / "nd"))(texts, 0)
    assert len(written) == 4  # counts + updates, sigs + pairs
    plans += [_physical(d) for d in written]
    for plan in plans:
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                       "FlatMapGroupsInPandasWithState"):
            assert marker not in plan


def test_no_cartesian_product_anywhere(spark):
    """No registered query may compile to a CartesianProduct: every
    cross join must be a broadcast (probe sets, 1-row totals).  Builds
    every driver-contract plan at sf0.001 — analysis only."""
    import os
    from pathlib import Path

    from gwv_spark import queries as Q

    sf_dir = os.environ.get("SPARK_GRAFT_PLAN_SF_DIR", "/root/testdata/sf0.001")
    if not Path(sf_dir).exists():
        pytest.skip(f"fixture dir {sf_dir} not available")
    bad = {}
    for name, spec in Q.REGISTRY.items():
        if name.startswith("gwv_"):
            continue  # rule-suite plans share _rule_ctx; covered below
        plan = _physical(spec.spark_fn(spark, sf_dir))
        if "CartesianProduct" in plan:
            bad[name] = True
    assert not bad, f"cartesian products in: {sorted(bad)}"


def test_rule_suite_no_cartesian(spark, docs_df):
    from gwv_spark import engine

    ctx = engine.make_context(spark, docs_df)
    plan = _physical(engine.run_rules(ctx))
    assert "CartesianProduct" not in plan


def test_illegal_reads_stored_parse(spark, docs_df):
    """illegal's whole-record pass must fold over the stored per-span
    parse (docs.spans_d, derive.prepare) — at 10^12 spans, re-running
    the ~10-column kageInt parse per rule execution instead of reading
    the ingest-time column is pure waste.  Source-level: the rule module
    must not reach for parse.int_data; plan-level: the rule's plan
    references spans_d."""
    import inspect

    from gwv_spark import engine
    from gwv_spark.rules import illegal as illegal_mod

    src = inspect.getsource(illegal_mod)
    assert "int_data(" not in src, "illegal re-parses spans at rule time"

    ctx = engine.make_context(spark, docs_df)
    from gwv_spark.rules import RULES, load_all_rules

    load_all_rules()
    plan = ctx.plan("illegal")._jdf.queryExecution().analyzed().toString()
    assert "spans_d" in plan


def test_exploded_spans_zips_stored_parse(spark, docs_df):
    """exploded_spans' per-span d column must come from the stored
    spans_d array (arrays_zip), not a fresh int_data over text."""
    from gwv_spark import derive

    prepared = derive.prepare(docs_df)
    assert "spans_d" in prepared.columns
    spans = derive.exploded_spans(prepared)
    plan = spans._jdf.queryExecution().analyzed().toString()
    assert "spans_d" in plan


def test_mustrenew_salted_two_phase_agg(spark, docs_df):
    """mustrenew's aggregation must stay the salted 2-phase shape
    (rules/mustrenew.py:45-58): a hot part quoted by an unbounded number
    of docs would otherwise funnel every quoter through ONE reduce task
    (measured 44x per-task shuffle-read skew in BENCH_skew.json).  The
    salt expression is pmod(xxhash64(doc_id)) grouped alongside
    part_full in the partial phase."""
    from gwv_spark import engine
    from gwv_spark.rules import RULES, load_all_rules

    load_all_rules()
    ctx = engine.make_context(spark, docs_df, cache=False)
    plan = RULES["mustrenew"](ctx)._jdf.queryExecution().optimizedPlan().toString()
    assert "pmod(xxhash64(doc_id" in plan, "mustrenew lost its salt phase"


def test_sparse_join_sides_are_prefiltered(spark, docs_df):
    """Two corpus joins whose right side is provably sparse must keep
    the sparsity filter BELOW the join, so the shuffled/broadcast side
    never carries the whole corpus at 10^12 rows:

    - mustrenew: only bases with '@' in gdata matter (FALSE and MISSING
      rows coalesce identically), so the probe side is filtered to the
      version-quote-sparse TRUE rows;
    - kosekitoki: the probed key is always 'koseki-' + 6 digits, so the
      probe side is name-shape-filtered (bounded at 10^6 rows by
      construction)."""
    from gwv_spark import engine
    from gwv_spark.rules import RULES, load_all_rules

    import re

    load_all_rules()
    ctx = engine.make_context(spark, docs_df, cache=False)
    mr = RULES["mustrenew"](ctx)._jdf.queryExecution().analyzed().toString()
    assert re.search(r"Filter Contains\(gdata#\d+, @\)", mr), (
        "mustrenew probe side lost its '@' sparsity filter"
    )
    kt = RULES["kosekitoki"](ctx)._jdf.queryExecution().analyzed().toString()
    assert "koseki-[0-9]{6}" in kt, "kosekitoki probe side lost its name-shape filter"


def test_delquote_skewed_hot_key_gets_aqe_skew_split(spark):
    """North-rule skew story, executed: plant ONE part quoted by 50% of
    250k docs, force the RI anti join to its 10^12-catalog shape (no
    broadcast), and assert AQE's final plan marks the join skew-split
    (SortMergeJoin(skew=true) LeftAnti).  Straggler measurements for the
    same setup are recorded in BENCH_skew.json."""
    from gwv_spark import engine
    from gwv_spark.corpus import spark_generate
    from gwv_spark.rules import RULES, load_all_rules

    load_all_rules()
    confs = {
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # detection thresholds sized to the test corpus; the default
        # 256M threshold is the same mechanism at cluster partition sizes
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.5",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128k",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        hot_span = F.struct(
            F.lit("part").alias("kind"),
            F.lit("99:0:0:10:10:190:190:zzzhot@9").alias("text"),
            F.lit("zzzhot").alias("media_ref"),
            F.size("spans").cast("int").alias("offset"),
        )
        docs = spark_generate(spark, 250_000, partitions=8).select(
            "doc_id",
            F.when(
                F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0,
                F.concat(F.col("spans"), F.array(hot_span)),
            )
            .otherwise(F.col("spans"))
            .alias("spans"),
        )
        ctx = engine.make_context(spark, docs, cache=True)
        df = RULES["delquote"](ctx)
        rows = df.collect()  # executes THIS plan -> AQE finalizes it
        assert len(rows) > 100_000  # every hot doc has the dangling quote
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "AQE did not split the hot partition"
        ctx.docs.unpersist()
        ctx.spans.unpersist()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_corner_dup_prefilter_before_arrow(spark, docs_df):
    """corner/dup must gate their Arrow transfer on the pair-capability
    predicate over the stored span parse: without it, every gated doc's
    gdata ships to Python just to early-exit (~30% of the corpus is
    part-composition glyphs that cannot produce either rule's pairs).
    Plan-level: the analyzed plan must reference spans_d (the predicate
    reads it) ahead of the Python evaluation node."""
    from gwv_spark import engine
    from gwv_spark.rules import load_all_rules

    load_all_rules()
    ctx = engine.make_context(spark, docs_df)
    for rule_id in ("corner", "dup"):
        plan = ctx.plan(rule_id)._jdf.queryExecution().analyzed().toString()
        assert "spans_d" in plan, f"{rule_id} lost its Arrow prefilter"
        phys = _physical(ctx.plan(rule_id))
        arrow = phys.find("ArrowEvalPython")
        assert arrow != -1, f"{rule_id} should evaluate via Arrow"
        assert "exists(spans_d" in phys or "exists(" in phys, (
            f"{rule_id} physical plan lacks the prefilter predicate"
        )


def test_incremental_ri_fold_broadcasts_the_tiny_side(spark, docs_df):
    """The append fold's one corpus-scale step (which candidate keys
    exist?) must be a broadcast semi join — the corpus key column scans
    map-side; an Exchange of the corpus side here would re-introduce
    the full-catalog shuffle the fold exists to avoid."""
    from gwv_spark import incremental

    docs_delta = docs_df.limit(50)
    state_prev = spark.createDataFrame([], incremental.RI_STATE_DDL)
    corpus_keys = docs_df.select(F.col("doc_id").alias("key"))
    kept, adds, _ = incremental.ri_fold_step(state_prev, docs_delta, corpus_keys)
    plan = _physical(kept.unionByName(adds))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan

    # the corpus-scale stage in isolation: corpus keys SEMI broadcast
    # candidates — this exact sub-plan must be scan→BroadcastHashJoin
    # with no shuffle at all.  (The fold's remaining exchanges operate
    # on state-/delta-sized frames: quote_probe's dedup and the
    # delquote dedup against the prior state — bounded by outstanding
    # violations + appended docs, never the corpus.)
    cand = docs_delta.select(F.col("doc_id").alias("key")).limit(10)
    semi = corpus_keys.join(F.broadcast(cand), "key", "left_semi")
    semi_plan = _physical(semi)
    assert "BroadcastHashJoin" in semi_plan and "LeftSemi" in semi_plan
    shuffles = [
        ln for ln in semi_plan.splitlines()
        if "Exchange" in ln and "Broadcast" not in ln
        # the test's own limit(10) on the BUILD side plans a
        # SinglePartition gather of 10 rows — not a corpus shuffle
        and "SinglePartition" not in ln
    ]
    assert not shuffles, shuffles
