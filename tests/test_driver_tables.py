"""Driver-side tables and the rule registry: tables the driver builds
from Python rows are JVM-held local relations (no Python RDD behind
them), an unregistered or unimportable rule fails loudly, and the
per-rule job pool carries the caller's Spark job group."""

from __future__ import annotations

import os
import sys

import pytest

from gwv_spark import engine, job
from gwv_spark.corpus import ensure_corpus
from gwv_spark.rules import ALL_RULE_IDS, load_all_rules
from gwv_spark.session import default_driver_mem, local_frame


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


@pytest.mark.parametrize(
    "rows, ddl",
    [
        ([("a", 1, 1.5), (None, None, None), ("", -(2**40), 0.0)],
         "s STRING, n BIGINT, x DOUBLE"),
        ([(["a", None, ""], 3), ([], None), (None, 7)], "tags ARRAY<STRING>, i INT"),
        ([(True, 2.25), (None, None)], "ok BOOLEAN, wall_s DOUBLE"),
        ([], "rule_id STRING, partition_id INT"),
        ([], "detail ARRAY<STRING>, n BIGINT, x DOUBLE"),
    ],
)
def test_local_frame_matches_create_dataframe(spark, rows, ddl):
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert "LocalRelation" in _analyzed(got)
    assert "LogicalRDD" not in _analyzed(got)


def test_local_frame_rejects_ragged_rows(spark):
    with pytest.raises(ValueError):
        local_frame(spark, [("a", 1), ("b",)], "s STRING, n INT")


def test_job_path_tables_have_no_python_rdd(spark, tmp_path):
    """Every rule plan and every table the batch job builds on the driver
    must plan without a LogicalRDD: a Python RDD starts Python workers on
    each action over it."""
    from gwv_spark.rules import j, mj, related

    data_dir = ensure_corpus(tmp_path / "corpus", 120)
    docs = spark.read.parquet(str(data_dir / "documents.parquet"))
    attrs = spark.read.parquet(str(data_dir / "doc_attrs.parquet"))
    ctx = engine.make_context(spark, docs, attrs=attrs)
    load_all_rules()
    frames = {rid: ctx.plan(rid) for rid in ALL_RULE_IDS}
    frames["empty_violations"] = engine.empty_violations(spark)
    frames["metrics"] = job.read_committed(spark, str(tmp_path / "absent"), job.METRICS_DDL)
    frames["j.cjksrc"] = j._cjksrc_df(ctx)
    frames["j.no_use"], frames["j.no_apply"] = j._setup_dims(ctx)
    frames["mj.key2idx"], frames["mj.idx2gw"] = mj._mj_dfs(ctx)
    frames["related.compat"] = related._cjksrc_compat_df(ctx)
    bad = [name for name, df in frames.items() if "LogicalRDD" in _analyzed(df)]
    assert bad == []


def test_run_rules_rejects_unregistered_ids(spark, tmp_path):
    data_dir = ensure_corpus(tmp_path / "corpus", 20)
    ctx = engine.make_context(spark, spark.read.parquet(str(data_dir / "documents.parquet")))
    with pytest.raises(KeyError, match="nosuchrule"):
        engine.run_rules(ctx, ["numexp", "nosuchrule"])
    with pytest.raises(KeyError, match="nosuchrule"):
        engine.run_rules_concurrent(ctx, ["nosuchrule", "numexp"])


def test_empty_rule_list_selects_no_rules(spark, tmp_path):
    """An empty list selects no rules; only None means all of them."""
    assert engine._registered([]) == []
    assert len(engine._registered(None)) == 18
    data_dir = ensure_corpus(tmp_path / "corpus", 20)
    ctx = engine.make_context(spark, spark.read.parquet(str(data_dir / "documents.parquet")))
    assert engine.run_rules(ctx, []).count() == 0
    assert engine.run_rules_concurrent(ctx, []) == {}


def test_load_all_rules_raises_on_missing_module(monkeypatch):
    # a None entry in sys.modules makes the import raise ModuleNotFoundError
    monkeypatch.setitem(sys.modules, "gwv_spark.rules.numexp", None)
    with pytest.raises(ModuleNotFoundError):
        load_all_rules()


def test_rule_pool_inherits_job_group(spark, tmp_path):
    data_dir = ensure_corpus(tmp_path / "corpus", 20)
    ctx = engine.make_context(spark, spark.read.parquet(str(data_dir / "documents.parquet")))
    sc = spark.sparkContext
    seen = {}

    def sink(rid, df):
        seen[rid] = sc.getLocalProperty("spark.jobGroup.id")
        df.write.format("noop").mode("overwrite").save()

    sc.setJobGroup("gwv-guard", "rule pool")
    try:
        engine.run_rules_concurrent(ctx, ["numexp", "order", "width"], workers=3, sink=sink)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert seen == {"numexp": "gwv-guard", "order": "gwv-guard", "width": "gwv-guard"}


def test_driver_mem_default_fits_host(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert default_driver_mem() == "3g"
    monkeypatch.delenv("SPARK_DRIVER_MEM")
    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    got = default_driver_mem()
    assert got.endswith("m") and int(got[:-1]) <= max(1024, phys_mb)
