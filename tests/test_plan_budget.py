"""py4j round trips per plan build, and no Spark job while plans are
built.

Every PySpark Column or DataFrame method is one or more round trips to
the JVM, and the delete of each dropped proxy is one more.  The rules
enter their table-driven expressions as Spark SQL text, so a rule plan
costs a few hundred round trips; a rule rebuilt as Column trees would
cost thousands again, and these budgets (the achieved counts + 20%)
catch it.  Counts come from ``tools/plan_calls.py``: ``send_command`` of
the gateway's connection class patched, ``gc.collect()`` around each
build.

The dims carry a jv config, so j's alias-closure dims are not empty:
built eagerly (collected) they would start Spark jobs at plan time."""

from __future__ import annotations

import pytest

from perfbench import inputs
from tools.plan_calls import measure

# the counts achieved on this corpus + 20%
RULE_BUDGET = {
    "corner": 159, "related": 195, "illegal": 90, "skew": 33, "donotuse": 86,
    "kosekitoki": 86, "mj": 576, "ucsalias": 69, "dup": 146, "naming": 83,
    "ids": 220, "order": 60, "delquote": 86, "delvar": 53, "numexp": 34,
    "mustrenew": 159, "j": 520, "width": 184,
}
CONTEXT_BUDGET = 170
RI_FOLD_BUDGET = 567

JV = {"no_use_part": {"u4e00": ["u4e01", "u4e02"]}, "no_apply": ["u4e03"]}


@pytest.fixture(scope="module")
def counts(spark, tmp_path_factory):
    from gwv_spark.dims import default_dims

    corpus = tmp_path_factory.mktemp("budget") / "corpus"
    inputs.write_corpus(corpus, 300, 2, 321)
    docs = spark.read.parquet(str(corpus / "documents"))
    attrs = spark.read.parquet(str(corpus / "doc_attrs.parquet"))
    return measure(spark, docs, attrs, dims={**default_dims(), "jv": JV})


def test_rule_plan_budgets(counts):
    got = {rid: c["calls"] for rid, c in counts["rules"].items()}
    print(got)
    assert set(got) == set(RULE_BUDGET)
    over = {rid: (n, RULE_BUDGET[rid]) for rid, n in got.items() if n > RULE_BUDGET[rid]}
    assert not over, f"py4j calls over budget (calls, budget): {over}"


def test_context_and_ri_fold_budgets(counts):
    print(counts["make_context"], counts["ri_fold"])
    assert counts["make_context"]["calls"] <= CONTEXT_BUDGET
    assert counts["ri_fold"]["calls"] <= RI_FOLD_BUDGET


def test_plan_builds_start_no_spark_job(counts):
    assert counts["plan_jobs"] == 0
