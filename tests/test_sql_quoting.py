"""Literals in the rules' SQL text are quoted exactly.

Spark SQL unescapes backslash sequences inside string literals, so a
name or regex written into SQL text unquoted silently changes: ``\\b``
becomes a backspace, ``\\d`` becomes ``d``, ``\\$`` becomes ``$``, and a
``'`` ends the literal.  Every literal goes through ``parse.sql_lit``.

- width, naming and j run over dims whose group, part and rule-set
  names hold ``'`` and ``\\``; their rows must equal the Column-API build
  of the same rules (tests/column_api_rules.py), and the planted names
  must produce the rows they should.  j reads no_apply's alias closure
  off each doc row, where the Column-API build joins the seeds with the
  aliases: the planted u34xx glyphs check that both agree.
- the ``\\b`` (naming), ``\\d`` (order) and ``\\$`` (parse) patterns match
  as they do through the Column API, where an unquoted literal would
  not."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gwv_spark.parse import sql_lit

# (doc_id, gdata) planted next to a generated corpus
PLANTED = [
    ("it's", "1:0:0:20:100:180:100"),
    ("back\\slash", "1:0:0:20:100:180:100"),
    ("foo12", "1:0:0:20:100:180:100"),
    ("old'one", "1:0:0:20:100:180:100"),
    ("old77", "1:0:0:20:100:180:100"),
    ("no'pe", "1:0:0:20:100:180:100"),
    ("u2ff0-cdp-8c42-u4e01", "99:0:0:0:0:100:200:u4e01$99:0:0:100:0:200:200:u4e02"),
    ("wq1", "99:0:0:0:0:100:200:hw'q$99:0:0:100:0:200:200:nsp\\b"),
    ("hw\\b", "1:0:0:10:100:190:100"),
    ("x'y", "1:0:0:20:100:180:100"),
    ("irg2015-00001", "99:0:0:0:0:200:200:ban'd"),
    ("irg2015-00002", "1:0:0:20:100:180:100$99:0:0:0:0:200:200:ban\\d"),
    ("irg2015-00003", "99:0:0:0:0:100:200:x'y$99:0:0:100:0:200:200:ban'd"),
    # nomark glyphs quoting a banned part; u3404 and u3407 are aliases.
    # In no_apply's closure: the seed u3402, and u3404, an alias of the
    # seed x'z.  Not in it: u3407, an alias of w'z.
    ("u3402", "99:0:0:0:0:100:200:ban'd$99:0:0:100:0:200:200:ban'd"),
    ("x'z", "99:0:0:0:0:100:200:ban'd$99:0:0:100:0:200:200:ban'd"),
    ("u3404", "99:0:0:0:0:200:200:x'z"),
    ("u3406", "99:0:0:0:0:100:200:ban'd$99:0:0:100:0:200:200:ban'd"),
    ("w'z", "99:0:0:0:0:100:200:ban'd$99:0:0:100:0:200:200:ban'd"),
    ("u3407", "99:0:0:0:0:200:200:w'z"),
    ("u3408", "99:0:0:0:0:100:200:u3404$99:0:0:100:0:200:200:ban'd"),
    ("u3409", "99:0:0:0:0:100:200:u3407$99:0:0:100:0:200:200:ban'd"),
]


def _dims():
    from gwv_spark.dims import default_dims

    dims = default_dims()
    groups = {k: list(v) for k, v in dims["groups"].items()}
    groups["NonSpacingGlyphs-Halfwidth"] += ["nsp'q", "nsp\\b"]
    groups["HalfwidthGlyphs-BMP"] += ["hw'q", "hw\\b"]
    groups["UCSで符号化されたCDP外字"] += ["cdp-8c42", "u4e00'\\z"]
    groups["原規格分離"] += ["u4e03'", "u4e04\\"]
    rules = {k: {"strings": set(), "regex": None} for k in dims["naming_rules"]}
    rules["rule"] = {"strings": {"it's", "back\\slash"}, "regex": r"foo\d+"}
    rules["deprecated-rule"] = {"strings": {"old'one"}, "regex": r"old\d+"}
    rules["dont-create"] = {"strings": {"no'pe"}, "regex": None}
    return {
        **dims,
        "groups": groups,
        "naming_rules": rules,
        "jv": {"no_use_part": {"use'd": ["ban'd", "ban\\d"]}, "no_apply": ["x'y", "u3402", "x'z"]},
    }


@pytest.fixture(scope="module")
def ctx(spark):
    from gwv_spark import engine
    from gwv_spark.corpus import CORPUS_TS, gen_record, py_spans
    from gwv_spark.session import local_frame

    recs = [gen_record(i, 300, 321) for i in range(300)]
    recs = list({r[0]: r for r in recs}.values())
    recs += [(name, "u3013", gdata) for name, gdata in PLANTED]
    ddl = "doc_id STRING, spans ARRAY<STRUCT<kind:STRING,text:STRING,media_ref:STRING,offset:INT>>"
    docs = local_frame(spark, [(n, py_spans(g)) for n, _, g in recs], ddl)
    attrs = local_frame(
        spark, [(n, r, CORPUS_TS) for n, r, _ in recs], "doc_id STRING, related STRING, ts DOUBLE"
    )
    return engine.make_context(spark, docs, attrs=attrs, dims=_dims())


def _rows(df) -> set:
    return {(r["errcode"], r["doc_id"], tuple(r["detail"]), r["sortkey"]) for r in df.collect()}


@pytest.mark.parametrize("rule_id", ["width", "naming", "j"])
def test_rows_equal_column_api_build(ctx, rule_id):
    from gwv_spark.rules import load_all_rules
    from tests import column_api_rules

    load_all_rules()
    new = ctx.plan(rule_id)
    old = getattr(column_api_rules, rule_id)(ctx)
    assert new.exceptAll(old).count() == 0 and old.exceptAll(new).count() == 0
    rows = _rows(new)
    planted = {
        "width": {("1", "hw\\b", (), "hw\\b")},
        "naming": {
            ("3", "u2ff0-cdp-8c42-u4e01", ("Scdp-8c42", "Su4e00'\\z"), "u2ff0-cdp-8c42-u4e01"),
            ("4", "old'one", (), "old'one"),
            ("4", "old77", (), "old77"),
            ("2", "no'pe", (), "no'pe"),
        },
        "j": {
            ("2", "irg2015-00001", ("Sban'd", "Suse'd"), "irg2015-00001"),
            ("2", "irg2015-00002", ("Sban\\d", "Suse'd"), "irg2015-00002"),
        }
        | {("2", g, ("Sban'd", "Suse'd"), g) for g in ("u3406", "u3407", "u3409")},
    }[rule_id]
    assert planted <= rows, planted - rows
    # names a rule set accepts; a banned part next to a no-apply one; a
    # glyph in no_apply's closure, or quoting a part in it
    absent = {
        "naming": {"it's", "back\\slash", "foo12"},
        "j": {"irg2015-00003", "u3402", "u3404", "u3408"},
    }
    assert not {r[1] for r in rows} & absent.get(rule_id, set())


@pytest.mark.parametrize(
    "module, name, samples",
    [
        ("naming", "_RE_CDP", ["u2ff0-cdp-8c42-u4e01", "xcdp-8c42", "cdpo-1234"]),  # \b
        ("order", "_RE_VARS", ["u4e00-02", "u4e00-j14@3", "u4e00-dd"]),  # \d
    ],
)
def test_regex_literals_keep_their_backslashes(spark, module, name, samples):
    import importlib

    pattern = getattr(importlib.import_module(f"gwv_spark.rules.{module}"), name)
    assert "\\" in pattern
    df = spark.createDataFrame([(s,) for s in samples], "s STRING")
    got = df.select(
        F.regexp_extract_all("s", F.lit(pattern), 0).alias("col_api"),
        F.expr(f"regexp_extract_all(s, {sql_lit(pattern)}, 0)").alias("sql"),
        F.expr(f"regexp_extract_all(s, '{pattern}', 0)").alias("unquoted"),
    ).collect()
    assert all(r["sql"] == r["col_api"] for r in got)
    assert any(r["col_api"] for r in got)
    # the pitfall is real: the same text unquoted matches differently
    assert any(r["unquoted"] != r["col_api"] for r in got)


def test_gdata_splits_on_dollar(spark):
    from gwv_spark import parse

    df = spark.createDataFrame([("1:0:0$2:0:0$99:0:0:1:1:2:2:u4e00",), ("1:0:0",)], "g STRING")
    got = df.select(
        F.size(F.expr(parse.gdata_to_spans("g"))).alias("n"),
        F.size(F.split("g", r"\$", -1)).alias("want"),
    ).collect()
    assert [r["n"] for r in got] == [r["want"] for r in got] == [3, 1]


@pytest.mark.parametrize("value", ["a'b", "c\\d", "\\", "'", "%_", "\\u0041", "\\b\\d\\$", "漢"])
def test_sql_lit_round_trips(spark, value):
    assert spark.sql(f"SELECT {sql_lit(value)} AS v").first()["v"] == value
