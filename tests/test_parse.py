"""Spark-side parsing must agree with the Python mirror (and therefore
with the reference's kagedata semantics, which the parity tests cover
end-to-end)."""

from __future__ import annotations

from pyspark.sql import functions as F

from gwv_spark import parse
from gwv_spark.corpus import py_spans

TRICKY_GDATA = [
    "1:0:2:10:100:190:100",
    "99:0:0:0:0:200:200:u4e00",
    "99:0:0:0:0:200:200:u4e00@5$1:0:0:10:10:10:190",
    "0:-1:-1:-1",
    "1:0:2:010:100:190:100",
    "2:0:7:10:10:100:100",
    "8:0:0:10:10:100:100",
    "1:0:2:10:100:190:100$",
    "$",
    "",
    "1:0:2:10:100:190:100 $x",
    "99:0:0:0:0:200:200",  # 7-column 99 line: no part name
    ":::",
    "99:0:0:0:0:200:200:a:b",  # extra column after part name
    "1_0:0:2:10:100:190:100",  # python int('1_0') == 10
    "-0:0:2:1:1:2:2",
    "0:97:0:0:0",  # transform flag
    "0:99:5",
    "+5:0:2:1:1:2:2",  # '+' invalid per charset but int()-able
]


def test_gdata_to_spans_matches_python_mirror(spark):
    df = spark.createDataFrame([(g,) for g in TRICKY_GDATA], "gdata STRING")
    got = df.select(F.expr(parse.gdata_to_spans("gdata")).alias("spans")).collect()
    for g, row in zip(TRICKY_GDATA, got):
        expect = py_spans(g)
        actual = [s.asDict() for s in row["spans"]]
        assert actual == expect, f"gdata={g!r}\n spark={actual}\n python={expect}"


def test_spans_roundtrip(spark):
    df = spark.createDataFrame([(g,) for g in TRICKY_GDATA], "gdata STRING")
    rt = df.select(
        "gdata",
        F.expr(parse.spans_to_gdata(parse.gdata_to_spans("gdata"))).alias("rt"),
    ).collect()
    for row in rt:
        assert row["rt"] == row["gdata"]


def test_kage_int_semantics(spark):
    cases = {
        "": 0,
        "  ": 0,
        "5": 5,
        "-5": -5,
        "+5": 5,
        "007": 7,
        "-0": 0,
        "1_0": 10,
        "1_": None,
        "_1": None,
        "1.5": None,
        "a": None,
        "5a": None,
        "1__0": None,
    }
    df = spark.createDataFrame([(k,) for k in cases], "s STRING")
    got = {r["s"]: r["v"] for r in df.select("s", F.expr(parse.kage_int("s")).alias("v")).collect()}
    for k, want in cases.items():
        assert got[k] == want, f"kage_int({k!r}) = {got[k]}, want {want}"


def test_entity_ref_and_alias(spark):
    cases = {
        "99:0:0:0:0:200:200:u4e00": "u4e00",
        "99:0:0:0:0:200:200:u4e00@5": "u4e00@5",
        "99:0:0:0:0:200:200:u4e00$1:0:0:1:1:2:2": None,
        "99:0:0:0:0:200:200:a:b": None,
        "1:0:2:10:100:190:100": None,
        "99:0:0:0:0:200:200:": "",  # degenerate: empty entity name
    }
    df = spark.createDataFrame([(k,) for k in cases], "gdata STRING")
    got = {
        r["gdata"]: r["e"]
        for r in df.select("gdata", F.expr(parse.entity_ref("gdata")).alias("e")).collect()
    }
    for k, want in cases.items():
        assert got[k] == want, f"entity_ref({k!r}) = {got[k]!r}, want {want!r}"


def test_category_matches_reference(spark, reference_gwv):
    from gwv.helper import categorize

    from gwv_spark import derive

    names = [
        "u4e00", "u3013", "u0041", "ufa0e", "ufa10", "u2f800", "u20000",
        "u2ff0-u4e00-u4e01", "u31ef-x", "u4e00-var-001", "u4e00-itaiji-001",
        "cdp-8c42", "cdpo-1234", "cdpn-abcd-var-001", "koseki-123450",
        "koseki-912345", "toki-01234567", "irg2015-00001", "irg2021-12345",
        "unstable-bsh-2b9f", "test_foo", "u4e00_x", "niceglyph", "u12",
        "u123456", "u1234567", "irg2019-00001", "koseki-12345",
    ]
    df = spark.createDataFrame([(n,) for n in names], "doc_id STRING")
    got = {
        r["doc_id"]: (r["cat"], r["hik"])
        for r in df.select(
            "doc_id",
            F.expr(derive.category("doc_id")).alias("cat"),
            F.expr(derive.is_hikanji("doc_id", derive.category("doc_id"))).alias("hik"),
        ).collect()
    }
    from gwv.helper import is_hikanji as ref_is_hikanji

    for n in names:
        cp = categorize(n)
        assert got[n][0] == cp[0], f"category({n!r}) = {got[n][0]}, want {cp[0]}"
        assert got[n][1] == ref_is_hikanji(cp), f"is_hikanji({n!r}) = {got[n][1]}"
