"""Dump text-format ingest parity vs the reference loader
(Dump.open, dump.py:77-101): malformed-row skip, header handling,
timestamp semantics, dict-overwrite (last wins), and span parity."""

from __future__ import annotations

import sys

import pytest

from gwv_spark import sources
from gwv_spark.corpus import py_spans

sys.path.insert(0, "/root/reference")

# reference, read-only; skipped without it, like the reference_gwv fixture
Dump = pytest.importorskip("gwv.dump", reason="reference repo not available").Dump

CSV_BODY = (
    "1700000000.25\n"
    "u4e00,u3013,1:0:0:10:10:190:10\n"
    "badline\n"
    "u4e01,u3013,99:0:0:0:0:200:200:u4e00\n"
    "a,b,c,d\n"
    "u4e01,u4e01,2:0:7:10:10:100:100:190:190\n"  # duplicate: last wins
    "u4e02_user,,0:-1:-1:-1\n"
)

PIPE_BODY = (
    " name | related | data \n"
    "------+---------+------\n"
    " u4e00 | u3013 | 1:0:0:10:10:190:10 \n"
    "broken row with no pipes\n"
    " u4e01 | u3013 | 99:0:0:0:0:200:200:u4e00@3 \n"
)


def _check_against_reference(spark, path, read_fn):
    ref = Dump.open(path)
    docs, attrs, ts = read_fn(spark, path)
    got = {
        r["doc_id"]: r["spans"]
        for r in docs.collect()
    }
    rel = {r["doc_id"]: r["related"] for r in attrs.collect()}
    assert set(got) == set(ref.keys())
    assert ts == ref.timestamp
    for name in ref.keys():
        entry = ref[name]
        assert rel[name] == entry.related
        expect = py_spans(entry.gdata)
        have = [s.asDict() for s in got[name]]
        assert have == expect, (name, have, expect)


def test_csv_dump_parity(spark, tmp_path):
    p = tmp_path / "dump.csv"
    p.write_text(CSV_BODY)
    _check_against_reference(spark, p, sources.read_dump)
    # explicit duplicate semantics: the later row overwrote the earlier
    docs, attrs, _ = sources.read_dump_csv(spark, p)
    row = attrs.where("doc_id = 'u4e01'").collect()[0]
    assert row["related"] == "u4e01"


def test_pipe_dump_parity(spark, tmp_path):
    p = tmp_path / "dump_newest_only.txt"
    p.write_text(PIPE_BODY)
    _check_against_reference(spark, p, sources.read_dump)


def test_ingested_dump_runs_rules(spark, tmp_path):
    p = tmp_path / "dump.csv"
    p.write_text(CSV_BODY)
    docs, attrs, _ = sources.read_dump(spark, p)
    from gwv_spark import engine

    ctx = engine.make_context(spark, docs, attrs=attrs)
    v = engine.run_rules(ctx, ["numexp", "delquote", "illegal"])
    assert v.columns == ["rule_id", "errcode", "doc_id", "detail", "sortkey"]
    v.count()  # plan executes
