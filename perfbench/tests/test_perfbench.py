"""Self-tests of the benchmark.  Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import inputs, oracle, run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_generator_is_deterministic_per_seed(tmp_path):
    a = inputs.write_corpus(tmp_path / "a", 120, 3, seed=5)
    b = inputs.write_corpus(tmp_path / "b", 120, 3, seed=5)
    c = inputs.write_corpus(tmp_path / "c", 120, 3, seed=6)
    assert a == b
    for f in sorted((tmp_path / "a" / "documents").iterdir()):
        assert pq.read_table(f).equals(pq.read_table(tmp_path / "b" / "documents" / f.name))
    assert pq.read_table(tmp_path / "a" / "doc_attrs.parquet").equals(
        pq.read_table(tmp_path / "b" / "doc_attrs.parquet")
    )
    assert len(list((tmp_path / "a" / "documents").iterdir())) == 3
    docs_a = pq.read_table(tmp_path / "a" / "documents").to_pylist()
    docs_c = pq.read_table(tmp_path / "c" / "documents").to_pylist()
    assert docs_a != docs_c
    assert inputs.drops(50, 4, 9) == inputs.drops(50, 4, 9)


def test_doc_ids_are_unique():
    # seed 11 makes gen_record repeat 'u2ff1-u4e30-u4e5b' at idx 434 and 834
    ids = [r[0] for r in inputs.records(1000, 11)]
    assert len(ids) == len(set(ids)) == 999


def test_metric_names_and_units():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for table, declared in ((run.END_TO_END, "end_to_end"), (run.PER_LAYER, "per_layer")):
        assert {m["name"]: m["unit"] for m in spec[declared]} == table
        for name, unit in table.items():
            assert NAME.match(name), name
            assert UNIT.match(unit), (name, unit)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    # run.py names the rule probes without importing the package
    from gwv_spark.rules import ALL_RULE_IDS

    assert run.RULE_IDS == ALL_RULE_IDS
    assert sorted(oracle.PROJECTIONS) == sorted(oracle.MIRRORED)


@pytest.fixture(scope="module")
def spark():
    from gwv_spark.session import get_spark

    s = get_spark("perfbench-tests", cpus=2, shuffle_partitions=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def _drop_first_row(rule_dir: Path) -> None:
    f = sorted(p for p in rule_dir.glob("*.parquet") if pq.read_metadata(p).num_rows)[0]
    t = pq.read_table(f)
    pq.write_table(t.slice(1), f)


def test_dropped_violation_row_fails_the_check(tmp_path, spark):
    """A batch output with one violation row removed is a failed op,
    whether the row belongs to a mirrored rule or to corner."""
    from gwv_spark import job
    from perfbench.workloads import check_batch_output

    corpus = tmp_path / "corpus"
    inputs.write_corpus(corpus, 300, 2, seed=3)
    out = tmp_path / "out"
    job.main(["--input", str(corpus / "documents"), "--attrs",
              str(corpus / "doc_attrs.parquet"), "--output", str(out)], spark=spark)
    vio = out / "violations"
    con = oracle.connect()
    oracle.load_mirror(con, f"read_parquet('{corpus}/documents/*.parquet')",
                       corpus / "doc_attrs.parquet")
    # the untouched output serves as corner's reference
    ref = tmp_path / "ref"
    spark.read.parquet(str(vio)).write.partitionBy("rule_id").parquet(str(ref))
    oracle.violations_view(con, "corner_ref", f"{ref}/*/*.parquet")
    assert check_batch_output(con, vio)

    _drop_first_row(vio / "rule_id=numexp")
    assert not check_batch_output(con, vio)

    job.main(["--input", str(corpus / "documents"), "--attrs",
              str(corpus / "doc_attrs.parquet"), "--output", str(tmp_path / "out2")],
             spark=spark)
    vio2 = tmp_path / "out2" / "violations"
    assert check_batch_output(con, vio2)
    _drop_first_row(vio2 / "rule_id=corner")
    assert not check_batch_output(con, vio2)
