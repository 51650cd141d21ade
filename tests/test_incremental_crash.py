"""Crash harness for the ``--incremental`` append (gwv_spark/
incremental.py).

One append over a covered chain makes a fixed set of parquet writes
under its output dir: one violations epoch per rule (each its own job
through the suite executor), the RI state, verdicts, metrics,
component_timings and the runs row.  A second append also makes a fixed
set of deletes: the previous epoch of every rule it rewrites whole (RI
and full steps) and, once committed, the RI state epoch it no longer
folds from.  Each case copies one output dir, kills the append right
after its k-th write (``DataFrameWriter.parquet`` wrapped to raise once
the write returns) or its k-th delete (``gwv_spark.fs.delete`` wrapped
the same way), then reruns with ``--resume`` at the same snapshot: the
violations must equal a classic run's as a multiset (exceptAll both
ways).  The counts of writes and deletes are asserted, so one added to
the append cannot go uncovered.
"""

from __future__ import annotations

import shutil
import threading
from collections import Counter

import pyarrow.parquet as pq
import pytest
from pyspark.sql.readwriter import DataFrameWriter

from gwv_spark import fs, job
from gwv_spark.corpus import ensure_corpus

# one rule per class: doc-local, RI (both), corpus-scoped
RULES = ["numexp", "delquote", "delvar", "ucsalias"]
# two doc-local rules: the append's delta step writes them concurrently
DOC_LOCAL_PAIR = ["numexp", "order"]

# the top-level output table of each write one append makes
APPEND_WRITES = sorted([
    "violations",  # numexp's delta epoch
    "ri_state",
    "violations",  # delquote's epoch
    "violations",  # delvar's epoch
    "violations",  # ucsalias's full epoch
    "verdicts",
    "metrics",
    "component_timings",
    "runs",
])

# the top-level output table of each delete the second append makes
APPEND_DELETES = sorted([
    "violations",  # delquote's previous epoch
    "violations",  # delvar's previous epoch
    "violations",  # ucsalias's previous epoch
    "ri_state",  # the baseline's state epoch
])


class Crash(RuntimeError):
    pass


def _args(corpus, out, *extra, rules=RULES):
    return ["--input", str(corpus), "--output", str(out), "--rules", *rules,
            "--n-buckets", "4", "--incremental", *extra]


def _bag(spark, path):
    cols = ["rule_id", "errcode", "doc_id", "detail", "sortkey"]
    return Counter(
        (r["rule_id"], r["errcode"], r["doc_id"], tuple(r["detail"] or []), r["sortkey"])
        for r in spark.read.parquet(str(path)).select(*cols).collect()
    )


def _chain(spark, root, rules, appends=1):
    """A corpus of a 120-doc baseline file plus ``appends`` 30-doc
    append files, an incremental output dir holding the runs of
    ``rules`` over all but the last file (the baseline, then each append
    but the last), and the classic run's violations over the whole
    corpus."""
    table = pq.read_table(ensure_corpus(root / "gen", 120 + 30 * appends) / "documents.parquet")
    corpus = root / "corpus"
    corpus.mkdir()
    parts = [table.slice(0, 120)] + [table.slice(120 + 30 * i, 30) for i in range(appends)]
    baseline = root / "baseline"
    for i, part in enumerate(parts):
        pq.write_table(part, corpus / f"part-{i:03d}.parquet")
        if i < appends:
            job.main(_args(corpus, baseline, rules=rules), spark=spark)
    classic = root / "classic"
    job.main(["--input", str(corpus), "--output", str(classic), "--rules", *rules,
              "--n-buckets", "4"], spark=spark)
    want = _bag(spark, classic / "violations")
    assert {r[0] for r in want} == set(rules), "fixture must produce every rule's rows"
    return corpus, baseline, want


@pytest.fixture(scope="module")
def chain(spark, tmp_path_factory):
    return _chain(spark, tmp_path_factory.mktemp("incremental_crash"), RULES)


@pytest.fixture(scope="module")
def delete_chain(spark, tmp_path_factory):
    """Two appends: the second deletes an RI state epoch too."""
    return _chain(spark, tmp_path_factory.mktemp("incremental_crash_delete"), RULES, appends=2)


def _append(spark, monkeypatch, corpus, out, crash_at=None, rules=RULES, crash_on="write"):
    """Run one append on ``out``, raising :class:`Crash` right after its
    ``crash_at``-th write or delete (``crash_on``) under ``out``.
    Returns the tables written and deleted, in order, keyed "write" and
    "delete".  Rule writes run on several threads at once, so each op
    takes its number under a lock."""
    real_parquet = DataFrameWriter.parquet
    real_delete = fs.delete
    prefix = f"{out}/"
    done = {"write": [], "delete": []}
    lock = threading.Lock()

    def record(op, path):
        # writes name plain paths, fs names qualified ones (file:/...)
        if prefix in str(path):
            with lock:
                done[op].append(str(path).split(prefix, 1)[1].split("/")[0])
                k = len(done[op])
            if op == crash_on and k == crash_at:
                raise Crash(f"after {op} {crash_at}: {path}")

    def parquet(self, path, *a, **kw):
        real_parquet(self, path, *a, **kw)
        record("write", path)

    def delete(path):
        real_delete(path)
        record("delete", path)

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", parquet)
        m.setattr(fs, "delete", delete)
        job.main(_args(corpus, out, rules=rules), spark=spark)
    return done


def test_append_write_count(spark, monkeypatch, chain, tmp_path):
    """An uncrashed append makes exactly the writes the crash cases
    cover, and its result equals the classic run."""
    corpus, baseline, want = chain
    out = tmp_path / "out"
    shutil.copytree(baseline, out)
    written = _append(spark, monkeypatch, corpus, out)["write"]
    assert sorted(written) == APPEND_WRITES, written
    assert _bag(spark, out / "violations") == want

    # every step's metrics rows carry the executor's per-rule write
    # time, as the classic run's do; the step totals keep their names
    runs = spark.read.parquet(str(out / "runs"))
    assert sorted(r["seq"] for r in runs.collect()) == [1, 2]
    snapshot = runs.where("seq = 2").collect()[0]["snapshot"]
    metrics = spark.read.parquet(str(out / "metrics")).where(f"snapshot = '{snapshot}'")
    rows = {r["rule_id"]: r for r in metrics.collect()}
    assert set(rows) == set(RULES)
    for row in rows.values():
        assert row["wall_s"] > 0 and row["per_rule_timing"]
        assert row["run_total_s"] >= row["wall_s"]
    timings = spark.read.parquet(str(out / "component_timings"))
    assert {r["component"] for r in timings.where(f"snapshot = '{snapshot}'").collect()} == {
        "__local_delta__", "__ri_fold__", "__scoped_full__"
    }


@pytest.mark.parametrize("k", range(1, len(APPEND_WRITES) + 1))
def test_crash_after_write_k_then_resume(spark, monkeypatch, chain, tmp_path, k):
    corpus, baseline, want = chain
    out = tmp_path / "out"
    shutil.copytree(baseline, out)
    with pytest.raises(Crash):
        _append(spark, monkeypatch, corpus, out, crash_at=k)
    job.main(_args(corpus, out, "--resume"), spark=spark)
    assert _bag(spark, out / "violations") == want


def test_crash_in_concurrent_doc_local_step_then_resume(
    spark, monkeypatch, tmp_path_factory, tmp_path
):
    """The delta step writes two doc-local rules as concurrent jobs.  A
    write raising in one of them fails the job, and the --resume rerun
    equals the classic run."""
    corpus, baseline, want = _chain(
        spark, tmp_path_factory.mktemp("incremental_crash_pair"), DOC_LOCAL_PAIR
    )
    out = tmp_path / "out"
    shutil.copytree(baseline, out)
    with pytest.raises(Crash, match="violations/rule_id="):
        _append(spark, monkeypatch, corpus, out, crash_at=1, rules=DOC_LOCAL_PAIR)
    job.main(_args(corpus, out, "--resume", rules=DOC_LOCAL_PAIR), spark=spark)
    assert _bag(spark, out / "violations") == want


def test_append_delete_count(spark, monkeypatch, delete_chain, tmp_path):
    """An uncrashed second append makes exactly the deletes (and the
    writes) the crash cases cover, and its result equals the classic
    run."""
    corpus, baseline, want = delete_chain
    out = tmp_path / "out"
    shutil.copytree(baseline, out)
    done = _append(spark, monkeypatch, corpus, out)
    assert sorted(done["delete"]) == APPEND_DELETES, done["delete"]
    assert sorted(done["write"]) == APPEND_WRITES, done["write"]
    assert _bag(spark, out / "violations") == want


@pytest.mark.parametrize("k", range(1, len(APPEND_DELETES) + 1))
def test_crash_after_delete_k_then_resume(spark, monkeypatch, delete_chain, tmp_path, k):
    corpus, baseline, want = delete_chain
    out = tmp_path / "out"
    shutil.copytree(baseline, out)
    with pytest.raises(Crash):
        _append(spark, monkeypatch, corpus, out, crash_at=k, crash_on="delete")
    job.main(_args(corpus, out, "--resume"), spark=spark)
    assert _bag(spark, out / "violations") == want
