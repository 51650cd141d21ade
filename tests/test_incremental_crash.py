"""Crash harness for the ``--incremental`` append (gwv_spark/
incremental.py).

One append over a covered chain makes a fixed set of parquet writes
under its output dir: the doc-local epoch, the RI state, the RI epoch,
the corpus-scoped epoch, verdicts, metrics, component_timings and the
runs row.  Each case copies one baseline output dir, kills the append
right after its k-th write (``DataFrameWriter.parquet`` wrapped to raise
once the write returns), then reruns with ``--resume`` at the same
snapshot: the violations must equal a classic run's as a multiset
(exceptAll both ways).  The count of writes is asserted, so a write
added to the append cannot go uncovered.
"""

from __future__ import annotations

import shutil
from collections import Counter

import pyarrow.parquet as pq
import pytest
from pyspark.sql.readwriter import DataFrameWriter

from gwv_spark import job
from gwv_spark.corpus import ensure_corpus

# one rule per class: doc-local, RI (both), corpus-scoped
RULES = ["numexp", "delquote", "delvar", "ucsalias"]

# the top-level output table of each write one append makes
APPEND_WRITES = sorted([
    "violations",  # doc-local delta epoch
    "ri_state",
    "violations",  # RI epoch
    "violations",  # corpus-scoped epoch
    "verdicts",
    "metrics",
    "component_timings",
    "runs",
])


class Crash(RuntimeError):
    pass


def _args(corpus, out, *extra):
    return ["--input", str(corpus), "--output", str(out), "--rules", *RULES,
            "--n-buckets", "4", "--incremental", *extra]


def _bag(spark, path):
    cols = ["rule_id", "errcode", "doc_id", "detail", "sortkey"]
    return Counter(
        (r["rule_id"], r["errcode"], r["doc_id"], tuple(r["detail"] or []), r["sortkey"])
        for r in spark.read.parquet(str(path)).select(*cols).collect()
    )


@pytest.fixture(scope="module")
def chain(spark, tmp_path_factory):
    """A corpus of a 120-doc baseline file plus one 30-doc append file,
    an incremental output dir holding the baseline run only, and the
    classic run's violations over the whole corpus."""
    root = tmp_path_factory.mktemp("incremental_crash")
    table = pq.read_table(ensure_corpus(root / "gen", 150) / "documents.parquet")
    corpus = root / "corpus"
    corpus.mkdir()
    pq.write_table(table.slice(0, 120), corpus / "part-000.parquet")
    baseline = root / "baseline"
    job.main(_args(corpus, baseline), spark=spark)
    pq.write_table(table.slice(120, 30), corpus / "part-001.parquet")
    classic = root / "classic"
    job.main(["--input", str(corpus), "--output", str(classic), "--rules", *RULES,
              "--n-buckets", "4"], spark=spark)
    want = _bag(spark, classic / "violations")
    assert {r[0] for r in want} == set(RULES), "fixture must produce every rule's rows"
    return corpus, baseline, want


def _append(spark, monkeypatch, corpus, out, crash_at=None):
    """Run one append on ``out``, raising :class:`Crash` right after its
    ``crash_at``-th write under ``out``.  Returns the tables written, in
    order."""
    real = DataFrameWriter.parquet
    prefix = f"{out}/"
    written = []

    def parquet(self, path, *a, **kw):
        real(self, path, *a, **kw)
        if str(path).startswith(prefix):
            written.append(str(path)[len(prefix):].split("/")[0])
            if len(written) == crash_at:
                raise Crash(f"after write {crash_at}: {path}")

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", parquet)
        job.main(_args(corpus, out), spark=spark)
    return written


def test_append_write_count(spark, monkeypatch, chain, tmp_path):
    """An uncrashed append makes exactly the writes the crash cases
    cover, and its result equals the classic run."""
    corpus, baseline, want = chain
    out = tmp_path / "out"
    shutil.copytree(baseline, out)
    written = _append(spark, monkeypatch, corpus, out)
    assert sorted(written) == APPEND_WRITES, written
    assert _bag(spark, out / "violations") == want


@pytest.mark.parametrize("k", range(1, len(APPEND_WRITES) + 1))
def test_crash_after_write_k_then_resume(spark, monkeypatch, chain, tmp_path, k):
    corpus, baseline, want = chain
    out = tmp_path / "out"
    shutil.copytree(baseline, out)
    with pytest.raises(Crash):
        _append(spark, monkeypatch, corpus, out, crash_at=k)
    job.main(_args(corpus, out, "--resume"), spark=spark)
    assert _bag(spark, out / "violations") == want
