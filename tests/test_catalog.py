"""Snapshot manifest log: time travel on the parquet surrogate.

The north rule's input is an Iceberg table; the sandbox has no Iceberg
jar, so catalog.py fingerprints file state to key runs and --resume.  The
manifest log closes the remaining semantic gap: a committed snapshot's
exact file list is recorded, so any pinned run's input can be re-read
AS OF that snapshot after later appends — and the validation job
commits a manifest every time it pins (job.py), making every validated
snapshot reproducible."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from gwv_spark import catalog, fs


class Crash(RuntimeError):
    pass


def _leaf_dirs(ref):
    """Directories holding visible data files directly, listed locally."""
    base = Path(ref)
    return sorted({
        f.parent for f in base.rglob("*.parquet")
        if not any(part.startswith(("_", ".")) for part in f.relative_to(base).parts)
    })


def _torn_write(monkeypatch):
    """Make fs's next file write die half-way: half the bytes land."""
    real = fs._write

    def torn(path, data):
        real(path, data[: len(data) // 2])
        raise Crash(f"died writing {path}")

    monkeypatch.setattr(fs, "_write", torn)


@pytest.fixture()
def versioned_table(spark, tmp_path):
    d = str(tmp_path / "tbl")
    spark.range(100).select(F.col("id")).coalesce(1).write.parquet(d)
    return d


def test_time_travel_after_append(spark, versioned_table):
    d = versioned_table
    s1 = catalog.commit_snapshot(spark, d)
    spark.range(100, 160).select(F.col("id")).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    s2 = catalog.commit_snapshot(spark, d)
    assert s1 != s2
    assert catalog.load_snapshot(spark, d, s1).count() == 100
    assert catalog.load_snapshot(spark, d, s2).count() == 160
    # the live table reads everything; the manifest dir is invisible
    assert spark.read.parquet(d).count() == 160
    # the log lists both, oldest first
    ids = [r["snapshot_id"] for r in catalog.snapshots(d)]
    assert ids == [s1, s2]


def test_commit_is_idempotent(spark, versioned_table):
    d = versioned_table
    s1 = catalog.commit_snapshot(spark, d)
    s_again = catalog.commit_snapshot(spark, d)
    assert s_again == s1
    assert len(catalog.snapshots(d)) == 1


def test_unknown_snapshot_fails_with_known_list(spark, versioned_table):
    d = versioned_table
    s1 = catalog.commit_snapshot(spark, d)
    with pytest.raises(ValueError, match=s1):
        catalog.load_snapshot(spark, d, "nope")


def test_single_file_table_manifest(spark, tmp_path):
    d = str(tmp_path / "t")
    spark.range(10).coalesce(1).write.parquet(d)
    f = next(str(p) for p in __import__("pathlib").Path(d).glob("*.parquet"))
    sid = catalog.commit_snapshot(spark, f)
    assert catalog.load_snapshot(spark, f, sid).count() == 10
    assert [r["snapshot_id"] for r in catalog.snapshots(f)] == [sid]


def test_plain_and_uri_spellings_pin_one_snapshot(spark, tmp_path):
    """A table's snapshot id does not depend on how its path is spelled:
    the plain path and its ``file://`` URI give one id and one manifest
    (the URI spelling used to fail to fingerprint at all)."""
    d = str(tmp_path / "sp ace" / "tbl")
    spark.range(50).repartition(2).write.parquet(d)
    uri = "file://" + d
    assert catalog.snapshot_id(spark, uri) == catalog.snapshot_id(spark, d)
    sid = catalog.commit_snapshot(spark, d)
    assert catalog.commit_snapshot(spark, uri) == sid
    assert [r["snapshot_id"] for r in catalog.snapshots(uri)] == [sid]
    assert catalog.load_snapshot(spark, uri, sid).count() == 50


def test_torn_manifest_write_is_rewritten(spark, versioned_table, monkeypatch):
    """A commit that dies half-way through writing its manifest leaves
    no torn ``<sid>.json`` behind: the next commit writes it whole, and
    the snapshot loads (a torn one would fail every later read)."""
    d = versioned_table
    with monkeypatch.context() as m:
        _torn_write(m)
        with pytest.raises(Crash):
            catalog.commit_snapshot(spark, d)
    assert catalog.snapshots(d) == []
    sid = catalog.commit_snapshot(spark, d)
    assert catalog.load_snapshot(spark, d, sid).count() == 100


def test_job_pin_commits_a_manifest(spark, tmp_path):
    from gwv_spark import job as jobmod
    from gwv_spark.corpus import ensure_corpus

    cdir = str(tmp_path / "corpus")
    ensure_corpus(cdir, 200)
    docs = f"{cdir}/documents.parquet"
    out = str(tmp_path / "out")
    jobmod.main(
        ["--input", docs, "--output", out, "--rules", "numexp",
         "--n-buckets", "8"],
        spark=spark,
    )
    recs = catalog.snapshots(docs)
    assert len(recs) == 1
    # the manifest's snapshot id is the one the metrics rows are keyed by
    metrics = spark.read.parquet(f"{out}/metrics").collect()
    assert metrics and {r["snapshot"] for r in metrics} == {recs[0]["snapshot_id"]}
    # and the pinned input re-reads exactly
    assert catalog.load_snapshot(spark, docs, recs[0]["snapshot_id"]).count() == 200


def test_job_as_of_reproduces_historical_run(spark, tmp_path):
    """Append new docs, then rerun --as-of the earlier snapshot: the
    historical run reads exactly the old manifest and reproduces the
    original violations row-identically (time travel end to end)."""
    import pyarrow.parquet as pq

    from gwv_spark import job as jobmod
    from gwv_spark.corpus import ensure_corpus

    cdir = str(tmp_path / "corpus")
    ensure_corpus(cdir, 300)
    docs = str(tmp_path / "tbl")
    __import__("pathlib").Path(docs).mkdir()
    tbl = pq.read_table(f"{cdir}/documents.parquet")
    n1 = int(tbl.num_rows * 0.8)
    pq.write_table(tbl.slice(0, n1), f"{docs}/part-000.parquet")

    out1 = str(tmp_path / "out1")
    argv = ["--rules", "numexp", "order", "--n-buckets", "8"]
    jobmod.main(["--input", docs, "--output", out1] + argv, spark=spark)
    s1 = catalog.snapshots(docs)[0]["snapshot_id"]
    v1 = sorted(
        map(tuple, spark.read.parquet(f"{out1}/violations")
            .select("rule_id", "doc_id", "detail").collect())
    )

    pq.write_table(tbl.slice(n1), f"{docs}/part-001.parquet")
    out2 = str(tmp_path / "out2")
    jobmod.main(
        ["--input", docs, "--output", out2, "--as-of", s1] + argv, spark=spark
    )
    v2 = sorted(
        map(tuple, spark.read.parquet(f"{out2}/violations")
            .select("rule_id", "doc_id", "detail").collect())
    )
    assert v1 == v2 and v1
    # the as-of run's metrics rows are keyed by the historical snapshot
    metrics = spark.read.parquet(f"{out2}/metrics").collect()
    assert sorted(r["rule_id"] for r in metrics) == ["numexp", "order"]
    assert {r["snapshot"] for r in metrics} == {s1}
    # and a live run over the appended table sees a different snapshot
    out3 = str(tmp_path / "out3")
    jobmod.main(["--input", docs, "--output", out3] + argv, spark=spark)
    ids = [r["snapshot_id"] for r in catalog.snapshots(docs)]
    assert len(ids) == 2 and ids[0] == s1

    # the same runs with the input spelled as a file:// URI: one more
    # historical run equal to the first, and a live run that pins the
    # snapshot the plain spelling committed (no third manifest)
    uri = "file://" + docs
    out4 = str(tmp_path / "out4")
    jobmod.main(["--input", uri, "--output", out4, "--as-of", s1] + argv, spark=spark)
    v4 = sorted(
        map(tuple, spark.read.parquet(f"{out4}/violations")
            .select("rule_id", "doc_id", "detail").collect())
    )
    assert v4 == v1
    out5 = str(tmp_path / "out5")
    jobmod.main(["--input", uri, "--output", out5] + argv, spark=spark)
    assert [r["snapshot_id"] for r in catalog.snapshots(docs)] == ids
    assert {r["snapshot"] for r in spark.read.parquet(f"{out5}/metrics").collect()} == {ids[1]}


# ----------------------------------------------------------- compaction


def test_compact_partitioned_table(spark, tmp_path):
    """Per-leaf bin-packing: content identical, partition dirs (and the
    partition column) preserved, file count collapsed."""
    from pyspark.sql import functions as F

    from gwv_spark import catalog

    ref = str(tmp_path / "violations")
    df = spark.range(4000).select(
        (F.col("id") % 3).cast("string").alias("rule_id"),
        F.col("id").alias("n"),
    )
    df.repartition(10).write.partitionBy("rule_id").parquet(ref)
    before = sorted((r["rule_id"], r["n"]) for r in spark.read.parquet(ref).collect())
    files0 = len([p for p in _leaf_dirs(ref) for p in p.glob("*.parquet")])
    assert files0 > 6

    res = catalog.compact(spark, ref, target_file_bytes=1 << 30)
    assert res["files_after"] < res["files_before"] == files0
    assert res["leaves_compacted"] == 3
    got = spark.read.parquet(ref)
    assert "rule_id" in got.columns  # partition layout survived
    assert sorted((r["rule_id"], r["n"]) for r in got.collect()) == before
    # a second compact is a no-op (already one file per leaf)
    res2 = catalog.compact(spark, ref, target_file_bytes=1 << 30)
    assert res2["leaves_compacted"] == 0
    assert res2["files_after"] == res["files_after"]


def test_compact_unpartitioned_and_snapshots(spark, tmp_path):
    from gwv_spark import catalog

    ref = str(tmp_path / "t")
    spark.range(1000).repartition(8).write.parquet(ref)
    sid_old = catalog.commit_snapshot(spark, ref)
    res = catalog.compact(spark, ref, target_file_bytes=1 << 30)
    assert res["files_after"] == 1
    assert spark.read.parquet(ref).count() == 1000
    # pre-compaction snapshot now points at vacuumed files: fails fast
    import pytest as _pytest

    with _pytest.raises(ValueError, match="deleted data file"):
        catalog.load_snapshot(spark, ref, sid_old)
    # the post-compaction snapshot loads
    assert catalog.load_snapshot(spark, ref, res["snapshot_id"]).count() == 1000


def test_compact_resumes_interrupted_swap(spark, tmp_path):
    """Crash between journal and swap completion: a re-run finishes the
    swap from the journal before doing anything else."""
    import json as _json
    from pathlib import Path

    from gwv_spark import catalog

    ref = str(tmp_path / "t")
    spark.range(500).repartition(4).write.parquet(ref)
    leaf = _leaf_dirs(ref)[0]
    files = sorted(p for p in leaf.glob("*.parquet"))
    # stage a rewrite by hand, journal it, and "crash" after deleting
    # only ONE old file
    tmp = leaf / "_compact_tmp"
    spark.read.parquet(str(leaf)).repartition(1).write.parquet(str(tmp))
    staged = sorted(tmp.glob("*.parquet"))
    (tmp / "_PLAN.json").write_text(
        _json.dumps({"old": [str(p) for p in files], "staged": [str(p) for p in staged]})
    )
    files[0].unlink()  # partial swap: table dir is now INCONSISTENT
    res = catalog.compact(spark, ref, target_file_bytes=1 << 30)
    assert spark.read.parquet(ref).count() == 500
    assert not tmp.exists()
    assert res["files_after"] == 1


def test_compact_finishes_swap_that_deleted_every_original(spark, tmp_path):
    """A swap that crashed after deleting ALL the old files of a leaf
    leaves it no visible data file; the rerun still finds the leaf by
    its journal and restores every row."""
    import json as _json

    ref = str(tmp_path / "t")
    spark.range(500).repartition(4).write.parquet(ref)
    leaf = _leaf_dirs(ref)[0]
    files = sorted(leaf.glob("*.parquet"))
    assert len(files) == 4
    tmp = leaf / "_compact_tmp"
    spark.read.parquet(str(leaf)).repartition(1).write.parquet(str(tmp))
    staged = sorted(tmp.glob("*.parquet"))
    (tmp / "_PLAN.json").write_text(
        _json.dumps({"old": [str(p) for p in files], "staged": [str(p) for p in staged]})
    )
    for f in files:
        f.unlink()
    catalog.compact(spark, ref, target_file_bytes=1 << 30)
    assert spark.read.parquet(ref).count() == 500
    assert not tmp.exists()


def test_table_at_location_with_space_pins_one_snapshot(spark, tmp_path):
    """inputFiles() returns percent-encoded URIs; the table branch of
    snapshot_id decodes them, so a table stored under a path with a
    space is fingerprinted, and the same id comes back each time."""
    loc = tmp_path / "sp ace" / "t"
    spark.range(100).repartition(2).write.option("path", str(loc)).saveAsTable("t_sp_ace")
    try:
        sid = catalog.snapshot_id(spark, "t_sp_ace")
        assert sid.startswith("tablefp:")
        assert catalog.snapshot_id(spark, "t_sp_ace") == sid
    finally:
        spark.sql("DROP TABLE IF EXISTS t_sp_ace")


def test_torn_compaction_journal_is_redone(spark, tmp_path, monkeypatch):
    """A compaction that dies half-way through writing its swap journal
    leaves no torn ``_PLAN.json``: the originals are intact, and a rerun
    stages again and finishes the swap (a torn journal would fail every
    rerun)."""
    ref = str(tmp_path / "t")
    spark.range(500).repartition(4).write.parquet(ref)
    with monkeypatch.context() as m:
        _torn_write(m)
        with pytest.raises(Crash, match="_PLAN.json"):
            catalog.compact(spark, ref, target_file_bytes=1 << 30)
    assert spark.read.parquet(ref).count() == 500
    res = catalog.compact(spark, ref, target_file_bytes=1 << 30)
    assert res["files_after"] == 1 and res["leaves_compacted"] == 1
    assert spark.read.parquet(ref).count() == 500
    assert not (Path(ref) / "_compact_tmp").exists()


def test_compact_refuses_bucketed_tables(spark, tmp_path):
    """A bucketed layout's files carry the bucket id in the NAME; a
    rewrite would break the bucket spec (and the zero-Exchange plans
    built on it) without any visible error — so compact refuses."""
    from gwv_spark import catalog

    ref = tmp_path / "bkt"
    ref.mkdir()
    # the exact naming shape bucketBy produces
    (ref / "part-00000-abc_00003.c000.snappy.parquet").write_bytes(b"x")
    (ref / "part-00001-abc_00001.c000.snappy.parquet").write_bytes(b"x")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bucketed"):
        catalog.compact(spark, str(ref))


def test_compact_mixed_table_left_untouched(spark, tmp_path):
    """ADVICE r4 regression: the bucketed-leaf refusal must fire BEFORE
    any swap.  A mixed table (compactable plain leaves + one bucketed
    leaf) previously raised after already swapping earlier leaves,
    leaving prior snapshot manifests pointing at deleted files; now the
    pre-scan refuses with every leaf untouched."""
    from gwv_spark import catalog

    ref = tmp_path / "mix"
    # plain leaf that WOULD be compacted (sorts before the bucketed one)
    spark.range(400).repartition(4).write.parquet(str(ref / "p=a"))
    before = sorted(p.name for p in (ref / "p=a").glob("*.parquet"))
    assert len(before) == 4
    bkt = ref / "p=z"
    bkt.mkdir()
    (bkt / "part-00000-abc_00003.c000.snappy.parquet").write_bytes(b"x")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bucketed"):
        catalog.compact(spark, str(ref), target_file_bytes=1 << 30)
    after = sorted(p.name for p in (ref / "p=a").glob("*.parquet"))
    assert after == before, "plain leaf must be untouched after refusal"


def test_stale_stage_and_manifest_visibility(spark, tmp_path):
    """Review regressions: (a) a crashed-before-journal _compact_tmp is
    discarded on the next compact even when the leaf no longer
    qualifies; (b) staged files never leak into snapshot manifests or
    the content fingerprint."""
    from gwv_spark import catalog

    ref = str(tmp_path / "t")
    spark.range(300).coalesce(1).write.parquet(ref)
    fp_clean = catalog.snapshot_id(spark, ref)
    leaf = _leaf_dirs(ref)[0]
    tmp = leaf / "_compact_tmp"
    # crash mid-staging: staged files, no _PLAN.json
    spark.read.parquet(str(leaf)).repartition(2).write.parquet(str(tmp))
    # staged files are INVISIBLE to fingerprint + manifest
    assert catalog.snapshot_id(spark, ref) == fp_clean
    sid = catalog.commit_snapshot(spark, ref)
    assert all("_compact_tmp" not in f for f in catalog.snapshots(ref)[-1]["files"])
    assert catalog.load_snapshot(spark, ref, sid).count() == 300
    # single-file leaf does not qualify for compaction — the stale
    # stage must STILL be cleaned up
    res = catalog.compact(spark, ref, target_file_bytes=1 << 30)
    assert not tmp.exists()
    assert res["leaves_compacted"] == 0
    assert spark.read.parquet(ref).count() == 300
