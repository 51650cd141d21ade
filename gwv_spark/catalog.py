"""Iceberg-or-parquet table abstraction (SURVEY.md §7 step 1).

The engine targets Iceberg tables (north rule); this sandbox has no
Iceberg runtime jar, so the interface detects Iceberg support at
runtime and otherwise provides a parquet surrogate with the same
contract:

- ``load(spark, ref)`` — ``ref`` is an Iceberg table name (contains no
  '/') or a parquet path;
- ``save(df, ref)`` — writeTo(...).createOrReplace() on Iceberg, else
  parquet overwrite;
- ``snapshot_id(spark, ref)`` — Iceberg: the current snapshot id (the
  resume/lineage key, monotone per commit); parquet surrogate: a
  deterministic content fingerprint over (path, size, mtime) of the
  data files — any rewrite changes it, so the metrics rows --resume
  reads, keyed by it, can never mix state across corpus versions;
- ``commit_snapshot`` / ``snapshots`` / ``manifest_files`` /
  ``load_snapshot`` — a manifest log under ``<table>/_snapshots``
  (underscore-prefixed: invisible to Spark's file index) recording each
  snapshot id's exact data-file list, so any pinned snapshot can be
  re-read AS OF its commit even after later appends — Iceberg time
  travel on the parquet surrogate.
  Manifest files are named by the snapshot id, so committing the same
  state twice is a no-op (idempotent, like a --resume rerun).
"""

from __future__ import annotations

import hashlib
import json
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


def is_table_ref(ref: str) -> bool:
    """Iceberg table name vs filesystem path (job.py dispatch rule)."""
    return not ref.endswith(".parquet") and "/" not in ref


def has_iceberg(spark: SparkSession) -> bool:
    try:
        ext = spark.conf.get("spark.sql.extensions", "") or ""
        return "IcebergSparkSessionExtensions" in ext
    except Exception:
        return False


def load(spark: SparkSession, ref: str) -> DataFrame:
    if is_table_ref(ref):
        return spark.table(ref)
    return spark.read.parquet(ref)


def save(df: DataFrame, ref: str) -> None:
    if is_table_ref(ref):
        df.writeTo(ref).createOrReplace()
    else:
        df.write.mode("overwrite").parquet(ref)


def snapshot_id(spark: SparkSession, ref: str) -> str:
    """The lineage key a run is pinned to (job.py: its metrics rows and
    --resume are keyed by it)."""
    if is_table_ref(ref) and has_iceberg(spark):
        row = spark.sql(
            f"SELECT snapshot_id FROM {ref}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1"
        ).first()
        return str(row["snapshot_id"]) if row else "empty"
    if is_table_ref(ref):
        # No snapshot metadata: derive a content fingerprint from the
        # table's data files so two versions of the same table can never
        # share a resume key (a constant 'table:<ref>' key would
        # let --resume mix state across corpus versions).
        try:
            files = sorted(spark.table(ref).inputFiles())
            # file size + mtime from the FileSystem status: content-
            # sensitive (an in-place rewrite reusing the same file names
            # changes both) and metadata-only — no count() job per call
            jvm = spark.sparkContext._jvm
            hconf = spark.sparkContext._jsc.hadoopConfiguration()
            h = hashlib.sha256()
            for f in files:
                p = jvm.org.apache.hadoop.fs.Path(f)
                st = p.getFileSystem(hconf).getFileStatus(p)
                h.update(
                    f"{f}\x1f{st.getLen()}\x1f{st.getModificationTime()}\n".encode()
                )
            return "tablefp:" + h.hexdigest()[:16]
        except Exception:
            raise ValueError(
                f"cannot derive a snapshot/fingerprint for table {ref!r}; "
                "refusing a resume key that could mix corpus versions"
            )
    return fingerprint_files(_visible_parquet_files(ref))


def fingerprint_files(files) -> str:
    """Content fingerprint of an explicit file list — the same hash
    :func:`snapshot_id` computes over a directory's visible files, so a
    caller can verify that a SUBSET of today's table is still byte-wise
    the table a past manifest recorded (incremental.py's append-only
    guard: hash the prior manifest's files as they exist NOW and compare
    to the prior snapshot id — any in-place rewrite shows up)."""
    h = hashlib.sha256()
    for f in sorted(Path(p) for p in files):
        st = f.stat()
        h.update(f"{f}\x1f{st.st_size}\x1f{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


# ------------------------------------------------------- snapshot manifests


def _visible_parquet_files(ref: str) -> list[Path]:
    """Data files as Spark's file index would see them: underscore/dot
    path components (``_snapshots``, ``_compact_tmp`` staging,
    ``_centroids``, checkpoints) are invisible.  Both the snapshot
    manifests and the content fingerprint MUST apply this rule — a
    crashed compaction's staged files would otherwise leak into
    manifests (double-counting the leaf on load_snapshot) and churn the
    fingerprint that keys the metrics rows --resume reads."""
    base = Path(ref)
    if not base.is_dir():
        return [base]
    return sorted(
        f
        for f in base.rglob("*.parquet")
        if not any(part.startswith(("_", ".")) for part in f.relative_to(base).parts)
    )


def _table_files(ref: str) -> list[str]:
    return [str(f) for f in _visible_parquet_files(ref)]


def _manifest_dir(ref: str) -> Path:
    """Manifests live under ``<table>/_snapshots`` for a directory table;
    a single-file table keeps them beside it, namespaced by file name
    (``<parent>/_snapshots/<name>``) so co-located tables never mix."""
    base = Path(ref)
    if base.is_dir():
        return base / "_snapshots"
    return base.parent / "_snapshots" / base.name


def commit_snapshot(spark: SparkSession, ref: str) -> str:
    """Record the table's current data files as a snapshot manifest and
    return the snapshot id.  Parquet surrogate only — on a real Iceberg
    table the catalog's own snapshot log is authoritative and this is a
    pass-through to :func:`snapshot_id`.

    Idempotent: the manifest file is named by the content fingerprint,
    so re-committing an unchanged table rewrites the same manifest with
    the same content."""
    if is_table_ref(ref):
        return snapshot_id(spark, ref)
    sid = snapshot_id(spark, ref)
    mdir = _manifest_dir(ref)
    mdir.mkdir(parents=True, exist_ok=True)
    path = mdir / f"{sid}.json"
    if not path.exists():
        path.write_text(
            json.dumps(
                {
                    "snapshot_id": sid,
                    "committed_at": time.time(),
                    "files": _table_files(ref),
                }
            )
        )
    return sid


def snapshots(ref: str) -> list[dict]:
    """All recorded snapshot manifests for a parquet table, oldest
    first."""
    mdir = _manifest_dir(ref)
    if not mdir.is_dir():
        return []
    recs = [json.loads(p.read_text()) for p in mdir.glob("*.json")]
    return sorted(recs, key=lambda r: r["committed_at"])


def manifest_files(ref: str, sid: str) -> list[str]:
    """The data files (plain paths) committed snapshot ``sid`` of a
    parquet table recorded; ValueError naming the known snapshots if it
    has no manifest."""
    path = _manifest_dir(ref) / f"{sid}.json"
    if not path.exists():
        known = [r["snapshot_id"] for r in snapshots(ref)]
        raise ValueError(f"no snapshot manifest {sid!r} for {ref!r}; known: {known}")
    return json.loads(path.read_text())["files"]


def load_snapshot(spark: SparkSession, ref: str, sid: str) -> DataFrame:
    """Read a parquet table AS OF a committed snapshot: exactly the
    manifest's file list, regardless of files appended since.  Fails
    fast if a manifest file has been deleted (the same contract as
    Iceberg time travel after a vacuum)."""
    files = manifest_files(ref, sid)
    missing = [f for f in files if not Path(f).exists()]
    if missing:
        raise ValueError(
            f"snapshot {sid} references {len(missing)} deleted data file(s), "
            f"e.g. {missing[0]}"
        )
    return spark.read.parquet(*files)


def _leaf_dirs(ref: str) -> list[Path]:
    """Directories holding data files directly (a partitioned table's
    partition dirs; the root for an unpartitioned one).  Underscore/dot
    paths (``_snapshots``, ``_stats``, checkpoints) are invisible, the
    same rule Spark's file index applies."""
    base = Path(ref)
    leaves = set()
    for f in base.rglob("*.parquet"):
        if any(part.startswith(("_", ".")) for part in f.relative_to(base).parts):
            continue
        leaves.add(f.parent)
    return sorted(leaves)


def _finish_swap(leaf: Path) -> None:
    """Complete a compaction swap from its journal — idempotent, called
    both on the happy path and when re-entering after a crash."""
    tmp = leaf / "_compact_tmp"
    plan_path = tmp / "_PLAN.json"
    plan = json.loads(plan_path.read_text())
    for old in plan["old"]:
        p = Path(old)
        if p.exists():
            p.unlink()
    for staged in plan["staged"]:
        s = Path(staged)
        if s.exists():
            s.rename(leaf / f"compacted-{s.name}")
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)


def compact(
    spark: SparkSession,
    ref: str,
    target_file_bytes: int = 128 << 20,
    min_files: int = 2,
) -> dict:
    """Bin-pack a parquet table's small files into ~target-sized ones —
    the ``rewrite_data_files`` maintenance action streaming sinks need:
    per-epoch dynamic-overwrite commits leave one small file per
    (epoch, partition), and a long-running stream turns every scan into
    a file-listing problem.  On a real Iceberg deployment the catalog's
    rewrite action replaces this; the surrogate keeps the same contract
    at the directory level.

    Each partition leaf is compacted INDEPENDENTLY (the partition
    layout — and therefore dynamic partition overwrite of future epochs
    — is preserved; files inside a leaf carry no partition columns
    before or after).  Per leaf: stage rewritten files under
    ``_compact_tmp`` (invisible to readers), verify row count, journal
    the swap, then delete-old/move-staged.  The swap itself is NOT
    atomic (Iceberg's snapshot commit is; a directory rename dance
    cannot be) — but it is crash-RECOVERABLE: the journal is written
    only after staging completes, and a re-run finishes any interrupted
    swap before doing new work.

    Compact OUTPUT tables (violations, metrics, sketch stores).
    Compacting an input corpus changes its content fingerprint, so a
    --resume keyed on it will — correctly — recompute.  Prior
    snapshot manifests referencing the replaced files fail fast on
    ``load_snapshot``, exactly like Iceberg time travel after a vacuum;
    a fresh snapshot is committed at the end."""
    import math
    import re

    # tables written with bucketBy encode the bucket id in the file
    # name (`..._00003.c000...`); rewriting them here would silently
    # break the bucket spec — and with it the zero-Exchange join plans
    # that are the point of bucketing.  Refuse loudly, and refuse
    # BEFORE any swap: the scan below runs over every leaf up front so
    # a mixed table (bucketed leaf after plain leaves) is left fully
    # untouched rather than half-compacted with prior snapshot
    # manifests pointing at deleted files.
    bucket_marker = re.compile(r"_\d{5}\.c\d{3}")
    leaves = _leaf_dirs(ref)
    for leaf in leaves:
        for p in leaf.glob("*.parquet"):
            if not p.name.startswith(("_", ".")) and bucket_marker.search(p.name):
                raise ValueError(
                    f"compact: {leaf} holds bucketed data files (bucket-id "
                    f"suffix in name); compacting would break the bucket "
                    f"spec — rewrite it through its producer's bucketBy "
                    f"write instead"
                )
    n_before = n_after = n_leaves = 0
    import shutil

    for leaf in leaves:
        tmp = leaf / "_compact_tmp"
        if (tmp / "_PLAN.json").exists():
            _finish_swap(leaf)
        elif tmp.exists():
            # staged-but-unjournaled leftovers from a crash mid-staging:
            # the swap never started, so the originals are intact —
            # discard the stage (a later `continue` must not leave it)
            shutil.rmtree(tmp, ignore_errors=True)
        files = sorted(p for p in leaf.glob("*.parquet") if not p.name.startswith(("_", ".")))
        n_before += len(files)
        if len(files) < min_files:
            n_after += len(files)
            continue
        total = sum(p.stat().st_size for p in files)
        n_out = max(1, math.ceil(total / target_file_bytes))
        if n_out >= len(files):
            n_after += len(files)
            continue
        df = spark.read.parquet(*[str(p) for p in files])
        expected = df.count()
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
        df.repartition(n_out).write.mode("overwrite").parquet(str(tmp))
        staged = sorted(tmp.glob("*.parquet"))
        got = spark.read.parquet(str(tmp)).count()
        if got != expected:
            shutil.rmtree(tmp, ignore_errors=True)
            raise RuntimeError(
                f"compact: staged row count {got} != {expected} in {leaf}"
            )
        (tmp / "_PLAN.json").write_text(
            json.dumps(
                {"old": [str(p) for p in files], "staged": [str(p) for p in staged]}
            )
        )
        _finish_swap(leaf)
        n_after += len(staged)
        n_leaves += 1
    sid = commit_snapshot(spark, ref)
    return {
        "files_before": n_before,
        "files_after": n_after,
        "leaves_compacted": n_leaves,
        "snapshot_id": sid,
    }
