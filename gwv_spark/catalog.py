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
  resume/lineage key, monotone per commit); otherwise a deterministic
  content fingerprint (:func:`fingerprint_files`) over the (qualified
  path, length, mtime in ms) of the data files — any rewrite changes
  it, so the metrics rows --resume reads, keyed by it, can never mix
  state across corpus versions, and every spelling of one path (plain,
  ``file://``) gives one id;
- ``commit_snapshot`` / ``snapshots`` / ``manifest_files`` /
  ``load_snapshot`` — a manifest log under ``<table>/_snapshots``
  (underscore-prefixed: invisible to Spark's file index) recording each
  snapshot id's exact data-file list, so any pinned snapshot can be
  re-read AS OF its commit even after later appends — Iceberg time
  travel on the parquet surrogate.
  Manifest files are named by the snapshot id, so committing the same
  state twice is a no-op (idempotent, like a --resume rerun).

Storage goes through gwv_spark.fs, so a table may live on any file
system Spark reads.  Manifests hold qualified paths; they and the
compaction journal are renamed into place whole, never left torn.
"""

from __future__ import annotations

import hashlib
import time

from pyspark.sql import DataFrame, SparkSession

from gwv_spark import fs


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
        # No snapshot metadata: fingerprint the table's data files so two
        # versions of the same table can never share a resume key (a
        # constant 'table:<ref>' key would let --resume mix state across
        # corpus versions).
        try:
            uris = spark.table(ref).inputFiles()
            return "tablefp:" + fingerprint_files(map(fs.from_uri, uris))
        except Exception as e:
            raise ValueError(
                f"cannot derive a snapshot/fingerprint for table {ref!r}; "
                "refusing a resume key that could mix corpus versions"
            ) from e
    return fingerprint_files(_visible_parquet_files(ref))


def fingerprint_files(files) -> str:
    """Hash of each file's (qualified path, length, mtime in ms), for
    paths or fs.Status entries: metadata only, yet an in-place rewrite
    changes it.  The one hash :func:`snapshot_id` takes, so a caller can
    check that a past manifest's files are unchanged (incremental.py)."""
    stats = []
    for f in files:
        st = f if isinstance(f, fs.Status) else fs.status(f)
        if st is None:
            raise FileNotFoundError(f)
        stats.append(st)
    h = hashlib.sha256()
    for st in sorted(stats):
        h.update(f"{st.path}\x1f{st.length}\x1f{st.mtime}\n".encode())
    return h.hexdigest()[:16]


# ------------------------------------------------------- snapshot manifests


def _visible_parquet_files(ref: str) -> list[fs.Status]:
    """Data files as Spark's file index sees them.  Manifests and the
    fingerprint both use this list, so a crashed compaction's hidden
    staged files never leak into either."""
    if not fs.exists(ref):
        raise FileNotFoundError(ref)
    return [st for st in fs.files(ref) if st.path.endswith(".parquet")]


def _manifest_dir(ref: str) -> str:
    """Manifests live under ``<table>/_snapshots`` for a directory table;
    a single-file table keeps them beside it, namespaced by file name
    (``<parent>/_snapshots/<name>``) so co-located tables never mix."""
    st = fs.status(ref)
    if st is not None and st.is_dir:
        return f"{st.path}/_snapshots"
    parent, name = (st.path if st else ref.rstrip("/")).rsplit("/", 1)
    return f"{parent}/_snapshots/{name}"


def commit_snapshot(spark: SparkSession, ref: str) -> str:
    """Record the table's current data files as a snapshot manifest and
    return the snapshot id.  Parquet surrogate only — on a table ref the
    catalog's own snapshot log is authoritative and this is a
    pass-through to :func:`snapshot_id`.

    Idempotent: the manifest file is named by the content fingerprint,
    so re-committing an unchanged table finds it already written."""
    if is_table_ref(ref):
        return snapshot_id(spark, ref)
    files = _visible_parquet_files(ref)
    sid = fingerprint_files(files)
    path = f"{_manifest_dir(ref)}/{sid}.json"
    if not fs.exists(path):
        fs.write_json(path, {"snapshot_id": sid, "committed_at": time.time(),
                             "files": [f.path for f in files]})
    return sid


def snapshots(ref: str) -> list[dict]:
    """All recorded snapshot manifests for a parquet table, oldest
    first."""
    recs = [fs.read_json(c.path) for c in fs.children(_manifest_dir(ref)) if c.name.endswith(".json")]
    return sorted(recs, key=lambda r: r["committed_at"])


def manifest_files(ref: str, sid: str) -> list[str]:
    """The data files (qualified paths) committed snapshot ``sid`` of a
    parquet table recorded; ValueError naming the known snapshots if it
    has no manifest."""
    path = f"{_manifest_dir(ref)}/{sid}.json"
    if not fs.exists(path):
        known = [r["snapshot_id"] for r in snapshots(ref)]
        raise ValueError(f"no snapshot manifest {sid!r} for {ref!r}; known: {known}")
    return fs.read_json(path)["files"]


def load_snapshot(spark: SparkSession, ref: str, sid: str) -> DataFrame:
    """Read a parquet table AS OF a committed snapshot: exactly the
    manifest's file list, regardless of files appended since.  Fails
    fast if a manifest file has been deleted (the same contract as
    Iceberg time travel after a vacuum)."""
    files = manifest_files(ref, sid)
    missing = [f for f in files if not fs.exists(f)]
    if missing:
        raise ValueError(
            f"snapshot {sid} references {len(missing)} deleted data file(s), "
            f"e.g. {missing[0]}"
        )
    return spark.read.parquet(*files)


def _leaf_files(leaf: str) -> list[fs.Status]:
    return [c for c in fs.children(leaf) if not c.is_dir and c.name.endswith(".parquet")]


def _dirs(root: str) -> list[str]:
    """``root`` and every visible directory under it."""
    st = fs.status(root)
    todo = [st.path] if st is not None and st.is_dir else []
    out = []
    while todo:
        d = todo.pop()
        out.append(d)
        todo.extend(c.path for c in fs.children(d) if c.is_dir)
    return out


def _finish_swap(leaf: str) -> None:
    """Complete a compaction swap from its journal — idempotent, called
    both on the happy path and when re-entering after a crash."""
    tmp = f"{leaf}/_compact_tmp"
    plan = fs.read_json(f"{tmp}/_PLAN.json")
    for old in plan["old"]:
        fs.delete(old)
    for staged in plan["staged"]:
        if fs.exists(staged):
            fs.rename(staged, f"{leaf}/compacted-{staged.rsplit('/', 1)[-1]}")
    fs.delete(tmp)


def compact(
    spark: SparkSession,
    ref: str,
    target_file_bytes: int = 128 << 20,
    min_files: int = 2,
) -> dict:
    """Bin-pack a parquet table's small files into ~target-sized ones —
    the ``rewrite_data_files`` maintenance action streaming sinks need:
    per-epoch commits leave one small file per (epoch, partition), and
    a long-running stream turns every scan into a file-listing problem.
    On Iceberg the catalog's rewrite action replaces this.

    Each partition leaf is compacted INDEPENDENTLY, so the partition
    layout (and dynamic overwrite of future epochs) is preserved; files
    inside a leaf carry no partition columns before or after.  Per
    leaf: stage rewritten files under ``_compact_tmp`` (invisible to
    readers), verify the row count, journal the swap, then
    delete-old/move-staged.  The swap is not atomic (a rename dance
    cannot be, Iceberg's snapshot commit is), but it is
    crash-RECOVERABLE: the journal is written whole only after staging
    completes, and a re-run finishes any interrupted swap first.

    Compact OUTPUT tables (violations, metrics, sketch stores).  On an
    input corpus the new fingerprint makes a --resume recompute, and
    prior manifests referencing replaced files fail fast on
    ``load_snapshot`` (Iceberg time travel after a vacuum); a fresh
    snapshot is committed at the end."""
    import math
    import re

    # bucketBy writes encode the bucket id in the file name
    # (`..._00003.c000...`); rewriting them would silently break the
    # bucket spec and its zero-Exchange join plans.  Refuse BEFORE any
    # swap, over every data file up front, so a mixed table is left
    # untouched rather than half-compacted.
    bucket_marker = re.compile(r"_\d{5}\.c\d{3}")
    for st in _visible_parquet_files(ref):
        if bucket_marker.search(st.name):
            raise ValueError(
                f"compact: {st.path.rsplit('/', 1)[0]} holds bucketed data files "
                f"(bucket-id suffix in name); compacting would break the "
                f"bucket spec — rewrite it through its producer's bucketBy "
                f"write instead"
            )
    # first finish every journaled swap a crash interrupted.  Its leaf
    # is found by its journal, not by its data files: a swap that
    # crashed after deleting all the old files of a leaf left no visible
    # data file there, only the staged ones under _compact_tmp
    for leaf in _dirs(ref):
        if fs.exists(f"{leaf}/_compact_tmp/_PLAN.json"):
            _finish_swap(leaf)
    n_before = n_after = n_leaves = 0
    # the leaves: directories holding data files directly (a partitioned
    # table's partition dirs; the root for an unpartitioned one)
    for leaf in sorted({st.path.rsplit("/", 1)[0] for st in _visible_parquet_files(ref)}):
        tmp = f"{leaf}/_compact_tmp"
        # staged-but-unjournaled leftovers from a crash mid-staging: the
        # swap never started, so the originals are intact — discard the
        # stage (a later `continue` must not leave it)
        fs.delete(tmp)
        files = _leaf_files(leaf)
        n_before += len(files)
        n_out = max(1, math.ceil(sum(st.length for st in files) / target_file_bytes))
        if len(files) < min_files or n_out >= len(files):
            n_after += len(files)
            continue
        df = spark.read.parquet(*[st.path for st in files])
        expected = df.count()
        df.repartition(n_out).write.mode("overwrite").parquet(tmp)
        staged = [st.path for st in _leaf_files(tmp)]
        got = spark.read.parquet(tmp).count()
        if got != expected:
            fs.delete(tmp)
            raise RuntimeError(
                f"compact: staged row count {got} != {expected} in {leaf}"
            )
        fs.write_json(f"{tmp}/_PLAN.json", {"old": [st.path for st in files], "staged": staged})
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
