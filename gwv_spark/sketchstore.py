"""Incremental column-stats sketch store: per-file mergeable sketches.

The north rule requires column-level stats (null rate, distinct count
via HyperLogLog, min/max/quantiles via t-digest) over a 10^12-document
Iceberg table that grows by snapshot appends.  Recomputing full-table
stats per append is a full scan of everything ever written; this module
instead maintains a STORE of per-file sketch rows:

  - one row per (file, column): exact n / n_null / vmin / vmax, an HLL
    register array (hll.py), a t-digest centroid list (sketch.py) and a
    Misra-Gries heavy-hitter summary (:func:`mg_prune`) — each a few KB
    regardless of file size;
  - ``update_store`` diffs the table's current file list against the
    store and sketches ONLY the new files (the Iceberg-manifest shape:
    appended snapshots add data files, existing files are immutable);
  - ``stats_from_store`` folds the KB-sized sketch rows into per-column
    stats — counts/min/max/HLL fold EXACTLY (sums, maxes, register
    maxes are order-independent), so incremental results are
    bit-identical to a one-shot recompute; quantiles carry the t-digest
    rank-error bound.

Scale shape: stage 1 (sketching a batch of new files) is a zero-shuffle
``mapInPandas`` over the file scan — one output row per (file-split,
column), hashing done JVM-side by ``xxhash64`` inside whole-stage
codegen.  The store itself grows with FILE count, not row count: 10^12
docs in 10^6 files x 8 columns is ~8M KB-sized rows — a trivially small
table to fold.  Store writes are idempotent under retry: rows are
partitioned by a batch_id derived from the new-file list and written
with dynamic partition overwrite, the same argument as the streaming
epochs (streaming.py).
"""

from __future__ import annotations

import hashlib
from typing import Iterable, Iterator, Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gwv_spark import hll
from gwv_spark.session import local_frame
from gwv_spark.sketch import Digest

SKETCH_SCHEMA = (
    "file string, column string, n bigint, n_null bigint, "
    "vmin double, vmax double, hll binary, "
    "td_means array<double>, td_weights array<double>, "
    "mg_items array<string>, mg_weights array<bigint>"
)

STATS_SCHEMA = (
    "column string, n bigint, n_null bigint, null_rate double, "
    "distinct_est double, vmin double, vmax double, "
    "p25 double, p50 double, p75 double, n_sketch_rows bigint, "
    "top_items array<string>, top_weights array<bigint>, "
    "top_error_bound double"
)

_QS = (0.25, 0.50, 0.75)


def mg_prune(acc, keep: int):
    """Misra-Gries prune to ≤ keep counters: subtract the (keep+1)-th
    largest weight from everything, drop non-positive.  Vectorized."""
    if len(acc) <= keep:
        return acc
    delta = acc.nlargest(keep + 1).iloc[-1]
    acc = acc - delta
    return acc[acc > 0]


def _norm_file(path: str) -> str:
    """Normalize 'file:///x', 'file:/x', '/x' to one spelling so the
    store's file column and DataFrame.inputFiles() diff cleanly."""
    if path.startswith("file:"):
        path = path[5:]
        while path.startswith("//"):
            path = path[1:]
    return path


class _ColState:
    __slots__ = ("n", "n_null", "reg", "digest", "mg")

    def __init__(self, p: int, numeric: bool, delta: float):
        import pandas as pd

        self.n = 0
        self.n_null = 0
        self.reg = hll.empty_registers(p)
        self.digest = Digest(delta) if numeric else None
        self.mg = pd.Series(dtype="int64")


def _numeric_columns(df: DataFrame, columns: Sequence[str]) -> set[str]:
    num = set()
    for f in df.schema.fields:
        if f.name in columns and isinstance(f.dataType, T.NumericType):
            num.add(f.name)
    return num


MG_VALUE_WIDTH = 64  # heavy-hitter keys are truncated to this many chars


def column_sketches(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    p: int = hll.DEFAULT_P,
    delta: float = 500.0,
    by_file: bool = False,
    mg_k: int = 32,
) -> DataFrame:
    """One mergeable sketch row per (file, column) — a single pass over
    the scan, zero shuffle (plan-guarded in tests/test_sketchstore.py).

    JVM side emits, per profiled column, ``xxhash64(col)`` + an is-null
    flag (+ a double cast for numerics, + a width-capped string for the
    heavy-hitter counters); the Arrow batches reaching Python hold only
    those narrow derived columns, and every update is a whole-array
    numpy/pandas op (hll.accumulate / Digest.add_values / value_counts).

    Heavy hitters: a Misra-Gries summary of ``mg_k`` counters per
    (file, column), merged as in Agarwal et al., "Mergeable
    Summaries" (PODS 2012): sum the counters, prune once.  Keys are
    truncated to MG_VALUE_WIDTH chars JVM-side to bound the Arrow
    transfer — dominant-value reporting is a categorical question, and
    the truncation is applied identically everywhere so truncated keys
    merge consistently."""
    cols = list(columns) if columns is not None else [
        f.name for f in df.schema.fields
        if isinstance(f.dataType, (T.NumericType, T.StringType))
    ]
    numeric = _numeric_columns(df, cols)
    proj = [
        (F.input_file_name() if by_file else F.lit("")).alias("_file")
    ]
    for i, c in enumerate(cols):
        proj.append(F.xxhash64(F.col(c)).alias(f"h{i}"))
        proj.append(F.isnull(F.col(c)).cast("tinyint").alias(f"z{i}"))
        proj.append(
            F.substring(F.col(c).cast("string"), 1, MG_VALUE_WIDTH).alias(f"s{i}")
        )
        if c in numeric:
            proj.append(F.col(c).cast("double").alias(f"v{i}"))
    src = df.select(*proj)
    col_list = list(cols)
    num_set = set(numeric)

    def gen(batches: Iterable) -> Iterator:
        import pandas as pd

        states: dict[tuple[str, str], _ColState] = {}
        for pdf in batches:
            files = pdf["_file"].to_numpy()
            # a task usually sees one file split; group generally anyway
            uniq = pd.unique(pdf["_file"])
            for fname in uniq:
                mask = files == fname
                fkey = _norm_file(str(fname))
                for i, c in enumerate(col_list):
                    st = states.get((fkey, c))
                    if st is None:
                        st = states[(fkey, c)] = _ColState(
                            p, c in num_set, delta
                        )
                    z = pdf[f"z{i}"].to_numpy(dtype="int8")[mask]
                    h = pdf[f"h{i}"].to_numpy(dtype="int64")[mask]
                    nonnull = z == 0
                    st.n += int(z.size)
                    st.n_null += int(z.sum())
                    hll.accumulate(st.reg, h[nonnull])
                    vc = pdf[f"s{i}"][mask].value_counts()
                    if len(vc):
                        st.mg = st.mg.add(vc, fill_value=0).astype("int64")
                        if len(st.mg) > 8 * mg_k:
                            st.mg = mg_prune(st.mg, 4 * mg_k)
                    if st.digest is not None:
                        v = pdf[f"v{i}"].to_numpy(
                            dtype="float64", na_value=np.nan
                        )[mask]
                        st.digest.add_values(v[nonnull])
        rows = []
        for (fkey, c), st in states.items():
            row = st.digest.to_row() if st.digest is not None else None
            mg = mg_prune(st.mg, mg_k)
            order = sorted(mg.items(), key=lambda kv: (-kv[1], kv[0]))
            rows.append(
                {
                    "file": fkey,
                    "column": c,
                    "n": st.n,
                    "n_null": st.n_null,
                    "vmin": row["vmin"] if row else None,
                    "vmax": row["vmax"] if row else None,
                    "hll": hll.to_bytes(st.reg),
                    "td_means": row["means"] if row else None,
                    "td_weights": row["weights"] if row else None,
                    "mg_items": [str(i) for i, _ in order],
                    "mg_weights": [int(w) for _, w in order],
                }
            )
        if rows:
            yield pd.DataFrame(rows)

    return src.mapInPandas(gen, SKETCH_SCHEMA)


def _merge_mg_rows(items_col, weights_col, mg_k: int):
    """Sum MG counters across sketch rows, prune to mg_k, return the
    deterministic (-weight, item) ordering.  Order-independent: weights
    sum per item before the single prune."""
    import pandas as pd

    acc = pd.Series(dtype="int64")
    for items, weights in zip(items_col, weights_col):
        if items is not None and len(items) > 0:
            s = pd.Series(
                np.asarray(weights, dtype="int64"), index=list(items)
            )
            acc = acc.add(s, fill_value=0).astype("int64")
    acc = mg_prune(acc, mg_k)
    return sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))


def fold_file_sketches(
    sketches: DataFrame, delta: float = 500.0, mg_k: int = 32
) -> DataFrame:
    """Fold per-SPLIT sketch rows into exactly one row per
    (file, column).

    ``column_sketches`` emits a row per file-SPLIT (``input_file_name``
    rides on rows; a file larger than ``spark.sql.files.maxPartitionBytes``
    lands in several tasks).  The store contract, however, is one row
    per (file, column): ``stats_from_store`` dedups on that key to make
    racing-writer duplicates exact, and that dedup is only sound when
    same-key rows are identical — split rows are NOT (each covers a
    slice of the file), so they must be merged before the write or
    every multi-split file is undercounted to a single split's share.

    Counts sum, min/max fold, HLL registers element-wise max, t-digests
    merge by centroid ingestion.  Rows are sorted deterministically
    before merging so the folded row is a pure function of the row
    multiset (the property the racing-writer dedup relies on)."""

    def fold(pdf):
        import pandas as pd

        if len(pdf) == 1:
            return pdf
        # the scalar columns can tie across splits (evenly-split data);
        # t-digest merge is ingestion-order-dependent, so the sort key
        # must extend to full sketch content or two racing writers could
        # fold byte-different rows and defeat the read-time dedup
        def _row_key(col_a, col_b):
            return [
                repr((list(a) if a is not None else None,
                      list(b) if b is not None else None))
                for a, b in zip(col_a, col_b)
            ]

        pdf = pdf.assign(
            _hkey=pdf["hll"].map(lambda b: bytes(b).hex()),
            _tkey=_row_key(pdf["td_means"], pdf["td_weights"]),
            _mkey=_row_key(pdf["mg_items"], pdf["mg_weights"]),
        ).sort_values(
            ["n", "n_null", "vmin", "vmax", "_hkey", "_tkey", "_mkey"],
            na_position="last",
            kind="mergesort",
        ).drop(columns=["_hkey", "_tkey", "_mkey"])
        reg = None
        d = Digest(delta)
        has_digest = False
        for raw in pdf["hll"]:
            r = hll.from_bytes(raw)
            reg = r if reg is None else hll.merge(reg, r)
        for means, weights, vmin, vmax, cnt in zip(
            pdf["td_means"], pdf["td_weights"], pdf["vmin"], pdf["vmax"],
            pdf["n"] - pdf["n_null"],
        ):
            if means is not None and len(means) > 0:
                has_digest = True
                d.add_digest(
                    np.asarray(means), np.asarray(weights),
                    float(vmin), float(vmax), int(cnt),
                )
        row = d.to_row() if has_digest else None
        order = _merge_mg_rows(pdf["mg_items"], pdf["mg_weights"], mg_k)
        return pd.DataFrame(
            [
                {
                    "file": pdf["file"].iloc[0],
                    "column": pdf["column"].iloc[0],
                    "n": int(pdf["n"].sum()),
                    "n_null": int(pdf["n_null"].sum()),
                    "vmin": row["vmin"] if row else None,
                    "vmax": row["vmax"] if row else None,
                    "hll": hll.to_bytes(reg),
                    "td_means": row["means"] if row else None,
                    "td_weights": row["weights"] if row else None,
                    "mg_items": [str(i) for i, _ in order],
                    "mg_weights": [int(w) for _, w in order],
                }
            ]
        )

    return sketches.groupBy("file", "column").applyInPandas(fold, SKETCH_SCHEMA)


def merged_column_stats(
    sketches: DataFrame, delta: float = 500.0, mg_k: int = 32
) -> DataFrame:
    """Fold sketch rows into one stats row per column.  The shuffle
    moves KB-sized sketch rows grouped by column name — independent of
    data size; a single hot column costs its merger <= n_sketch_rows
    small rows, never raw data.

    ``top_items`` caveat: heavy-hitter keys were truncated to
    MG_VALUE_WIDTH (=64) chars at sketch time, so distinct values
    sharing a 64-char prefix merge into ONE counter — a top_weights
    entry is a lower bound for the PREFIX's total count, not for any
    single full value's count (long URLs sharing a domain prefix are
    the canonical case).  Keys of exactly MG_VALUE_WIDTH chars may be
    truncations; treat them as prefix buckets."""

    def fold(pdf):
        import pandas as pd

        reg = None
        d = Digest(delta)
        n = int(pdf["n"].sum())
        n_null = int(pdf["n_null"].sum())
        for raw in pdf["hll"]:
            r = hll.from_bytes(raw)
            reg = r if reg is None else hll.merge(reg, r)
        for means, weights, vmin, vmax, cnt in zip(
            pdf["td_means"], pdf["td_weights"], pdf["vmin"], pdf["vmax"],
            pdf["n"] - pdf["n_null"],
        ):
            if means is not None and len(means) > 0:
                d.add_digest(
                    np.asarray(means), np.asarray(weights),
                    float(vmin), float(vmax), int(cnt),
                )
        # empty digest (non-numeric column) → NULL quantiles, matching
        # vmin/vmax — a NaN here survives isNotNull() and breaks JSON
        qs = d.quantiles(_QS) if d.n else (None, None, None)
        n_val = n - n_null
        order = _merge_mg_rows(pdf["mg_items"], pdf["mg_weights"], mg_k)
        mg_mass = sum(w for _, w in order)
        return pd.DataFrame(
            [
                {
                    "column": pdf["column"].iloc[0],
                    "n": n,
                    "n_null": n_null,
                    "null_rate": (n_null / n) if n else 0.0,
                    "distinct_est": (
                        float(hll.estimate(reg)) if n_val else 0.0
                    ),
                    "vmin": d.vmin if d.n else None,
                    "vmax": d.vmax if d.n else None,
                    "p25": qs[0],
                    "p50": qs[1],
                    "p75": qs[2],
                    "n_sketch_rows": int(len(pdf)),
                    "top_items": [str(i) for i, _ in order],
                    "top_weights": [int(w) for _, w in order],
                    # mergeable-MG guarantee: every top_weights[i] is a
                    # lower bound; true count ≤ weight + this bound, and
                    # any value heavier than the bound is present
                    "top_error_bound": (
                        (n_val - mg_mass) / (mg_k + 1) if n_val else 0.0
                    ),
                }
            ]
        )

    return sketches.groupBy("column").applyInPandas(fold, STATS_SCHEMA)


def sketch_column_stats(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    p: int = hll.DEFAULT_P,
    delta: float = 500.0,
) -> DataFrame:
    """One-shot convenience: sketch + fold in a single plan."""
    return merged_column_stats(column_sketches(df, columns, p, delta), delta)


def top_values(stats: DataFrame, column: str) -> list[tuple[str, int]]:
    """Convenience: the heavy-hitter list of one column from a stats
    DataFrame as [(value, count_lower_bound), ...], heaviest first.

    Values are MG_VALUE_WIDTH(=64)-char prefixes: a returned key of
    exactly that length may aggregate several distinct full values, and
    its bound then applies to the prefix population, not to any one
    value (see merged_column_stats)."""
    row = stats.where(F.col("column") == column).select(
        "top_items", "top_weights"
    ).collect()
    if not row:
        return []
    return list(zip(row[0]["top_items"], (int(w) for w in row[0]["top_weights"])))


# ------------------------------------------------------------------- store


def store_files(spark: SparkSession, store_dir: str) -> set[str]:
    """File paths already sketched into the store (empty set if nothing
    was ever committed there).  An unreadable store raises: read as
    empty it would re-sketch and append every file."""
    from gwv_spark.job import read_committed

    got = read_committed(spark, store_dir, "file STRING").select("file").distinct().collect()
    return {r["file"] for r in got}


def update_store(
    spark: SparkSession,
    input_path: str,
    store_dir: str,
    columns: Sequence[str] | None = None,
    p: int = hll.DEFAULT_P,
    delta: float = 500.0,
    files_per_batch: int = 10_000,
) -> dict:
    """Sketch the table's files NOT yet in the store and append their
    sketch rows.  Idempotent under retry: each batch is partitioned by a
    batch_id derived from its sorted file list and written with dynamic
    partition overwrite, so a re-run of the same append overwrites its
    own partition instead of duplicating rows.

    Files the store knows but the table no longer has (an input
    compaction or overwrite) are EVICTED first — their rows would
    otherwise double-count the rewritten data in every subsequent fold;
    the rebase is a full rewrite of the KB-sized store.

    Large backlogs (the 10^6-file bootstrap) are committed in chunks of
    ``files_per_batch``, each its own batch partition — a crash resumes
    at the first unsketched chunk instead of redoing the whole scan.
    (The file-list diff itself is driver-side: at 10^6 files that is
    ~100 MB of path strings — acceptable for a manifest-scale structure,
    the same order as an Iceberg manifest list.)"""
    current = sorted(
        _norm_file(f) for f in spark.read.parquet(input_path).inputFiles()
    )
    known = store_files(spark, store_dir)
    new = [f for f in current if f not in known]
    # files the store knows that the table no longer has (compaction /
    # overwrite of the input): their rows must be EVICTED, or every
    # fold double-counts the rewritten data forever.  The store is
    # KB-rows, so the rebase is a cheap full rewrite under a single
    # batch partition (same single-writer contract as any update).
    stale = sorted(known - set(current))
    n_stale = len(stale)
    if stale:
        # localCheckpoint BEFORE the overwrite: the surviving rows must
        # be materialized off the directory we are about to truncate
        # (a lazy read would recompute from the truncated store).  On a
        # real Iceberg deployment this whole block is a transactional
        # DELETE WHERE file IN (...).
        keep_rows = (
            spark.read.parquet(store_dir)
            .where(~F.col("file").isin(stale))
            .drop("batch_id")
            .localCheckpoint(eager=True)
        )
        rebase_id = "rebase-" + hashlib.sha256("\n".join(stale).encode()).hexdigest()[:16]
        (
            keep_rows.withColumn("batch_id", F.lit(rebase_id))
            # STATIC overwrite on purpose: the rebase must truncate ALL
            # old batch partitions (the session default is dynamic,
            # which would only replace the rebase partition itself)
            .write.option("partitionOverwriteMode", "static")
            .mode("overwrite")
            .partitionBy("batch_id")
            .parquet(store_dir)
        )
        known = store_files(spark, store_dir)
    if not new:
        return {
            "n_new_files": 0,
            "n_known_files": len(known),
            "n_stale_removed": n_stale,
            "batch_id": None,
        }
    batch_ids = []
    for i in range(0, len(new), files_per_batch):
        chunk = new[i : i + files_per_batch]
        batch_id = hashlib.sha256("\n".join(chunk).encode()).hexdigest()[:16]
        df = spark.read.parquet(*chunk)
        # fold split-grain rows to the store's (file, column) grain —
        # required for correctness whenever a data file spans several
        # scan tasks (see fold_file_sketches)
        sk = fold_file_sketches(
            column_sketches(df, columns, p, delta, by_file=True), delta
        )
        # presence markers (column = ""): a ZERO-ROW data file yields no
        # sketch rows (input_file_name rides on rows), so without a
        # marker the file-list diff would re-scan it on every update
        # forever.  One marker row per new file makes the diff converge;
        # the fold filters them out (stats_from_store) and they carry no
        # counts.
        markers = local_frame(
            spark,
            [(f, "", 0, 0, None, None, None, None, None, None, None) for f in chunk],
            SKETCH_SCHEMA,
        )
        (
            sk.unionByName(markers)
            .withColumn("batch_id", F.lit(batch_id))
            .write.option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .mode("overwrite")
            .parquet(store_dir)
        )
        batch_ids.append(batch_id)
    return {
        "n_new_files": len(new),
        "n_known_files": len(known),
        "n_stale_removed": n_stale,
        "batch_id": batch_ids[-1],
        "n_batches": len(batch_ids),
    }


def stats_from_store(
    spark: SparkSession, store_dir: str, delta: float = 500.0
) -> DataFrame:
    """Current full-table stats from the store alone — folds KB-sized
    sketch rows, never touches the data files.

    Duplicate (file, column) rows are dropped before folding: two racing
    ``update_store`` writers could sketch the same new file under
    different batch_ids, and counts are SUMS — double-counting, not
    idempotent like the HLL registers.  Because sketch rows are
    deterministic functions of the file's bytes, any surviving duplicate
    is identical content, so keeping one is exact (the single-writer
    contract a real Iceberg catalog enforces with atomic commits,
    recovered here at read time)."""
    return merged_column_stats(
        spark.read.parquet(store_dir)
        .drop("batch_id")
        .where(F.col("column") != "")  # file-presence markers carry no data
        .dropDuplicates(["file", "column"]),
        delta,
    )
