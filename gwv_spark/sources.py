"""gwv dump text-format sources → the engine's documents/doc_attrs schema.

The reference eagerly parses two text formats into an in-memory dict
(Dump.open, dump.py:77-101):

- ``*.csv``: first line holds a float last-modified timestamp; rows are
  ``name,related,gdata`` split on ',', rows with a column count != 3
  silently skipped (dump.py:83-89);
- pipe table (``dump_newest_only.txt``): 2 header lines, then
  ``name | related | gdata`` with cells stripped, malformed rows
  skipped; timestamp = file mtime (dump.py:91-99).

Here both land as distributed reads (``spark.read.text`` + split +
filter) feeding the typed ``documents(doc_id, spans)`` schema via the
shared Catalyst gdata parser — no driver materialization.  Duplicate
names keep the LAST occurrence in file order (the reference's dict
overwrite semantics), implemented with ``max_by`` over the file
position, so the ingest is deterministic under any partitioning.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gwv_spark import parse


def _assert_single_file(path: Path) -> None:
    """The dump readers' dict-overwrite parity (last occurrence wins,
    keyed on monotonically_increasing_id) relies on partition ids
    following the split order of ONE file.  Across a glob/directory of
    files Spark's partition ordering is not the reference's read order,
    so the contract is a single regular file — fail loudly otherwise."""
    if not path.is_file():
        raise ValueError(
            f"dump source must be a single regular file, got: {path} "
            "(directory/glob inputs have no defined row order for "
            "last-occurrence-wins dedup)"
        )


def _finalize(
    rows: DataFrame, timestamp: float
) -> tuple[DataFrame, DataFrame, float]:
    """rows(doc_id, related, gdata, pos) → (documents, doc_attrs, ts);
    last occurrence per doc_id wins (dict-overwrite parity)."""
    latest = rows.groupBy("doc_id").agg(
        F.max_by(F.struct("related", "gdata"), F.col("pos")).alias("v")
    )
    documents = latest.select(
        "doc_id", F.expr(parse.gdata_to_spans("v.gdata")).alias("spans")
    )
    attrs = latest.select(
        "doc_id",
        F.col("v.related").alias("related"),
        F.lit(timestamp).alias("ts"),
    )
    return documents, attrs, timestamp


def read_dump_csv(
    spark: SparkSession, path: str | os.PathLike
) -> tuple[DataFrame, DataFrame, float]:
    """CSV dump (dump.py:83-89).  The timestamp header line is read
    driver-side (it is table metadata, exactly as the reference treats
    it); the row body is a distributed text scan."""
    path = Path(path)
    _assert_single_file(path)
    with path.open() as fp:
        timestamp = float(fp.readline().rstrip("\n"))
    cols = F.split(F.col("value"), ",", -1)
    rows = (
        spark.read.text(str(path))
        .select("value", F.monotonically_increasing_id().alias("pos"))
        .where(F.size(cols) == 3)  # drops the header + malformed rows
        .select(
            F.get(cols, 0).alias("doc_id"),
            F.get(cols, 1).alias("related"),
            F.get(cols, 2).alias("gdata"),
            "pos",
        )
    )
    return _finalize(rows, timestamp)


def read_dump_pipe(
    spark: SparkSession, path: str | os.PathLike
) -> tuple[DataFrame, DataFrame, float]:
    """GlyphWiki pipe-table dump (dump.py:91-99)."""
    path = Path(path)
    _assert_single_file(path)
    timestamp = path.stat().st_mtime
    raw = spark.read.text(str(path)).select(
        "value", F.monotonically_increasing_id().alias("pos")
    )
    # The 2 header lines are the file's first 2 rows; monotonically
    # increasing ids order by (partition, offset-in-partition) and text
    # splits preserve file order, so they hold the 2 smallest ids.
    header_ids = [r["pos"] for r in raw.orderBy("pos").limit(2).collect()]
    # NB: F.transform's lambda gets (element, index); passing F.trim
    # directly would bind the index to trim's optional trimStr parameter
    cells = F.transform(F.split(F.col("value"), r"\|", -1), lambda x: F.trim(x))
    rows = (
        raw.where(~F.col("pos").isin(header_ids))
        .where(F.size(cells) == 3)
        .select(
            F.get(cells, 0).alias("doc_id"),
            F.get(cells, 1).alias("related"),
            F.get(cells, 2).alias("gdata"),
            "pos",
        )
    )
    return _finalize(rows, timestamp)


def read_dump(
    spark: SparkSession, path: str | os.PathLike
) -> tuple[DataFrame, DataFrame, float]:
    """Suffix dispatch, mirroring Dump.open (dump.py:82)."""
    if Path(path).suffix == ".csv":
        return read_dump_csv(spark, path)
    return read_dump_pipe(spark, path)
