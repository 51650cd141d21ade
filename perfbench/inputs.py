"""Seeded document files for the workloads.

Every record comes from ``gwv_spark.corpus.gen_record(idx, n, seed)``, so
the same ``--seed`` gives byte-identical inputs.  A corpus is written as
several parquet data files, like a real table; the program only ever sees
these files."""

from __future__ import annotations

from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from gwv_spark.corpus import CORPUS_TS, gen_record, py_spans

SPAN_TYPE = pa.list_(
    pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
)


def records(n_docs: int, seed: int) -> list[tuple[str, str, str]]:
    """(doc_id, related, gdata) of an n_docs corpus, first record per
    doc_id only: doc_id is the documents table's key, but gen_record can
    repeat a name for some seeds."""
    seen: set[str] = set()
    out = []
    for i in range(n_docs):
        rec = gen_record(i, n_docs, seed)
        if rec[0] not in seen:
            seen.add(rec[0])
            out.append(rec)
    return out


def write_docs(path: Path, recs: list[tuple[str, str, str]]) -> None:
    """One documents data file (doc_id, spans)."""
    path.parent.mkdir(parents=True, exist_ok=True)
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in recs], pa.string()),
            "spans": pa.array([py_spans(r[2]) for r in recs], SPAN_TYPE),
        }
    )
    pq.write_table(table, path)


def write_attrs(path: Path, recs: list[tuple[str, str, str]]) -> None:
    """The doc_attrs table (doc_id, related, ts) for ``recs``."""
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in recs], pa.string()),
                "related": pa.array([r[1] for r in recs], pa.string()),
                "ts": pa.array([CORPUS_TS] * len(recs), pa.float64()),
            }
        ),
        path,
    )


def write_corpus(root: Path, n_docs: int, n_files: int, seed: int) -> list[str]:
    """``root/documents/part-NNN.parquet`` (n_files files) plus
    ``root/doc_attrs.parquet``; returns every doc_id in id order."""
    recs = records(n_docs, seed)
    step = -(-len(recs) // n_files)
    for f in range(n_files):
        write_docs(root / "documents" / f"part-{f:03d}.parquet", recs[f * step:(f + 1) * step])
    write_attrs(root / "doc_attrs.parquet", recs)
    return [r[0] for r in recs]


def drops(docs_per_drop: int, n_drops: int, seed: int) -> list[list[tuple[str, str, str]]]:
    """Records of a stream of ``n_drops`` drops: consecutive slices of one
    (n_drops * docs_per_drop)-doc corpus, so references in early drops
    resolve only once later drops land."""
    recs = records(docs_per_drop * n_drops, seed)
    return [recs[k * docs_per_drop:(k + 1) * docs_per_drop] for k in range(n_drops)]
