"""The classic job's violations against the DuckDB mirror, on seeded
corpora of the benchmark's shape.

Each corpus is written as perfbench writes ``batch_full``'s (1000 docs,
first record per doc_id, 4 files).  ``job.main`` runs the classic job
over it; then

- the 17 mirrored rules must equal their ``gwv_<rule>_violations``
  oracle SQL (``gwv_spark/gwv_sql.py``) as multisets, under the
  projections ``perfbench/oracle.py`` applies;
- corner, which has no oracle here, must equal the streaming doc-local
  tier's corner rows over the same files, as full rows.

The rules are plain Spark plans whose expressions can be rebuilt in
several ways; this is the end-to-end check that a rebuild kept every
row."""

from __future__ import annotations

from pathlib import Path

import pytest

from perfbench import inputs, oracle

SEEDS = [7, 321]


@pytest.mark.parametrize("seed", SEEDS)
def test_classic_job_matches_mirror(spark, tmp_path: Path, seed: int):
    from gwv_spark import job, streaming

    corpus = tmp_path / "corpus"
    inputs.write_corpus(corpus, 1000, 4, seed)
    docs_dir, attrs = str(corpus / "documents"), corpus / "doc_attrs.parquet"
    out = tmp_path / "out"
    job.main(["--input", docs_dir, "--attrs", str(attrs), "--output", str(out)], spark=spark)
    ref = tmp_path / "corner_stream"
    streaming.validate_stream_drain(spark, docs_dir, str(ref), rule_ids=["corner"])

    con = oracle.connect()
    try:
        oracle.load_mirror(con, f"read_parquet('{docs_dir}/*.parquet')", attrs)
        oracle.violations_view(con, "got", f"{out}/violations/*/*.parquet")
        oracle.violations_view(con, "corner_ref", f"{ref}/violations/*/*/*.parquet")
        assert oracle.unknown_rules(con, "got") == []
        assert oracle.mirror_mismatches(con, "got") == {}
        assert oracle.rows_mismatch(con, "got", "corner_ref", ["corner"]) == 0
        # a check over empty outputs would pass vacuously
        n = dict(con.execute("SELECT rule_id, count(*) FROM got GROUP BY 1").fetchall())
        assert sum(n.values()) > 0 and n.get("corner", 0) > 0
    finally:
        con.close()
