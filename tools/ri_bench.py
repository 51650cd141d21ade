"""Incremental-RI-vs-batch-rerun measurement (BENCH_ri.json).

Deployment shape: a large standing corpus, small continuous drops, and
the requirement that the delquote/delvar violation set stays current
after every drop.  Two ways to satisfy it:

- **batch rerun**: re-run the two anti-join rules over the ACCUMULATED
  corpus after each drop — per-drop cost is O(corpus) (the full scan +
  context build), regardless of how small the drop is.
- **incremental** (stream_ri_drain): each drain scans only the new
  drop's files; the fold's state table and key catalog carry the rest
  — per-drop cost is O(drop) plus a fixed streaming overhead.

Equality of the two answers is asserted every drop (the property
tests/test_streaming.py proves at small scale).  The tool reports the
measured per-doc coefficients and the corpus/drop ratio, which is what
decides the winner: incremental costs ~c1 per NEW doc, batch rerun
costs ~c2 per CORPUS doc, so incremental wins once corpus/drop > c1/c2
(plus the fixed drain overhead amortized).  An earlier shape of this tool used
corpus-sized drops (ratio 2-5) and measured incremental LOSING 3x —
kept on record in NOTES_r4 as the honest flip side: on-arrival RI is
for small drops against big corpora, not for bulk backfills (use the
batch job for those).

Usage: python tools/ri_bench.py [n_base] [n_drops] [drop_den]
  n_base   standing corpus size              (default 500_000)
  n_drops  number of incremental drops       (default 4)
  drop_den drop size as n_base/drop_den      (default 100 -> 5k docs)
Writes BENCH_ri.json and prints one compact JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    from pyspark.sql import functions as F

    from gwv_spark import engine
    from gwv_spark.corpus import spark_generate
    from gwv_spark.rules import RULES, load_all_rules
    from gwv_spark.session import get_spark
    from gwv_spark.streaming import ri_outstanding, stream_ri_drain

    n_base = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    n_drops = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    drop_den = int(sys.argv[3]) if len(sys.argv) > 3 else 100

    spark = get_spark("gwv-ri-bench", cpus=CPUS, shuffle_partitions=CPUS)
    load_all_rules()

    # one deterministic pool split ~n_base : n_drops x (n_base/drop_den)
    n_total = n_base + n_drops * (n_base // drop_den)
    docs = spark_generate(spark, n_total, partitions=CPUS * 4).select(
        "doc_id", F.lit(None).cast("string").alias("related"),
        F.lit(0.0).alias("ts"), "spans"
    )
    mod = drop_den + n_drops
    bucket = F.pmod(F.xxhash64("doc_id"), F.lit(mod))
    land = tempfile.mkdtemp(prefix="gwv_ribench_land_")
    out = tempfile.mkdtemp(prefix="gwv_ribench_out_")
    acc_dir = tempfile.mkdtemp(prefix="gwv_ribench_acc_")

    paths = []
    base_p = f"{acc_dir}/base"
    docs.where(bucket < drop_den).write.mode("overwrite").parquet(base_p)
    paths.append(base_p)
    for i in range(n_drops):
        p = f"{acc_dir}/drop{i}"
        docs.where(bucket == drop_den + i).write.mode("overwrite").parquet(p)
        paths.append(p)

    def land_files(p: str, tag: str) -> int:
        n = 0
        for f in Path(p).glob("*.parquet"):
            os.link(f, f"{land}/{tag}-{f.name}")
            n += 1
        return n

    def batch_rerun(upto: int) -> tuple[float, int]:
        t0 = time.monotonic()
        acc = spark.read.parquet(*paths[:upto]).select("doc_id", "spans")
        ctx = engine.make_context(spark, acc, cache=True)
        v = RULES["delquote"](ctx).unionByName(RULES["delvar"](ctx))
        n = v.count()
        s = time.monotonic() - t0
        ctx.docs.unpersist()
        ctx.spans.unpersist()
        return s, n

    # initial load: both sides pay it once (setup, reported separately)
    land_files(base_p, "base")
    t0 = time.monotonic()
    stream_ri_drain(spark, land, out)
    inc_setup_s = time.monotonic() - t0
    base_rerun_s, _ = batch_rerun(1)

    per_drop = []
    inc_total = batch_total = 0.0
    drop_docs = 0
    for i in range(n_drops):
        land_files(paths[1 + i], f"d{i}")
        t0 = time.monotonic()
        updates = stream_ri_drain(spark, land, out)
        n_outstanding = ri_outstanding(updates).count()
        inc_s = time.monotonic() - t0

        batch_s, n_batch = batch_rerun(2 + i)
        assert n_outstanding == n_batch, (i, n_outstanding, n_batch)
        inc_total += inc_s
        batch_total += batch_s
        n_drop = spark.read.parquet(paths[1 + i]).count()
        drop_docs += n_drop
        per_drop.append(
            {"drop": i, "n_docs": n_drop, "incremental_s": round(inc_s, 3),
             "batch_rerun_s": round(batch_s, 3), "violations": n_batch}
        )
        print(f"drop {i} ({n_drop} docs): incremental {inc_s:.2f}s  "
              f"batch rerun {batch_s:.2f}s  ({n_batch} outstanding)")

    n_corpus = n_base  # nominal; actual bucket split is within ~1%
    record = {
        "metric": "ri_incremental_vs_batch_rerun",
        "n_base": n_base,
        "n_drops": n_drops,
        "drop_docs_total": drop_docs,
        "cpus": CPUS,
        "incremental_setup_s": round(inc_setup_s, 3),
        "base_rerun_s": round(base_rerun_s, 3),
        "incremental_total_s": round(inc_total, 3),
        "batch_rerun_total_s": round(batch_total, 3),
        "speedup_per_drop": round(batch_total / inc_total, 2),
        "corpus_to_drop_ratio": round(n_corpus / (drop_docs / n_drops), 1),
        "per_drop": per_drop,
    }
    (REPO / "BENCH_ri.json").write_text(json.dumps(record, indent=1))
    print(json.dumps({k: v for k, v in record.items() if k != "per_drop"},
                     separators=(",", ":")))
    for d in (land, out, acc_dir):
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
