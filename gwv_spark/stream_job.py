"""Streaming-tier cluster entrypoint: ``spark-submit --py-files
gwv_spark.zip gwv_spark/stream_job.py --input <landing> --output <dir>``.

Every mode is one gwv_spark.streaming stream: a checkpointed file
source (``<output>/_checkpoint``) whose microbatches fold into
epoch-keyed tables under ``<output>`` (the store dir for ``--sketch``),
each landed file exactly once.

- default (no ``--continuous``): drain everything not yet processed and
  exit — the cron-style catch-up shape; re-running is incremental via
  the checkpoint;
- ``--continuous "30 seconds"``: keep running, one microbatch per
  trigger interval, until the process is stopped.

The default mode validates with the DOCUMENT-LOCAL rules
(gwv_spark.streaming.DOC_LOCAL_RULES); corpus-scoped rules belong to the
batch job (``gwv_spark/job.py --resume``), and requesting one here fails
fast with the same error the library API raises.  ``--ri`` runs the
incremental RI monitor instead (streaming.start_ri_stream):
delquote/delvar maintained by the retraction fold as an add/retract
change log under ``<output>/updates``.  ``--near-dup`` drains the
near-dup monitor (streaming.stream_simhash_drain: signatures under
``<output>/sigs``, the pair log under ``<output>/pairs``) and writes the
closure of the pair log to ``<output>/groups``.  ``--sketch STORE_DIR``
keeps a column-stats sketch store current instead.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main(argv: list[str] | None = None, spark=None) -> None:
    from pyspark.sql import SparkSession

    from gwv_spark.streaming import (
        DOC_LOCAL_RULES,
        start_ri_stream,
        validate_stream,
    )

    p = argparse.ArgumentParser(description="gwv_spark streaming validation")
    p.add_argument("--input", required=True, help="landing dir (or glob) of document parquet files")
    p.add_argument("--output", required=True, help="output directory (violations/verdicts/metrics + checkpoint)")
    p.add_argument("--rules", nargs="*", default=None,
                   help=f"doc-local rule subset (default {DOC_LOCAL_RULES})")
    p.add_argument("--continuous", default=None, metavar="INTERVAL",
                   help='run forever with this processingTime trigger, e.g. "30 seconds" (default: drain and exit)')
    p.add_argument("--max-files-per-trigger", type=int, default=None,
                   help="bound microbatch size during backfills")
    p.add_argument("--n-buckets", type=int, default=256)
    p.add_argument("--ignore-error", action="store_true",
                   help="quarantine per-record UDF crashes as __error__ rows")
    p.add_argument("--ri", action="store_true",
                   help="run the incremental RI monitor (delquote/delvar "
                        "add/retract change log) instead of doc-local validation")
    p.add_argument("--near-dup", action="store_true",
                   help="run the incremental near-dup monitor "
                        "(per-arrival SimHash vs the corpus-so-far; "
                        "pair change log under <output>/pairs) and "
                        "refresh <output>/groups with the transitive "
                        "closure of the accumulated log after the drain")
    p.add_argument("--max-hamming", type=int, default=3,
                   help="SimHash Hamming radius for --near-dup")
    p.add_argument("--sketch", default=None, metavar="STORE_DIR",
                   help="maintain a column-stats sketch store on arrival "
                        "(per-epoch HLL + t-digest rows) instead of "
                        "validating; --output is unused in this mode")
    p.add_argument("--sketch-columns", nargs="*", default=None,
                   help="columns to profile (default: all numeric + string)")
    p.add_argument("--schema-from", default=None,
                   help="parquet path supplying the stream schema "
                        "(default: the input itself — requires at least "
                        "one landed file)")
    p.add_argument("--compact-after", type=int, default=None, metavar="BYTES",
                   help="after a drain completes, bin-pack the output "
                        "tables' per-epoch small files toward this file "
                        "size (catalog.compact; drain mode only)")
    args = p.parse_args(argv)
    if args.compact_after is not None and args.continuous is not None:
        p.error("--compact-after is a drain-mode maintenance action; a "
                "continuous stream would race its own epoch writes")
    compact_base = None
    if args.compact_after is not None:
        from urllib.parse import urlsplit

        # catalog.compact's swap is a rename dance, checked here on the
        # local file system only (either spelling); on an object store a
        # rename is a copy.  Any other scheme is refused up front rather
        # than compacted unchecked.
        compact_base = args.sketch or args.output
        if urlsplit(compact_base).scheme not in ("", "file"):
            p.error(f"--compact-after needs a local output dir, got {compact_base}")
    if args.ri and args.rules is not None:
        p.error("--ri runs the fixed delquote/delvar pair; --rules applies "
                "only to doc-local validation")
    if args.sketch and (args.ri or args.rules is not None):
        p.error("--sketch is a dedicated mode; drop --ri/--rules")
    if args.near_dup and (args.ri or args.sketch or args.rules is not None):
        p.error("--near-dup is a dedicated mode; drop --ri/--sketch/--rules")
    if args.near_dup and args.continuous is not None:
        p.error("--near-dup refreshes the group closure after a drain; "
                "run it in drain mode (cron shape)")

    owns_session = spark is None
    if owns_session:
        spark = SparkSession.builder.appName("gwv_spark-stream").getOrCreate()

    def _maybe_compact() -> None:
        from gwv_spark import catalog, fs

        # sinks only: hidden checkpoints and state stay untouched
        for sub in fs.children(compact_base) if compact_base else []:
            if sub.is_dir:
                res = catalog.compact(spark, sub.path, target_file_bytes=args.compact_after)
                print(f"compact {sub.name}: {res['files_before']} -> {res['files_after']} files")

    if args.near_dup:
        from pyspark.sql import functions as F

        from gwv_spark import components
        from gwv_spark.streaming import simhash_pairs_view, stream_simhash_drain

        pair_log = stream_simhash_drain(
            spark, args.input, args.output,
            max_hamming=args.max_hamming,
            max_files_per_trigger=args.max_files_per_trigger,
        )
        comp = components.connected_components(simhash_pairs_view(pair_log))
        groups = (
            comp.groupBy("component_id")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
            )
            .where(F.col("n_docs") > 1)
        )
        groups.write.mode("overwrite").parquet(f"{args.output}/groups")
        n_groups = spark.read.parquet(f"{args.output}/groups").count()
        print(f"near-dup: {n_groups} duplicate group(s) in the accumulated log")
        _maybe_compact()
        if owns_session:
            spark.stop()
        return

    if args.sketch:
        from gwv_spark.streaming import stream_sketch_store

        schema = spark.read.parquet(args.schema_from or args.input).schema
        q = stream_sketch_store(
            spark,
            args.input,
            args.sketch,
            schema,
            columns=args.sketch_columns,
            max_files_per_trigger=args.max_files_per_trigger,
            processing_time=args.continuous,
        )
    elif args.ri:
        q = start_ri_stream(
            spark,
            args.input,
            args.output,
            max_files_per_trigger=args.max_files_per_trigger,
            processing_time=args.continuous,
        )
    else:
        q = validate_stream(
            spark,
            args.input,
            args.output,
            rule_ids=args.rules,
            ignore_error=args.ignore_error,
            processing_time=args.continuous,
            max_files_per_trigger=args.max_files_per_trigger,
            n_buckets=args.n_buckets,
        )
    q.awaitTermination()
    _maybe_compact()
    if owns_session:
        spark.stop()


if __name__ == "__main__":
    main()
