"""Structured Streaming tier: low-latency validation, drift and
near-dup checks over document files as they land.

Every stream here has one shape: a checkpointed file source whose
``foreachBatch`` body (:func:`_start`) runs a BATCH function of the
engine over the microbatch and over epoch-keyed parquet tables under
the output dir.  The checkpoint's file index maps each landed file to
exactly one epoch; each body reads only epochs ≤ its own and overwrites
only its own epoch (:func:`_write_epoch`; violations per rule through
engine.parquet_sink), so an epoch Spark retries after a partial write
leaves every table as one run would — exactly once end to end.  No
stream keeps Python state; the tiers and where each keeps its state:

- **Doc-local validation** (:func:`validate_stream`) — the
  DOCUMENT-LOCAL rules (:data:`DOC_LOCAL_RULES`, verdicts that depend
  only on the document's own columns plus static config dims) run per
  microbatch through the batch job's suite executor, so violations
  stream out minutes after arrival instead of at the next full-corpus
  run.  Stateless: ``violations/``, ``verdicts/`` and ``metrics/`` hold
  one partition per epoch.  This tier carries the geometry-heavy rules
  (corner, dup, illegal) — the bulk of per-doc CPU.
- **Incremental RI** (:func:`start_ri_stream`) — the two referential
  rules that are pure existence checks (delquote, delvar): each
  microbatch runs one step of the batch tier's retraction fold
  (incremental.ri_fold_step).  State: the outstanding set in
  ``ri_state/epoch_id=<e>`` (the newest two epochs kept) and the key
  catalog in ``ri_keys/epoch_id=<e>``; the add/retract change log is
  ``updates/``.
- **Drift** (:func:`stream_drift_monitor_drain`) — running PSI against
  a baseline snapshot through stats.corpus_snapshot → stats.snapshot_psi.
  State: the per-epoch bucket counts in ``counts/epoch_id=<e>``; the
  PSI log is ``updates/``.
- **Near-dup** (:func:`stream_simhash_drain`) — each arrival checked
  against the corpus-so-far through textops' SimHash signature and
  block join.  State: the signatures in ``sigs/epoch_id=<e>``; the pair
  log is ``pairs/``.
- **Sketch** (:func:`stream_sketch_store`) — column-stats maintenance:
  each epoch's files are sketched into the mergeable HLL + t-digest
  store (gwv_spark.sketchstore), one ``batch_id=epoch-<n>`` partition
  per epoch, so the checkpoint's file index does the bookkeeping
  sketch_job's file diff does in batch mode.

The CORPUS-SCOPED rules (referential checks, corpus-existence probes
such as j/ucsalias, global aggregations such as mustrenew, and width's
``-halfwidth`` existence probe) change verdict when OTHER documents
arrive, so per-batch evaluation would be semantically wrong; they run
through the resumable snapshot job (``gwv_spark.job --resume``), which
stays authoritative per snapshot.

Doc-locality is a semantic property, not a guess:
tests/test_streaming.py::test_doc_local_rules_are_split_invariant runs
every rule on a corpus split into independent halves and asserts the
listed rules produce identical violations to the whole-corpus run
(corpus-scoped rules demonstrably fail this property — delquote's
missing-part check, for example, flags parts whose definition sits in
the other half).

At 10^12-doc scale this is the shape you want: the doc-local tier is
embarrassingly parallel (no shuffle at all — every doc-local rule plan
is a narrow map over the microbatch, `.explain` shows one
WholeStageCodegen + the two Arrow UDF stages), while the batch tier
amortizes its corpus-wide shuffles across a snapshot.

Reference anchor: the reference validates a full dump per run
(gwv.py:19-44); the stream tier is the "validate on save" mode its
users approximate by re-running gwv on edit, made exactly-once and
incremental.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gwv_spark import engine, fs, incremental, job, stats, textops
from gwv_spark.rules import VIOLATIONS_DDL
from gwv_spark.session import local_frame

# Documents-table shape (BASELINE.json input_hint; corpus.spark_generate).
# ``related``/``ts`` are optional attributes — the stream only requires
# doc_id + spans, same as engine.make_context.
DOCS_SCHEMA = (
    "doc_id STRING, related STRING, ts DOUBLE, "
    "spans ARRAY<STRUCT<kind: STRING, text: STRING, "
    "media_ref: STRING, offset: INT>>"
)

# Rules whose violations depend only on the document's own columns plus
# static config dims.  Guarded by
# tests/test_streaming.py::test_doc_local_rules_are_split_invariant.
# Deliberately NOT here despite passing the split test on some corpora
# (locality must hold by construction, not by luck):
#   related/ids/mj/j — dereference alias entities (cross-doc join);
#   width — probes corpus existence of '<part>-halfwidth' names.
DOC_LOCAL_RULES = [
    "corner", "illegal", "skew", "dup", "naming", "order", "numexp",
]

CORPUS_SCOPED_RULES = [
    "related", "donotuse", "kosekitoki", "mj", "ucsalias", "ids",
    "delquote", "delvar", "mustrenew", "j", "width",
]


def _file_stream(
    spark: SparkSession,
    schema,
    input_path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a landing directory of parquet files.
    The checkpoint's file index provides exactly-once per-file
    processing; ``maxFilesPerTrigger`` bounds microbatch size so one
    giant backfill drop cannot produce an executor-OOM-sized batch."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(input_path)


def _start(
    stream: DataFrame,
    body,
    out: str,
    processing_time: str | None = None,
    name: str | None = None,
):
    """Start ``body`` as the foreachBatch sink of ``stream``, checkpointed
    under ``<out>/_checkpoint``.  With ``processing_time=None`` the query
    drains everything not yet processed and stops (availableNow — the
    cron-style catch-up); with an interval such as ``"30 seconds"`` it
    runs one microbatch per interval until stopped."""
    writer = (
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", f"{out}/_checkpoint")
    )
    if name is not None:
        writer = writer.queryName(name)
    if processing_time is None:
        return writer.trigger(availableNow=True).start()
    return writer.trigger(processingTime=processing_time).start()


def _write_epoch(df: DataFrame, root: str, partition_by: str = "epoch_id") -> None:
    """Write ``df`` under ``root`` partitioned by ``partition_by`` with
    DYNAMIC partition overwrite: only the partitions present in ``df``
    are replaced, so a retried epoch overwrites its own rows instead of
    appending duplicates and every other epoch stays untouched.  (An
    empty ``df`` writes nothing, so a retry of an epoch with no rows
    changes nothing either.)"""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_by)
        .parquet(root)
    )


def validate_stream(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    rule_ids: list[str] | None = None,
    ignore_error: bool = False,
    processing_time: str | None = None,
    max_files_per_trigger: int | None = None,
    n_buckets: int = 256,
):
    """Start the streaming validation query; returns the StreamingQuery.

    Per microbatch (foreachBatch — the rule plans need the whole batch
    for their groupBys and Arrow UDFs), each sink overwrites only the
    epoch's own rows (exactly once; sound because the rule plans are
    deterministic over the epoch's fixed file set, so a retry reproduces
    the same rows):

    - violations → ``<output>/violations/epoch_id=<n>/rule_id=<id>/``,
      one job per rule through the batch job's executor and sink
      (engine.run_rules_concurrent, engine.parquet_sink) — same schema
      as the batch job's sink plus the epoch, so a reader unions both
      tiers' directories;
    - per-(bucket, rule) verdicts for the batch's docs →
      ``<output>/verdicts/epoch_id=<n>/`` (run_id = ``epoch=<n>``);
    - one metrics row per epoch → ``<output>/metrics/epoch_id=<n>/``
      (lineage: which epoch validated how many docs, how long it took).

    ``processing_time=None`` drains everything not yet processed and
    stops — the incremental-batch shape (cron-style catch-up).  With an
    interval it runs continuously.  Corpus-scoped rules are rejected:
    their per-batch result is relative to the batch, not the corpus; so
    are unknown and repeated ids (engine._registered)."""
    rids = engine._registered(DOC_LOCAL_RULES if rule_ids is None else rule_ids)
    if not rids:
        raise ValueError("rule_ids is empty: select at least one rule")
    scoped = [r for r in rids if r not in DOC_LOCAL_RULES]
    if scoped:
        raise ValueError(
            f"corpus-scoped rules {scoped} are exact only over the whole "
            "corpus — run them through gwv_spark.job --resume"
        )
    out = str(output_dir).rstrip("/")
    _process_batch = make_batch_processor(
        spark, out, rids, ignore_error=ignore_error, n_buckets=n_buckets,
    )

    return _start(
        _file_stream(spark, DOCS_SCHEMA, input_path, max_files_per_trigger),
        _process_batch, out, processing_time, name="gwv-validate-stream",
    )


def make_batch_processor(
    spark: SparkSession,
    out: str,
    rids: list[str],
    ignore_error: bool = False,
    n_buckets: int = 256,
):
    """The foreachBatch body of :func:`validate_stream`, exposed so the
    epoch-retry idempotency property is directly testable: calling the
    returned function twice with the SAME (batch, epoch_id) — what Spark
    does when an epoch fails after a partial sink write and is retried
    from the checkpoint — must leave the sinks exactly as one call
    would.

    Doc-local rules never read the entity columns, so the microbatch
    context skips the alias-dereference self join: the validation plans
    are shuffle-free narrow maps over the landed files (only the verdict
    rollup still aggregates, by bucket).  Each rule overwrites its own
    directory of the epoch; the verdicts and counts read the epoch back
    once."""

    def _process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        t0 = time.monotonic()
        e = int(epoch_id)
        ctx = engine.make_context(
            spark, batch_df, cache=True, ignore_error=ignore_error,
            resolve_entity=False,
        )
        try:
            vio_dir = f"{out}/violations/epoch_id={e}"
            engine.run_rules_concurrent(ctx, rids, sink=engine.parquet_sink(vio_dir))
            v = job.read_committed(spark, vio_dir, VIOLATIONS_DDL)
            run_id = f"epoch={e}"
            verdicts = engine.partition_verdicts(
                ctx.docs,
                v.where(F.col("errcode") != "__error__"),
                n_buckets=n_buckets,
                run_id=run_id,
            ).withColumn("epoch_id", F.lit(e))
            _write_epoch(verdicts, f"{out}/verdicts")
            n_docs = ctx.docs.count()  # cached — no recompute
            metrics = local_frame(
                spark,
                [(run_id, e, n_docs, v.count(), round(time.monotonic() - t0, 3))],
                "run_id STRING, epoch_id BIGINT, n_docs BIGINT, "
                "n_violations BIGINT, wall_s DOUBLE",
            )
            _write_epoch(metrics, f"{out}/metrics")
        finally:
            ctx.docs.unpersist()
            ctx.spans.unpersist()

    return _process_batch


def validate_stream_drain(spark: SparkSession, input_path: str,
                          output_dir: str, **kwargs) -> None:
    """Run validate_stream as a drain and block until it is done."""
    validate_stream(spark, input_path, output_dir, **kwargs).awaitTermination()


# ------------------------------------------------------------- drift
DRIFT_COUNTS_DDL = "metric STRING, bucket STRING, value DOUBLE, epoch_id INT"
DRIFT_UPDATES_DDL = "metric STRING, n_seen BIGINT, psi DOUBLE, epoch_id INT"


def make_drift_batch_processor(
    spark: SparkSession,
    out: str,
    baseline: dict[tuple[str, str], float],
    eps: float = 1e-4,
):
    """The foreachBatch body of :func:`stream_drift_monitor_drain`: the
    batch pair stats.corpus_snapshot → stats.snapshot_psi, run as a fold
    over two epoch-keyed tables under ``out``:

    - ``counts/epoch_id=<e>/`` — the microbatch's histogram rows
      (corpus_snapshot's span_len_hist and kind_freq: docs per span
      count, spans per kind);
    - ``updates/epoch_id=<e>/`` — (metric, n_seen, psi) for every metric
      the microbatch has rows of: snapshot_psi of the summed counts of
      epochs ≤ e against ``baseline``, and n_seen the summed count.

    The state is bucket-grain (one row per (metric, bucket) per epoch),
    independent of the number of documents.  ``baseline`` is a
    (metric, bucket) → count dict."""
    out = str(out).rstrip("/")
    base = local_frame(
        spark,
        [(m, b, float(n)) for (m, b), n in sorted(baseline.items())],
        "metric STRING, bucket STRING, value DOUBLE",
    )

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        e = int(epoch_id)
        docs = batch_df.select(F.size("spans").alias("n_spans"), "spans")
        spans = docs.select(F.explode("spans").alias("s")).select("s.*")
        snap = stats.corpus_snapshot(docs, spans).where(
            F.col("metric").isin("span_len_hist", "kind_freq")
        )
        _write_epoch(snap.withColumn("epoch_id", F.lit(e)), f"{out}/counts")
        counts = job.read_committed(spark, f"{out}/counts", DRIFT_COUNTS_DDL).where(
            F.col("epoch_id") <= e
        )
        seen = (
            counts.groupBy("metric")
            .agg(F.sum("value").cast("long").alias("n_seen"), F.max("epoch_id").alias("last"))
            .where(F.col("last") == e)
        )
        # only the batch's metrics: a baseline metric the corpus has no
        # rows of would divide by a zero total
        m = seen.select("metric")
        cur = (
            counts.join(m, "metric", "left_semi")
            .groupBy("metric", "bucket")
            .agg(F.sum("value").alias("value"))
        )
        _write_epoch(
            stats.snapshot_psi(cur, base.join(m, "metric", "left_semi"), eps)
            .join(seen, "metric")
            .select("metric", "n_seen", "psi", F.lit(e).alias("epoch_id")),
            f"{out}/updates",
        )

    return _process


def stream_drift_monitor_drain(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    baseline: dict[tuple[str, str], float],
    eps: float = 1e-4,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Running distribution drift (PSI) of the growing corpus against a
    baseline snapshot: drain the files currently present and return the
    per-epoch update log (metric, n_seen, psi, epoch_id) as a batch
    DataFrame — the streaming analogue of gwv_corpus_drift_psi.  Each
    epoch costs one pass over its new documents plus a read of the
    bucket-grain counts table (:func:`make_drift_batch_processor`)."""
    out = str(output_dir).rstrip("/")
    _start(
        _file_stream(spark, DOCS_SCHEMA, input_path, max_files_per_trigger),
        make_drift_batch_processor(spark, out, baseline, eps),
        out,
    ).awaitTermination()
    return job.read_committed(spark, f"{out}/updates", DRIFT_UPDATES_DDL)


# ------------------------------------------------- incremental RI tier
RI_UPDATE_SCHEMA = (
    "rule_id STRING, probe_key STRING, doc_id STRING, "
    "detail STRING, op STRING"
)

# The two referential rules whose verdict is a pure existence check
# (probe key ∈ doc_id catalog): delquote (reference delquote.py:22-30)
# and delvar (delvar.py:30-44).  kosekitoki is referential but compares
# entity VALUES, not existence, so it stays in the batch tier.
INCREMENTAL_RI_RULES = incremental.RI_RULES


def _epochs_below(root: str, epoch: int) -> list[int]:
    """The ``epoch_id=<n>`` directories under ``root`` with n < epoch
    (none if ``root`` is absent)."""
    names = [c.name for c in fs.children(root) if c.is_dir]
    ids = [int(n.split("=", 1)[1]) for n in names if n.startswith("epoch_id=")]
    return sorted(n for n in ids if n < epoch)


def _change_rows(state_rows: DataFrame, op: str) -> DataFrame:
    """RI state rows as change-log rows (RI_UPDATE_SCHEMA): the detail
    is the quoted part name for delquote and the base for delvar (whose
    part_full is NULL)."""
    return state_rows.select(
        "rule_id",
        F.col("key").alias("probe_key"),
        "doc_id",
        F.coalesce("part_full", "key").alias("detail"),
        F.lit(op).alias("op"),
    )


def _logged_adds(spark: SparkSession, out: str, epoch: int) -> DataFrame:
    """The adds epoch ``epoch`` wrote to the change log, back as state
    rows (the inverse of :func:`_change_rows`)."""
    log = job.read_committed(spark, f"{out}/updates/epoch_id={epoch}", RI_UPDATE_SCHEMA)
    return log.where(F.col("op") == "add").select(
        "rule_id",
        "doc_id",
        F.col("probe_key").alias("key"),
        F.when(F.col("rule_id") == "delquote", F.col("detail")).alias("part_full"),
    )


def make_ri_batch_processor(spark: SparkSession, out: str):
    """The foreachBatch body of :func:`start_ri_stream`: one step of the
    retraction fold (incremental.ri_fold_step, the same step an
    incremental append runs) per microbatch, over three epoch-keyed
    tables under ``out``:

    - ``updates/epoch_id=<e>/`` — the change log: ``op='add'`` for a
      probe whose key is not (yet) a known doc_id (the violation
      appears), ``op='retract'`` for an outstanding probe whose key
      arrived in this batch (it disappears);
    - ``ri_state/epoch_id=<e>/`` — the outstanding set after the batch
      (incremental.RI_STATE_DDL): the prior state minus the retracted
      rows plus the logged adds, read back so the fold runs once;
    - ``ri_keys/epoch_id=<e>/`` — the batch's doc_ids, the catalog the
      next batches' probes are checked against.

    Batch e reads the newest state epoch below e and the key epochs
    below e; state epochs older than the one read are deleted after the
    state write.  Nothing is cached: the batch is re-read per write."""
    out = str(out).rstrip("/")

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        e = int(epoch_id)
        prior = _epochs_below(f"{out}/ri_state", e)
        if prior:
            state_prev = spark.read.parquet(f"{out}/ri_state/epoch_id={prior[-1]}")
        else:
            state_prev = local_frame(spark, [], incremental.RI_STATE_DDL)
        known = job.read_committed(spark, f"{out}/ri_keys", "key STRING, epoch_id INT")
        kept, adds, retracts = incremental.ri_fold_step(
            state_prev, batch_df, known.where(F.col("epoch_id") < e).select("key")
        )
        _write_epoch(
            _change_rows(adds, "add")
            .unionByName(_change_rows(retracts, "retract"))
            .withColumn("epoch_id", F.lit(e)),
            f"{out}/updates",
        )
        kept.unionByName(_logged_adds(spark, out, e)).write.mode("overwrite").parquet(
            f"{out}/ri_state/epoch_id={e}"
        )
        batch_df.select(F.col("doc_id").alias("key")).write.mode("overwrite").parquet(
            f"{out}/ri_keys/epoch_id={e}"
        )
        keep = {f"epoch_id={e}"} | ({f"epoch_id={prior[-1]}"} if prior else set())
        incremental.prune_dirs(f"{out}/ri_state", keep)

    return _process


def start_ri_stream(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    max_files_per_trigger: int | None = None,
    processing_time: str | None = None,
):
    """Start the incremental RI monitor: the streaming counterpart of
    the batch tier's anti-join RI rules (delquote, delvar), WITH
    RETRACTIONS.  Returns the StreamingQuery.

    The batch verdict for these rules can flip as other documents
    arrive — a quote of a part that lands later stops being a violation
    — so plain per-batch evaluation is wrong (validate_stream rejects
    these rules).  Instead each microbatch folds into a persisted state
    table and emits the change log under ``<output>/updates``
    (:func:`make_ri_batch_processor`); :func:`ri_outstanding` folds the
    log into the current violation set, which equals the batch cores
    over the corpus-so-far after every drain (tested per drop in
    tests/test_streaming.py).  The checkpoint's file index maps each
    landed file to one epoch, and the epoch-keyed writes make a retried
    epoch idempotent — exactly-once end to end (same argument as
    validate_stream)."""
    out = str(output_dir).rstrip("/")
    return _start(
        _file_stream(spark, DOCS_SCHEMA, input_path, max_files_per_trigger),
        make_ri_batch_processor(spark, out), out, processing_time,
        name="gwv-ri-stream",
    )


def stream_ri_drain(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain the incremental RI monitor over the files currently present
    and return the accumulated change log (epoch_id + RI_UPDATE_SCHEMA)
    as a batch DataFrame.  The state table and the checkpoint carry the
    fold, so a later drain after new files continues incrementally —
    only the new documents are scanned."""
    out = str(output_dir).rstrip("/")
    start_ri_stream(spark, input_path, out, max_files_per_trigger).awaitTermination()
    # every epoch so far may legitimately have emitted nothing (e.g. all
    # probes satisfied within their own batch): an all-empty sink has no
    # parquet footer to infer from
    return job.read_committed(spark, f"{out}/updates", RI_UPDATE_SCHEMA + ", epoch_id INT")


def ri_outstanding(updates: DataFrame) -> DataFrame:
    """Fold the RI change stream into the current violation set:
    (rule_id, doc_id, detail) rows added and never retracted.  A state
    row is added once and retracted at most once, and a retraction
    removes every copy of its row, so a left anti join is exact."""
    adds = updates.where(F.col("op") == "add").select(
        "rule_id", "doc_id", "detail"
    )
    rets = updates.where(F.col("op") == "retract").select(
        "rule_id", "doc_id", "detail"
    )
    return adds.join(rets, ["rule_id", "doc_id", "detail"], "left_anti")


def ri_outstanding_violations(updates: DataFrame) -> DataFrame:
    """The outstanding RI set projected onto the VIOLATIONS schema
    through the rules' own shape projections (incremental.shape_ri_state)
    — identical rows to the batch delquote/delvar rules over the same
    corpus (tested per drop), so readers can union this tier's view with
    the batch job's sink directly."""
    cur = ri_outstanding(updates)
    return incremental.shape_ri_state(
        cur.select(
            "rule_id",
            "doc_id",
            F.col("detail").alias("key"),
            F.col("detail").alias("part_full"),
        )
    )


# --------------------------------------------- incremental near-dup
TEXT_DOCS_SCHEMA = "doc_id BIGINT, text STRING"
SIGS_DDL = "doc_id BIGINT, simhash BIGINT, epoch_id INT"
PAIRS_DDL = "doc_a BIGINT, doc_b BIGINT, hamming INT, epoch_id INT"


def make_simhash_batch_processor(spark: SparkSession, out: str, max_hamming: int = 3):
    """The foreachBatch body of :func:`stream_simhash_drain`: the batch
    textops.simhash_near_pairs, run as a fold over two epoch-keyed
    tables under ``out``:

    - ``sigs/epoch_id=<e>/`` — (doc_id, simhash) of the microbatch's
      documents that have a token (textops.nonblank_simhash64); the
      signature is the state, no text is kept;
    - ``pairs/epoch_id=<e>/`` — (doc_a < doc_b, hamming) for every pair
      within ``max_hamming`` that has a member in batch e and the other
      in batch e or an earlier one: the batch's signature blocks
      (textops.simhash_blocks) joined against the blocks of every epoch
      ≤ e by textops.simhash_block_pairs, as the batch form does.

    A pair is logged once, at the epoch of its later member.  Each batch
    reads every earlier signature (corpus × (k+1) block rows)."""
    out = str(out).rstrip("/")

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        e = int(epoch_id)
        _write_epoch(
            textops.nonblank_simhash64(batch_df).withColumn("epoch_id", F.lit(e)),
            f"{out}/sigs",
        )
        sigs = job.read_committed(spark, f"{out}/sigs", SIGS_DDL)
        pairs = textops.simhash_block_pairs(
            textops.simhash_blocks(sigs.where(F.col("epoch_id") == e), max_hamming),
            textops.simhash_blocks(sigs.where(F.col("epoch_id") <= e), max_hamming),
            max_hamming,
            # a pair inside the batch once; one with an earlier doc always
            (F.col("a") < F.col("b")) | ((F.col("epoch_id") < e) & (F.col("a") != F.col("b"))),
        )
        _write_epoch(pairs.withColumn("epoch_id", F.lit(e)), f"{out}/pairs")

    return _process


def stream_simhash_drain(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    max_hamming: int = 3,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Incremental near-duplicate detection over a text-document stream
    (TEXT_DOCS_SCHEMA): drain the files currently present and return the
    accumulated pair log (doc_a, doc_b, hamming, epoch_id) as a batch
    DataFrame.  Each arriving document is checked against the
    corpus-so-far (:func:`make_simhash_batch_processor`), so a pair is
    logged at the drain where its second member lands — for ingestion
    pipelines that reject near-dups on arrival instead of at the next
    full-corpus dedup pass."""
    out = str(output_dir).rstrip("/")
    _start(
        _file_stream(spark, TEXT_DOCS_SCHEMA, input_path, max_files_per_trigger),
        make_simhash_batch_processor(spark, out, max_hamming),
        out,
    ).awaitTermination()
    return job.read_committed(spark, f"{out}/pairs", PAIRS_DDL)


def simhash_pairs_view(pair_log: DataFrame) -> DataFrame:
    """Distinct near-dup pairs from the pair log (a pair is logged again
    when one of its doc_ids lands again)."""
    return pair_log.select("doc_a", "doc_b", "hamming").dropDuplicates(
        ["doc_a", "doc_b"]
    )


# ------------------------------------------------------ sketch-store tier


def make_sketch_batch_processor(
    store_dir: str,
    columns=None,
    p: int = 14,
    delta: float = 500.0,
):
    """foreachBatch body for on-arrival column-stats maintenance: sketch
    the epoch's files (one mergeable HLL+t-digest row per file+column,
    gwv_spark.sketchstore) into the store's ``batch_id=epoch-<n>``
    partition through :func:`_write_epoch` (the epoch's file set is
    checkpoint-fixed and the sketch rows are deterministic over it)."""
    from gwv_spark import sketchstore

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        sk = sketchstore.fold_file_sketches(
            sketchstore.column_sketches(
                batch_df, columns, p=p, delta=delta, by_file=True
            ),
            delta,
        )
        _write_epoch(
            sk.withColumn("batch_id", F.lit(f"epoch-{int(epoch_id)}")),
            store_dir, "batch_id",
        )

    return _process


def stream_sketch_store(
    spark: SparkSession,
    input_path: str,
    store_dir: str,
    schema,
    columns=None,
    p: int = 14,
    delta: float = 500.0,
    max_files_per_trigger: int | None = None,
    processing_time: str | None = None,
):
    """Keep the column-stats sketch store current as files land: the
    streaming counterpart of ``sketch_job`` (which diffs file lists; the
    stream lets the checkpoint's file index do that bookkeeping).  Full
    current stats at any moment = ``sketchstore.stats_from_store`` over
    the store — a fold of KB-sized rows, no data scan."""
    return _start(
        _file_stream(spark, schema, input_path, max_files_per_trigger),
        make_sketch_batch_processor(store_dir, columns, p, delta),
        str(store_dir).rstrip("/"), processing_time,
    )


def stream_sketch_drain(
    spark: SparkSession,
    input_path: str,
    store_dir: str,
    schema,
    columns=None,
    p: int = 14,
    delta: float = 500.0,
) -> DataFrame:
    """Drain pending files into the sketch store and return the folded
    full-table stats."""
    from gwv_spark import sketchstore

    stream_sketch_store(
        spark, input_path, store_dir, schema, columns, p=p, delta=delta
    ).awaitTermination()
    return sketchstore.stats_from_store(spark, store_dir, delta=delta)
