"""Structured Streaming tier: low-latency validation of newly-landed
document files, plus watermarked streaming rollups.

Two-tier architecture for a corpus that grows continuously:

- **Stream tier (this module)** — the DOCUMENT-LOCAL rules: rules whose
  verdict depends only on the document's own columns plus static config
  dims (:data:`DOC_LOCAL_RULES`).  They run per microbatch through
  ``foreachBatch`` over a checkpointed file source, so each landed file
  is validated exactly once and violations stream out minutes after
  arrival instead of at the next full-corpus run.  This tier carries the
  geometry-heavy rules (corner, dup, illegal) — the bulk of per-doc CPU.
- **Batch tier** — the CORPUS-SCOPED rules (referential checks such as
  delquote/delvar, corpus-existence probes such as j/ucsalias, global
  aggregations such as mustrenew, and width's ``-halfwidth`` existence
  probe).  Their verdicts change when OTHER documents arrive, so
  per-batch evaluation would be semantically wrong; they run through the
  resumable snapshot job (``gwv_spark.job --resume``), whose
  incremental-append lifecycle is tested in tests/test_job.py.
- **Incremental RI tier** (:func:`start_ri_stream`) — the two
  referential rules that are pure existence checks (delquote, delvar)
  ALSO have a low-latency streaming form: each microbatch runs one step
  of the batch tier's retraction fold (incremental.ri_fold_step) over a
  persisted state table, so dangling-reference violations appear on
  arrival and disappear the moment the referenced document lands,
  without rescanning the corpus.  The batch tier remains authoritative
  per snapshot; the RI tier is its constantly-current companion.
- **Sketch tier** (:func:`stream_sketch_store`) — column-stats
  maintenance on arrival: each epoch's files are sketched into the
  mergeable HLL + t-digest store (gwv_spark.sketchstore), so full-table
  stats stay current at the cost of the arrived files' scan; the
  checkpoint's file index does the bookkeeping sketch_job's file diff
  does in batch mode.

Doc-locality is a semantic property, not a guess:
tests/test_streaming.py::test_doc_local_rules_are_split_invariant runs
every rule on a corpus split into independent halves and asserts the
listed rules produce identical violations to the whole-corpus run
(corpus-scoped rules demonstrably fail this property — delquote's
missing-part check, for example, flags parts whose definition sits in
the other half).

At 10^12-doc scale this is the shape you want: the stream tier is
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
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gwv_spark import engine, incremental
from gwv_spark.rules import load_all_rules
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


def read_document_stream(
    spark: SparkSession,
    input_path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a landing directory of document parquet
    files.  The checkpoint's file index provides exactly-once per-file
    processing; ``maxFilesPerTrigger`` bounds microbatch size so one
    giant backfill drop cannot produce an executor-OOM-sized batch."""
    reader = spark.readStream.schema(DOCS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(input_path)


def validate_stream(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    rule_ids: list[str] | None = None,
    ignore_error: bool = False,
    available_now: bool = True,
    processing_time: str | None = None,
    max_files_per_trigger: int | None = None,
    n_buckets: int = 256,
    allow_corpus_scoped: bool = False,
):
    """Start the streaming validation query; returns the StreamingQuery.

    Per microbatch (foreachBatch — the rule plans need the whole batch
    for their groupBys and Arrow UDFs).  Every sink is partitioned by
    ``epoch_id`` and written with DYNAMIC partition overwrite, which is
    what makes the pipeline end-to-end exactly-once: the checkpoint's
    file index guarantees each landed file maps to exactly one epoch,
    and a retried epoch (batch failed after a partial write, before the
    checkpoint committed) OVERWRITES its own epoch partitions instead of
    appending duplicates — a plain ``append`` here would only be
    at-least-once.  (Sound because the rule plans are deterministic over
    the epoch's fixed file set, so a retry reproduces the same rows.)

    - violations → ``<output>/violations/epoch_id=<n>/rule_id=<id>/``
      (same schema as the batch job's sink plus the epoch — a reader
      unions both tiers' directories);
    - per-(bucket, rule) verdicts for the batch's docs →
      ``<output>/verdicts/epoch_id=<n>/`` (run_id = ``epoch=<n>``);
    - one metrics row per epoch → ``<output>/metrics/epoch_id=<n>/``
      (lineage: which epoch validated how many docs, how long it took).

    ``available_now=True`` drains everything not yet processed and stops
    — the incremental-batch shape (cron-style catch-up).  With
    ``processing_time`` it runs continuously.  Corpus-scoped rules are
    rejected unless ``allow_corpus_scoped=True`` (their per-batch result
    is relative to the batch, not the corpus — useful only for smoke
    tests, so the misuse is an explicit opt-in, not a silent semantics
    change)."""
    load_all_rules()
    rids = list(rule_ids) if rule_ids is not None else list(DOC_LOCAL_RULES)
    if not rids:
        raise ValueError("rule_ids is empty: select at least one rule")
    if not allow_corpus_scoped:
        scoped = [r for r in rids if r not in DOC_LOCAL_RULES]
        if scoped:
            raise ValueError(
                f"corpus-scoped rules {scoped} are exact only over the whole "
                "corpus — run them through gwv_spark.job --resume, or pass "
                "allow_corpus_scoped=True if per-batch semantics are intended"
            )
    out = str(output_dir).rstrip("/")

    # doc-local rules never read the entity columns, so the microbatch
    # context skips the alias-dereference self join — the validation
    # plans are then shuffle-free narrow maps over the landed files
    # (only the verdict rollup still aggregates, by bucket).  With the
    # corpus-scoped opt-in the join is kept.
    all_local = all(r in DOC_LOCAL_RULES for r in rids)
    _process_batch = make_batch_processor(
        spark, out, rids,
        ignore_error=ignore_error,
        n_buckets=n_buckets,
        resolve_entity=not all_local,
    )

    stream = read_document_stream(spark, input_path, max_files_per_trigger)
    writer = (
        stream.writeStream.foreachBatch(_process_batch)
        .option("checkpointLocation", f"{out}/_checkpoint")
        .queryName("gwv-validate-stream")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def make_batch_processor(
    spark: SparkSession,
    out: str,
    rids: list[str],
    ignore_error: bool = False,
    n_buckets: int = 256,
    resolve_entity: bool = True,
):
    """The foreachBatch body of :func:`validate_stream`, exposed so the
    epoch-retry idempotency property is directly testable: calling the
    returned function twice with the SAME (batch, epoch_id) — what Spark
    does when an epoch fails after a partial sink write and is retried
    from the checkpoint — must leave the sinks exactly as one call
    would."""

    def _process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        t0 = time.monotonic()
        ctx = engine.make_context(
            spark, batch_df, cache=True, ignore_error=ignore_error,
            resolve_entity=resolve_entity,
        )
        try:
            v = (
                engine.run_rules(ctx, rids)
                .withColumn("epoch_id", F.lit(int(epoch_id)))
                .persist()
            )
            try:
                # mode=overwrite + dynamic partitionOverwriteMode: only
                # the partitions present in THIS epoch's output are
                # replaced — an epoch retry is idempotent, other epochs
                # untouched (exactly-once; see the docstring).
                (
                    v.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("epoch_id", "rule_id")
                    .parquet(f"{out}/violations")
                )
                run_id = f"epoch={int(epoch_id)}"
                verdicts = engine.partition_verdicts(
                    ctx.docs,
                    v.where(F.col("errcode") != "__error__"),
                    n_buckets=n_buckets,
                    run_id=run_id,
                ).withColumn("epoch_id", F.lit(int(epoch_id)))
                (
                    verdicts.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("epoch_id")
                    .parquet(f"{out}/verdicts")
                )
                n_docs = ctx.docs.count()  # cached — no recompute
                n_vio = v.count()
                metrics = local_frame(
                    spark,
                    [(run_id, int(epoch_id), n_docs, n_vio,
                      round(time.monotonic() - t0, 3))],
                    "run_id STRING, epoch_id BIGINT, n_docs BIGINT, "
                    "n_violations BIGINT, wall_s DOUBLE",
                )
                (
                    metrics.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("epoch_id")
                    .parquet(f"{out}/metrics")
                )
            finally:
                v.unpersist()
        finally:
            ctx.docs.unpersist()
            ctx.spans.unpersist()

    return _process_batch


def validate_stream_drain(spark: SparkSession, input_path: str,
                          output_dir: str, **kwargs) -> None:
    """Run validate_stream with availableNow and block until drained."""
    q = validate_stream(
        spark, input_path, output_dir, available_now=True, **kwargs
    )
    q.awaitTermination()


# ----------------------------------------------------- stateful drift
def stream_drift_monitor(
    spark: SparkSession,
    input_path: str,
    baseline: dict[tuple[str, str], float],
    eps: float = 1e-4,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Custom stateful streaming operator: running distribution-drift
    (PSI) of the growing corpus against a baseline snapshot, updated
    every microbatch.

    Matches the batch pair stats.corpus_snapshot → stats.snapshot_psi
    over the histogram metrics (span_len_hist: docs per span count;
    kind_freq: spans per kind) — same buckets, same ε-smoothed
    natural-log PSI — but holds the corpus-so-far histogram as STREAM
    STATE instead of rescanning, so each update costs one pass over the
    new docs only.

    Scale shape: the stateful operator's STATE is bucket-grain (a
    histogram dict per metric), independent of stream length.  Its
    per-batch INPUT is doc-grain but two-narrow-string columns, reduced
    to bucket counts inside the Arrow batch loop (pandas value_counts)
    — with only two metric keys the reduce parallelism is 2, so at
    cluster scale you bound microbatch size with maxFilesPerTrigger, or
    salt the key into (metric, shard) and fold the shard histograms in a
    tiny downstream batch step.  ``baseline`` is a plain dict keyed by
    (metric, bucket) — dimension-sized (it is a histogram), closed over
    into the executors.

    Returns the streaming DataFrame of updates
    (metric, n_seen, psi) — one row per metric per microbatch;
    outputMode must be ``update`` (or foreachBatch append of the
    deltas)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    docs = read_document_stream(spark, input_path, max_files_per_trigger)
    span_len = docs.select(
        F.lit("span_len_hist").alias("metric"),
        F.size("spans").cast("string").alias("bucket"),
    )
    kind = docs.select(
        F.lit("kind_freq").alias("metric"),
        F.explode(F.col("spans.kind")).alias("bucket"),
    )
    rows = span_len.unionByName(kind)

    out_type = StructType(
        [
            StructField("metric", StringType()),
            StructField("n_seen", LongType()),
            StructField("psi", DoubleType()),
        ]
    )
    state_type = StructType(
        [
            StructField("buckets", StringType()),  # json {"bucket": n}
            StructField("n_seen", LongType()),
        ]
    )
    base_by_metric: dict[str, dict[str, float]] = {}
    for (m, b), n in baseline.items():
        base_by_metric.setdefault(m, {})[b] = float(n)

    def _update(key, pdf_iter, state):
        import json as _json

        metric = key[0]
        if state.exists:
            hist_json, n_seen = state.get
            hist = _json.loads(hist_json)
        else:
            hist, n_seen = {}, 0
        for pdf in pdf_iter:
            vc = pdf["bucket"].value_counts()
            n_seen += int(vc.sum())
            for b, n in vc.items():
                hist[b] = hist.get(b, 0) + int(n)
        state.update((_json.dumps(hist), n_seen))
        base = base_by_metric.get(metric, {})
        tot_cur = float(sum(hist.values())) or 1.0
        tot_base = float(sum(base.values())) or 1.0
        psi = 0.0
        import math

        for b in set(hist) | set(base):
            p = hist.get(b, 0) / tot_cur + eps
            q = base.get(b, 0.0) / tot_base + eps
            psi += (p - q) * math.log(p / q)
        yield pd.DataFrame(
            [{"metric": metric, "n_seen": n_seen, "psi": round(psi, 6)}]
        )

    return rows.groupBy("metric").applyInPandasWithState(
        _update, out_type, state_type, "update", GroupStateTimeout.NoTimeout
    )


def stream_drift_monitor_drain(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    baseline: dict[tuple[str, str], float],
    eps: float = 1e-4,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain the drift monitor over the files currently present and
    return the per-epoch update log (epoch_id, metric, n_seen, psi) as a
    batch DataFrame.  The checkpoint carries the histogram state, so a
    later drain after new files continues from the accumulated
    distribution — the streaming analogue of gwv_corpus_drift_psi."""
    out = str(output_dir).rstrip("/")
    updates = stream_drift_monitor(
        spark, input_path, baseline, eps, max_files_per_trigger
    )

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        # epoch-keyed dynamic overwrite: retried epochs replace their own
        # partition instead of appending duplicates (same exactly-once
        # argument as validate_stream)
        (
            batch_df.withColumn("epoch_id", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch_id")
            .parquet(f"{out}/updates")
        )

    q = (
        updates.writeStream.foreachBatch(_write)
        .outputMode("update")
        .option("checkpointLocation", f"{out}/_checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(f"{out}/updates")


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


def _ls(spark: SparkSession, root: str) -> list[str]:
    """Names of the directories under ``root`` (none if it is absent)."""
    fs, jvm = incremental._fs(spark, root)
    path = jvm.org.apache.hadoop.fs.Path(root)
    if not fs.exists(path):
        return []
    return [st.getPath().getName() for st in fs.listStatus(path) if st.isDirectory()]


def _epochs_below(spark: SparkSession, root: str, epoch: int) -> list[int]:
    """The ``epoch_id=<n>`` directories under ``root`` with n < epoch."""
    ids = [int(n.split("=", 1)[1]) for n in _ls(spark, root) if n.startswith("epoch_id=")]
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
    if f"epoch_id={epoch}" not in _ls(spark, f"{out}/updates"):
        return local_frame(spark, [], incremental.RI_STATE_DDL)
    log = spark.read.parquet(f"{out}/updates/epoch_id={epoch}")
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
    below e, and each write overwrites only epoch e, so calling the
    function again with the same (batch, epoch_id) — Spark's retry of an
    epoch that failed before its checkpoint commit — leaves every table
    as one call would.  State epochs older than the one read are deleted
    after the state write.  Nothing is cached: the batch is re-read per
    write."""
    out = str(out).rstrip("/")

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        e = int(epoch_id)
        prior = _epochs_below(spark, f"{out}/ri_state", e)
        if prior:
            state_prev = spark.read.parquet(f"{out}/ri_state/epoch_id={prior[-1]}")
        else:
            state_prev = local_frame(spark, [], incremental.RI_STATE_DDL)
        if _epochs_below(spark, f"{out}/ri_keys", e):
            known = spark.read.parquet(f"{out}/ri_keys").where(F.col("epoch_id") < e)
        else:
            known = local_frame(spark, [], "key STRING")
        kept, adds, retracts = incremental.ri_fold_step(
            state_prev, batch_df, known.select("key")
        )
        (
            _change_rows(adds, "add")
            .unionByName(_change_rows(retracts, "retract"))
            .withColumn("epoch_id", F.lit(e))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch_id")
            .parquet(f"{out}/updates")
        )
        kept.unionByName(_logged_adds(spark, out, e)).write.mode("overwrite").parquet(
            f"{out}/ri_state/epoch_id={e}"
        )
        batch_df.select(F.col("doc_id").alias("key")).write.mode("overwrite").parquet(
            f"{out}/ri_keys/epoch_id={e}"
        )
        keep = {f"epoch_id={e}"} | ({f"epoch_id={prior[-1]}"} if prior else set())
        incremental.prune_ri_state(spark, f"{out}/ri_state", keep)

    return _process


def start_ri_stream(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
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
    stream = read_document_stream(spark, input_path, max_files_per_trigger)
    writer = (
        stream.writeStream.foreachBatch(make_ri_batch_processor(spark, out))
        .option("checkpointLocation", f"{out}/_checkpoint")
        .queryName("gwv-ri-stream")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


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
    start_ri_stream(
        spark, input_path, output_dir, max_files_per_trigger, available_now=True
    ).awaitTermination()
    # every epoch so far may legitimately have emitted nothing (e.g. all
    # probes satisfied within their own batch) — an all-empty sink has no
    # parquet footer to infer from
    if not any(Path(f"{out}/updates").rglob("*.parquet")):
        return local_frame(spark, [], RI_UPDATE_SCHEMA + ", epoch_id INT")
    return spark.read.parquet(f"{out}/updates")


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


def _simhash64_py(text: str | None) -> int:
    """Python mirror of textops.simhash64 (the Catalyst implementation)
    for the per-row streaming path: whitespace tokens, md5 first 8 bytes
    big-endian as two 32-bit halves (bits 32-63 from the first half),
    ±1 votes per bit, ties and token-less docs hash to 0.  Exact
    equality with the batch expression is asserted in
    tests/test_streaming.py — the two cannot drift silently."""
    import hashlib
    import re

    if not text:
        return 0
    toks = [t for t in re.split(r"\s+", text.strip()) if t != ""]
    votes = [0] * 64
    for t in toks:
        h = hashlib.md5(t.encode("utf-8")).hexdigest()
        hi, lo = int(h[:8], 16), int(h[8:16], 16)
        for i in range(32):
            votes[i] += 1 if (lo >> i) & 1 else -1
            votes[32 + i] += 1 if (hi >> i) & 1 else -1
    val = 0
    for i in range(63):
        if votes[i] > 0:
            val += 1 << i
    if votes[63] > 0:
        val -= 1 << 63
    return val


_SIMHASH_CHUNK_TOKENS = 1 << 18  # token-axis chunk bound (tests shrink it)


def _simhash64_batch(texts) -> "object":
    """Vectorized SimHash over a pandas Series of texts — the streaming
    hot path (round-4 verdict item: the per-element ``.map`` inside the
    pandas UDF was the one per-row Python loop left in the tree).

    Exactly the batch Catalyst semantics (textops.simhash64, asserted
    bit-identical in tests/test_streaming.py): whitespace tokens, first
    8 md5 bytes big-endian as the 64-bit token hash, ±1 votes per bit,
    ties/token-less → 0.  Per token the only Python-level work is one C
    hashlib call; the 64-bit vote matrix, per-doc segment sums, and
    sign-bit packing are whole-array numpy ops
    (``np.frombuffer('>u8')`` → bit unpack → ``add.reduceat`` →
    shift-sum → int64 view), so cost scales with tokens, not
    tokens × 64 Python iterations."""
    import hashlib
    import re

    import numpy as np
    import pandas as pd

    out = np.zeros(len(texts), dtype=np.int64)
    digests = []
    starts = []  # first token index of each non-empty doc
    rows = []  # its row position in `texts`
    n_tok = 0
    ws = re.compile(r"\s+")
    md5 = hashlib.md5
    for pos, text in enumerate(texts):
        if not text:
            continue
        toks = [t for t in ws.split(text.strip()) if t != ""]
        if not toks:
            continue
        starts.append(n_tok)
        rows.append(pos)
        n_tok += len(toks)
        for t in toks:
            digests.append(md5(t.encode("utf-8")).digest()[:8])
    if not digests:
        return pd.Series(out, index=texts.index)
    h = np.frombuffer(b"".join(digests), dtype=">u8").astype(np.uint64)
    shifts = np.arange(64, dtype=np.uint64)
    starts_a = np.asarray(starts, dtype=np.intp)
    rows_a = np.asarray(rows, dtype=np.intp)
    # Chunk the token axis (on doc boundaries) so the bit-unpacked
    # temporaries stay bounded: the signs matrix is tokens x 64 int32,
    # ~64 MB per 256k tokens — without chunking a long-document Arrow
    # batch (10k docs x 1k tokens) would materialize multi-GB
    # temporaries in one shot (review finding r5).  Per-chunk cost is
    # whole-array numpy exactly as before; only the peak changes.
    CHUNK_TOKENS = _SIMHASH_CHUNK_TOKENS
    doc_ends = np.append(starts_a[1:], n_tok)
    votes_parts = []
    d0 = 0
    while d0 < len(starts_a):
        d1 = d0
        t_begin = starts_a[d0]
        while d1 < len(starts_a) and doc_ends[d1] - t_begin <= CHUNK_TOKENS:
            d1 += 1
        d1 = max(d1, d0 + 1)  # a single doc longer than the chunk still processes
        t_end = doc_ends[d1 - 1]
        signs = (
            (
                (h[t_begin:t_end, None] >> shifts[None, :]) & np.uint64(1)
            ).astype(np.int32)
            * 2
            - 1
        )
        votes_parts.append(
            np.add.reduceat(signs, starts_a[d0:d1] - t_begin, axis=0)
        )
        d0 = d1
    votes = np.concatenate(votes_parts, axis=0)
    packed = (
        ((votes > 0).astype(np.uint64) << shifts[None, :]).sum(axis=1, dtype=np.uint64)
    )
    out[rows_a] = packed.view(np.int64)
    return pd.Series(out, index=texts.index)


def stream_simhash_monitor(
    spark: SparkSession,
    input_path: str,
    max_hamming: int = 3,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Incremental near-duplicate detection over a text-document stream
    (TEXT_DOCS_SCHEMA): each arriving document is checked against the
    corpus-so-far, emitting (doc_a, doc_b, hamming) the moment the
    second member of a near-dup pair lands — the streaming counterpart
    of textops.simhash_near_pairs, for ingestion pipelines that must
    reject near-dups on arrival instead of at the next full-corpus
    dedup pass.

    Shape: vectorized SimHash (Arrow-batched pandas UDF whose body is
    whole-array numpy — _simhash64_batch, exact mirror of the batch
    Catalyst expression; the Catalyst form itself is a groupBy
    aggregation + join, which would stack a second stateful operator
    under this stream) → block-permutation explode (any
    pair within Hamming k shares one of k+1 exact 16-bit blocks) →
    ``applyInPandasWithState`` keyed by (block_id, block_val) whose
    state is the bucket's (doc_id, simhash) list.  A new doc compares
    against its bucket's stored signatures plus the batch's own — a
    64-bit XOR popcount each, so verification cost is per-candidate,
    never per-corpus.  State size is corpus × (k+1) entries of ~16
    bytes (the signature IS the state — no text retained); at cluster
    scale use the RocksDB provider.  A pathological bucket (thousands
    of mutually-near docs) makes its task's compare loop quadratic —
    the same degenerate case the batch self-join has; bound it upstream
    with exact-dup removal if the corpus has mass-duplicated text.

    The change log may repeat a pair discovered through several blocks;
    ``simhash_pairs_view`` dedups.  Output mode must be ``update``."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    # no type hints: the module's postponed annotations (PEP 563) turn
    # them into strings the UDF eval-type inference can't resolve;
    # hint-less pandas_udf defaults to the scalar Series->Series type
    @F.pandas_udf("long")
    def simhash_udf(texts):
        return _simhash64_batch(texts)

    docs = spark.readStream.schema(TEXT_DOCS_SCHEMA)
    if max_files_per_trigger is not None:
        docs = docs.option("maxFilesPerTrigger", str(max_files_per_trigger))
    # token-less docs carry no content evidence and all share the empty
    # signature — exclude them from pairing, mirroring the batch
    # simhash_near_pairs (a blank-doc flood would otherwise pair
    # quadratically AND poison every bucket's state)
    sig = (
        docs.parquet(input_path)
        .where(F.trim(F.coalesce(F.col("text"), F.lit(""))) != "")
        .select("doc_id", simhash_udf(F.col("text")).alias("simhash"))
    )
    n_blocks = max_hamming + 1
    width = 64 // n_blocks
    blocks = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block_id"),
                        F.shiftrightunsigned(F.col("simhash"), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("block_val"),
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", "b.block_id", "b.block_val")

    out_type = StructType(
        [
            StructField("doc_a", LongType()),
            StructField("doc_b", LongType()),
            StructField("hamming", IntegerType()),
        ]
    )
    state_type = StructType(
        [StructField("members", StringType())]  # json [[doc_id, simhash]]
    )
    mask = (1 << 64) - 1

    def _update(key, pdf_iter, state):
        import json as _json

        stored = _json.loads(state.get[0]) if state.exists else []
        new = set()
        for pdf in pdf_iter:
            new.update(zip(pdf["doc_id"].tolist(), pdf["simhash"].tolist()))
        new = sorted(new)
        out = []
        for i, (d1, s1) in enumerate(new):
            for d2, s2 in stored + new[i + 1:]:
                if d1 == d2:
                    continue
                h = ((s1 ^ s2) & mask).bit_count()
                if h <= max_hamming:
                    a, b = (d1, d2) if d1 < d2 else (d2, d1)
                    out.append((a, b, h))
        state.update((_json.dumps(stored + new),))
        if out:
            yield pd.DataFrame(out, columns=["doc_a", "doc_b", "hamming"])

    return blocks.groupBy("block_id", "block_val").applyInPandasWithState(
        _update, out_type, state_type, "update", GroupStateTimeout.NoTimeout
    )


def stream_simhash_drain(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    max_hamming: int = 3,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain the near-dup monitor over the files currently present and
    return the accumulated pair log (epoch_id, doc_a, doc_b, hamming) as
    a batch DataFrame.  Same exactly-once sink shape as the RI tier."""
    out = str(output_dir).rstrip("/")
    pairs = stream_simhash_monitor(
        spark, input_path, max_hamming, max_files_per_trigger
    )

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.withColumn("epoch_id", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch_id")
            .parquet(f"{out}/pairs")
        )

    q = (
        pairs.writeStream.foreachBatch(_write)
        .outputMode("update")
        .option("checkpointLocation", f"{out}/_checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not any(Path(f"{out}/pairs").rglob("*.parquet")):
        return local_frame(spark, [], "doc_a BIGINT, doc_b BIGINT, hamming INT, epoch_id INT")
    return spark.read.parquet(f"{out}/pairs")


def simhash_pairs_view(pair_log: DataFrame) -> DataFrame:
    """Distinct near-dup pairs from the change log (a pair can be
    discovered through several shared blocks and therefore logged more
    than once — same reason the batch implementation dropDuplicates
    after its block join)."""
    return pair_log.select("doc_a", "doc_b", "hamming").dropDuplicates(
        ["doc_a", "doc_b"]
    )


# ---------------------------------------------------------------- events
EVENTS_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)


def stream_events_hourly(
    spark: SparkSession,
    input_path: str,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked streaming version of the batch events_hourly_rollup
    (queries.py events_hourly): tumbling 1-hour event-time windows,
    counts + sums per event_type.  The watermark bounds state: windows
    older than max(event time) - watermark are finalized and evicted, so
    state size is O(active windows × event types), independent of stream
    length — late events inside the watermark still merge into their
    window; beyond it they are dropped (the documented tradeoff).

    Returns the streaming DataFrame; the caller picks sink + output mode
    (``append`` emits each window once, on finalization)."""
    ev = spark.readStream.schema(EVENTS_SCHEMA).parquet(input_path)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_events_hourly_drain(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    watermark: str = "2 hours",
) -> DataFrame:
    """Drain the hourly rollup over all files currently in
    ``input_path`` (availableNow) into ``<output>/rollup`` parquet and
    return the result as a batch DataFrame.

    Output mode ``append`` only emits windows the watermark has closed;
    with a finite drain the trailing windows would be lost, so the drain
    runs in ``complete`` mode into a memory-table-free parquet sink via
    foreachBatch overwrite (idempotent: the last epoch's state is the
    full rollup)."""
    out = str(output_dir).rstrip("/")
    rollup = stream_events_hourly(spark, input_path, watermark)

    def _write(batch_df: DataFrame, _epoch: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out}/rollup")

    q = (
        rollup.writeStream.foreachBatch(_write)
        .outputMode("complete")
        .option("checkpointLocation", f"{out}/_checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(f"{out}/rollup")


# ------------------------------------------------------ sketch-store tier


def make_sketch_batch_processor(
    store_dir: str,
    columns=None,
    p: int = 14,
    delta: float = 500.0,
):
    """foreachBatch body for on-arrival column-stats maintenance: sketch
    the epoch's files (one mergeable HLL+t-digest row per file+column,
    gwv_spark.sketchstore) and append them to the store under
    ``batch_id = epoch-<n>`` with dynamic partition overwrite — a
    retried epoch overwrites its own partition, the same exactly-once
    argument as the validation sinks (the epoch's file set is
    checkpoint-fixed and the sketch rows are deterministic over it).

    Extracted from the stream wiring so the retry property is testable
    directly (tests/test_sketchstore.py re-invokes it with the same
    epoch and asserts the store unchanged)."""
    from gwv_spark import sketchstore

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        sk = sketchstore.fold_file_sketches(
            sketchstore.column_sketches(
                batch_df, columns, p=p, delta=delta, by_file=True
            ),
            delta,
        )
        (
            sk.withColumn("batch_id", F.lit(f"epoch-{int(epoch_id)}"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(store_dir)
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
    available_now: bool = True,
    processing_time: str | None = None,
):
    """Keep the column-stats sketch store current as files land: the
    streaming counterpart of ``sketch_job`` (which diffs file lists; the
    stream lets the checkpoint's file index do that bookkeeping).  Full
    current stats at any moment = ``sketchstore.stats_from_store`` over
    the store — a fold of KB-sized rows, no data scan."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(input_path)
    writer = (
        stream.writeStream.foreachBatch(
            make_sketch_batch_processor(store_dir, columns, p, delta)
        )
        .outputMode("update")
        .option("checkpointLocation", f"{store_dir}/_checkpoint")
    )
    if processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    elif available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


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

    q = stream_sketch_store(
        spark, input_path, store_dir, schema, columns, p=p, delta=delta
    )
    q.awaitTermination()
    return sketchstore.stats_from_store(spark, store_dir, delta=delta)
