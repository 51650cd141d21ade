"""Incremental batch validation over snapshot appends (gwv_spark/
incremental.py, job.py --incremental).

Correctness model: after ANY chain of appends, the incremental output's
violation set must be ROW-IDENTICAL to a from-scratch classic run over
the full corpus with the same rules — both directions (exceptAll) —
including the retraction cases (an appended doc resolving a formerly
dangling reference) and the creation cases (an appended doc introducing
a new dangling reference, an old doc's quote satisfied only later).
Non-append input changes must fail fast, never silently fold.
"""

from __future__ import annotations

from collections import Counter

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gwv_spark import job
from gwv_spark.corpus import ensure_corpus

RULES = ["numexp", "order", "skew", "delquote", "delvar", "mustrenew", "ucsalias"]


def vio_set(spark, path):
    """The violation rows under ``path`` as a multiset (a Counter), so
    a double-counted row is a difference — the exceptAll identity."""
    try:
        df = spark.read.parquet(str(path))
    except Exception:
        # a violation-free run writes no partition at all — the empty
        # set IS the result (mirrors job.py's read-back fallback)
        return Counter()
    return Counter(
        (r["rule_id"], r["errcode"], r["doc_id"],
         tuple(r["detail"] or []), r["sortkey"])
        for r in df.select(
            "rule_id", "errcode", "doc_id", "detail", "sortkey"
        ).collect()
    )


def classic_full(spark, tmp_path, corpus, tag):
    out = tmp_path / f"classic_{tag}"
    job.main(
        ["--input", str(corpus), "--output", str(out),
         "--rules", *RULES, "--n-buckets", "16"],
        spark=spark,
    )
    return vio_set(spark, out / "violations")


def test_incremental_chain_equals_full_recompute(spark, tmp_path):
    """300-doc baseline + three appends (50, then 30 docs drawn from the
    same id space, so cross-boundary references exist in both
    directions; then 10 that re-land the second append's tail —
    duplicate doc rows are a legal corpus state).  After every step the
    incremental violations equal a from-scratch classic run, at most two
    RI state epochs remain (the one the fold read and the one it wrote),
    and the delta epochs only hold doc-local rows for appended docs."""
    full = ensure_corpus(tmp_path / "gen", 380)
    table = pq.read_table(full / "documents.parquet")
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    pq.write_table(table.slice(0, 300), corpus / "part-000.parquet")

    out = tmp_path / "inc"
    args = ["--input", str(corpus), "--output", str(out),
            "--rules", *RULES, "--n-buckets", "16", "--incremental"]

    def state_epochs():
        return [p for p in (out / "ri_state").iterdir() if p.is_dir()]

    job.main(args, spark=spark)
    assert vio_set(spark, out / "violations") == classic_full(
        spark, tmp_path, corpus, "s0"
    )

    for k, (start, n) in enumerate([(300, 50), (350, 30), (370, 10)], 1):
        pq.write_table(table.slice(start, n), corpus / f"part-{k:03d}.parquet")
        job.main(args, spark=spark)
        inc = vio_set(spark, out / "violations")
        assert inc == classic_full(spark, tmp_path, corpus, f"s{k}")
        assert len(state_epochs()) <= 2, state_epochs()

    # the pre-append corpus was never recomputed: every doc-local row
    # for an old doc lives in exactly ONE epoch (the baseline's)
    vio = spark.read.parquet(str(out / "violations"))
    epochs = sorted(
        r["epoch"] for r in vio.select("epoch").distinct().collect()
    )
    assert len(epochs) >= 2
    old_ids = set(table.slice(0, 300).column("doc_id").to_pylist())
    base_epochs = {
        r["epoch"]
        for r in vio.where(
            F.col("rule_id").isin(["numexp", "order", "skew"])
            & F.col("doc_id").isin(list(old_ids)[:500])
        ).select("epoch").distinct().collect()
    }
    assert len(base_epochs) == 1, (
        "old docs' doc-local violations must live in exactly the "
        f"baseline epoch, got {base_epochs}"
    )

    # rerun on the unchanged snapshot: pure no-op, same rows
    job.main(args, spark=spark)
    assert vio_set(spark, out / "violations") == inc


def test_ri_retraction_and_creation(spark, tmp_path):
    """Targeted RI fold semantics on a crafted corpus:
    - baseline: doc A quotes missing base -> delquote violation;
      doc 'u4e01-var-001' with missing base u4e01 -> delvar violation
    - append 1: the quoted base and u4e01 land -> both RESOLVE;
      a new doc quoting another missing base -> new violation
    - matches classic recompute at every step."""
    from gwv_spark.corpus import py_spans

    def doc(doc_id, gdata):
        return (
            doc_id,
            [(s["kind"], s["text"], s["media_ref"], s["offset"])
             for s in py_spans(gdata)],
        )

    ddl = ("doc_id STRING, spans ARRAY<STRUCT<kind:STRING,text:STRING,"
           "media_ref:STRING,offset:INT>>")
    corpus = tmp_path / "crafted"
    corpus.mkdir()
    base_rows = [
        doc("u5000", "99:0:0:0:0:200:200:u8888@1"),   # dangling quote
        doc("u4e01-var-001", "1:0:2:10:10:100:10"),   # dangling var base
        doc("u6000", "1:0:2:10:20:100:20"),           # clean doc
    ]
    spark.createDataFrame(base_rows, ddl).coalesce(1).write.parquet(
        str(corpus), mode="append"
    )

    out = tmp_path / "inc"
    ri_rules = ["delquote", "delvar"]
    args = ["--input", str(corpus), "--output", str(out),
            "--rules", *ri_rules, "--n-buckets", "4", "--incremental"]
    job.main(args, spark=spark)
    v0 = vio_set(spark, out / "violations")
    assert ("delquote", "0", "u5000", ("Su8888@1",), "u5000#u8888@1") in v0
    assert any(r[0] == "delvar" and r[2] == "u4e01-var-001" for r in v0)

    # append: resolves BOTH, introduces one new dangling quote
    append_rows = [
        doc("u8888", "1:0:2:10:30:100:30"),
        doc("u4e01", "1:0:2:10:40:100:40"),
        doc("u7000", "99:0:0:0:0:200:200:u9999"),
    ]
    spark.createDataFrame(append_rows, ddl).coalesce(1).write.mode(
        "append"
    ).parquet(str(corpus))
    job.main(args, spark=spark)
    v1 = vio_set(spark, out / "violations")
    assert not any(r[2] == "u5000" for r in v1), "resolved quote must retract"
    assert not any(r[2] == "u4e01-var-001" for r in v1), "resolved base must retract"
    assert ("delquote", "0", "u7000", ("Su9999",), "u7000#u9999") in v1

    # classic recompute agrees
    out2 = tmp_path / "classic"
    job.main(["--input", str(corpus), "--output", str(out2),
              "--rules", *ri_rules, "--n-buckets", "4"], spark=spark)
    assert v1 == vio_set(spark, out2 / "violations")


def test_non_append_changes_fail_fast(spark, tmp_path):
    full = ensure_corpus(tmp_path / "gen", 100)
    table = pq.read_table(full / "documents.parquet")
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    pq.write_table(table.slice(0, 80), corpus / "part-000.parquet")
    out = tmp_path / "inc"
    args = ["--input", str(corpus), "--output", str(out),
            "--rules", "numexp", "delquote", "--incremental"]
    job.main(args, spark=spark)

    # removal
    removed = corpus / "part-000.parquet"
    data = removed.read_bytes()
    removed.unlink()
    pq.write_table(table.slice(80, 20), corpus / "part-001.parquet")
    with pytest.raises(SystemExit, match="not an append"):
        job.main(args, spark=spark)

    # in-place rewrite (same name, different content/mtime)
    removed.write_bytes(data)
    pq.write_table(table.slice(0, 80), corpus / "part-000.parquet")
    with pytest.raises(SystemExit, match="modified in place|not an append"):
        job.main(args, spark=spark)


def test_layout_modes_cannot_mix(spark, tmp_path):
    full = ensure_corpus(tmp_path / "gen", 60)
    corpus = str(full / "documents.parquet")
    inc_out = tmp_path / "inc"
    job.main(["--input", corpus, "--output", str(inc_out),
              "--rules", "numexp", "--incremental"], spark=spark)
    with pytest.raises(SystemExit, match="incremental"):
        job.main(["--input", corpus, "--output", str(inc_out),
                  "--rules", "numexp"], spark=spark)
    classic_out = tmp_path / "classic"
    job.main(["--input", corpus, "--output", str(classic_out),
              "--rules", "numexp"], spark=spark)
    with pytest.raises(SystemExit, match="non-incremental"):
        job.main(["--input", corpus, "--output", str(classic_out),
                  "--rules", "numexp", "--incremental"], spark=spark)


def test_uncovered_rule_gets_full_evaluation(spark, tmp_path):
    """Requesting a doc-local rule the prior chain never computed must
    NOT delta-union (it would miss pre-append documents) — it gets a
    full evaluation over the current corpus, and the result equals a
    classic run."""
    full = ensure_corpus(tmp_path / "gen", 300)
    table = pq.read_table(full / "documents.parquet")
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    pq.write_table(table.slice(0, 240), corpus / "part-000.parquet")
    out = tmp_path / "inc"
    job.main(["--input", str(corpus), "--output", str(out),
              "--rules", "numexp", "--incremental"], spark=spark)
    pq.write_table(table.slice(240, 60), corpus / "part-001.parquet")
    job.main(["--input", str(corpus), "--output", str(out),
              "--rules", "order", "--incremental"], spark=spark)
    got = Counter(
        {r: n for r, n in vio_set(spark, out / "violations").items() if r[0] == "order"}
    )
    ref_out = tmp_path / "classic"
    job.main(["--input", str(corpus), "--output", str(ref_out),
              "--rules", "order"], spark=spark)
    expected = vio_set(spark, ref_out / "violations")
    assert got == expected and expected, "fixture must produce order violations"


def test_same_snapshot_new_rule_evaluated(spark, tmp_path):
    """Review regression: re-running --incremental on an UNCHANGED
    snapshot with a rule the chain never computed must EVALUATE it —
    the old no-op branch ledger-marked the rule complete and reported
    zero violations without ever running it."""
    full = ensure_corpus(tmp_path / "gen", 60)
    corpus = str(full / "documents.parquet")
    out = tmp_path / "inc"
    job.main(["--input", corpus, "--output", str(out),
              "--rules", "numexp", "--incremental"], spark=spark)
    job.main(["--input", corpus, "--output", str(out),
              "--rules", "numexp", "order", "--incremental"], spark=spark)
    ref_out = tmp_path / "classic"
    job.main(["--input", corpus, "--output", str(ref_out),
              "--rules", "numexp", "order"], spark=spark)
    assert vio_set(spark, out / "violations") == vio_set(
        spark, ref_out / "violations"
    )
    # the covered set alone still no-ops cleanly
    job.main(["--input", corpus, "--output", str(out),
              "--rules", "numexp", "--incremental"], spark=spark)


def test_skipped_rule_chain_break_recomputes(spark, tmp_path):
    """Review regression (coverage-union bug): a rule left out of one
    append run misses that append's delta — a later request must NOT
    union its stale epochs.  Coverage is the last run's exact rule
    set; a re-entering rule is fully re-evaluated (stale epochs
    cleared) and the result equals a classic run.  The RI variant
    exercises the state-currency check: delquote skipped across an
    append leaves no state epoch for the fold's base snapshot, so it
    re-initializes from the full corpus instead of folding."""
    full = ensure_corpus(tmp_path / "gen", 120)
    table = pq.read_table(full / "documents.parquet")
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    pq.write_table(table.slice(0, 80), corpus / "part-000.parquet")
    out = tmp_path / "inc"

    def run(rules):
        job.main(["--input", str(corpus), "--output", str(out),
                  "--rules", *rules, "--incremental"], spark=spark)

    run(["numexp", "order", "delquote"])
    pq.write_table(table.slice(80, 20), corpus / "part-001.parquet")
    run(["numexp"])  # order + delquote skipped: their chains break
    pq.write_table(table.slice(100, 20), corpus / "part-002.parquet")
    run(["numexp", "order", "delquote"])  # re-entry: full re-evaluation
    ref_out = tmp_path / "classic"
    job.main(["--input", str(corpus), "--output", str(ref_out),
              "--rules", "numexp", "order", "delquote"], spark=spark)
    assert vio_set(spark, out / "violations") == vio_set(
        spark, ref_out / "violations"
    )
    # and the repaired chain keeps folding on the NEXT append (rows
    # 110-119 repeat part-002's tail — duplicate doc rows are a legal
    # corpus state and must fold identically to the classic run)
    pq.write_table(table.slice(110, 10), corpus / "part-003.parquet")
    run(["numexp", "order", "delquote"])
    ref2 = tmp_path / "classic2"
    job.main(["--input", str(corpus), "--output", str(ref2),
              "--rules", "numexp", "order", "delquote"], spark=spark)
    assert vio_set(spark, out / "violations") == vio_set(
        spark, ref2 / "violations"
    )



@pytest.mark.parametrize("rerun", ["resume_same_snapshot", "after_another_append"])
def test_crashed_append_rerun_equals_classic(spark, tmp_path, monkeypatch, rerun):
    """An append that dies after its writes but before its runs row
    (record_run) leaves epochs of a snapshot the runs log never
    committed.  The rerun — a --resume at the same snapshot, or a plain
    run after another file landed — must count no document twice and
    lose none: its violations equal a classic run's as multisets
    (exceptAll both ways)."""
    from gwv_spark import incremental

    full = ensure_corpus(tmp_path / "gen", 360)
    table = pq.read_table(full / "documents.parquet")
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    pq.write_table(table.slice(0, 300), corpus / "part-000.parquet")
    out = tmp_path / "inc"
    args = ["--input", str(corpus), "--output", str(out),
            "--rules", *RULES, "--n-buckets", "16", "--incremental"]
    job.main(args, spark=spark)

    def epochs():
        return {p.name for p in out.glob("violations/rule_id=*/epoch=*")}

    baseline = epochs()
    pq.write_table(table.slice(300, 30), corpus / "part-001.parquet")

    def crash(*a, **k):
        raise RuntimeError("died before record_run")

    with monkeypatch.context() as m:
        m.setattr(incremental, "record_run", crash)
        with pytest.raises(RuntimeError, match="record_run"):
            job.main(args, spark=spark)
    # the crashed append committed a delta epoch the runs log never saw
    assert len(epochs() - baseline) == 1

    if rerun == "resume_same_snapshot":
        job.main(args + ["--resume"], spark=spark)
        # the resume skipped every rule: one metrics row per rule at the
        # crashed snapshot, written by the crashed run
        metrics = spark.read.parquet(str(out / "metrics"))
        assert metrics.groupBy("snapshot", "rule_id").count().where("count > 1").count() == 0
    else:
        pq.write_table(table.slice(330, 30), corpus / "part-002.parquet")
        job.main(args, spark=spark)

    classic = tmp_path / "classic"
    job.main(["--input", str(corpus), "--output", str(classic),
              "--rules", *RULES, "--n-buckets", "16"], spark=spark)
    cols = ["rule_id", "errcode", "doc_id", "detail", "sortkey"]
    got = spark.read.parquet(str(out / "violations")).select(*cols)
    want = spark.read.parquet(str(classic / "violations")).select(*cols)
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_unreadable_runs_log_raises(spark, tmp_path):
    """An unreadable runs log fails the run.  Read as "no prior run" it
    would re-baseline the output dir, clearing and rewriting every
    rule; the violations must be left as they were."""
    full = ensure_corpus(tmp_path / "gen", 120)
    out = tmp_path / "inc"
    args = ["--input", str(full / "documents.parquet"), "--output", str(out),
            "--rules", "numexp", "order", "--incremental"]
    job.main(args, spark=spark)
    (out / "runs" / "part-0.parquet").write_bytes(b"not a parquet file")

    def tree():
        return {str(p): p.stat().st_mtime_ns for p in (out / "violations").rglob("*")}

    before = tree()
    assert any(p.endswith(".parquet") for p in before)
    with pytest.raises(Exception, match="(?i)parquet"):
        job.main(args, spark=spark)
    assert tree() == before


def test_append_to_corpus_path_needing_percent_encoding(spark, tmp_path):
    """A corpus whose path holds a space: Spark lists its files as
    percent-encoded URIs (``sp%20ace``), the manifests hold Hadoop's
    qualified paths.  The append must be read as one (it used to be
    refused as "not an append") and equal a classic run, whether the
    corpus is spelled as a plain path or as a ``file://`` URI."""
    full = ensure_corpus(tmp_path / "gen", 100)
    table = pq.read_table(full / "documents.parquet")
    corpus = tmp_path / "sp ace" / "corpus"
    corpus.mkdir(parents=True)
    pq.write_table(table.slice(0, 80), corpus / "part 000.parquet")
    out = tmp_path / "inc"
    args = ["--input", str(corpus), "--output", str(out),
            "--rules", "numexp", "delquote", "ucsalias", "--incremental"]
    # the same chain with the corpus spelled as a file:// URI
    out_uri = tmp_path / "inc_uri"
    uri_args = ["--input", "file://" + str(corpus), "--output", str(out_uri), *args[4:]]
    job.main(args, spark=spark)
    job.main(uri_args, spark=spark)
    pq.write_table(table.slice(80, 20), corpus / "part 001.parquet")
    job.main(args, spark=spark)
    job.main(uri_args, spark=spark)
    ref_out = tmp_path / "classic"
    job.main(["--input", str(corpus), "--output", str(ref_out),
              "--rules", "numexp", "delquote", "ucsalias"], spark=spark)
    assert vio_set(spark, out / "violations") == vio_set(spark, ref_out / "violations")
    assert vio_set(spark, out_uri / "violations") == vio_set(spark, ref_out / "violations")

    # both spellings pinned the same two snapshots
    def pinned(o):
        return sorted(r["snapshot"] for r in spark.read.parquet(str(o / "runs")).collect())

    assert pinned(out_uri) == pinned(out) and len(set(pinned(out))) == 2


def test_crash_after_dropping_a_rule_then_rerun_with_it(spark, tmp_path, monkeypatch):
    """An append that leaves out a covered rule deletes that rule's
    epochs.  If it dies after the delete, a rerun requesting the rule
    again must not read it as covered (a delta over the appended files
    alone would lose the baseline's rows): it equals a classic run."""
    full = ensure_corpus(tmp_path / "gen", 150)
    table = pq.read_table(full / "documents.parquet")
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    pq.write_table(table.slice(0, 120), corpus / "part-000.parquet")
    out = tmp_path / "inc"

    def run(rules):
        job.main(["--input", str(corpus), "--output", str(out),
                  "--rules", *rules, "--incremental"], spark=spark)

    run(["numexp", "order"])
    pq.write_table(table.slice(120, 30), corpus / "part-001.parquet")

    def crash(*a, **k):
        raise RuntimeError("died before the commit tail")

    with monkeypatch.context() as m:
        m.setattr(job, "finish_run", crash)
        with pytest.raises(RuntimeError, match="commit tail"):
            run(["numexp"])  # order left out: its epochs go
    run(["numexp", "order"])
    ref_out = tmp_path / "classic"
    job.main(["--input", str(corpus), "--output", str(ref_out),
              "--rules", "numexp", "order"], spark=spark)
    expected = vio_set(spark, ref_out / "violations")
    assert any(r[0] == "order" for r in expected), "fixture must produce order violations"
    assert vio_set(spark, out / "violations") == expected


def test_runs_log_head_is_the_highest_seq(spark, tmp_path):
    """The runs log's head is its row of highest seq, whatever the wall
    clock said: a clock that stepped back, or two rows in one tick, must
    not make an older snapshot the diff base.  A tied top seq (two runs
    forked the log) and a log written without seq fail instead of
    guessing."""
    from gwv_spark import incremental
    from gwv_spark.session import local_frame

    def log(name, rows, ddl=incremental.RUNS_DDL):
        out = tmp_path / name
        local_frame(spark, rows, ddl).write.parquet(str(out / "runs"))
        return str(out)

    # seq 3 stepped back in time; seq 4 shares seq 3's tick
    head = incremental.last_run(spark, log("clock", [
        ("a", 100.0, "numexp", 1), ("b", 200.0, "numexp", 2),
        ("c", 150.0, "numexp,order", 3), ("d", 150.0, "order", 4),
    ]))
    assert (head["snapshot"], head["seq"], head["rules"]) == ("d", 4, {"order"})
    assert head["committed"] == {"a", "b", "c", "d"}
    # the latest ts is an older row
    head = incremental.last_run(spark, log("behind", [
        ("a", 300.0, "numexp", 2), ("b", 900.0, "numexp", 1),
    ]))
    assert head["snapshot"] == "a"

    with pytest.raises(SystemExit, match="forks at seq 2"):
        incremental.last_run(spark, log("fork", [
            ("a", 1.0, "numexp", 1), ("b", 2.0, "numexp", 2), ("c", 3.0, "numexp", 2),
        ]))
    with pytest.raises(SystemExit, match="lacks seq.*re-baseline"):
        incremental.last_run(spark, log(
            "unsequenced", [("a", 1.0, "numexp")], "snapshot STRING, ts DOUBLE, rules STRING"
        ))
