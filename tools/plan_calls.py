"""py4j round trips and cold seconds of building the rule plans.

Every PySpark Column or DataFrame method is a round trip to the JVM,
and so is the delete of each dropped proxy.  This tool counts them per
plan build: each rule's ``ctx.plan(rid)``, ``engine.make_context``, and
the RI fold's ``ri_cores_full`` + ``ri_fold_step``.  It also counts the
Spark jobs started while the plans are built (none should be: a plan
build that runs a job puts that job on every run's critical path).

Usage: python3 tools/plan_calls.py [--seed 321] [--docs 1000] [--files 4]

It writes perfbench's seeded corpus into a temp dir, starts a fresh
JVM, builds every plan once (cold) and prints one JSON object:
``{"rules": {rid: {"calls", "s"}}, "rules_total": {...},
"make_context": {...}, "ri_fold": {...}, "plan_jobs": n}``.
"""

from __future__ import annotations

import argparse
import gc
import json
import sys
import tempfile
import time
from contextlib import contextmanager
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def _settle(client) -> None:
    """Collect garbage, then send the deletes py4j queued.  In
    pinned-thread mode its finalizer thread sends them, in batches up
    to a second after the proxies were dropped; this sends them now, as
    that thread would."""
    gc.collect()
    pending = getattr(client, "finalizer_deque", None)
    while pending:
        try:
            task = pending.pop()
        except IndexError:
            break
        if not isinstance(task, tuple):  # the worker's shutdown marker
            pending.append(task)
            break
        owner, target_id = task
        owner.garbage_collect_object(target_id, False)
    time.sleep(0.02)  # a delete the finalizer thread popped may be in flight


@contextmanager
def count_calls(spark):
    """Count the py4j commands sent while the block runs, on every
    thread.  Yields a dict whose ``calls`` and ``s`` are set on exit.
    Garbage is collected and queued deletes are sent before and after
    (:func:`_settle`), so the count includes the deletes of the proxies
    the block dropped and none of earlier ones; ``s`` excludes the
    wait."""
    client = spark.sparkContext._gateway._gateway_client
    conn = client._get_connection()
    cls = type(conn)
    client._give_back_connection(conn)
    out = {"calls": 0}
    saved = cls.send_command

    def send_command(self, command):
        out["calls"] += 1
        return saved(self, command)

    _settle(client)
    cls.send_command = send_command
    t0 = time.perf_counter()
    try:
        yield out
        out["s"] = round(time.perf_counter() - t0, 3)
        _settle(client)
    finally:
        cls.send_command = saved


def ri_fold_plans(docs):
    """The plans the RI fold builds: the initial state and one step."""
    from pyspark.sql import functions as F

    from gwv_spark import incremental

    state = incremental.ri_cores_full(docs)
    return incremental.ri_fold_step(state, docs, docs.select(F.col("doc_id").alias("key")))


def measure(spark, docs, attrs, dims: dict | None = None) -> dict:
    """Build the context and every plan once, each counted; ``dims`` as
    engine.make_context takes them."""
    from gwv_spark import engine
    from gwv_spark.rules import ALL_RULE_IDS, load_all_rules

    load_all_rules()
    sc = spark.sparkContext
    group = "plan-calls"
    sc.setJobGroup(group, "plan builds only")
    try:
        with count_calls(spark) as mc:
            ctx = engine.make_context(spark, docs, attrs=attrs, dims=dims)
        rules = {}
        for rid in ALL_RULE_IDS:
            with count_calls(spark) as c:
                ctx.plan(rid)
            rules[rid] = c
        with count_calls(spark) as ri:
            ri_fold_plans(docs)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return {
        "rules": rules,
        "rules_total": {
            "calls": sum(c["calls"] for c in rules.values()),
            "s": round(sum(c["s"] for c in rules.values()), 3),
        },
        "make_context": mc,
        "ri_fold": ri,
        "plan_jobs": jobs,
    }


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=321)
    ap.add_argument("--docs", type=int, default=1000)
    ap.add_argument("--files", type=int, default=4)
    args = ap.parse_args(argv)

    from perfbench import inputs

    from gwv_spark.session import get_spark

    with tempfile.TemporaryDirectory() as d:
        corpus = Path(d) / "corpus"
        inputs.write_corpus(corpus, args.docs, args.files, args.seed)
        spark = get_spark("plan_calls", cpus=4, shuffle_partitions=4)
        try:
            docs = spark.read.parquet(str(corpus / "documents"))
            attrs = spark.read.parquet(str(corpus / "doc_attrs.parquet"))
            print(json.dumps(measure(spark, docs, attrs), indent=1))
        finally:
            spark.stop()


if __name__ == "__main__":
    main()
