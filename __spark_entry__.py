"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship — full implemented gwv rule suite over the
  synthetic spans corpus at sf0.001, returning the violations DataFrame.
- ``queries()``: every implemented operator (see gwv_spark/queries.py).
- ``oracle_sql()``: matching DuckDB SQL; synthetic-corpus queries read
  the same parquet the Spark side generates (deterministic, written on
  first use at import/query time).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from gwv_spark import engine  # noqa: E402
from gwv_spark import queries as Q  # noqa: E402
from gwv_spark.corpus import ensure_corpus_for_sf_dir  # noqa: E402

_ORACLE_SF_DIR = "/root/testdata/sf0.01"  # the driver's correctness tier


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: run all implemented validation rules over the synthetic
    interleaved corpus at sf0.001 and return the violations table."""
    sf_dir = "/root/testdata/sf0.001"
    docs = Q.synth_docs(spark, sf_dir)
    ctx = engine.make_context(spark, docs, cache=True)
    return engine.run_rules(ctx)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.spark_fn for name, spec in Q.REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    # the oracle reads the synthetic corpus parquet from disk: make sure
    # it exists for the driver's sf before handing out SQL — including
    # the generator-forward expected tables (media round-trip oracles,
    # the r5 near-dup recall curve), so oracle execution can never race
    # ahead of the Spark side that would otherwise write them on first
    # use
    ensure_corpus_for_sf_dir(_ORACLE_SF_DIR)
    from gwv_spark import mediaops, textops
    from gwv_spark.corpus import synth_dir_for

    mediaops.ensure_media(synth_dir_for(_ORACLE_SF_DIR), Q._n_media(_ORACLE_SF_DIR))
    textops.ensure_neardup_curve(synth_dir_for(_ORACLE_SF_DIR))
    return Q.oracle_sqls(_ORACLE_SF_DIR)
