"""SparkSession construction tuned for the validation workload.

Scale notes (the settings below are chosen for a multi-executor cluster
even though tests run on local[N]):

- AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  (the corpus doc_id key space is prefix-clustered — see corpus.py).
- Arrow on: every pandas UDF crossing is Arrow-batched; we never use
  row-at-a-time Python UDFs.
- shuffle partitions default to cores locally; on a real cluster this is
  overridden by --conf at spark-submit time (engine code never assumes a
  fixed partition count).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_mem() -> str:
    """``SPARK_DRIVER_MEM`` if set, else half the host's physical RAM: in
    local mode the driver JVM also runs every task, and a fixed large
    heap would exceed small hosts."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    return f"{max(1024, mb // 2)}m"


def get_spark(
    app_name: str = "gwv_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """master overrides the default local[cpus] — e.g.
    'local-cluster[4,4,16384]' spawns 4 REAL executor JVMs with their own
    heaps and netty shuffle, the shape of the N-vs-4N-executor scaling
    records (BENCH_scaling_r3.json, BENCH_scaling_r4.json).  cpus still
    sizes shuffle_partitions when not given explicitly."""
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", default_driver_mem())
        .config("spark.ui.enabled", "false")
        # Corpus self-joins must NEVER be planned as static broadcasts —
        # at the north rule's 10^12-doc scale no corpus-derived side fits
        # the driver.  Static auto-broadcast is therefore off; true
        # dimension tables are broadcast EXPLICITLY (F.broadcast in the
        # rule/dim code), and AQE may still convert a join to broadcast
        # at runtime from the MEASURED post-shuffle size ("broadcast or
        # sort-merge depending on cardinality") — exactly the decision a
        # real deployment wants, with no driver-side guess.
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "16m")
        # hive-style partitioned violation sinks: a resumed run must only
        # replace the partitions it actually recomputed
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """A driver-side table (tuples in the column order of the ``ddl``
    schema string) as a JVM-held ``LocalRelation``.

    ``spark.createDataFrame(<list>, ddl)`` plans a ``LogicalRDD`` over a
    Python RDD, so every action over the frame starts Python workers to
    unpickle its rows.  An Arrow table built straight from the Spark
    schema is handed to the JVM once: no Python worker ever reads it,
    and the optimizer prunes it when empty.  No pandas on the way, so a
    ``None`` stays NULL in every column type."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = StructType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows, strict=True)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)
