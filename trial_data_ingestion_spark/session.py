"""SparkSession factory with scale-oriented defaults.

Local tests run on ``local[32]``; the same config block is what we
would ship to a 1000-executor cluster (AQE, skew-join handling,
partition coalescing, Arrow batching for the Pandas-UDF kernels).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Tuning constants mirrored from the reference's operating point
# (BASELINE.md): Arrow batch ~ embed batch, shuffle partitions sized
# for the local harness; on a real cluster AQE coalesces upward.
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "trial-data-ingestion-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    All settings are plain public Spark configs:
      * AQE on: runtime coalescing, skew-join splitting, dynamic
        join-strategy switch — our substitute for hand-tuning at SF.
      * Arrow enabled: every mapInPandas kernel (JATS parse, chunker,
        embedder) moves batches, not rows.
      * Broadcast threshold left at default (10 MB) — dimension
        tables (region/nation/supplier) broadcast automatically;
        query code additionally hints ``broadcast()`` where the
        statistics wouldn't be known at plan time.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """DataFrame over driver-side ``rows`` (tuples or Rows, in
    ``schema`` order) under an explicit ``StructType`` or DDL schema.

    The rows are typed into a ``pyarrow.Table`` and handed to Spark as
    one, so the plan holds a ``LocalRelation``: building or collecting
    it runs no Spark job.  Broadcasting it does run one, with no Python
    worker: the broadcast exchange collects its child through an RDD
    (a scan joined to a broadcast local frame runs 2 jobs where the
    scan alone runs 1).  ``createDataFrame`` over a Python list would
    instead ``parallelize`` it into a Python RDD, and every scan of
    that starts Python workers in a job of its own.  Every
    driver-built frame in the package enters a plan here."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    rows = list(rows)
    cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow)
    return spark.createDataFrame(table, schema)


def ensure_parallelism(df):
    """Repartition up to the cluster's default parallelism when the
    source has fewer partitions (e.g. one small parquet file read as a
    single split).

    Used in front of CPU-heavy row-multiplying operators (shingle
    explode, all-pairs joins): with a single input partition the whole
    downstream computation would run in one task.  Shuffling the
    *pre-explosion* rows is cheap relative to the work it parallelizes.

    Repartitions unconditionally.  The previous conditional probed
    ``df.rdd.getNumPartitions()``, which forces physical planning of
    the whole subtree at build time, once per call site — pure
    overhead on plan-heavy jobs.  The cost of the unconditional
    shuffle is bounded because every call site feeds the small
    *pre-explosion* row set (documents/embeddings before shingle or
    pair blow-up), never a large fact table; that smallness, not AQE,
    is the justification — AQE's partition coalescing does not apply
    to an explicit ``repartition(N)``.  An AQE-optimizable rebalance
    hint would be wrong here anyway: it sizes partitions by bytes, and
    would collapse the deliberately over-split small input back to one
    partition, defeating the fan-out."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def keyed_parallelism(df, *cols: str):
    """Explicit hash repartition on ``cols`` at the session's full
    parallelism, placed in FRONT of grouped Arrow kernels
    (``groupBy(cols).applyInPandas``).

    Why: AQE coalesces shuffle partitions by BYTES
    (advisoryPartitionSizeInBytes), which is right for codegen'd
    stages and wrong for a compute-bound Python kernel — a grouped
    kernel whose input is small in bytes but heavy in per-group work
    gets coalesced onto a handful of tasks and starves the box
    (measured r12: b20's per-series distance kernel ran its grouped
    stage as 2 tasks on a 32-core local master; the keyed repartition
    restored full fan-out).  The explicit repartition is exempt from
    AQE coalescing, and the downstream ``groupBy`` on the SAME columns
    reuses its hash partitioning, so the exchange count is unchanged —
    this pins the stage's partition count, it does not add a shuffle.

    Partition count = max(defaultParallelism, the session's
    spark.sql.shuffle.partitions): cores bound the useful fan-out of
    a compute-bound stage locally, and on a real cluster both values
    scale with the deployment instead of being tuned here."""
    sess = df.sparkSession
    n = max(sess.sparkContext.defaultParallelism,
            int(sess.conf.get("spark.sql.shuffle.partitions", "0")
                or 0))
    return df.repartition(n, *cols)

