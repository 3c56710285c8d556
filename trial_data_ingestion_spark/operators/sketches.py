"""Mergeable distinct-count sketches over shard-partitioned corpora
(Apache DataSketches HLL via Spark's ``hll_sketch_agg`` family).

The 100 TB problem this solves: "distinct users per event type, all
time" over an append-only corpus.  countDistinct re-shuffles every
row of history on every refresh; HLL sketches are MERGEABLE, so each
arriving shard (a day, an ingest batch) is sketched ONCE at O(shard)
cost and persisted as a few-KB binary row, and any later rollup —
all-time, last-N-shards, per-group — is a union over the tiny sketch
table with NO rescan of history.  This is the sketch-table analog of
the persisted MinHash/SRP index tier (``incremental_dedup``): pay
per-delta, query from the artifact.

Error model: estimates are exact while a group's sketch is in
sparse mode (hundreds of values at the default lgK=12) and carry
~1-2% relative standard error once dense (RSE ~ 1.04/sqrt(2^lgK));
``HLL_RSE`` exposes the bound the tests gate on.  Sketches built
with different lgK still merge (DataSketches downsamples), but keep
one lgK per table for predictable error.

Reference parity: the reference has no sketch tier at all (its
counters are exact pandas aggregations, ``fulltext_enricher.py``
run summaries); this is part of the engine's beyond-reference
analytics surface, next to q36's approx_count_distinct.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trial_data_ingestion_spark.store import (
    batch_sink, check_partition_value, layout_of, open_store,
    read_partitions, read_table, write_shard,
)

#: relative standard error of an lgK-configured HLL sketch
HLL_RSE = {lgk: 1.04 / math.sqrt(2 ** lgk) for lgk in range(4, 22)}


def hll_shard_sketches(df: DataFrame, group_cols: list[str],
                       value_col: str, lgk: int = 12) -> DataFrame:
    """One (group, sketch) row per group: the mergeable per-shard
    artifact.  One keyed shuffle over the shard — the only time this
    shard's rows are ever read."""
    return (df.groupBy(*group_cols)
            .agg(F.hll_sketch_agg(F.col(value_col), F.lit(lgk))
                 .alias("hll_sketch")))


def write_hll_shard(df: DataFrame, path: str, group_cols: list[str],
                    value_col: str, shard: str,
                    lgk: int = 12, n_files: int = 1) -> None:
    """Sketch one shard and write it to the sketch table at ``path``
    (partitioned by ``shard``; ``store.write_shard`` replaces the
    shard's own partition, so ingest retries stay idempotent, and a
    retry that now has no rows leaves the shard empty rather than
    keeping a stale sketch).

    ``n_files`` sizes the shard's output: the default single file is
    right for low-cardinality group sets (an event-type sketch row is
    a few KB), but a shard sketched over a HIGH-cardinality group set
    (per-URL-host, per-user-agent) would funnel every sketch row
    through one task — pass ``n_files > 1`` to hash-distribute the
    rows by group across that many writers (still one file per task:
    the write repartitions first), at any ``shuffle.partitions``.

    ``shard`` must be a safe partition value
    (``store.check_partition_value``): the shard delete builds the
    partition path by hand, and Spark escapes unsafe characters on
    write, so an unsafe name would delete the wrong path."""
    write_shard(_shard_sketches(df, path, group_cols, value_col, shard,
                                lgk, n_files), path, shard)


def _shard_sketches(df: DataFrame, path: str, group_cols: list[str],
                    value_col: str, shard: str, lgk: int,
                    n_files: int) -> DataFrame:
    """The ``n_files``-file sketch frame of shard ``shard``, after
    checking its layout against the table at ``path`` (or recording
    it there for a new table)."""
    out = (hll_shard_sketches(df, group_cols, value_col, lgk)
           .withColumn("shard", F.lit(check_partition_value(shard))))
    open_store(df.sparkSession, path, {},
               {"": layout_of(out, ["shard"])})
    if n_files == 1:
        return out.coalesce(1)
    # keyed on (group, shard), not the group alone: a repartition
    # equal to the aggregate's own hashpartitioning(group, n) is
    # dropped as redundant whenever n == shuffle.partitions, and AQE
    # may then coalesce that exchange down to one writer
    return out.repartition(n_files, *group_cols, "shard")


def hll_stream_sink(path: str, group_cols: list[str], value_col: str,
                    lgk: int = 12, n_files: int = 1):
    """``foreachBatch`` function maintaining a mergeable HLL sketch
    table from a stream: each micro-batch is sketched ONCE at O(batch)
    cost and lands as its own shard, named by its batch key
    (``store.batch_key``: ``batch-{batch_id:09d}-{query id}``) and
    written by ``store.batch_sink``; the sketch table is both the
    sink's store and its output, so the batch's sketch frame is its
    whole decision.  Batch ids and the query id are stable across
    checkpoint restarts, so a REPLAYED micro-batch overwrites its own
    partition instead of double-counting — idempotent by
    construction, the same exactly-once trick as the upsert sink —
    while a second query over the same table (new checkpoint, batch
    ids from 0 again) writes shards of its own instead of replacing
    the first query's; and a replay that now carries no rows leaves
    its shard empty (see :func:`write_hll_shard`).
    :func:`merged_distinct` then answers all-time / trailing-window
    distinct counts from the sketch table alone, with no rescan of the
    stream's history — the streaming closure of the r7 sketch-table
    tier.

    Usage::

        q = (events.writeStream
             .foreachBatch(hll_stream_sink(path, ["event_type"],
                                           "user_id"))
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
    """

    return batch_sink(lambda df, key: _shard_sketches(
        df, path, group_cols, value_col, key, lgk, n_files), path)


def merged_distinct(spark: SparkSession, path: str,
                    group_cols: list[str],
                    shards: list[str] | None = None) -> DataFrame:
    """(group_cols..., n_distinct) from the sketch table alone — the
    union touches a few KB per (group, shard), never the corpus.
    ``shards`` restricts the rollup (e.g. a trailing window) and
    then only those shards' directories are listed and read
    (``store.read_partitions``); None merges everything
    (``store.read_table``)."""
    t = (read_table(spark, path) if shards is None
         else read_partitions(spark, path, "shard", shards))
    return (t.groupBy(*group_cols)
            .agg(F.hll_sketch_estimate(
                F.hll_union_agg(F.col("hll_sketch"), F.lit(True)))
                .alias("n_distinct")))
