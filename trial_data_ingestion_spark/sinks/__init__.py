"""Sinks K1-K6 + the keyed upsert J6 (SURVEY.md §2.2, §2.5).

The reference's sinks are whole-file rewrites (JSON array) and eager
parquet/CSV dumps; here each is a lazy distributed write, and the
vector-store upsert becomes a hash-bucketed merge-by-key parquet
writer — the 100 TB-safe pattern: only buckets containing updated
keys are rewritten (dynamic partition overwrite), everything else is
untouched.
"""

from __future__ import annotations

import json
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trial_data_ingestion_spark.store import (
    layout_of, open_store, read_partitions, read_table, write_partitioned,
)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K3 — line-delimited JSON (normalize.py:51-59)."""
    df.write.mode(mode).json(path)


def write_json_array(df: DataFrame, path: str) -> None:
    """K1 — byte-shaped like the reference's pretty-printed whole-file
    JSON array (fulltext_enricher.py:97-101).  Driver-side by design:
    the reference's artifact is a single small file; the distributed
    form of this sink is :func:`write_jsonl`."""
    records = [row.asDict(recursive=True) for row in df.collect()]
    with open(path, "w", encoding="utf-8") as f:
        json.dump(records, f, ensure_ascii=False, indent=2)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K2 — CSV side-output (failures table)."""
    df.write.mode(mode).option("header", True).csv(path)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite",
                  partition_by: Optional[list] = None) -> None:
    """K4 — parquet sink."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite",
              partition_by: Optional[list] = None) -> None:
    """ORC sink — columnar twin of :func:`write_parquet` for
    Hive-interchange corpora."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def write_avro(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Avro sink — gated on the spark-avro module like
    :func:`~.sources.readers.read_avro`."""
    from trial_data_ingestion_spark.sources.readers import _avro_available
    if not _avro_available(df.sparkSession):
        raise NotImplementedError(
            "Avro sink requires the spark-avro module "
            "(org.apache.spark:spark-avro); it is not on this "
            "classpath.")
    df.write.mode(mode).format("avro").save(path)


def write_summary_json(summary: dict, path: str) -> None:
    """K6 — run-summary counters (fulltext_enricher.py:234-249)."""
    with open(path, "w", encoding="utf-8") as f:
        json.dump(summary, f, indent=2)


def upsert_parquet(spark: SparkSession, new_df: DataFrame, path: str,
                   key: str, n_buckets: int = 16) -> None:
    """K5/J6 — idempotent merge-by-key into a parquet table
    (the Spark rebuild of the Chroma upsert,
    vectorstores/chroma_store.py:37-56: same id -> replace).

    Layout: partitioned by ``__bucket = pmod(xxhash64(key), n)``,
    with ``n_buckets`` and the layout recorded in the table's
    ``_params.json`` sidecar by its first write
    (``store.open_store``); a later upsert with another ``n_buckets``
    (which would file its keys in other buckets and keep both copies)
    or another column set raises before anything is written.
    Merge: read only the buckets touched by ``new_df``, anti-join out
    replaced keys, union the new rows, and dynamically overwrite just
    those bucket partitions (a per-write option: the session's
    ``partitionOverwriteMode`` is left as it was), one file per
    bucket (``store.write_partitioned``).  Cost scales with
    touched buckets, not table size — at 100 TB an upsert of k keys
    rewrites ~k/n of the table instead of all of it.
    ``localCheckpoint`` materializes the merge before the overwrite
    so the writer never reads the files it is replacing.
    """
    bucket = F.pmod(F.xxhash64(F.col(key).cast("string")),
                    F.lit(n_buckets)).cast("int")
    merged = incoming = new_df.withColumn("__bucket", bucket)
    if open_store(spark, path, {"n_buckets": n_buckets},
                  {"": layout_of(incoming, ["__bucket"])}):
        touched = [r["__bucket"] for r in
                   incoming.select("__bucket").distinct().collect()]
        existing = read_partitions(spark, path, "__bucket", touched)
        kept = existing.join(incoming.select(key).distinct(), key,
                             "left_anti")
        merged = kept.unionByName(incoming)
    write_partitioned(merged.localCheckpoint(eager=True), path,
                      ["__bucket"], "overwrite",
                      partitionOverwriteMode="dynamic")


def write_bucketed(df: DataFrame, table: str, key: str,
                   n_buckets: int = 32, sort: bool = True,
                   path: Optional[str] = None) -> None:
    """Bucketed table writer — the co-located-join layout (SURVEY.md
    §4.3 / the 100 TB join strategy).

    Two tables bucketed on their join key with the SAME bucket count
    sort-merge-join with ZERO Exchange: each task reads bucket i of
    both sides, so a fact-fact join that would shuffle 100 TB ships
    nothing.  Pre-sorting within buckets also drops the per-join Sort.
    Requires ``saveAsTable`` (bucket metadata lives in the catalog —
    plain ``.parquet(path)`` writes lose it)."""
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, key)
    if sort:
        w = w.sortBy(key)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def read_upsert_table(spark: SparkSession, path: str) -> DataFrame:
    """Read back an upsert table, under its recorded schema, without
    the bucketing column."""
    return read_table(spark, path).drop("__bucket")
