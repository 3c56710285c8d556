"""Release manifests: content-addressed integrity for exported data.

A 100 TB training export is only trustworthy if a later job can prove
it is reading the SAME bytes the pipeline released — after copies
between stores, partial re-uploads, compaction, or a botched resume.
Re-reading everything into one place to compare is exactly what does
not scale; a manifest reduces each partition-directory to a constant
tuple computed with one distributed pass:

    (partition key, n_rows, content_hash)

``content_hash`` is ORDER-INVARIANT (a sum of per-row xxhash64 values
in 38-digit decimal, so it is overflow-free and independent of row
order, task count, and file layout within the partition) and
COLLISION-AWARE for the realistic failure modes: a dropped, added, or
altered row changes the sum; duplicate rows change it too (unlike a
plain XOR fold, which cancels pairs).  The same pass over two copies
(or over the re-derived pipeline output) yields the same tuples iff
the partitions match row-for-row as multisets.

Shapes:
  * ``manifest`` — one scan + one keyed aggregate (map-side
    combined); output is |partitions| rows, which always broadcasts.
  * ``verify_manifest`` — recompute + full-outer join of two
    manifests (both tiny); the verdict names each divergent
    partition and why (missing / extra / row count / content).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from trial_data_ingestion_spark.session import local_frame

#: canonical NULL sentinel inside the row serialization — a literal
#: column value never produces it (0x01 bytes), so NULL vs "" vs
#: absent stay distinguishable in the hash
_NULL = "\x01\x00"
_SEP = "\x01\x1f"


def _row_hash(df: DataFrame, cols: list[str]):
    """Per-row xxhash64 over a canonical serialization: column NAMES
    and values both participate (schema renames change the hash), in
    sorted-column order so projection order does not."""
    parts = []
    for c in sorted(cols):
        parts.append(F.lit(c))
        parts.append(F.coalesce(F.col(c).cast("string"), F.lit(_NULL)))
    return F.xxhash64(F.concat_ws(_SEP, *parts))


def manifest(df: DataFrame, partition_cols: list[str]) -> DataFrame:
    """(partition cols..., n_rows, content_hash): one aggregate over
    the data, order-invariant per partition.  ``partition_cols`` may
    be empty for a whole-table manifest (single row)."""
    data_cols = [c for c in df.columns if c not in partition_cols]
    if not data_cols:
        raise ValueError("manifest: no data columns outside the "
                         "partition columns — nothing to fingerprint")
    h = _row_hash(df, data_cols).cast("decimal(38,0)")
    grouped = (df.groupBy(*partition_cols) if partition_cols
               else df.groupBy())
    return grouped.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(h).cast("decimal(38,0)").alias("content_hash"))


def write_manifest(df: DataFrame, partition_cols: list[str],
                   path: str) -> None:
    """Materialize the manifest as a single JSON file (it is
    |partitions| rows — driver-sized by construction) so release
    tooling outside Spark can read it."""
    rows = manifest(df, partition_cols).collect()
    payload = {
        "partition_cols": partition_cols,
        "partitions": sorted(
            ({**{c: r[c] for c in partition_cols},
              "n_rows": r["n_rows"],
              "content_hash": str(r["content_hash"])}
             for r in rows),
            key=lambda d: json.dumps(
                {c: d[c] for c in partition_cols}, sort_keys=True,
                default=str)),
    }
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True, default=str)
    os.replace(tmp, path)


def read_manifest(spark: SparkSession, path: str,
                  partition_cols: list[str]) -> DataFrame:
    """Load a written manifest back as the same DataFrame shape
    :func:`manifest` produces."""
    with open(path) as f:
        payload = json.load(f)
    if payload["partition_cols"] != partition_cols:
        raise ValueError(
            f"manifest at {path} covers partitions "
            f"{payload['partition_cols']}, expected {partition_cols}")
    rows = payload["partitions"]
    if not rows:
        raise ValueError(f"manifest at {path} is empty")
    schema = T.StructType(
        [T.StructField(c, _json_type([r[c] for r in rows]))
         for c in partition_cols]
        + [T.StructField("n_rows", T.LongType()),
           T.StructField("content_hash", T.StringType())])
    df = local_frame(spark, [tuple(r[f.name] for f in schema.fields)
                             for r in rows], schema)
    return df.withColumn("content_hash",
                         F.col("content_hash").cast("decimal(38,0)"))


def _json_type(values: list) -> T.DataType:
    """The Spark type of one partition column read back from the JSON
    manifest: boolean, bigint or double when every value is one, else
    string (``write_manifest`` writes other types with ``str``)."""
    kinds = {type(v) for v in values if v is not None}
    if kinds == {bool}:
        return T.BooleanType()
    if kinds == {int}:
        return T.LongType()
    if kinds and kinds <= {int, float}:
        return T.DoubleType()
    return T.StringType()


def verify_manifest(df: DataFrame, partition_cols: list[str],
                    expected: DataFrame) -> DataFrame:
    """Recompute the manifest of ``df`` and diff against ``expected``
    (a :func:`manifest`-shaped DataFrame).  Returns only divergent
    partitions: (partition cols..., status, expected_rows,
    actual_rows) with status in ``missing`` (in expected, absent from
    the data), ``unexpected`` (present in data, absent from
    expected), ``row_count``, ``content``.  Empty result == verified.
    Both sides are |partitions|-sized, so the diff join broadcasts.
    """
    actual = manifest(df, partition_cols)
    exp = expected.select(
        *partition_cols,
        F.col("n_rows").alias("expected_rows"),
        F.col("content_hash").alias("expected_hash"))
    act = actual.select(
        *partition_cols,
        F.col("n_rows").alias("actual_rows"),
        F.col("content_hash").alias("actual_hash"))
    joined = (exp.join(F.broadcast(act), partition_cols, "full_outer")
              if partition_cols else exp.crossJoin(act))
    status = (
        F.when(F.col("actual_rows").isNull(), "missing")
        .when(F.col("expected_rows").isNull(), "unexpected")
        .when(F.col("expected_rows") != F.col("actual_rows"),
              "row_count")
        .when(F.col("expected_hash") != F.col("actual_hash"),
              "content"))
    return (joined.withColumn("status", status)
            .where(F.col("status").isNotNull())
            .select(*partition_cols, "status",
                    "expected_rows", "actual_rows"))
