"""The one contract every persisted, partition-keyed store follows
(the MinHash, SRP, IVF, IVF-PQ, line, perceptual-hash and HLL
layouts, and the streaming sinks' output shards):

* **params sidecar** — a store's build-time parameters live in one
  ``_params.json`` file at its root, written and read on the driver
  through the Hadoop FS API (no Spark job):
  :func:`write_params` after the data write, :func:`read_params`
  (with ``expect=`` to validate a caller's values) before any probe
  or append;
* **keyed delta append** — :func:`reserve_delta` names the append's
  ``delta`` (the caller's id or a random one) and deletes it under
  every sub-root first, so a retried append rewrites itself;
* **keyed shard write** — :func:`write_shard` rewrites one
  ``shard=`` partition by delete-then-append, so a replayed
  micro-batch leaves its output exactly once;
* **stream batch keys** — :func:`stream_batch_keys` names a
  ``foreachBatch`` sink's output shard and store delta, so every
  store-backed sink replays and restarts the same way;
* **pruned probe** — :func:`read_partitions` lists and reads only
  the partitions a probe names.
"""

from __future__ import annotations

import json
import re
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: partition values this package writes raw ``dir=value`` paths for
#: (shard deletes, delta-keyed appends).  Spark URL-escapes partition
#: values on write, so a value needing escaping (space, ':', '/', …)
#: would make a hand-built delete path miss the real directory and
#: silently leave stale data in place — reject such values up front.
_SAFE_PARTITION_VALUE = re.compile(r"^[A-Za-z0-9._-]+$")

#: glob of one partition-directory level: ``name=value`` directories
#: only, so the ``_params.json`` sidecar and ``_SUCCESS`` never match
_LEVEL = "/*=*"


def check_partition_value(value: str, what: str = "shard") -> str:
    """Validate a caller-supplied partition value against the safe
    charset (letters, digits, ``._-``); raises ``ValueError``
    otherwise.  See :data:`_SAFE_PARTITION_VALUE` for why."""
    if not isinstance(value, str) or not _SAFE_PARTITION_VALUE.match(value):
        raise ValueError(
            f"{what} {value!r} is not a safe partition value: use only "
            "letters, digits, '.', '_', '-' (Spark escapes other "
            "characters in partition paths, which would break the "
            "idempotent shard delete/overwrite)")
    return value


def _fs_path(spark, path: str):
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def delete_path(spark, path: str) -> None:
    """Recursively delete ``path`` through the Hadoop FS API (so it
    works against whatever filesystem Spark is configured for, not
    just local disk) and drop any cached listing of it.  The shared
    primitive behind the idempotent shard/delta overwrite pattern:
    delete-your-own-partition, then (re)write it."""
    fs, p = _fs_path(spark, path)
    fs.delete(p, True)
    spark.catalog.refreshByPath(path)


def write_params(spark, root: str, params: dict) -> None:
    """Record a store's build-time ``params`` as ``root/_params.json``
    (a driver-side file write, not a Spark job).  Call it AFTER the
    data write: a static overwrite of ``root`` deletes the root."""
    fs, p = _fs_path(spark, f"{root.rstrip('/')}/_params.json")
    out = fs.create(p, True)
    try:
        out.write(bytearray(json.dumps(params, sort_keys=True).encode()))
    finally:
        out.close()


def read_params(spark, root: str, expect: dict | None = None) -> dict:
    """The params :func:`write_params` recorded for the store at
    ``root``.  A missing, unparseable or truncated sidecar raises
    ``ValueError`` naming its path — never a default, which would
    silently probe buckets keyed differently.  ``expect`` maps keys
    to the caller's values; any that differ from the stored ones
    raise, since a store's params are fixed at build time."""
    path = f"{root.rstrip('/')}/_params.json"
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        raise ValueError(f"no params sidecar at {path}: not a store "
                         "root, or written by an older layout "
                         "(rebuild the store)")
    stream = fs.open(p)
    try:
        raw = bytes(stream.readAllBytes())
    finally:
        stream.close()
    try:
        params = json.loads(raw)
    except ValueError as e:
        raise ValueError(f"corrupt params sidecar at {path}: {e}") from e
    if not isinstance(params, dict):
        raise ValueError(f"corrupt params sidecar at {path}: not a "
                         "JSON object")
    bad = sorted(k for k, v in (expect or {}).items()
                 if params.get(k) != v)
    if bad:
        def show(d):
            return ", ".join(f"{k}={d.get(k)}" for k in bad)
        raise ValueError(
            f"{root} stores {show(params)}, caller passed "
            f"{show(expect)} (stored params are fixed at build time: "
            "rebuild to resize)")
    return params


def reserve_delta(spark, roots, delta_id: str | None = None) -> str:
    """The ``delta`` an append writes: ``delta_id`` (checked safe) or,
    when None, a random ``d-…`` id.  Its directory under each of
    ``roots`` is deleted first, so retrying an append with the same
    ``delta_id`` rewrites it instead of appending twice; a random
    delta is at-most-once (don't retry it)."""
    if delta_id is None:
        delta_id = "d-" + uuid.uuid4().hex[:12]
    check_partition_value(delta_id, what="delta_id")
    for root in roots:
        delete_path(spark, f"{root}/delta={delta_id}")
    return delta_id


def write_shard(df: DataFrame, path: str, shard: str) -> None:
    """Write ``df`` as the ``shard=`` partition of the parquet table
    at ``path``, replacing whatever that shard held: delete, append,
    refresh.  An empty ``df`` leaves the shard empty, so a replay
    that now produces nothing never keeps stale rows."""
    spark = df.sparkSession
    delete_path(spark, f"{path}/shard={check_partition_value(shard)}")
    (df.withColumn("shard", F.lit(shard))
       .write.mode("append").partitionBy("shard").parquet(path))
    spark.catalog.refreshByPath(path)


def stream_batch_keys(spark, batch_id: int) -> tuple[str, str]:
    """(shard, delta) for micro-batch ``batch_id`` of the streaming
    query running this ``foreachBatch`` call: the output shard is
    ``batch-{batch_id:09d}`` and the store delta appends the query id
    (``sql.streaming.queryId``, stable across restarts from one
    checkpoint).  A second query over the same store starts its batch
    ids at 0 again; the query id keeps it from deleting, or probing
    past, the first query's deltas.  Outside a streaming query (a
    direct call) the delta is the shard."""
    shard = f"batch-{batch_id:09d}"
    query_id = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
    return shard, shard if query_id is None else f"{shard}-{query_id}"


def require_delta_level(spark, root: str) -> None:
    """Raise ``ValueError`` if the store at ``root`` holds partitions
    without a ``delta=`` level — a layout written before the store
    gained one.  Appending a delta beside it would mix two layouts,
    so such a store must be rebuilt."""
    root = root.rstrip("/")
    if (_first(spark, root + _LEVEL) is not None
            and _first(spark, f"{root}/delta=*") is None):
        raise ValueError(f"{root} has no delta= level: written by an "
                         "older layout (rebuild the store)")


def _glob(spark, pattern: str):
    """Hadoop ``globStatus`` of ``pattern`` on the driver — a
    filesystem call, not a Spark job.  The raw Java array (empty when
    nothing matches), so callers that need one hit pay one py4j call,
    not one per match."""
    fs, p = _fs_path(spark, pattern)
    hits = fs.globStatus(p)
    return [] if hits is None else hits


def _paths(spark, pattern: str) -> list[str]:
    return sorted(h.getPath().toString() for h in _glob(spark, pattern))


def _first(spark, pattern: str) -> str | None:
    hits = _glob(spark, pattern)
    return hits[0].getPath().toString() if len(hits) else None


def _levels_above(spark, root: str, column: str) -> str | None:
    """The glob between ``root`` and its ``column=`` directories
    (``""`` for a store partitioned by ``column`` alone, ``"/*=*"``
    under a ``delta`` level), found by walking down one directory per
    level; None when the store holds no partition directory."""
    stem, path = "", root
    while (first := _first(spark, path + _LEVEL)) is not None:
        if first.rsplit("/", 1)[1].startswith(column + "="):
            return stem
        stem, path = stem + _LEVEL, first
    return None


def read_partitions(spark, root: str, column: str, values,
                    schema=None,
                    exclude_delta: str | None = None) -> DataFrame:
    """The rows of the parquet store at ``root`` whose partition
    ``column`` is in ``values``, reading and LISTING only those
    partitions — the probe side of every persisted index.

    ``spark.read.parquet(root).where(col.isin(values))`` prunes the
    files a scan reads, but building its relation lists every
    partition directory of the store first — past
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32)
    directories, as a Spark job of one task per directory, on every
    probe.  Here the driver globs the probed directories
    (``root/delta=*/column={v1,v2,...}``; levels above ``column`` are
    found from the directory names) through the Hadoop FS API and
    reads them with ``basePath=root``: O(probed partitions x deltas)
    directories are listed.  The literal ``.where(col.isin(values))``
    stays, so plans still show it in ``PartitionFilters``; with
    ``exclude_delta`` a literal ``delta != exclude_delta`` filter
    joins it.  Each call lists afresh, so appends are always seen.

    Columns and types are those of a full-root read: when no probed
    partition exists (or ``values`` is empty) one directory per
    upper-level value is read under the always-false filter, so the
    frame is empty but keeps the store's columns; partition levels
    above ``column`` (the ``delta`` key) are typed over ALL their
    values (a numeric-looking delta stays a string beside ``base``);
    ``column`` itself is typed from the directories read, which is
    the full-root type for integer bucket keys.  ``schema`` (DDL or
    StructType) fixes every type instead, and lets an empty store
    (no partition directory yet) read as an empty frame; without it
    an empty store raises as a full-root read does.

    ``values`` must render as their directory names (ints, or
    :func:`check_partition_value`-safe strings)."""
    root = root.rstrip("/")
    values = sorted({v for v in values if v is not None})
    reader = spark.read.option("basePath", root)
    if schema is not None:
        reader = reader.schema(schema)
    stem = _levels_above(spark, root, column)
    if stem is None:
        frame = reader.parquet(root)
    else:
        frame = _read_probed(spark, reader, root, stem, column, values,
                             retype=schema is None)
    frame = frame.where(F.col(column).isin(values))
    if exclude_delta is not None:
        frame = frame.where(F.col("delta") != F.lit(exclude_delta))
    return frame


def _read_probed(spark, reader, root: str, stem: str, column: str,
                 values: list, retype: bool) -> DataFrame:
    """:func:`read_partitions` over a store with partition directories:
    the frame of the probed directories (before the literal filters),
    or of one directory per upper-level value when none is probed."""
    def one_dir_per_upper_value(skip=()):
        uppers = _paths(spark, root + stem) if stem else [root]
        return [d for u in uppers if u not in skip
                if (d := _first(spark, f"{u}/{column}=*"))]

    wanted = ",".join(str(v) for v in values)
    dirs = (_paths(spark, f"{root}{stem}/{column}={{{wanted}}}")
            if values else [])
    if not dirs:
        return reader.parquet(*one_dir_per_upper_value())
    frame = reader.parquet(*dirs)
    levels = dirs[0].split("/")[-1 - stem.count(_LEVEL):-1]
    if retype and any(frame.schema[lv.split("=", 1)[0]].dataType
                      .typeName() != "string" for lv in levels):
        # a partial upper level can infer narrower than the full one
        # (delta "7" alone reads as int): type it over one directory
        # per value, then read the probed directories under that
        # schema
        extra = one_dir_per_upper_value({d.rsplit("/", 1)[0]
                                         for d in dirs})
        if extra:
            full = (spark.read.option("basePath", root)
                    .parquet(*dirs, *extra).schema)
            frame = reader.schema(full).parquet(*dirs)
    return frame
