"""The one contract every persisted store follows (the MinHash, SRP,
IVF, PQ, IVF-PQ, line, perceptual-hash and HLL layouts, the upsert
table, the streaming sinks' output shards, and the trained models:
BPE merges, unigram pieces, clustering codebooks):

* **params sidecar** — a store's build-time parameters AND its
  ``layout`` live in one ``_params.json`` file at its root, written
  and read on the driver through the Hadoop FS API (no Spark job):
  :func:`write_params` after the data write, :func:`read_params`
  (with ``expect=`` to validate a caller's values, ``layout=`` to
  validate the frames an append is about to write) before any probe
  or append;
* **driver-sized state** — what the driver already holds (a model's
  merge table or pieces, PQ codebooks, the centroids an IVF or
  IVF-PQ index assigns with) is recorded in the sidecar too, never
  as a Spark-written table: a driver frame as :func:`frame_entry`
  (its DDL and rows), read back as a local frame by
  :func:`entry_frame`.  A model is a root holding only its sidecar:
  loading one runs no Spark job, and saving one none beyond the
  collect of a frame it records;
* **recorded layout** — the writer that decides a layout records it
  once (a build, or :func:`open_store` for a store its first write
  builds): for each sub-table (``""`` for the root, or ``bands``,
  ``docs``, ``lines``, ``codes``) the schema a full-root read returns
  and the ``partition_by`` column order (:func:`layout_of`).  Readers
  never infer or spell a schema: :func:`read_table` reads a whole
  sub-table, :func:`read_partitions` the partitions a probe names;
* **sized partitions, one file each** — a keyed store partitions by
  ``delta`` then a coarse bucket of its key (``pbkt``, ``dbkt``,
  ``cell_id``, ``__bucket``), never by the key itself: the bucket
  count (:func:`index_auto_buckets` for the MinHash and SRP indexes,
  each at its own rows per partition) is recorded as
  ``num_buckets``, and :func:`write_partitioned`
  writes every partition directory as exactly one file;
* **keyed delta write** — :func:`write_store` is every
  delta-levelled store's write (the MinHash, SRP, line, phash and IVF
  layouts): each sub-table is partitioned by ``delta`` then its key
  bucket; a build (``delta=None``) overwrites the root as delta
  ``base`` and records the params and the layout; an append
  (``delta=<id>``, or :func:`new_delta` for a random one) validates
  against the sidecar, deletes that delta under every sub-table and
  appends, so a retried append rewrites itself.  :func:`compact`
  folds every delta of such a store back into ``base``;
* **keyed shard write** — :func:`write_shard` rewrites one
  ``shard=`` partition by delete-then-append, so a replayed
  micro-batch leaves its output exactly once;
* **one batch sink** — :func:`batch_sink` builds every
  ``foreachBatch`` sink: :func:`batch_key` names a micro-batch's
  output shard AND its store delta with one key, the decision (with
  its delta append) runs first and :func:`write_shard` last, so every
  sink replays, restarts and shares an ``out_path`` the same way.

The ``layout`` and the recorded driver state are on-disk format
breaks: a store, index or model written before them is refused by
its first load, probe or append ("rebuild the store"), and no reader
for the older layouts is kept.
"""

from __future__ import annotations

import json
import math
import re
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from trial_data_ingestion_spark.session import local_frame

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


def _table_path(root: str, table: str) -> str:
    """The directory of sub-table ``table`` (``""``: the root)."""
    return f"{root.rstrip('/')}/{table}".rstrip("/")


def delete_path(spark, path: str) -> None:
    """Recursively delete ``path`` through the Hadoop FS API (so it
    works against whatever filesystem Spark is configured for, not
    just local disk) and drop any cached listing of it.  The shared
    primitive behind the idempotent shard/delta overwrite pattern:
    delete-your-own-partition, then (re)write it."""
    fs, p = _fs_path(spark, path)
    fs.delete(p, True)
    spark.catalog.refreshByPath(path)


def layout_of(df: DataFrame, partition_by) -> dict:
    """The layout entry of ``df`` written ``partitionBy(*partition_by)``:
    the schema a full-root read returns, as DDL (data columns in
    ``df``'s order, then the partition columns in ``partition_by``
    order, every field nullable, integer partition keys typed ``int``
    as partition inference types them — ``pmod(xxhash64)`` yields
    ``long``) and ``partition_by``.  Computed from ``df``'s analyzed
    schema: no Spark job."""
    by = list(partition_by)
    out = df.select(*(c for c in df.columns if c not in by), *(
        F.col(c).cast("int")
        if isinstance(df.schema[c].dataType, T.IntegralType) else c
        for c in by))
    # asNullable: the same all-nullable rewrite a parquet read applies
    return {"schema": out._jdf.schema().asNullable().toDDL(),
            "partition_by": by}


#: docs per index bucket targeted by :func:`index_auto_buckets`: ~2 KB
#: documents land the bucket files near a 100 MB floor.
INDEX_DOCS_PER_BUCKET = 50_000


def index_auto_buckets(n_docs: int,
                       per_bucket: int = INDEX_DOCS_PER_BUCKET) -> int:
    """Scale-adaptive bucket count for the persisted index layouts:
    a power of two targeting ``per_bucket`` docs per bucket, clamped
    to [8, 65536].

    Why not a constant: ``num_buckets`` is simultaneously the probe's
    pruning granularity, the file count per delta, and the listing
    cost of EVERY index read — a constant tuned for one scale is
    wrong at every other.  The r11 default (64) was sized for the
    scale tiers; at bench scale (4k docs) it made every probe job
    list/read 64 near-empty files and every delta append write up to
    128 of them — measured at sf0.1: probe 5.72 s -> 3.95 s and 2x
    delta append 6.71 s -> 3.47 s with 8 buckets, identical
    survivors.  At 100 TB the same rule yields tens of thousands of
    buckets, keeping pruned probe reads bounded instead of scanning
    a 64th of the corpus per bucket."""
    if n_docs <= 0:
        return 8
    return max(8, min(65536,
                      1 << math.ceil(math.log2(
                          max(1, n_docs / per_bucket)))))


def write_partitioned(df: DataFrame, path: str, partition_by,
                      mode: str, **options) -> None:
    """Write ``df`` as the parquet table at ``path``, partitioned by
    ``partition_by``, with exactly one file per partition directory:
    the rows are hash-repartitioned on the innermost partition column
    first, which all rows of one directory share, so each directory's
    rows sit in one write task (the outer ``delta`` holds one value
    per write, so hashing it too would only move rows).  Without it
    every task writes a file into every directory it holds rows for
    (tasks x directories small files, measured 8x slower to write and
    to probe).  ``options`` are per-write options (the upsert's
    dynamic partition overwrite).  The cached listing of ``path`` is
    dropped afterwards, so later reads never resolve replaced
    files."""
    by = list(partition_by)
    (df.repartition(by[-1]).write.mode(mode).options(**options)
       .partitionBy(*by).parquet(path))
    df.sparkSession.catalog.refreshByPath(path)


def write_params(spark, root: str, params: dict) -> None:
    """Record a store's build-time ``params`` (with its ``layout``:
    sub-table -> :func:`layout_of` entry) as ``root/_params.json`` (a
    driver-side file write, not a Spark job).  Call it AFTER the data
    write: a static overwrite of ``root`` deletes the root."""
    fs, p = _fs_path(spark, f"{root.rstrip('/')}/_params.json")
    out = fs.create(p, True)
    try:
        out.write(bytearray(json.dumps(params, sort_keys=True).encode()))
    finally:
        out.close()


def _sidecar(spark, root: str) -> dict:
    """Everything ``root/_params.json`` records.  A missing,
    unparseable or truncated sidecar raises ``ValueError`` naming its
    path — never a default, which would silently probe buckets keyed
    differently."""
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
    return params


def recorded(root: str, params: dict, key: str):
    """``params[key]``, where ``params`` came from the sidecar of
    ``root``; a sidecar that lacks ``key`` was written by an older
    layout, so it raises ("rebuild the store")."""
    if key not in params:
        raise ValueError(f"{root} records no {key} in its params "
                         "sidecar: written by an older layout "
                         "(rebuild the store)")
    return params[key]


def frame_entry(df: DataFrame) -> dict:
    """A driver-sized frame as a sidecar entry: its schema as DDL and
    its rows (one collect; none when ``df`` is a local frame)."""
    return {"schema": df.schema.toDDL(),
            "rows": [list(r) for r in df.collect()]}


def entry_frame(spark, entry: dict) -> DataFrame:
    """The :func:`local_frame` a :func:`frame_entry` recorded: same
    rows, same column types; building or collecting it runs no job."""
    return local_frame(spark, entry["rows"], entry["schema"])


def read_params(spark, root: str, expect: dict | None = None,
                layout: dict | None = None) -> dict:
    """The build params :func:`write_params` recorded for the store at
    ``root``, without its ``layout``.  ``expect`` maps keys to the
    caller's values; any that differ from the stored ones raise, since
    a store's params are fixed at build time.  ``layout`` maps
    sub-tables to the :func:`layout_of` of the frames the caller is about
    to write; a column name or type that differs from the recorded
    layout raises (nullability aside: both sides are all-nullable), as
    does a store that records no layout."""
    root = root.rstrip("/")
    params = _sidecar(spark, root)
    bad = sorted(k for k, v in (expect or {}).items()
                 if params.get(k) != v)
    if bad:
        def show(d):
            return ", ".join(f"{k}={d.get(k)}" for k in bad)
        raise ValueError(
            f"{root} stores {show(params)}, caller passed "
            f"{show(expect)} (stored params are fixed at build time: "
            "rebuild to resize)")
    if layout is not None:
        stored = recorded(root, params, "layout")
        for table, entry in layout.items():
            if stored.get(table) != entry:
                raise ValueError(
                    f"{root} stores table {table!r} as "
                    f"{stored.get(table)}, caller writes {entry} (a "
                    "store's layout is fixed at build time)")
    return {k: v for k, v in params.items() if k != "layout"}


def open_store(spark, root: str, params: dict, layout: dict) -> bool:
    """For a store its first write builds (the HLL sketch table, the
    upsert table): validate ``params`` and ``layout`` against the
    sidecar of an existing ``root`` (:func:`read_params`; a root
    without a sidecar raises), or record them for a new one before its
    first data write.  True when ``root`` already existed."""
    fs, p = _fs_path(spark, root)
    if fs.exists(p):
        read_params(spark, root, params, layout)
        return True
    write_params(spark, root, {**params, "layout": layout})
    return False


def new_delta() -> str:
    """A random ``d-…`` delta id.  An append to a random delta is
    at-most-once (don't retry it)."""
    return "d-" + uuid.uuid4().hex[:12]


def write_store(spark, root: str, tables: dict, params: dict,
                delta: str | None = None) -> None:
    """The keyed-delta write of a delta-levelled store at ``root``.
    ``tables`` maps each sub-table (``""`` for the root) to ``(frame,
    cols)``: its rows, written partitioned by ``["delta", *cols]``,
    one file per partition directory (:func:`write_partitioned`).

    ``delta=None`` builds: every row lands in delta ``base``, each
    sub-table is overwritten, and then ``params`` and the layout are
    recorded in the sidecar.  ``delta=<id>`` appends as that delta
    (:func:`new_delta` for a random one): the append is validated
    against the sidecar first (``params`` and the layout must match
    what the build recorded, so a store is never extended with rows
    keyed differently, and the sidecar is never rewritten), then that
    delta is deleted under every sub-table and written afresh.  So an
    append retried with the same id rewrites itself (whole-call
    idempotent), while an append to a random delta is at-most-once.
    A refused append changes nothing on disk."""
    if delta == "base":
        raise ValueError("delta 'base' is the build's: append as "
                         "another id, or build with delta=None")
    name = "base" if delta is None else check_partition_value(delta,
                                                              "delta")
    frames = {table: (df.withColumn("delta", F.lit(name)),
                      ["delta", *cols])
              for table, (df, cols) in tables.items()}
    layout = {table: layout_of(df, by)
              for table, (df, by) in frames.items()}
    if delta is not None:
        read_params(spark, root, params, layout)
        for table in layout:
            delete_path(spark, f"{_table_path(root, table)}/delta={name}")
    for table, (df, by) in frames.items():
        write_partitioned(df, _table_path(root, table), by,
                          "overwrite" if delta is None else "append")
    if delta is None:
        # AFTER the data write: a static overwrite of the root
        # deletes the whole root, sidecar included
        write_params(spark, root, {**params, "layout": layout})


def compact(spark, root: str, out_path: str) -> None:
    """Rewrite the delta-levelled store at ``root`` as a new store at
    ``out_path``, every delta folded back into ``base``, one file per
    partition directory again, under the recorded layout; the sidecar
    is copied (:func:`write_params` writes it byte for byte as the
    build did).  Frequent small appends leave one directory
    per delta under every partition, and probe cost grows with the
    file count, not the data; compaction re-hashes nothing.
    ``out_path`` must differ from ``root``: swapping the new root in
    (by rename) is the caller's step, which keeps the rewrite atomic
    and clear of Spark's cached listing of ``root``."""
    if out_path.rstrip("/") == root.rstrip("/"):
        raise ValueError("compact: out_path must differ from root "
                         "(atomic swap by rename is the caller's step)")
    params = _sidecar(spark, root)
    layout = recorded(root, params, "layout")
    flat = sorted(t for t, e in layout.items()
                  if e["partition_by"][:1] != ["delta"])
    if flat:
        raise ValueError(f"{root} has no delta level in sub-tables "
                         f"{flat}: nothing to compact")
    for table, entry in layout.items():
        write_partitioned(read_table(spark, root, table)
                          .withColumn("delta", F.lit("base")),
                          _table_path(out_path, table),
                          entry["partition_by"], "overwrite")
    write_params(spark, out_path, params)


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


def batch_key(spark, batch_id: int) -> str:
    """The key of micro-batch ``batch_id``: ``batch-{batch_id:09d}``
    followed by the id of the streaming query running this
    ``foreachBatch`` call (``sql.streaming.queryId``, stable across
    restarts from one checkpoint), or alone outside a streaming query
    (a direct call).  A second query over the same store or
    ``out_path`` starts its batch ids at 0 again; the query id keeps
    it from deleting, or probing past, the first query's batches."""
    key = f"batch-{batch_id:09d}"
    query_id = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
    return key if query_id is None else f"{key}-{query_id}"


def batch_sink(decide, out_path: str):
    """The ``foreachBatch`` function of a sink writing one shard per
    micro-batch under ``out_path``.  ``decide(batch_df, key)`` returns
    the batch's output frame, after appending any store delta as
    ``key`` (a probe that excludes ``key``, so a replay repeats its
    first decision); then :func:`write_shard` rewrites shard ``key``
    of ``out_path``.  Both writes are keyed by :func:`batch_key`, so a
    replayed batch rewrites its own delta and shard: exactly-once
    output over a replayable source.  The shard write comes last and
    is the one place a fault test needs to break."""
    def sink(batch_df: DataFrame, batch_id: int) -> None:
        key = batch_key(batch_df.sparkSession, batch_id)
        write_shard(decide(batch_df, key), out_path, key)

    return sink


def read_partitions(spark, root: str, column: str, values,
                    table: str = "",
                    exclude_delta: str | None = None) -> DataFrame:
    """The rows of sub-table ``table`` of the store at ``root`` whose
    partition ``column`` is in ``values``, reading and LISTING only
    those partitions — the probe side of every persisted index.
    Building the frame runs no Spark job while the probe names at most
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32)
    directories; past that, Spark lists them in one parallel job.

    ``spark.read.parquet(root).where(col.isin(values))`` prunes the
    files a scan reads, but building its relation lists every
    partition directory of the store first (past the threshold, as a
    Spark job of one task per directory, on every probe) and infers
    the schema from a footer in one more job.  Here the sidecar's
    recorded layout gives both: the driver globs the probed
    directories at the depth ``partition_by`` puts ``column``
    (``delta=*/column={v1,v2,...}``) through the Hadoop FS API and
    reads them with ``basePath`` under the recorded schema, so
    O(probed partitions x deltas) directories are listed and the
    columns and types are those of a full-root read (a numeric-looking
    delta stays a string).  When no directory matches (or ``values``
    is empty) the frame is an empty :func:`local_frame` of the recorded
    schema, so collecting it runs no job either.  The literal
    ``.where(col.isin(values))`` stays, so plans still show it in
    ``PartitionFilters``; with ``exclude_delta`` a literal
    ``delta != exclude_delta`` filter joins it.  Each call lists
    afresh, so appends are always seen.  A store without a recorded
    layout raises (rebuild it).

    ``values`` must render as their directory names (ints, or
    :func:`check_partition_value`-safe strings)."""
    root = root.rstrip("/")
    entry = recorded(root, _sidecar(spark, root), "layout")[table]
    base = _table_path(root, table)
    values = sorted({v for v in values if v is not None})
    wanted = ",".join(str(v) for v in values)
    depth = entry["partition_by"].index(column)
    fs, pattern = _fs_path(
        spark, f"{base}{_LEVEL * depth}/{column}={{{wanted}}}")
    # the Hadoop glob runs on the driver: a filesystem call, no job
    hits = fs.globStatus(pattern) if values else None
    dirs = sorted(h.getPath().toString() for h in hits or [])
    frame = (spark.read.schema(entry["schema"]).option("basePath", base)
             .parquet(*dirs) if dirs
             else local_frame(spark, [], entry["schema"]))
    frame = frame.where(F.col(column).isin(values))
    if exclude_delta is not None:
        frame = frame.where(F.col("delta") != F.lit(exclude_delta))
    return frame


def read_table(spark, root: str, table: str = "") -> DataFrame:
    """Every row of sub-table ``table`` of the store at ``root``: the
    full-root read, under the recorded layout's schema, so building it
    runs no schema-inference job (Spark still lists the partition
    directories, in one parallel job past
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` of them
    at one level).  The columns and types are those
    :func:`read_partitions` returns.  A store without a recorded
    layout raises (rebuild it)."""
    root = root.rstrip("/")
    entry = recorded(root, _sidecar(spark, root), "layout")[table]
    return spark.read.schema(entry["schema"]).parquet(
        _table_path(root, table))
