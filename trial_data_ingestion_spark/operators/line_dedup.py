"""Corpus-wide exact line deduplication: every duplicated line is
removed from all but its first occurrence.

Training-data-pipeline tier.  Web and document corpora repeat whole
lines verbatim across pages — navigation bars, cookie banners,
footers, quoted headers — and the C4 / RefinedWeb line of cleaning
pipelines removes repeated lines corpus-wide rather than per page.
This is the line-granularity sibling of
``substring_dedup.remove_repeated_substrings`` (which works on token
runs inside the line structure) and shares its shape:

  1. explode lines with positions (narrow);
  2. only *eligible* lines (trimmed length >= ``min_chars``) enter
     the keyed stage — blank lines and trivial short lines ("1.",
     "---") never shuffle at all and are always kept;
  3. per line key: corpus-first occurrence = lexicographic min of
     ``struct(doc, pos)``, computed with map-side partial
     aggregation (no per-line window sort, so a footer repeated a
     hundred million times cannot skew one task), kept only where
     the count exceeds one;
  4. every later occurrence joins back as a per-doc drop list; the
     rewrite is a native higher-order ``filter`` over the split
     array — documents with no duplicated lines pass through
     byte-identical and never reassemble.

Semantics: lines are the ``\\n``-separated segments of ``text_col``,
compared byte-exactly (leading/trailing whitespace distinguishes
keys; eligibility alone uses the trimmed length).  The kept lines
are re-joined with ``\\n`` preserving original order and any blank
segments, so a doc that loses no lines is byte-identical and one
that loses some keeps every other byte.

Scale notes (100 TB):
  * ``hash_lines=True`` (default) folds each eligible line to
    ``xxhash64`` before the shuffle — 8 bytes of shuffle width per
    occurrence instead of the line text.  A 64-bit collision merges
    two distinct lines (dropping a non-duplicated one) with
    probability ~#lines^2 / 2^65; set ``hash_lines=False`` for the
    exact-string variant (the DuckDB parity test runs both).
  * step 3 is skew-proof by partial aggregation; the join in step 4
    probes with AQE skew splitting enabled.
  * the drop-list rejoining each doc carries only duplicated
    positions — tiny against the corpus — on the doc key.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trial_data_ingestion_spark.session import ensure_parallelism
from trial_data_ingestion_spark.store import (
    check_partition_value, read_params, read_partitions, write_store,
)


def duplicated_line_occurrences(df: DataFrame, id_col: str = "doc_id",
                                text_col: str = "text",
                                min_chars: int = 10,
                                hash_lines: bool = True,
                                sep: str = "\n") -> DataFrame:
    """(doc, pos) of every eligible line occurrence that is NOT the
    corpus-wide first occurrence of its line — what ``line_dedup``
    drops.  pos is the 0-based segment index within the document
    (segments are ``sep``-separated; see :func:`line_dedup`)."""
    occ = (ensure_parallelism(df.select(id_col, text_col))
           .select(F.col(id_col).alias("doc"),
                   F.posexplode(F.split(text_col, _re.escape(sep), -1))
                    .alias("pos", "line"))
           .where(F.length(F.trim("line")) >= min_chars))
    if hash_lines:
        occ = occ.withColumn("line", F.xxhash64("line"))
    firsts = (occ.groupBy("line")
              .agg(F.min(F.struct("doc", "pos")).alias("__first"),
                   F.count(F.lit(1)).alias("__cnt"))
              .where(F.col("__cnt") > 1)
              .select("line", "__first"))
    return (occ.join(firsts, "line")
            .where((F.col("doc") != F.col("__first.doc"))
                   | (F.col("pos") != F.col("__first.pos")))
            .select("doc", "pos"))


def _eligible_occurrences(df: DataFrame, id_col: str, text_col: str,
                          min_chars: int) -> DataFrame:
    """(doc, pos, line=xxhash64) for every eligible line occurrence
    (trimmed length >= min_chars) — the hashed scale path's unit."""
    return (ensure_parallelism(df.select(id_col, text_col))
            .select(F.col(id_col).alias("doc"),
                    F.posexplode(F.split(text_col, "\n", -1))
                     .alias("pos", "line"))
            .where(F.length(F.trim("line")) >= min_chars)
            .withColumn("line", F.xxhash64("line")))


def _apply_drops(df: DataFrame, dups: DataFrame, id_col: str,
                 text_col: str, sep: str = "\n") -> DataFrame:
    """Shared rewrite: join the (doc, pos) drop list per doc, filter
    the split array natively, count removals.  Docs with no drops
    pass through byte-identical."""
    drops = (dups.groupBy(F.col("doc").alias(id_col))
             .agg(F.collect_list("pos").alias("__drop")))
    out = df.join(drops, id_col, "left")
    kept = F.filter(F.split(text_col, _re.escape(sep), -1),
                    lambda l, i: ~F.array_contains("__drop", i))
    return (out.withColumn(
                "n_removed_lines",
                F.coalesce(F.size("__drop"), F.lit(0)).cast("long"))
            .withColumn(
                text_col,
                F.when(F.col("__drop").isNull(), F.col(text_col))
                 .otherwise(F.array_join(kept, sep)))
            .drop("__drop"))


def _write_lines(keys: DataFrame, path: str, params: dict,
                 delta: str | None = None) -> None:
    """Write distinct line keys into ``path/lines`` under ``pbkt``
    (``store.write_store``: ``delta=None`` builds and records
    ``params``)."""
    write_store(keys.sparkSession, path, {"lines": (
        keys.withColumn("pbkt", F.pmod(F.col("line"),
                                       F.lit(params["num_buckets"]))),
        ["pbkt"])}, params, delta)


def write_line_index(df: DataFrame, path: str, id_col: str = "doc_id",
                     text_col: str = "text", min_chars: int = 10,
                     num_buckets: int = 64,
                     delta: str | None = None) -> None:
    """Persist the corpus's eligible-line key set: DISTINCT xxhash64
    line keys under ``lines/``, partitioned by ``delta`` (``base`` for
    the build) then ``pbkt = pmod(key, num_buckets)``, with
    (min_chars, num_buckets) in the root's ``_params.json`` sidecar.
    This is line dedup's entire standing state — 8 bytes per distinct
    line, append-friendly, probe-prunable — the incremental-tier
    sibling of the MinHash band store (incremental_dedup.py).

    The write is ``store.write_store``'s: ``delta=None`` builds,
    ``delta=<id>`` adds the keys as that delta (a retry with the same
    id rewrites it), ``delta=store.new_delta()`` as a random one, after
    validating ``min_chars``/``num_buckets`` against the stored
    params (a mismatch raises: keys bucketed differently are never
    probed); the params themselves are fixed at build time."""
    _write_lines(_eligible_occurrences(df, id_col, text_col, min_chars)
                 .select("line").distinct(), path,
                 {"min_chars": min_chars, "num_buckets": num_buckets},
                 delta)


def probe_line_store(spark, occ: DataFrame, index_path: str,
                     num_buckets: int,
                     exclude_delta: str | None = None) -> DataFrame:
    """Distinct batch line keys already present in the store: only
    the partitions named by the batch's own bucket hashes are listed
    and scanned (``store.read_partitions``; the literal
    ``pbkt`` filter shows as ``PartitionFilters``) with the batch's
    distinct keys broadcast, so the store side never shuffles.
    ``exclude_delta`` leaves one delta out of the read."""
    probe = (occ.select("line").distinct()
             .withColumn("pbkt", F.pmod(F.col("line"),
                                        F.lit(num_buckets))))
    pbkts = sorted(r["pbkt"]
                   for r in probe.select("pbkt").distinct().collect())
    store = read_partitions(spark, index_path, "pbkt", pbkts, "lines",
                            exclude_delta=exclude_delta)
    return (store.join(F.broadcast(probe), ["line", "pbkt"],
                       "left_semi")
            .select("line").distinct())


def line_dedup_incremental(spark, new_docs: DataFrame, index_path: str,
                           id_col: str = "doc_id",
                           text_col: str = "text",
                           delta: str | None = None) -> DataFrame:
    """Delta-batch line dedup against a persisted line store: a batch
    occurrence is dropped iff its line is already IN the store
    ("store wins" — persisted text is never retracted) or it is not
    the batch-first occurrence of a store-new line.  With a ``delta``
    id the surviving first-occurrence keys extend the store as that
    delta, so the next batch sees them; ``delta=None`` only probes.

    EQUAL to re-running :func:`line_dedup` (hashed path) over
    corpus + batch and keeping the batch docs, whenever corpus doc
    ids order before batch ids — the append-flow invariant every
    incremental path here shares.

    Rerun semantics match ``incremental_dedup.dedup_minhash_incremental``:
    the probe ignores ``delta`` and the append deletes that delta
    first, so a retry, or a replayed micro-batch, with the same id
    reproduces its first decision (instead of finding its own lines
    already stored) and rewrites its delta.

    Scale: only the store partitions named by the batch's own bucket
    hashes are listed and scanned (:func:`probe_line_store`) with the
    batch's distinct keys broadcast; store-side data never shuffles,
    and the per-batch cost is O(batch lines + matched keys)."""
    if delta is not None:
        check_partition_value(delta, "delta")
    params = read_params(spark, index_path)
    min_chars, num_buckets = params["min_chars"], params["num_buckets"]
    occ = _eligible_occurrences(new_docs, id_col, text_col,
                                min_chars).localCheckpoint()
    # materialized once: reused by the drop predicate AND the append
    # branch — without the checkpoint each use re-scans the store
    seen = probe_line_store(spark, occ, index_path, num_buckets,
                            delta).localCheckpoint()
    firsts = (occ.groupBy("line")
              .agg(F.min(F.struct("doc", "pos")).alias("__first")))
    dups = (occ.join(seen.withColumn("__seen", F.lit(True)),
                     "line", "left")
            .join(firsts, "line")
            .where(F.col("__seen").isNotNull()
                   | (F.col("doc") != F.col("__first.doc"))
                   | (F.col("pos") != F.col("__first.pos")))
            .select("doc", "pos"))
    if delta is not None:
        _write_lines(firsts.join(seen, "line", "left_anti")
                     .select("line").distinct(), index_path, params,
                     delta)
    return _apply_drops(new_docs, dups, id_col, text_col)


def line_dedup(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", min_chars: int = 10,
               hash_lines: bool = True, sep: str = "\n") -> DataFrame:
    """Rewrite ``text_col`` with corpus-duplicated segments removed
    (first occurrence kept), adding ``n_removed_lines``.  All other
    columns pass through; documents with no duplicated segments keep
    ``text_col`` byte-identical.

    ``sep`` sets the dedup granularity: the default ``"\\n"`` is
    line-level; ``sep="\\n\\n"`` is PARAGRAPH-level (RefinedWeb
    removes duplicated paragraphs as well as lines — quoted blocks
    and legal boilerplate repeat as whole paragraphs whose individual
    lines may be too short for the line pass).  ``sep`` is a literal
    separator, compared byte-exactly like the segments themselves;
    note a paragraph pass re-joins with exactly ``sep``, so docs
    whose paragraphs were separated by 3+ newlines are normalized
    where a segment was actually removed (drop-free docs are
    byte-identical as always)."""
    dups = duplicated_line_occurrences(df, id_col, text_col,
                                       min_chars, hash_lines, sep)
    return _apply_drops(df, dups, id_col, text_col, sep)


def dedup_lines_within_doc(df: DataFrame, text_col: str = "text",
                           min_chars: int = 10,
                           sep: str = "\n") -> DataFrame:
    """Remove repeated segments WITHIN each document (first occurrence
    kept) — the per-page boilerplate pass that needs no corpus state
    at all: scrapers frequently duplicate nav blocks, quoted headers,
    and pagination rows inside one page, and dropping those must not
    wait for (or shuffle with) the corpus-wide pass.

    Pure narrow projection: split, keep position ``i`` iff it is the
    first occurrence of its segment (``array_position`` over the
    prefix) or the segment is short/blank (always kept, mirroring
    :func:`line_dedup` eligibility), re-join.  O(lines²) per document
    in the worst case — lines-per-doc is small and bounded, and the
    constant is a codegen string compare, so this never approaches
    the cost of a shuffle.  Adds ``n_removed_lines_doc``; drop-free
    docs stay byte-identical.  Composes BEFORE the corpus-wide pass:
    within-doc first, then corpus-wide on the cleaned text."""
    arr = F.split(F.col(text_col), _re.escape(sep), -1)
    keep_flags = F.transform(
        arr, lambda line, i:
            (F.length(F.trim(line)) < min_chars)
            | (F.array_position(arr, line) == i + 1))
    kept = F.zip_with(arr, keep_flags,
                      lambda line, k: F.when(k, line))
    return (df.withColumn(
                "n_removed_lines_doc",
                F.size(F.filter(keep_flags, lambda k: ~k))
                 .cast("long"))
            .withColumn(
                text_col,
                F.when(F.col("n_removed_lines_doc") == 0,
                       F.col(text_col))
                 .otherwise(F.array_join(
                     F.filter(kept, lambda x: x.isNotNull()), sep))))
