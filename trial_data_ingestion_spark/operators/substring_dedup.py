"""Exact repeated-substring removal: delete duplicated token runs
from a corpus while keeping their first occurrence.

North-star training-data-pipeline tier.  Document- (dedup.py) and
chunk-level dedup miss text duplicated INSIDE otherwise-distinct
documents — boilerplate headers, license blocks, quoted passages —
which published work (the "Deduplicating Training Data" line of
research and its suffix-array ExactSubstr tool) shows measurably
hurts trained models.  This module is the Spark-native adaptation:
instead of a monolithic suffix array over the concatenated corpus
(inherently single-machine), duplication is detected at token-n-gram
granularity (n=50 tokens by convention, matching the published
threshold) with one keyed aggregation:

  1. explode every token position's n-gram (narrow);
  2. per gram: total count + the lexicographically-first occurrence
     ``struct(doc, pos)`` — ONE shuffle with map-side partial
     aggregation, so a gram duplicated a million times still combines
     per-partition first (no skewed window sort);
  3. every occurrence that is not its gram's first marks the token
     span ``[pos, pos + n)`` for removal;
  4. per document, drop tokens covered by any marked span — a native
     higher-order ``exists`` filter, no span-merge bookkeeping
     needed because coverage composes over overlaps.

Semantics: any duplicated run of >= n tokens is removed from every
occurrence except the corpus-wide first (ties impossible — (doc,
pos) is unique).  Runs shorter than n survive.  As in the published
ExactSubstr setup, adjacent/overlapping duplicate grams fuse into one
removed region naturally.  Output text is the kept tokens rejoined
with single spaces (the module operates on the whitespace token
stream, like token_count/chunk_by_tokens).

Scale notes (100 TB):
  * the gram table is ~n x corpus tokens; ``hash_grams=True``
    (default) folds each gram to ``xxhash64`` before the shuffle so
    shuffle width is 8 bytes + position, not 50 tokens of text.  A
    64-bit collision merges two unrelated grams (removing a
    non-duplicated span) with probability ~#grams^2 / 2^65 —
    negligible against corpora many orders below 2^32 grams; set
    ``hash_grams=False`` for the exact-string variant (the DuckDB
    parity test runs both).
  * step 2's aggregate is skew-proof by partial aggregation; nothing
    else groups by gram.
  * the span list rejoining each doc is small (only duplicated
    positions), carried by one shuffle on the doc key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from trial_data_ingestion_spark.operators.textstats import token_grams
from trial_data_ingestion_spark.session import ensure_parallelism


def _ws_tokens(text: Column) -> Column:
    """Whitespace token stream (same contract as textstats.token_count
    / chunking.chunk_by_tokens)."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


def _gram_occurrences(df: DataFrame, id_col: str, text_col: str,
                      n: int, hash_grams: bool) -> DataFrame:
    """(doc, pos, g): every token position's n-gram.  pos is 0-based;
    docs with fewer than ``n`` tokens emit nothing (they cannot hold
    a duplicated n-run)."""
    grams = token_grams(_ws_tokens(F.col(text_col)), n)
    occ = (ensure_parallelism(df.select(id_col, text_col))
           .select(F.col(id_col).alias("doc"), grams.alias("__grams"))
           .select("doc", F.posexplode("__grams").alias("pos", "g")))
    if hash_grams:
        occ = occ.withColumn("g", F.xxhash64("g"))
    return occ


def repeated_ngram_occurrences(df: DataFrame, id_col: str,
                               text_col: str, n: int = 50,
                               hash_grams: bool = True) -> DataFrame:
    """(doc, pos) of every duplicated n-gram occurrence that is NOT
    the corpus-wide first occurrence of its gram — the spans
    ``remove_repeated_substrings`` deletes.

    First = lexicographic min of ``struct(doc, pos)`` per gram,
    computed with map-side combine (no per-gram window sort, so a
    boilerplate gram repeated millions of times cannot skew a
    task)."""
    occ = _gram_occurrences(df, id_col, text_col, n, hash_grams)
    firsts = (occ.groupBy("g")
              .agg(F.min(F.struct("doc", "pos")).alias("__first"),
                   F.count(F.lit(1)).alias("__cnt"))
              .where(F.col("__cnt") > 1)
              .select("g", "__first"))
    return (occ.join(firsts, "g")
            .where((F.col("doc") != F.col("__first.doc"))
                   | (F.col("pos") != F.col("__first.pos")))
            .select("doc", "pos"))


def remove_repeated_substrings(df: DataFrame, id_col: str,
                               text_col: str, n: int = 50,
                               hash_grams: bool = True) -> DataFrame:
    """Rewrite ``text_col`` with duplicated token runs removed (first
    occurrence kept), adding ``n_removed_tokens``.  Documents with no
    duplicated spans pass through byte-identical.

    The removal itself is a native higher-order filter: token i is
    dropped iff some marked span start s satisfies s <= i < s + n —
    overlapping spans compose with no interval merging."""
    dups = repeated_ngram_occurrences(df, id_col, text_col, n,
                                      hash_grams)
    spans = (dups.groupBy(F.col("doc").alias(id_col))
             .agg(F.collect_list("pos").alias("__spans")))
    out = df.join(spans, id_col, "left")
    toks = _ws_tokens(F.col(text_col))
    covered = lambda i: F.exists(                      # noqa: E731
        F.col("__spans"), lambda s: (i >= s) & (i < s + n))
    kept = F.filter(toks, lambda t, i: ~covered(i))
    return (out.withColumn(
                "n_removed_tokens",
                F.when(F.col("__spans").isNull(), F.lit(0))
                 .otherwise(F.size(toks) - F.size(kept)).cast("long"))
            .withColumn(
                text_col,
                F.when(F.col("__spans").isNull(), F.col(text_col))
                 .otherwise(F.array_join(kept, " ")))
            .drop("__spans"))
