"""Corpus-level analysis: vocabulary statistics and snapshot diffing.

North-star training-data-pipeline tier.  Two operational questions
every corpus owner asks between pipeline runs:

  * *what does the vocabulary look like* — token frequencies,
    type/token ratio, head coverage (is the corpus degenerate or
    diverse, did a scrape flood it with boilerplate tokens);
  * *what changed since the last snapshot* — docs added/removed, docs
    whose CONTENT changed under a stable id (upstream re-crawls,
    silent re-parses), so a training run can be pinned to an exact
    corpus state.

Both are pure DataFrame aggregations.  Scale: ``vocabulary_stats`` is
one shuffle keyed by token with map-side combine (the classic
word-count shape — shuffle volume is O(distinct tokens per
partition), not O(tokens)); ``corpus_diff`` is one full-outer join on
the id (content compared by fingerprint, so text never shuffles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trial_data_ingestion_spark.operators.textstats import fingerprint
from trial_data_ingestion_spark.session import local_frame


def vocabulary_stats(df: DataFrame, text_col: str = "text",
                     lowercase: bool = True) -> DataFrame:
    """(token, count, doc_freq) over the whitespace token stream —
    the corpus vocabulary table.  One word-count shuffle."""
    t = F.col(text_col)
    if lowercase:
        t = F.lower(t)
    toks = F.filter(F.split(F.trim(t), r"\s+"), lambda x: x != "")
    return (df.select(F.monotonically_increasing_id().alias("__doc"),
                      toks.alias("__toks"))
            .select("__doc", F.explode("__toks").alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("count"),
                 F.count_distinct("__doc").alias("doc_freq")))


def vocabulary_summary(df: DataFrame, text_col: str = "text",
                       top_k: int = 100) -> DataFrame:
    """One row: total tokens, distinct types, type/token ratio, and
    the fraction of all tokens covered by the ``top_k`` most frequent
    types (head coverage — boilerplate floods push it toward 1)."""
    vocab = vocabulary_stats(df, text_col)
    top = (vocab.orderBy(F.desc("count"), F.asc("token")).limit(top_k)
           .agg(F.sum("count").alias("__top")))
    return (vocab.agg(F.sum("count").alias("n_tokens"),
                      F.count(F.lit(1)).alias("n_types"))
            .crossJoin(F.broadcast(top))
            .select(
                "n_tokens", "n_types",
                F.round(F.col("n_types") / F.col("n_tokens"), 6)
                 .alias("type_token_ratio"),
                F.round(F.col("__top") / F.col("n_tokens"), 6)
                 .alias(f"top{top_k}_coverage")))


def approx_heavy_hitters(df: DataFrame, col: str,
                         support: float = 0.01) -> DataFrame:
    """Keys with frequency >= ~``support`` of the table, found by the
    two-phase pattern for EXTREME key cardinality (urls, grams) where
    even the exact ``groupBy`` of
    :func:`operators.skew.key_skew_report` is a giant shuffle:

      1. ``df.stat.freqItems`` (single pass, per-partition counting +
       merge, NO shuffle) yields a superset of candidates — it may
       over-report, never under-report;
      2. exact counts for the candidate set only: a broadcast
       semi-join then one tiny keyed aggregate, so the shuffle is
       O(candidate rows), not O(distinct keys).

    Returns (value, n_rows, share) for candidates whose EXACT share
    meets ``support``, heaviest first."""
    cands = [v for v in
             df.stat.freqItems([col], support).collect()[0][0]
             if v is not None]
    if not cands:
        return local_frame(df.sparkSession, [],
                           "value string, n_rows long, share double")
    total = df.count()
    exact = (df.where(F.col(col).isin(*cands))
             .groupBy(F.col(col).alias("value"))
             .agg(F.count(F.lit(1)).alias("n_rows"))
             .withColumn("share",
                         F.round(F.col("n_rows") / F.lit(total), 6))
             .where(F.col("share") >= support)
             .orderBy(F.desc("n_rows"), F.asc("value")))
    return exact


def duplicate_family_stats(pairs: DataFrame) -> DataFrame:
    """Forensics over a verified near-dup pair list (the output shape
    of minhash/jaccard/simhash/embedding dedup): one row per family
    size with the number of families and total docs involved — the
    histogram that distinguishes 'a few mirrored sites' from
    'systemic template spam'.  Uses the same two-regime connected
    components as removal, so it scales with the duplicate set."""
    from trial_data_ingestion_spark.operators.dedup import (
        connected_components_min_label,
    )
    labels = connected_components_min_label(pairs)
    fams = labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("family_size"))
    return (fams.groupBy("family_size")
            .agg(F.count(F.lit(1)).alias("n_families"),
                 F.sum("family_size").alias("n_docs"))
            .orderBy(F.desc("family_size")))


def vocabulary_drift(old: DataFrame, new: DataFrame,
                     text_col: str = "text") -> DataFrame:
    """Distributional drift between two corpus snapshots: one row
    with the Jensen-Shannon divergence (natural log; 0 = identical,
    ln 2 upper bound) between their token distributions, plus both
    vocabulary sizes and the shared-type count.

    A complement to :func:`corpus_diff` (which is per-document):
    vocabulary drift catches the slow changes document identity
    misses — a topic shift in replacement crawls, a new boilerplate
    flood — the signal that a quality model or LM filter
    (operators.ngram_lm) trained on the OLD snapshot needs refitting.
    One full-outer join of two word-count tables."""
    a = (vocabulary_stats(old, text_col)
         .select("token", F.col("count").alias("ca")))
    b = (vocabulary_stats(new, text_col)
         .select("token", F.col("count").alias("cb")))
    j = (a.join(b, "token", "full_outer")
         .select("token",
                 F.coalesce("ca", F.lit(0)).alias("ca"),
                 F.coalesce("cb", F.lit(0)).alias("cb")))
    tots = j.agg(F.sum("ca").alias("ta"), F.sum("cb").alias("tb"))
    p = F.col("ca") / F.col("ta")
    q = F.col("cb") / F.col("tb")
    m = (p + q) / 2
    # 0 * log(0/m) := 0 — guard each side independently
    kl_p = F.when(F.col("ca") > 0, p * F.log(p / m)).otherwise(0.0)
    kl_q = F.when(F.col("cb") > 0, q * F.log(q / m)).otherwise(0.0)
    return (j.crossJoin(F.broadcast(tots))
            .agg(F.round(F.sum((kl_p + kl_q) / 2), 6)
                  .alias("js_divergence"),
                 F.sum(F.when(F.col("ca") > 0, 1).otherwise(0))
                  .cast("long").alias("old_types"),
                 F.sum(F.when(F.col("cb") > 0, 1).otherwise(0))
                  .cast("long").alias("new_types"),
                 F.sum(F.when((F.col("ca") > 0) & (F.col("cb") > 0), 1)
                       .otherwise(0)).cast("long")
                  .alias("shared_types")))


def corpus_diff(old: DataFrame, new: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Per-document change status between two corpus snapshots:
    (id, status) with status in added / removed / changed /
    unchanged.  Content equality is by fingerprint (whitespace-
    normalized md5 — textstats.fingerprint), so the join carries a
    32-char hash per side, never the text."""
    o = old.select(F.col(id_col).alias("__id"),
                   fingerprint(F.col(text_col)).alias("__old_fp"))
    n = new.select(F.col(id_col).alias("__id"),
                   fingerprint(F.col(text_col)).alias("__new_fp"))
    status = (F.when(F.col("__old_fp").isNull(), "added")
              .when(F.col("__new_fp").isNull(), "removed")
              .when(F.col("__old_fp") != F.col("__new_fp"), "changed")
              .otherwise("unchanged"))
    return (o.join(n, "__id", "full_outer")
            .select(F.col("__id").alias(id_col),
                    status.alias("status")))


def corpus_diff_summary(old: DataFrame, new: DataFrame,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Counts per change status — the number a retrain decision
    actually reads."""
    return (corpus_diff(old, new, id_col, text_col)
            .groupBy("status")
            .agg(F.count(F.lit(1)).alias("n_docs")))


# --------------------------------------------------------------------
# KMV (k-minimum-values) sketches: cross-corpus overlap WITHOUT a join

def kmv_sketch(df: DataFrame, col: str, k: int = 1024) -> list:
    """KMV sketch of a column's value SET: the ``k`` smallest distinct
    ``xxhash64`` values (Bar-Yossef et al. 2002; the mergeable
    distinct/overlap sketch Theta sketches generalize).

    Scale shape: ``orderBy(h).limit(n)`` plans as TakeOrdered — a
    per-partition bounded heap merged on the driver, NO shuffle at
    any corpus size.  Duplicates are deduped driver-side from an
    8x over-draw; a draw where fewer than ``k`` distinct hashes
    survive (degenerate value sets) just yields a smaller effective
    sketch, which every estimator here handles by using the actual
    length."""
    rows = (df.select(F.xxhash64(F.col(col)).alias("h"))
            .orderBy("h").limit(8 * k).collect())
    out, seen = [], set()
    for r in rows:
        h = r["h"]
        if h not in seen:
            seen.add(h)
            out.append(h)
            if len(out) == k:
                break
    return out


def _to_unit(h: int) -> float:
    """Map a signed 64-bit hash onto [0, 1)."""
    return (h + (1 << 63)) / float(1 << 64)


def kmv_distinct_estimate(sketch: list, budget: int | None = None) -> float:
    """Distinct-count estimate (k-1)/h_(k) over the unit-mapped kth
    minimum.  Pass the draw ``budget`` (the k requested from
    :func:`kmv_sketch`): a sketch SMALLER than its budget holds the
    entire value set, so its length is the exact count."""
    if not sketch:
        return 0.0
    k = len(sketch)
    if budget is not None and k < budget:
        return float(k)
    kth = _to_unit(max(sketch))
    return (k - 1) / kth if kth > 0 else float(k)


def kmv_overlap(sketch_a: list, sketch_b: list,
                budget: int | None = None) -> dict:
    """Jaccard / containment / intersection estimates from two KMV
    sketches (drawn with the same hash, any sizes): the k smallest of
    the union form a uniform sample of the union; the fraction also
    present in both sketches estimates J(A, B).

    Returns ``{jaccard, containment_a, containment_b, distinct_a,
    distinct_b, intersection}`` — ``containment_a`` = |A∩B|/|A|, the
    "how much of corpus A is inside corpus B" number a contamination
    estimate wants.  Error ~ 1/sqrt(k)."""
    if not sketch_a or not sketch_b:
        return {"jaccard": 0.0, "containment_a": 0.0,
                "containment_b": 0.0,
                "distinct_a": kmv_distinct_estimate(sketch_a, budget),
                "distinct_b": kmv_distinct_estimate(sketch_b, budget),
                "intersection": 0.0}
    sa, sb = set(sketch_a), set(sketch_b)
    da = kmv_distinct_estimate(sketch_a, budget)
    db = kmv_distinct_estimate(sketch_b, budget)
    if budget is not None and len(sa) < budget and len(sb) < budget:
        # both sketches hold their ENTIRE value sets: set arithmetic,
        # no estimation
        inter = float(len(sa & sb))
        j = inter / len(sa | sb)
    else:
        k = min(len(sketch_a), len(sketch_b))
        union_k = sorted(sa | sb)[:k]
        both = sum(1 for h in union_k if h in sa and h in sb)
        j = both / k
        # |A u B| = (|A| + |B|) / (1 + J);  |A n B| = J * |A u B|
        inter = j * (da + db) / (1.0 + j)
    return {"jaccard": j,
            "containment_a": inter / da if da else 0.0,
            "containment_b": inter / db if db else 0.0,
            "distinct_a": da, "distinct_b": db,
            "intersection": inter}


def corpus_overlap(df_a: DataFrame, df_b: DataFrame, col: str,
                   k: int = 1024) -> dict:
    """Overlap report between two corpora on a value column (doc
    fingerprints for exact-dup overlap, exploded token n-grams for
    contamination-style overlap): two TakeOrdered passes, driver
    arithmetic, NO join — the estimate a 100 TB pipeline runs before
    deciding whether an exact decontamination sweep is worth its
    shuffle."""
    return kmv_overlap(kmv_sketch(df_a, col, k),
                       kmv_sketch(df_b, col, k), budget=k)
