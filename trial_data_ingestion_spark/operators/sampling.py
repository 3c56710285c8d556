"""Deterministic, content-stable sampling for training-data curation.

North-star training-data-pipeline tier.  ``df.sample`` is the wrong
tool for corpus work: its membership depends on partition layout and
seed plumbing, so reruns, engine swaps, and cluster resizes all
change the sample.  Everything here derives membership from
``md5(seed || key)`` alone — reproducible across runs, engines
(DuckDB oracle included), and any partitioning, and each sample
materializes as a pushed-down filter, never a shuffle.

The graded q43 (plans/library.py) is the fixed 80/10/10 instance of
:func:`split_by_hash`; these operators generalize it to arbitrary
weights, per-stratum rates, and exact-ish per-stratum counts.

Scale notes (100 TB):
  * ``hash_sample``/``split_by_hash``/``stratified_sample`` are pure
    narrow filters — zero shuffles, combinable with any downstream
    plan, trivially pushed past column pruning.
  * ``stratified_fixed_n`` needs a per-stratum top-n (one shuffle on
    the strata key, window + filter) — the per-stratum ordering is by
    the same stable hash, so it is a uniform without-replacement
    draw, still deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from trial_data_ingestion_spark.session import local_frame

#: Denominator of the hash bucket: md5's first 15 hex chars give 60
#: bits; reducing mod 1e6 keeps fractions to 4-6 significant digits
#: honest while staying far from the 2^60 modulus bias floor.
_BUCKETS = 1_000_000


def _bucket(key: Column, seed: str) -> Column:
    """Stable bucket in [0, 1e6): md5 over seed || key.  Seed changes
    produce an independent sample; identical keys always land
    together (content-stable)."""
    h = F.md5(F.concat(F.lit(seed), F.lit("|"), key.cast("string")))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % _BUCKETS


def hash_sample(df: DataFrame, key_col: str, fraction: float,
                seed: str = "s0") -> DataFrame:
    """Deterministic Bernoulli-by-key sample: keep rows whose key
    bucket falls below ``fraction``.  Same key, same verdict — so
    sampling a chunks table by doc key keeps documents whole."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction out of [0,1]: {fraction}")
    return df.where(_bucket(F.col(key_col), seed)
                    < int(round(fraction * _BUCKETS)))


def split_by_hash(df: DataFrame, key_col: str,
                  weights: dict[str, float],
                  seed: str = "s0",
                  out_col: str = "split") -> DataFrame:
    """Assign every row to exactly one named split with the given
    weights (must sum to 1 within 1e-9).  Generalizes the graded
    80/10/10 q43 splitter to arbitrary weights."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights sum to {total}, expected 1")
    b = _bucket(F.col(key_col), seed)
    edges = []
    acc = 0.0
    for name, w in weights.items():
        acc += w
        edges.append((name, int(round(acc * _BUCKETS))))
    expr = None
    for name, hi in edges[:-1]:
        cond = b < hi
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = edges[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn(out_col, expr)


def leakage_safe_split(df: DataFrame, pairs: DataFrame, id_col: str,
                       weights: dict[str, float],
                       seed: str = "s0",
                       out_col: str = "split") -> DataFrame:
    """:func:`split_by_hash`, but near-duplicate FAMILIES move as a
    unit: every doc in a connected component of the confirmed-pair
    graph (MinHash/SimHash/embedding verify output — any
    ``(doc_a, doc_b)`` frame) hashes on its component label instead
    of its own id, so a paraphrase can never land in train while its
    twin sits in test — the split-leakage failure mode
    ``decontam.split_leakage_report`` audits after the fact, closed
    off at assignment time.

    Scale: component labels exist only for the dup subset (pairs,
    not corpus); the label table broadcast-joins back and unpaired
    docs fall through to their own id via coalesce — one corpus
    scan, no corpus shuffle beyond the join."""
    from trial_data_ingestion_spark.operators.dedup import (
        connected_components_min_label,
    )

    pairs = pairs.select("doc_a", "doc_b").localCheckpoint()
    labels = connected_components_min_label(pairs).withColumnRenamed(
        "doc", id_col)
    keyed = (df.join(F.broadcast(labels), id_col, "left")
             .withColumn("__split_key",
                         F.coalesce(F.col("label"), F.col(id_col)))
             .drop("label"))
    return split_by_hash(keyed, "__split_key", weights, seed=seed,
                         out_col=out_col).drop("__split_key")


def stratified_sample(df: DataFrame, strata_col: str,
                      fractions: dict[str, float],
                      key_col: str,
                      default_fraction: float = 0.0,
                      seed: str = "s0") -> DataFrame:
    """Per-stratum Bernoulli rates (the deterministic analog of
    ``df.sampleBy``): e.g. keep 100% of 'en' docs, 10% of 'und'.
    Strata absent from ``fractions`` get ``default_fraction``.

    ``key_col`` is REQUIRED and must be a per-row key (doc id): the
    bucket is hashed from it, so hashing the strata column itself
    would give every row in a stratum the same bucket — an
    all-or-nothing stratum keep, not a per-row Bernoulli."""
    if not key_col:
        raise ValueError(
            "stratified_sample: key_col is required — hashing the "
            "strata column would keep or drop whole strata, not "
            "sample rows within them")
    if key_col == strata_col:
        raise ValueError(
            "stratified_sample: key_col must differ from strata_col "
            "(same-column hashing makes the draw all-or-nothing per "
            "stratum)")
    b = _bucket(F.col(key_col), seed)
    frac = None
    for stratum, f_ in fractions.items():
        if not 0.0 <= f_ <= 1.0:
            raise ValueError(f"fraction out of [0,1]: {stratum}={f_}")
        cond = F.col(strata_col) == stratum
        frac = (F.when(cond, f_) if frac is None
                else frac.when(cond, f_))
    frac = (F.lit(default_fraction) if frac is None
            else frac.otherwise(default_fraction))
    # round, don't truncate: 0.3 * 1e6 is 299999.999... in doubles,
    # and hash_sample/split_by_hash round — identical fractions must
    # select identical bucket sets across all three operators
    return df.where(b < F.round(frac * _BUCKETS).cast("long"))


def mixture_sample(df: DataFrame, source_col: str,
                   target_weights: dict[str, float],
                   key_col: str,
                   max_rows: int | None = None,
                   seed: str = "s0",
                   size_col: str | None = None) -> DataFrame:
    """Domain-mixture sampling: downsample sources so the OUTPUT
    composition matches ``target_weights`` (e.g. web 0.6, code 0.25,
    papers 0.15) while keeping as much data as the scarcest source
    allows — the standard pretraining-mix construction.

    The feasible scale is ``min_s(count_s / weight_s)`` (the source
    that runs out first pins the total); each source then keeps
    ``weight_s * scale / count_s`` of its rows by the same stable
    md5 bucket as every other sampler here.  Sources absent from
    ``target_weights`` are dropped.  ``max_rows`` caps the total
    (approximately — membership stays per-row Bernoulli, so the
    realized count concentrates around the target).

    ``size_col``: published mixes are specified in TOKENS, not
    documents (the GPT-3/LLaMA data cards quote token shares) — pass
    a per-row size column (token or char count) and the composition
    targets, feasibility scale, and ``max_rows`` cap are all
    interpreted in its units: ``count_s`` becomes ``sum(size_s)``.
    Membership stays Bernoulli by the DOC key, so documents survive
    whole and the expected token share matches the target because
    hash membership is independent of document length.  Rows with a
    NULL size contribute 0 to the budget but still sample at their
    source's rate.

    Scale: ONE tiny aggregate (per-source counts -> driver, one row
    per source) to derive fractions, then a pure pushed-down filter —
    the corpus itself never shuffles.  Deterministic for a fixed
    corpus: same counts -> same fractions -> same md5 membership."""
    total = sum(target_weights.values())
    if total <= 0:
        raise ValueError("target_weights must sum to > 0")
    weights = {s: w / total for s, w in target_weights.items()}
    size = (F.count(F.lit(1)) if size_col is None
            else F.coalesce(F.sum(F.col(size_col).cast("double")),
                            F.lit(0.0)))
    counts = {r["s"]: r["n"] for r in
              (df.where(F.col(source_col).isin(*weights))
                 .groupBy(F.col(source_col).alias("s"))
                 .agg(size.alias("n")).collect())}
    missing = [s for s in weights if s not in counts]
    if missing:
        raise ValueError(f"sources absent from corpus: {missing}")
    degenerate = [s for s, w in weights.items() if w > 0
                  and counts[s] <= 0]
    if degenerate:
        raise ValueError(
            f"sources with zero total {size_col or 'rows'}: "
            f"{degenerate} — cannot hold a positive weight")
    scale = min(counts[s] / w for s, w in weights.items() if w > 0)
    if max_rows is not None:
        scale = min(scale, float(max_rows))
    fractions = {s: min(1.0, w * scale / counts[s])
                 if counts[s] > 0 else 0.0
                 for s, w in weights.items()}
    return stratified_sample(df.where(F.col(source_col).isin(*weights)),
                             source_col, fractions, key_col=key_col,
                             default_fraction=0.0, seed=seed)


def temperature_mixture(df: DataFrame, source_col: str, key_col: str,
                        alpha: float = 0.7,
                        max_rows: int | None = None,
                        seed: str = "s0",
                        size_col: str | None = None) -> DataFrame:
    """Temperature-flattened domain mixture: target weights
    proportional to ``count_s ** alpha`` — the multilingual /
    multi-domain rebalancing rule (alpha=1 keeps natural proportions,
    alpha->0 approaches uniform over sources; pretraining mixes
    typically sit at 0.5-0.8 to stop a giant head domain drowning the
    tail).  Sampling itself can only DOWNSAMPLE, so flattening works
    by trimming the head: weights derive from observed counts, then
    :func:`mixture_sample` pins the feasible scale to the scarcest
    source and keeps every source content-stable.

    ``size_col`` switches both the ``count_s ** alpha`` flattening
    and the downstream mixture to token units (see
    :func:`mixture_sample`) — the multilingual rebalancing papers
    define temperature over token counts.

    One per-source count aggregate (one row per source to the
    driver), then the pushed-down filter — identical scale shape to
    mixture_sample itself."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1]")
    size = (F.count(F.lit(1)) if size_col is None
            else F.coalesce(F.sum(F.col(size_col).cast("double")),
                            F.lit(0.0)))
    counts = {r["s"]: r["n"] for r in
              df.groupBy(F.col(source_col).alias("s"))
                .agg(size.alias("n")).collect()}
    if not counts:
        raise ValueError("empty corpus")
    weights = {s: float(n) ** alpha for s, n in counts.items()
               if n > 0}
    if not weights:
        raise ValueError(f"every source has zero total "
                         f"{size_col or 'rows'}")
    return mixture_sample(df, source_col, weights, key_col,
                          max_rows=max_rows, seed=seed,
                          size_col=size_col)


def stratified_fixed_n(df: DataFrame, strata_col: str, n_per_stratum: int,
                       key_col: str, seed: str = "s0") -> DataFrame:
    """Exactly min(n, |stratum|) rows per stratum, drawn uniformly
    without replacement by ranking on the stable hash.  One shuffle
    on the strata key; ties (duplicate keys) break by the key itself
    so the draw stays deterministic."""
    w = Window.partitionBy(strata_col).orderBy(
        _bucket(F.col(key_col), seed).asc(), F.col(key_col).asc())
    return (df.withColumn("__rk", F.row_number().over(w))
              .where(F.col("__rk") <= n_per_stratum)
              .drop("__rk"))


def weighted_fixed_n(df: DataFrame, n: int, weight_col: str,
                     key_col: str, seed: str = "s0") -> DataFrame:
    """Exactly min(n, |eligible|) rows drawn WITHOUT replacement with
    probability proportional to ``weight_col`` — quality-weighted
    corpus selection ("keep the best 10M documents, favoring high
    quality score") as one distributed top-n.

    Algorithm A-ES (Efraimidis & Spirakis 2006): each row gets the
    key ``u ** (1/w)`` for an independent uniform ``u``; the top-n by
    that key is exactly a weight-proportional without-replacement
    draw.  ``u`` derives from the stable md5 bucket (never ``rand()``
    — same content-stability contract as every sampler here), and the
    comparison runs on ``log(u)/w`` to avoid underflow for small
    weights.  Rows with NULL or non-positive weight are ineligible
    and silently excluded (a zero-weight row has zero inclusion
    probability by definition).

    Scale: no shuffle at all — Spark plans ``orderBy . limit`` as
    TakeOrderedAndProject (per-partition top-n, driver merge of
    n x partitions candidates), so this holds for n into the
    millions; beyond that, pre-filter by a weight threshold first."""
    if n < 1:
        raise ValueError("weighted_fixed_n: n must be >= 1")
    u = (_bucket(F.col(key_col), seed) + F.lit(0.5)) \
        / F.lit(float(_BUCKETS))
    score = F.log(u) / F.col(weight_col).cast("double")
    return (df.where(F.col(weight_col).cast("double") > 0)
            .withColumn("__aes", score)
            .orderBy(F.desc("__aes"), F.col(key_col).asc())
            .limit(n)
            .drop("__aes"))


def cap_per_group(df: DataFrame, group_col: str, n: int,
                  key_col: str, seed: str = "s0") -> DataFrame:
    """At most ``n`` rows per group, chosen content-stably (the
    per-domain cap of web curation: no single site dominates the
    corpus).

    Selection order inside a group is the stable hash of ``key_col``
    (ties by key), so the kept set is a uniform without-replacement
    draw that survives reruns, repartitioning, and engine swaps —
    same contract as :func:`stratified_fixed_n`, but keyed by an
    arbitrary grouping expression and keeping every input column.
    One shuffle on ``group_col``."""
    if n < 1:
        raise ValueError("cap_per_group: n must be >= 1")
    w = Window.partitionBy(group_col).orderBy(
        _bucket(F.col(key_col), seed).asc(), F.col(key_col).asc())
    return (df.withColumn("__rn", F.row_number().over(w))
              .where(F.col("__rn") <= n)
              .drop("__rn"))


def plan_mixture(df: DataFrame, source_col: str, target_total: float,
                 alpha: float = 1.0, size_col: str | None = None,
                 max_epochs: float = 5.0) -> DataFrame:
    """The pretraining-recipe TABLE for a temperature-``alpha``
    mixture at a chosen ``target_total`` (rows, or tokens with
    ``size_col``): one row per source with ``available``,
    ``natural_share``, ``target_share`` (prop. to
    ``available ** alpha``), ``planned`` units, ``epochs_needed``
    (planned / available — above 1 means up-sampling), and
    ``feasible`` under ``max_epochs`` — the GPT-3/LLaMA data-card
    view, computed BEFORE committing to a run.  Execute the plan with
    :func:`mixture_with_epochs` (its weights = this table's
    ``target_share``).

    One per-source aggregate; the k-row table is joined to its own
    scalar totals by broadcast crossJoin — no corpus re-scan, no
    driver math."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1]")
    size = (F.count(F.lit(1)) if size_col is None
            else F.coalesce(F.sum(F.col(size_col).cast("double")),
                            F.lit(0.0)))
    counts = (df.groupBy(F.col(source_col).alias("source"))
              .agg(size.cast("double").alias("available"))
              .where(F.col("available") > 0))
    totals = counts.agg(
        F.sum("available").alias("__tot"),
        F.sum(F.pow("available", F.lit(alpha))).alias("__ptot"))
    share = F.pow("available", F.lit(alpha)) / F.col("__ptot")
    return (counts.crossJoin(F.broadcast(totals))
            .select("source", "available",
                    (F.col("available") / F.col("__tot"))
                    .alias("natural_share"),
                    share.alias("target_share"),
                    (share * target_total).alias("planned"),
                    (share * target_total / F.col("available"))
                    .alias("epochs_needed"))
            .withColumn("feasible",
                        F.col("epochs_needed") <= max_epochs)
            .orderBy("source"))


def mixture_with_epochs(df: DataFrame, source_col: str,
                        target_weights: dict[str, float],
                        key_col: str,
                        total_rows: int,
                        max_epochs: float = 5.0,
                        seed: str = "s0") -> DataFrame:
    """Domain mixture WITH up-sampling: hit ``target_weights`` at a
    caller-chosen ``total_rows`` by repeating scarce sources for
    multiple epochs — the published pretraining construction
    (GPT-3/LLaMA repeat Wikipedia ~2-3 epochs while web crawl stays
    under one).  :func:`mixture_sample` is the downsample-only
    variant pinned to the scarcest source's scale; this one trades
    repetition for composition.

    Per source: desired ``rows_s = weight_s * total_rows``; epochs
    ``e_s = rows_s / count_s``.  ``e_s <= 1`` downsamples by the
    stable md5 bucket (identical membership to the other samplers);
    ``e_s > 1`` emits ``floor(e_s)`` full copies plus a
    stable-fraction partial copy.  Epochs above ``max_epochs`` raise
    — repeating a tiny source tens of times is a data bug (memorization
    risk), not a mixture.

    Output adds an ``epoch`` column (0-based copy index) so
    ``key_col || epoch`` stays unique for downstream shard export.

    Scale: one tiny per-source count aggregate to the driver; the
    corpus sees a broadcast join against a |sources|-row spec and a
    narrow ``explode(sequence(...))`` — replication happens at scan
    parallelism with no shuffle, and the filter on the partial copy
    is the same pushed-down bucket predicate as everywhere else."""
    total = sum(target_weights.values())
    if total <= 0:
        raise ValueError("target_weights must sum to > 0")
    if total_rows <= 0:
        raise ValueError("total_rows must be positive")
    weights = {s: w / total for s, w in target_weights.items()}
    counts = {r["s"]: r["n"] for r in
              (df.where(F.col(source_col).isin(*weights))
                 .groupBy(F.col(source_col).alias("s"))
                 .agg(F.count(F.lit(1)).alias("n")).collect())}
    missing = [s for s in weights if s not in counts]
    if missing:
        raise ValueError(f"sources absent from corpus: {missing}")
    spec = []
    for s, w in weights.items():
        e = (w * total_rows) / counts[s]
        if e > max_epochs:
            raise ValueError(
                f"source {s!r} would need {e:.2f} epochs "
                f"(> max_epochs={max_epochs}); lower its weight, "
                f"total_rows, or raise max_epochs deliberately")
        n_full = int(e)
        frac = e - n_full
        spec.append((s, n_full, int(round(frac * _BUCKETS))))
    spark = df.sparkSession
    spec_df = F.broadcast(local_frame(
        spark, spec, f"{source_col} string, __full int, __part long"))
    # copy i < __full always survives; copy i == __full survives iff
    # the (seed, epoch)-salted bucket clears the partial threshold —
    # per-epoch salting keeps partial membership independent across
    # copies and across the other samplers
    b = _bucket(F.concat(F.col(key_col).cast("string"), F.lit("|e"),
                         F.col("epoch").cast("string")), seed)
    return (df.join(spec_df, source_col)
            .withColumn("epoch", F.explode(
                F.sequence(F.lit(0), F.col("__full"))))
            .where((F.col("epoch") < F.col("__full"))
                   | (b < F.col("__part")))
            .drop("__full", "__part"))
