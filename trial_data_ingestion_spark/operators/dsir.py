"""DSIR-style data selection: hashed n-gram importance resampling.

North-star training-data-pipeline tier.  DSIR (Xie et al., "Data
Selection for Language Models via Importance Resampling", NeurIPS
2023 — public method) selects pretraining documents that look like a
small trusted target corpus without training a model: both corpora
are reduced to bags of HASHED n-grams (unigrams + bigrams folded
into ``n_buckets`` counters), a smoothed categorical distribution is
fit per corpus, and each raw document gets an importance log-weight

    log w(doc) = sum over gram occurrences of
                 log p_target(bucket) - log p_raw(bucket)

Documents are then drawn without replacement proportionally to
``w`` via the Gumbel-top-k trick.  Everything is exact counting and
a broadcast join — no model, no Python kernels.

Spark shapes (100 TB):
  * **fit** — one narrow gram explode + one keyed aggregate per
    corpus; the result is at most ``n_buckets`` rows (default 10k)
    regardless of corpus size, so the fitted model always
    broadcasts.
  * **score** — gram explode, broadcast join on bucket, one per-doc
    sum (the only shuffle, map-side combined).
  * **select** — deterministic Gumbel perturbation from
    ``md5(seed || doc id)`` and a global top-k
    (``TakeOrderedAndProject``, no full sort): reruns, engine swaps
    and repartitioning all pick the same sample.

Hashing is md5-derived (same convention as ``operators.sampling``)
so the driver-side numpy twin in ``tests/test_dsir.py`` reproduces
bucket ids bit-for-bit.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from trial_data_ingestion_spark.operators.decontam import _norm_tokens
from trial_data_ingestion_spark.session import ensure_parallelism, local_frame

#: hashed feature space; 10k is the published DSIR default — small
#: enough to broadcast, large enough that collisions barely move the
#: log-ratio estimates.
DEFAULT_BUCKETS = 10_000


def _bucket(gram: Column, n_buckets: int) -> Column:
    """Stable bucket in [0, n_buckets): first 15 md5 hex chars mod m
    (the repo-wide content-stable hash idiom)."""
    h = F.md5(gram)
    return (F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
            % F.lit(n_buckets))


def hashed_grams(df: DataFrame, text_col: str,
                 n_buckets: int = DEFAULT_BUCKETS,
                 keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """One row per unigram/bigram OCCURRENCE: (``*keep_cols``,
    bucket).  Bigrams join their tokens with a space so ``"a b"``
    the bigram and ``"a"``/``"b"`` the unigrams hash independently.
    Narrow (explode only) — callers aggregate."""
    toks = _norm_tokens(F.col(text_col))
    bigrams = F.expr(
        f"transform(slice(__t, 1, greatest(size(__t) - 1, 0)), "
        f"(w, i) -> concat(w, ' ', __t[i + 1]))")
    return (ensure_parallelism(df.select(*keep_cols, text_col))
            .select(*keep_cols, toks.alias("__t"))
            .where(F.size("__t") >= 1)
            .select(*keep_cols,
                    F.explode(F.concat(F.col("__t"), bigrams))
                    .alias("__g"))
            .select(*keep_cols, _bucket(F.col("__g"), n_buckets)
                    .alias("bucket")))


@dataclass
class DSIRModel:
    #: (bucket, log_ratio) — only buckets seen in EITHER corpus;
    #: absent buckets take :attr:`default_log_ratio` at score time.
    log_ratio: DataFrame
    n_buckets: int
    #: total gram occurrences in the target / raw fit corpora
    target_total: int
    raw_total: int
    smoothing: float
    #: log-ratio of a bucket unseen in both corpora (pure smoothing
    #: mass) — scoring coalesces misses to this.
    default_log_ratio: float


def fit_dsir(target: DataFrame, raw: DataFrame, text_col: str = "text",
             n_buckets: int = DEFAULT_BUCKETS,
             smoothing: float = 1.0) -> DSIRModel:
    """Fit smoothed hashed-n-gram distributions over a small trusted
    ``target`` corpus and the ``raw`` pool, returning the per-bucket
    log importance ratio.  Two count aggregates; the model is at most
    ``n_buckets`` rows and always broadcastable."""
    if smoothing <= 0:
        raise ValueError("smoothing must be > 0 (unseen buckets need "
                         "probability mass on both sides)")

    # ONE fused aggregate over a side-tagged union of the two gram
    # streams (r13, guide §2.3/§2.4): the r12 shape ran two groupBy
    # shuffles, a full-outer join of the count tables and three
    # driver actions (two totals collects + a cache-materializing
    # count).  Tagging each occurrence with its side and counting
    # both sides in one groupBy(bucket) yields the identical count
    # table — a bucket unseen on one side counts 0 there, which is
    # exactly what the old full-outer join's null coalesced to — in
    # one shuffle and ONE collect.  The collect is bounded by the
    # model contract itself: the count table is at most ``n_buckets``
    # rows and the model is broadcast at score time, so driver-
    # holding it is the budget the API already spends.
    tg = (hashed_grams(target, text_col, n_buckets)
          .withColumn("__s", F.lit(1)))
    rg = (hashed_grams(raw, text_col, n_buckets)
          .withColumn("__s", F.lit(0)))
    counts = (tg.unionByName(rg)
              .groupBy("bucket")
              .agg(F.sum("__s").alias("__ct"),
                   F.sum(F.lit(1) - F.col("__s")).alias("__cr"))
              .collect())
    t_total = int(sum(r["__ct"] for r in counts))
    r_total = int(sum(r["__cr"] for r in counts))
    if t_total == 0 or r_total == 0:
        raise ValueError(
            f"fit_dsir: empty gram stream (target={t_total}, "
            f"raw={r_total}) — nothing to fit")
    a, m = float(smoothing), n_buckets
    # same Spark expressions as the r12 shape (F.log over the same
    # integer counts and totals) so every log_ratio double is
    # bit-identical; the frame is a local_frame (a LocalRelation), so
    # downstream broadcasts ship the driver-held rows and neither
    # re-run the fit nor start a Python-worker job
    spark = target.sparkSession
    log_p = F.log((F.coalesce(F.col("__ct"), F.lit(0)) + a)
                  / (t_total + a * m))
    log_q = F.log((F.coalesce(F.col("__cr"), F.lit(0)) + a)
                  / (r_total + a * m))
    import math
    default = (math.log(a / (t_total + a * m))
               - math.log(a / (r_total + a * m)))
    ratio = (local_frame(
                 spark,
                 [(r["bucket"], r["__ct"], r["__cr"]) for r in counts],
                 "bucket long, __ct long, __cr long")
             .select("bucket", (log_p - log_q).alias("log_ratio")))
    return DSIRModel(log_ratio=ratio, n_buckets=n_buckets,
                     target_total=t_total, raw_total=r_total,
                     smoothing=a, default_log_ratio=default)


def score_importance(docs: DataFrame, model: DSIRModel,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """(id, n_grams, log_weight): summed per-occurrence log ratio
    under ``model``.  Docs whose text normalizes to zero tokens are
    omitted (no grams, no evidence).  Model joins broadcast; the only
    shuffle is the per-doc sum."""
    grams = hashed_grams(docs, text_col, model.n_buckets,
                         keep_cols=(id_col,))
    joined = grams.join(F.broadcast(model.log_ratio), "bucket", "left")
    lr = F.coalesce(F.col("log_ratio"),
                    F.lit(model.default_log_ratio))
    return (joined.groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_grams"),
                 F.round(F.sum(lr), 6).alias("log_weight")))


def dsir_select(docs: DataFrame, model: DSIRModel, k: int,
                id_col: str = "doc_id", text_col: str = "text",
                seed: str = "s0",
                length_normalize: bool = True,
                gumbel: bool = True) -> DataFrame:
    """Draw ``k`` docs without replacement, approximately
    proportional to importance weight, via the Gumbel-top-k trick:
    rank by ``log w + Gumbel(0,1)`` and keep the top ``k``.  The
    Gumbel noise is derived from ``md5(seed || id)`` — the draw is
    content-stable (reruns and engine swaps agree) and a new ``seed``
    is an independent draw.

    ``length_normalize`` ranks by mean (not summed) per-gram log
    ratio: raw summed weights scale with document length, so without
    normalization long documents dominate any k-selection.

    ``gumbel=False`` drops the noise entirely — a deterministic
    greedy top-k by score.  Use it when the weight spread is small
    (flat weights make the Gumbel draw near-uniform, which is the
    mathematically correct sample but rarely what a "take the most
    target-like half" pipeline step wants).

    Returns (id, n_grams, log_weight, gumbel_key), highest key
    first.  ``orderBy().limit(k)`` compiles to
    ``TakeOrderedAndProject`` — per-partition heaps, no global sort
    shuffle."""
    if k < 1:
        raise ValueError("dsir_select: k must be >= 1")
    scored = score_importance(docs, model, id_col, text_col)
    base = (F.col("log_weight") / F.col("n_grams")
            if length_normalize else F.col("log_weight"))
    h = F.md5(F.concat(F.lit(seed), F.lit("|"),
                       F.col(id_col).cast("string")))
    # u in (0,1): 60 md5 bits scaled; +1 keeps u>0 so log(u) is finite
    u = ((F.conv(F.substring(h, 1, 15), 16, 10).cast("double") + 1.0)
         / float((1 << 60) + 2))
    noise = -F.log(-F.log(u)) if gumbel else F.lit(0.0)
    return (scored
            .withColumn("gumbel_key", base + noise)
            .orderBy(F.desc("gumbel_key"), F.asc(id_col))
            .limit(k))
