"""Statistical n-gram language model: distributed fit + perplexity
scoring, the classic model-based quality filter.

North-star training-data-pipeline tier.  The published corpus recipes
(CCNet, the WebText reproduction line) score candidate documents with
a language model trained on a trusted reference corpus and keep the
low-perplexity tail; heavyweight LMs need GPUs, but the historically
standard filter is an n-gram model — and that one is a pure
counting problem Spark does exactly:

  * **fit** — tokenize (decontam normalization: lowercase,
    punctuation stripped), cap the vocabulary to the top
    ``vocab_size`` unigrams (everything else becomes ``<unk>``),
    count unigrams and bigrams: two keyed aggregates with map-side
    combine over one token table.  The fitted model is a pair of
    small DataFrames (vocab-capped: |V| + |seen bigrams| rows).
  * **score** — per document, mean negative log of the add-k
    smoothed conditional ``P(w2 | w1) = (c(w1 w2) + k) /
    (c(w1) + k * |V|)``, reported as perplexity ``exp(mean nll)``.
    The model tables BROADCAST (they are vocab-capped by
    construction); the corpus explodes its bigrams narrowly, joins
    the broadcast counts, and aggregates per doc — one shuffle keyed
    by doc id, no Python anywhere.

Unseen bigrams and out-of-vocabulary tokens are handled by ``<unk>``
mapping + add-k smoothing, so every document gets a finite score.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trial_data_ingestion_spark.operators.decontam import _norm_tokens
from trial_data_ingestion_spark.session import ensure_parallelism, local_frame

UNK = "<unk>"
#: sentence-start pseudo token so the first word is also conditioned
BOS = "<s>"


@dataclass
class NgramLM:
    unigrams: DataFrame        # (w, c)
    bigrams: DataFrame         # (w1, w2, c)
    vocab_size: int            # |V| incl. <unk> and <s>
    add_k: float


def _doc_bigrams(df: DataFrame, id_col: str, text_col: str,
                 vocab: DataFrame | None) -> DataFrame:
    """(id, w1, w2) bigram stream with BOS prepended; tokens mapped
    to <unk> when a vocab is given (broadcast membership join)."""
    toks = F.array_insert(_norm_tokens(F.col(text_col)), 1, F.lit(BOS))
    out = (ensure_parallelism(df.select(id_col, text_col))
           .select(F.col(id_col), toks.alias("__t"))
           .where(F.size("__t") >= 2)
           .select(
               id_col,
               F.posexplode(F.expr(
                   "transform(slice(__t, 1, size(__t) - 1), "
                   "(w, i) -> struct(w as w1, __t[i + 1] as w2))"))
               .alias("__p", "__bg"))
           .select(id_col, "__bg.w1", "__bg.w2"))
    if vocab is not None:
        # one broadcast left join + flag per column (NOT a semi/anti
        # union pair, which would scan the bigram stream twice per
        # column): unknown tokens coalesce to <unk>
        for col in ("w1", "w2"):
            marked = F.broadcast(
                vocab.select(F.col("w").alias(col),
                             F.lit(True).alias(f"__in_{col}")))
            out = (out.join(marked, col, "left")
                   .withColumn(col,
                               F.when(F.col(f"__in_{col}"), F.col(col))
                                .otherwise(F.lit(UNK)))
                   .drop(f"__in_{col}"))
    return out


def fit_ngram_lm(docs: DataFrame, text_col: str = "text",
                 vocab_size: int = 50_000,
                 add_k: float = 0.1) -> NgramLM:
    """Fit a bigram LM on a reference corpus.  Two aggregates; the
    resulting count tables are vocab-capped and broadcastable."""
    ids = docs.select(F.monotonically_increasing_id().alias("__id"),
                      F.col(text_col))
    all_bg = _doc_bigrams(ids, "__id", text_col, vocab=None)
    vocab = (all_bg.select(F.col("w2").alias("w"))
             .groupBy("w").agg(F.count(F.lit(1)).alias("c"))
             .orderBy(F.desc("c"), F.asc("w")).limit(vocab_size)
             .select("w"))
    vocab = vocab.unionByName(
        local_frame(docs.sparkSession, [(BOS,), (UNK,)], "w string")
    ).distinct().cache()
    n_vocab = vocab.count()
    bg = _doc_bigrams(ids, "__id", text_col, vocab=vocab)
    bigrams = (bg.groupBy("w1", "w2")
               .agg(F.count(F.lit(1)).alias("c")).cache())
    unigrams = (bigrams.groupBy(F.col("w1").alias("w"))
                .agg(F.sum("c").alias("c")).cache())
    return NgramLM(unigrams=unigrams, bigrams=bigrams,
                   vocab_size=n_vocab, add_k=add_k)


def score_perplexity(docs: DataFrame, model: NgramLM,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """(id, n_bigrams, perplexity): exp of the mean negative log
    add-k-smoothed bigram probability under ``model``.  Docs with no
    scoreable bigram (empty after normalization) are omitted.  The
    model joins broadcast; the only shuffle is the per-doc mean."""
    vocab = model.unigrams.select("w")
    bg = _doc_bigrams(docs, id_col, text_col, vocab=vocab)
    k, v = float(model.add_k), model.vocab_size
    joined = (bg
              .join(F.broadcast(model.bigrams
                                .withColumnsRenamed({"c": "__cbg"})),
                    ["w1", "w2"], "left")
              .join(F.broadcast(model.unigrams
                                .select(F.col("w").alias("w1"),
                                        F.col("c").alias("__cw1"))),
                    "w1", "left"))
    prob = ((F.coalesce(F.col("__cbg"), F.lit(0)) + k)
            / (F.coalesce(F.col("__cw1"), F.lit(0)) + k * v))
    return (joined
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_bigrams"),
                 F.round(F.exp(-F.avg(F.log(prob))), 4)
                  .alias("perplexity")))


def perplexity_buckets(scored: DataFrame,
                       by: str | None = None,
                       labels: tuple = ("head", "middle", "tail"),
                       ppl_col: str = "perplexity",
                       accuracy: int = 10_000) -> DataFrame:
    """CCNet's head/middle/tail partition: bucket documents by
    perplexity quantile, lower = closer to the reference corpus.
    Adds a ``ppl_bucket`` column; ``labels`` sets the number of
    equal-mass buckets (CCNet uses thirds).

    ``by=None`` computes GLOBAL cut points with one
    ``percentile_approx`` aggregate and compiles them into literal
    ``when`` chains — the bucketing filter a downstream
    ``where(ppl_bucket = 'head')`` becomes is then a plain pushed-down
    comparison.  ``by="lang"`` computes cut points PER GROUP (CCNet
    buckets within each language so high-resource languages don't
    crowd out the rest): the threshold table is one row per group and
    joins broadcast.  Either way the corpus is touched by exactly one
    extra narrow pass; no sort, no window over the full data."""
    n_cuts = len(labels) - 1
    if n_cuts < 1:
        raise ValueError("perplexity_buckets: need >= 2 labels")
    fracs = [(i + 1) / len(labels) for i in range(n_cuts)]
    pct = F.percentile_approx(
        ppl_col, F.array(*[F.lit(q) for q in fracs]), F.lit(accuracy))
    if by is None:
        cuts = scored.agg(pct.alias("__cuts")).collect()[0]["__cuts"]
        if cuts is None:
            raise ValueError(
                "perplexity_buckets: no rows to bucket (did the "
                "scoring step drop every document?)")
        expr = F.lit(labels[-1])
        for lab, cut in zip(reversed(labels[:-1]), reversed(cuts)):
            expr = F.when(F.col(ppl_col) <= F.lit(float(cut)),
                          F.lit(lab)).otherwise(expr)
        return scored.withColumn("ppl_bucket", expr)
    thresholds = scored.groupBy(by).agg(pct.alias("__cuts"))
    expr = F.lit(labels[-1])
    for i, lab in reversed(list(enumerate(labels[:-1]))):
        expr = F.when(F.col(ppl_col) <= F.col("__cuts")[i],
                      F.lit(lab)).otherwise(expr)
    return (scored.join(F.broadcast(thresholds), by, "left")
            .withColumn("ppl_bucket", expr)
            .drop("__cuts"))
