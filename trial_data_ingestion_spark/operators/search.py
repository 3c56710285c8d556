"""BM25 keyword search over a document corpus: inverted-index build
plus query-time scoring.

North-star text-analysis tier (BASELINE.json).  The reference's only
retrieval surface is embedding top-k (E7); a training-data platform
also needs lexical retrieval — corpus exploration, hard-negative
mining, dedup forensics — so this adds the standard BM25
(Robertson/Sparck Jones idf, k1/b saturation) as plain DataFrame ops.

Scale design (100 TB):
  * ``bm25_postings`` is ONE shuffle (term, doc) with map-side
    partial aggregation; doc length rides denormalized on each
    posting so queries never touch a second table.  Persist it
    partitioned by ``term_bucket`` (hash prefix) and a query's scan
    prunes to the handful of buckets its terms hash into — the same
    persisted-index pattern as the IVF cells
    (operators/similarity.py, tests/test_persisted_index.py).
  * ``bm25_search`` touches only the query terms' postings: an
    ``isin`` filter that reaches the parquet scan, a per-term df
    aggregate over that filtered sliver, and one top-k.  Corpus
    statistics (N, avgdl) are two numbers computed once per index
    build — pass them in, don't rescan.
  * Everything is native Column arithmetic; no UDF anywhere.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from trial_data_ingestion_spark.operators.decontam import _norm_tokens
from trial_data_ingestion_spark.session import local_frame

DEFAULT_K1 = 1.2
DEFAULT_B = 0.75


def bm25_postings(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  num_term_buckets: int = 64) -> DataFrame:
    """Inverted index: one row per (term, doc) with term frequency,
    doc length, and a stable ``term_bucket`` for partitioned
    persistence.  Tokenization matches the decontamination
    normalizer (lowercase, punctuation stripped)."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        _norm_tokens(F.col(text_col)).alias("__toks"))
    # md5-derived bucket (not xxhash64): bit-reproducible from the
    # driver (hashlib) and from DuckDB, so query planning and oracle
    # tests can name a term's bucket without running a Spark job
    bucket = F.pmod(F.conv(F.substring(F.md5("term"), 1, 15), 16, 10)
                    .cast("long"), F.lit(num_term_buckets))
    return (toks
            .select("doc_id", F.size("__toks").alias("dl"),
                    F.explode("__toks").alias("term"))
            .groupBy("term", "doc_id", "dl")
            .agg(F.count(F.lit(1)).alias("tf"))
            .withColumn("term_bucket", bucket))


def bm25_stats(postings: DataFrame) -> tuple[int, float]:
    """(N, avgdl) — compute once per index build and reuse across
    queries; two scalars, not a table."""
    row = (postings.select("doc_id", "dl").distinct()
           .agg(F.count(F.lit(1)).alias("n"),
                F.avg("dl").alias("avgdl")).collect()[0])
    return int(row["n"]), float(row["avgdl"])


def bm25_search(postings: DataFrame, query_terms: list[str],
                n_docs: int, avgdl: float, k: int = 10,
                k1: float = DEFAULT_K1, b: float = DEFAULT_B,
                num_term_buckets: int = 64) -> DataFrame:
    """Top-k docs for a bag of query terms:
    (doc_id, score, matched_terms), score-descending, ties broken by
    doc_id ascending so results are deterministic.

    The leading filter names both the terms and their buckets, so a
    scan over postings persisted ``partitionBy("term_bucket")`` prunes
    to the query's buckets (and parquet row-group stats on ``term``
    do the rest)."""
    terms = sorted(set(t.lower() for t in query_terms if t))
    if not terms:
        raise ValueError("bm25_search: empty query")
    buckets = [_bucket_of(t, num_term_buckets) for t in terms]
    hit = (postings
           .where(F.col("term_bucket").isin(*set(buckets)))
           .where(F.col("term").isin(*terms)))
    # per-term document frequency from the filtered sliver only
    df_t = hit.groupBy("term").agg(
        F.count_distinct("doc_id").alias("df"))
    idf = F.log(
        F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5)
        / (F.col("df") + 0.5))
    tf_part = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / float(avgdl)))
    scored = (hit.join(F.broadcast(df_t.withColumn("idf", idf)
                                   .select("term", "idf")), "term")
              .groupBy("doc_id")
              .agg(F.round(F.sum(F.col("idf") * tf_part), 6)
                   .alias("score"),
                   F.count_distinct("term").alias("matched_terms")))
    return (scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


def bm25_topk(docs: DataFrame, query: str, k: int = 10,
              id_col: str = "doc_id", text_col: str = "text",
              k1: float = DEFAULT_K1, b: float = DEFAULT_B) -> DataFrame:
    """Convenience one-shot: build postings, derive stats, search.
    For repeated queries build ``bm25_postings`` once, persist it
    partitioned by ``term_bucket``, and call ``bm25_search``."""
    post = bm25_postings(docs, id_col, text_col)
    n_docs, avgdl = bm25_stats(post)
    return bm25_search(post, tokenize_query(query), n_docs, avgdl,
                       k=k, k1=k1, b=b)


def tokenize_query(query: str) -> list[str]:
    """Driver-side twin of ``_norm_tokens``: lowercase, strip
    punctuation to spaces, split.  Query terms MUST share the index's
    tokenization or punctuated queries ('hash, join!') silently match
    nothing."""
    return [t for t in re.sub(r"[^a-z0-9]+", " ", query.lower()).split()
            if t]


def _bucket_of(term: str, num_term_buckets: int) -> int:
    """Driver-side twin of the ``term_bucket`` expression — same
    md5-prefix arithmetic, so the search filter can name the buckets
    to prune as plain literals."""
    digest = hashlib.md5(term.encode("utf-8")).hexdigest()
    return int(digest[:15], 16) % num_term_buckets


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of lexical + vector
# rankings (Cormack, Clarke, Buettcher, SIGIR 2009 — the standard
# score-free fusion; robust because it needs no score calibration
# between BM25 and cosine).
# ---------------------------------------------------------------------------


def rrf_fuse(rankings: list, id_col: str = "doc_id",
             rrf_k: int = 60, k: int = 10) -> DataFrame:
    """Fuse ranked lists into (id, rrf_score, lists_hit, rank).

    Each input DataFrame carries (``id_col``, ``rank``) with rank
    1-based; a doc absent from a list contributes nothing for it
    (the standard convention).  rrf_score = sum over lists of
    1 / (rrf_k + rank); ties broken by id for determinism.

    Scale shape: each ranked list is already top-k' (tiny), so the
    union + groupBy is driver-trivial; fusion cost never touches the
    corpus."""
    if not rankings:
        raise ValueError("rrf_fuse: no rankings")
    tagged = [
        r.select(F.col(id_col),
                 (F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("rank")))
                 .alias("__c"))
        for r in rankings
    ]
    allr = tagged[0]
    for t in tagged[1:]:
        allr = allr.unionByName(t)
    fused = (allr.groupBy(id_col)
             .agg(F.sum("__c").alias("rrf_score"),
                  F.count(F.lit(1)).alias("lists_hit")))
    w = Window.orderBy(F.desc("rrf_score"), F.asc(id_col))
    return (fused.withColumn("rank", F.row_number().over(w))
                 .where(F.col("rank") <= k))


def hybrid_topk(docs: DataFrame, embeddings: DataFrame,
                query_text: str, query_vec: list, dim: int,
                k: int = 10, rrf_k: int = 60,
                candidates_per_list: int | None = None,
                id_col: str = "doc_id", text_col: str = "text",
                vec_id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Lexical (BM25) + vector (exact cosine) retrieval fused by RRF.

    Each list retrieves ``candidates_per_list`` (default 3k)
    candidates; fusion keeps the top ``k``.  Vector ids must live in
    the same id space as ``docs[id_col]``.  For repeated query
    workloads, swap the internals for the persisted layouts
    (``bm25_postings`` partitioned by term_bucket;
    ``quantization.topk_ivfpq`` / ``similarity.topk_lsh_over_index``)
    — the fusion contract (id, rank) is index-agnostic."""
    from trial_data_ingestion_spark.operators.similarity import (
        topk_bruteforce,
    )
    cpl = candidates_per_list or 3 * k
    lex = bm25_topk(docs, query_text, k=cpl, id_col=id_col,
                    text_col=text_col)
    wlex = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    lex_ranked = (lex.withColumn("rank", F.row_number().over(wlex))
                     .select(F.col("doc_id").alias(id_col), "rank"))
    spark = docs.sparkSession
    qdf = local_frame(
        spark, [("q0", [float(x) for x in query_vec])],
        "query_id string, query_vec array<float>")
    vec_ranked = (topk_bruteforce(embeddings, qdf, id_col=vec_id_col,
                                  vec_col=vec_col, k=cpl, dim=dim,
                                  exclude_self=False)
                  .select(F.col("neighbor_id").alias(id_col), "rank"))
    return rrf_fuse([lex_ranked, vec_ranked], id_col=id_col,
                    rrf_k=rrf_k, k=k)
