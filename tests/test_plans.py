"""Physical-plan regression tests: the scale-critical plan properties
(pushdown, pruning, broadcast choice, Arrow batching, parallelized
explodes) must survive refactors.  These assert on explain output, not
timings, so they are stable on any machine."""

from __future__ import annotations

from tests.conftest import SF_DIR_ORACLE


def _plan(spark, name, mode="simple"):
    # ALL_QUERIES: plan gates keep protecting queries rotated out of
    # the graded 50 into the retired registry
    from trial_data_ingestion_spark.plans.library import ALL_QUERIES
    df = ALL_QUERIES[name](spark, SF_DIR_ORACLE)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def test_q01_filter_pushed_and_columns_pruned(spark):
    plan = _plan(spark, "q01_pricing_summary", "formatted")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan \
        or "LessThanOrEqual(l_shipdate" in plan
    # projection must reach the scan: no unused wide columns read
    assert "l_comment" not in plan
    assert "l_shipinstruct" not in plan


def test_q02_dimension_joins_broadcast(spark):
    plan = _plan(spark, "q02_revenue_by_segment")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # all sides below threshold here


def test_q04_semijoin_stays_semi(spark):
    plan = _plan(spark, "q04_priority_semijoin")
    assert "LeftSemi" in plan


def test_q09_antijoin_stays_anti(spark):
    plan = _plan(spark, "q09_customers_without_orders")
    assert "LeftAnti" in plan


def test_q17_chunker_is_arrow_batched(spark):
    plan = _plan(spark, "q17_chunk_fixed")
    assert "ArrowEvalPython" in plan       # pandas_udf, not BatchEvalPython
    assert "BatchEvalPython" not in plan   # row-at-a-time Python banned
    assert "Generate posexplode" in plan


def test_q19_no_python_in_dedup(spark):
    """MinHash dedup must stay fully JVM-side."""
    plan = _plan(spark, "q19_minhash_dedup")
    assert "EvalPython" not in plan
    assert "PythonUDF" not in plan


def test_shingle_explode_parallelized_on_single_split(spark):
    """A single-file scan must be repartitioned before the CPU-heavy
    shingle explode (REPARTITION_BY_NUM survives AQE coalescing).

    Asserted on the signature subtree directly: q19's final plan now
    ends at the connected-components localCheckpoint boundary, so the
    explode no longer shows in its explain string."""
    from trial_data_ingestion_spark.operators.dedup import (
        minhash_signatures,
    )
    df = spark.read.parquet(f"{SF_DIR_ORACLE}/documents.parquet")
    sig = minhash_signatures(df, "doc_id", "text", k=8, num_hashes=16)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("simple")
    plan = sig._jdf.queryExecution().explainString(jmode)
    assert "REPARTITION_BY_NUM" in plan


def test_q20_queries_broadcast_not_shuffled(spark):
    plan = _plan(spark, "q20_knn_cosine")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_q29_cosine_not_in_join_condition(spark):
    """The pair join must test only (doc_a < doc_b); the 64-term dot
    product belongs in the post-join codegen'd filter, not the
    interpreted BNLJ predicate (10x regression if it moves back)."""
    plan = _plan(spark, "q29_embedding_dups")
    join_line = next(l for l in plan.splitlines()
                     if "BroadcastNestedLoopJoin" in l)
    assert "element_at" not in join_line


def test_q39_range_join_broadcasts_tiers(spark):
    # the 3-row tier table must be the broadcast side of the non-equi
    # join; a shuffled NLJ over lineitem would be catastrophic at scale
    plan = _plan(spark, "q39_range_join")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_q41_percentile_partial_agg(spark):
    # percentile runs as ObjectHashAggregate with a partial pass
    # (map-side) before the final — not a single-reducer sort
    plan = _plan(spark, "q41_percentiles")
    assert "percentile" in plan.lower()
    assert plan.lower().count("aggregate") >= 2


def test_q42_subquery_decorrelated(spark):
    # Catalyst must rewrite the correlated scalar subquery into an
    # aggregate + join; per-row subquery execution would be O(n^2)
    plan = _plan(spark, "q42_correlated_subquery")
    assert "Subquery" not in plan
    assert "Join" in plan


def test_q46_exists_rewrites_to_semi_anti(spark):
    # EXISTS / NOT EXISTS must decorrelate to left-semi + left-anti
    plan = _plan(spark, "q46_exists_subqueries")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_q52_decontam_broadcasts_benchmark_grams(spark):
    """The graded decontam row: benchmark grams must be the broadcast
    side; a corpus-side shuffle by gram is the 100 TB scale-killer.
    The only hash exchanges are the per-doc matched aggregate and the
    benchmark-gram distinct — never keyed by gram over the corpus."""
    plan = _plan(spark, "q52_contamination_report")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_q53_bm25_no_python_and_broadcast_idf(spark):
    """BM25 stays fully native; the per-term idf table broadcasts
    (a handful of rows) rather than shuffling the postings again."""
    plan = _plan(spark, "q53_bm25_search")
    assert "EvalPython" not in plan and "PythonUDF" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q54_sampling_is_shuffle_free(spark):
    """Both sampling arms are pure pushed-down filters — the graded
    plan must contain NO exchange at all (union of two filtered
    scans)."""
    plan = _plan(spark, "q54_stratified_sample")
    assert "Exchange" not in plan
    assert "Union" in plan


def test_q55_packing_python_is_arrow_batched(spark):
    """The FFD kernel is the one permitted Python stage — Arrow-
    batched applyInPandas, never row-at-a-time; everything around it
    (token counts, invariants) is native."""
    plan = _plan(spark, "q55_packing_invariants")
    assert "FlatMapGroupsInPandas" in plan or "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_q56_word_frequencies_partial_aggregates(spark):
    """The BPE corpus stage: one shuffle with map-side combine — a
    partial/final HashAggregate pair around a single exchange, all
    native (split/explode/count)."""
    plan = _plan(spark, "q56_word_frequencies")
    assert plan.count("HashAggregate") >= 2       # partial + final
    assert "EvalPython" not in plan and "PythonUDF" not in plan
    assert "Generate" in plan                     # the explode


def test_q57_fuzzy_join_no_python_no_cartesian(spark):
    """The graded fuzzy join must stay blocked: equi-joins on
    (gram, pos-bucket) plus the bounded short-string window — never a
    cartesian product over the corpus — and fully native (explode +
    substring + levenshtein are all codegen)."""
    plan = _plan(spark, "q57_fuzzy_title_join")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "PythonUDF" not in plan
    assert "levenshtein" in plan


def _df_plan(spark, df, mode="simple"):
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def test_multitable_srp_single_scan_arrow_kernel_no_join(spark):
    """The L-table union is ONE scan + ONE keyed shuffle: all L bucket
    ids compute in one Arrow-batched matmul (ArrowEvalPython), a
    single groupBy((table, bucket)) feeds the per-bucket BLAS cosine
    kernel (FlatMapGroupsInPandas), and there is NO join on the
    source at all (no SortMergeJoin/ShuffledHashJoin, never a
    CartesianProduct or nested loop).  The cross-table pair dedup
    runs AFTER scoring (shuffling 3 scalars per duplicate collision
    instead of full vectors)."""
    from trial_data_ingestion_spark.operators.similarity import (
        embedding_near_dups_multitable,
    )
    emb = spark.read.parquet(f"{SF_DIR_ORACLE}/embeddings.parquet")
    df = embedding_near_dups_multitable(emb, dim=64, threshold=0.9,
                                        num_planes=8, num_tables=4)
    plan = _df_plan(spark, df)
    # no join of any kind over the source — the candidate generation
    # is a keyed group, not a self-join
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" in plan                # batched hashing
    assert "FlatMapGroupsInPandas" in plan          # per-bucket scoring
    # the post-score cross-table dedup is the HashAggregate on pair keys
    assert "HashAggregate(keys=[doc_a" in plan


def test_kmeans_ivf_assignment_broadcasts_centroids(spark):
    """Cell assignment must be a broadcast against the tiny centroid
    table (narrow, codegen'd) — the corpus never shuffles by vector."""
    from pyspark.sql import functions as F
    from trial_data_ingestion_spark.operators.similarity import (
        kmeans_centroids, topk_ivf,
    )
    emb = spark.read.parquet(f"{SF_DIR_ORACLE}/embeddings.parquet")
    qs = (emb.where(F.col("vec_id") < 3)
             .select(F.col("vec_id").alias("query_id"),
                     F.col("embedding").alias("query_vec")))
    cents = kmeans_centroids(emb, num_cells=8, seed=42)
    df = topk_ivf(emb, qs, k=5, num_cells=8, nprobe=2,
                  centroids=cents, dim=64)
    plan = _df_plan(spark, df)
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
