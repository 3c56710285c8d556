"""Semantic dedup: known answers on handcrafted geometry, parity with
the global exact near-dup graph on separated clusters (real corpus),
the paper's farthest-from-centroid representative rule, determinism,
and the per-cell kernel plan shape."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR_ORACLE

DIM = 4


def _vec(theta: float, scale: float = 1.0):
    # unit-ish vectors in a 2D subspace of R^4: cosine == angle diff
    return [scale * math.cos(theta), scale * math.sin(theta), 0.0, 0.0]


def _toy(spark):
    # two tight angular groups around 0 and pi/2, plus a lone vector:
    # within-group cosines ~0.999+, across-group ~0 — any sane k=2
    # clustering separates them.
    rows = [
        (1, _vec(0.00)), (2, _vec(0.02)), (3, _vec(0.04, 2.0)),
        (10, _vec(math.pi / 2)), (11, _vec(math.pi / 2 + 0.03)),
        (99, _vec(math.pi / 4)),
    ]
    return spark.createDataFrame(rows,
                                 "vec_id long, embedding array<float>")


@pytest.mark.slow
def test_semantic_dedup_known_answers(spark):
    from trial_data_ingestion_spark.operators.semantic_dedup import (
        semantic_dedup,
    )
    df = _toy(spark)
    kept = sorted(r["vec_id"] for r in
                  semantic_dedup(df, dim=DIM, num_clusters=2,
                                 eps=0.99).collect())
    # min-id representative per duplicate group; the lone vector at
    # pi/4 is nobody's epsilon-neighbor and survives
    assert kept == [1, 10, 99]


def test_semantic_dedup_keep_best_rule(spark):
    import pytest
    from pyspark.sql import functions as F

    from trial_data_ingestion_spark.operators.semantic_dedup import (
        semantic_dedup,
    )
    # quality elects doc 3 from group {1,2,3} and doc 11 from {10,11}
    df = _toy(spark).withColumn(
        "quality", F.col("vec_id").cast("double"))
    kept = sorted(r["vec_id"] for r in
                  semantic_dedup(df, dim=DIM, num_clusters=2,
                                 eps=0.99, keep="best",
                                 score_col="quality").collect())
    assert kept == [3, 11, 99]
    with pytest.raises(ValueError):
        semantic_dedup(df, dim=DIM, keep="best")
    with pytest.raises(ValueError):
        semantic_dedup(df, dim=DIM, keep="nope")


def test_semantic_dup_pairs_cosine_values(spark):
    from trial_data_ingestion_spark.operators.semantic_dedup import (
        semantic_dup_pairs,
    )
    from trial_data_ingestion_spark.operators.similarity import (
        kmeans_centroids,
    )
    df = _toy(spark)
    cents = kmeans_centroids(df, 2)
    pairs = {(r["doc_a"], r["doc_b"]): r["cos"] for r in
             semantic_dup_pairs(df, cents, DIM, eps=0.99).collect()}
    assert set(pairs) == {(1, 2), (1, 3), (2, 3), (10, 11)}
    # exact cosine: angle difference, scale-invariant (doc 3 has
    # scale 2 and must still match at its angular cosine)
    assert abs(pairs[(1, 3)] - math.cos(0.04)) < 1e-6
    assert abs(pairs[(10, 11)] - math.cos(0.03)) < 1e-6


@pytest.mark.slow
def test_semantic_dedup_exact_over_blocked_pairs_on_corpus(spark):
    """Real embeddings at the corpus's own (loose, cosine ~0.4)
    neighbor structure: the removal set must EQUAL connected
    components over exactly the same-cell subset of the global
    epsilon graph — the blocking contract, verified not assumed —
    and the blocking must retain a measured fraction of all pairs.
    (Losslessness at the paper's tight operating point is
    test_semantic_dedup_lossless_on_planted_dups.)"""
    from trial_data_ingestion_spark.operators.dedup import (
        connected_components_min_label,
    )
    from trial_data_ingestion_spark.operators.semantic_dedup import (
        assign_cells,
        semantic_dedup,
    )
    from trial_data_ingestion_spark.operators.similarity import (
        embedding_near_dups_exact,
        kmeans_centroids,
    )
    emb = spark.read.parquet(f"{SF_DIR_ORACLE}/embeddings.parquet") \
        .select("vec_id", "embedding")
    dim = len(emb.first()["embedding"])
    eps = 0.4
    gpairs = embedding_near_dups_exact(emb, threshold=eps, dim=dim) \
        .select("doc_a", "doc_b").collect()
    assert len(gpairs) > 0, "fixture must exercise removal"
    cents = kmeans_centroids(emb, 5, seed=7)
    cells = {r["vec_id"]: r["cell_id"]
             for r in assign_cells(emb, cents, dim=dim).collect()}
    same_cell = [(r["doc_a"], r["doc_b"]) for r in gpairs
                 if cells[r["doc_a"]] == cells[r["doc_b"]]]
    recall = len(same_cell) / len(gpairs)
    assert recall >= 0.5, f"cell blocking recall {recall:.2f}"
    labels = connected_components_min_label(
        spark.createDataFrame(same_cell, "doc_a long, doc_b long"))
    want_drop = {r["doc"] for r in labels.collect()
                 if r["doc"] != r["label"]}
    assert want_drop, "fixture must exercise removal"
    all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    kept = {r["vec_id"] for r in
            semantic_dedup(emb, dim=dim, eps=eps,
                           centroids=cents).collect()}
    assert kept == all_ids - want_drop


def test_semantic_dedup_lossless_on_planted_dups(spark):
    """The paper's operating regime: duplicate groups tight (cosine
    >= ~0.995) relative to cluster separation (~60 degrees).  With
    well-separated centroids every epsilon-pair is same-cell, so the
    removal set must EQUAL the GLOBAL exact graph's — blocking loses
    nothing."""
    import numpy as np

    from trial_data_ingestion_spark.operators.dedup import (
        connected_components_min_label,
    )
    from trial_data_ingestion_spark.operators.semantic_dedup import (
        semantic_dedup,
    )
    from trial_data_ingestion_spark.operators.similarity import (
        embedding_near_dups_exact,
    )
    rng = np.random.default_rng(11)
    dim, n_groups, copies = 16, 8, 3
    bases = rng.normal(size=(n_groups, dim))
    bases /= np.linalg.norm(bases, axis=1, keepdims=True)
    rows, cents = [], []
    for g in range(n_groups):
        cents.append((g, [float(x) for x in bases[g]]))
        for c in range(copies):
            v = bases[g] + rng.normal(scale=0.01, size=dim)
            rows.append((g * 10 + c, [float(x) for x in v]))
    emb = spark.createDataFrame(rows,
                                "vec_id long, embedding array<float>")
    centroids = spark.createDataFrame(
        cents, "cell_id int, centroid array<double>")
    eps = 0.98
    gpairs = embedding_near_dups_exact(emb, threshold=eps, dim=dim) \
        .select("doc_a", "doc_b").localCheckpoint()
    labels = connected_components_min_label(gpairs)
    want_drop = {r["doc"] for r in labels.collect()
                 if r["doc"] != r["label"]}
    assert len(want_drop) == n_groups * (copies - 1)
    kept = {r["vec_id"] for r in
            semantic_dedup(emb, dim=dim, eps=eps,
                           centroids=centroids).collect()}
    assert kept == {r[0] for r in rows} - want_drop


def test_semantic_dedup_farthest_rule(spark):
    from trial_data_ingestion_spark.operators.semantic_dedup import (
        semantic_dedup,
    )
    # group around theta=0: member 3 sits FARTHEST from the group
    # mean (largest angle) -> it is the survivor under the paper's
    # rule, not min id
    rows = [
        (1, _vec(0.00)), (2, _vec(0.01)), (3, _vec(0.10)),
        (10, _vec(math.pi / 2)), (11, _vec(math.pi / 2 + 0.03)),
    ]
    df = spark.createDataFrame(rows,
                               "vec_id long, embedding array<float>")
    kept = sorted(r["vec_id"] for r in
                  semantic_dedup(df, dim=DIM, num_clusters=2,
                                 eps=0.98, keep="farthest").collect())
    assert kept == [3, 10]


def test_semantic_dedup_deterministic(spark):
    from trial_data_ingestion_spark.operators.semantic_dedup import (
        semantic_dedup,
    )
    emb = spark.read.parquet(f"{SF_DIR_ORACLE}/embeddings.parquet") \
        .select("vec_id", "embedding")
    dim = len(emb.first()["embedding"])
    a = sorted(r["vec_id"] for r in
               semantic_dedup(emb, dim=dim, eps=0.4, num_clusters=10, seed=5).collect())
    b = sorted(r["vec_id"] for r in
               semantic_dedup(emb, dim=dim, eps=0.4, num_clusters=10, seed=5).collect())
    assert a == b and 0 < len(a) < emb.count()


def test_semantic_dedup_kernel_plan_shape(spark):
    """ONE corpus scan grouped on cell_id into the Arrow pair kernel
    (FlatMapGroupsInPandas) — no cell self-join anywhere in the plan,
    so the source is scanned once and no O(sum_c m_c^2) candidate
    structs are materialized ahead of the cosine (measured on bench
    b13 at sf0.1: join 2.28 s vs kernel 1.29 s steady, identical
    pairs and survivors; the chunked kernel also bounds task memory
    where the join's 300x attempt OOM'd the 8 GB driver)."""
    from trial_data_ingestion_spark.operators.semantic_dedup import (
        semantic_dup_pairs,
    )
    from trial_data_ingestion_spark.operators.similarity import (
        first_id_centroids,
    )
    emb = spark.read.parquet(f"{SF_DIR_ORACLE}/embeddings.parquet") \
        .select("vec_id", "embedding")
    dim = len(emb.first()["embedding"])
    cents = first_id_centroids(emb, 4).select(
        "cell_id", F.col("centroid").cast("array<double>").alias("centroid"))
    plan = semantic_dup_pairs(emb, cents, dim)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    for join_on_cell in ("SortMergeJoin [cell_id",
                         "ShuffledHashJoin [cell_id",
                         "BroadcastHashJoin [cell_id"):
        assert join_on_cell not in plan


def test_assign_cells_impls_agree(spark, monkeypatch):
    """BLAS-argmin kernel vs crossJoin+window: identical assignments
    on the real corpus AND on the zero-vector edge (null unit
    projection takes the smallest cell_id — the window shape's
    nulls-first ordering, pinned so the r12 kernel can't drift).
    Each shape is forced by moving the cell-count crossover."""
    from trial_data_ingestion_spark.operators import semantic_dedup as sd

    emb = spark.read.parquet(f"{SF_DIR_ORACLE}/embeddings.parquet") \
        .select("vec_id", "embedding")
    dim = len(emb.first()["embedding"])
    cents = spark.createDataFrame(
        sd.sampled_kmeans_centroids(emb, dim, 8, seed=7).collect(),
        "cell_id int, centroid array<double>")
    z = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.0, 2.0])],
        "vec_id bigint, embedding array<float>")
    zc = spark.createDataFrame([(5, [0.9, 0.1]), (7, [0.1, 0.9])],
                               "cell_id int, centroid array<double>")
    got = {}
    for shape, crossover in (("window", 10 ** 9), ("kernel", 0)):
        monkeypatch.setattr(sd, "_ASSIGN_KERNEL_MIN_CELLS", crossover)
        got[shape] = {r["vec_id"]: r["cell_id"] for r in
                      sd.assign_cells(emb, cents, dim=dim).collect()}
        # zero-vector edge: both shapes give it the smallest cell_id
        cells = {r["vec_id"]: r["cell_id"] for r in
                 sd.assign_cells(z, zc, dim=2).collect()}
        assert cells == {1: 5, 2: 5, 3: 7}, (shape, cells)
    assert got["window"] == got["kernel"] and len(got["kernel"]) > 0


def test_assign_cells_auto_picks_shape_by_cell_count(spark):
    """Window below the measured 256-cell crossover, BLAS kernel
    above it — SemDeDup sizes cells ~ n, so deployments land on the
    kernel while small sweeps keep the all-codegen shape."""
    from trial_data_ingestion_spark.operators.semantic_dedup import (
        assign_cells,
    )
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)],
        "vec_id bigint, embedding array<float>")
    small = spark.createDataFrame(
        [(i, [float(i), 0.5]) for i in range(4)],
        "cell_id int, centroid array<double>")
    big = spark.createDataFrame(
        [(i, [float(i), 0.5]) for i in range(300)],
        "cell_id int, centroid array<double>")
    plan_small = assign_cells(emb, small, dim=2) \
        ._jdf.queryExecution().executedPlan().toString()
    plan_big = assign_cells(emb, big, dim=2) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan_small
    assert "ArrowEvalPython" in plan_big


def test_semantic_dup_pairs_match_exact_within_cells(spark):
    """The per-cell kernel's pairs are exactly the global exact
    cosine graph (:func:`similarity.embedding_near_dups_exact`, the
    codegen'd reference) restricted to same-cell members, on the
    real corpus (the BLAS ulp caveat documented on the kernel is
    measure-zero at real thresholds)."""
    from trial_data_ingestion_spark.operators.semantic_dedup import (
        assign_cells, sampled_kmeans_centroids, semantic_dup_pairs,
    )
    from trial_data_ingestion_spark.operators.similarity import (
        embedding_near_dups_exact,
    )
    emb = spark.read.parquet(f"{SF_DIR_ORACLE}/embeddings.parquet") \
        .select("vec_id", "embedding")
    dim = len(emb.first()["embedding"])
    cents = spark.createDataFrame(
        sampled_kmeans_centroids(emb, dim, 8, seed=7).collect(),
        "cell_id int, centroid array<double>")
    cell = {r["vec_id"]: r["cell_id"] for r in
            assign_cells(emb, cents, dim=dim).collect()}
    want = sorted(
        (r["doc_a"], r["doc_b"]) for r in
        embedding_near_dups_exact(emb, threshold=0.4, dim=dim).collect()
        if cell[r["doc_a"]] is not None
        and cell[r["doc_a"]] == cell[r["doc_b"]])
    got = sorted((r["doc_a"], r["doc_b"]) for r in
                 semantic_dup_pairs(emb, cents, dim, eps=0.4)
                 .select("doc_a", "doc_b").collect())
    assert got == want and len(got) == 24


def test_srp_recall_planning_math():
    """srp_pair_recall is the Goemans-Williamson collision curve; the
    table planner inverts it to a target recall — the SRP twin of
    dedup.lsh_plan (r10: these numbers back semantic_dedup_blocked's
    'auto' knobs)."""
    import math

    import pytest

    from trial_data_ingestion_spark.operators.similarity import (
        srp_pair_recall, srp_tables_for_recall,
    )
    # the multitable docstring's worked example: cosine 0.9, p=8
    theta = math.acos(0.9)
    p1 = (1 - theta / math.pi) ** 8
    assert abs(srp_pair_recall(0.9, 8) - p1) < 1e-12
    assert abs(srp_pair_recall(0.9, 8, 4)
               - (1 - (1 - p1) ** 4)) < 1e-12
    assert 0.28 < p1 < 0.30
    L = srp_tables_for_recall(0.9, 8, target=0.95)
    assert srp_pair_recall(0.9, 8, L) >= 0.95
    assert srp_pair_recall(0.9, 8, L - 1) < 0.95   # smallest such L
    # identical vectors collide in every table
    assert srp_pair_recall(1.0, 64, 1) == 1.0
    assert srp_tables_for_recall(1.0, 64) == 1
    # unreachable target under the cap warns and returns the cap
    with pytest.warns(UserWarning, match="tables reach only"):
        capped = srp_tables_for_recall(0.5, 24, target=0.95,
                                       max_tables=8)
    assert capped == 8
    with pytest.raises(ValueError):
        srp_tables_for_recall(0.9, 8, target=1.5)


@pytest.mark.slow
def test_semantic_dedup_blocked_on_planted_dups(spark):
    """The linear-path operator must reproduce the GLOBAL exact
    graph's removal set in the paper's operating regime (tight dup
    groups, cosine >= ~0.995): with auto planes and recall-planned
    tables every planted pair is found (deterministic here — planes
    are md5-derived, data is seeded).  keep='best' elects by score;
    'farthest' has no cells to be far from and is rejected."""
    import numpy as np
    import pytest

    from trial_data_ingestion_spark.operators.dedup import (
        connected_components_min_label,
    )
    from trial_data_ingestion_spark.operators.semantic_dedup import (
        semantic_dedup_blocked,
    )
    from trial_data_ingestion_spark.operators.similarity import (
        embedding_near_dups_exact,
    )
    rng = np.random.default_rng(11)
    dim, n_groups, copies = 16, 8, 3
    bases = rng.normal(size=(n_groups, dim))
    bases /= np.linalg.norm(bases, axis=1, keepdims=True)
    rows = []
    for g in range(n_groups):
        for c in range(copies):
            v = bases[g] + rng.normal(scale=0.01, size=dim)
            rows.append((g * 10 + c, [float(x) for x in v]))
    emb = spark.createDataFrame(rows,
                                "vec_id long, embedding array<float>")
    eps = 0.98
    gpairs = embedding_near_dups_exact(emb, threshold=eps, dim=dim) \
        .select("doc_a", "doc_b").localCheckpoint()
    want_drop = {r["doc"] for r in
                 connected_components_min_label(gpairs).collect()
                 if r["doc"] != r["label"]}
    assert len(want_drop) == n_groups * (copies - 1)
    kept = {r["vec_id"] for r in
            semantic_dedup_blocked(emb, dim=dim, eps=eps,
                                   target_recall=0.999).collect()}
    assert kept == {r[0] for r in rows} - want_drop
    # score election: the HIGHEST id in each group carries the best
    # score, so min-id never survives a group
    from pyspark.sql import functions as F
    scored = emb.withColumn("q", F.col("vec_id").cast("double"))
    kept_best = {r["vec_id"] for r in
                 semantic_dedup_blocked(scored, dim=dim, eps=eps,
                                        target_recall=0.999,
                                        keep="best",
                                        score_col="q").collect()}
    assert kept_best == {g * 10 + (copies - 1) for g in range(n_groups)}
    with pytest.raises(ValueError):
        semantic_dedup_blocked(emb, dim=dim, keep="farthest")
    with pytest.raises(ValueError):
        semantic_dedup_blocked(emb, dim=dim, keep="best")
    with pytest.raises(ValueError):
        semantic_dedup_blocked(emb, dim=dim, num_tables=0)
    with pytest.raises(ValueError):
        semantic_dedup_blocked(emb, dim=dim, num_tables=True)


def test_farthest_assigns_cells_exactly_once(spark, monkeypatch):
    """keep='farthest' reuses ONE cell assignment for both the pair
    stage and the centroid-distance election (r13) — r12 ran
    assign_cells twice, recomputing the assignment kernel/window for
    the election."""
    import math

    from trial_data_ingestion_spark.operators import semantic_dedup as sd

    calls = []
    real = sd.assign_cells

    def counting(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(sd, "assign_cells", counting)
    rows = [
        (1, _vec(0.00)), (2, _vec(0.01)), (3, _vec(0.10)),
        (10, _vec(math.pi / 2)), (11, _vec(math.pi / 2 + 0.03)),
    ]
    df = spark.createDataFrame(rows,
                               "vec_id long, embedding array<float>")
    kept = sorted(r["vec_id"] for r in
                  sd.semantic_dedup(df, dim=DIM, num_clusters=2,
                                    eps=0.98,
                                    keep="farthest").collect())
    assert kept == [3, 10]          # same election as the r12 shape
    assert len(calls) == 1, f"assign_cells ran {len(calls)} times"


def test_assign_cells_rejects_empty_codebook_on_driver_paths(spark,
                                                            monkeypatch):
    """Zero centroids is always a caller bug: both shapes must raise
    instead of silently diverging (kernel: all-null cell_id; window:
    all rows dropped)."""
    from trial_data_ingestion_spark.operators import semantic_dedup as sd

    emb = spark.createDataFrame([(1, _vec(0.0))],
                                "vec_id long, embedding array<float>")
    empty = spark.createDataFrame(
        [], "cell_id int, centroid array<double>")
    for crossover in (10 ** 9, -1):
        monkeypatch.setattr(sd, "_ASSIGN_KERNEL_MIN_CELLS", crossover)
        with pytest.raises(ValueError, match="empty codebook"):
            sd.assign_cells(emb, empty, dim=DIM)
