"""Semantic deduplication: k-means-clustered embedding space, exact
cosine verification inside each cluster, one representative kept per
epsilon-connected duplicate group (the SemDeDup recipe).

Training-data-pipeline tier.  Near-dedup (dedup.py, similarity.py)
targets REDUNDANT text — copies and near-copies.  Semantic dedup
targets REDUNDANT MEANING: paraphrases, templated rewrites,
re-crawls with different boilerplate, which published work (SemDeDup,
Abbas et al. 2023, arXiv:2303.09540) shows can be removed at high
rates with little quality loss.  The mechanics differ from
`embedding_near_dups` only in the blocking geometry — and that
difference is the point:

  * SRP buckets (near-dup path) are DATA-INDEPENDENT slices; a pair
    at cosine 0.9 lands in one bucket with probability that decays
    with the plane count, so recall needs multi-table unions.
  * k-means cells (this path) are DATA-ADAPTIVE: semantically close
    points sit in the same cell by construction, so one blocking
    pass catches epsilon-pairs at much lower epsilon (0.7-0.95 —
    the SemDeDup operating range, far below where SRP blocking has
    usable recall).

Pipeline: assign each vector to its nearest trained centroid
(auto by cell count: an Arrow-batched BLAS argmin against the
closure-held centroid matrix once the codebook crosses the measured
crossover, the broadcast-crossJoin + window shape below it — either
way the corpus never shuffles for assignment, see
:func:`assign_cells`); pair within each cell (per-cell BLAS cosine
kernel, see :func:`semantic_dup_pairs`); exact cosine >= eps;
connected components over the verified pairs (driver union-find for
realistic dup-graph sizes); keep one representative per component.

Representative rules:
  * ``keep="min_id"`` (default): the lowest id — deterministic and
    DuckDB-reproducible, mirrors every other dedup family here.
  * ``keep="farthest"``: the member with the LOWEST cosine to its
    cluster centroid — the paper's choice (retains the least
    prototypical example, biasing kept data away from dense modes).

Scale notes (100 TB):
  * centroids train on a sample (`sample_fraction`) with distributed
    Lloyd iterations; only k centers return to the driver.
  * per-cell candidate volume is O(sum_c n_c^2): pick
    ``num_clusters`` so the expected cell population is 10^3-10^4
    (the paper used 11k clusters for 100M points).  A hot cell costs
    one long kernel task, row-block-chunked so its memory stays
    bounded.
  * the pair list (verified dups only) is orders below the corpus;
    components resolve on the driver exactly like the MinHash path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trial_data_ingestion_spark.functions.vector import (
    dot_fixed,
    l2_norm_fixed,
)
from trial_data_ingestion_spark.operators.dedup import (
    connected_components_min_label,
)
from trial_data_ingestion_spark.operators.similarity import (
    _nearest_cells,
    _srp_pairs_kernel,
    kmeans_centroids,
)
from trial_data_ingestion_spark.session import local_frame


def _with_unit(df: DataFrame, vec_col: str, dim: int,
               out: str = "__u") -> DataFrame:
    """Attach the unit-sphere projection of ``vec_col`` as ``out``.
    Duplicate geometry here is COSINE: clustering/assignment must be
    scale-invariant or a vector that is angularly identical but twice
    the norm drifts into another L2 cell and its epsilon-pairs are
    never candidates (zero vectors have no direction and come out
    null — they join no cell and are never dedup candidates).

    Two projections on purpose: the norm lands in its own column
    first, so the divide lambda references a slot, not the 64-term
    sqrt-of-sum expression — inlined per element that becomes a
    dim^2-term tree that falls out of codegen (measured ~30x slower
    on 64-dim)."""
    nrm = f"{out}_nrm"
    return (df.withColumn(nrm, l2_norm_fixed(vec_col, dim))
            .withColumn(out, F.when(
                F.col(nrm) > 0,
                F.transform(F.col(vec_col),
                            lambda x: x.cast("double") / F.col(nrm))))
            .drop(nrm))


#: assignment-shape crossover, measured r12 (sf0.1, 20k x 64 vectors,
#: assignment isolated behind an agg, min of 2 after warm-up):
#: window/kernel sec = 1.14/0.98 at 16 cells, 1.10/1.18 at 128,
#: 1.86/0.99 at 512, 4.64/1.37 at 2048 — the window shape's
#: crossJoin explode is n*cells rows so its wall grows linearly in
#: the cell count while the BLAS argmin's matmul rides memory
#: bandwidth.  In the FULL b13 pipeline at 16 cells the kernel LOSES
#: ~1 s (two chained Python stages), so the cut sits between the
#: 128-cell wash and the 512-cell 1.9x win.
_ASSIGN_KERNEL_MIN_CELLS = 256


def assign_cells(embeddings: DataFrame, centroids: DataFrame,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 dim: int = 0) -> DataFrame:
    """Each row with its nearest ``cell_id`` attached; no corpus
    shuffle in any shape.

    The codebook size picks the physical shape (the measured
    crossover is :data:`_ASSIGN_KERNEL_MIN_CELLS`).  SemDeDup sizes
    cells ~ n, so deployments land on the kernel and small sweeps
    keep the all-codegen shape:

    * above the crossover: one Arrow-batched pandas_udf holding the
      centroid matrix in its closure; per batch the L2 argmin over the
      unit projection is one ``||c||^2 - 2 x @ c.T`` BLAS product,
      row-chunked so a task never holds the full B x cells distance
      matrix.  Zero row multiplication, zero exchange — the window
      shape's crossJoin explodes every row x cells BEFORE its
      ``row_number`` window shuffles and sorts the exploded frame,
      which is n*cells rows when cells grow with the corpus (2.9B
      rows at the 300x tier, the measured OOM-before-time wall of
      b13's 300x attempts).
    * up to the crossover: the crossJoin+window shape, whose per-cell
      distance is the SAME codegen'd ``l2_distance_fixed`` a DuckDB
      oracle re-derives, while BLAS blocked summation can round a
      distance's last ulp differently — a measure-zero argmin
      tie-break at cell boundaries, same caveat as
      ``srp_buckets_batched``.

    Parity (pinned by test_assign_cells_impls_agree): identical
    assignments on real corpora, including the zero-vector edge — a
    null unit projection takes the smallest cell_id, matching the
    window shape's nulls-first ordering.  An empty codebook raises
    ``ValueError`` (a caller bug: the window shape would drop every
    row, the kernel would null every cell_id)."""
    # ONE collect serves both the routing decision and the kernel's
    # centroid matrix (the codebook ships in the udf closure anyway)
    crows = centroids.select("cell_id", "centroid") \
                     .orderBy("cell_id").collect()
    if not crows:
        raise ValueError(
            "assign_cells: empty codebook — zero centroids is "
            "always a caller bug")
    unit = _with_unit(embeddings, vec_col, dim)
    if len(crows) <= _ASSIGN_KERNEL_MIN_CELLS:
        assigned = _nearest_cells(unit, centroids, "__u", id_col,
                                  n_keep=1, dim=dim)
        return assigned.drop("__u")
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    cent_t = np.array([r["centroid"] for r in crows],
                      dtype=np.float64).T            # (dim, cells)
    c2 = (cent_t * cent_t).sum(axis=0)               # (cells,)
    cids = np.array([r["cell_id"] for r in crows], dtype=np.int64)
    null_cell = int(cids[0])

    @pandas_udf("int")
    def nearest(col: pd.Series) -> pd.Series:
        out = np.full(len(col), null_cell, dtype=object)
        live = [i for i, v in enumerate(col) if v is not None]
        # row-chunked: bounds the transient distance matrix at
        # 512 x cells doubles per task regardless of batch size
        for s in range(0, len(live), 512):
            idx = live[s:s + 512]
            x = np.array([np.asarray(col.iloc[i], dtype=np.float64)
                          for i in idx])
            d2 = c2 - 2.0 * (x @ cent_t)             # (chunk, cells)
            # np.argmin keeps the FIRST minimum: rows are sorted by
            # cell_id, so ties resolve to the smallest cell_id like
            # the window shape's (__d asc, cell_id asc)
            picks = cids[np.argmin(d2, axis=1)]
            for j, i in enumerate(idx):
                out[i] = int(picks[j])
        return pd.Series(out)

    return unit.withColumn("cell_id", nearest("__u")).drop("__u")


def sampled_kmeans_centroids(embeddings: DataFrame, dim: int,
                             num_clusters: int = 16,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             sample_size: int = 20_000,
                             iters: int = 20,
                             seed: int = 42) -> DataFrame:
    """Spherical codebook from a bounded content-stable sample:
    deterministic driver-side Lloyd (quantization's ``_lloyd``) over
    at most ``sample_size`` unit-normalized vectors, picked by
    ``xxhash64(id)`` order (same draw on any partitioning).

    This is the default trainer for :func:`semantic_dedup`: a few
    hundred points per cell bounds the fit at any corpus scale, and
    the 20-iteration numpy Lloyd on a 20k sample runs in tens of
    milliseconds where MLlib's distributed fit pays ~1 s of job
    scheduling PER ITERATION (measured 19 s vs 0.1 s on 5k x 64 —
    the distributed fit only wins when the training set itself
    cannot fit one machine, which a bounded sample never hits).
    ``kmeans_centroids`` (MLlib) remains for full-corpus fits."""
    import numpy as np

    from trial_data_ingestion_spark.operators.quantization import _lloyd

    rows = (_with_unit(embeddings, vec_col, dim)
            .select(F.col(id_col), "__u")
            .where(F.col("__u").isNotNull())
            .orderBy(F.xxhash64(F.col(id_col)))
            .limit(sample_size).collect())
    pts = np.array([r["__u"] for r in rows], dtype=np.float64)
    cent = _lloyd(pts, num_clusters, iters,
                  np.random.default_rng(seed))
    return local_frame(
        embeddings.sparkSession,
        [(i, [float(x) for x in c]) for i, c in enumerate(cent)],
        "cell_id int, centroid array<double>")


def semantic_dup_pairs(embeddings: DataFrame, centroids: DataFrame,
                       dim: int, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       eps: float = 0.9) -> DataFrame:
    """Verified semantic-duplicate pairs ``(doc_a, doc_b, cos)``:
    same-cell candidates only, exact cosine >= eps.

    Physical shape: :func:`assign_cells`, then ONE keyed shuffle into
    per-cell BLAS cosine matrices via ``applyInPandas``
    (:func:`similarity._srp_pairs_kernel` grouped on ``cell_id``,
    row-block-chunked so a cell never materializes its full m x m
    matrix).  Members cross the Python boundary once per cell —
    O(n) rows — instead of a cell self-join's O(sum_c m_c^2)
    candidate-pair struct copies ahead of a codegen'd dot.  Measured
    on bench b13 (sf0.1, 20k vectors, 16 cells = ~1250 members/cell,
    the SemDeDup paper's occupancy regime): self-join 2.9-3.2 s
    steady vs kernel ~1 s, and the chunked kernel bounds task memory
    where the join's 300x attempt OOM'd the 8 GB driver
    materializing per-cell pairs.

    Norms are computed once per vector before pairing; the kernel
    masks ``doc_a == doc_b`` self-pairs when input ids repeat."""
    assigned = assign_cells(embeddings, centroids, id_col, vec_col,
                            dim)
    return _pairs_from_assigned(assigned, embeddings.schema, dim,
                                id_col, vec_col, eps)


def _pairs_from_assigned(assigned: DataFrame, emb_schema, dim: int,
                         id_col: str, vec_col: str,
                         eps: float) -> DataFrame:
    """Pair stage of :func:`semantic_dup_pairs` over an ALREADY
    cell-assigned frame — split out so ``semantic_dedup``'s
    ``keep='farthest'`` rule can reuse its one assignment for both
    the pair stage and the centroid-distance election instead of
    running :func:`assign_cells` twice."""
    sel = (assigned
           .select(F.col(id_col).alias("doc"),
                   F.col(vec_col).alias("v"),
                   l2_norm_fixed(vec_col, dim).alias("nrm"),
                   "cell_id")
           # a null cell_id (zero-norm vector, no direction) joins
           # no cell
           .where(F.col("cell_id").isNotNull()))
    return _srp_pairs_kernel(sel, emb_schema, id_col, eps,
                             group_cols=("cell_id",))


def semantic_dedup(embeddings: DataFrame, dim: int,
                   num_clusters: int = 16, eps: float = 0.9,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   keep: str = "min_id", seed: int = 42,
                   sample_size: int = 20_000,
                   centroids: DataFrame | None = None,
                   score_col: str | None = None) -> DataFrame:
    """Corpus with semantic duplicates removed: one representative
    survives per epsilon-connected same-cell duplicate group; rows in
    no duplicate pair pass through untouched.  Pass ``centroids`` to
    reuse a trained codebook across sweeps (at scale the codebook,
    like the quality-filter model, is a persisted artifact).

    Representative rules: ``min_id`` (default, DuckDB-reproducible),
    ``farthest`` (lowest cosine to the cell centroid — the paper's
    anti-dense-mode choice), or ``keep="best"`` with a ``score_col``
    (highest quality score wins, ties to min id — the RefinedWeb
    election shared with ``dedup.keep_best_per_cluster``)."""
    if keep not in ("min_id", "farthest", "best"):
        raise ValueError(f"keep must be min_id|farthest|best, "
                         f"got {keep!r}")
    if keep == "best" and score_col is None:
        raise ValueError("keep='best' requires score_col")
    if centroids is None:
        centroids = sampled_kmeans_centroids(
            embeddings, dim, num_clusters, id_col, vec_col,
            sample_size=sample_size, seed=seed)
    assigned = None
    if keep == "farthest":
        # ONE assignment for both consumers (r13): the pair stage and
        # the centroid-distance election below read the same
        # cell-assigned frame, where r12 ran assign_cells twice —
        # once inside semantic_dup_pairs and once for the election
        # (the second Python-kernel/crossJoin pass was pure rework).
        # Persisted because both consumers action it independently.
        assigned = assign_cells(embeddings, centroids, id_col,
                                vec_col, dim).persist()
        pairs = _pairs_from_assigned(assigned, embeddings.schema,
                                     dim, id_col, vec_col, eps) \
            .select("doc_a", "doc_b")
    else:
        pairs = semantic_dup_pairs(embeddings, centroids, dim, id_col,
                                   vec_col, eps) \
            .select("doc_a", "doc_b")
    if keep == "best":
        # keep_best_per_cluster localCheckpoint()s the pairs itself —
        # checkpointing here too would materialize the candidate
        # computation twice
        from trial_data_ingestion_spark.operators.dedup import (
            keep_best_per_cluster,
        )
        return keep_best_per_cluster(embeddings, pairs, id_col,
                                     score_col)
    pairs = pairs.localCheckpoint()
    labels = connected_components_min_label(pairs)
    if keep == "min_id":
        drops = (labels.where(F.col("label") != F.col("doc"))
                 .select(F.col("doc").alias(id_col)))
    else:
        # cosine of each component member to its OWN cell centroid;
        # representative = lexicographic min of (cos, id) — the least
        # prototypical member, deterministic under ties
        member = (assigned
                  .join(labels.withColumnRenamed("doc", id_col),
                        id_col)
                  .join(centroids.select("cell_id",
                                         F.col("centroid").alias("c")),
                        "cell_id")
                  .select(id_col, "label",
                          (dot_fixed(vec_col, "c", dim)
                           / (l2_norm_fixed(vec_col, dim)
                              * l2_norm_fixed("c", dim))).alias("cc")))
        reps = (member.groupBy("label")
                .agg(F.min(F.struct("cc", id_col)).alias("__rep"))
                .select(F.col(f"__rep.{id_col}").alias("__keep_id")))
        # the drop set is bounded by the duplicate components; pinning
        # it releases the assignment persist before return (the
        # survivor plan then never re-reads the cached assignment)
        drops = (member.join(reps,
                             member[id_col] == reps["__keep_id"],
                             "left_anti")
                 .select(id_col)
                 .localCheckpoint())
        assigned.unpersist()
    return embeddings.join(drops, id_col, "left_anti")


def semantic_dedup_blocked(embeddings: DataFrame, dim: int,
                           eps: float = 0.9,
                           num_planes: int | str = "auto",
                           num_tables: int | str = "auto",
                           target_recall: float = 0.95,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           keep: str = "min_id",
                           score_col: str | None = None) -> DataFrame:
    """:func:`semantic_dedup` semantics (drop epsilon-connected
    cosine duplicates, one representative per group) with MULTI-TABLE
    SRP blocking instead of centroid cells — the sub-quadratic path
    at corpus scale.

    Why it exists: the centroid-cell shape is inherently superlinear
    — bounding the per-cell exact-pair term n²/cells needs
    cells ~ n, which makes the broadcast-argmin assignment n·cells =
    n², and ANY exact assignment with balanced cells is >= n^1.5
    (n·k + n²/k minimized at k ~ sqrt(n)); the SemDeDup paper pays
    that term on GPUs.  SRP blocking is data-independent, so recall
    at a HIGH eps needs amplification: ``num_tables="auto"`` sizes
    the table count from :func:`similarity.srp_tables_for_recall` so
    the union recall at exactly ``eps`` reaches ``target_recall``
    (pairs above eps are found with higher probability still).
    ``num_planes="auto"`` keeps bucket occupancy constant per
    :func:`similarity.srp_auto_planes`, so PER-TABLE candidate
    volume stays linear in n.

    Cost law, stated precisely: with occupancy-pinned planes the
    single-table recall at eps decays as planes grow, so holding
    ``target_recall`` makes the table count grow too — total cost is
    the classic LSH n^(1+rho), rho < 1, NOT linear (only the
    fixed-recall-trade single-table path, ``embedding_near_dups``
    with planes="auto" — the q48 scale-tier entry — is measured
    linear).  Either way the curve sits below the cell shape's
    exact-assignment n^1.5-to-n^2, and the knobs are explicit where
    the cell path's cost cliff is structural.

    Representative rules: ``min_id`` (default) or ``keep="best"``
    with a ``score_col`` — ``farthest`` needs cell centroids and has
    no meaning here.

    Physical shape: :func:`similarity.embedding_near_dups_multitable`
    (Arrow-batch matmul hashing, per-bucket BLAS cosine kernel).
    B28_SCALE_PROFILE.json records why: at the auto-resolved
    deployment plans, slice-explode pair materialization carried 65%
    of the 100x wall and codegen'd hashing (L·p = 450 sign-dot
    expressions) 27%, and the kernel shape measured 89 s vs 232 s
    for 200k vectors (identical survivors; 1.8x at 20k)."""
    from trial_data_ingestion_spark.operators.similarity import (
        embedding_near_dups_multitable, resolve_num_planes,
        srp_tables_for_recall,
    )
    if keep not in ("min_id", "best"):
        raise ValueError(f"keep must be min_id|best, got {keep!r}")
    if keep == "best" and score_col is None:
        raise ValueError("keep='best' requires score_col")
    num_planes = resolve_num_planes(num_planes,
                                    lambda: embeddings.count())
    if num_tables == "auto":
        num_tables = srp_tables_for_recall(eps, num_planes,
                                           target=target_recall)
    elif (isinstance(num_tables, bool)
          or not isinstance(num_tables, int) or num_tables < 1):
        raise ValueError(f"num_tables must be a positive int or "
                         f"'auto', got {num_tables!r}")
    pairs = embedding_near_dups_multitable(
        embeddings, dim, id_col, vec_col, threshold=eps,
        num_planes=num_planes, num_tables=num_tables) \
        .select("doc_a", "doc_b")
    if keep == "best":
        # keep_best_per_cluster localCheckpoint()s the pairs itself —
        # checkpointing here too would materialize the candidate
        # computation twice
        from trial_data_ingestion_spark.operators.dedup import (
            keep_best_per_cluster,
        )
        return keep_best_per_cluster(embeddings, pairs, id_col,
                                     score_col)
    pairs = pairs.localCheckpoint()
    labels = connected_components_min_label(pairs)
    drops = (labels.where(F.col("label") != F.col("doc"))
             .select(F.col("doc").alias(id_col)))
    return embeddings.join(drops, id_col, "left_anti")
