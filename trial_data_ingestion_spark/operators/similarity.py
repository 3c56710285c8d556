"""Similarity search over embedding columns (E6/E7 + north star).

The reference writes vectors into Chroma with a cosine/l2/ip HNSW
space (``vectorstores/chroma_store.py:13,28-31``) but never queries it;
the query capability is the store's purpose, so this module provides:

* ``topk_bruteforce`` — exact top-k: broadcast the (small) query set,
  score natively, per-partition top-k then global top-k.  The
  per-query ``row_number`` window partitions by query id, so the
  shuffle moves only (query, candidate, score) triples — never the
  vectors themselves.
* ``topk_lsh`` — scale path: sign-random-projection bucketing
  (deterministic hyperplanes derived from md5, so tests are
  reproducible) with multi-probe; candidates re-scored exactly.
  At 100 TB this turns a full scan per query into a bucket-join.
* ``topk_lsh_over_index`` / ``topk_ivf_over_index`` — the same
  answers over a persisted bucket or cell layout: a query reads and
  scores only its probed partitions.  The SRP index
  (``write_srp_index``) keeps ``bucket`` as a data column under a
  coarse ``pbkt`` partition (its low bits, ``num_buckets`` of them,
  sized by ``srp_index_buckets`` and recorded), so a query reads the
  ``pbkt`` partitions of its probed buckets and filters ``bucket`` by
  literal.  The SRP query side (norm,
  bucket, probe set) is computed on the driver, the rescore is one
  ``aggregate`` fold, and a single query is ranked by a per-task
  top-k that the driver merges; a batch of queries ranks with the
  ``row_number`` window.
"""

from __future__ import annotations

import functools
import math

# module-level so pandas_udf type-hint resolution (get_type_hints
# against these globals) can see `pd` — the stringified annotations
# from `from __future__ import annotations` are otherwise unresolvable
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from trial_data_ingestion_spark.functions.vector import (
    cosine_similarity, cosine_similarity_fixed, dot, dot_fixed,
    l2_distance, l2_distance_fixed, l2_norm_fixed,
)
from trial_data_ingestion_spark.session import (
    ensure_parallelism, local_frame,
)
from trial_data_ingestion_spark.store import (
    entry_frame, frame_entry, index_auto_buckets, new_delta, read_params,
    read_partitions, recorded, write_store,
)

_METRICS = {
    "cosine": (cosine_similarity, F.desc),
    "ip": (dot, F.desc),
    "l2": (l2_distance, F.asc),
}

_METRICS_FIXED = {
    "cosine": (cosine_similarity_fixed, F.desc),
    "ip": (dot_fixed, F.desc),
    "l2": (l2_distance_fixed, F.asc),
}


def topk_bruteforce(embeddings: DataFrame, queries: DataFrame,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    query_id_col: str = "query_id",
                    query_vec_col: str = "query_vec",
                    k: int = 10, metric: str = "cosine",
                    exclude_self: bool = True,
                    dim: int | None = None) -> DataFrame:
    """Exact top-k neighbors for each query vector.

    Result: (query_id, neighbor id, score, rank).  Ties broken by
    neighbor id for determinism under any partitioning.  Pass ``dim``
    to use the unrolled codegen scorer (vector.py) — always worth it
    when the dimension is known.
    """
    if dim is not None and metric == "cosine":
        # factored cosine: norms once per row pre-join, only the
        # dim-term dot in the join stage (the 3x-dim inline cosine
        # overflows janino's 64 KB doConsume limit — see
        # embedding_near_dups); same association order -> same values
        order = F.desc
        embeddings = embeddings.withColumn(
            "__nrm", l2_norm_fixed(vec_col, dim))
        queries = queries.withColumn(
            "__qnrm", l2_norm_fixed(query_vec_col, dim))
        score = (dot_fixed(vec_col, query_vec_col, dim)
                 / (F.col("__nrm") * F.col("__qnrm")))
    elif dim is not None:
        score_fn, order = _METRICS_FIXED[metric]
        score = score_fn(F.col(vec_col), F.col(query_vec_col), dim)
    else:
        fn, order = _METRICS[metric]
        score = fn(F.col(vec_col), F.col(query_vec_col))
    scored = (
        embeddings.crossJoin(F.broadcast(queries))
        .withColumn("score", score)
    )
    if exclude_self:
        scored = scored.where(F.col(id_col) != F.col(query_id_col))
    w = Window.partitionBy(query_id_col).orderBy(order("score"),
                                                F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
              .where(F.col("rank") <= k)
              .select(query_id_col, F.col(id_col).alias("neighbor_id"),
                      "score", "rank")
    )


@functools.lru_cache(maxsize=None)
def _hyperplane(dim: int, plane_idx: int) -> tuple[float, ...]:
    """Deterministic pseudo-random unit-free hyperplane: component j is
    derived from md5(f"{plane_idx}:{j}") mapped to [-1, 1).  Pure
    Python at plan time (tiny), shipped as a literal array; cached, so
    repeated queries of one index hash no plane twice."""
    import hashlib
    comps = []
    for j in range(dim):
        h = hashlib.md5(f"{plane_idx}:{j}".encode()).hexdigest()
        comps.append((int(h[:15], 16) / float(1 << 60)) * 2.0 - 1.0)
    return tuple(comps)


def srp_bucket(vec, dim: int, num_planes: int = 8) -> Column:
    """Sign-random-projection bucket id (0 .. 2^num_planes - 1),
    computed natively from literal hyperplane arrays.

    Accepts a Column or a SQL fragment; prefer the string form — it
    renders the whole bucket expression (num_planes x dim literal
    terms) as one SQL text parsed by a single F.expr call, where the
    Column form costs ~dim x num_planes py4j round-trips of driver
    build time (see functions/vector.py).  Both build the identical
    Catalyst tree, so bucket assignments (and the inlined-plane
    DuckDB oracles) are unchanged."""
    if isinstance(vec, str):
        parts = ["0"]
        for p in range(num_planes):
            arr = ", ".join(f"{c!r}D" for c in _hyperplane(dim, p))
            proj = (f"aggregate(zip_with({vec}, array({arr}),"
                    f" (x, y) -> CAST(x AS DOUBLE) * y),"
                    f" CAST(0.0 AS DOUBLE), (a, b) -> a + b)")
            parts.append(f"(CASE WHEN {proj} >= 0"
                         f" THEN {1 << p} ELSE 0 END)")
        return F.expr(" + ".join(parts))
    bucket = F.lit(0)
    for p in range(num_planes):
        plane = F.array(*[F.lit(c) for c in _hyperplane(dim, p)])
        proj = F.aggregate(
            F.zip_with(vec, plane, lambda x, y: x.cast("double") * y),
            F.lit(0.0), lambda a, b: a + b)
        bucket = bucket + F.when(proj >= 0,
                                 F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def topk_lsh(embeddings: DataFrame, queries: DataFrame, dim: int,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id", query_vec_col: str = "query_vec",
             k: int = 10, num_planes: int | str = 8,
             multiprobe_hamming: int = 1) -> DataFrame:
    """Approximate cosine top-k: join on SRP bucket (with multi-probe
    expansion of the query buckets within the given Hamming radius),
    then exact re-scoring of candidates only.

    The embeddings side is bucketed once (a narrow map) and can be
    written bucketed-by-``bucket`` for repeated query workloads; the
    join shuffles candidates, not the full corpus.
    ``num_planes="auto"`` sizes the plane count from a count() of the
    corpus so bucket occupancy — and thus per-query candidate volume —
    stays constant as the corpus grows (:func:`srp_auto_planes`).
    """
    num_planes = resolve_num_planes(num_planes,
                                    lambda: embeddings.count())
    emb = (embeddings
           .withColumn("__nrm", l2_norm_fixed(vec_col, dim))
           .withColumn("bucket", srp_bucket(vec_col, dim, num_planes)))
    probe_sets = [F.lit(0)]
    if multiprobe_hamming >= 1:
        probe_sets += [F.lit(1 << p) for p in range(num_planes)]
    q = (queries
         .withColumn("__qnrm", l2_norm_fixed(query_vec_col, dim))
         .withColumn("q_bucket", srp_bucket(query_vec_col, dim,
                                            num_planes))
         .withColumn("probe", F.explode(F.array(*probe_sets)))
         .withColumn("bucket",
                     F.col("q_bucket").bitwiseXOR(F.col("probe")))
         .drop("q_bucket", "probe"))
    cand = emb.join(F.broadcast(q), "bucket")
    # factored cosine, same association as the inline form (norms
    # pre-join keep the join stage's codegen under janino's limit)
    scored = (cand
              .withColumn("score",
                          dot_fixed(vec_col, query_vec_col, dim)
                          / (F.col("__nrm") * F.col("__qnrm")))
              .where(F.col(id_col) != F.col(query_id_col)))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"),
                                                F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k)
                  .select(query_id_col, F.col(id_col).alias("neighbor_id"),
                          "score", "rank"))


def kmeans_centroids(embeddings: DataFrame, num_cells: int = 16,
                     vec_col: str = "embedding", seed: int = 42,
                     max_iter: int = 20,
                     sample_fraction: float | None = None) -> DataFrame:
    """Train IVF centroids with ``pyspark.ml.clustering.KMeans``
    (public API) and return them under :func:`topk_ivf`'s
    ``(cell_id, centroid)`` DataFrame contract.

    Deterministic for a fixed ``seed`` + input.  Scale notes: k-means
    over the full corpus is wasteful and unnecessary at 100 TB — pass
    ``sample_fraction`` to fit on a uniform sample (a few hundred
    points per target cell is plenty for IVF quality), then assign the
    full corpus with the returned centroids.  The fit itself is
    distributed (Lloyd iterations over the cluster); only the k
    centers come back to the driver."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    ds = embeddings.select(
        array_to_vector(F.col(vec_col).cast("array<double>"))
        .alias("features"))
    if sample_fraction is not None:
        ds = ds.sample(fraction=sample_fraction, seed=seed)
    model = KMeans(k=num_cells, seed=seed, maxIter=max_iter).fit(ds)
    rows = [(i, [float(x) for x in center])
            for i, center in enumerate(model.clusterCenters())]
    return local_frame(embeddings.sparkSession, rows,
                       "cell_id int, centroid array<double>")


def first_id_centroids(embeddings: DataFrame, num_cells: int = 16,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Deterministic placeholder centroids: the first ``num_cells``
    vectors by id.  Oracle-reproducible (q31 pins this choice) and
    adequate for testing plan shape — NOT a production centroid
    choice; recall depends entirely on how representative the first
    ids happen to be.  Production uses :func:`kmeans_centroids`."""
    return (embeddings.orderBy(F.col(id_col).asc())
            .limit(num_cells)
            .select(F.col(id_col).alias("cell_id"),
                    F.col(vec_col).alias("centroid")))


def _nearest_cells(df: DataFrame, centroids: DataFrame, vcol: str,
                   idcol: str, n_keep: int,
                   dim: int | None) -> DataFrame:
    """Attach the ``n_keep`` nearest cell_ids to each row: broadcast
    crossJoin against the tiny centroid table (narrow, codegen'd),
    per-row window to keep the closest — the corpus never shuffles."""
    if dim is not None:
        dist = l2_distance_fixed(vcol, "centroid", dim)
    else:
        dist = l2_distance(F.col(vcol), F.col("centroid"))
    d = (df.crossJoin(F.broadcast(centroids))
           .withColumn("__d", dist))
    w = Window.partitionBy(idcol).orderBy(F.col("__d").asc(),
                                          F.col("cell_id").asc())
    return (d.withColumn("__rn", F.row_number().over(w))
             .where(F.col("__rn") <= n_keep)
             .drop("__d", "__rn", "centroid"))


def topk_ivf(embeddings: DataFrame, queries: DataFrame,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id", query_vec_col: str = "query_vec",
             k: int = 10, num_cells: int = 16, nprobe: int = 4,
             centroids: DataFrame | None = None,
             dim: int | None = None) -> DataFrame:
    """IVF-flat approximate top-k: partition vectors into inverted
    cells by nearest centroid, probe only the ``nprobe`` cells nearest
    each query, re-score candidates exactly (cosine).

    ``centroids`` defaults to :func:`kmeans_centroids` trained on the
    corpus (deterministic for a fixed input — seed 42), so an
    uninformed caller gets real recall, not a placeholder; recall@10
    vs bruteforce is gated >= 0.9 in tests/test_dedup_similarity.py.
    Callers that need the oracle-reproducible placeholder (first
    ``num_cells`` ids — q31) pass :func:`first_id_centroids`
    explicitly.

    Scale shape: assignment is a broadcast crossJoin against
    ``num_cells`` rows (narrow, codegen'd), the cell table can be
    written partitioned-by-cell once via :func:`write_ivf_index` and
    reused across query batches (:func:`topk_ivf_over_index`), and
    each query scans ~nprobe/num_cells of the corpus instead of all
    of it.
    """
    if centroids is None:
        centroids = kmeans_centroids(embeddings, num_cells=num_cells,
                                     vec_col=vec_col)

    cells = _nearest_cells(embeddings, centroids, vec_col, id_col, 1, dim)
    probed = _nearest_cells(queries, centroids, query_vec_col,
                            query_id_col, nprobe, dim)
    if dim is not None:
        # factored cosine (norms pre-join; see embedding_near_dups)
        cells = cells.withColumn("__nrm", l2_norm_fixed(vec_col, dim))
        probed = probed.withColumn("__qnrm",
                                   l2_norm_fixed(query_vec_col, dim))
        rescore = (dot_fixed(vec_col, query_vec_col, dim)
                   / (F.col("__nrm") * F.col("__qnrm")))
        probe_cols = [query_id_col, query_vec_col, "cell_id", "__qnrm"]
    else:
        rescore = cosine_similarity(F.col(vec_col), F.col(query_vec_col))
        probe_cols = [query_id_col, query_vec_col, "cell_id"]
    cand = (cells.join(probed.select(*probe_cols), "cell_id")
                 .where(F.col(id_col) != F.col(query_id_col)))
    scored = cand.withColumn("score", rescore)
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"),
                                                F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k)
                  .select(query_id_col, F.col(id_col).alias("neighbor_id"),
                          "score", "rank"))


def embedding_near_dups_exact(embeddings: DataFrame,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              threshold: float = 0.9,
                              dim: int | None = None) -> DataFrame:
    """Exact embedding-cosine near-dup pairs: full (a < b) pair join +
    cosine threshold.  The correctness baseline for
    :func:`embedding_near_dups` (the SRP-blocked scale path).

    Norms are computed once per vector *before* the pair join (O(n)
    not O(n^2)); with ``dim`` the per-pair dot is the unrolled codegen
    expression.  The cosine threshold is kept OUT of the join
    condition on purpose: if Catalyst pushes it into the
    BroadcastNestedLoopJoin predicate, the dot product is evaluated
    interpreted for every (a, b) combination — measured ~10x slower
    than scoring the surviving (a < b) pairs in a codegen'd
    Project+Filter after the join.  The nondeterministic term in the
    threshold (exactly 0.0 at runtime) is the pushdown barrier."""
    emb = embeddings.select(F.col(id_col).alias("doc"),
                            F.col(vec_col).alias("v"))
    if dim is not None:
        emb = emb.withColumn("nrm", l2_norm_fixed("v", dim))
        pair_cos = (dot_fixed("a.v", "b.v", dim)
                    / (F.col("a.nrm") * F.col("b.nrm")))
    else:
        pair_cos = cosine_similarity(F.col("a.v"), F.col("b.v"))
    # the (a < b) nested-loop join streams side a: parallelize it, or
    # a single-split source serializes the whole O(n^2) scoring pass
    a, b = ensure_parallelism(emb).alias("a"), emb.alias("b")
    barrier_threshold = F.lit(threshold) + F.rand(seed=0) * F.lit(0.0)
    return (a.join(b, F.col("a.doc") < F.col("b.doc"))
             .withColumn("cos", pair_cos)
             .where(F.col("cos") >= barrier_threshold)
             .select(F.col("a.doc").alias("doc_a"),
                     F.col("b.doc").alias("doc_b"), F.col("cos")))


#: vectors per SRP bucket that num_planes="auto" targets: at
#: occupancy m, in-bucket pair work is n*m/2 — linear in n with a
#: constant factor a deployment picks once.  8 reproduces the graded
#: corpus' p=8 at its 2k-vector scale.
SRP_AUTO_OCCUPANCY = 8


def srp_auto_planes(n: int, occupancy: int = SRP_AUTO_OCCUPANCY) -> int:
    """Occupancy-preserving plane count: p = ceil(log2(n/occupancy)),
    floored at 4.  With FIXED planes, in-bucket candidate pairs grow
    quadratically in corpus size by construction (n/2^p rows per
    bucket) — the 10x/100x scale tier (BENCH_SCALE.json) measures
    exactly this knob; "auto" is that deployment guidance as API."""
    return max(4, math.ceil(math.log2(max(n, 1) / occupancy)))


def resolve_num_planes(num_planes, count_fn,
                       occupancy: int = SRP_AUTO_OCCUPANCY) -> int:
    """Shared resolution + strict validation for every ``num_planes``
    knob.  ``"auto"`` sizes from ``count_fn()`` (one cheap extra job)
    via :func:`srp_auto_planes`; ints are validated strictly — bools
    are rejected (``isinstance(True, int)`` is True, and
    ``num_planes=True`` would otherwise silently build a
    1-plane/2-bucket SRP join with quadratic in-bucket pair cost), as
    are non-positive values."""
    if num_planes == "auto":
        return srp_auto_planes(count_fn(), occupancy)
    if (isinstance(num_planes, bool) or not isinstance(num_planes, int)
            or num_planes < 1):
        raise ValueError(f"num_planes must be a positive int or "
                         f"'auto', got {num_planes!r}")
    return num_planes


def embedding_near_dups(embeddings: DataFrame, dim: int,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        threshold: float = 0.95,
                        num_planes: int | str = 8) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: SRP-bucket self-join
    (same-bucket candidates only) + exact cosine threshold.

    Scale note: the bucket grouping's parallelism and candidate volume
    are both governed by ``num_planes`` — 2^p buckets, ~n/2^p vectors
    per bucket, O(n^2 / 2^p) scored pairs.  The graded corpus entry
    uses p=8 (256 buckets) so the sf0.01 oracle keeps non-trivial
    recall; at cluster scale raise p so 2^p >> executor count (p=16 ->
    65k buckets) and, for recall, union several independent plane sets
    (standard multi-table SRP) rather than lowering p.
    ``num_planes="auto"`` sizes p from a count() of the input so
    bucket occupancy stays ~:data:`SRP_AUTO_OCCUPANCY` regardless of
    corpus size (one cheap extra job; pass an int to skip it).

    Physical shape (round 6): ONE scan + ONE shuffle.  The previous
    self-join scanned the source twice and computed the SRP bucket and
    norm on both sides (measured 2.4x slower at sf0.1); grouping by
    bucket, collecting the members, and exploding in-bucket (i < j)
    combinations does the same candidate generation after a single
    keyed exchange.  The per-bucket array this materializes is
    ~n/2^p vectors (p is chosen so that's small); a pathological hot
    bucket degrades to one wide row here versus a straggler join task
    before — same O(size^2) pair cost either way, and multi-table SRP
    (not a lower p) is the recall/skew remedy at scale.

    The win is OCCUPANCY-DEPENDENT (r11 A/B): it holds because SRP
    buckets are pinned tiny (~:data:`SRP_AUTO_OCCUPANCY` members), so
    the per-bucket array copies are negligible next to the saved
    second scan+exchange.  At large block occupancy the same shape
    LOSES — slice-explode materializes O(members^2) full-vector
    copies — which is why :func:`semantic_dedup.semantic_dup_pairs`
    (SemDeDup cells, ~10^3-10^4 members) scores each cell with the
    BLAS kernel :func:`_srp_pairs_kernel` instead (measured on b13:
    group-collect 4.3-4.7 s, equi-join 3.16 s, kernel ~1 s)."""
    # Norms are computed once per vector BEFORE pair generation: the
    # O(n) vs O(n^2) saving, and the per-pair expression shrinks to
    # the dim-term dot product — the full inline cosine (3 x dim
    # terms) would blow janino's 64 KB single-method codegen limits.
    # cos = dot / (nrm_a * nrm_b) keeps the same association order as
    # the join-based form, and least/greatest reproduces its
    # (doc_a < doc_b) orientation (dot is index-aligned, so the value
    # is symmetric in the pair) — values and oracle hashes unchanged.
    num_planes = resolve_num_planes(num_planes,
                                    lambda: embeddings.count())
    emb = embeddings.select(
        F.col(id_col).alias("doc"),
        F.col(vec_col).alias("v"),
        l2_norm_fixed(vec_col, dim).alias("nrm"),
        srp_bucket(vec_col, dim, num_planes).alias("bucket"))
    grouped = emb.groupBy("bucket").agg(
        F.collect_list(F.struct("doc", "v", "nrm")).alias("ms"))
    pairs = (
        grouped.select(F.posexplode("ms").alias("i", "a"), "ms")
               .select("a", F.expr("slice(ms, i + 2, size(ms))")
                       .alias("rest"))
               .select("a", F.explode("rest").alias("b")))
    return (
        pairs.withColumn("cos", dot_fixed("a.v", "b.v", dim)
                         / (F.col("a.nrm") * F.col("b.nrm")))
             .where(F.col("cos") >= threshold)
             # duplicate ids with distinct vectors would otherwise
             # surface as doc_a == doc_b self-edges under
             # least/greatest (a strict-< join would have dropped
             # them); external callers must never see self-pairs
             .where(F.col("a.doc") != F.col("b.doc"))
             .select(F.least("a.doc", "b.doc").alias("doc_a"),
                     F.greatest("a.doc", "b.doc").alias("doc_b"),
                     F.col("cos"))
    )


def srp_pair_recall(cos: float, num_planes: int,
                    num_tables: int = 1) -> float:
    """P(a pair at cosine ``cos`` collides in at least one of
    ``num_tables`` independent SRP tables of ``num_planes`` planes)
    — the SRP twin of ``dedup.lsh_candidate_probability``.  Per
    Goemans-Williamson, one plane separates the pair with probability
    θ/π (θ = the pair's angle), so one table finds it with
    ``(1 - θ/π)^p`` and L tables miss it with the L-th power of the
    single-table miss.  Driver-side arithmetic for planning and
    tests."""
    theta = math.acos(max(-1.0, min(1.0, cos)))
    p1 = (1.0 - theta / math.pi) ** num_planes
    return 1.0 - (1.0 - p1) ** num_tables


def srp_tables_for_recall(cos: float, num_planes: int,
                          target: float = 0.95,
                          max_tables: int = 64) -> int:
    """Smallest table count whose union recall at cosine ``cos``
    reaches ``target`` given ``num_planes`` planes per table — the
    (p, L) planning rule :func:`embedding_near_dups_multitable`'s
    docstring describes, as code.  Capped at ``max_tables`` with a
    ``UserWarning`` reporting the achieved recall (a steep plane
    count at a shallow cosine can make the target unreachable —
    lower ``num_planes`` or the target)."""
    import warnings
    if not 0.0 < target < 1.0:
        raise ValueError("target must be in (0, 1)")
    p1 = srp_pair_recall(cos, num_planes, 1)
    if p1 >= 1.0:
        return 1
    if p1 <= 0.0:
        tables = max_tables
    else:
        tables = min(max_tables,
                     max(1, math.ceil(math.log(1.0 - target)
                                      / math.log(1.0 - p1))))
    got = srp_pair_recall(cos, num_planes, tables)
    if got < target:
        warnings.warn(
            f"srp_tables_for_recall: {max_tables} tables reach only "
            f"{got:.3f} recall at cosine {cos} with {num_planes} "
            f"planes (target {target}) — lower num_planes or the "
            f"target", UserWarning, stacklevel=2)
    return tables


def srp_buckets_batched(dim: int, num_planes: int, num_tables: int):
    """All L bucket ids per vector in ONE Arrow-batched numpy matmul
    — the vectorized twin of L x ``srp_bucket`` calls, built from the
    SAME md5 hyperplane family (table t's plane p is
    ``_hyperplane(dim, t*num_planes + p)``, bit value ``1 << p``).

    Why it exists: at b28's deployment plans the codegen'd expression
    path evaluates L·p aggregate(zip_with(...)) trees per row — 450
    at the 100x tier, 697 at 300x — and the B28_SCALE_PROFILE hash
    phase grows with exactly that product.  One (B, dim) @ (dim, L·p)
    BLAS matmul per Arrow batch does the same flops at memory
    bandwidth.  Returns a ``pandas_udf`` producing ``array<long>`` of
    length L, position = table ordinal.

    Caveat, stated honestly: ``srp_bucket`` folds the projection
    left-to-right while BLAS uses blocked summation, so a projection
    within float-rounding of 0.0 can land on the other side — a
    measure-zero bucket tie-break, harmless to LSH recall (the
    Goemans-Williamson collision probability is unchanged) but NOT
    bit-identical to ``srp_bucket``; keep ``srp_bucket`` wherever a
    DuckDB oracle re-derives buckets."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    planes = np.array([_hyperplane(dim, t * num_planes + p)
                       for t in range(num_tables)
                       for p in range(num_planes)],
                      dtype=np.float64).T          # (dim, L*p)
    weights = (np.int64(1) << np.arange(num_planes)).astype(np.int64)

    @pandas_udf("array<long>")
    def bucketize(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype=object)
        x = np.array([np.asarray(v, dtype=np.float64) for v in col])
        bits = (x @ planes) >= 0.0               # (B, L*p) bool
        buckets = bits.reshape(len(col), num_tables,
                               num_planes) @ weights  # (B, L)
        return pd.Series(list(buckets))

    return bucketize


def embedding_near_dups_multitable(embeddings: DataFrame, dim: int,
                                   id_col: str = "vec_id",
                                   vec_col: str = "embedding",
                                   threshold: float = 0.9,
                                   num_planes: int | str = 8,
                                   num_tables: int = 4) -> DataFrame:
    """Multi-table SRP near-dup pairs: the recall path promised in
    :func:`embedding_near_dups`'s docstring, as a real operator.

    Each of the ``num_tables`` tables hashes with an INDEPENDENT
    plane set (table t uses md5-family planes ``t*num_planes ..``);
    a pair is a candidate if it collides in ANY table, so the miss
    probability drops from ``1 - (1 - θ/π)^p`` to
    ``(1 - (1 - θ/π)^p)^L`` — e.g. cosine 0.9, p=8: one table finds
    ~29% of true pairs, L=4 tables find ~75%, and recall climbs
    steeply with the pair's cosine (near-1 pairs are near-certain).
    Choose (p, L) from the target recall at the threshold; lowering p
    raises per-table recall quadratically in candidate volume, adding
    tables raises it linearly in hashing cost.
    ``num_planes="auto"`` sizes the per-table plane count from a
    count() of the corpus (:func:`resolve_num_planes`).

    Physical shape: ONE scan computes all L bucket ids per vector in
    one numpy matmul per Arrow batch (:func:`srp_buckets_batched`),
    ``posexplode`` fans each vector into L (table, bucket) rows, and
    ONE keyed shuffle feeds the per-bucket BLAS cosine kernel
    (:func:`_srp_pairs_kernel`) — never a self-join.  Scoring runs
    BEFORE the cross-table pair dedup, on purpose: deduplicating
    first would shuffle the full vectors where deduplicating scored
    pairs shuffles 3 scalars/row.  B28_SCALE_PROFILE.json records the
    A/B that chose this shape over codegen'd sign-dots + slice-explode
    pair generation: 6.7 s vs 12.3 s at 20k vectors, 89 s vs 232 s at
    200k, identical survivors."""
    num_planes = resolve_num_planes(num_planes,
                                    lambda: embeddings.count())
    bucketize = srp_buckets_batched(dim, num_planes, num_tables)
    tagged = (embeddings.select(
        F.col(id_col).alias("doc"),
        F.col(vec_col).alias("v"),
        l2_norm_fixed(vec_col, dim).alias("nrm"),
        bucketize(F.col(vec_col)).alias("__bks"))
        .select("doc", "v", "nrm",
                F.posexplode("__bks").alias("tbl", "bucket")))
    return (_srp_pairs_kernel(tagged, embeddings.schema, id_col,
                              threshold)
            .dropDuplicates(["doc_a", "doc_b"]))


#: row-block budget for the in-group cosine matrix: blocks of
#: ``max(1, _PAIRS_KERNEL_BLOCK_CELLS // m)`` rows bound each task's
#: live matrix at ~32 MB of float64 regardless of group occupancy —
#: SRP buckets (occupancy-pinned ~16) compute in one block as before,
#: while SemDeDup cells (10^3-10^4 members BY DESIGN) never
#: materialize the full m x m matrix that OOM'd b13's 300x attempt.
_PAIRS_KERNEL_BLOCK_CELLS = 4 << 20


def _srp_pairs_kernel(tagged: DataFrame, emb_schema, id_col: str,
                      threshold: float,
                      group_cols: tuple = ("tbl", "bucket"),
                      ) -> DataFrame:
    """Per-group scored pairs via BLAS cosine matrices
    (``applyInPandas``).  ``group_cols`` names the blocking key:
    ``(tbl, bucket)`` for the multi-table SRP path, ``("cell_id",)``
    for SemDeDup cells.

    Why this shape: slice-explode or self-join pair generation
    materializes TWO full (doc, v, nrm) struct copies per candidate
    pair — O(sum_b occ_b^2) vector copies — before a codegen'd dot;
    this kernel Arrow-transfers each group's members ONCE (O(n·L)
    rows) and computes all in-group cosines as (block, dim) @
    (dim, m) matmuls, emitting only above-threshold survivors.
    Output: (doc_a < doc_b) orientation, self-pair guard on duplicate
    ids, exact float64 cosine (BLAS blocked summation may round the
    last ulp differently from the codegen'd fold of
    :func:`embedding_near_dups_exact` — at real thresholds no pair
    sits within 1e-15 of eps; the reference-parity tests pin the
    pair sets)."""
    import numpy as np
    import pandas as pd

    id_type = emb_schema[id_col].dataType.simpleString()

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2:
            return pd.DataFrame({"doc_a": pd.Series([], dtype=object),
                                 "doc_b": pd.Series([], dtype=object),
                                 "cos": pd.Series([], dtype=float)})
        x = np.array([np.asarray(v, dtype=np.float64)
                      for v in pdf["v"]])
        nrm = pdf["nrm"].to_numpy(dtype=np.float64)
        docs = pdf["doc"].to_numpy()
        blk = max(1, _PAIRS_KERNEL_BLOCK_CELLS // m)
        outs = []
        for i0 in range(0, m - 1, blk):
            i1 = min(i0 + blk, m)
            cos = (x[i0:i1] @ x.T) / np.outer(nrm[i0:i1], nrm)
            bi, ju = np.nonzero(cos >= threshold)
            iu = bi + i0
            vals = cos[bi, ju]
            # strict upper triangle in GLOBAL row order
            up = ju > iu
            iu, ju, vals = iu[up], ju[up], vals[up]
            a, b = docs[iu], docs[ju]
            # duplicate-id self-pair guard + (doc_a < doc_b)
            ne = a != b
            a, b, vals = a[ne], b[ne], vals[ne]
            outs.append(pd.DataFrame({"doc_a": np.minimum(a, b),
                                      "doc_b": np.maximum(a, b),
                                      "cos": vals}))
        return pd.concat(outs, ignore_index=True)

    from trial_data_ingestion_spark.session import keyed_parallelism

    # keyed_parallelism pins the grouped kernel's fan-out: AQE sizes
    # the groupBy exchange by BYTES and a bucket layout that is small
    # on disk but heavy per group (BLAS matmuls) gets coalesced onto
    # a couple of tasks (see session.keyed_parallelism; measured on
    # b20's sibling kernel: 2 tasks on 32 cores).  groupBy on the
    # same columns reuses this exchange — no extra shuffle.
    return (keyed_parallelism(tagged, *group_cols)
            .groupBy(*group_cols)
            .applyInPandas(kernel,
                           f"doc_a {id_type}, doc_b {id_type}, "
                           f"cos double"))


# ---------------------------------------------------------------------------
# Persisted index layouts: bucket/assign the corpus ONCE, answer many
# query batches against the stored layout.  At 100 TB, re-assigning
# cells (a full corpus scan + centroid scoring) per query batch is the
# difference between an index and a scan — the persisted path's
# re-query plan is a read of the probed partitions only
# (store.read_partitions: only those directories are listed) plus one
# broadcast equi-join, with NO per-row centroid/plane work on the
# corpus side.
# ---------------------------------------------------------------------------


def write_ivf_index(embeddings: DataFrame, centroids: DataFrame,
                    path: str, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    dim: int | None = None) -> None:
    """Assign every vector to its nearest centroid and persist the
    cell table partitioned by ``cell_id`` (one directory per cell, so
    a probe of ``nprobe`` cells reads exactly ``nprobe`` partitions).

    The row payload is (id, vector, precomputed l2 norm): everything
    :func:`topk_ivf_over_index` needs to rescore without touching the
    original table.  ``centroids`` is required — pass
    :func:`kmeans_centroids` (production) or
    :func:`first_id_centroids` (deterministic tests).  It is collected
    once and recorded, with ``dim``, in the index's ``_params.json``
    (``store.frame_entry``): appends assign and queries probe with the
    recorded centroids, so no caller can pass others."""
    _write_ivf(embeddings, frame_entry(centroids), path, id_col, vec_col,
               dim)


def append_to_ivf_index(new_embeddings: DataFrame, path: str,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        delta_id: str | None = None) -> None:
    """Add a delta batch to a persisted :func:`write_ivf_index`
    layout WITHOUT rebuilding: the batch assigns against the centroids
    and ``dim`` the index recorded at build time (different centers
    would route probes to the wrong cells; another ``dim`` would
    change the ``__nrm`` column) and appends into the per-cell
    partition directories.  Cost is proportional to the batch; the
    standing index is never read or shuffled — the incremental-dedup
    operating contract for ANN.  Recall drifts only as the data
    distribution drifts away from the frozen centers; re-fit +
    rebuild on a schedule, like any IVF.  Caller dedups ids (the
    index is a layout, not a keyed store).  The append is delta
    ``delta_id`` of ``store.write_store``: a retry with the same id
    rewrites it; without one the delta is random (at most once)."""
    centroids, dim = _ivf_state(new_embeddings.sparkSession, path)
    _write_ivf(new_embeddings, centroids, path, id_col, vec_col, dim,
               new_delta() if delta_id is None else delta_id)


def _ivf_state(spark, path: str) -> tuple[dict, int | None]:
    """The centroids entry and ``dim`` the IVF index at ``path``
    recorded; an index that records no centroids raises."""
    params = read_params(spark, path)
    return recorded(path, params, "centroids"), params["dim"]


def _write_ivf(embeddings: DataFrame, centroids: dict, path: str,
               id_col: str, vec_col: str, dim: int | None,
               delta: str | None = None) -> None:
    """Assign ``embeddings`` to the ``centroids`` entry and write them
    into the IVF layout at ``path``, partitioned by ``delta`` then
    ``cell_id`` (``store.write_store``: ``delta=None`` builds and
    records the centroids and ``dim``)."""
    spark = embeddings.sparkSession
    cells = _nearest_cells(embeddings, entry_frame(spark, centroids),
                           vec_col, id_col, 1, dim)
    if dim is not None:
        cells = cells.withColumn("__nrm", l2_norm_fixed(vec_col, dim))
    write_store(spark, path, {"": (cells, ["cell_id"])},
                {"dim": dim, "centroids": centroids}, delta)


def topk_ivf_over_index(spark, index_path: str, queries: DataFrame,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        query_id_col: str = "query_id",
                        query_vec_col: str = "query_vec",
                        k: int = 10, nprobe: int = 4) -> DataFrame:
    """IVF top-k over a persisted :func:`write_ivf_index` layout, with
    the centroids and ``dim`` the index recorded at build time.

    The query batch is small by definition, so its ``nprobe`` nearest
    cells are computed in a tiny driver-side job and the distinct
    probed cell ids name the only ``cell_id`` directories the index
    read lists and reads (``store.read_partitions``); they stay
    as a LITERAL filter too, visible as ``PartitionFilters`` in the
    plan, and the scan's ``inputFiles()`` holds only probed cells.
    The corpus side does no centroid work at all (assignment was paid
    once at build time); the only join is a broadcast equi-join on
    ``cell_id`` against the probe rows.  With ``dim`` recorded the
    rescore is one ``aggregate`` fold, and the rank is
    :func:`_top_k`'s, as in :func:`topk_lsh_over_index`: a single
    query comes back as a driver-merged local frame.  Identical
    results to :func:`topk_ivf` with the same centroids, by
    construction.  The nearest-cell search still runs in Spark."""
    centroids, dim = _ivf_state(spark, index_path)
    probed = _nearest_cells(queries, entry_frame(spark, centroids),
                            query_vec_col, query_id_col, nprobe, dim)
    if dim is not None:
        probed = probed.withColumn("__qnrm",
                                   l2_norm_fixed(query_vec_col, dim))
    # Materialize the (tiny) probe set once: drives both the literal
    # partition filter and the broadcast join side.
    probe_rows = probed.collect()
    probe_cells = sorted({r["cell_id"] for r in probe_rows})
    probe_df = F.broadcast(local_frame(spark, probe_rows, probed.schema))
    idx = read_partitions(spark, index_path, "cell_id", probe_cells)
    cand = (idx.join(probe_df, "cell_id")
               .where(F.col(id_col) != F.col(query_id_col)))
    if dim is not None:
        rescore = (_dot_fold(vec_col, query_vec_col, dim)
                   / (F.col("__nrm") * F.col("__qnrm")))
    else:
        rescore = cosine_similarity(F.col(vec_col), F.col(query_vec_col))
    return _top_k(spark, cand.withColumn("score", rescore), query_id_col,
                  id_col, k, {r[query_id_col] for r in probe_rows})


#: SRP index rows per ``pbkt`` partition targeted by
#: :func:`srp_index_buckets`, about 1 MB of 64-dim float32 vectors.
#: Over 400k such vectors (4 cores), 8 partitions (the MinHash store's
#: 50,000 rows each) had a query scan 204k rows in 0.47 s; 128 scan
#: 26k rows in 0.39 s, for about 3.6 s more build time.
SRP_ROWS_PER_PARTITION = 4096


def srp_index_buckets(num_planes: int, count_fn) -> int:
    """``num_buckets`` of a new SRP index: ``index_auto_buckets`` at
    :data:`SRP_ROWS_PER_PARTITION` rows per partition, capped at the
    ``2^num_planes`` buckets.  ``count_fn`` (the corpus count) runs
    only when ``2^num_planes`` exceeds ``index_auto_buckets``' floor
    of 8, the only case where the count can change the result."""
    if 1 << num_planes <= 8:
        return 1 << num_planes
    return min(index_auto_buckets(count_fn(), SRP_ROWS_PER_PARTITION),
               1 << num_planes)


def write_srp_index(embeddings: DataFrame, path: str, dim: int,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    num_planes: int | str = 8,
                    delta: str | None = None) -> None:
    """Persist the SRP-LSH layout for :func:`topk_lsh_over_index`:
    one narrow map computes each vector's ``bucket`` (literal-plane
    codegen) and norm, stored as data columns.  Rows are partitioned
    by ``delta``, then by ``pbkt = bucket & (num_buckets - 1)``, a
    coarse partition holding every bucket that shares its low bits,
    one file per directory (``store.write_partitioned``).  Queries
    read only the ``pbkt`` partitions their probed buckets map to and
    filter ``bucket`` by literal; the corpus never recomputes a
    projection.

    ``num_buckets`` (:func:`srp_index_buckets`) is the MinHash
    store's rule (``store.index_auto_buckets``) at
    :data:`SRP_ROWS_PER_PARTITION` rows per partition, capped at
    ``2^num_planes``, so a build writes at most that many directories
    per delta whatever the plane count.  One directory per bucket cost
    about 14 ms of write time per directory, and 2^p of them listed on
    every whole-table read.  A Hamming-1 probe reads 1 +
    log2(num_buckets) of the partitions, so it scans at most about
    that many times ``SRP_ROWS_PER_PARTITION`` rows, a number that
    grows with log2(n), not with n.  The build runs at most one
    ``count()``, shared with ``num_planes="auto"``, and none when
    ``2^num_planes`` is at most 8.

    The plane count, ``dim`` and ``num_buckets`` are recorded in the
    index root's ``_params.json`` sidecar (underscore-prefixed, so
    parquet readers of ``path`` never see it); query/probe operators
    read them back via ``store.read_params`` instead of trusting the
    caller to remember — probing with mismatched planes silently
    misses every neighbor.  ``num_planes="auto"`` sizes p from the
    count (:func:`srp_auto_planes`), so occupancy — and thus in-bucket
    candidate cost — stays constant as corpora grow.  An index's
    plane set is FIXED at build time: ``"auto"`` sizes NEW indexes;
    growing an existing index past its occupancy target means a
    rebuild (re-hashing is a narrow map over one corpus scan —
    schedule it like an IVF re-fit).

    The write is ``store.write_store``'s: ``delta=None`` builds,
    ``delta=<id>`` appends as that delta (a retry with the same id
    rewrites it), ``delta=store.new_delta()`` appends as a random one.
    Delta batches land in the same ``pbkt`` partitions; the plane set
    and ``num_buckets`` then COME FROM the sidecar — a conflicting
    explicit ``num_planes`` or ``dim`` raises, and so does an index
    partitioned one directory per bucket (the older layout: rebuild
    it)."""
    spark = embeddings.sparkSession
    if delta is not None:
        num_planes, num_buckets = _srp_layout(
            spark, path, None if num_planes == "auto" else num_planes,
            dim)
    else:
        count = functools.cache(embeddings.count)
        num_planes = resolve_num_planes(num_planes, count)
        num_buckets = srp_index_buckets(num_planes, count)
    out = (embeddings
           .withColumn("__nrm", l2_norm_fixed(vec_col, dim))
           .withColumn("bucket", srp_bucket(vec_col, dim, num_planes))
           .withColumn("pbkt", F.col("bucket").bitwiseAND(
               F.lit(num_buckets - 1))))
    write_store(spark, path, {"": (out, ["pbkt"])},
                {"num_planes": num_planes, "dim": dim,
                 "num_buckets": num_buckets}, delta)


def _srp_layout(spark, index_path: str, num_planes,
                dim: int | None = None) -> tuple[int, int]:
    """``(num_planes, num_buckets)`` for a probe of (or append to) a
    persisted SRP layout: None -> the index's recorded planes; an
    explicit int (and ``dim``, when given) must MATCH the recording
    — a mismatch means every probe lands in the wrong bucket, so it
    raises instead of silently returning empty results.  An index
    that records no ``num_buckets`` (one directory per bucket, the
    older layout) raises "rebuild the store".  Reads only the
    sidecar: no Spark job."""
    if num_planes == "auto":
        raise ValueError("probes take the index's recorded plane "
                         "count: pass num_planes=None ('auto' only "
                         "sizes NEW indexes at build time)")
    expect = {} if dim is None else {"dim": dim}
    if num_planes is not None:
        expect["num_planes"] = resolve_num_planes(num_planes, None)
    params = read_params(spark, index_path, expect)
    return (params["num_planes"],
            recorded(index_path, params, "num_buckets"))


def _read_buckets(spark, index_path: str, num_buckets: int, buckets,
                  exclude_delta: str | None = None) -> DataFrame:
    """The rows of the SRP index at ``index_path`` whose ``bucket`` is
    in ``buckets``: only the ``pbkt`` partitions those buckets map to
    are listed and read (``store.read_partitions``, every delta but
    ``exclude_delta``), and the literal ``bucket IN (...)`` filter,
    pushed to the parquet scan, drops their other buckets' rows, so
    the candidates are exactly the probed buckets' rows."""
    buckets = sorted(buckets)
    pbkts = sorted({b & (num_buckets - 1) for b in buckets})
    return (read_partitions(spark, index_path, "pbkt", pbkts,
                            exclude_delta=exclude_delta)
            .where(F.col("bucket").isin(buckets)))


def topk_lsh_over_index(spark, index_path: str, queries: DataFrame,
                        dim: int, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        query_id_col: str = "query_id",
                        query_vec_col: str = "query_vec",
                        k: int = 10, num_planes: int | None = None,
                        multiprobe_hamming: int = 1) -> DataFrame:
    """Approximate cosine top-k over a persisted
    :func:`write_srp_index` layout; same semantics and the same rows as
    :func:`topk_lsh` (multi-probe within the Hamming radius + exact
    rescore), but a query pays only for reading and scoring its probed
    buckets:

    * the query side runs on the driver: the query set is collected
      once, and each query's norm and SRP bucket are computed in Python
      in Spark's order of operations (:func:`_query_probes`), so they
      are bit-identical to ``l2_norm_fixed`` and :func:`srp_bucket`;
      a query vector that is not ``dim`` non-null values raises
      ``ValueError`` before any index read;
    * the corpus-side bucket assignment is read, not recomputed: the
      plan holds no projection ``zip_with``, only a scan of the
      ``pbkt`` partitions the probed buckets map to (the only ones
      listed, :func:`_read_buckets`; the literal ``pbkt`` filter shows
      as ``PartitionFilters``, the ``bucket IN (...)`` filter as a
      pushed data filter) and a broadcast equi-join on ``bucket``;
    * the rescore is one ``aggregate`` fold (:func:`_dot_fold`), which
      sums in ``dot_fixed``'s order, so scores are identical;
    * the rank (:func:`_top_k`): one query is ranked by Spark's
      ``TakeOrderedAndProject`` (each task keeps its own top ``k``,
      the driver merges) and returned as a local frame; a batch of
      queries keeps the ``row_number`` window over ``query_id``.
      Ties order by score descending, then id ascending, either way.

    ``num_planes=None`` (default) probes with the plane count the
    index RECORDED at build time (``_params.json`` sidecar) — the only
    count that can be right; an explicit int is cross-checked against
    the recording and raises on mismatch instead of silently probing
    empty buckets.  An index in the older one-directory-per-bucket
    layout raises "rebuild the store" before any Spark job."""
    num_planes, num_buckets = _srp_layout(spark, index_path, num_planes,
                                          dim)
    rows, schema = _query_probes(queries, query_id_col, query_vec_col,
                                 dim, num_planes, multiprobe_hamming)
    q_df = F.broadcast(local_frame(spark, rows, schema))
    idx = _read_buckets(spark, index_path, num_buckets,
                        {r[-1] for r in rows})
    scored = (idx.join(q_df, "bucket")
              .withColumn("score",
                          _dot_fold(vec_col, query_vec_col, dim)
                          / (F.col("__nrm") * F.col("__qnrm")))
              .where(F.col(id_col) != F.col(query_id_col)))
    return _top_k(spark, scored, query_id_col, id_col, k,
                  {r[0] for r in rows})


def _query_probes(queries: DataFrame, query_id_col: str,
                  query_vec_col: str, dim: int, num_planes: int,
                  multiprobe_hamming: int) -> tuple[list, T.StructType]:
    """Rows ``(query id, query vector, __qnrm, bucket)``, one per
    probed bucket of each query, and their schema.  The query set is
    collected once; the norm and the SRP bucket follow Spark's exact
    order of operations (each element cast to double, sums left to
    right from the first square for the norm and from 0.0 for each
    projection, bit ``p`` set when projection ``p`` is ``>= 0``), so
    they equal ``l2_norm_fixed`` and :func:`srp_bucket` bit for bit.
    A vector that is not ``dim`` non-null values raises
    ``ValueError`` naming its query."""
    q = queries.select(query_id_col, query_vec_col)
    planes = [_hyperplane(dim, p) for p in range(num_planes)]
    probes = [0]
    if multiprobe_hamming >= 1:
        probes += [1 << p for p in range(num_planes)]
    rows = []
    for qid, vec in q.collect():
        if vec is None or len(vec) != dim or None in vec:
            raise ValueError(f"query {qid!r}: the query vector must "
                             f"hold {dim} non-null values")
        x = [float(v) for v in vec]
        s = x[0] * x[0]
        for v in x[1:]:
            s = s + v * v
        bucket = 0
        for p, plane in enumerate(planes):
            a = 0.0
            for v, c in zip(x, plane):
                a = a + v * c
            if a >= 0:
                bucket |= 1 << p
        rows += [(qid, vec, math.sqrt(s), bucket ^ b) for b in probes]
    schema = T.StructType([*q.schema.fields,
                           T.StructField("__qnrm", T.DoubleType()),
                           T.StructField("bucket", T.IntegerType())])
    return rows, schema


def _dot_fold(a: str, b: str, dim: int) -> Column:
    """The dot product of two ``dim``-element array columns as one
    ``aggregate`` fold over ``sequence(1, dim)``: it sums in
    ``dot_fixed``'s order, so values are identical, while the
    expression stays one node where the unrolled form is ``dim``
    terms of driver-side analysis per query."""
    return F.expr(f"aggregate(sequence(1, {dim}), 0D, (acc, i) -> acc"
                  f" + CAST(element_at({a}, i) AS DOUBLE)"
                  f" * CAST(element_at({b}, i) AS DOUBLE))")


def _top_k(spark, scored: DataFrame, query_id_col: str, id_col: str,
           k: int, query_ids: set) -> DataFrame:
    """``(query_id, neighbor_id, score, rank)``: the ``k`` best rows of
    ``scored`` per query, score descending, then id ascending.  One
    query id: ``orderBy(...).limit(k)`` plans as
    ``TakeOrderedAndProject`` — each task keeps its own top ``k`` and
    the driver merges at most ``k`` x tasks rows (the local-then-global
    top-k of REPOSE, ICDE 2021) — collected and returned as a local
    frame, with no shuffle.  Several: a ``row_number`` window over the
    query id."""
    out = scored.select(query_id_col, F.col(id_col).alias("neighbor_id"),
                        "score")
    order = [F.desc("score"), F.asc("neighbor_id")]
    if len(query_ids) == 1:
        top = out.orderBy(*order).limit(k).collect()
        schema = T.StructType([*out.schema.fields,
                               T.StructField("rank", T.IntegerType(),
                                             False)])
        return local_frame(spark, [(*r, i) for i, r in enumerate(top, 1)],
                           schema)
    w = Window.partitionBy(query_id_col).orderBy(*order)
    return (out.withColumn("rank", F.row_number().over(w))
               .where(F.col("rank") <= k))
