"""Product-quantized (PQ) approximate nearest neighbor search.

The reference stores embeddings in a Chroma HNSW space
(``vectorstores/chroma_store.py:13,28-31``); at 100 TB the raw
float32 vectors are themselves the bottleneck — a 768-dim corpus is
3 KB/vector, ~300 TB/1e11 vectors.  Product quantization (Jegou,
Douze, Schmid, "Product Quantization for Nearest Neighbor Search",
TPAMI 2011 — the scheme behind FAISS' IVF-PQ) compresses each vector
to ``m`` one-byte codes (e.g. 64 dims -> 8 bytes, 32x smaller) and
scores queries against codes with an asymmetric distance computation
(ADC): a per-query lookup table of ``m x k`` partial distances, so
scoring a candidate is ``m`` table lookups instead of ``dim``
multiplies — and the corpus scan reads only the code column, never
the vectors.

Spark shape:

* **train** — codebooks are fit on a bounded uniform sample collected
  to the driver (the standard practice: FAISS trains PQ on 10k-1M
  points regardless of corpus size); ``k * m`` centroids go back out
  as a broadcast, never a shuffle.
* **encode** — one narrow Arrow-batched pass (``mapInPandas``),
  vectorized argmin over the (tiny) codebooks; no shuffle.
* **search** — ADC scoring in the same Arrow pass computes every
  query's distances against the batch and emits only each batch's
  per-query top-R, so the shuffle moves O(batches * q * R) rows, not
  n * q; a final window keeps the global top-R, and an optional exact
  **refine** step rescores those R candidates with the raw vectors
  (asymmetric-distance error is concentrated near the boundary, so
  refine at R = 4k recovers most of the recall gap).
* **persist** — ``write_pq_index`` stores (id, code, vector) parquet
  under ``codes/`` and records the codebooks, ``dim`` and ``metric``
  in the root's ``_params.json`` (``store.write_params``: loading
  them runs no Spark job); the re-query scan column-prunes to (id,
  code) — the vectors are touched only by the refine join on the
  tiny candidate set.

Cosine is served by normalizing both sides to unit length (L2 on the
unit sphere is monotone with cosine: ``l2^2 = 2 - 2 cos``), then
reporting the exact cosine from the refine pass.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from trial_data_ingestion_spark.functions.vector import l2_norm_fixed, dot_fixed
from trial_data_ingestion_spark.session import local_frame
from trial_data_ingestion_spark.store import (
    entry_frame, frame_entry, layout_of, read_params, read_partitions,
    read_table, recorded, write_params, write_partitioned,
)


@dataclass(frozen=True)
class PQCodebooks:
    """Trained product-quantizer: ``centroids[s][c]`` is the
    ``dsub``-dim centroid for code ``c`` of subspace ``s``."""
    centroids: np.ndarray          # shape (m, k, dsub), float64
    dim: int
    metric: str                    # "cosine" (normalized) or "l2"

    @property
    def m(self) -> int:
        return self.centroids.shape[0]

    @property
    def k(self) -> int:
        return self.centroids.shape[1]

    @property
    def dsub(self) -> int:
        return self.centroids.shape[2]


def _prep(mat: np.ndarray, metric: str) -> np.ndarray:
    if metric == "cosine":
        nrm = np.linalg.norm(mat, axis=1, keepdims=True)
        nrm[nrm == 0.0] = 1.0
        return mat / nrm
    return mat


def _lloyd(points: np.ndarray, k: int, iters: int,
           rng: np.random.Generator) -> np.ndarray:
    """Plain deterministic Lloyd k-means (numpy, driver-side, on the
    bounded training sample).  Empty clusters are re-seeded from the
    farthest points so all k codes stay live."""
    n = points.shape[0]
    if n <= k:
        # degenerate sample: pad with repeats so shape is stable
        reps = np.resize(points, (k, points.shape[1]))
        return reps.astype(np.float64)
    init = rng.permutation(n)[:k]
    cent = points[init].astype(np.float64).copy()
    for _ in range(iters):
        # (n, k) squared distances via the expanded form
        d2 = (np.sum(points ** 2, axis=1)[:, None]
              - 2.0 * points @ cent.T
              + np.sum(cent ** 2, axis=1)[None, :])
        assign = np.argmin(d2, axis=1)
        new = np.zeros_like(cent)
        counts = np.bincount(assign, minlength=k).astype(np.float64)
        np.add.at(new, assign, points)
        empty = counts == 0
        counts[empty] = 1.0
        new /= counts[:, None]
        if empty.any():
            far = np.argsort(d2[np.arange(n), assign])[::-1]
            new[empty] = points[far[: int(empty.sum())]]
        if np.allclose(new, cent):
            cent = new
            break
        cent = new
    return cent


def train_pq_codebooks(embeddings: DataFrame, dim: int, m: int = 8,
                       k: int = 256, vec_col: str = "embedding",
                       metric: str = "cosine", seed: int = 42,
                       sample_size: int = 20_000,
                       iters: int = 20) -> PQCodebooks:
    """Fit ``m`` independent k-means codebooks, one per contiguous
    ``dim/m`` subspace, on a bounded uniform sample.

    The collect is capped at ``sample_size`` rows (content-stable
    ordering by a seeded hash so reruns see the same sample) — at
    100 TB this is the ONLY driver-side materialization, and it is
    O(sample), not O(corpus)."""
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    rows = (embeddings
            .select(F.col(vec_col).cast("array<double>").alias("v"))
            .orderBy(F.xxhash64(F.col("v").cast("array<float>"),
                                F.lit(seed)).asc())
            .limit(sample_size)
            .collect())
    mat = _prep(np.array([r["v"] for r in rows], dtype=np.float64),
                metric)
    dsub = dim // m
    rng = np.random.default_rng(seed)
    cents = np.stack([
        _lloyd(np.ascontiguousarray(mat[:, s * dsub:(s + 1) * dsub]),
               k, iters, rng)
        for s in range(m)
    ])
    return PQCodebooks(centroids=cents, dim=dim, metric=metric)


def _encode_batch(mat: np.ndarray, cb: PQCodebooks) -> np.ndarray:
    """(n, dim) float -> (n, m) uint16 codes, vectorized per subspace."""
    mat = _prep(mat, cb.metric)
    out = np.empty((mat.shape[0], cb.m), dtype=np.int16)
    for s in range(cb.m):
        sub = mat[:, s * cb.dsub:(s + 1) * cb.dsub]
        cent = cb.centroids[s]
        d2 = (np.sum(sub ** 2, axis=1)[:, None]
              - 2.0 * sub @ cent.T
              + np.sum(cent ** 2, axis=1)[None, :])
        out[:, s] = np.argmin(d2, axis=1)
    return out


def encode_pq(embeddings: DataFrame, codebooks: PQCodebooks,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Attach ``pq_code`` (array<smallint>, length m): one narrow
    Arrow pass, codebooks shipped in the task closure (m*k*dsub
    doubles — a few hundred KB at most)."""
    import pandas as pd

    cb = codebooks
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in embeddings.schema.fields)
    out_schema = f"{fields}, pq_code array<smallint>"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array([np.asarray(v, dtype=np.float64)
                            for v in pdf[vec_col]])
            codes = _encode_batch(mat, cb)
            pdf = pdf.copy()
            pdf["pq_code"] = [row for row in codes]
            yield pdf

    return embeddings.mapInPandas(kernel, schema=out_schema)


def _query_luts(qmat: np.ndarray, cb: PQCodebooks) -> np.ndarray:
    """(q, dim) queries -> (q, m, k) ADC lookup tables of squared
    partial distances."""
    qmat = _prep(qmat, cb.metric)
    q = qmat.shape[0]
    luts = np.empty((q, cb.m, cb.k), dtype=np.float64)
    for s in range(cb.m):
        sub = qmat[:, s * cb.dsub:(s + 1) * cb.dsub]
        cent = cb.centroids[s]
        luts[:, s, :] = (np.sum(sub ** 2, axis=1)[:, None]
                         - 2.0 * sub @ cent.T
                         + np.sum(cent ** 2, axis=1)[None, :])
    return luts


def _adc_topr(encoded: DataFrame, query_rows: list, cb: PQCodebooks,
              id_col: str, query_id_col: str, query_vec_col: str,
              r: int, qid_type: str) -> DataFrame:
    """ADC scan: per Arrow batch, score all queries against the batch
    codes and emit each query's top-``r`` (smallest distance) rows.
    The emitted volume is O(batches * q * r) — the window afterwards
    reduces it to the global top-r per query."""
    import pandas as pd

    qids = [row[query_id_col] for row in query_rows]
    qmat = np.array([np.asarray(row[query_vec_col], dtype=np.float64)
                     for row in query_rows])
    luts = _query_luts(qmat, cb)
    id_type = encoded.schema[id_col].dataType.simpleString()
    out_schema = (f"{query_id_col} {qid_type}, __nid {id_type},"
                  f" adc double")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            codes = np.array([np.asarray(c, dtype=np.int64)
                              for c in pdf["pq_code"]])
            ids = pdf[id_col].to_numpy()
            out_q, out_i, out_d = [], [], []
            for qi, qid in enumerate(qids):
                # sum of m table lookups, vectorized over the batch
                dist = np.zeros(n, dtype=np.float64)
                lut = luts[qi]
                for s in range(cb.m):
                    dist += lut[s][codes[:, s]]
                keep = min(r, n)
                part = np.argpartition(dist, keep - 1)[:keep]
                out_q.extend([qid] * keep)
                out_i.extend(ids[part].tolist())
                out_d.extend(dist[part].tolist())
            yield pd.DataFrame({query_id_col: out_q, "__nid": out_i,
                                "adc": out_d})

    return encoded.select(id_col, "pq_code").mapInPandas(
        kernel, schema=out_schema)


def topk_pq(embeddings: DataFrame, queries: DataFrame,
            codebooks: PQCodebooks, id_col: str = "vec_id",
            vec_col: str = "embedding", query_id_col: str = "query_id",
            query_vec_col: str = "query_vec", k: int = 10,
            refine_factor: int = 4, encoded: DataFrame | None = None,
            exclude_self: bool = True) -> DataFrame:
    """PQ approximate top-k with exact refine.

    Result schema matches :func:`~.similarity.topk_bruteforce`:
    (query_id, neighbor_id, score, rank) with ``score`` the EXACT
    metric of the refined candidates (cosine when
    ``codebooks.metric == 'cosine'``), so downstream consumers can't
    tell which index produced the rows.  ``encoded`` short-circuits
    re-encoding when the caller already ran :func:`encode_pq`.
    """
    cb = codebooks
    if encoded is None:
        encoded = encode_pq(embeddings, cb, id_col, vec_col)
    qid_type = queries.schema[query_id_col].dataType.simpleString()
    query_rows = queries.select(query_id_col, query_vec_col).collect()
    r = max(k * refine_factor, k)
    cand = _adc_topr(encoded, query_rows, cb, id_col, query_id_col,
                     query_vec_col, r, qid_type)
    if exclude_self:
        cand = cand.where(F.col("__nid").cast("string")
                          != F.col(query_id_col).cast("string"))
    wq = Window.partitionBy(query_id_col).orderBy(
        F.col("adc").asc(), F.col("__nid").asc())
    top = (cand.withColumn("__rn", F.row_number().over(wq))
               .where(F.col("__rn") <= r)
               .drop("__rn"))
    # exact refine: join the tiny candidate set back to raw vectors
    # (broadcast the candidates — R * |q| rows), rescore exactly
    raw = embeddings.select(F.col(id_col).alias("__nid"),
                            F.col(vec_col).alias("__v"))
    qdf = local_frame(
        embeddings.sparkSession,
        [(row[query_id_col], [float(x) for x in row[query_vec_col]])
         for row in query_rows],
        f"{query_id_col} {qid_type}, __qv array<double>")
    dim = cb.dim
    joined = (raw.join(F.broadcast(top), "__nid")
                 .join(F.broadcast(qdf), query_id_col))
    if cb.metric == "cosine":
        score = (dot_fixed("__v", "__qv", dim)
                 / (l2_norm_fixed("__v", dim)
                    * l2_norm_fixed("__qv", dim)))
        order = F.desc
    else:
        # negative exact l2 so that descending order means nearest
        score = -F.sqrt(F.greatest(
            l2_norm_fixed("__v", dim) ** 2
            - 2 * dot_fixed("__v", "__qv", dim)
            + l2_norm_fixed("__qv", dim) ** 2, F.lit(0.0)))
        order = F.desc
    w = Window.partitionBy(query_id_col).orderBy(
        order("score"), F.col("__nid").asc())
    return (joined.withColumn("score", score)
                  .withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k)
                  .select(query_id_col,
                          F.col("__nid").alias("neighbor_id"),
                          "score", "rank"))


# ---------------------------------------------------------------------------
# Persisted PQ index: encode once, store codes + vectors + codebooks
# under one root; the re-query scan column-prunes to (id, pq_code).
# ---------------------------------------------------------------------------


def _codebook_params(cb: PQCodebooks) -> dict:
    """The sidecar entries of ``cb``: the ``(m, k, dsub)`` centroid
    array as nested lists (float64 survives JSON exactly), ``dim`` and
    ``metric``."""
    return {"codebooks": cb.centroids.tolist(), "dim": cb.dim,
            "metric": cb.metric}


def write_pq_index(embeddings: DataFrame, codebooks: PQCodebooks,
                   path: str, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> None:
    """Persist the encoded corpus at ``path/codes`` and record the
    codebooks, ``dim``, ``metric`` and the codes' layout in the
    ``_params.json`` of ``path`` (no pickle, no second table)."""
    enc = encode_pq(embeddings, codebooks, id_col, vec_col)
    enc.write.mode("overwrite").parquet(path + "/codes")
    spark = embeddings.sparkSession
    write_params(spark, path, {**_codebook_params(codebooks),
                               "layout": {"codes": layout_of(enc, [])}})
    # rebuild-over-existing: invalidate the cached file listing
    spark.catalog.refreshByPath(path + "/codes")


def read_pq_codebooks(spark, path: str) -> PQCodebooks:
    """The codebooks a PQ or IVF-PQ index at ``path`` recorded (a
    driver-side sidecar read, no Spark job); an index that records
    none raises."""
    params = read_params(spark, path)
    return PQCodebooks(
        centroids=np.asarray(recorded(path, params, "codebooks"),
                             dtype=np.float64),
        dim=params["dim"], metric=params["metric"])


def topk_pq_over_index(spark, index_path: str, queries: DataFrame,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       query_id_col: str = "query_id",
                       query_vec_col: str = "query_vec",
                       k: int = 10, refine_factor: int = 4,
                       exclude_self: bool = True) -> DataFrame:
    """PQ top-k over a persisted :func:`write_pq_index` layout —
    identical results to :func:`topk_pq` with the same codebooks by
    construction; the ADC scan reads only (id, pq_code) (column
    pruning), the raw vectors are read only by the refine join."""
    cb = read_pq_codebooks(spark, index_path)
    stored = read_table(spark, index_path, "codes")
    return topk_pq(stored, queries, cb, id_col=id_col, vec_col=vec_col,
                   query_id_col=query_id_col, query_vec_col=query_vec_col,
                   k=k, refine_factor=refine_factor, encoded=stored,
                   exclude_self=exclude_self)


# ---------------------------------------------------------------------------
# IVF-PQ: coarse inverted-file cells + residual product codes — the
# combined layout (Jegou et al. 2011 §V; the default FAISS index for
# billion-vector corpora).  The scan prunes to nprobe cell partitions
# AND reads only 8-byte codes inside them; exact refine restores
# accuracy on the short candidate list.
# ---------------------------------------------------------------------------


def _unit_vectors(df: DataFrame, id_col: str, vec_col: str,
                  dim: int) -> DataFrame:
    """(id, __raw, __unit): unit-normalized vectors — cosine on raw
    vectors == monotone L2 on the unit sphere (l2^2 = 2 - 2 cos).
    The norm is materialized as its own column FIRST so the
    per-element division references a computed value instead of
    re-evaluating the dim-term sum once per element."""
    return (df.select(F.col(id_col),
                      F.col(vec_col).alias("__raw"),
                      l2_norm_fixed(vec_col, dim).alias("__n"))
              .select(id_col, "__raw",
                      F.transform(
                          "__raw",
                          lambda x: x.cast("double") / F.when(
                              F.col("__n") == 0.0,
                              F.lit(1.0)).otherwise(F.col("__n")))
                      .alias("__unit")))


def build_ivfpq(embeddings: DataFrame, dim: int, path: str,
                id_col: str = "vec_id", vec_col: str = "embedding",
                num_cells: int = 16, m: int = 8, k: int = 256,
                seed: int = 42, sample_size: int = 20_000) -> None:
    """Train + persist an IVF-PQ index under ``path``:

    1. coarse centroids: distributed k-means on the unit-normalized
       corpus (``similarity.kmeans_centroids``);
    2. residuals: ``unit_vec - nearest_centroid``, computed natively
       (broadcast centroid join, codegen'd zip_with subtraction);
    3. PQ codebooks trained on a bounded residual sample (metric
       'l2' — residuals are not unit vectors);
    4. layout: (id, pq_code, raw vector, precomputed norm) parquet
       partitioned by ``cell_id`` — one file per cell, under
       ``codes/``; the coarse centroids, the codebooks, ``dim`` and
       the layout are recorded in the ``_params.json`` of ``path``
       (the same codebook entries as :func:`write_pq_index`).

    Residual coding (not raw-vector coding) is what makes PQ accurate
    inside a cell: residual magnitudes are ~cell radius, so the same
    8 bytes quantize a much smaller volume."""
    from trial_data_ingestion_spark.operators.similarity import (
        _nearest_cells, kmeans_centroids,
    )
    spark = embeddings.sparkSession
    unit = _unit_vectors(embeddings, id_col, vec_col, dim)
    centroids = kmeans_centroids(unit, num_cells=num_cells,
                                 vec_col="__unit", seed=seed)
    assigned = _nearest_cells(unit, centroids, "__unit", id_col, 1, dim)
    with_res = (assigned
                .join(F.broadcast(centroids), "cell_id")
                .withColumn("__res", F.zip_with(
                    "__unit", "centroid", lambda x, y: x - y))
                .drop("centroid"))
    cb = train_pq_codebooks(with_res, dim=dim, m=m, k=k,
                            vec_col="__res", metric="l2", seed=seed,
                            sample_size=sample_size)
    enc = (encode_pq(with_res, cb, id_col=id_col, vec_col="__res")
           .select(id_col, "cell_id", "pq_code",
                   F.col("__raw").alias(vec_col),
                   l2_norm_fixed("__raw", dim).alias("__nrm")))
    write_partitioned(enc, path + "/codes", ["cell_id"], "overwrite")
    write_params(spark, path, {
        **_codebook_params(cb), "centroids": frame_entry(centroids),
        "layout": {"codes": layout_of(enc, ["cell_id"])}})


def topk_ivfpq(spark, index_path: str, queries: DataFrame,
               id_col: str = "vec_id", vec_col: str = "embedding",
               query_id_col: str = "query_id",
               query_vec_col: str = "query_vec",
               k: int = 10, nprobe: int = 4,
               refine_factor: int = 4,
               exclude_self: bool = True) -> DataFrame:
    """Cosine top-k over a :func:`build_ivfpq` layout.

    Per query: the ``nprobe`` nearest cells are found driver-side
    against the centroids the index recorded (its ``_params.json``,
    with the codebooks: building the frame over a local ``queries``
    frame runs no Spark job); the codes read lists and scans
    only the probed ``cell_id`` directories
    (``store.read_partitions``; the literal filter shows as
    ``PartitionFilters``) and the ADC kernel reads just (id, cell,
    code).  LUTs are per (query, cell) — ``||(q - centroid)_s -
    codebook[s][j]||^2`` — computed lazily per batch (partitioning by
    cell makes batches cell-homogeneous).  The exact-cosine refine
    joins raw vectors for the top ``k * refine_factor`` only."""
    import pandas as pd

    cb = read_pq_codebooks(spark, index_path)
    cents = sorted(entry_frame(
        spark, read_params(spark, index_path)["centroids"]).collect())
    cent_mat = np.array([c for _, c in cents], dtype=np.float64)
    cell_ids = [cid for cid, _ in cents]
    qid_type = queries.schema[query_id_col].dataType.simpleString()
    query_rows = queries.select(query_id_col, query_vec_col).collect()
    qmat = np.array([np.asarray(r[query_vec_col], dtype=np.float64)
                     for r in query_rows])
    qnrm = np.linalg.norm(qmat, axis=1, keepdims=True)
    qnrm[qnrm == 0.0] = 1.0
    qunit = qmat / qnrm
    # nprobe nearest cells per query (tiny: q x num_cells)
    d2 = (np.sum(qunit ** 2, axis=1)[:, None]
          - 2.0 * qunit @ cent_mat.T
          + np.sum(cent_mat ** 2, axis=1)[None, :])
    probe_idx = np.argsort(d2, axis=1)[:, :nprobe]
    probed_cells = sorted({cell_ids[j] for row in probe_idx for j in row})
    # per (query, cell) LUTs
    luts: dict = {}
    for qi in range(len(query_rows)):
        for j in probe_idx[qi]:
            res_q = qunit[qi] - cent_mat[j]
            luts[(qi, cell_ids[j])] = _query_luts(
                res_q[None, :], cb)[0]

    qids = [r[query_id_col] for r in query_rows]
    stored = read_partitions(spark, index_path, "cell_id", probed_cells,
                             "codes")
    id_type = stored.schema[id_col].dataType.simpleString()
    r = max(k * refine_factor, k)
    out_schema = (f"{query_id_col} {qid_type}, __nid {id_type},"
                  f" adc double")

    def kernel(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            codes = np.array([np.asarray(c, dtype=np.int64)
                              for c in pdf["pq_code"]])
            cells = pdf["cell_id"].to_numpy()
            ids = pdf[id_col].to_numpy()
            out_q, out_i, out_d = [], [], []
            for qi, qid in enumerate(qids):
                mask = np.isin(cells,
                               [cell_ids[j] for j in probe_idx[qi]])
                if not mask.any():
                    continue
                sel = np.flatnonzero(mask)
                dist = np.zeros(len(sel), dtype=np.float64)
                for cell in np.unique(cells[sel]):
                    lut = luts[(qi, int(cell))]
                    cmask = np.flatnonzero(cells[sel] == cell)
                    rows_ = sel[cmask]
                    dsub = np.zeros(len(rows_), dtype=np.float64)
                    for s in range(cb.m):
                        dsub += lut[s][codes[rows_, s]]
                    dist[cmask] = dsub
                keep = min(r, len(sel))
                part = np.argpartition(dist, keep - 1)[:keep]
                out_q.extend([qid] * keep)
                out_i.extend(ids[sel[part]].tolist())
                out_d.extend(dist[part].tolist())
            yield pd.DataFrame({query_id_col: out_q, "__nid": out_i,
                                "adc": out_d})

    cand = (stored.select(id_col, "cell_id", "pq_code")
            .mapInPandas(kernel, schema=out_schema))
    if exclude_self:
        cand = cand.where(F.col("__nid").cast("string")
                          != F.col(query_id_col).cast("string"))
    wq = Window.partitionBy(query_id_col).orderBy(
        F.col("adc").asc(), F.col("__nid").asc())
    top = (cand.withColumn("__rn", F.row_number().over(wq))
               .where(F.col("__rn") <= r)
               .drop("__rn"))
    raw = stored.select(F.col(id_col).alias("__nid"),
                        F.col(vec_col).alias("__v"), "__nrm")
    qdf = local_frame(
        spark,
        [(row[query_id_col], [float(x) for x in row[query_vec_col]])
         for row in query_rows],
        f"{query_id_col} {qid_type}, __qv array<double>")
    dim = cb.dim
    joined = (raw.join(F.broadcast(top), "__nid")
                 .join(F.broadcast(qdf), query_id_col))
    score = (dot_fixed("__v", "__qv", dim)
             / (F.col("__nrm") * l2_norm_fixed("__qv", dim)))
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("score"), F.col("__nid").asc())
    return (joined.withColumn("score", score)
                  .withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k)
                  .select(query_id_col,
                          F.col("__nid").alias("neighbor_id"),
                          "score", "rank"))
