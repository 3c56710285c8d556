"""Document clustering: cell assignment geometry, profiles, keyword
lift, and the cluster-balanced sampling composition."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from trial_data_ingestion_spark.operators import clustering


@pytest.fixture(scope="module")
def toy(spark):
    """Two orthogonal topics in 4-d plus one zero vector.  Centroids
    are passed explicitly so assignments are known answers, not a
    property of the Lloyd fit."""
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], "spark shuffle partition spark executor"),
        (2, [0.9, 0.1, 0.0, 0.0], "spark shuffle broadcast join executor"),
        (3, [2.0, 0.0, 0.0, 0.0], "partition shuffle spark spark codegen"),
        (4, [0.0, 1.0, 0.0, 0.0], "tokenizer corpus dedup minhash corpus"),
        (5, [0.0, 0.8, 0.2, 0.0], "corpus dedup tokenizer jaccard corpus"),
        (6, [0.0, 0.0, 0.0, 0.0], "directionless junk row"),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "text"])
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "cell_id int, centroid array<double>")
    return df, cents


def test_cluster_documents_known_assignment(toy):
    df, cents = toy
    out = {r["vec_id"]: r for r in
           clustering.cluster_documents(df, dim=4, centroids=cents)
           .collect()}
    assert {i: out[i]["cell_id"] for i in (1, 2, 3, 4, 5)} == \
        {1: 0, 2: 0, 3: 0, 4: 1, 5: 1}
    # doc 3 is angularly identical to doc 1 despite twice the norm
    assert out[3]["cos_to_centroid"] == pytest.approx(1.0)
    assert out[1]["cos_to_centroid"] == pytest.approx(1.0)
    assert 0.9 < out[2]["cos_to_centroid"] < 1.0
    # zero vector: NULL cell, still present with its original columns
    assert out[6]["cell_id"] is None
    assert out[6]["cos_to_centroid"] is None
    assert len(out) == 6


def test_cluster_documents_zero_shuffle_and_tie_rule(toy, spark):
    df, cents = toy
    assigned = clustering.cluster_documents(df, dim=4, centroids=cents)
    # narrow path: the assignment plan has NO exchange at all, and the
    # Python boundary is a pandas_udf over the vector column ALONE
    # (r13, guide §4.1) — payload columns joined before assignment
    # must stay in the JVM, never re-batch through mapInPandas
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan
    assert "MapInPandas" not in plan
    # cosine tie (vector equidistant from both centroids) -> smaller cell
    tie = spark.createDataFrame(
        [(42, [1.0, 1.0, 0.0, 0.0], "tie text")],
        ["vec_id", "embedding", "text"])
    row = clustering.cluster_documents(tie, dim=4,
                                       centroids=cents).collect()[0]
    assert row["cell_id"] == 0
    assert row["cos_to_centroid"] == pytest.approx(2 ** -0.5)


def test_cluster_documents_kernel_matches_reference(toy):
    """Arrow-kernel assignment equals a from-scratch python argmax
    over unit cosines (the definition, computed with a different
    association order)."""
    import math

    df, cents = toy
    got = {r["vec_id"]: (r["cell_id"], r["cos_to_centroid"])
           for r in clustering.cluster_documents(
               df, dim=4, centroids=cents).collect()}
    cent_rows = {r["cell_id"]: r["centroid"] for r in cents.collect()}
    for row in df.collect():
        v = row["embedding"]
        n = math.sqrt(sum(x * x for x in v))
        if n == 0:
            assert got[row["vec_id"]] == (None, None)
            continue
        best = None
        for cid in sorted(cent_rows):
            c = cent_rows[cid]
            cn = math.sqrt(sum(x * x for x in c))
            cos = sum(a * b for a, b in zip(v, c)) / (n * cn)
            if best is None or cos > best[1] + 1e-12:
                best = (cid, cos)
        assert got[row["vec_id"]][0] == best[0]
        assert got[row["vec_id"]][1] == pytest.approx(best[1])


def test_cluster_documents_ragged_and_null_vectors(spark, toy):
    _, cents = toy
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, None), (3, [1.0, 0.0])],
        "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r["cell_id"] for r in
           clustering.cluster_documents(df, dim=4,
                                        centroids=cents).collect()}
    assert out == {1: 0, 2: None, 3: None}


def test_cluster_profile_counts_and_share(toy):
    df, cents = toy
    assigned = clustering.cluster_documents(df, dim=4, centroids=cents)
    prof = {r["cell_id"]: r for r in
            clustering.cluster_profile(assigned).collect()}
    assert prof[0]["n_docs"] == 3 and prof[1]["n_docs"] == 2
    assert prof[0]["share"] == pytest.approx(0.6)
    assert prof[1]["share"] == pytest.approx(0.4)
    assert prof[0]["mean_cos"] <= 1.0 and prof[0]["p10_cos"] <= \
        prof[0]["mean_cos"] + 1e-9
    # size_col switches on the token budget column
    sized = clustering.cluster_profile(
        assigned.withColumn("n_tok", F.lit(10)), size_col="n_tok")
    assert {r["cell_id"]: r["total_size"] for r in sized.collect()} == \
        {0: 30.0, 1: 20.0}


def test_cluster_keywords_lift(toy):
    df, cents = toy
    assigned = clustering.cluster_documents(df, dim=4, centroids=cents)
    kw = clustering.cluster_keywords(assigned, text_col="text",
                                     id_col="vec_id", top_k=3)
    by_cell = {}
    for r in kw.collect():
        by_cell.setdefault(r["cell_id"], []).append(r["token"])
    # "spark"/"shuffle" only in cell 0 docs, "corpus"/"dedup" in cell 1;
    # every token needs df >= 2 within its cell
    assert "spark" in by_cell[0] and "shuffle" in by_cell[0]
    assert "corpus" in by_cell[1] and "dedup" in by_cell[1]
    assert "corpus" not in by_cell[0] and "spark" not in by_cell[1]
    # rank is 1..k dense per cell
    ranks = [r["rank"] for r in kw.where(F.col("cell_id") == 0)
             .orderBy("rank").collect()]
    assert ranks == list(range(1, len(ranks) + 1))


def test_cluster_balanced_sample_flattens_head(spark):
    # 60/20 head-tail imbalance over two obvious topics; alpha=0.5
    # trims the head toward sqrt proportions while the tail keeps all
    rows = ([(i, [1.0, 0.0], "head") for i in range(60)]
            + [(1000 + i, [0.0, 1.0], "tail") for i in range(20)])
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "text"])
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "cell_id int, centroid array<double>")
    assigned = clustering.cluster_documents(df, dim=2, centroids=cents)
    samp = clustering.cluster_balanced_sample(assigned, key_col="vec_id",
                                              alpha=0.5)
    got = (samp.groupBy("cell_id").count().collect())
    counts = {r["cell_id"]: r["count"] for r in got}
    # scarcest source (tail, 20 docs) is kept whole; head trimmed to
    # ~20 * sqrt(60/20) ≈ 34 (hash-sampled, so allow slack)
    assert counts[1] == 20
    assert 20 < counts[0] < 60
    # determinism: same seed, same draw
    again = {r["cell_id"]: r["count"] for r in
             clustering.cluster_balanced_sample(
                 assigned, key_col="vec_id", alpha=0.5)
             .groupBy("cell_id").count().collect()}
    assert again == counts


def test_prune_prototypicality_cuts_both_tails(spark):
    # one cell, cosines 0.1..1.0 in steps; drop bottom 20% / top 20%
    rows = [(i, 0, 0.1 * i) for i in range(1, 11)]
    df = spark.createDataFrame(rows, ["vec_id", "cell_id",
                                      "cos_to_centroid"])
    kept = sorted(r["vec_id"] for r in
                  clustering.prune_prototypicality(
                      df, drop_low_frac=0.2, drop_high_frac=0.2)
                  .collect())
    # percent_rank over 10 rows = (rank-1)/9: keep 0.2 <= pr <= 0.8,
    # i.e. ranks 3..8 (rank 9 sits at 8/9 ~ 0.889)
    assert kept == [3, 4, 5, 6, 7, 8]
    # NULL-cell rows are dropped, fraction validation trips
    with_null = df.union(spark.createDataFrame(
        [(99, None, None)], df.schema))
    assert clustering.prune_prototypicality(with_null).count() == 10
    with pytest.raises(ValueError):
        clustering.prune_prototypicality(df, drop_low_frac=0.6,
                                         drop_high_frac=0.5)


def test_centroid_store_round_trip_and_drift(toy, spark, tmp_path):
    import math

    df, cents = toy
    path = str(tmp_path / "centroids")
    clustering.write_centroids(cents, path)
    loaded = clustering.load_centroids(spark, path)
    assert {(r["cell_id"], tuple(r["centroid"]))
            for r in loaded.collect()} == \
        {(r["cell_id"], tuple(r["centroid"])) for r in cents.collect()}
    df.write.mode("overwrite").parquet(str(tmp_path / "not_cents"))
    with pytest.raises(ValueError):
        clustering.load_centroids(spark, str(tmp_path / "not_cents"))

    # drift between two snapshots assigned against the SAME codebook
    a1 = clustering.cluster_documents(df, dim=4, centroids=loaded)
    p1 = clustering.cluster_profile(a1)
    # second snapshot: drop both cell-1 docs -> mix shifts to {0: 1.0}
    a2 = clustering.cluster_documents(
        df.where("vec_id not in (4, 5)"), dim=4, centroids=loaded)
    p2 = clustering.cluster_profile(a2)
    drift = {r["cell_id"]: r for r in
             clustering.cluster_drift_report(p1, p2).collect()}
    assert drift[0]["share_old"] == pytest.approx(0.6)
    assert drift[0]["share_new"] == pytest.approx(1.0)
    assert drift[1]["share_new"] == 0.0
    js = sum(r["js_term"] for r in drift.values())

    def _js(p, q):
        tot = 0.0
        for a, b in zip(p, q):
            m = (a + b) / 2
            if a > 0:
                tot += a * math.log(a / m) / 2
            if b > 0:
                tot += b * math.log(b / m) / 2
        return tot

    assert js == pytest.approx(_js([0.6, 0.4], [1.0, 0.0]))
    # identical snapshots: zero drift everywhere
    zero = clustering.cluster_drift_report(p1, p1).collect()
    assert all(r["js_term"] == pytest.approx(0.0)
               and r["share_delta"] == pytest.approx(0.0) for r in zero)


def test_cluster_assignment_streaming_parity(toy, spark, tmp_path):
    """cluster_documents is a stateless zero-shuffle kernel, so the
    SAME call must work on a streaming DataFrame and emit exactly
    the batch rows (given the same persisted codebook)."""
    df, cents = toy
    src = str(tmp_path / "stream_src")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (clustering.cluster_documents(stream, dim=4, centroids=cents)
         .select("vec_id", "cell_id", "cos_to_centroid")
         .writeStream.format("memory").queryName("s_cluster")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_cluster"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["vec_id"]: (r["cell_id"], r["cos_to_centroid"])
           for r in spark.sql("SELECT * FROM s_cluster").collect()}
    want = {r["vec_id"]: (r["cell_id"], r["cos_to_centroid"])
            for r in clustering.cluster_documents(
                df, dim=4, centroids=cents).collect()}
    assert got == want and len(got) == 6


def test_clustered_document_sink_reloads_codebook(toy, spark, tmp_path):
    """The foreachBatch sink loads the codebook per micro-batch: a
    refreshed store changes assignments for LATER batches with no
    stream restart."""
    df, cents = toy
    cpath = str(tmp_path / "cents")
    out = str(tmp_path / "assigned")
    src = str(tmp_path / "src")
    clustering.write_centroids(cents, cpath)
    df.where("vec_id <= 3").write.mode("append").parquet(src)

    from trial_data_ingestion_spark.streaming.documents import (
        clustered_document_sink,
    )
    stream = spark.readStream.schema(df.schema).parquet(src)
    writer = stream.writeStream.foreachBatch(
        clustered_document_sink(cpath, out, dim=4))
    q = writer.option("checkpointLocation", str(tmp_path / "ck")) \
        .trigger(availableNow=True).start()
    q.awaitTermination(120)
    got1 = {r["vec_id"]: r["cell_id"] for r in
            spark.read.parquet(out).collect()}
    assert got1 == {1: 0, 2: 0, 3: 0}

    # refresh the codebook (swap the two centroids' ids), add a batch
    swapped = cents.selectExpr("cast(1 - cell_id as int) as cell_id",
                               "centroid")
    clustering.write_centroids(swapped, cpath)
    df.where("vec_id >= 4").write.mode("append").parquet(src)
    q = spark.readStream.schema(df.schema).parquet(src).writeStream \
        .foreachBatch(clustered_document_sink(cpath, out, dim=4)) \
        .option("checkpointLocation", str(tmp_path / "ck")) \
        .trigger(availableNow=True).start()
    q.awaitTermination(120)
    got2 = {r["vec_id"]: r["cell_id"] for r in
            spark.read.parquet(out).collect()}
    # earlier batch rows untouched; new rows use the refreshed ids
    assert got2[1] == 0 and got2[4] == 0 and got2[5] == 0
    assert got2[6] is None


def test_cluster_documents_real_embeddings(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    assigned = clustering.cluster_documents(emb, dim=64, num_clusters=4,
                                            sample_size=2000)
    assert assigned.count() == n
    cells = assigned.where(F.col("cell_id").isNotNull())
    assert cells.select("cell_id").distinct().count() >= 2
    # cos_to_centroid is a valid cosine everywhere it's defined
    bad = cells.where((F.col("cos_to_centroid") < -1.0001)
                      | (F.col("cos_to_centroid") > 1.0001)).count()
    assert bad == 0
