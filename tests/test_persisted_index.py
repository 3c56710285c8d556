"""Persisted ANN index layouts (VERDICT r3 #2): build the cell/bucket
assignment ONCE, answer query batches against the stored layout.  The
tests pin the three properties that make it an index rather than a
scan at 100 TB:

* value parity — the over-index query returns exactly what the
  on-the-fly operator (and the DuckDB oracle) returns;
* partition pruning — the re-query plan carries the literal probe
  filter in ``PartitionFilters``, and a scan under that filter reads
  ONLY the probed cell directories, or the ``pbkt`` directories of
  the probed SRP buckets (asserted on
  ``input_file_name``; that a probe also LISTS only those
  directories is asserted on ``inputFiles()`` in ``test_store.py``);
* no corpus-side recompute — the re-query plan contains no centroid
  crossJoin and no SRP ``zip_with`` projection over the index.
"""

from __future__ import annotations

import pytest

import re

from pyspark.sql import functions as F

from tests.conftest import SF_DIR_ORACLE
from tests.oracle_harness import compare, run_oracle


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR_ORACLE}/embeddings.parquet")


def _queries(spark):
    return (_emb(spark).where(F.col("vec_id").isin(0, 1, 2))
            .select(F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("query_vec")))


def _plan(spark, df, mode="simple"):
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def _touched_partitions(scan_df, key):
    """Distinct <key>=N partition-directory values among the files an
    EXECUTED scan actually reads (``input_file_name`` is assigned at
    read time, so pruned partitions never appear — unlike
    ``inputFiles()``, which lists the relation's full pre-pruning
    file index)."""
    rows = (scan_df.select(F.input_file_name().alias("f"))
            .distinct().collect())
    vals = set()
    for r in rows:
        m = re.search(rf"{key}=(\d+)", r.f)
        if m:
            vals.add(int(m.group(1)))
    return vals


@pytest.mark.slow
def test_ivf_index_matches_q31_oracle(spark, tmp_path):
    """The q31-shaped query over the persisted layout must hash-match
    the same DuckDB oracle as the on-the-fly q31 (same placeholder
    centroids, k=5, nprobe=4)."""
    from trial_data_ingestion_spark.operators.similarity import (
        first_id_centroids, topk_ivf_over_index, write_ivf_index,
    )
    from trial_data_ingestion_spark.plans import ORACLE
    emb = _emb(spark)
    cents = first_id_centroids(emb, 16)
    path = str(tmp_path / "ivf_index")
    write_ivf_index(emb, cents, path)
    out = topk_ivf_over_index(spark, path, _queries(spark), k=5,
                              nprobe=4)
    out = out.select("query_id", "neighbor_id",
                     F.round("score", 6).alias("score"),
                     F.col("rank").cast("long").alias("rank"))
    odf = run_oracle(ORACLE["q31_ivf_topk"], SF_DIR_ORACLE)
    problems = compare(out, odf)
    assert not problems, "; ".join(problems)


@pytest.mark.slow
def test_ivf_index_append_matches_full_rebuild(spark, tmp_path):
    """Index built from half the corpus + append_to_ivf_index of the
    other half must answer queries IDENTICALLY to a one-shot build
    over everything (same centroids — assignment is deterministic,
    and the query path doesn't care which write placed a row)."""
    from trial_data_ingestion_spark.operators.similarity import (
        append_to_ivf_index, first_id_centroids, topk_ivf_over_index,
        write_ivf_index,
    )
    emb = _emb(spark)
    cents = first_id_centroids(emb, 16)
    full_path = str(tmp_path / "ivf_full")
    inc_path = str(tmp_path / "ivf_inc")
    write_ivf_index(emb, cents, full_path)
    write_ivf_index(emb.where("vec_id % 2 = 0"), cents, inc_path)
    append_to_ivf_index(emb.where("vec_id % 2 = 1"), inc_path)
    q = _queries(spark)
    want = {(r["query_id"], r["neighbor_id"], r["rank"],
             round(r["score"], 9)) for r in
            topk_ivf_over_index(spark, full_path, q,
                                k=5, nprobe=4).collect()}
    got = {(r["query_id"], r["neighbor_id"], r["rank"],
            round(r["score"], 9)) for r in
           topk_ivf_over_index(spark, inc_path, q,
                               k=5, nprobe=4).collect()}
    assert got == want and len(got) > 0
    # appended rows landed in their own delta, same cell values (the
    # r9 delta level makes the append retryable; cell pruning is
    # below it)
    import glob as _glob
    import os
    deltas = [d for d in os.listdir(inc_path) if d.startswith("delta=")]
    assert len(deltas) == 2                   # base + one append
    cells = {os.path.basename(d) for d in
             _glob.glob(f"{inc_path}/delta=*/cell_id=*")}
    assert 0 < len(cells) <= 16


def test_ivf_index_prunes_to_probed_cells(spark, tmp_path):
    """Re-query must read only the probed cell partitions (static
    pruning from literal cell ids) and do no centroid work on the
    corpus side — no crossJoin of any flavor in the plan."""
    from trial_data_ingestion_spark.operators.similarity import (
        kmeans_centroids, topk_ivf_over_index, write_ivf_index,
    )
    emb = _emb(spark)
    cents = kmeans_centroids(emb, num_cells=16, seed=42)
    path = str(tmp_path / "ivf_index")
    write_ivf_index(emb, cents, path, dim=64)
    out = topk_ivf_over_index(spark, path, _queries(spark), k=5,
                              nprobe=3)
    plan = _plan(spark, out, "formatted")
    assert "PartitionFilters" in plan and "cell_id" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert out.count() == 15
    # execution-real pruning check: a scan with the same literal cell
    # filter touches only the probed partition directories
    from trial_data_ingestion_spark.operators.similarity import (
        _nearest_cells,
    )
    probed = _nearest_cells(_queries(spark), cents, "query_vec",
                            "query_id", 3, 64)
    cells = {r.cell_id for r in probed.select("cell_id").collect()}
    # 3 queries x nprobe=3 probe at most 9 distinct cells of 16
    assert len(cells) <= 9 < 16
    idx = (spark.read.parquet(path)
           .where(F.col("cell_id").isin(sorted(cells))))
    touched = _touched_partitions(idx, "cell_id")
    assert touched == cells


def test_srp_index_no_bucket_recompute(spark, tmp_path):
    """The persisted-SRP re-query must not recompute bucket
    projections over the corpus (no zip_with in the plan — the only
    vector math left is the element_at rescore), must read only the
    ``pbkt`` partitions of its probed buckets, keep those buckets by a
    literal ``bucket IN (...)`` filter, and return ``topk_lsh``'s
    rows."""
    from trial_data_ingestion_spark.operators.similarity import (
        _read_buckets, srp_bucket, topk_lsh, topk_lsh_over_index,
        write_srp_index,
    )
    from trial_data_ingestion_spark.store import read_params
    emb = _emb(spark)
    path = str(tmp_path / "srp_index")
    write_srp_index(emb, path, dim=64, num_planes=8)
    assert read_params(spark, path)["num_buckets"] == 8
    qs = _queries(spark)
    out = topk_lsh_over_index(spark, path, qs, dim=64, k=5,
                              num_planes=8, multiprobe_hamming=1)
    plan = _plan(spark, out, "formatted")
    assert "zip_with" not in plan
    base = [r.b for r in
            qs.select(srp_bucket("query_vec", 64, 8).alias("b"))
              .collect()]
    probes = {b ^ x for b in base
              for x in [0] + [1 << p for p in range(8)]}
    # 3 queries x (1 + 8 probes) reach at most 27 buckets of 256, in
    # 6 of the 8 pbkt partitions (the low 3 bits)
    assert len(probes) <= 27 < 256
    pbkts = {b & 7 for b in probes}
    assert len(pbkts) == 6
    found = re.search(r"PartitionFilters: \[pbkt#\d+ IN \(([\d,]+)\)\]",
                      plan)
    assert found and {int(v) for v in found.group(1).split(",")} == pbkts
    found = re.search(r"PushedFilters: \[In\(bucket, \[([\d,]+)\]\)",
                      plan)
    assert found and {int(v) for v in found.group(1).split(",")} \
        == probes
    # execution-real pruning: the probe's own read touches only the
    # probed pbkt directories, and only rows of the probed buckets
    idx = _read_buckets(spark, path, 8, probes)
    assert _touched_partitions(idx, "pbkt") == pbkts
    assert {r.bucket for r in idx.select("bucket").distinct().collect()} \
        <= probes
    # identical rows to the on-the-fly operator, ties included
    live = topk_lsh(emb, qs, dim=64, k=5, num_planes=8,
                    multiprobe_hamming=1)
    key = lambda df: sorted(tuple(r) for r in df.collect())
    assert key(out) == key(live)


def test_srp_index_matches_q27_oracle(spark, tmp_path):
    """And the q27-shaped query over the persisted layout hash-matches
    q27's DuckDB oracle (inlined-plane buckets)."""
    from trial_data_ingestion_spark.operators.similarity import (
        topk_lsh_over_index, write_srp_index,
    )
    from trial_data_ingestion_spark.plans import ORACLE
    emb = _emb(spark)
    path = str(tmp_path / "srp_index")
    write_srp_index(emb, path, dim=64, num_planes=8)
    out = topk_lsh_over_index(spark, path, _queries(spark), dim=64,
                              k=5, num_planes=8, multiprobe_hamming=1)
    out = out.select("query_id", "neighbor_id",
                     F.round("score", 6).alias("score"),
                     F.col("rank").cast("long").alias("rank"))
    odf = run_oracle(ORACLE["q27_lsh_topk"], SF_DIR_ORACLE)
    problems = compare(out, odf)
    assert not problems, "; ".join(problems)


def test_srp_index_metadata_round_trip(spark, tmp_path):
    """Round-8: write_srp_index(num_planes='auto') sizes p by the
    occupancy rule and records it (plus dim) in the _params.json sidecar;
    the probe defaults to the recorded count (num_planes=None), an
    explicit matching count agrees, a conflicting one raises, and the
    sidecar is invisible to parquet readers of the index root."""
    import pytest

    from trial_data_ingestion_spark.operators.similarity import (
        srp_auto_planes, topk_lsh_over_index, write_srp_index,
    )
    from trial_data_ingestion_spark.store import read_params
    emb = _emb(spark)
    path = str(tmp_path / "srpauto")
    write_srp_index(emb, path, dim=64, num_planes="auto")
    p = srp_auto_planes(emb.count())
    assert read_params(spark, path) == {"num_planes": p, "dim": 64,
                                        "num_buckets": 8}
    # the sidecar never leaks into the data: index root reads see
    # exactly the vector columns (+ the delta and pbkt partition
    # levels)
    assert set(spark.read.parquet(path).columns) \
        == set(emb.columns) | {"__nrm", "bucket", "delta", "pbkt"}
    qs = _queries(spark)
    by_meta = topk_lsh_over_index(spark, path, qs, dim=64, k=5).collect()
    assert len(by_meta) > 0
    explicit = topk_lsh_over_index(spark, path, qs, dim=64, k=5,
                                   num_planes=p).collect()
    assert sorted(map(tuple, by_meta)) == sorted(map(tuple, explicit))
    with pytest.raises(ValueError, match="rebuild to resize"):
        topk_lsh_over_index(spark, path, qs, dim=64, k=5,
                            num_planes=p + 1)
    with pytest.raises(ValueError, match="recorded plane"):
        topk_lsh_over_index(spark, path, qs, dim=64, k=5,
                            num_planes="auto")
    with pytest.raises(ValueError, match="num_planes"):
        write_srp_index(emb, str(tmp_path / "bad"), dim=64,
                        num_planes=True)


def test_srp_params_corrupt_sidecar_raises_not_default(spark, tmp_path):
    """ADVICE r9: a sidecar that EXISTS but is unreadable must raise,
    not silently fall back to the default 8 planes (the exact
    misrouting the sidecar was built to prevent) — and so must a
    MISSING one: there is no pre-sidecar default any more."""
    import os

    import pytest

    from trial_data_ingestion_spark.operators.similarity import (
        topk_lsh_over_index, write_srp_index,
    )
    from trial_data_ingestion_spark.store import read_params
    emb = _emb(spark)
    path = str(tmp_path / "srpmeta")
    write_srp_index(emb, path, dim=64, num_planes=6)
    assert read_params(spark, path) == {"num_planes": 6, "dim": 64,
                                        "num_buckets": 8}
    # corrupt the sidecar in place; drop the local-FS checksum file or
    # the read dies earlier with a ChecksumException (which would ALSO
    # propagate, but the corrupt-content branch is the one under test)
    with open(f"{path}/_params.json", "w") as fh:
        fh.write("{not json at all")
    os.remove(f"{path}/._params.json.crc")
    with pytest.raises(ValueError, match="corrupt params sidecar"):
        read_params(spark, path)
    with pytest.raises(ValueError, match="corrupt params sidecar"):
        topk_lsh_over_index(spark, path, _queries(spark), dim=64, k=5)
    os.remove(f"{path}/_params.json")
    with pytest.raises(ValueError, match="no params sidecar"):
        topk_lsh_over_index(spark, path, _queries(spark), dim=64, k=5)


@pytest.mark.parametrize("num_planes", [1, 6, 8, 12])
def test_driver_query_side_equals_spark_bucket_and_norm(spark,
                                                        num_planes):
    """The driver-side query hashing of ``topk_lsh_over_index`` gives
    each vector the bucket ``srp_bucket`` and the norm
    ``l2_norm_fixed`` give it, bit for bit: the fixture embeddings and
    500 seeded random vectors (mixed signs and magnitudes, float32)."""
    import numpy as np

    from trial_data_ingestion_spark.functions.vector import l2_norm_fixed
    from trial_data_ingestion_spark.operators.similarity import (
        _query_probes, srp_bucket,
    )
    from trial_data_ingestion_spark.session import local_frame

    rng = np.random.RandomState(7)
    rand = (rng.standard_normal((500, 64))
            * rng.choice([1e-3, 1.0, 1e3], (500, 1))).astype(np.float32)
    frames = [
        _emb(spark).select(F.col("vec_id").alias("query_id"),
                           F.col("embedding").alias("query_vec")),
        local_frame(spark, [(10_000 + i, [float(x) for x in v])
                            for i, v in enumerate(rand)],
                    "query_id long, query_vec array<float>"),
    ]
    for qs in frames:
        rows, _ = _query_probes(qs, "query_id", "query_vec", 64,
                                num_planes, multiprobe_hamming=0)
        got = {r[0]: (r[3], r[2]) for r in rows}
        want = {r[0]: (r[1], r[2]) for r in qs.select(
            "query_id", srp_bucket("query_vec", 64, num_planes),
            l2_norm_fixed("query_vec", 64)).collect()}
        assert len(got) == 500 and got == want
        assert len({b for b, _ in got.values()}) > 1


@pytest.fixture(scope="module")
def tied_index(spark, tmp_path_factory):
    """An SRP index in which every vector with id < 100 is stored
    under three ids (id, id + 1000, id + 2000): each candidate score
    is tied at least three ways."""
    emb = _emb(spark).where("vec_id < 100")
    tied = emb.unionByName(
        emb.withColumn("vec_id", F.col("vec_id") + 1000)).unionByName(
        emb.withColumn("vec_id", F.col("vec_id") + 2000))
    path = str(tmp_path_factory.mktemp("tied") / "srp")
    from trial_data_ingestion_spark.operators.similarity import (
        write_srp_index,
    )
    write_srp_index(tied, path, dim=64, num_planes=4)
    return path


def test_one_query_path_equals_batch_path_with_ties(spark, tied_index):
    """Each query alone (ranked by the driver-merged per-task top-k)
    returns exactly its rows of the batch call (ranked by the
    window): score descending, then id ascending, ties included."""
    from trial_data_ingestion_spark.operators.similarity import (
        topk_lsh_over_index,
    )
    qs = (_emb(spark).where(F.col("vec_id").isin(0, 1, 2, 3))
          .select(F.col("vec_id").alias("query_id"),
                  F.col("embedding").alias("query_vec")))
    batch = topk_lsh_over_index(spark, tied_index, qs, dim=64,
                                k=7).collect()
    ties = 0
    for qid in (0, 1, 2, 3):
        alone = topk_lsh_over_index(
            spark, tied_index, qs.where(F.col("query_id") == qid),
            dim=64, k=7).collect()
        want = sorted((r for r in batch if r.query_id == qid),
                      key=lambda r: r.rank)
        assert [tuple(r) for r in alone] == [tuple(r) for r in want]
        assert [r.rank for r in alone] == list(range(1, 8))
        keys = [(-r.score, r.neighbor_id) for r in alone]
        assert keys == sorted(keys)
        ties += sum(a.score == b.score for a, b in zip(alone, alone[1:]))
    assert ties >= 8


@pytest.mark.parametrize("vec", [[0.5] * 63, [0.5] * 65,
                                 [0.5] * 10 + [None] + [0.5] * 53])
def test_malformed_query_vector_raises_before_index_read(
        spark, tied_index, monkeypatch, vec):
    """A query vector that is not 64 non-null values raises
    ``ValueError`` naming its query, before the index is read (a long
    vector used to probe bucket 0, and a null element to score
    ``None``)."""
    from trial_data_ingestion_spark.operators import similarity
    from trial_data_ingestion_spark.session import local_frame

    def no_read(*args, **kwargs):
        raise AssertionError("the index was read")

    monkeypatch.setattr(similarity, "read_partitions", no_read)
    qs = local_frame(spark, [("ok", [0.5] * 64), ("bad-q", vec)],
                     "query_id string, query_vec array<float>")
    with pytest.raises(ValueError, match="'bad-q'.*64 non-null"):
        similarity.topk_lsh_over_index(spark, tied_index, qs, dim=64)
