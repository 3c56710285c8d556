"""Incremental MinHash dedup against a persisted signature store:
parity with full-corpus dedup, partition-pruned probes, append flow."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests import sink_cases
from trial_data_ingestion_spark.operators.dedup import dedup_minhash
from trial_data_ingestion_spark.operators.incremental_dedup import (
    dedup_minhash_incremental, write_minhash_index,
)
from trial_data_ingestion_spark.store import new_delta, read_params

THRESH = 0.6


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    df = (spark.read.parquet(f"{sf_dir}/documents.parquet")
          .select("doc_id", "text"))
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def split(docs):
    corpus = docs.where(F.col("doc_id") < 300)
    batch = docs.where(F.col("doc_id") >= 300)
    return corpus, batch


@pytest.fixture(scope="module")
def index_path(tmp_path_factory, split):
    corpus, _ = split
    path = str(tmp_path_factory.mktemp("mhidx") / "idx")
    write_minhash_index(corpus, path, num_buckets=16)
    return path


def test_params_round_trip(spark, index_path):
    p = read_params(spark, index_path)
    assert p == {"k": 8, "num_hashes": 32, "bands": 8,
                 "num_buckets": 16}


@pytest.mark.slow
def test_incremental_matches_full_corpus_dedup(spark, docs, split,
                                               index_path):
    """Survivors of (index corpus A, then incremental batch B) must
    equal the B-side survivors of one full dedup over A ∪ B.  A's ids
    are all below B's, so the full run's min-id representatives
    coincide with the incremental run's corpus-wins rule — the two
    decision procedures must agree exactly."""
    corpus, batch = split
    full = dedup_minhash(docs, "doc_id", "text", threshold=THRESH)
    full_b_side = {r["doc_id"] for r in
                   full.where(F.col("doc_id") >= 300)
                       .select("doc_id").collect()}
    inc = dedup_minhash_incremental(spark, batch, index_path,
                                    threshold=THRESH)
    inc_ids = {r["doc_id"] for r in inc.select("doc_id").collect()}
    assert inc_ids == full_b_side
    # sanity: the batch actually contains duplicates to remove
    assert len(inc_ids) < batch.count()


def test_probe_scan_is_partition_pruned(spark, split, index_path):
    """The cross-candidate scan must read only the partitions of the
    batch's own bucket hashes — visible as a pbkt filter in the
    plan's PartitionFilters, not a full-index scan."""
    from trial_data_ingestion_spark.operators.incremental_dedup import (
        _banded, cross_candidates,
    )
    _, batch = split
    one_doc = batch.orderBy("doc_id").limit(3)
    nb = _banded(one_doc, "doc_id", "text", 8, 32, 8)
    cand = cross_candidates(spark, nb, index_path, 16)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "pbkt" in plan
    # 3 docs x 8 bands = at most 24 distinct pbkt values of 16 total;
    # the filter must appear as an IN-list partition filter
    assert "PartitionFilters" in plan


def test_append_extends_index(spark, tmp_path, docs, split):
    """After appending batch B, a rerun of B against the index drops
    every B doc (each one now collides with its own stored copy)."""
    corpus, batch = split
    path = str(tmp_path / "idx2")
    write_minhash_index(corpus, path, num_buckets=16)
    survivors = dedup_minhash_incremental(spark, batch, path,
                                          threshold=THRESH, delta=new_delta())
    assert survivors.count() > 0
    rerun = dedup_minhash_incremental(spark, batch, path,
                                      threshold=THRESH)
    assert rerun.count() == 0


def test_empty_batch_is_noop(spark, split, index_path):
    corpus, batch = split
    empty = batch.where(F.lit(False))
    out = dedup_minhash_incremental(spark, empty, index_path,
                                    threshold=THRESH)
    assert out.count() == 0


# ---------------------------------------------------------------------------
# Embedding incremental (persisted SRP layout)
# ---------------------------------------------------------------------------

EMB_THRESH = 0.4
DIM = 64


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df.cache().count()
    return df


def test_embedding_incremental_matches_full(spark, emb, tmp_path):
    """Same contract as the MinHash parity test: indexing A then
    incrementally deduping B must keep exactly the B-side survivors
    of one full near-dedup over A ∪ B (A ids sort first)."""
    from trial_data_ingestion_spark.operators.dedup import (
        drop_non_representatives,
    )
    from trial_data_ingestion_spark.operators.incremental_dedup import (
        embedding_near_dups_incremental,
    )
    from trial_data_ingestion_spark.operators.similarity import (
        embedding_near_dups, write_srp_index,
    )
    corpus = emb.where(F.col("vec_id") < 300)
    batch = emb.where(F.col("vec_id") >= 300)
    path = str(tmp_path / "srp")
    write_srp_index(corpus, path, dim=DIM)

    pairs = embedding_near_dups(emb, dim=DIM, threshold=EMB_THRESH)
    assert pairs.count() > 0          # the corpus has planted dups
    full = drop_non_representatives(emb, pairs, "vec_id")
    full_b = {r["vec_id"] for r in
              full.where(F.col("vec_id") >= 300)
                  .select("vec_id").collect()}
    inc = embedding_near_dups_incremental(spark, batch, path, DIM,
                                          threshold=EMB_THRESH)
    inc_ids = {r["vec_id"] for r in inc.select("vec_id").collect()}
    assert inc_ids == full_b
    assert len(inc_ids) < batch.count()


@pytest.mark.slow
def test_embedding_incremental_append_then_rerun_is_noop(spark, emb,
                                                         tmp_path):
    from trial_data_ingestion_spark.operators.incremental_dedup import (
        embedding_near_dups_incremental,
    )
    from trial_data_ingestion_spark.operators.similarity import (
        write_srp_index,
    )
    corpus = emb.where(F.col("vec_id") < 300)
    batch = emb.where(F.col("vec_id") >= 300)
    path = str(tmp_path / "srp2")
    write_srp_index(corpus, path, dim=DIM)
    first = embedding_near_dups_incremental(spark, batch, path, DIM,
                                            threshold=EMB_THRESH,
                                            delta=new_delta())
    assert first.count() > 0
    rerun = embedding_near_dups_incremental(spark, batch, path, DIM,
                                            threshold=EMB_THRESH)
    assert rerun.count() == 0


@pytest.mark.slow
def test_embedding_incremental_append_preserves_corpus(spark, emb,
                                                       tmp_path):
    """Round-8 bug fix: an append must APPEND the batch into the
    bucket layout — the old code called write_srp_index in overwrite
    mode, which dropped the corpus rows (the rerun-noop test couldn't
    see it because the seen-filter masked the loss).  After appending
    batch B, copies of ORIGINAL corpus docs under fresh ids must still
    be recognized as duplicates."""
    from trial_data_ingestion_spark.operators.incremental_dedup import (
        embedding_near_dups_incremental,
    )
    from trial_data_ingestion_spark.operators.similarity import (
        write_srp_index,
    )
    corpus = emb.where(F.col("vec_id") < 300)
    batch = emb.where(F.col("vec_id") >= 300)
    path = str(tmp_path / "srp3")
    write_srp_index(corpus, path, dim=DIM)
    n_corpus_rows = spark.read.parquet(path).count()
    embedding_near_dups_incremental(spark, batch, path, DIM,
                                    threshold=EMB_THRESH, delta=new_delta())
    # the layout gained the batch and kept every corpus row
    assert spark.read.parquet(path).count() \
        == n_corpus_rows + batch.count()
    # exact copies of corpus vectors (cos = 1.0) under new ids: all
    # must be dropped against the STILL-PRESENT corpus side
    copies = (corpus.orderBy("vec_id").limit(5)
              .select((F.col("vec_id") + 100_000).alias("vec_id"),
                      "embedding"))
    out = embedding_near_dups_incremental(spark, copies, path, DIM,
                                          threshold=EMB_THRESH)
    assert out.count() == 0


def test_incremental_num_planes_from_metadata(spark, emb, tmp_path):
    """The probe hashes with the plane count the index recorded at
    build time (num_planes=None default); a conflicting explicit
    count raises instead of probing empty buckets."""
    from trial_data_ingestion_spark.operators.incremental_dedup import (
        embedding_near_dups_incremental,
    )
    from trial_data_ingestion_spark.operators.similarity import (
        srp_auto_planes, write_srp_index,
    )
    corpus = emb.where(F.col("vec_id") < 300)
    path = str(tmp_path / "srp4")
    write_srp_index(corpus, path, dim=DIM, num_planes="auto")
    meta = read_params(spark, path)
    assert meta == {"num_planes": srp_auto_planes(corpus.count()),
                    "dim": DIM, "num_buckets": 8}
    copies = (corpus.orderBy("vec_id").limit(5)
              .select((F.col("vec_id") + 100_000).alias("vec_id"),
                      "embedding"))
    # default probe routes with the recorded planes -> copies collide
    assert embedding_near_dups_incremental(
        spark, copies, path, DIM, threshold=EMB_THRESH).count() == 0
    with pytest.raises(ValueError, match="rebuild to resize"):
        embedding_near_dups_incremental(
            spark, copies, path, DIM, threshold=EMB_THRESH,
            num_planes=meta["num_planes"] + 1)
    with pytest.raises(ValueError, match="rebuild to resize"):
        write_srp_index(copies, path, dim=DIM,
                        num_planes=meta["num_planes"] + 1,
                        delta=new_delta())
    with pytest.raises(ValueError, match="stores dim"):
        embedding_near_dups_incremental(spark, copies, path, DIM + 1,
                                        threshold=EMB_THRESH)


def test_incremental_paths_release_caches(spark, docs, emb, split,
                                          tmp_path):
    """ADVICE r8: each incremental call previously leaked one
    persisted delta frame per batch for the session lifetime.  After
    the pin-then-release rewrite, no DataFrame persists outlive the
    call (checkpoint blocks are GC-owned and don't register in the
    cache manager)."""
    from trial_data_ingestion_spark.operators.incremental_dedup import (
        embedding_near_dups_incremental,
    )
    from trial_data_ingestion_spark.operators.similarity import (
        write_srp_index,
    )
    corpus, batch = split
    mh_path = str(tmp_path / "relidx")
    write_minhash_index(corpus, mh_path, num_buckets=16)
    srp_path = str(tmp_path / "relsrp")
    write_srp_index(emb.where(F.col("vec_id") < 300), srp_path, dim=DIM)

    spark.catalog.clearCache()
    out = dedup_minhash_incremental(spark, batch, mh_path,
                                    threshold=THRESH, delta=new_delta())
    assert out.count() > 0
    out2 = embedding_near_dups_incremental(
        spark, emb.where(F.col("vec_id") >= 300), srp_path, DIM,
        threshold=EMB_THRESH, delta=new_delta())
    assert out2.count() > 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    # restore the module fixtures' caches for later tests
    docs.cache().count()
    emb.cache().count()


def test_pin_scope_structural_release(spark):
    """VERDICT r9 item 7: PinScope replaces the pinned list-out-param
    — releases every pin exactly once (including on the error path)
    and refuses pins after release."""
    from trial_data_ingestion_spark.operators.pins import PinScope
    df = spark.range(10).select((F.col("id") * 2).alias("v"))
    with pytest.raises(RuntimeError, match="boom"):
        with PinScope() as pins:
            pins.pin(df)
            df.count()
            assert df.storageLevel.useMemory
            raise RuntimeError("boom")
    assert not df.storageLevel.useMemory
    scope = PinScope()
    scope.release()
    scope.release()                       # idempotent
    with pytest.raises(RuntimeError, match="released"):
        scope.append(df)


@pytest.mark.parametrize("kind", sink_cases.OPERATORS)
def test_minhash_append_retry_is_idempotent(spark, tmp_path, kind):
    """VERDICT r9 item 4, for each incremental operator: a whole-call
    retry with the same ``delta`` repeats its decision and does not
    double-append — the probe leaves that delta out, and the append
    overwrites it.  (With the append's id and the probe's exclusion
    as separate arguments, a MinHash retry that named only the id
    kept 0 of its 37 survivors.)  Unsafe delta ids are refused on
    entry, with 0 Spark jobs: the check used to sit in the append,
    after the whole probe (about 10 jobs for MinHash on 4 cores)."""
    path = str(tmp_path / "store")
    sink_cases.build_store(spark, kind, path)
    batch = sink_cases.first_batch(spark, kind)
    first = sink_cases.rows(sink_cases.probe(spark, kind, batch, path,
                                             "b0001"))
    assert first
    stored = sink_cases.store_rows(spark, kind, path)
    assert "b0001" in sink_cases.deltas(spark, kind, path)
    retry = sink_cases.rows(sink_cases.probe(spark, kind, batch, path,
                                             "b0001"))
    assert retry == first
    assert sink_cases.store_rows(spark, kind, path) == stored
    sc, group = spark.sparkContext, f"unsafe-delta-{kind}"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match="safe partition value"):
            sink_cases.probe(spark, kind, batch, path, "a b/c")
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup(None, None)
    assert len(jobs) == 0, f"{kind}: {len(jobs)} jobs before the raise"


def test_distributed_fallback_matches_local_decision(spark, docs, split,
                                                     index_path,
                                                     monkeypatch):
    """The local-verify fast path and the distributed fallback are two
    EXECUTION SITES of one decision procedure — forcing the fallback
    (shrink the pair/doc bounds to zero) must reproduce the local
    path's survivors exactly.  This is the only coverage the
    distributed branch gets below 100k candidate pairs, and it also
    pins the round-9 text-payload bound (LOCAL_VERIFY_MAX_DOCS): a
    delta whose candidates touch too many docs must not collect their
    texts driver-side."""
    from trial_data_ingestion_spark.operators import (
        incremental_dedup as mod,
    )
    corpus, batch = split
    local = {r["doc_id"] for r in dedup_minhash_incremental(
        spark, batch, index_path, threshold=THRESH)
        .select("doc_id").collect()}

    monkeypatch.setattr(mod, "LOCAL_VERIFY_MAX_DOCS", 0)
    via_doc_bound = {r["doc_id"] for r in mod.dedup_minhash_incremental(
        spark, batch, index_path, threshold=THRESH)
        .select("doc_id").collect()}
    assert via_doc_bound == local

    monkeypatch.setattr(mod, "LOCAL_VERIFY_MAX_DOCS", 25_000)
    monkeypatch.setattr(mod, "LOCAL_VERIFY_MAX_PAIRS", 0)
    via_pair_bound = {r["doc_id"] for r in mod.dedup_minhash_incremental(
        spark, batch, index_path, threshold=THRESH)
        .select("doc_id").collect()}
    assert via_pair_bound == local


def test_index_auto_banding_and_append_guard(spark, docs, split,
                                             tmp_path):
    """r9 verdict item 4 (index-side auto-banding): a base build with
    num_hashes='auto' sizes the banding from the corpus via
    auto_banding at the caller's threshold, records it in the
    _params.json sidecar, and probes inherit it — survivors still
    match the full-corpus dedup at the matching setting.  Appends
    must validate against the stored params: an append with
    mismatched banding would silently corrupt every later probe, so
    it raises instead; 'auto' on an append is rejected outright (a
    delta's count is not the corpus's)."""
    from trial_data_ingestion_spark.operators.dedup import auto_banding

    corpus, batch = split
    path = str(tmp_path / "idx_auto")
    write_minhash_index(corpus, path, num_hashes="auto",
                        threshold=THRESH, num_buckets=16)
    plan = auto_banding(corpus.count(), THRESH)
    p = read_params(spark, path)
    assert (p["num_hashes"], p["bands"]) == (plan["num_hashes"],
                                             plan["bands"])
    # the probe inherits the stored banding and the decision matches
    # the batch operator run at the SAME banding (corpus-wins rule,
    # same id layout as test_incremental_matches_full_corpus_dedup)
    full = dedup_minhash(docs, "doc_id", "text",
                         num_hashes=p["num_hashes"], bands=p["bands"],
                         threshold=THRESH)
    want = {r["doc_id"] for r in
            full.where(F.col("doc_id") >= 300).select("doc_id").collect()}
    got = {r["doc_id"] for r in
           dedup_minhash_incremental(spark, batch, path,
                                     threshold=THRESH)
           .select("doc_id").collect()}
    assert got == want
    # append guard: mismatched banding raises before touching disk
    with pytest.raises(ValueError, match="stored params"):
        write_minhash_index(batch, path, num_hashes=64, bands=8,
                            num_buckets=16, delta="d-bad")
    with pytest.raises(ValueError, match="base builds"):
        write_minhash_index(batch, path, num_hashes="auto",
                            delta="d-bad2")
    # a matching append still works
    write_minhash_index(batch, path, k=p["k"],
                        num_hashes=p["num_hashes"], bands=p["bands"],
                        num_buckets=p["num_buckets"], delta="d-ok")
    assert dedup_minhash_incremental(spark, batch, path,
                                     threshold=THRESH).count() == 0
    with pytest.raises(ValueError, match="int or 'auto'"):
        write_minhash_index(batch, str(tmp_path / "idx_bad"),
                            num_hashes=True)


def test_prebanded_append_writes_identical_band_rows(spark, docs,
                                                     split, tmp_path):
    """A probe's append and a writer append of the same delta land
    identical band and doc rows: ``dedup_minhash_incremental`` writes
    the banding it already collected for its probe (it never re-runs
    the MinHash kernel), ``write_minhash_index(delta=...)`` re-bands
    the batch, and both go through the same table builder."""
    corpus, batch = split
    paths = {}
    for tag in ("writer", "probe"):
        path = str(tmp_path / f"idx_{tag}")
        write_minhash_index(corpus, path, num_buckets=16)
        if tag == "probe":
            dedup_minhash_incremental(spark, batch, path,
                                      threshold=THRESH, delta="d-test")
        else:
            write_minhash_index(batch, path, num_buckets=16,
                                delta="d-test")
        paths[tag] = path

    def rows(path, sub, cols):
        return {tuple(r) for r in
                spark.read.parquet(path + sub).select(*cols).collect()}

    band_cols = ["doc", "band", "bucket", "dbkt", "pbkt", "delta"]
    assert rows(paths["writer"], "/bands", band_cols) \
        == rows(paths["probe"], "/bands", band_cols)
    doc_cols = ["doc", "text", "dbkt", "delta"]
    assert rows(paths["writer"], "/docs", doc_cols) \
        == rows(paths["probe"], "/docs", doc_cols)


def test_probe_job_count_stays_fused(spark, split, index_path):
    """The r13 probe pays 4 driver actions (~18 Spark jobs counting
    limit/broadcast sub-jobs on this plan); the r12 shape paid 6
    actions / 24 jobs.  Guard against the fusion silently
    regressing — threshold sits between the two."""
    _, batch = split
    sc = spark.sparkContext
    dedup_minhash_incremental(spark, batch, index_path,
                              threshold=THRESH).count()   # warm cache
    sc.setJobGroup("fused-probe", "fused-probe")
    try:
        dedup_minhash_incremental(spark, batch, index_path,
                                  threshold=THRESH).count()
        jobs = sc.statusTracker().getJobIdsForGroup("fused-probe")
    finally:
        sc.setJobGroup(None, None)
    assert len(jobs) <= 21, f"probe ran {len(jobs)} Spark jobs"
