"""Mergeable HLL sketch table: exactness in sparse mode, the RSE
bound once dense, shard-append parity with a one-shot build, and the
no-rescan contract (rollups read only the sketch table)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR_ORACLE


def _events(spark, sf=SF_DIR_ORACLE):
    from trial_data_ingestion_spark.plans.library import _events
    return _events(spark, sf)


def test_sharded_sketches_match_exact_distinct(spark, tmp_path):
    """Build the sketch table from daily-ish shards, merge, and
    compare with the exact per-type distinct-user counts.  At the
    oracle sf the per-type cardinality (~150) keeps every sketch in
    sparse mode, so the merged estimates are EXACT — the same
    determinism pin q36 carries."""
    from trial_data_ingestion_spark.operators.sketches import (
        merged_distinct, write_hll_shard,
    )
    ev = _events(spark).select("user_id", "event_type",
                               (F.dayofyear("ts") % 4).alias("shard"))
    path = str(tmp_path / "hll")
    for s in range(4):
        write_hll_shard(ev.where(F.col("shard") == s), path,
                        ["event_type"], "user_id", shard=f"s{s}")
    got = {r["event_type"]: r["n_distinct"] for r in
           merged_distinct(spark, path, ["event_type"]).collect()}
    want = {r["event_type"]: r["n"] for r in
            ev.groupBy("event_type")
              .agg(F.countDistinct("user_id").alias("n")).collect()}
    assert got == want

    # trailing-window rollup: merging a shard subset equals the
    # exact distinct over exactly those shards
    got2 = {r["event_type"]: r["n_distinct"] for r in
            merged_distinct(spark, path, ["event_type"],
                            shards=["s1", "s2"]).collect()}
    want2 = {r["event_type"]: r["n"] for r in
             ev.where(F.col("shard").isin(1, 2)).groupBy("event_type")
               .agg(F.countDistinct("user_id").alias("n")).collect()}
    assert got2 == want2


def test_shard_append_is_idempotent_and_incremental(spark, tmp_path):
    """Re-running a shard overwrites only its own partition (ingest
    retry safety), and appending a new shard changes no existing
    sketch rows — the incremental contract."""
    from trial_data_ingestion_spark.operators.sketches import (
        merged_distinct, write_hll_shard,
    )
    ev = _events(spark).select("user_id", "event_type")
    half1 = ev.where(F.col("user_id") % 2 == 0)
    half2 = ev.where(F.col("user_id") % 2 == 1)
    path = str(tmp_path / "hll_inc")
    write_hll_shard(half1, path, ["event_type"], "user_id", "a")
    write_hll_shard(half1, path, ["event_type"], "user_id", "a")  # retry
    one = {r["event_type"]: r["n_distinct"] for r in
           merged_distinct(spark, path, ["event_type"]).collect()}
    want1 = {r["event_type"]: r["n"] for r in
             half1.groupBy("event_type")
                  .agg(F.countDistinct("user_id").alias("n")).collect()}
    assert one == want1                      # retry did not double
    write_hll_shard(half2, path, ["event_type"], "user_id", "b")
    both = {r["event_type"]: r["n_distinct"] for r in
            merged_distinct(spark, path, ["event_type"]).collect()}
    want = {r["event_type"]: r["n"] for r in
            ev.groupBy("event_type")
              .agg(F.countDistinct("user_id").alias("n")).collect()}
    assert both == want


def test_dense_mode_within_rse_and_no_rescan(spark, tmp_path):
    """Past sparse mode the estimate must land within ~3x the
    configured RSE of exact; and the rollup plan must read ONLY the
    sketch table — the corpus is never rescanned (the whole point)."""
    from trial_data_ingestion_spark.operators.sketches import (
        HLL_RSE, merged_distinct, write_hll_shard,
    )
    big = spark.range(200_000).select(
        (F.col("id") % 3).alias("g"), F.col("id").alias("v"))
    path = str(tmp_path / "hll_big")
    for s in range(2):
        write_hll_shard(big.where(F.col("id") % 2 == s), path,
                        ["g"], "v", f"s{s}", lgk=12)
    est = merged_distinct(spark, path, ["g"])
    rows = est.collect()
    exact = {r["g"]: r["n"] for r in
             big.groupBy("g").agg(F.countDistinct("v").alias("n"))
             .collect()}
    for r in rows:
        bound = 3 * HLL_RSE[12] * exact[r["g"]]
        assert abs(r["n_distinct"] - exact[r["g"]]) <= bound, (r, bound)
    # no-rescan: the executed plan's only scan reads the sketch
    # table's columns (hll_sketch present), never the corpus column
    scans = [ln.strip() for ln in est._jdf.queryExecution()
             .executedPlan().toString().splitlines()
             if "FileScan" in ln or "Scan parquet" in ln]
    assert scans, "no scan line found in executed plan"
    for ln in scans:
        assert "hll_sketch" in ln, ln
        assert "v#" not in ln, ln


def test_empty_shard_retry_clears_stale_partition(spark, tmp_path):
    """ADVICE r8: dynamic partition overwrite writes NO partitions for
    a zero-row frame, so an empty-shard retry used to silently keep
    the prior sketch — it must clear it instead."""
    from trial_data_ingestion_spark.operators.sketches import (
        merged_distinct, write_hll_shard,
    )
    ev = _events(spark).select("user_id", "event_type")
    path = str(tmp_path / "hll_empty")
    write_hll_shard(ev, path, ["event_type"], "user_id", "a")
    write_hll_shard(ev, path, ["event_type"], "user_id", "b")
    assert merged_distinct(spark, path, ["event_type"],
                           shards=["b"]).count() > 0
    # shard b retries with data fully filtered away
    write_hll_shard(ev.where(F.lit(False)), path,
                    ["event_type"], "user_id", "b")
    assert merged_distinct(spark, path, ["event_type"],
                           shards=["b"]).count() == 0
    # shard a untouched
    want = {r["event_type"]: r["n"] for r in
            ev.groupBy("event_type")
              .agg(F.countDistinct("user_id").alias("n")).collect()}
    got = {r["event_type"]: r["n_distinct"] for r in
           merged_distinct(spark, path, ["event_type"],
                           shards=["a"]).collect()}
    assert got == want


def test_high_cardinality_shard_multi_file(spark, tmp_path):
    """VERDICT r8: a shard sketched over a high-cardinality group set
    must not funnel through one task — n_files > 1 hash-distributes
    the sketch rows by group, and the shard-pruned rollup still reads
    only that shard's files.  ``n_files`` holds at any
    ``shuffle.partitions``, including one equal to it (where a
    repartition on the group alone would be planned away)."""
    import glob

    from trial_data_ingestion_spark.operators.sketches import (
        merged_distinct, write_hll_shard,
    )
    big = spark.range(20_000).select(
        (F.col("id") % 997).alias("host"), F.col("id").alias("v"))
    path = str(tmp_path / "hll_wide")
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    try:
        for partitions in (before, "4"):
            spark.conf.set(key, partitions)
            write_hll_shard(big, path, ["host"], "v", "s0", n_files=4)
            files = glob.glob(f"{path}/shard=s0/part-*.parquet")
            assert len(files) == 4, (partitions, len(files))
    finally:
        spark.conf.set(key, before)
    write_hll_shard(big.where(F.col("id") < 10), path, ["host"], "v",
                    "s1", n_files=4)
    est = merged_distinct(spark, path, ["host"], shards=["s1"])
    assert est.count() == 10          # prune still selects one shard
    # and values are right (sparse mode -> exact)
    rows = {r["host"]: r["n_distinct"] for r in est.collect()}
    assert rows == {h: 1 for h in range(10)}


def test_hll_stream_sink_matches_batch(spark, tmp_path):
    """VERDICT r8 item 5: the streaming sketch maintenance path.
    foreachBatch shard writes (one shard per micro-batch id) build
    the same sketch table a batch build would — merged_distinct over
    the streamed table equals exact distinct counts (sparse mode),
    and a checkpoint-restart replay cannot double-count because a
    replayed batch id overwrites its own shard."""
    import glob

    from trial_data_ingestion_spark.operators.sketches import (
        hll_stream_sink, merged_distinct,
    )
    from trial_data_ingestion_spark.streaming import drain

    ev = _events(spark).select("user_id", "event_type")
    src = str(tmp_path / "stream_src")
    # 3 files -> 3 micro-batches under maxFilesPerTrigger=1
    ev.where(F.col("user_id") % 3 == 0).coalesce(1) \
        .write.mode("append").parquet(src)
    ev.where(F.col("user_id") % 3 == 1).coalesce(1) \
        .write.mode("append").parquet(src)
    ev.where(F.col("user_id") % 3 == 2).coalesce(1) \
        .write.mode("append").parquet(src)

    path = str(tmp_path / "hll_stream")
    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream.writeStream
         .foreachBatch(hll_stream_sink(path, ["event_type"],
                                       "user_id"))
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    drain(q, n_data_batches=3)

    shards = {d.rsplit("=", 1)[1]
              for d in glob.glob(f"{path}/shard=*")}
    assert len(shards) == 3 and all(s.startswith("batch-")
                                    for s in shards)
    got = {r["event_type"]: r["n_distinct"] for r in
           merged_distinct(spark, path, ["event_type"]).collect()}
    want = {r["event_type"]: r["n"] for r in
            ev.groupBy("event_type")
              .agg(F.countDistinct("user_id").alias("n")).collect()}
    assert got == want


def test_unsafe_shard_name_rejected(spark, tmp_path):
    """ADVICE r9: the empty-shard delete builds its partition path by
    hand while Spark URL-escapes partition values on write, so a
    shard name needing escaping would delete the wrong path — such
    names are rejected up front."""
    import pytest

    from trial_data_ingestion_spark.operators.sketches import (
        write_hll_shard,
    )
    ev = _events(spark).select("user_id", "event_type")
    path = str(tmp_path / "hll_bad")
    for bad in ("a b", "x:y", "d/e", "", "s=1"):
        with pytest.raises(ValueError, match="safe partition value"):
            write_hll_shard(ev, path, ["event_type"], "user_id", bad)
    # date-like and batch-id-like names stay allowed
    write_hll_shard(ev, path, ["event_type"], "user_id", "2026-08-15")
    write_hll_shard(ev, path, ["event_type"], "user_id", "batch_0.1")


def test_hll_stream_sink_restart_from_checkpoint(spark, tmp_path):
    """VERDICT r9 item 8: kill the sketch-maintaining stream
    mid-run, restart from the same checkpoint, and the shard table
    still matches the exact batch computation — committed batches are
    not re-run, an uncommitted one replays onto its own shard."""
    from trial_data_ingestion_spark.operators.sketches import (
        hll_stream_sink, merged_distinct,
    )
    from trial_data_ingestion_spark.streaming import drain

    ev = _events(spark).select("user_id", "event_type")
    src = str(tmp_path / "restart_src")
    for m in range(4):                     # 4 files -> 4 micro-batches
        ev.where(F.col("user_id") % 4 == m).coalesce(1) \
            .write.mode("append").parquet(src)
    path = str(tmp_path / "hll_restart")
    ck = str(tmp_path / "ck_restart")

    def start():
        stream = (spark.readStream.schema(ev.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        return (stream.writeStream
                .foreachBatch(hll_stream_sink(path, ["event_type"],
                                              "user_id"))
                .option("checkpointLocation", ck)
                .trigger(availableNow=True).start())

    q = start()
    drain(q, n_data_batches=1)      # kill after >=1 batch, mid-stream
    assert not q.isActive
    # restart from the checkpoint; availableNow + foreachBatch
    # self-terminates once the remaining files are processed
    q2 = start()
    q2.awaitTermination(120)
    assert q2.exception() is None

    got = {r["event_type"]: r["n_distinct"] for r in
           merged_distinct(spark, path, ["event_type"]).collect()}
    want = {r["event_type"]: r["n"] for r in
            ev.groupBy("event_type")
              .agg(F.countDistinct("user_id").alias("n")).collect()}
    assert got == want


def test_hll_stream_sink_shards_keyed_by_query_id(spark, tmp_path):
    """Two streaming queries over one sketch table (new checkpoints)
    both start at batch 0.  The second query's batch 0 must not
    replace the first query's shard: both shards stay, and
    ``merged_distinct`` counts the users of both."""
    import glob

    from trial_data_ingestion_spark.operators.sketches import (
        hll_stream_sink, merged_distinct,
    )
    ev = _events(spark).select("user_id", "event_type")
    first, second = (ev.where(F.col("user_id") % 2 == m) for m in (0, 1))
    path = str(tmp_path / "hll")
    sc = spark.sparkContext
    try:
        sc.setLocalProperty("sql.streaming.queryId", "q1")
        hll_stream_sink(path, ["event_type"], "user_id")(first, 0)
        sc.setLocalProperty("sql.streaming.queryId", "q2")
        hll_stream_sink(path, ["event_type"], "user_id")(second, 0)
    finally:
        sc.setLocalProperty("sql.streaming.queryId", None)
    shards = sorted(d.rsplit("=", 1)[1]
                    for d in glob.glob(f"{path}/shard=*"))
    assert shards == ["batch-000000000-q1", "batch-000000000-q2"]
    got = {r["event_type"]: r["n_distinct"] for r in
           merged_distinct(spark, path, ["event_type"]).collect()}
    want = {r["event_type"]: r["n"] for r in
            ev.groupBy("event_type")
              .agg(F.countDistinct("user_id").alias("n")).collect()}
    assert got == want
