"""Incremental line dedup against the persisted line store: EXACT
parity with a full-corpus rerun restricted to the batch, store-wins
semantics, append-then-rerun no-op, and the partition-pruned probe
plan."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from trial_data_ingestion_spark.store import new_delta


def _lined(spark, lo, hi, words=6):
    """Real docs restructured into multi-line texts (same fixture
    recipe as test_line_dedup) with ids in [lo, hi)."""
    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .where(f"doc_id >= {lo} and doc_id < {hi}")
            .select("doc_id", "text").collect())
    texts = {}
    for r in docs:
        toks = r["text"].split()
        texts[r["doc_id"]] = "\n".join(
            " ".join(toks[i:i + words]) for i in range(0, len(toks), words))
    return spark.createDataFrame(sorted(texts.items()),
                                 "doc_id long, text string")


def test_incremental_matches_full_rerun(spark, tmp_path):
    from trial_data_ingestion_spark.operators.line_dedup import (
        line_dedup,
        line_dedup_incremental,
        write_line_index,
    )

    corpus = _lined(spark, 0, 120)
    batch = _lined(spark, 120, 200)
    idx = str(tmp_path / "lidx")
    write_line_index(corpus, idx, min_chars=10)
    got = {r["doc_id"]: (r["text"], r["n_removed_lines"])
           for r in line_dedup_incremental(spark, batch, idx).collect()}
    full = {r["doc_id"]: (r["text"], r["n_removed_lines"])
            for r in line_dedup(corpus.unionByName(batch), min_chars=10)
            .where("doc_id >= 120").collect()}
    assert got == full
    assert sum(n for _, n in got.values()) > 0, \
        "fixture must exercise removal"


def test_incremental_append_then_rerun_is_noop(spark, tmp_path):
    """After appending a batch's surviving lines, re-running the SAME
    batch drops every eligible line (they are all in the store now) —
    and a THIRD batch sees both corpus and batch-2 lines."""
    from trial_data_ingestion_spark.operators.line_dedup import (
        line_dedup,
        line_dedup_incremental,
        write_line_index,
    )

    corpus = _lined(spark, 0, 100)
    batch = _lined(spark, 100, 160)
    idx = str(tmp_path / "lidx")
    write_line_index(corpus, idx, min_chars=10)
    line_dedup_incremental(spark, batch, idx,
                           delta=new_delta()).collect()
    rerun = line_dedup_incremental(spark, batch, idx).collect()
    for r in rerun:
        surviving_eligible = [
            ln for ln in r["text"].split("\n")
            if len(ln.strip()) >= 10]
        assert not surviving_eligible, r["doc_id"]
    batch3 = _lined(spark, 160, 220)
    got = {r["doc_id"]: (r["text"], r["n_removed_lines"])
           for r in line_dedup_incremental(spark, batch3, idx).collect()}
    full = {r["doc_id"]: (r["text"], r["n_removed_lines"])
            for r in line_dedup(
                corpus.unionByName(batch).unionByName(batch3),
                min_chars=10)
            .where("doc_id >= 160").collect()}
    assert got == full


def test_incremental_probe_prunes_partitions(spark, tmp_path):
    """The store scan must name the batch's pbkt partitions as static
    partition filters — the store side reads only matching buckets
    and never shuffles."""
    from trial_data_ingestion_spark.operators.line_dedup import (
        _eligible_occurrences,
        line_dedup_incremental,
        probe_line_store,
        write_line_index,
    )

    corpus = _lined(spark, 0, 100)
    # two tiny batch docs -> few distinct lines -> few pbkts
    batch = _lined(spark, 100, 102)
    idx = str(tmp_path / "lidx")
    write_line_index(corpus, idx, min_chars=10, num_buckets=64)
    occ = _eligible_occurrences(batch, "doc_id", "text", 10)
    seen = probe_line_store(spark, occ, idx, 64)
    plan = seen._jdf.queryExecution().executedPlan().toString()
    # the store FileScan carries a literal pbkt IN (...) partition
    # filter — static pruning, not just a post-scan predicate (the
    # expression only ever appears inside PartitionFilters)
    import re
    assert re.search(r"pbkt#\d+ (IN \(|INSET )", plan), plan[:400]
    assert "BroadcastHashJoin" in plan          # batch side broadcast
    assert "EvalPython" not in plan
    out = line_dedup_incremental(spark, batch, idx)
    assert "EvalPython" not in out._jdf.queryExecution() \
        .executedPlan().toString()
    out.collect()                               # and it runs
