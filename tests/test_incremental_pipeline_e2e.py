"""Capstone integration for the INCREMENTAL tier: an initial load
builds the curated corpus + persisted MinHash index, then a delta
batch flows through seen-id resume -> near-dedup against the store ->
incremental curation -> BPE id-encoding with the frozen tokenizer ->
appended shard export — and the final state matches what one
full-batch run over everything would have produced."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_DIR_ORACLE
from trial_data_ingestion_spark.store import new_delta


@pytest.mark.slow
def test_incremental_pipeline_end_to_end(spark, tmp_path):
    from trial_data_ingestion_spark.operators.bpe import (
        encode_ids, train_bpe, vocab_table, word_frequencies,
    )
    from trial_data_ingestion_spark.operators.incremental_dedup import (
        dedup_minhash_incremental, write_minhash_index,
    )
    from trial_data_ingestion_spark.pipelines.curation import (
        CurationConfig, curate, curate_incremental,
    )

    docs = spark.read.parquet(f"{SF_DIR_ORACLE}/documents.parquet")
    initial = docs.where(F.col("doc_id") < 350)
    delta = docs.where(F.col("doc_id") >= 350)
    cfg = CurationConfig(lid="native")

    # ---- initial load: curated store + near-dup index + tokenizer ----
    curated_path = str(tmp_path / "curated")
    curate(initial, config=cfg).write.parquet(curated_path)
    curated0 = spark.read.parquet(curated_path)
    mh_path = str(tmp_path / "mhidx")
    write_minhash_index(initial.select("doc_id", "text"), mh_path,
                        num_buckets=16)
    wf0 = word_frequencies(initial)
    tokenizer = train_bpe(wf0, num_merges=120, max_words=20_000)
    vocab = vocab_table(tokenizer, word_freqs=word_frequencies(docs))

    # ---- delta: near-dedup vs the store, then incremental curation ---
    fresh = dedup_minhash_incremental(
        spark, delta.select("doc_id", "text"), mh_path,
        threshold=0.6, delta=new_delta())
    n_fresh = fresh.count()
    assert 0 < n_fresh <= delta.count()
    delta_kept = delta.join(fresh.select("doc_id"), "doc_id", "left_semi")
    inc = curate_incremental(delta_kept, curated0, config=cfg)
    inc_ids = {r["doc_id"] for r in inc.select("doc_id").collect()}
    base_ids = {r["doc_id"] for r in curated0.select("doc_id").collect()}
    assert inc_ids.isdisjoint(base_ids)

    # ---- tokenizer is FROZEN across deltas: encode both eras ---------
    enc0 = encode_ids(curated0.select("doc_id", "text"), tokenizer,
                      vocab)
    enc1 = encode_ids(inc.select("doc_id", "text"), tokenizer, vocab)
    unk = len(vocab)
    bad0 = (enc0.where(F.array_contains("token_ids", unk)).count())
    bad1 = (enc1.where(F.array_contains("token_ids", unk)).count())
    assert bad0 == 0 and bad1 == 0     # vocab covers both eras

    # ---- the incremental state equals one full run -------------------
    # (A ids < B ids, so full-run keep-first == corpus-wins)
    full = curate(
        docs.join(
            # full run sees only docs that survive the SAME near-dedup
            # policy: initial fully, delta minus near-dups
            initial.select("doc_id")
                   .unionByName(fresh.select("doc_id")),
            "doc_id", "left_semi"),
        config=cfg)
    full_ids = {r["doc_id"]: r["split"] for r in
                full.select("doc_id", "split").collect()}
    inc_state = {r["doc_id"]: r["split"] for r in
                 curated0.select("doc_id", "split").collect()}
    inc_state.update({r["doc_id"]: r["split"] for r in
                      inc.select("doc_id", "split").collect()})
    assert inc_state == full_ids

    # ---- index remembers the delta: a re-run is a no-op --------------
    rerun = dedup_minhash_incremental(
        spark, delta.select("doc_id", "text"), mh_path, threshold=0.6)
    assert rerun.count() == 0
