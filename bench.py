"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec", "sf": ...,
   "calibration_sec": ..., "calibration_version": ...,
   "calibration_mem_sec": ..., "calibration_mem_version": ...,
   "queries": {<entry>: <steady sec>, ...}, "steady_passes": ...,
   "cold_total_sec": ...}

Each query is fully materialized via a count over the result (no
driver-side collect of payload rows).  Queries span the engine's
main physical shapes: scan+agg, shuffle join, window, Arrow-UDF
chunking, LSH dedup, vector top-k.

Measurement protocol: one cold pass (whole-stage-codegen compilation
+ JVM JIT — one-time on a long-lived cluster), then STEADY_PASSES
steady passes; the reported steady time is the per-query MEDIAN, so a
single GC pause or scheduler hiccup can't masquerade as a plan
regression.

Two fixed synthetic probes, run before and after the suite, record
machine speed beside the entries: ``calibration_sec`` (CPU-bound) and
``calibration_mem_sec`` (allocation/shuffle-bound), each the min of
its start and end sample, with a ``calibration_*_version`` that
changes whenever a probe's workload does.  They let a reader
drift-correct runs taken on different machines; this harness applies
no gate of its own.  Wall times from different machines drift by
tens of percent, so regression (and speed-up) evidence comes from the
same-box interleaved A/B of ``perfbench/run.py`` instead.

Full-suite runs at sf0.1 also write the full record (adds start/end
probe samples and cold times) to BENCH_LOCAL_r{NN}.json.

  python bench.py                       full suite, one JSON line
  python bench.py --only NAME[,NAME]    subset of HEADLINE, no file
  python bench.py --scale               one scale tier into
                                        BENCH_SCALE.json
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import sys
import time

HEADLINE = [
    "q01_pricing_summary",
    "q02_revenue_by_segment",
    "q05_top_orders_per_customer",
    "q12_running_window",
    "q14_doc_stats_by_source",
    "q17_chunk_fixed",
    "q19_minhash_dedup",
    "q20_knn_cosine",
    "q21_text_analysis",
    "q22_sessionize",
    "q28_ngram_jaccard",
    "q31_ivf_topk",
    "q33_window_analytics",
    "q35_top_revenue_orders",
    "q37_brand_supplier_share",
    "q41_percentiles",
    # added in round 2 (not in the r1 baseline):
    "q48_embedding_dups_blocked",   # SRP-blocked near-dup scale path
    "q50_sliding_window",           # 1h/15min sliding window agg
    # round-4 training-data tier (bench-only: the graded corpus is
    # capped at the driver's 50-query budget, so these live here)
    "b01_hygiene_sweep",            # one-pass lang/quality/PII report
    "b02_decontam_report",          # 8-gram benchmark-overlap sweep
    "b03_bm25_index_and_query",     # postings build + 4-term search
    "b04_pack_sequences",           # FFD packing of token chunks
    # round-5 additions
    "b05_curate",                   # composed curation DAG end-to-end
    "b06_substring_dedup",          # exact repeated-substring removal
    "b07_ngram_lm",                 # bigram LM fit + perplexity score
    "b08_pq_topk",                  # product-quantized ANN build+query
    "b09_incremental_dedup",        # delta batch vs persisted MinHash store
    "b10_bpe_train_tokenize",       # BPE train (200 merges) + tokenize
    "b11_ivfpq_topk",               # IVF-PQ pruned-scan ANN query
    "b12_fuzzy_join",               # lossless-blocked edit-distance join
    "b13_semantic_dedup",           # k-means-blocked SemDeDup sweep
    "b14_line_dedup",               # corpus-wide exact line dedup
    "b15_unigram_train_tokenize",   # unigram-LM EM train + Viterbi
    "b16_fuzzy_decontam",           # broadcast-banded MinHash sweep
    "b17_dsir_select",              # hashed-n-gram importance resampling
    "b18_image_dedup",              # real BMP decode -> dHash -> dedup
    "b19_content_policy",           # url+wordlist+within-doc dedup sweep
    "b20_subseq_search",            # z-normalized pattern top-k over events
    "b21_event_analytics",          # funnel + retention + transitions
    # round-6 additions
    "b22_rejection_audit",          # kitchen-sink attrition audit
    "b23_multi_decontam",           # 3-suite tagged-gram attribution
    "b24_cluster_mixture",          # topic cells -> profile/keywords/sample
    "b25_paths_and_conversion",     # pathfinder + time-to-convert report
    "b26_main_content",             # jusText-lite boilerplate removal
    # round-7 additions
    "b27_hll_shards",               # mergeable sketch table, delta+rollup
    # round-10 addition
    "b28_semantic_dedup_blocked",   # SemDeDup semantics, SRP-blocked
    # round-12 addition
    "b29_stream_dedup_sink",        # foreachBatch dedup sink, rows/s
]

#: b28's workload knobs, shared by the bench entry AND run_scale's
#: plan-law gate derivation — a retune here moves both together, so
#: the recorded (p, L) plan always describes the workload that was
#: actually timed
B28_EPS = 0.9
B28_TARGET_RECALL = 0.95


def _bench_extra():
    """Bench-only callables for operators outside the graded corpus
    (same (spark, sf_dir) -> DataFrame contract as plans.QUERIES)."""
    from pyspark.sql import functions as F

    def _docs(spark, sf_dir):
        return (spark.read.parquet(f"{sf_dir}/documents.parquet")
                .select("doc_id", "text"))

    def b01_hygiene_sweep(spark, sf_dir):
        from trial_data_ingestion_spark.operators.textstats import (
            hygiene_report,
        )
        return hygiene_report(_docs(spark, sf_dir))

    def b02_decontam_report(spark, sf_dir):
        """Aggregated so bench's .count() cannot prune the matched
        branch: the report's left join has a unique right key, and
        Catalyst's join elimination was silently dropping the entire
        gram-overlap computation from the counted plan (found in
        round 5 — b02 was measuring only the totals projection)."""
        from trial_data_ingestion_spark.operators.decontam import (
            benchmark_gram_table, contamination_report,
        )
        docs = _docs(spark, sf_dir)
        bench_set = docs.where(F.col("doc_id") % 97 == 3)
        rep = contamination_report(docs,
                                   benchmark_gram_table(bench_set))
        return rep.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("matched_grams").alias("total_matched"),
            F.sum(F.when(F.col("is_contaminated"), 1).otherwise(0))
             .alias("n_contaminated"))

    def b03_bm25_index_and_query(spark, sf_dir):
        from trial_data_ingestion_spark.operators.search import (
            bm25_postings, bm25_search, bm25_stats,
        )
        post = bm25_postings(_docs(spark, sf_dir))
        n_docs, avgdl = bm25_stats(post)
        return bm25_search(post, ["hash", "join", "spill", "window"],
                           n_docs, avgdl, k=20)

    def b04_pack_sequences(spark, sf_dir):
        from trial_data_ingestion_spark.operators.packing import (
            pack_sequences, packing_stats,
        )
        from trial_data_ingestion_spark.operators.textstats import (
            token_count,
        )
        chunks = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("string").alias("chunk_id"),
            token_count(F.col("text")).alias("n_tokens"))
        return packing_stats(pack_sequences(chunks, max_tokens=512),
                             max_tokens=512)

    def b05_curate(spark, sf_dir):
        """The composed curation DAG a user actually runs: hygiene
        gates -> exact dedup -> decontamination -> split, end to end
        (plan census pinned in tests/test_curation.py)."""
        from trial_data_ingestion_spark.pipelines.curation import (
            CurationConfig, curate,
        )
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        bench_set = docs.where(F.col("doc_id") % 97 == 3) \
                        .select("doc_id", "text")
        return curate(docs, benchmark=bench_set,
                      config=CurationConfig())

    def b06_substring_dedup(spark, sf_dir):
        """Exact repeated-substring removal (hashed-gram scale path,
        20-token runs): gram explode + skew-proof first-occurrence
        aggregate + span rebuild.  Aggregated so .count() cannot
        prune the rewrite (same lesson as b02)."""
        from trial_data_ingestion_spark.operators.substring_dedup import (
            remove_repeated_substrings,
        )
        out = remove_repeated_substrings(_docs(spark, sf_dir),
                                         "doc_id", "text", n=20)
        return out.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_removed_tokens").alias("tokens_removed"),
            F.sum(F.length("text")).alias("total_chars"))

    def b07_ngram_lm(spark, sf_dir):
        """Bigram LM: fit on the even-id half, score the odd-id half
        (train/apply split keeps it honest), aggregated so .count()
        executes the full scoring plan."""
        from trial_data_ingestion_spark.operators.ngram_lm import (
            fit_ngram_lm, score_perplexity,
        )
        docs = _docs(spark, sf_dir)
        model = fit_ngram_lm(docs.where("doc_id % 2 = 0"),
                             vocab_size=20_000)
        scored = score_perplexity(docs.where("doc_id % 2 = 1"), model)
        return scored.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("perplexity"), 4).alias("mean_ppl"),
            F.sum("n_bigrams").alias("n_bigrams"))

    def b08_pq_topk(spark, sf_dir):
        """Product-quantized ANN end-to-end: train codebooks on a
        bounded sample, encode the corpus (Arrow pass), ADC-scan +
        exact refine for 5 queries."""
        from trial_data_ingestion_spark.operators.quantization import (
            topk_pq, train_pq_codebooks,
        )
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        cb = train_pq_codebooks(emb, dim=64, m=8, k=64,
                                sample_size=2000, iters=10, seed=7)
        qrows = emb.orderBy("vec_id").limit(5).collect()
        queries = spark.createDataFrame(
            [(r["vec_id"], list(r["embedding"])) for r in qrows],
            "query_id bigint, query_vec array<float>")
        return topk_pq(emb, queries, cb, k=10, refine_factor=8)

    _mhidx_cache: dict = {}

    def b09_incremental_dedup(spark, sf_dir):
        """Persisted-MinHash delta dedup: near-dedup the last 20% of
        the corpus against an index of the first 80% — the 100 TB
        delta-ingest shape.  The index is built once per sf (the
        deployment builds once and appends), so the cold pass pays
        the build and steady passes measure the probe+verify."""
        import tempfile

        from trial_data_ingestion_spark.operators.incremental_dedup import (
            dedup_minhash_incremental, write_minhash_index,
        )
        docs = _docs(spark, sf_dir)
        n = docs.count()
        cut = int(n * 0.8)
        path = _mhidx_cache.get(sf_dir)
        if path is None:
            path = tempfile.mkdtemp(prefix="bench_mhidx_") + "/idx"
            write_minhash_index(docs.where(F.col("doc_id") < cut), path)
            _mhidx_cache[sf_dir] = path
        out = dedup_minhash_incremental(
            spark, docs.where(F.col("doc_id") >= cut), path,
            threshold=0.6)
        return out.agg(F.count(F.lit(1)).alias("survivors"),
                       F.sum(F.length("text")).alias("chars"))

    def b10_bpe_train_tokenize(spark, sf_dir):
        """Distributed BPE: word-frequency shuffle + 200 driver
        merges + Arrow tokenize of the whole corpus, aggregated so
        .count() executes the tokenization."""
        from trial_data_ingestion_spark.operators.bpe import (
            tokenize_bpe, train_bpe, word_frequencies,
        )
        docs = _docs(spark, sf_dir)
        model = train_bpe(word_frequencies(docs), num_merges=200,
                          max_words=50_000)
        out = tokenize_bpe(docs, model)
        return out.agg(F.count(F.lit(1)).alias("n_docs"),
                       F.sum("bpe_tokens_count").alias("n_tokens"))

    _ivfpq_cache: dict = {}

    def b11_ivfpq_topk(spark, sf_dir):
        """IVF-PQ query over a persisted index (built once per sf —
        the cold pass pays it): partition-pruned cell scan + ADC over
        8-byte codes + exact refine for 5 queries."""
        import tempfile

        from trial_data_ingestion_spark.operators.quantization import (
            build_ivfpq, topk_ivfpq,
        )
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        path = _ivfpq_cache.get(sf_dir)
        if path is None:
            path = tempfile.mkdtemp(prefix="bench_ivfpq_") + "/idx"
            build_ivfpq(emb, dim=64, path=path, num_cells=16, m=8,
                        k=64, sample_size=2000, seed=7)
            _ivfpq_cache[sf_dir] = path
        qrows = emb.orderBy("vec_id").limit(5).collect()
        queries = spark.createDataFrame(
            [(r["vec_id"], list(r["embedding"])) for r in qrows],
            "query_id bigint, query_vec array<float>")
        return topk_ivfpq(spark, path, queries, k=10, nprobe=6,
                          refine_factor=8)

    def b12_fuzzy_join(spark, sf_dir):
        """Edit-distance join (q57's shape at bench scale): q-gram
        blocked + levenshtein verify over 40-char text prefixes,
        even ids vs odd ids, d <= 3.

        Bare operator call (r13): the r12 entry passed the measured
        optimum q=8 from bench.py — a harness-side knob the r12
        verdict flagged — and the dial now lives in the operator as
        ``q="auto"`` (occupancy-derived from a bounded length
        sample; picks 9 on these 40-char windows, within noise of
        the measured 8/9 plateau and 3.5x+ faster than the old
        constant default 4).  Output pairs are identical at every q
        (lossless blocking; q57's oracle hash is the proof)."""
        from trial_data_ingestion_spark.operators.fuzzy_join import (
            fuzzy_join_pairs,
        )
        d = _docs(spark, sf_dir)
        left = (d.where("doc_id % 2 = 0")
                .select("doc_id", F.substring("text", 1, 40).alias("t")))
        right = (d.where("doc_id % 2 = 1")
                 .select("doc_id", F.substring("text", 1, 40).alias("t")))
        return fuzzy_join_pairs(left, right, "doc_id", "t",
                                "doc_id", "t", max_distance=3)

    _cents_cache: dict = {}

    def b13_semantic_dedup(spark, sf_dir):
        """SemDeDup sweep: broadcast cell assignment, per-cell exact
        cosine pairs, driver components, representative filter.  The
        spherical codebook is trained once per sf (the cold pass pays
        it — a deployment trains once and reuses the artifact, same
        economics as b09/b11's persisted indexes).  Aggregated so
        .count() executes the anti-join."""
        from trial_data_ingestion_spark.operators.semantic_dedup import (
            sampled_kmeans_centroids, semantic_dedup,
        )
        emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
               .select("vec_id", "embedding"))
        rows = _cents_cache.get(sf_dir)
        if rows is None:
            rows = sampled_kmeans_centroids(emb, 64, 16,
                                            seed=7).collect()
            _cents_cache[sf_dir] = rows
        cents = spark.createDataFrame(
            rows, "cell_id int, centroid array<double>")
        out = semantic_dedup(emb, dim=64, eps=0.4, centroids=cents)
        return out.agg(F.count(F.lit(1)).alias("survivors"))

    def b28_semantic_dedup_blocked(spark, sf_dir):
        """SemDeDup semantics on the LSH path (r10): multi-table SRP
        blocking with recall-planned tables instead of centroid
        cells — the scale answer to b13's root-caused n^1.5 lower
        bound (exact assignment), at the classic LSH n^(1+rho) when
        recall is held.  eps 0.9 is the paper's operating regime; at
        this corpus's structure that keeps nearly all rows, so the
        entry measures the blocking+scoring cost — per-table
        candidates occupancy-bounded, tables planned from
        (eps, target recall)."""
        from trial_data_ingestion_spark.operators.semantic_dedup import (
            semantic_dedup_blocked,
        )
        emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
               .select("vec_id", "embedding"))
        out = semantic_dedup_blocked(emb, dim=64, eps=B28_EPS,
                                     target_recall=B28_TARGET_RECALL)
        return out.agg(F.count(F.lit(1)).alias("survivors"))

    _b29_cache: dict = {}

    def b29_stream_dedup_sink(spark, sf_dir):
        """Streaming throughput signal (r11 verdict item 2): the
        foreachBatch MinHash dedup sink (incremental_dedup.
        minhash_dedup_stream_sink — probe index excluding own delta,
        idempotent delta append, exactly-once survivor shards) driven
        end-to-end by a bounded availableNow pass: 80% of the corpus
        pre-indexed once (staged per sf_dir, outside the timer), the
        20% tail replayed as 2 file-source micro-batches.  Each timed
        pass copies the staged base index (fresh state — deltas from
        a prior pass must not change probe decisions) and runs the
        whole stream; rows/s = rows_replayed / recorded sec (the
        result row carries rows_replayed, ~1000 at sf0.1).

        What the number means: at these micro-batch sizes the wall
        is dominated by PER-BATCH FIXED cost (index probe + delta
        append + survivor shard + checkpoint commit, ~8-9 s each
        measured at sf0.1) — the floor a deployment sizes its
        trigger interval against; marginal per-row cost is what b09
        measures.  Two batches keep that signal at half the box tax
        of the initial 4-batch shape (35 s of a ~90 s suite)."""
        import shutil
        import tempfile
        import uuid

        from trial_data_ingestion_spark.operators.incremental_dedup import (
            minhash_dedup_stream_sink, write_minhash_index,
        )
        from trial_data_ingestion_spark.streaming import drain
        from trial_data_ingestion_spark.streaming.documents import (
            read_document_stream,
        )
        staged = _b29_cache.get(sf_dir)
        if staged is None:
            docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
                    .select("doc_id", "text"))
            n = docs.count()
            cut = int(n * 0.8)
            root = tempfile.mkdtemp(prefix="bench_b29_")
            base_idx = f"{root}/base_idx"
            write_minhash_index(docs.where(F.col("doc_id") < cut),
                                base_idx, threshold=0.8)
            src = f"{root}/src"
            tail = docs.where(F.col("doc_id") >= cut)
            for m in range(2):               # 2 files -> 2 batches
                (tail.where(F.col("doc_id") % 2 == m).coalesce(1)
                     .write.mode("append").parquet(src))
            staged = {"root": root, "base_idx": base_idx, "src": src,
                      "tail_rows": tail.count(), "last_run": None}
            _b29_cache[sf_dir] = staged
        if staged["last_run"]:
            shutil.rmtree(staged["last_run"], ignore_errors=True)
        run = f"{staged['root']}/run-{uuid.uuid4().hex[:8]}"
        staged["last_run"] = run
        idx = f"{run}/idx"
        shutil.copytree(staged["base_idx"], idx)
        out_path = f"{run}/out"
        stream = read_document_stream(spark, staged["src"],
                                      schema="doc_id long, text string",
                                      max_files_per_trigger=1)
        q = (stream.writeStream
             .foreachBatch(minhash_dedup_stream_sink(idx, out_path,
                                                     threshold=0.8))
             .option("checkpointLocation", f"{run}/ck")
             .trigger(availableNow=True).start())
        drain(q, n_data_batches=2, timeout=600)
        return (spark.read.parquet(out_path)
                .agg(F.count(F.lit(1)).alias("survivors"),
                     F.lit(staged["tail_rows"]).alias("rows_replayed")))

    def b14_line_dedup(spark, sf_dir):
        """Corpus-wide exact line dedup (q58's shape at bench scale):
        hashed-line scale path over the constructed 3-line corpus.
        Aggregated so .count() cannot prune the rewrite."""
        from trial_data_ingestion_spark.operators.line_dedup import (
            line_dedup,
        )
        d = (_docs(spark, sf_dir)
             .where(F.col("text").isNotNull())
             .select("doc_id",
                     F.concat_ws("\n", "text",
                                 F.substring("text", 1, 60),
                                 "text").alias("text")))
        out = line_dedup(d, min_chars=10, hash_lines=True)
        return out.agg(F.count(F.lit(1)).alias("n_docs"),
                       F.sum("n_removed_lines").alias("lines_removed"),
                       F.sum(F.length("text")).alias("total_chars"))

    def b15_unigram_train_tokenize(spark, sf_dir):
        """Unigram-LM tokenizer end-to-end (b10's sibling family):
        word-frequency shuffle + driver EM/prune + Viterbi Arrow
        tokenize of the whole corpus, aggregated so .count()
        executes the tokenization."""
        from trial_data_ingestion_spark.operators.unigram_lm import (
            tokenize_unigram, train_unigram, word_frequencies,
        )
        docs = _docs(spark, sf_dir)
        model = train_unigram(word_frequencies(docs), vocab_size=500,
                              max_piece_len=8, max_words=50_000)
        out = tokenize_unigram(docs, model)
        return out.agg(F.count(F.lit(1)).alias("n_docs"),
                       F.sum("unigram_tokens_count").alias("n_tokens"))

    _b16_cache: dict = {}

    def b16_fuzzy_decontam(spark, sf_dir):
        """Fuzzy decontamination sweep against a persisted corpus
        signature index: the benchmark's broadcast bands probe the
        stored corpus bands partition-pruned (b09's economics — a
        deployment sweeps ONE corpus against many benchmarks, so the
        corpus signature pass is a build-once artifact, not a
        per-sweep cost).  The index is built once per sf in the cold
        pass (r13; like b09/b11/b13's staged artifacts); steady
        passes measure the probe + exact verify + anti-join, which
        is the recurring cost a release pipeline pays.  Results are
        identical to the direct sweep (parity pinned in
        tests/test_fuzzy_decontam.py; r13 A/B at sf0.1: direct
        4.47 s vs probe 3.49 s med, same survivors).  Aggregated so
        .count() executes the removal."""
        import tempfile

        from trial_data_ingestion_spark.operators.decontam import (
            decontaminate_fuzzy,
        )
        from trial_data_ingestion_spark.operators.incremental_dedup \
            import write_minhash_index
        docs = _docs(spark, sf_dir)
        bench = docs.where("doc_id % 100 = 7").select("text")
        path = _b16_cache.get(sf_dir)
        if path is None:
            path = tempfile.mkdtemp(prefix="bench_b16idx_") + "/idx"
            write_minhash_index(docs, path, k=8, num_hashes=64,
                                bands=16)
            _b16_cache[sf_dir] = path
        out = decontaminate_fuzzy(docs, bench, threshold=0.8,
                                  corpus_index=path)
        return out.agg(F.count(F.lit(1)).alias("survivors"),
                       F.sum(F.length("text")).alias("chars"))

    def b17_dsir_select(spark, sf_dir):
        """DSIR data selection end-to-end: fit hashed-n-gram
        importance ratios (target = one source slice vs the whole
        pool), score every doc, Gumbel-top-k select 10%.  The model
        is <=10k rows (broadcast); the corpus sees one narrow gram
        explode + one per-doc sum."""
        from trial_data_ingestion_spark.operators.dsir import (
            dsir_select, fit_dsir,
        )
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        target = docs.where("doc_id % 20 = 3").select("text")
        model = fit_dsir(target, docs.select("text"))
        k = max(1, docs.count() // 10)
        return dsir_select(docs, model, k=k)

    def b18_image_dedup(spark, sf_dir):
        """Perceptual image dedup end-to-end on REAL bytes: a
        deterministic 16x16 BMP per document (every 10th doc is a
        one-pixel tweak of its neighbor's image — a planted near-dup),
        stdlib decode -> dHash kernel, lossless pigeonhole pairing,
        component dedup.  Measures the decode+hash Arrow kernel and
        the band join, the two costs of image dedup at scale."""
        import numpy as _np
        import pandas as _pd

        from trial_data_ingestion_spark.multimodal.codecs import (
            encode_bmp,
        )
        from trial_data_ingestion_spark.multimodal.phash import (
            dedup_images, image_hasher,
        )

        def synth(batches):
            def pixels(seed):
                # full-rank randomness per image: a row-repeating
                # pattern would collapse dHash to 8 effective bits
                # and cluster the whole corpus
                a = _np.random.RandomState(seed & 0x7FFFFFFF) \
                    .randint(0, 256, (16, 16)).astype(_np.uint8)
                return _np.stack([a] * 3, axis=-1)
            for pdf in batches:
                payloads = []
                for did in pdf["doc_id"]:
                    base = pixels(int(did) - (1 if did % 10 == 0 else 0))
                    if did % 10 == 0:
                        base = base.copy()
                        base[0, 0] = 255 - base[0, 0]
                    payloads.append(bytearray(encode_bmp(base)))
                yield _pd.DataFrame({
                    "media_id": pdf["doc_id"].astype(str),
                    "media": payloads})

        media = (_docs(spark, sf_dir).select("doc_id")
                 .mapInPandas(synth, "media_id string, media binary"))
        out = dedup_images(media, image_hasher, max_hamming=4)
        return out.agg(F.count(F.lit(1)).alias("survivors"))

    def b19_content_policy(spark, sf_dir):
        """The content-policy tier as one composed narrow sweep: a
        synthesized URL column -> RefinedWeb URL filter -> C4 blocked-
        word flags -> within-doc repeated-line removal, aggregated so
        .count() executes the full rewrite.  Everything is codegen —
        the entry pins the cost of the zero-shuffle policy pass."""
        from trial_data_ingestion_spark.operators.line_dedup import (
            dedup_lines_within_doc,
        )
        from trial_data_ingestion_spark.operators.url_filter import (
            filter_urls,
        )
        from trial_data_ingestion_spark.operators.wordlists import (
            flag_blocked_content,
        )
        docs = (_docs(spark, sf_dir)
                .withColumn("url", F.concat(
                    F.lit("https://s"),
                    (F.col("doc_id") % 13).cast("string"),
                    F.lit("-ex.com/p"),
                    F.col("doc_id").cast("string"))))
        out = dedup_lines_within_doc(
            flag_blocked_content(
                filter_urls(docs, blocked_domains=["s7-ex.com"]))
            .where("url_keep AND content_keep"))
        return out.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_removed_lines_doc").alias("lines_removed"),
            F.sum(F.length("text")).alias("chars"))

    def b20_subseq_search(spark, sf_dir):
        """Time-series subsequence search end-to-end: per-user series
        assembly (one keyed shuffle) + rolling-moment distance
        profiles in the Arrow grouped kernel + global top-k."""
        from trial_data_ingestion_spark.operators.timeseries import (
            subsequence_topk,
        )
        from trial_data_ingestion_spark.plans.library import _events
        return subsequence_topk(
            _events(spark, sf_dir),
            [0.0, 1.0, 2.0, 1.0, 0.0, -1.0, -2.0, -1.0], k=10)

    def b21_event_analytics(spark, sf_dir):
        """The product-analytics triple over the events table: a
        4-step windowed funnel, weekly cohort retention, and the
        next-event transition matrix — three one-corpus-shuffle
        queries unioned into one summary frame."""
        from trial_data_ingestion_spark.operators.funnels import (
            funnel_counts, next_event_transitions, retention_cohorts,
        )
        from trial_data_ingestion_spark.plans.library import _events
        ev = _events(spark, sf_dir)
        fun = (funnel_counts(
                   ev, ["signup", "view", "click", "purchase"],
                   within_seconds=7 * 24 * 3600.0)
               .select(F.lit("funnel").alias("q"),
                       F.col("step").alias("k"),
                       F.col("n_users").cast("double").alias("v")))
        ret = (retention_cohorts(ev, granularity="week")
               .groupBy("period_index")
               .agg(F.round(F.avg("retention"), 6).alias("v"))
               .select(F.lit("retention").alias("q"),
                       F.col("period_index").cast("string").alias("k"),
                       "v"))
        tr = (next_event_transitions(ev)
              .select(F.lit("transition").alias("q"),
                      F.concat_ws(">", "from_event", "to_event")
                      .alias("k"),
                      F.col("prob").alias("v")))
        return fun.unionByName(ret).unionByName(tr)

    def b22_rejection_audit(spark, sf_dir):
        """The release-pipeline audit pair over the kitchen-sink
        curation config (url filter + gopher + line dedup +
        decontam): curation_funnel's stage-ordered attrition table —
        which runs the full rejection_audit underneath — evaluated on
        every input document (plan census pinned in
        tests/test_curation.py)."""
        from trial_data_ingestion_spark.operators.gopher_rules import (
            GopherThresholds,
        )
        from trial_data_ingestion_spark.pipelines.curation import (
            CurationConfig, curation_funnel,
        )
        docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
                .withColumn("url", F.concat(
                    F.lit("https://s"),
                    (F.col("doc_id") % 7).cast("string"),
                    F.lit("-ex.com/p"),
                    F.col("doc_id").cast("string"))))
        bench_set = docs.where(F.col("doc_id") % 97 == 3) \
                        .select("doc_id", "text")
        cfg = CurationConfig(
            url_col="url", line_dedup_min_chars=12,
            gopher=GopherThresholds(min_words=10,
                                    min_stopword_hits=1))
        return curation_funnel(docs, benchmark=bench_set, config=cfg,
                               url_blocklist=["s3-ex.com"])

    def b23_multi_decontam(spark, sf_dir):
        """Per-suite contamination attribution across three benchmark
        slices in ONE corpus gram pass (tagged broadcast union) —
        aggregated so .count() executes the matched-gram computation
        (b02's lesson)."""
        from trial_data_ingestion_spark.operators.decontam import (
            multi_benchmark_contamination,
        )
        docs = _docs(spark, sf_dir)
        marks = {f"suite{i}": docs.where(F.col("doc_id") % 97 == i)
                 .select("doc_id", "text") for i in (3, 11, 29)}
        att = multi_benchmark_contamination(docs, marks, n=8)
        return att.groupBy("benchmark").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("matched_grams").alias("total_matched"))

    def b24_cluster_mixture(spark, sf_dir):
        """Embedding-space topic pipeline end to end: bounded-sample
        Lloyd codebook -> broadcast cell assignment -> per-cell
        profile + keyword lift + D4 prototypicality pruning +
        temperature-balanced sample, collapsed into one summary row
        so .count() executes every branch.  The assignment is
        persisted: it feeds four consumers and the crossJoin+argmax
        subtree would otherwise run four times."""
        from trial_data_ingestion_spark.operators.clustering import (
            cluster_balanced_sample, cluster_documents,
            cluster_keywords, cluster_profile, prune_prototypicality,
        )
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
            .select(F.col("doc_id").alias("vec_id"), "text")
        # r13: cluster_documents' kernel is now a pandas_udf over the
        # vector column alone, so a text payload joined BEFORE
        # assignment no longer crosses the Python boundary (the r12
        # boundary workaround is gone from the operator).  The entry
        # still assigns on vectors and joins text into the one branch
        # that reads it — but for a different, measured reason:
        # persisting the assignment WITH the 2 KB/row payload for
        # four consumers that never read it is cache pressure, not
        # boundary cost (guide §5; interleaved A/B at sf0.1: natural
        # call 3.40 s vs narrow persist 3.16 s, identical results)
        assigned = cluster_documents(
            emb, dim=64, num_clusters=16).persist()
        prof = cluster_profile(assigned).agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("n_docs").alias("n_assigned"))
        kw = cluster_keywords(assigned.join(docs, "vec_id"),
                              text_col="text", top_k=10) \
            .agg(F.count(F.lit(1)).alias("n_keywords"))
        pruned = prune_prototypicality(assigned, drop_low_frac=0.05,
                                       drop_high_frac=0.05)
        samp = cluster_balanced_sample(pruned, key_col="vec_id",
                                       alpha=0.5) \
            .agg(F.count(F.lit(1)).alias("n_sampled"))
        return prof.crossJoin(kw).crossJoin(samp)

    def b25_paths_and_conversion(spark, sf_dir):
        """Event-sequence extensions beyond b21's triple: pathfinder
        top-k opening paths + the time-to-convert exact-percentile
        report, collapsed to one counted row."""
        from trial_data_ingestion_spark.operators.funnels import (
            funnel_conversion_report, top_event_paths,
        )
        from trial_data_ingestion_spark.plans.library import _events
        ev = _events(spark, sf_dir)
        paths = top_event_paths(ev, max_steps=3, k=20).agg(
            F.count(F.lit(1)).alias("n_paths"),
            F.sum("n_users").alias("path_users"))
        conv = funnel_conversion_report(
            ev, ["signup", "view", "click", "purchase"],
            within_seconds=3 * 24 * 3600.0)
        return paths.crossJoin(conv)

    def b26_main_content(spark, sf_dir):
        """jusText-lite extraction over q64-style synthetic pages
        (nav + link list + footer around each document), aggregated
        so .count() executes the kernel on every row."""
        from trial_data_ingestion_spark.functions.html_text import (
            html_to_main_text,
        )
        from trial_data_ingestion_spark.session import (
            ensure_parallelism,
        )
        d = ensure_parallelism(_docs(spark, sf_dir))
        pages = d.select("doc_id", F.concat(
            F.lit("<html><head><title>D</title></head><body>"
                  "<nav>home | topics | about</nav>"
                  "<div><a href='/a'>rel one</a> "
                  "<a href='/b'>rel two</a></div><p>"),
            F.col("text"),
            F.lit("</p><footer>corpus archive footer</footer>"
                  "</body></html>")).alias("html"))
        out = html_to_main_text(pages, stopword_lang="en",
                                min_stopword_density=0.0)
        return out.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept_blocks").alias("kept"),
            F.sum("total_blocks").alias("total"),
            (F.floor(F.avg("removed_char_frac") * 1_000_000 + 0.5)
             / 1_000_000).alias("avg_removed_frac"))

    _hll_cache: dict = {}

    def b27_hll_shards(spark, sf_dir):
        """Mergeable HLL sketch table, delta economics (b09's shape):
        the historical shards are sketched once per sf (cold pass),
        each steady pass pays ONE delta shard sketch + the all-time
        per-type rollup off the few-KB sketch table — the no-rescan
        distinct-count maintenance path."""
        import tempfile

        from trial_data_ingestion_spark.operators.sketches import (
            merged_distinct, write_hll_shard,
        )
        from trial_data_ingestion_spark.plans.library import _events
        ev = _events(spark, sf_dir).select(
            "user_id", "event_type", (F.dayofyear("ts") % 4).alias("s"))
        path = _hll_cache.get(sf_dir)
        if path is None:
            path = tempfile.mkdtemp(prefix="bench_hll_") + "/idx"
            for s in range(3):
                write_hll_shard(ev.where(F.col("s") == s), path,
                                ["event_type"], "user_id", f"s{s}")
            _hll_cache[sf_dir] = path
        # the delta: shard 3 re-sketched each pass (idempotent
        # partition overwrite), then the all-time rollup
        write_hll_shard(ev.where(F.col("s") == 3), path,
                        ["event_type"], "user_id", "s3")
        return merged_distinct(spark, path, ["event_type"])

    # retired from the graded corpus in round 5 but kept in the bench
    # series so their timing history continues; resolved through the
    # RETIRED_QUERIES registry so a future retirement can't silently
    # break the bench (q02 did exactly that when it was retired after
    # this list was last hand-edited)
    from trial_data_ingestion_spark.plans import RETIRED_QUERIES
    retired_bench = {
        name: RETIRED_QUERIES[name]
        for name in ("q02_revenue_by_segment",
                     "q05_top_orders_per_customer",
                     "q12_running_window",
                     "q14_doc_stats_by_source")
    }

    return {**retired_bench,
            **{f.__name__: f for f in
               (b01_hygiene_sweep, b02_decontam_report,
                b03_bm25_index_and_query, b04_pack_sequences,
                b05_curate, b06_substring_dedup, b07_ngram_lm,
                b08_pq_topk, b09_incremental_dedup,
                b10_bpe_train_tokenize, b11_ivfpq_topk,
                b12_fuzzy_join, b13_semantic_dedup, b14_line_dedup,
                b15_unigram_train_tokenize, b16_fuzzy_decontam,
                b17_dsir_select, b18_image_dedup,
                b19_content_policy, b20_subseq_search,
                b21_event_analytics, b22_rejection_audit,
                b23_multi_decontam, b24_cluster_mixture,
                b25_paths_and_conversion, b26_main_content,
                b27_hll_shards, b28_semantic_dedup_blocked,
                b29_stream_dedup_sink)}}

STEADY_PASSES = 3

# --- machine-speed calibration probes ----------------------------------
#: rows of the fixed synthetic CPU-bound calibration workload; sized so
#: the entry lands ~0.8 s on the reference machine — long enough to
#: swamp scheduling jitter, short enough to not tax the suite
CALIBRATION_ROWS = 1_024_000_000
#: tasks: 4x the core count, so one straggler costs 1/128th of the
#: wall instead of extending it (32 tasks on 32 threads measured ~18%
#: cross-session spread; 128 tasks ~9%)
CALIBRATION_TASKS = 128
#: bump when the calibration WORKLOAD changes: the yardstick's scale
#: changes with it, so a v-N value must never be compared with a v-M
#: record (a 512M-row v1 value against a 1024M-row v2 record would
#: read as a 1.7x machine-speed shift).  Records carry
#: calibration_version.
CALIBRATION_VERSION = 2


def _calibration_sec(spark) -> float:
    """Fixed synthetic CPU-bound entry: hash-and-count over a range,
    no IO, no shuffle beyond the final partial-agg gather — measures
    raw machine throughput under the same JVM the bench entries run
    in.  MIN of 5 after two warm-up passes: the minimum estimates
    machine capacity, and a genuinely loaded machine inflates every
    sample, minimum included.  Measured cross-session spread ~9%."""
    def one() -> float:
        t0 = time.perf_counter()
        spark.range(0, CALIBRATION_ROWS, 1,
                    CALIBRATION_TASKS).selectExpr(
            "count_if(pmod(xxhash64(id), 97) = 0) AS n").collect()
        return time.perf_counter() - t0

    one()
    one()
    return round(min(one() for _ in range(5)), 3)


#: rows of the ALLOCATION/SHUFFLE-bound calibration workload: md5
#: strings shuffled at full cardinality and hash-aggregated — the
#: resource profile of the shingle/fuzzy family (explode -> per-
#: shingle hash -> groupBy), which the CPU probe does not track.
#: Machine classes differ in memory/alloc throughput at equal ALU
#: throughput (one measured the shingle family 1.5x slower while its
#: CPU probe read faster), so a drift correction needs both axes.
CALIBRATION_MEM_ROWS = 4_000_000
#: bump when the mem-calibration WORKLOAD changes (same contract as
#: CALIBRATION_VERSION)
CALIBRATION_MEM_VERSION = 1


def _calibration_mem_sec(spark) -> float:
    """Fixed allocation/shuffle-bound probe: md5 of each id (string
    allocation), groupBy on the full-cardinality digest (a real
    shuffle of every row — no map-side combine escape), hash-agg of
    4M distinct groups.  MIN of 5 after two warm-ups, like the CPU
    probe; measured cross-session spread ~10-15%."""
    def one() -> float:
        t0 = time.perf_counter()
        (spark.range(0, CALIBRATION_MEM_ROWS, 1, CALIBRATION_TASKS)
              .selectExpr("md5(cast(id AS string)) AS s")
              .groupBy("s").count().count())
        return time.perf_counter() - t0

    one()
    one()
    return round(min(one() for _ in range(5)), 3)


_ROUND_RE = re.compile(r"BENCH(?:_LOCAL)?_r0*(\d+)\.json$")


def _is_git_tracked(path: str) -> bool:
    """True iff *path* is tracked by git (committed local bench records
    must never be overwritten — see the BENCH_LOCAL writer below)."""
    import subprocess
    try:
        rc = subprocess.run(
            ["git", "ls-files", "--error-unmatch", os.path.basename(path)],
            cwd=os.path.dirname(os.path.abspath(path)),
            capture_output=True, timeout=10).returncode
        return rc == 0
    except Exception:
        # git missing/broken: be conservative, treat as tracked so an
        # existing file is never clobbered.
        return True


#: budget for the one stdout JSON line: a caller that keeps only a
#: 2000-char TAIL of stdout must still get the line whole (the full
#: record, ~4 KB with cold passes, once truncated to an unparseable
#: tail); a 100-char margin covers trailing log noise after the line
COMPACT_LINE_BUDGET = 1900


def _compact_line(out: dict) -> str:
    """The one stdout JSON line, sized to fit a 2000-char tail whole:
    the total, the steady per-entry medians and both calibration
    probes with their versions (what a reader needs to drift-correct
    a run by machine speed); the full record lives in
    BENCH_LOCAL_r{NN}.json.  If the suite ever grows past the budget,
    per-entry detail is dropped rather than overflowing (the line
    stays parseable; the BENCH_LOCAL file keeps the detail)."""
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "sf": out["sf"],
        "calibration_sec": out["calibration_sec"],
        "calibration_version": out["calibration_version"],
        "calibration_mem_sec": out["calibration_mem_sec"],
        "calibration_mem_version": out["calibration_mem_version"],
        "queries": out["queries"],
        "steady_passes": out["steady_passes"],
        "cold_total_sec": out["cold_total_sec"],
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > COMPACT_LINE_BUDGET:
        compact.pop("queries")
        compact["queries_in"] = "BENCH_LOCAL record (line overflow)"
        line = json.dumps(compact, separators=(",", ":"))
    return line


def main(only: str | None = None) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from trial_data_ingestion_spark.plans import QUERIES as _GRADED
    from trial_data_ingestion_spark.session import get_spark

    QUERIES = {**_GRADED, **_bench_extra()}

    # `--only q19_minhash_dedup,b17_dsir_select`: time a subset
    # without paying the whole suite (no record is written for it)
    headline = HEADLINE
    if only is not None:
        wanted = set(only.split(","))
        unknown = wanted - set(HEADLINE)
        if unknown:
            raise SystemExit(f"--only: not in HEADLINE: {sorted(unknown)}")
        headline = [n for n in HEADLINE if n in wanted]

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    # JIT/IO warm-up on a cheap query so steady-state numbers are
    # representative of a long-lived cluster.
    QUERIES["q01_pricing_summary"](spark, sf_dir).count()

    # the machine-speed probes run FIRST (quiet JVM, no cache pressure
    # from the suite) and again after the steady passes
    calibration_start = _calibration_sec(spark)
    calibration_mem_start = _calibration_mem_sec(spark)

    cold: dict[str, float] = {}
    for name in headline:
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).count()
        cold[name] = round(time.perf_counter() - t0, 3)

    samples: dict[str, list[float]] = {n: [] for n in headline}
    for _ in range(STEADY_PASSES):
        for name in headline:
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).count()
            samples[name].append(time.perf_counter() - t0)
    steady = {n: round(statistics.median(s), 3)
              for n, s in samples.items()}

    # second probe sample AFTER the steady passes: the record keeps
    # min(start, end) — machine capacity — and both samples, so a
    # reader can tell start-of-run load from mid-run load
    calibration_end = _calibration_sec(spark)
    calibration_mem_end = _calibration_mem_sec(spark)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline-query steady-state wall time "
                  f"(median of {STEADY_PASSES}), local[" +
                  os.environ.get("SPARK_GRAFT_CPUS", "32") + "]",
        "value": round(sum(steady.values()), 3),
        "unit": "sec",
        "queries": steady,
        "calibration_sec": min(calibration_start, calibration_end),
        "calibration_start_sec": calibration_start,
        "calibration_end_sec": calibration_end,
        "calibration_version": CALIBRATION_VERSION,
        "calibration_mem_sec": min(calibration_mem_start,
                                   calibration_mem_end),
        "calibration_mem_start_sec": calibration_mem_start,
        "calibration_mem_end_sec": calibration_mem_end,
        "calibration_mem_version": CALIBRATION_MEM_VERSION,
        "steady_passes": STEADY_PASSES,
        "cold_total_sec": round(sum(cold.values()), 3),
        "queries_cold": cold,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # ALSO persist the full record: stdout carries only the compact
    # line.  Full-suite sf0.1 runs write BENCH_LOCAL_r{NN}.json (NN =
    # next round after the newest BENCH_r*.json); --only runs skip
    # the write so a partial subset never sits beside full records.
    # NEVER overwrite a git-tracked record (a run once clobbered a
    # committed BENCH_LOCAL_r06.json this way): a tracked collision
    # bumps NN to the next free slot instead.
    if headline == HEADLINE and sf_dir.rstrip("/").endswith("sf0.1"):
        here = os.path.dirname(os.path.abspath(__file__))
        driver_rounds = [int(m.group(1)) for p in
                         glob.glob(os.path.join(here, "BENCH_r[0-9]*.json"))
                         if (m := _ROUND_RE.search(os.path.basename(p)))]
        nn = max(driver_rounds, default=0) + 1
        local_path = os.path.join(here, f"BENCH_LOCAL_r{nn:02d}.json")
        while os.path.exists(local_path) and _is_git_tracked(local_path):
            nn += 1
            local_path = os.path.join(here, f"BENCH_LOCAL_r{nn:02d}.json")
        with open(local_path, "w") as f:
            json.dump(out, f, indent=2)
            f.write("\n")
        print(f"wrote {local_path}", file=sys.stderr)
    print(_compact_line(out))


# ===========================================================================
# Scale-tier bench (round-7 verdict item 1): measure the heavy entries
# at 10x the bench corpus and gate on near-linear scaling, so the
# 100 TB claims in README's design review are MEASURED, not argued
# from plan shape.
# ===========================================================================

#: the entries worth a scale tier: every one is a documents/embeddings
#: pipeline whose 100 TB story the verdicts graded from plan shape
SCALE_ENTRIES = [
    "b05_curate",
    "b09_incremental_dedup",
    "b11_ivfpq_topk",
    "b12_fuzzy_join",
    "b13_semantic_dedup",
    "b16_fuzzy_decontam",
    "b22_rejection_audit",
    "b28_semantic_dedup_blocked",
    "q19_minhash_dedup",
    "q48_embedding_dups_blocked",
]
#: second decade: re-measured at 100x (500k docs / 200k vectors) —
#: two decades of measured trend beat one.  r8 extended the tier from
#: the dedup family to b09 (the incremental probe) and b22 (the audit
#: spine) — the two steady-cost-dominant entries — plus b05's
#: curation sweep.  b12_fuzzy_join joined in r9: through r8 the scale
#: generator's non-dup invariant ("across replicas long words
#: disagree") did not survive b12's 40-char prefix projection — docs
#: whose first 40 chars held no >=5-char word kept byte-equal
#: prefixes across ALL replicas, forming 100-member distance-0
#: cliques whose TRUE join output grows quadratically in the factor
#: (input degeneracy, not plan cost; the 100x run filled the disk
#: with shuffle spill).  r9 scales b12 over documents_rot.parquet —
#: per-replica character permutations (_scaled_documents_rot), the
#: bijection that preserves within-replica edit distances exactly
#: while cross-replica windows share no positional q-gram — so b12
#: is measurable at 100x like its siblings.
#: r10 adds b11 (the #1 cold entry) and b13 (top-5 steady) — the two
#: heavy entries with no measured decade (r9 verdict item 3) — and
#: b09 gains an index-side auto-banding override (item 4: its 0.64
#: exponent at 100x was the probe's candidate volume inheriting the
#: fixed-banding birthday term).
SCALE_ENTRIES_X100 = [
    "b05_curate",
    "b09_incremental_dedup",
    "b11_ivfpq_topk",
    "b12_fuzzy_join",
    "b13_semantic_dedup",
    "b16_fuzzy_decontam",
    "b22_rejection_audit",
    "b28_semantic_dedup_blocked",
    "q19_minhash_dedup",
    "q48_embedding_dups_blocked",
]
#: third decade (r10 verdict item 5): the dedup family's watch items
#: — b09's num_hashes='auto' index banding (exponent 0.49 at 100x)
#: and the q19/q48 occupancy knobs (auto_banding / srp_auto_planes)
#: — re-verified one more half-decade out (300x = 1.5M docs / 600k
#: vectors), re-planned per decade the way a deployment would.
#: r11 verdict item 3 extended the tier to the remaining
#: scale-sensitive entries (b05/b11/b16/b22, healthy 100x exponents
#: 0.52/0.08/0.36/0.41).  Item 5 asked for b13's 300x point: the
#: first attempts OOM'd the 8 GB local driver during the warm-up
#: pass — r12 root-caused and removed BOTH memory walls (the
#: per-cell pair materialization via the per-cell BLAS kernel, then
#: the n*cells crossJoin+window assignment explode via assign_cells'
#: BLAS argmin past 256 cells — 2.9B exploded rows at 600k vectors x
#: 4800 cells became one chunked matmul), so b13 joined this tier
#: with a measured point (113.2 s scaled wall at 300x, ratio 57.0 —
#: BENCH_SCALE.json) under its law-derived 1.2*factor^1.5 gate.
#: Details in scale_knobs.
#: b12 is deliberately NOT in the 300x tier: its gram-length dial
#: SATURATES there — lossless positional blocking needs
#: (d+1)*q <= 40 (the fixed comparison window), capping q at 10 for
#: d=3, and a 300x attempt at q=10 left two hot-gram straggler tasks
#: pinned for 50+ minutes (the same birthday cliff the dial exists
#: to control, now uncontrollable within the window).  That is an
#: OPERATING BOUNDARY of the blocking family, recorded in
#: scale_knobs: past ~100x at this window/distance, edit-distance
#: joins need a different blocking (longer windows, or deletion-
#: neighborhood keys), not a bigger q.
#: b05/b11/b16/b22 join this tier only WITH their measured record:
#: the r12 pre-stop session added the names before running the tier
#: and the registry test rightly failed on the coverage gap; the
#: end-of-round r12 tier re-run (shipped code: b13 pair kernel, b12
#: q=8, b09 auto buckets, keyed kernel fan-out) measured them and
#: they entered together with their record.
SCALE_ENTRIES_X300 = [
    "b05_curate",
    "b09_incremental_dedup",
    "b11_ivfpq_topk",
    "b13_semantic_dedup",
    "b16_fuzzy_decontam",
    "b22_rejection_audit",
    "b28_semantic_dedup_blocked",
    "q19_minhash_dedup",
    "q48_embedding_dups_blocked",
]
#: per-entry wall-time ratio gates: near-linear work with fixed local
#: parallelism lands near the factor; a quadratic blowup or skew
#: cliff shows up as ~factor^2.  The gate allows 1.2x of linear for
#: fixed per-job overhead.  Entries whose cost law is sub-quadratic
#: but NOT linear (b28: LSH n^(1+rho) — holding recall at eps makes
#: the table count L grow with the plane count) carry a
#: ``gate_ratio_override`` computed per tier from the planned
#: per-row work (each of the L tables hashes p sign-dots per row):
#: wall ~ n * L(n) * p(n), so
#: gate = 1.2 * factor * (L*p)_scaled/(L*p)_base.
SCALE_TIERS = {10: (SCALE_ENTRIES, 12.0),
               100: (SCALE_ENTRIES_X100, 120.0),
               300: (SCALE_ENTRIES_X300, 360.0)}
SCALE_FACTOR = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "10"))


#: bump when the scaled-corpus DEFINITION changes: make_scaled_dir's
#: idempotency marker records it, so a stale /tmp corpus from an older
#: generator regenerates instead of silently feeding the tiers
SCALE_GEN_VERSION = 3


def _scaled_documents(docs, factor):
    """factor-x documents: every original doc appears once per
    replica with a rep-digit suffixed onto words of length >= 5.

    Invariants the suffix rule preserves (each load-bearing for a
    FAIR scale measurement — the corpus must grow without changing
    its statistical character):
      * within one replica the mapping is a bijective word
        substitution, so planted near-dup pairs keep their Jaccard
        and edit-distance relationships (dup structure replicates
        linearly);
      * ACROSS replicas long words disagree, so a doc and its
        replicas are NOT near-dups (chargram Jaccard ~0.4 < every
        threshold in use) — otherwise candidate pairs would grow
        quadratically for data reasons, not plan reasons;
      * words shorter than 5 chars (the stopwords LID and the
        quality score key on) are untouched, and the LID kernel
        strips non-letters anyway, so lang/quality distributions
        carry over and curation-stage populations scale ~linearly.
    Replica 0 is the original corpus byte-for-byte.

    NOT preserved: sub-window edit-distance separation — docs whose
    40-char prefix holds no >=5-char word keep byte-equal prefixes
    across replicas, so an edit-distance operator projecting short
    windows (b12) sees distance-0 replica cliques and its TRUE output
    grows quadratically in the factor.  Gen 2 tried a constant
    per-replica prefix tag; that removed the cliques but was itself a
    replica-wide HOT POSITIONAL GRAM (every doc of a replica carrying
    identical leading grams at identical positions), blowing up the
    blocking join's collision volume quadratically instead.  The
    edit-distance entries scale via :func:`_scaled_documents_rot`."""
    from pyspark.sql import functions as F
    reps = docs.sparkSession.range(factor) \
        .select(F.col("id").cast("int").alias("rep"))
    words = F.split(F.col("text"), r"\s+")
    mutated = F.when(F.col("rep") == 0, F.col("text")).otherwise(
        F.array_join(
            F.transform(
                words,
                lambda w: F.when(F.length(w) >= 5,
                                 F.concat(w, F.col("rep").cast("string")))
                           .otherwise(w)), " "))
    return (docs.crossJoin(F.broadcast(reps))
            .select((F.col("doc_id") * factor + F.col("rep"))
                    .alias("doc_id"),
                    mutated.alias("text"), "lang", "source")
            .withColumn("n_chars", F.length("text")))


def _rot_tables(factor: int) -> list:
    """Per-replica ``str.translate`` tables: a seeded random
    permutation of a-z (mirrored onto A-Z) and of 0-9 per replica;
    replica 0 is the identity.  A character bijection is THE
    structure-preserving transform for edit-distance/shingle
    operators: within a replica every pairwise Levenshtein distance
    and every shingle-set Jaccard is preserved EXACTLY, while two
    different permutations agree on ~1 letter in 26, so ACROSS
    replicas no q-gram (and no 8-char shingle) survives — candidate
    volume cannot grow for data reasons.

    SCOPE: the permutation covers ASCII a-z/A-Z/0-9 only.
    Whitespace, punctuation, and non-ASCII letters pass through
    identically in every replica, so the no-shared-cross-replica-gram
    invariant holds only for corpora whose q-length windows are
    dominated by ASCII alphanumerics (true of the English testdata
    corpus — pinned empirically by test_scale_generator.py's
    test_rot_cross_replica_windows_are_far).  A punctuation-heavy or
    CJK corpus would need the
    table extended to the characters actually observed (permute every
    codepoint above a frequency floor); left unextended here because
    the generator's ONLY consumer is the scale tier over the English
    sf corpus."""
    import random
    import string

    lower, digits = string.ascii_lowercase, string.digits
    tables: list = [None]                    # rep 0: identity
    for r in range(1, factor):
        rng = random.Random(1_000_003 * r + 11)
        lp = list(lower)
        rng.shuffle(lp)
        dp = list(digits)
        rng.shuffle(dp)
        src = lower + lower.upper() + digits
        dst = "".join(lp) + "".join(lp).upper() + "".join(dp)
        tables.append(str.maketrans(src, dst))
    return tables


def _scaled_documents_rot(docs, factor):
    """factor-x documents for the EDIT-DISTANCE entries (b12): each
    replica applies a seeded character permutation
    (:func:`_rot_tables`) to every text.

    Contrast with :func:`_scaled_documents` (which preserves
    lang/quality distributions but not sub-window edit separation):
    the permutation destroys LID/stopword statistics — rotated text
    is not English — but preserves the edit-distance structure
    PERFECTLY, which is the invariant a fuzzy-join measurement needs.
    Ids use ``orig + rep * stride`` (stride = max id + 1, rounded up
    to even) so ``doc_id`` PARITY — b12's left/right split — equals
    the original doc's parity in every replica: each replica
    reproduces exactly replica 0's true pairs (true output = factor x
    base), and same-doc cross-replica pairs land on the same side
    where the join never compares them, with cross-side candidates
    killed by the permutation.  Replica 0 is the original corpus
    byte-for-byte."""
    from pyspark.sql import functions as F

    spark = docs.sparkSession
    mx = docs.agg(F.max("doc_id")).first()[0]
    stride = int(mx) + 1
    stride += stride % 2
    tables = _rot_tables(factor)
    reps = spark.range(factor).select(F.col("id").cast("int")
                                      .alias("rep"))

    def rot(it):
        import pandas as pd
        for pdf in it:
            rep = pdf["rep"].to_numpy()
            texts = pdf["text"].tolist()
            out = [t if r == 0 else t.translate(tables[int(r)])
                   for t, r in zip(texts, rep)]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].to_numpy()
                + rep.astype("int64") * stride,
                "text": out,
                "lang": pdf["lang"],
                "source": pdf["source"],
                "n_chars": pdf["n_chars"]})

    return (docs.crossJoin(F.broadcast(reps))
            .mapInPandas(rot, "doc_id long, text string, lang string, "
                              "source string, n_chars long"))


def _scaled_embeddings(emb, factor, dim=64):
    """factor-x embeddings: replica r applies a seeded random
    ROTATION Q_r to every vector.  Rotations preserve all within-
    replica pairwise cosines exactly (the planted near-dup clusters
    replicate linearly) while cross-replica cosines drop to ~0 (two
    independent rotations of the sphere decorrelate), so candidate
    growth stays linear.  Replica 0 is the identity."""
    from pyspark.sql import functions as F
    import numpy as np

    mats = [np.eye(dim, dtype=np.float64)]
    for r in range(1, factor):
        rng = np.random.default_rng(100003 * r + 7)
        q, _ = np.linalg.qr(rng.standard_normal((dim, dim)))
        mats.append(q)
    stacked = np.stack(mats)

    def rotate(it):
        import pandas as pd
        for pdf in it:
            vecs = np.vstack([np.asarray(v, dtype=np.float64)
                              for v in pdf["embedding"]])
            out = np.empty_like(vecs)
            rep = pdf["rep"].to_numpy()
            for r in np.unique(rep):
                m = rep == r
                out[m] = vecs[m] @ stacked[int(r)]
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy() * factor + rep,
                "embedding": [row.astype(np.float32)
                              for row in out],
                "label": pdf["label"]})

    reps = emb.sparkSession.range(factor) \
        .select(F.col("id").cast("int").alias("rep"))
    return (emb.crossJoin(F.broadcast(reps))
            .mapInPandas(rotate,
                         "vec_id long, embedding array<float>, "
                         "label int"))


def make_scaled_dir(spark, base_dir: str, dest: str,
                    factor: int) -> dict:
    """Materialize the scaled tables under ``dest`` (idempotent: a
    marker file with matching factor short-circuits)."""
    marker = os.path.join(dest, "_SCALE_OK.json")
    if os.path.exists(marker):
        with open(marker) as f:
            meta = json.load(f)
        if (meta.get("factor") == factor
                and meta.get("gen") == SCALE_GEN_VERSION):
            return meta
    docs = spark.read.parquet(f"{base_dir}/documents.parquet")
    emb = spark.read.parquet(f"{base_dir}/embeddings.parquet")
    (_scaled_documents(docs, factor)
        .repartition(32)
        .write.mode("overwrite").parquet(f"{dest}/documents.parquet"))
    (_scaled_documents_rot(docs, factor)
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{dest}/documents_rot.parquet"))
    (_scaled_embeddings(emb, factor)
        .repartition(8)
        .write.mode("overwrite").parquet(f"{dest}/embeddings.parquet"))
    meta = {
        "factor": factor,
        "gen": SCALE_GEN_VERSION,
        "base_dir": base_dir,
        "rows": {
            "documents": spark.read.parquet(
                f"{dest}/documents.parquet").count(),
            "embeddings": spark.read.parquet(
                f"{dest}/embeddings.parquet").count(),
        },
    }
    with open(marker, "w") as f:
        json.dump(meta, f)
    return meta


def run_scale() -> None:
    """``--scale``: measure one tier (``SPARK_GRAFT_SCALE_FACTOR``,
    default 10) of SCALE_TIERS against the base sf and MERGE the
    result into the committed BENCH_SCALE.json record (tiers are run
    separately — the 100x tier takes minutes per pass and is not
    re-run when refreshing the 10x numbers).  Timing protocol per
    (entry, dir): one untimed warm-up pass (absorbs one-time
    index/codebook builds — a deployment builds once), then two
    timed passes, keep the min."""
    base_dir = os.environ.get("SPARK_GRAFT_SF_DIR",
                              "/root/testdata/sf0.1")
    factor = SCALE_FACTOR
    if factor not in SCALE_TIERS:
        raise SystemExit(f"--scale: no tier for factor {factor}; "
                         f"known: {sorted(SCALE_TIERS)}")
    entry_names, gate = SCALE_TIERS[factor]
    # SPARK_GRAFT_SCALE_ONLY=a,b re-measures a subset of the tier
    # (e.g. after an optimization touched one operator) and MERGES
    # into the committed record instead of replacing the whole tier
    # — a full-tier run still replaces it wholesale.
    only_env = os.environ.get("SPARK_GRAFT_SCALE_ONLY", "").strip()
    scale_only = {s.strip() for s in only_env.split(",") if s.strip()}
    if scale_only:
        unknown = scale_only - set(entry_names)
        if unknown:
            raise SystemExit(f"--scale: SPARK_GRAFT_SCALE_ONLY names "
                             f"not in the x{factor} tier: "
                             f"{sorted(unknown)}")
        entry_names = [n for n in entry_names if n in scale_only]
    dest = os.environ.get(
        "SPARK_GRAFT_SCALE_DIR",
        f"/tmp/spark_graft_scale/x{factor}")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from trial_data_ingestion_spark.plans import QUERIES as _GRADED
    from trial_data_ingestion_spark.session import get_spark

    spark = get_spark(app_name="bench-scale")
    spark.sparkContext.setLogLevel("ERROR")
    meta = make_scaled_dir(spark, base_dir, dest, factor)
    queries = {**_GRADED, **_bench_extra()}

    # q48's SRP bucket count is an occupancy knob: with FIXED planes,
    # in-bucket candidate pairs grow quadratically in corpus size by
    # construction (n/2^planes rows per bucket).  The deployment
    # answer is planes ~ log2(n) — apply it here and record it, so
    # the scale tier measures the operator as it would actually be
    # run at the larger size.
    import math
    extra_planes = max(0, math.ceil(math.log2(factor)))

    def q48_scaled(spark, sf_dir):
        from pyspark.sql import functions as F
        from trial_data_ingestion_spark.operators.similarity import (
            embedding_near_dups,
        )
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        out = embedding_near_dups(emb, dim=64, threshold=0.4,
                                  num_planes=8 + extra_planes)
        return out.select("doc_a", "doc_b",
                          F.round("cos", 6).alias("cos"))

    # b12 scales over the char-permutation corpus (see
    # _scaled_documents_rot): the word-suffix corpus is degenerate
    # for an edit-distance operator projecting 40-char windows —
    # short-word prefixes collapse into distance-0 replica cliques
    # (true output quadratic in the factor), and any constant
    # per-replica prefix tag is a replica-wide hot positional gram
    # (blocking-join collision volume quadratic instead).
    #
    # The gram length is an occupancy knob exactly like q48's SRP
    # planes.  Measured at 100x (500k docs): collision volume is
    # LINEAR in the factor by generator construction (1.27B rows at
    # q=4 = 100 x rep-0's 12.7M; decorrelated replicas), but the
    # count-filter's groupBy over those rows hits a shuffle/memory
    # cliff on this box (GCLocker thrash, 371 s wall for linear
    # work), and on a REAL corpus the volume itself is the birthday
    # term sum_g occ_L(g) x occ_R(g) ~ n^2 * p(g)^2 — either way the
    # deployment answer is raising q with corpus scale: measured
    # per-replica collision density decays ~0.6x per +1 of q
    # (12.7M / 7.8M / 4.9M / 1.2M at q=4/5/6/8).
    # r12: the dial sits AT the top of its measured 8/9 plateau from
    # base scale on (5.54/1.41/9.39 s at q=4/8/10, identical 120
    # output pairs; q=10 hits the window bound and inflates the
    # short-sliver join), so the tiers have no q headroom left to
    # grow with the corpus — exactly the saturation that keeps b12
    # out of the 300x tier.  r13: the dial moved into the operator
    # (q="auto" derives 9 from the 40-char windows via the pigeonhole
    # margin (d+1)*q + d <= L), so the tier runs the bare call like
    # the HEADLINE entry.
    def b12_scaled(spark, sf_dir):
        from pyspark.sql import functions as F
        from trial_data_ingestion_spark.operators.fuzzy_join import (
            fuzzy_join_pairs,
        )
        d = spark.read.parquet(f"{sf_dir}/documents_rot.parquet")
        left = (d.where("doc_id % 2 = 0")
                .select("doc_id", F.substring("text", 1, 40).alias("t")))
        right = (d.where("doc_id % 2 = 1")
                 .select("doc_id", F.substring("text", 1, 40).alias("t")))
        return fuzzy_join_pairs(left, right, "doc_id", "t",
                                "doc_id", "t", max_distance=3)

    # q19's banding is the third occupancy knob: with FIXED (b=4,
    # r=4), LSH candidate pairs grow superlinearly in corpus size —
    # the band-collision birthday term over corpus-common shingles
    # (short-word runs like " of the "): measured 440 pairs at 1x ->
    # 15,727 at 10x (35x for 10x rows; Q19_SCALE_PROFILE.json), and
    # the unknobbed 100x verify OOMs under the profiler's pinned
    # frames.  Deployment answer: rows_per_band grows with log10(n)
    # to steepen the S-curve (killing chance collisions), bands grow
    # alongside to RESTORE recall at the 0.8 threshold
    # (1-(1-0.8^6)^8 = 0.91 vs the base setting's 0.88).  Measured
    # at 100x: candidates 126k (linear), steady 9.1 s vs 34 s fixed.
    # The rule is API (dedup.auto_banding / num_hashes="auto"); the
    # tier exercises it the way a deployment would.
    def q19_scaled(spark, sf_dir):
        from trial_data_ingestion_spark.operators import dedup
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        out = dedup.dedup_minhash(d, "doc_id", "text", k=8,
                                  num_hashes="auto", threshold=0.8)
        return out.select("doc_id")

    # b09's index is the fourth occupancy knob (r9 verdict item 4:
    # 0.64 wall exponent at 100x, highest in the tier — the probe's
    # candidate volume inherits the index's FIXED (32, 8) banding
    # birthday term).  The deployment builds the index with
    # corpus-sized banding (write_minhash_index(num_hashes="auto"),
    # the index-side twin of q19's knob); probes and delta appends
    # inherit it from the index's _params.json sidecar.
    _b09_cache: dict = {}

    def b09_scaled(spark, sf_dir):
        import tempfile

        from pyspark.sql import functions as F
        from trial_data_ingestion_spark.operators.incremental_dedup import (
            dedup_minhash_incremental, write_minhash_index,
        )
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        n = docs.count()
        cut = int(n * 0.8)
        path = _b09_cache.get(sf_dir)
        if path is None:
            path = tempfile.mkdtemp(prefix="scale_mhidx_") + "/idx"
            write_minhash_index(docs.where(F.col("doc_id") < cut), path,
                                num_hashes="auto", threshold=0.6)
            _b09_cache[sf_dir] = path
        out = dedup_minhash_incremental(
            spark, docs.where(F.col("doc_id") >= cut), path,
            threshold=0.6)
        return out.agg(F.count(F.lit(1)).alias("survivors"),
                       F.sum(F.length("text")).alias("chars"))

    # b11's cell count is the IVF occupancy knob: fixed cells mean
    # per-probed-cell scan volume ~ n/cells grows linearly; the
    # classic sizing is cells ~ sqrt(n), keeping per-query scan cost
    # ~ sqrt growth while the build stays one pass.
    ivf_cells = 16 * math.ceil(math.sqrt(factor))
    _b11_cache: dict = {}

    def b11_scaled(spark, sf_dir):
        import tempfile

        from trial_data_ingestion_spark.operators.quantization import (
            build_ivfpq, topk_ivfpq,
        )
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        path = _b11_cache.get(sf_dir)
        if path is None:
            path = tempfile.mkdtemp(prefix="scale_ivfpq_") + "/idx"
            build_ivfpq(emb, dim=64, path=path, num_cells=ivf_cells,
                        m=8, k=64, sample_size=2000, seed=7)
            _b11_cache[sf_dir] = path
        qrows = emb.orderBy("vec_id").limit(5).collect()
        queries = spark.createDataFrame(
            [(r["vec_id"], list(r["embedding"])) for r in qrows],
            "query_id bigint, query_vec array<float>")
        return topk_ivfpq(spark, path, queries, k=10, nprobe=6,
                          refine_factor=8)

    # b13's centroid count is the SemDeDup occupancy knob: per-cell
    # exact pairs are ~ (n/cells)^2 x cells = n^2/cells, so cells
    # must grow LINEARLY with the corpus to keep cell size — and the
    # per-cell quadratic term — constant (the SemDeDup paper's
    # k ~ n/coverage).  Codebook trains on the same bounded sample.
    sem_cells = 16 * factor
    _b13_cache: dict = {}

    def b13_scaled(spark, sf_dir):
        from pyspark.sql import functions as F
        from trial_data_ingestion_spark.operators.semantic_dedup import (
            sampled_kmeans_centroids, semantic_dedup,
        )
        emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
               .select("vec_id", "embedding"))
        rows = _b13_cache.get(sf_dir)
        if rows is None:
            rows = sampled_kmeans_centroids(emb, 64, sem_cells,
                                            seed=7).collect()
            _b13_cache[sf_dir] = rows
        cents = spark.createDataFrame(
            rows, "cell_id int, centroid array<double>")
        out = semantic_dedup(emb, dim=64, eps=0.4, centroids=cents)
        return out.agg(F.count(F.lit(1)).alias("survivors"))

    # b16's bench entry derives its benchmark as doc_id % 100 = 7 —
    # 1% OF THE CORPUS, which at the tiers makes the benchmark grow
    # with the factor (50 -> 5k -> 15k items) and the band-collision
    # candidate volume pick up a quadratic-in-factor birthday term
    # (n_corpus x n_bench collisions, both sides scaling).  The 300x
    # marginal gate CAUGHT it: 3.7-3.9x measured vs the 3.6 bound,
    # reproducibly, on an idle box.  A real decontamination benchmark
    # is a fixed external suite, so the tier pins the benchmark at
    # the base 50 items: scaled ids are base_id*factor + rep, so
    # doc_id % (100*factor) == 7*factor selects exactly the rep-0
    # (byte-identical original) docs with base_id % 100 == 7 — the
    # SAME 50 texts at every tier, input degeneracy fixed the b12 way.
    # NOTE (r13): the HEADLINE b16 entry now probes a persisted
    # signature index; the TIER deliberately keeps the DIRECT sweep —
    # its committed BENCH_SCALE record measures the full signature
    # pass's scaling law, and swapping the shape under a recorded
    # tier would make the factor curve incomparable.
    def b16_scaled(spark, sf_dir):
        from pyspark.sql import functions as F
        from trial_data_ingestion_spark.operators.decontam import (
            decontaminate_fuzzy,
        )
        docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
                .select("doc_id", "text"))
        bench_df = (docs.where(f"doc_id % {100 * factor} = "
                               f"{7 * factor}")
                    .select("text"))
        out = decontaminate_fuzzy(docs, bench_df, threshold=0.8)
        return out.agg(F.count(F.lit(1)).alias("survivors"),
                       F.sum(F.length("text")).alias("chars"))

    scaled_overrides = {"q48_embedding_dups_blocked": q48_scaled,
                        "b09_incremental_dedup": b09_scaled,
                        "b11_ivfpq_topk": b11_scaled,
                        "b12_fuzzy_join": b12_scaled,
                        "b13_semantic_dedup": b13_scaled,
                        "b16_fuzzy_decontam": b16_scaled,
                        "q19_minhash_dedup": q19_scaled}

    def _git_sha() -> str:
        import subprocess
        try:
            return subprocess.run(
                ["git", "-C", os.path.dirname(os.path.abspath(__file__)),
                 "rev-parse", "--short", "HEAD"],
                capture_output=True, text=True, timeout=10,
            ).stdout.strip() or "unknown"
        except Exception:
            return "unknown"

    def measure(fn, sf_dir):
        fn(spark, sf_dir).count()                  # warm-up
        ts = []
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            ts.append(time.perf_counter() - t0)
        return round(min(ts), 3)

    entries = {}
    for name in entry_names:
        fn = queries[name]
        scaled_fn = scaled_overrides.get(name, fn)
        t_base = measure(fn, base_dir)
        t_scaled = measure(scaled_fn, dest)
        ratio = round(t_scaled / t_base, 2)
        entries[name] = {
            "base_sec": t_base,
            "scaled_sec": t_scaled,
            "ratio": ratio,
            # wall(sf) ~ sf^e locally: e = log(ratio)/log(factor)
            "exponent": round(math.log(max(ratio, 1e-9))
                              / math.log(factor), 2),
            # provenance (r13, advisor): SCALE_ONLY subset re-measures
            # merge into a committed tier, so every entry records the
            # code it was measured at — a mixed-SHA tier is auditable
            # instead of silently presenting stale entries as current
            "measured_at_sha": _git_sha(),
        }
        print(f"scale x{factor} {name}: {t_base}s -> {t_scaled}s "
              f"({ratio}x)", file=sys.stderr)

    # b28's cost law is n^(1+rho), NOT linear (see SCALE_TIERS note):
    # record the auto-resolved (p, L) plan per tier and derive its
    # gate from the planned per-row work — each of the L tables
    # hashes p sign-dot-products per row and scores an
    # occupancy-pinned candidate set, so wall ~ n * L(n) * p(n) —
    # and the tier measures "is the measured curve consistent with
    # the asserted law" instead of exempting the entry wholesale
    # like b13
    if "b28_semantic_dedup_blocked" in entries:
        from trial_data_ingestion_spark.operators.similarity import (
            srp_auto_planes, srp_tables_for_recall,
        )
        n_base = spark.read.parquet(
            f"{base_dir}/embeddings.parquet").count()
        n_scaled = meta["rows"]["embeddings"]
        p0, p1 = srp_auto_planes(n_base), srp_auto_planes(n_scaled)
        l0 = srp_tables_for_recall(B28_EPS, p0, target=B28_TARGET_RECALL)
        l1 = srp_tables_for_recall(B28_EPS, p1, target=B28_TARGET_RECALL)
        e = entries["b28_semantic_dedup_blocked"]
        e["plan_base"] = {"num_planes": p0, "num_tables": l0}
        e["plan_scaled"] = {"num_planes": p1, "num_tables": l1}
        e["gate_ratio_override"] = round(
            1.2 * factor * (l1 * p1) / (l0 * p0), 1)
        print(f"scale x{factor} b28 plan: (p={p0}, L={l0}) -> "
              f"(p={p1}, L={l1}); gate "
              f"{e['gate_ratio_override']}x", file=sys.stderr)

    # b13's cost law is the root-caused exact-assignment >= n^1.5
    # structural bound (scale_knobs): the linear tier gate "passes"
    # it at 10x/100x only through fixed-cost amortization, and at
    # 300x the amortization runs out — so the entry carries a
    # LAW-derived override (1.2 * factor^1.5), the structural twin
    # of b28's plan-derived one, with the law field making the
    # derivation auditable in the record
    if "b13_semantic_dedup" in entries:
        e = entries["b13_semantic_dedup"]
        e["law"] = ("exact-assignment >= n^1.5 (root-caused, "
                    "marginal-gate exempt; see scale_knobs)")
        e["gate_ratio_override"] = round(1.2 * factor ** 1.5, 1)
        print(f"scale x{factor} b13 law gate: "
              f"{e['gate_ratio_override']}x (1.2 * factor^1.5)",
              file=sys.stderr)

    here = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(here, "BENCH_SCALE.json")
    rec = {}
    if os.path.exists(path):
        with open(path) as f:
            rec = json.load(f)
    if "tiers" not in rec:
        # migrate the flat single-tier layout written before the
        # 100x tier existed
        rec = {"base_sf_dir": rec.get("base_sf_dir", base_dir),
               "scale_knobs": rec.get("scale_knobs", {}),
               "tiers": ({str(rec["factor"]): {
                              "factor": rec["factor"],
                              "gate_ratio": rec["gate_ratio"],
                              "scaled_rows": rec["scaled_rows"],
                              "entries": rec["entries"]}}
                         if "entries" in rec else {})}
    rec["metric"] = ("scale-tier wall time vs base rows, min of 2 "
                     "steady passes after 1 warm-up, local[" +
                     os.environ.get("SPARK_GRAFT_CPUS", "32") + "]")
    rec["base_sf_dir"] = base_dir
    rec.setdefault("scale_knobs", {})
    rec["scale_knobs"]["q48_embedding_dups_blocked"] = (
        "num_planes = 8 + ceil(log2(factor)) (SRP occupancy ~ "
        "n/2^planes; planes must grow with log2(n) or in-bucket "
        "pairs grow quadratically)")
    rec["scale_knobs"]["b12_fuzzy_join"] = (
        "scaled input is documents_rot.parquet: per-replica seeded "
        "character permutations (rep 0 = identity) — the bijection "
        "preserves within-replica edit distances exactly and leaves "
        "no cross-replica shared positional q-gram, so candidates "
        "and true output replicate linearly; the word-suffix corpus "
        "is degenerate for 40-char-window edit distance (distance-0 "
        "replica cliques), and a constant per-replica tag is itself "
        "a replica-wide hot positional gram.  Gram length q = 8 at "
        "every tier (r12: measured optimum at BASE scale already — "
        "5.54/1.41/9.39 s at q=4/8/10 for the same 120 pairs, q=10 "
        "hitting the window bound — so the bench entry and the tiers "
        "all run q=8 and the dial has no headroom to grow): "
        "collision volume at fixed q is the birthday term "
        "n^2 * p(g)^2 on a real corpus (and a shuffle-spill cliff "
        "even at linear volume — measured 371 s for 1.27B rows at "
        "q=4/100x), while per-replica collision density decays "
        "~0.6x per +1 of q (12.7M/7.8M/4.9M/1.2M at q=4/5/6/8) — "
        "the same occupancy law as q48's SRP planes; lossless for "
        "the fixed 40-char windows while (d+1)*q <= 40.  r12: the "
        "dial SATURATES at 300x — q is capped at 10 by the window "
        "((d+1)*q <= 40) and a 300x/q=10 attempt left two hot-gram "
        "straggler tasks pinned 50+ min, so b12 stops at the 100x "
        "tier by design: past ~100x at this window/distance the "
        "blocking family itself is the limit (use longer windows or "
        "deletion-neighborhood keys), not the q knob")
    rec["scale_knobs"]["b16_fuzzy_decontam"] = (
        "benchmark side PINNED at the base 50 items "
        "(doc_id % (100*factor) == 7*factor selects the same rep-0 "
        "texts at every tier) — the bench entry's 1%-of-corpus slice "
        "would grow the benchmark with the factor and the "
        "corpus-bands x benchmark-bands collision volume picks up a "
        "quadratic-in-factor birthday term (the r12 300x marginal "
        "gate caught it at 3.7-3.9x measured vs the 3.6 bound, "
        "reproducible on an idle box).  A deployment's benchmark is "
        "a fixed external suite; with it pinned the candidate volume "
        "is linear in the corpus.  Input construction, not plan "
        "cost — the same class as b12's gen-1 replica cliques")
    rec["scale_knobs"]["b09_incremental_dedup"] = (
        "index built with write_minhash_index(num_hashes='auto', "
        "threshold=0.6) — the index-side twin of q19's banding knob: "
        "with the fixed (32, 8) default the probe's candidate volume "
        "inherits the band-collision birthday term (r9 measured 19.4x "
        "wall at 100x, exponent 0.64); the corpus-sized banding from "
        "dedup.auto_banding lands in _params.json so probes and delta "
        "appends inherit it (appends VALIDATE against params and "
        "refuse a mismatch)")
    rec["scale_knobs"]["b11_ivfpq_topk"] = (
        "num_cells = 16 * ceil(sqrt(factor)) (classic IVF sizing "
        "cells ~ sqrt(n)): per-query probed volume is "
        "nprobe * n/cells, so fixed cells make the query path linear "
        "in corpus size while cells ~ sqrt(n) keeps it ~sqrt; the "
        "build is one pass either way and the cold pass pays it once "
        "per corpus")
    rec["scale_knobs"]["b13_semantic_dedup"] = (
        "num_cells = 16 * factor (cells ~ n keeps per-cell size — "
        "and the per-cell exact-pair term n^2/cells — constant, the "
        "SemDeDup paper's k ~ n/coverage).  The residual superlinear "
        "term is the ASSIGNMENT: broadcast argmin over cells is "
        "n * cells = O(n^2) with cells ~ n, and any exact assignment "
        "with balanced cells is >= n^1.5 (n*k + n^2/k minimized at "
        "k ~ sqrt(n)) — SemDeDup is inherently superlinear without "
        "approximate assignment (the paper runs it on GPUs).  The "
        "measured-linear path for the same drop-near-cosine-dups "
        "semantics is single-table SRP blocking with the recall "
        "trade (q48 / embedding_near_dups with srp_auto_planes); "
        "recall-held multi-table SRP (semantic_dedup_blocked, bench "
        "b28) costs the classic LSH n^(1+rho) — sub-quadratic, below "
        "the cell shape's bound, but not linear.  b13 benchmarks the "
        "centroid-cell SHAPE and is exempted from the marginal-"
        "decade gate with this note (its gate is the LAW-derived "
        "1.2 * factor^1.5 override).  r12 history: the first 300x "
        "attempts OOM'd the 8 GB local driver — first in the "
        "per-cell pair materialization (fixed by the per-cell "
        "row-block-chunked BLAS kernel), then in the ASSIGNMENT (the "
        "crossJoin+window shape shuffles/sorts the n*cells exploded "
        "frame: 2.9B rows at 600k vectors x 4800 cells).  "
        "assign_cells' BLAS argmin kernel (past the measured "
        "256-cell crossover, zero row multiplication, zero "
        "exchange) removed the memory wall: the 300x tier now "
        "MEASURES the law instead of exempting it — the quadratic "
        "n*cells flops stay (SemDeDup is inherently superlinear "
        "without approximate assignment; the paper runs it on GPUs) "
        "but they run at BLAS throughput and bounded memory")
    rec["scale_knobs"]["q19_minhash_dedup"] = (
        "banding (b, r) = (4 + 2*ceil(log10(factor)), "
        "4 + ceil(log10(factor))): with fixed (4, 4) the LSH "
        "candidate set grows superlinearly — the band-collision "
        "birthday term over corpus-common shingles (measured 440 -> "
        "15.7k pairs for 10x rows; Q19_SCALE_PROFILE.json) — so "
        "rows_per_band steepens the S-curve with log(n) while extra "
        "bands hold recall at the 0.8 threshold (0.91 vs base 0.88); "
        "measured at 100x: candidates linear (126k), steady 9.1 s "
        "vs 34 s fixed")
    rec["scale_knobs"]["b28_semantic_dedup_blocked"] = (
        "num_planes='auto' (srp_auto_planes occupancy, per-table "
        "candidates linear in n) and num_tables='auto' "
        "(srp_tables_for_recall holds 0.95 recall at eps=0.9) both "
        "re-resolve per tier — holding recall while planes grow with "
        "log2(n) makes the table count grow too, so the cost law is "
        "the classic LSH n^(1+rho): sub-quadratic, below b13's "
        "exact-assignment n^1.5 bound, but NOT linear.  The tier "
        "gate is therefore derived from the recorded plan (per-row "
        "work = L tables x p sign-dots each, occupancy-pinned "
        "candidates ~ L: gate_ratio_override = 1.2 * factor * "
        "(L*p)_scaled/(L*p)_base) — the measurement checks the "
        "asserted law instead of exempting the entry like b13's "
        "structural bound.  r12: the physical shape switched to "
        "Arrow-batch matmul hashing + per-bucket BLAS scoring after "
        "B28_SCALE_PROFILE.json named scoring (65%) and hashing "
        "(27%) as the 100x wall and the A/B measured 232 s -> 89 s "
        "for 200k vectors (identical survivors); the law and its "
        "gate are unchanged — the shapes move the constant, not "
        "the exponent")
    prev_tier = rec.get("tiers", {}).get(str(factor))
    if scale_only and prev_tier:
        # subset re-measure: update the named entries, keep the rest
        prev_tier["entries"].update(entries)
        prev_tier["factor"] = factor
        prev_tier["gate_ratio"] = gate
        prev_tier["scaled_rows"] = meta["rows"]
        # advisor (r13): a merged tier may now mix code versions —
        # warn loudly so rec['pass'] is read as "each entry passed at
        # ITS recorded SHA", not "the whole tier passes at HEAD"
        shas = {e.get("measured_at_sha", "pre-r13")
                for e in prev_tier["entries"].values()}
        if len(shas) > 1:
            print(f"scale x{factor}: tier now mixes entries measured "
                  f"at {sorted(shas)} — re-run the full tier before "
                  f"reading rec['pass'] as a HEAD statement",
                  file=sys.stderr)
    else:
        rec["tiers"][str(factor)] = {
            "factor": factor,
            "gate_ratio": gate,
            "scaled_rows": meta["rows"],
            "entries": entries,
        }
    rec["pass"] = all(
        e["ratio"] <= e.get("gate_ratio_override", t["gate_ratio"])
        for t in rec["tiers"].values() for e in t["entries"].values())
    with open(path, "w") as f:
        json.dump(rec, f, indent=2)
        f.write("\n")
    print(json.dumps(rec))


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(allow_abbrev=False)
    ap.add_argument("--scale", action="store_true",
                    help="measure one scale tier into BENCH_SCALE.json")
    ap.add_argument("--only", metavar="NAME[,NAME...]",
                    help="run a subset of HEADLINE; skips the "
                         "BENCH_LOCAL write")
    args = ap.parse_args()
    if args.scale:
        run_scale()
    else:
        main(only=args.only)
