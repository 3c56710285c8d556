"""Benchmark decontamination: flag/remove training documents that
overlap an evaluation set by token n-grams.

North-star training-data-pipeline tier (BASELINE.json).  The
reference repo has no decontamination; the semantics here follow the
published recipe used by the GPT-3 appendix-C / Llama data cards:
normalize both sides, build token n-grams, and mark a training doc
contaminated when it shares >= ``min_matches`` distinct n-grams with
any benchmark document (n=8..13 typical; lower n = stricter).

Scale design (100 TB corpus, MB-scale benchmark):
  * The benchmark side is SMALL by construction — a distinct-gram
    table of every eval set worth protecting is a few million rows.
    It is therefore the BROADCAST side of one codegen'd hash join;
    the corpus never shuffles by gram.
  * The corpus side explodes grams (narrow), inner-joins the
    broadcast (only matching grams survive — typically a vanishing
    fraction), and aggregates per doc with map-side partial combine.
    Per-doc totals ride along from a pre-explode ``size()`` so the
    only wide operation is the final small join of (doc, matches)
    back onto (doc, total).
  * Everything is native Column expressions (split/sequence/
    transform/md5) — no Python in the plan; the DuckDB oracle
    reproduces grams byte-for-byte (pytest parity).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from trial_data_ingestion_spark.operators.textstats import token_grams
from trial_data_ingestion_spark.session import ensure_parallelism
from trial_data_ingestion_spark.store import read_params, read_partitions


def _norm_tokens(text: Column) -> Column:
    """Lowercased whitespace tokens of punctuation-stripped text —
    the standard decontamination normalization (case/punct variance
    must not hide an overlap)."""
    cleaned = F.regexp_replace(F.lower(text), r"[^a-z0-9]+", " ")
    return F.filter(F.split(F.trim(cleaned), r" +"), lambda t: t != "")


def token_ngrams(text: Column, n: int = 8) -> Column:
    """Array of space-joined token n-grams (non-distinct; callers
    needing set semantics apply array_distinct).  Docs with fewer
    than ``n`` tokens yield an empty array — they cannot be matched,
    mirroring the published recipes which skip short eval items."""
    return token_grams(_norm_tokens(text), n)


def benchmark_gram_table(bench: DataFrame, text_col: str = "text",
                         n: int = 8) -> DataFrame:
    """Distinct n-gram table of the evaluation set: one column ``g``.
    Small enough to broadcast (distinct grams of an eval suite are
    O(benchmark tokens)); persist it once per benchmark release and
    reuse across corpus sweeps."""
    return (bench
            .select(F.explode(token_ngrams(F.col(text_col), n))
                    .alias("g"))
            .distinct())


def contamination_report(corpus: DataFrame, bench_grams: DataFrame,
                         id_col: str = "doc_id",
                         text_col: str = "text",
                         n: int = 8,
                         min_matches: int = 1) -> DataFrame:
    """Per-document contamination report:
    (id, total_grams, matched_grams, contamination_ratio,
    is_contaminated).

    ``matched_grams`` counts DISTINCT overlapping n-grams — repeated
    boilerplate matching one benchmark gram many times is one signal,
    not many."""
    # repartition the pre-explosion (id, text) rows: a single-file
    # scan would otherwise run the gram HOF + explode in ONE task
    # (same discipline as the minhash shingle explode)
    grams = ensure_parallelism(corpus.select(id_col, text_col)).select(
        F.col(id_col),
        token_ngrams(F.col(text_col), n).alias("__grams"))
    totals = grams.select(
        id_col, F.size("__grams").alias("total_grams"))
    matched = _matched_grams(grams, bench_grams, id_col)
    return (totals
            .join(matched, id_col, "left")
            .withColumn("matched_grams",
                        F.coalesce("matched_grams", F.lit(0)))
            .withColumn(
                "contamination_ratio",
                F.when(F.col("total_grams") > 0,
                       F.col("matched_grams").cast("double")
                       / F.col("total_grams")).otherwise(F.lit(0.0)))
            .withColumn("is_contaminated",
                        F.col("matched_grams") >= min_matches))


def _matched_grams(grams: DataFrame, bench_grams: DataFrame,
                   id_col: str) -> DataFrame:
    """(id, matched_grams): distinct overlapping n-grams per doc.
    ``array_distinct`` BEFORE the explode dedups narrowly per row, so
    the aggregate is a plain count — one exchange on ``id_col``
    instead of a two-level count-distinct shuffle."""
    return (grams
            .select(id_col,
                    F.explode(F.array_distinct("__grams")).alias("g"))
            .join(F.broadcast(bench_grams), "g")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("matched_grams")))


def contaminated_ids(corpus: DataFrame, bench: DataFrame,
                     id_col: str = "doc_id", text_col: str = "text",
                     bench_text_col: str = "text",
                     n: int = 8, min_matches: int = 1) -> DataFrame:
    """One-column frame of corpus ids sharing >= ``min_matches``
    distinct token n-grams with the benchmark — the flag set
    :func:`decontaminate` anti-joins away, exposed for audits that
    need the verdict without dropping rows (pipelines.curation's
    rejection_audit).  Same plan shape: broadcast benchmark grams,
    the corpus never shuffles by gram."""
    bg = benchmark_gram_table(bench, bench_text_col, n)
    grams = ensure_parallelism(corpus.select(id_col, text_col)).select(
        F.col(id_col),
        token_ngrams(F.col(text_col), n).alias("__grams"))
    return (_matched_grams(grams, bg, id_col)
            .where(F.col("matched_grams") >= min_matches)
            .select(id_col))


def decontaminate(corpus: DataFrame, bench: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  bench_text_col: str = "text",
                  n: int = 8, min_matches: int = 1,
                  flag_from: DataFrame | None = None) -> DataFrame:
    """Corpus minus contaminated docs (original columns preserved).
    One broadcast join + one per-doc aggregate + one left-anti join —
    no corpus-side gram shuffle at any size.

    Deliberately does NOT route through :func:`contamination_report`:
    the removal decision needs only the matched-gram counts, and the
    report's total/ratio branch would add a third full evaluation of
    the (possibly expensive) upstream corpus plan when composed in a
    pipeline (pipelines.curation plan-census test pins this).

    ``flag_from``: compute the contamination flags from THIS frame's
    (id, text) instead of ``corpus``.  Sound whenever every corpus id
    appears in ``flag_from`` with the same text — extra flagged ids
    are no-ops in the anti-join.  pipelines.curation passes the RAW
    document scan here so the flag subtree skips the expensive
    hygiene/dedup chain the corpus side carries (measured 2x on
    b05_curate)."""
    src = corpus if flag_from is None else flag_from
    flagged = contaminated_ids(src, bench, id_col, text_col,
                               bench_text_col, n, min_matches)
    return corpus.join(flagged, id_col, "left_anti")


def multi_benchmark_contamination(corpus: DataFrame,
                                  benchmarks: dict,
                                  id_col: str = "doc_id",
                                  text_col: str = "text",
                                  bench_text_col: str = "text",
                                  n: int = 8,
                                  min_matches: int = 1) -> DataFrame:
    """Per-benchmark contamination attribution in ONE corpus pass:
    (id, benchmark, matched_grams), one row per (document, benchmark)
    pair at or above ``min_matches`` distinct shared n-grams.  The
    release artifact a dataset card's decontamination section quotes
    — WHICH eval suite each dropped document collided with, not just
    that something did.

    ``benchmarks`` maps name -> DataFrame.  Scale shape: every
    benchmark's distinct-gram table is tagged with its name and
    unioned into one broadcast side (eval suites are small; the union
    is the sum of their gram tables), so N benchmarks cost the SAME
    single corpus gram explode + broadcast join as one — never N
    sweeps of the corpus.  A gram shared by several benchmarks
    attributes to each (the join fans out per tag), which is the
    semantics an audit wants."""
    if not benchmarks:
        raise ValueError("benchmarks dict is empty")
    tagged = None
    for name, bench in benchmarks.items():
        t = (benchmark_gram_table(bench, bench_text_col, n)
             .withColumn("benchmark", F.lit(name)))
        tagged = t if tagged is None else tagged.unionByName(t)
    grams = ensure_parallelism(corpus.select(id_col, text_col)).select(
        F.col(id_col),
        token_ngrams(F.col(text_col), n).alias("__grams"))
    return (grams
            .select(id_col,
                    F.explode(F.array_distinct("__grams")).alias("g"))
            .join(F.broadcast(tagged), "g")
            .groupBy(id_col, "benchmark")
            .agg(F.count(F.lit(1)).alias("matched_grams"))
            .where(F.col("matched_grams") >= min_matches))


def decontaminate_multi(corpus: DataFrame, benchmarks: dict,
                        id_col: str = "doc_id",
                        text_col: str = "text",
                        bench_text_col: str = "text",
                        n: int = 8,
                        min_matches: int = 1) -> DataFrame:
    """Corpus minus documents contaminated by ANY of the named
    benchmarks — same one-broadcast-one-anti-join shape as
    :func:`decontaminate`, with the union-of-benchmarks gram table;
    pair with :func:`multi_benchmark_contamination` when the audit
    needs to know which suite was hit."""
    flagged = (multi_benchmark_contamination(
                   corpus, benchmarks, id_col, text_col,
                   bench_text_col, n, min_matches)
               .select(id_col).distinct())
    return corpus.join(flagged, id_col, "left_anti")


def _span_gram_array(text_col: str, n: int) -> Column:
    """Space-joined WHITESPACE-token n-gram array of a text column —
    the span-faithful gram convention shared by the surgical scrubber
    and :func:`benchmark_span_grams` (substring_dedup's tokenization,
    NOT the normalized decontam one)."""
    from trial_data_ingestion_spark.operators.substring_dedup import (
        _ws_tokens,
    )
    return token_grams(_ws_tokens(F.col(text_col)), n)


def scrub_contaminated_spans(corpus: DataFrame, bench: DataFrame,
                             id_col: str = "doc_id",
                             text_col: str = "text",
                             bench_text_col: str = "text",
                             n: int = 8,
                             lowercase: bool = True,
                             hash_grams: bool = True) -> DataFrame:
    """SURGICAL decontamination: rewrite ``text_col`` with every
    token run matching a benchmark n-gram removed, keeping the rest
    of the document — the middle ground between doing nothing and
    :func:`decontaminate`'s whole-document drop (a long document
    quoting one eval item is mostly good training data; published
    pipelines increasingly scrub the span, not the doc).  Adds
    ``n_scrubbed_tokens``; uncontaminated documents pass through
    byte-identical.

    Matching is on the WHITESPACE token stream (substring_dedup's
    convention) so spans map faithfully back to the original text —
    ``lowercase=True`` folds case on the MATCH KEY only (the original
    tokens are what get removed, positions are case-independent).
    Punctuation variants therefore do not match — this scrubber is
    deliberately conservative; compose with :func:`decontaminate`
    (normalized matching) when doc-level drops are acceptable.

    Scale shape (inherited from substring_dedup): narrow gram
    explode, benchmark grams distinct + BROADCAST (never a corpus
    shuffle by gram), one keyed shuffle of marked positions per doc,
    native higher-order span filter — no Python.  ``hash_grams``
    folds keys to xxhash64 before the join (8-byte keys; the
    ~#grams^2/2^65 collision odds trade exactly as documented
    there)."""
    from trial_data_ingestion_spark.operators.substring_dedup import (
        _gram_occurrences, _ws_tokens,
    )

    def key(col: Column) -> Column:
        k = F.lower(col) if lowercase else col
        return F.xxhash64(k) if hash_grams else k

    occ = _gram_occurrences(corpus, id_col, text_col, n,
                            hash_grams=False)
    occ = occ.withColumn("g", key(F.col("g")))

    bg = (bench.select(
              F.explode(_span_gram_array(bench_text_col, n)).alias("g"))
          .select(key(F.col("g")).alias("g")).distinct())

    marked = (occ.join(F.broadcast(bg), "g")
              .groupBy(F.col("doc").alias(id_col))
              .agg(F.collect_list("pos").alias("__spans")))
    out = corpus.join(marked, id_col, "left")
    toks = _ws_tokens(F.col(text_col))
    covered = lambda i: F.exists(                      # noqa: E731
        F.col("__spans"), lambda s: (i >= s) & (i < s + n))
    kept = F.filter(toks, lambda t, i: ~covered(i))
    return (out.withColumn(
                "n_scrubbed_tokens",
                F.when(F.col("__spans").isNull(), F.lit(0))
                 .otherwise(F.size(toks) - F.size(kept)).cast("long"))
            .withColumn(
                text_col,
                F.when(F.col("__spans").isNull(), F.col(text_col))
                 .otherwise(F.array_join(kept, " ")))
            .drop("__spans"))


def benchmark_span_grams(bench: DataFrame, text_col: str = "text",
                         n: int = 8) -> list:
    """The benchmark's distinct space-joined WHITESPACE-token n-gram
    strings, collected (eval suites are small by construction — this
    is the closure payload for
    ``streaming.documents.scrubbed_document_stream``; the batch
    scrubber builds the same table without collecting)."""
    return [r["g"] for r in
            bench.select(F.explode(_span_gram_array(text_col, n))
                         .alias("g"))
                 .distinct().collect()]


def fuzzy_contaminated_ids(corpus: DataFrame, bench: DataFrame,
                           id_col: str = "doc_id",
                           text_col: str = "text",
                           bench_text_col: str = "text",
                           threshold: float = 0.5, k: int = 8,
                           num_hashes: int = 64,
                           bands: int = 16,
                           corpus_index: str | None = None
                           ) -> DataFrame:
    """Corpus ids whose char-shingle Jaccard similarity to ANY
    benchmark item reaches ``threshold`` — the NEAR-duplicate
    contamination the exact n-gram sweep misses (paraphrases, light
    rewrites, whitespace-mangled copies).

    Shape: MinHash signatures on BOTH sides; the corpus side's
    signature groupBy is the one corpus-wide shuffle (num_hashes
    longs per doc); the benchmark's banded buckets BROADCAST
    (benchmarks are small by construction — this errors above 1M
    rows rather than silently planning a fact-fact shuffle), so the
    candidate join never exchanges the corpus; exact Jaccard then
    verifies only the bucket-collision pairs.  At low thresholds
    raise ``bands`` per dedup.lsh_plan so the S-curve keeps
    recall.

    ``corpus_index`` (r13): path of a persisted
    :func:`~.incremental_dedup.write_minhash_index` store built over
    the SAME corpus with the SAME (k, num_hashes, bands) — its
    ``bands/`` rows are byte-identical to the signature pass this
    function would re-derive (same ``minhash_signatures`` kernel,
    same comma-joined bucket strings), so decontam sweeps against a
    fixed corpus become an INDEX PROBE: the stored bands are scanned
    only in the partitions the benchmark's own bucket hashes name
    (the ``pbkt`` pruning that bounds b09's delta probes), and the
    corpus-wide signature shuffle disappears from every sweep after
    the first.  A deployment sweeping one corpus against many
    benchmarks — the release-pipeline shape — amortizes the build
    exactly like the b09/b11 index tiers.  Params are validated
    against the index's ``_params.json`` sidecar; a mismatch raises
    rather than probing buckets keyed differently.  Candidate set and
    verdicts are identical to the direct pass by construction; the
    corpus texts for exact verification still come from ``corpus``
    (the caller's frame), never the index."""
    from trial_data_ingestion_spark.operators.dedup import (
        jaccard_verify,
        minhash_signatures,
    )
    if bench.count() > 1_000_000:
        raise ValueError(
            "benchmark side too large to broadcast-band; split it or "
            "run the exact decontaminate sweep")

    rows_per_band = num_hashes // bands

    def banded(df, idc, txtc, prefix):
        named = df.select(
            F.concat(F.lit(prefix), F.col(idc).cast("string"))
            .alias("doc_id"), F.col(txtc).alias("text"))
        sig = minhash_signatures(named, "doc_id", "text", k,
                                 num_hashes)
        return named, sig.select(
            F.col("doc").alias("doc_id"),
            F.explode(F.array(*[
                F.struct(F.lit(bb).alias("band"),
                         F.concat_ws(",", *[
                             F.col(f"h{bb * rows_per_band + r}")
                             for r in range(rows_per_band)
                         ]).alias("bucket"))
                for bb in range(bands)
            ])).alias("bb"),
        ).select("doc_id", "bb.band", "bb.bucket")

    bench_ids = bench.select(
        F.monotonically_increasing_id().alias("__bid"), bench_text_col)
    b_named, b_banded = banded(bench_ids, "__bid", bench_text_col,
                               "b|")
    if corpus_index is not None:
        from trial_data_ingestion_spark.operators.incremental_dedup \
            import _pbkt
        spark = corpus.sparkSession
        stored = read_params(spark, corpus_index)
        got = {"k": k, "num_hashes": num_hashes, "bands": bands}
        if {kk: stored[kk] for kk in got} != got:
            raise ValueError(
                f"corpus_index at {corpus_index!r} was built with "
                f"{ {kk: stored[kk] for kk in got} }, probe wants "
                f"{got}; signatures keyed differently cannot collide")
        probe = b_banded.withColumn(
            "pbkt", _pbkt(stored["num_buckets"]))
        pbkts = sorted(r["pbkt"] for r in
                       probe.select("pbkt").distinct().collect())
        c_banded = (read_partitions(spark, corpus_index, "pbkt", pbkts,
                                    "bands")
                    .select(F.concat(F.lit("c|"),
                                     F.col("doc").cast("string"))
                            .alias("doc_id"), "band", "bucket",
                            "pbkt"))
        cross = (c_banded.join(
                    F.broadcast(probe
                                .withColumnRenamed("doc_id", "doc_b")),
                    ["band", "bucket", "pbkt"])
                 .select(F.col("doc_id").alias("doc_a"), "doc_b")
                 .distinct())
        c_named = corpus.select(
            F.concat(F.lit("c|"), F.col(id_col).cast("string"))
            .alias("doc_id"), F.col(text_col).alias("text"))
        both = c_named.unionByName(b_named)
        verified = jaccard_verify(both, cross, "doc_id", "text", k=k,
                                  threshold=threshold)
        return (verified.select(
                    F.expr("substring(doc_a, 3)").alias(id_col))
                .distinct())
    c_named, c_banded = banded(corpus, id_col, text_col, "c|")
    # No cut point here ON PURPOSE (r12, measured): jaccard_verify
    # consumes ``candidates`` twice, but the subtree ends in the
    # distinct's exchange and Spark's ReuseExchange dedupes it inside
    # the one plan — both a lazy and an eager localCheckpoint were
    # A/B'd at sf0.1 and neither moved the wall (the checkpoint only
    # breaks the exchange reuse and adds a materialization job).
    cross = (c_banded.join(
                F.broadcast(b_banded
                            .withColumnRenamed("doc_id", "doc_b")),
                ["band", "bucket"])
             .select(F.col("doc_id").alias("doc_a"), "doc_b")
             .distinct())
    both = c_named.unionByName(b_named)
    verified = jaccard_verify(both, cross, "doc_id", "text", k=k,
                              threshold=threshold)
    return (verified.select(
                F.expr("substring(doc_a, 3)").alias(id_col))
            .distinct())


def decontaminate_fuzzy(corpus: DataFrame, bench: DataFrame,
                        id_col: str = "doc_id",
                        text_col: str = "text",
                        bench_text_col: str = "text",
                        threshold: float = 0.5, k: int = 8,
                        num_hashes: int = 64,
                        bands: int = 16,
                        corpus_index: str | None = None) -> DataFrame:
    """Corpus minus near-duplicate-contaminated docs (original
    columns preserved): :func:`fuzzy_contaminated_ids` + one
    left-anti join.  Complements the exact sweep — run both: exact
    catches verbatim spans inside long documents (where whole-doc
    Jaccard is low), fuzzy catches whole-item paraphrases (where no
    8-gram survives verbatim).  ``corpus_index`` amortizes the
    corpus signature pass across sweeps — see
    :func:`fuzzy_contaminated_ids`."""
    bad = fuzzy_contaminated_ids(corpus, bench, id_col, text_col,
                                 bench_text_col, threshold, k,
                                 num_hashes, bands,
                                 corpus_index=corpus_index)
    return corpus.join(
        bad.select(F.col(id_col).cast(dict(corpus.dtypes)[id_col])
                   .alias(id_col)),
        id_col, "left_anti")


def split_leakage_report(splits: DataFrame, split_col: str = "split",
                         id_col: str = "doc_id",
                         text_col: str = "text", n: int = 8,
                         train_split: str = "train") -> DataFrame:
    """Cross-split leakage audit: for every non-train split, how many
    of its documents share >= 1 token-``n``-gram with the TRAIN
    split — the "did our own splitter leak eval data" check a
    release pipeline runs after splitting (same defect class as
    external benchmark contamination, caught with the same gram
    machinery).

    One row per non-train split: (split, n_docs, leaked_docs,
    leak_rate).  Plan shape: the train grams aggregate to a DISTINCT
    gram table that joins broadcast when it fits (Spark's planner
    decides by size); the eval side never shuffles its text — it
    grams, semi-joins, and counts.  Content-stable splits
    (sampling.split_by_hash) make this deterministic."""
    train_grams = (ensure_parallelism(
        splits.where(F.col(split_col) == train_split)
        .select(text_col))
        .select(F.explode(F.array_distinct(
            token_ngrams(F.col(text_col), n))).alias("g"))
        .distinct())
    evals = splits.where(F.col(split_col) != train_split)
    egrams = (ensure_parallelism(
        evals.select(split_col, id_col, text_col))
        .select(split_col, id_col,
                F.explode(F.array_distinct(
                    token_ngrams(F.col(text_col), n))).alias("g")))
    leaked = (egrams.join(train_grams, "g", "left_semi")
              .select(split_col, id_col).distinct()
              .groupBy(split_col)
              .agg(F.count(F.lit(1)).alias("leaked_docs")))
    totals = (evals.groupBy(split_col)
              .agg(F.count(F.lit(1)).alias("n_docs")))
    return (totals.join(leaked, split_col, "left")
            .select(split_col, "n_docs",
                    F.coalesce("leaked_docs", F.lit(0)).cast("long")
                    .alias("leaked_docs"))
            .withColumn("leak_rate",
                        F.round(F.col("leaked_docs")
                                / F.col("n_docs"), 6)))


def semantic_contaminated_ids(corpus_emb: DataFrame,
                              bench_emb: DataFrame,
                              dim: int,
                              id_col: str = "doc_id",
                              vec_col: str = "embedding",
                              bench_vec_col: str = "embedding",
                              threshold: float = 0.9) -> DataFrame:
    """Corpus ids whose embedding cosine similarity to ANY benchmark
    item reaches ``threshold`` — the EMBEDDING-space contamination
    tier above the exact n-gram sweep (verbatim spans) and the fuzzy
    MinHash sweep (character-level paraphrases): a translated or
    heavily re-worded benchmark item shares no shingles at all but
    still lands next to its source in embedding space.

    Shape (the decontam invariant: the corpus NEVER shuffles):
    benchmark vectors BROADCAST — benchmarks are small by
    construction, and this errors above 100k rows rather than
    silently planning a fact-fact cartesian — and each corpus row
    scans the broadcast side with the factored fixed-dim cosine, one
    narrow pass, no exchange, no Python."""
    from trial_data_ingestion_spark.functions.vector import (
        cosine_similarity_fixed,
    )
    n_bench = bench_emb.count()
    if n_bench > 100_000:
        raise ValueError(
            "benchmark side too large to broadcast against every "
            "corpus row; shard the benchmark or pre-block with "
            "similarity.embedding_near_dups")
    b = bench_emb.select(F.col(bench_vec_col).alias("__bvec"))
    joined = corpus_emb.select(id_col, vec_col).join(F.broadcast(b))
    return (joined
            .where(cosine_similarity_fixed(
                F.col(vec_col), F.col("__bvec"), dim)
                >= F.lit(float(threshold)))
            .select(id_col).distinct())


def decontaminate_semantic(corpus: DataFrame, corpus_emb: DataFrame,
                           bench_emb: DataFrame, dim: int,
                           id_col: str = "doc_id",
                           vec_col: str = "embedding",
                           bench_vec_col: str = "embedding",
                           threshold: float = 0.9) -> DataFrame:
    """Corpus minus embedding-contaminated docs (original columns
    preserved): :func:`semantic_contaminated_ids` + one left-anti
    join.  The third rung of the decontamination ladder — run after
    the exact and fuzzy sweeps when benchmark items may appear
    re-worded beyond shingle overlap."""
    bad = semantic_contaminated_ids(corpus_emb, bench_emb, dim,
                                    id_col, vec_col, bench_vec_col,
                                    threshold)
    return corpus.join(bad, id_col, "left_anti")
