"""Streaming corpus curation: the hygiene + dedup slice of
pipelines.curation as a Structured Stream (§2.10 applied to the
training-data tier).

An ingest directory fills with document files; one ``availableNow``
(or continuous micro-batch) stream gates each arriving document with
the SAME :func:`pipelines.curation.hygiene_gate` the batch pipeline
runs — it is a single narrow projection + filter, so the code path is
shared, not twinned — then deduplicates exactly by content
fingerprint.

Scale notes:
  * hygiene signals are per-row expressions: no state at all.
  * dedup state is one fingerprint key per distinct document.  With
    an ingest-time column, ``dropDuplicatesWithinWatermark`` bounds
    that state to the watermark horizon — the right contract for a
    forever-running ingest (a duplicate arriving months later is
    exact-dedup's batch sweep's job, not the stream's).  Without one,
    ``dropDuplicates`` keeps all keys: fine for bounded backfills,
    documented unbounded for infinite streams.
  * decontamination/split are deliberately NOT in the stream: the
    split is content-stable (identical whenever it runs), and
    decontamination's per-doc gram aggregate + anti-join is a batch
    shape; run them on the stream's output table.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from trial_data_ingestion_spark.pipelines.curation import (
    CurationConfig, hygiene_gate,
)
from trial_data_ingestion_spark.store import batch_sink

DOC_SCHEMA = ("doc_id long, text string, lang string, source string, "
              "n_chars long")


def read_document_stream(spark: SparkSession, path: str,
                         schema: str = DOC_SCHEMA,
                         fmt: str = "parquet",
                         max_files_per_trigger: Optional[int] = None
                         ) -> DataFrame:
    """File-source document stream (the ingest-directory pattern —
    same shape as streaming.events.read_event_stream)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger",
                               max_files_per_trigger)
    return reader.load(path)


def contaminated_document_stream(docs: DataFrame,
                                 bench_grams: DataFrame,
                                 id_col: str = "doc_id",
                                 text_col: str = "text",
                                 n: int = 8) -> DataFrame:
    """Streaming benchmark-contamination quarantine: ids of arriving
    documents sharing >= 1 token-``n``-gram with the (static,
    broadcast) benchmark gram table.

    A full streaming decontaminate (anti-join the doc stream against
    this) would be a stream-stream anti join Spark does not support;
    the operational pattern is instead a QUARANTINE side-stream — the
    ingest keeps flowing, contaminated ids land in a table the batch
    sweep (operators.decontam.decontaminate) removes on the next
    compaction.  Plan: narrow gram explode on the stream, one
    stream-static LEFT SEMI broadcast join, then streaming
    ``dropDuplicates`` on the id — that state holds one key per
    CONTAMINATED document (the quarantine list itself, small by
    construction), not per document seen."""
    from trial_data_ingestion_spark.operators.decontam import (
        token_ngrams,
    )
    from pyspark.sql import functions as F

    grams = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(
            token_ngrams(F.col(text_col), n))).alias("g"))
    return (grams.join(F.broadcast(bench_grams), "g", "left_semi")
            .select(id_col).dropDuplicates([id_col]))


def scrubbed_document_stream(docs: DataFrame, bench_grams,
                             text_col: str = "text",
                             n: int = 8,
                             lowercase: bool = True) -> DataFrame:
    """Streaming surgical decontamination: rewrite each arriving
    document with benchmark-matching token runs removed — the
    streaming twin of ``decontam.scrub_contaminated_spans``
    (parity-tested against it with ``hash_grams=False``).

    ``bench_grams`` is the benchmark's space-joined token n-gram
    strings (an iterable; build once per benchmark release from the
    batch side).  Eval suites are small by construction, so the set
    ships in the kernel closure — the broadcast-state pattern of this
    module — making the scrub a STATELESS per-row Arrow kernel: no
    aggregation, no watermark, and the identical function runs on a
    batch frame."""
    import pandas as pd
    from typing import Iterator

    grams = frozenset((g.lower() if lowercase else g)
                      for g in bench_grams)
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in docs.schema.fields)
    out_schema = f"{fields}, n_scrubbed_tokens long"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts, scrubbed = [], []
            for t in pdf[text_col]:
                toks = (t or "").split()
                covered = [False] * len(toks)
                for i in range(len(toks) - n + 1):
                    key = " ".join(toks[i:i + n])
                    if lowercase:
                        key = key.lower()
                    if key in grams:
                        for j in range(i, i + n):
                            covered[j] = True
                if any(covered):
                    kept = [tok for tok, c in zip(toks, covered)
                            if not c]
                    texts.append(" ".join(kept))
                    scrubbed.append(len(toks) - len(kept))
                else:
                    texts.append(t)
                    scrubbed.append(0)
            pdf = pdf.copy()
            pdf[text_col] = texts
            pdf["n_scrubbed_tokens"] = pd.Series(scrubbed,
                                                 dtype="int64")
            yield pdf

    return docs.mapInPandas(kernel, schema=out_schema)


def curated_document_stream(docs: DataFrame,
                            config: CurationConfig | None = None,
                            ingest_ts_col: str | None = None,
                            dedup_horizon: str = "24 hours"
                            ) -> DataFrame:
    """Hygiene-gate + exact-dedup an incoming document stream.

    With ``ingest_ts_col`` the fingerprint state is watermark-bounded
    (``dropDuplicatesWithinWatermark``); without it, state grows with
    distinct documents — acceptable for bounded backfill runs only.
    Which arrival of a duplicate family survives depends on arrival
    order (streams have no "min doc_id yet to come"); the surviving
    fingerprint SET equals the batch pipeline's (parity-tested in
    tests/test_streaming.py)."""
    gated = hygiene_gate(docs, config)
    if ingest_ts_col is not None:
        return (gated.withWatermark(ingest_ts_col, dedup_horizon)
                .dropDuplicatesWithinWatermark(["fingerprint"]))
    return gated.dropDuplicates(["fingerprint"])


def tokenized_document_stream(docs: DataFrame, model,
                              text_col: str = "text",
                              out_col: str = "bpe_tokens") -> DataFrame:
    """BPE-tokenize an arriving document stream with a pre-trained
    merge table (train on a batch corpus snapshot with
    ``operators.bpe.train_bpe``; tokenization itself is a stateless
    Arrow kernel, so the streaming and batch code paths are the SAME
    function — ``mapInPandas`` runs unchanged on a streaming
    DataFrame, no watermark or state required)."""
    from trial_data_ingestion_spark.operators.bpe import tokenize_bpe
    return tokenize_bpe(docs, model, text_col=text_col, out_col=out_col)


def line_deduped_document_sink(index_path: str, out_path: str,
                               id_col: str = "doc_id",
                               text_col: str = "text"):
    """``foreachBatch`` function for streaming corpus-wide line dedup:
    every micro-batch runs
    ``operators.line_dedup.line_dedup_incremental`` against the
    persisted line store (probe pruned to the batch's buckets) with
    its batch key as ``delta``, so lines first seen in one batch
    suppress their recurrences in every later batch — and across
    stream restarts, because the store IS the state (no Spark state
    store involved; watermarks cannot bound corpus-wide line dedup
    anyway, a footer repeats forever).

    Initialize the store once with ``write_line_index`` (over the
    standing corpus, or over a zero-row frame to start empty).  Each
    micro-batch appends its new lines as the store delta named by its
    batch key (``store.batch_key``), probing with that delta
    excluded, and writes its rewritten docs as the ``shard=`` of the
    same key under ``out_path`` (``store.batch_sink``): a replayed
    batch reproduces its first decision and rewrites its own delta
    and shard — exactly-once, like
    ``incremental_dedup.minhash_dedup_stream_sink``.  Pass it to
    ``writeStream.foreachBatch``; the caller picks the trigger."""
    from trial_data_ingestion_spark.operators.line_dedup import (
        line_dedup_incremental,
    )

    return batch_sink(lambda df, key: line_dedup_incremental(
        df.sparkSession, df, index_path, id_col=id_col,
        text_col=text_col, delta=key), out_path)


def clustered_document_sink(centroid_path: str, out_path: str, dim: int,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding"):
    """``foreachBatch`` function for streaming topic-cell assignment
    that RE-LOADS the persisted codebook every micro-batch: a codebook
    refresh (periodic re-fit over the grown corpus, written with
    ``clustering.write_centroids``) takes effect without a stream
    restart.  The reload reads the codebook's ``_params.json`` on the
    driver into a local frame, so it adds no Spark job to the batch.
    For a fixed codebook the zero-overhead path is calling
    ``clustering.cluster_documents`` directly on the stream —
    assignment is a stateless Arrow kernel, and the centroids are
    then pinned at plan time for the stream's lifetime.

    Each micro-batch lands as the ``shard=`` of its batch key under
    ``out_path`` (``store.batch_sink``): batch ids and the query id
    are stable across checkpoint restarts, so a replayed batch
    rewrites its own shard instead of appending a second copy, and a
    second query over the same ``out_path`` keeps the first one's
    shards.  Pass it to ``writeStream.foreachBatch``; the caller
    picks the trigger."""
    from trial_data_ingestion_spark.operators.clustering import (
        cluster_documents, load_centroids,
    )

    return batch_sink(lambda df, key: cluster_documents(
        df, dim=dim, id_col=id_col, vec_col=vec_col,
        centroids=load_centroids(df.sparkSession, centroid_path)),
        out_path)


def deduped_media_sink(index_path: str, out_path: str, hasher=None):
    """``foreachBatch`` function for streaming perceptual media dedup:
    every micro-batch runs ``multimodal.phash.dedup_media_incremental``
    against the persisted fingerprint index (probe pruned to the
    batch's own band buckets) with its batch key as ``delta``, so
    media first seen in one batch suppress their near-duplicates in
    every later batch — and across stream restarts, because the store
    IS the state (same contract as :func:`line_deduped_document_sink`;
    near-dup state cannot ride Spark's state store anyway — Hamming
    matching is not an equality key).

    Initialize the index once with ``write_phash_index`` (over the
    standing corpus's hashes, or an empty frame to start fresh).
    Each micro-batch appends its hashes as the index delta named by
    its batch key (``store.batch_key``), probing with that delta
    excluded, and writes its survivors as the ``shard=`` of the same
    key under ``out_path`` (``store.batch_sink``): a batch replayed
    after its index append reproduces its first decision and rewrites
    its own delta and shard — exactly-once.  Pass it to
    ``writeStream.foreachBatch``; the caller picks the trigger."""
    from trial_data_ingestion_spark.multimodal.phash import (
        dedup_media_incremental,
    )

    return batch_sink(lambda df, key: dedup_media_incremental(
        df.sparkSession, df, index_path, hasher=hasher, delta=key),
        out_path)
