"""One small store and its batches for each store-backed incremental
operator and each of the six ``foreachBatch`` sinks, shared by the
tests of the sink contract (``store.batch_sink``): a retried probe,
two queries over one ``out_path``, a failed shard write, and the
session conf."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from tests.conftest import SF_DIR_ORACLE
from trial_data_ingestion_spark.multimodal.codecs import encode_bmp
from trial_data_ingestion_spark.multimodal.phash import (
    dedup_media_incremental, image_hasher, write_phash_index,
)
from trial_data_ingestion_spark.operators.clustering import write_centroids
from trial_data_ingestion_spark.operators.incremental_dedup import (
    dedup_minhash_incremental, embedding_dedup_stream_sink,
    embedding_near_dups_incremental, minhash_dedup_stream_sink,
    write_minhash_index,
)
from trial_data_ingestion_spark.operators.line_dedup import (
    line_dedup_incremental, write_line_index,
)
from trial_data_ingestion_spark.operators.similarity import write_srp_index
from trial_data_ingestion_spark.operators.sketches import hll_stream_sink
from trial_data_ingestion_spark.store import read_table
from trial_data_ingestion_spark.streaming.documents import (
    clustered_document_sink, deduped_media_sink, line_deduped_document_sink,
)

#: the operators that probe a store and append the batch as a delta
OPERATORS = ["minhash", "embedding", "line", "media"]
#: every sink: the four above, cluster assignment (no store) and the
#: HLL sketch table (whose store is its output)
SINKS = OPERATORS + ["cluster", "hll"]

#: the sub-tables each operator's store keeps rows in
_TABLES = {"minhash": ["bands", "docs"], "embedding": [""],
           "line": ["lines"], "media": ["bands", "docs"]}


def _docs(spark):
    return (spark.read.parquet(f"{SF_DIR_ORACLE}/documents.parquet")
            .select("doc_id", "text"))


def _emb(spark):
    return (spark.read.parquet(f"{SF_DIR_ORACLE}/embeddings.parquet")
            .select("vec_id", "embedding"))


def _image(seed):
    px = np.random.RandomState(seed).randint(
        0, 256, (24, 24)).astype(np.uint8)
    return bytearray(encode_bmp(np.stack([px] * 3, axis=-1)))


def _vectors(spark, first_id):
    return spark.createDataFrame(
        [(first_id + i, [1.0 if i % 2 else 0.0, 0.0 if i % 2 else 1.0,
                         0.1, 0.0]) for i in range(6)],
        "vec_id long, embedding array<float>")


def build_store(spark, kind, root):
    """Build the store ``kind`` reads at ``root``: an index over the
    corpus the first batch is deduplicated against, an empty
    fingerprint index, or a two-cell codebook.  The HLL table is built
    by its first write."""
    if kind == "minhash":
        write_minhash_index(_docs(spark).where("doc_id < 300"), root,
                            num_buckets=16)
    elif kind == "embedding":
        write_srp_index(_emb(spark).where("vec_id < 300"), root, dim=64)
    elif kind == "line":
        write_line_index(_docs(spark).where("doc_id < 200"), root)
    elif kind == "media":
        write_phash_index(spark.createDataFrame(
            [], "media_id string, phash long"), root, max_hamming=4)
    elif kind == "cluster":
        write_centroids(spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
            "cell_id int, centroid array<double>"), root)


def first_batch(spark, kind):
    """A batch that keeps some rows and, for the four operators, drops
    some against the store or within itself."""
    if kind == "minhash":
        return _docs(spark).where("doc_id >= 300 AND doc_id < 340")
    if kind == "embedding":
        return _emb(spark).where("vec_id >= 300 AND vec_id < 340")
    if kind == "line":
        return _docs(spark).where("doc_id >= 200 AND doc_id < 260")
    if kind == "media":
        rows = [(f"m{i}", _image(i)) for i in range(8)]
        rows += [(f"m{i}x", _image(i)) for i in (0, 3)]
        return spark.createDataFrame(rows, "media_id string, media binary")
    if kind == "cluster":
        return _vectors(spark, 0)
    return spark.createDataFrame([(i % 3, i) for i in range(60)],
                                 "event_type int, user_id long")


def second_batch(spark, kind, kept):
    """A second query's batch.  For the four operators: near or exact
    copies, under new ids, of ``kept`` (the first batch's output), so
    a probe that sees the first batch's delta drops them; otherwise
    new rows."""
    if kind == "minhash":
        return kept.select((F.col("doc_id") + 100_000).alias("doc_id"),
                           F.concat("text", F.lit(" ok")).alias("text"))
    if kind == "embedding":
        # a positive rescale: cosine 1, same SRP bucket
        return kept.select(
            (F.col("vec_id") + 100_000).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(1.001))
             .cast("array<float>").alias("embedding"))
    if kind == "line":
        return kept.select((F.col("doc_id") + 100_000).alias("doc_id"),
                           "text")
    if kind == "media":
        return kept.select(F.concat("media_id", F.lit("y"))
                           .alias("media_id"), "media")
    if kind == "cluster":
        return _vectors(spark, 100)
    return spark.createDataFrame([(i % 3, 1000 + i) for i in range(60)],
                                 "event_type int, user_id long")


def probe(spark, kind, df, root, delta):
    """The incremental operator of ``kind`` over the store at
    ``root``."""
    if kind == "minhash":
        return dedup_minhash_incremental(spark, df, root, delta=delta)
    if kind == "embedding":
        return embedding_near_dups_incremental(spark, df, root, 64,
                                               delta=delta)
    if kind == "line":
        return line_dedup_incremental(spark, df, root, delta=delta)
    return dedup_media_incremental(spark, df, root, image_hasher,
                                   delta=delta)


def sink(kind, root, out):
    """The ``foreachBatch`` function of ``kind``'s sink, reading the
    store at ``root`` and writing shards under ``out`` (the HLL sink's
    table is ``out``)."""
    if kind == "minhash":
        return minhash_dedup_stream_sink(root, out)
    if kind == "embedding":
        return embedding_dedup_stream_sink(root, out, dim=64)
    if kind == "line":
        return line_deduped_document_sink(root, out)
    if kind == "media":
        return deduped_media_sink(root, out, hasher=image_hasher)
    if kind == "cluster":
        return clustered_document_sink(root, out, dim=4)
    return hll_stream_sink(out, ["event_type"], "user_id")


def rows(df):
    """Every row of ``df``, as sorted tuples."""
    return sorted((tuple(r) for r in df.collect()), key=repr)


def store_rows(spark, kind, root):
    """Every row of every sub-table of the store at ``root``."""
    return [rows(read_table(spark, root, t)) for t in _TABLES[kind]]


def deltas(spark, kind, root):
    """The ``delta`` values of the store at ``root``."""
    return {r["delta"] for t in _TABLES[kind]
            for r in read_table(spark, root, t).select("delta")
            .distinct().collect()}
