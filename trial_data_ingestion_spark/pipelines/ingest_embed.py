"""Chunk -> embed -> upsert pipeline (SURVEY.md §3.2), the Spark
rebuild of ``pipelines/ingest_and_embed.py:46-127``:

    records -> P9 stable doc id -> C2/C3 chunking (registry C5)
            -> P10 chunk ids + P15 metadata -> E1 embed (test-double
            default) -> K5/J6 bucketed parquet upsert

One lazy DAG; the embed stage is the only Python barrier.  Ids are
deterministic (doc_id from DOI-or-content-hash, chunk_id =
``{doc_id}::c{index}``), which is what makes the upsert idempotent —
re-running replaces rather than duplicates (the reference's Chroma
upsert contract, vectorstores/chroma_store.py:46-51).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trial_data_ingestion_spark.functions.text import (
    normalize_doi, sections_to_text, stable_doc_id,
)
from trial_data_ingestion_spark.operators.chunking import (
    chunk_by_section, chunk_fixed,
)
from trial_data_ingestion_spark.operators.embedding import (
    E5_PREFIX, embed_text, resolve_backend,
)
from trial_data_ingestion_spark.sinks import read_upsert_table, upsert_parquet


@dataclass
class RunConfig:
    """Mirrors the reference RunConfig defaults
    (pipelines/ingest_and_embed.py:29-44)."""
    chunker: str = "by_section"          # C5 registry: by_section|fixed
    chunk_size: int = 1200
    chunk_overlap: int = 120
    embed_backend: str = "hash"          # offline-deterministic default
    embed_model: str = "hash-64"
    embed_batch: int = 64
    embed_dim: int = 64
    e5_prefix: bool = False              # E3
    experiment: str = "default"
    upsert_buckets: int = 16


CHUNKERS = ("by_section", "fixed")  # C5 — chunkers.py:134-137


def build_chunks(records: DataFrame, cfg: RunConfig) -> DataFrame:
    """records (FULLTEXT_RECORD shape) -> chunk rows with metadata."""
    if cfg.chunker not in CHUNKERS:
        raise ValueError(f"Unknown chunker: {cfg.chunker}. "
                         f"Choose from {CHUNKERS}")
    # P1 before P9: the reference's _doc_id_from_record normalizes the
    # DOI first (ingest_and_embed.py:20-26), so 'https://doi.org/10.1/X'
    # and '10.1/x' yield ONE doc_id — without this the "deterministic
    # id" upsert contract would be input-format-dependent and re-ingests
    # with a differently formatted DOI would duplicate rows.
    docs = records.withColumn(
        "doc_id", stable_doc_id(normalize_doi(F.col("doi")), F.col("title"),
                                F.col("journal")))
    if cfg.chunker == "by_section":
        chunks = chunk_by_section(docs, "sections", "doc_id",
                                  cfg.chunk_size, cfg.chunk_overlap)
    else:
        flat = docs.withColumn("__flat", sections_to_text(F.col("sections")))
        chunks = (chunk_fixed(flat, "__flat", "doc_id",
                              cfg.chunk_size, cfg.chunk_overlap)
                  .withColumn("section_path",
                              F.lit(None).cast("string")))
    meta_cols = docs.select("doc_id", "doi", "title", "journal",
                            "source", "pmcid")
    # P15 — 13 metadata fields (ingest_and_embed.py:79-94)
    return (
        chunks.join(meta_cols, "doc_id")
              .withColumn("chunker", F.lit(cfg.chunker))
              .withColumn("chunk_size", F.lit(cfg.chunk_size))
              .withColumn("chunk_overlap", F.lit(cfg.chunk_overlap))
              .withColumn("embed_backend", F.lit(cfg.embed_backend))
              .withColumn("embed_model", F.lit(cfg.embed_model))
              .withColumn("experiment", F.lit(cfg.experiment))
              .withColumnRenamed("chunk_text", "text")
    )


def run_ingest_and_embed(spark: SparkSession, records: DataFrame,
                         store_path: str,
                         cfg: Optional[RunConfig] = None) -> DataFrame:
    """Full pipeline; writes the vector table and returns the lazy
    embedded-chunks DataFrame (re-read from the store for stability,
    under its recorded schema: ``sinks.read_upsert_table``)."""
    cfg = cfg or RunConfig()
    chunks = build_chunks(records, cfg)
    factory = resolve_backend(cfg.embed_backend, dim=cfg.embed_dim) \
        if cfg.embed_backend == "hash" else resolve_backend(cfg.embed_backend)
    embedded = embed_text(chunks, "text", factory,
                          prefix=E5_PREFIX if cfg.e5_prefix else None)
    upsert_parquet(spark, embedded, store_path, key="chunk_id",
                   n_buckets=cfg.upsert_buckets)
    return read_upsert_table(spark, store_path)
