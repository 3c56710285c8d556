"""Probe reads of the persisted stores (``store.read_partitions``): a
probe lists and reads only the partitions it names, and returns what
a full-root read filtered to the same keys returns — same rows, same
columns, same types — including when nothing it names exists."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR_ORACLE
from trial_data_ingestion_spark.store import read_partitions


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR_ORACLE}/embeddings.parquet")


def _keys(files, column):
    """The ``column=`` directory value of every file path."""
    return {int(re.search(rf"/{column}=(\d+)/", f).group(1))
            for f in files}


@pytest.fixture(scope="module")
def srp_path(spark, tmp_path_factory):
    """An SRP index of 256 buckets with a base delta and a
    numeric-looking appended delta ``7``; the append comes from rows
    the base never saw, so some buckets exist under ``delta=7`` only."""
    from trial_data_ingestion_spark.operators.similarity import (
        write_srp_index,
    )
    emb = _emb(spark)
    path = str(tmp_path_factory.mktemp("store") / "srp")
    write_srp_index(emb.where(F.col("vec_id") < 150), path, dim=64,
                    num_planes=8)
    write_srp_index(emb.where(F.col("vec_id") >= 150), path, dim=64,
                    mode="append", delta_id="7")
    return path


def _buckets(path, delta):
    return {int(d.split("=")[1])
            for d in os.listdir(f"{path}/delta={delta}")
            if d.startswith("bucket=")}


def test_srp_probe_reads_only_probed_buckets(spark, srp_path):
    """``topk_lsh_over_index``'s relation holds only files of the
    probed bucket directories (of both deltas), where a full-root
    read's relation lists every bucket of the index."""
    from trial_data_ingestion_spark.operators.similarity import (
        srp_bucket, topk_lsh_over_index,
    )
    qs = (_emb(spark).where(F.col("vec_id").isin(0, 1))
          .select(F.col("vec_id").alias("query_id"),
                  F.col("embedding").alias("query_vec")))
    out = topk_lsh_over_index(spark, srp_path, qs, dim=64, k=5)
    base = [r.b for r in
            qs.select(srp_bucket("query_vec", 64, 8).alias("b")).collect()]
    probes = {b ^ x for b in base for x in [0] + [1 << p for p in range(8)]}
    files = out.inputFiles()
    assert files and _keys(files, "bucket") <= probes
    assert len(_keys(spark.read.parquet(srp_path).inputFiles(),
                     "bucket")) > len(probes)
    assert out.count() == 10


def test_delta_layered_minhash_probe_reads_only_probed_pbkts(
        spark, sf_dir, tmp_path):
    """The MinHash cross-candidate probe over a base + appended-delta
    band store reads only the probe's own ``pbkt`` directories."""
    from trial_data_ingestion_spark.operators.incremental_dedup import (
        _banded, _pbkt, cross_candidates, write_minhash_index,
    )
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text"))
    path = str(tmp_path / "mh")
    write_minhash_index(docs.where(F.col("doc_id") < 300), path,
                        num_buckets=64)
    write_minhash_index(docs.where(F.col("doc_id") >= 300), path,
                        num_buckets=64, mode="append", delta_id="d1")
    probe = _banded(docs.orderBy("doc_id").limit(2), "doc_id", "text",
                    8, 32, 8)
    pbkts = {r.p for r in probe.select(_pbkt(64).alias("p")).collect()}
    files = [f for f in cross_candidates(spark, probe, path, 64)
             .inputFiles() if "/mh/bands/" in f]
    assert {"delta=base", "delta=d1"} <= {
        re.search(r"/(delta=[^/]+)/", f).group(1) for f in files}
    assert files and _keys(files, "pbkt") <= pbkts < set(range(64))


@pytest.mark.parametrize("values", [[], [256, 300]])
def test_all_miss_probe_is_empty_with_store_columns(spark, srp_path,
                                                    values):
    """No probed partition on disk (or no key at all): 0 rows, and
    the columns and types of a full-root read."""
    got = read_partitions(spark, srp_path, "bucket", values)
    assert got.count() == 0
    assert got.schema == spark.read.parquet(srp_path).schema


def test_numeric_delta_stays_string(spark, srp_path):
    """A probe that only reaches ``delta=7`` directories still types
    ``delta`` as a string, as the full-root read does beside
    ``base``; rows match the filtered full-root read, and
    ``exclude_delta`` drops them."""
    only7 = sorted(_buckets(srp_path, "7") - _buckets(srp_path, "base"))
    assert only7
    full = spark.read.parquet(srp_path)
    got = read_partitions(spark, srp_path, "bucket", only7[:2])
    assert got.schema == full.schema
    assert dict(got.dtypes)["delta"] == "string"
    want = full.where(F.col("bucket").isin(only7[:2]))
    key = lambda df: sorted((r.vec_id, r.delta, r.bucket)
                            for r in df.collect())
    assert key(got) == key(want) and len(key(got)) > 0
    assert read_partitions(spark, srp_path, "bucket", only7[:2],
                           exclude_delta="7").count() == 0
    mixed = sorted(_buckets(srp_path, "7") & _buckets(srp_path, "base"))
    kept = read_partitions(spark, srp_path, "bucket", mixed[:3],
                           exclude_delta="7")
    assert {r.delta for r in kept.collect()} == {"base"}


def test_empty_store_with_schema_reads_empty(spark, tmp_path):
    """A store with no partition directory yet (initialized over an
    empty input) reads as an empty frame of the given schema."""
    path = str(tmp_path / "lines")
    (spark.createDataFrame([], "line long, pbkt int")
     .write.partitionBy("pbkt").parquet(path))
    got = read_partitions(spark, path, "pbkt", [1, 2],
                          schema="line long, pbkt int")
    assert got.count() == 0 and got.columns == ["line", "pbkt"]


def _analyzed(spark, col):
    return (spark.range(1).select(F.lit("a b c").alias("text"))
            .select(col.alias("out"))
            ._jdf.queryExecution().analyzed().toString())


def _gram_hofs():
    from trial_data_ingestion_spark.operators import (
        decontam, dedup, textstats,
    )
    return {
        "decontam.token_ngrams": (
            lambda: decontam.token_ngrams(F.col("text"), 2),
            "regexp_replace("),
        "decontam._span_gram_array": (
            lambda: decontam._span_gram_array("text", 2), "split("),
        "textstats.top_ngram_ratio": (
            lambda: textstats.top_ngram_ratio(F.col("text")), "split("),
        "dedup.char_shingles": (
            lambda: dedup.char_shingles(F.col("text"), 3),
            "regexp_replace("),
    }


@pytest.mark.parametrize("name", sorted(_gram_hofs()))
def test_gram_hof_tokenizes_once(spark, name):
    """The tokenizer appears once in each gram expression: it is
    let-bound, not re-evaluated inside the per-gram lambda."""
    make, tokenizer = _gram_hofs()[name]
    assert _analyzed(spark, make()).count(tokenizer) == 1


def test_gram_occurrences_tokenize_once(spark):
    """``substring_dedup._gram_occurrences`` builds its grams through
    the same let-bound path."""
    from trial_data_ingestion_spark.operators.substring_dedup import (
        _gram_occurrences,
    )
    df = spark.createDataFrame([(1, "a b c d")], "doc_id int, text string")
    occ = _gram_occurrences(df, "doc_id", "text", 2, hash_grams=False)
    plan = occ._jdf.queryExecution().analyzed().toString()
    assert plan.count("split(") == 1
    assert sorted((r.pos, r.g) for r in occ.collect()) == [
        (0, "a b"), (1, "b c"), (2, "c d")]
