"""The persisted-store contract (``store.py``).  Probe reads
(``store.read_partitions``): a probe lists and reads only the
partitions it names, and returns what a full-root read filtered to
the same keys returns — same rows, same columns, same types —
including when nothing it names exists.  Params sidecars
(``store.write_params``/``read_params``): every store records its
build-time params in one ``_params.json`` at its root, read and
written without a Spark job, and a missing or corrupt sidecar raises
instead of defaulting.  Models and index state the driver holds
(merges, pieces, codebooks, centroids) live in the same sidecar, so
loading them runs no Spark job either."""

from __future__ import annotations

import json
import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from tests import sink_cases
from tests.conftest import SF_DIR_ORACLE
from trial_data_ingestion_spark.session import local_frame
from trial_data_ingestion_spark.store import (
    entry_frame, new_delta, read_params, read_partitions, read_table,
    write_params,
)


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR_ORACLE}/embeddings.parquet")


def _keys(files, column):
    """The ``column=`` directory value of every file path."""
    return {int(re.search(rf"/{column}=(\d+)/", f).group(1))
            for f in files}


@pytest.fixture(scope="module")
def srp_path(spark, tmp_path_factory):
    """An SRP index of 256 buckets in 8 ``pbkt`` partitions (the low 3
    bits of the bucket id) with a base delta and a numeric-looking
    appended delta ``7``.  The append holds the rows the base never
    saw, among them every row of ``pbkt`` 7, so that partition exists
    under ``delta=7`` only."""
    from trial_data_ingestion_spark.operators.similarity import (
        srp_bucket, write_srp_index,
    )
    emb = _emb(spark)
    base = ((F.col("vec_id") < 150)
            & (srp_bucket("embedding", 64, 8).bitwiseAND(7) != 7))
    path = str(tmp_path_factory.mktemp("store") / "srp")
    write_srp_index(emb.where(base), path, dim=64, num_planes=8)
    write_srp_index(emb.where(~base), path, dim=64, delta="7")
    assert read_params(spark, path)["num_buckets"] == 8
    return path


def _pbkts(path, delta):
    return {int(d.split("=")[1])
            for d in os.listdir(f"{path}/delta={delta}")
            if d.startswith("pbkt=")}


def _probes(spark, qs):
    """The Hamming-1 probe buckets of the 8-plane queries ``qs``."""
    from trial_data_ingestion_spark.operators.similarity import srp_bucket
    base = [r.b for r in
            qs.select(srp_bucket("query_vec", 64, 8).alias("b")).collect()]
    return {b ^ x for b in base for x in [0] + [1 << p for p in range(8)]}


def _bucket_filter(spark, df) -> set:
    """The literal ``bucket IN (...)`` list that ``df``'s plan pushes
    to its parquet scan (empty when there is none)."""
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    found = re.search(r"PushedFilters: \[In\(bucket, \[([\d,]+)\]\)",
                      plan)
    return {int(v) for v in found.group(1).split(",")} if found else set()


def _same_rows_as_topk_lsh(spark, got, qs, k):
    """``got`` holds exactly ``topk_lsh``'s rows over the whole
    fixture corpus (the index's base and append together), ranks and
    tied scores included."""
    from trial_data_ingestion_spark.operators.similarity import topk_lsh
    key = lambda df: sorted(tuple(r) for r in df.collect())
    return key(got) == key(topk_lsh(_emb(spark), qs, dim=64, k=k,
                                    num_planes=8))


def test_srp_probe_reads_only_probed_buckets(spark, srp_path):
    """``topk_lsh_over_index`` over two queries that share a ``pbkt``
    reads only files of their probed buckets' ``pbkt`` directories
    (of both deltas: 4 of the 8), where a full-root read's relation
    lists all 8; its plan keeps the probed buckets by a literal
    ``bucket IN (...)`` filter; and it returns ``topk_lsh``'s rows."""
    from trial_data_ingestion_spark.operators.similarity import (
        srp_bucket, topk_lsh_over_index,
    )
    by_pbkt = {}
    for r in (_emb(spark).where(F.col("vec_id") < 40)
              .select("vec_id", srp_bucket("embedding", 64, 8)
                      .bitwiseAND(7).alias("p")).collect()):
        by_pbkt.setdefault(r.p, []).append(r.vec_id)
    pair = next(ids[:2] for ids in by_pbkt.values() if len(ids) > 1)
    qs = (_emb(spark).where(F.col("vec_id").isin(*pair))
          .select(F.col("vec_id").alias("query_id"),
                  F.col("embedding").alias("query_vec")))
    out = topk_lsh_over_index(spark, srp_path, qs, dim=64, k=5)
    probes = _probes(spark, qs)
    probed = {b & 7 for b in probes}
    assert len(probed) == 4
    files = out.inputFiles()
    assert files and _keys(files, "pbkt") <= probed
    assert {"delta=base", "delta=7"} <= {
        re.search(r"/(delta=[^/]+)/", f).group(1) for f in files}
    assert _keys(spark.read.parquet(srp_path).inputFiles(),
                 "pbkt") == set(range(8))
    assert _bucket_filter(spark, out) == probes
    assert out.count() == 10
    assert _same_rows_as_topk_lsh(spark, out, qs, 5)


def test_one_query_srp_probe_reads_only_probed_buckets(spark, srp_path,
                                                       monkeypatch):
    """A single query is ranked on the driver and comes back as a
    local frame, so the pruning check moves to the index read itself:
    the frame ``_read_buckets`` hands the query holds only files of
    the query's probed ``pbkt`` partitions and filters ``bucket`` by
    literal, and the query returns ``topk_lsh``'s rows."""
    from trial_data_ingestion_spark.operators import similarity

    reads = []
    read_buckets = similarity._read_buckets

    def recording(*args, **kwargs):
        reads.append(read_buckets(*args, **kwargs))
        return reads[-1]

    monkeypatch.setattr(similarity, "_read_buckets", recording)
    qs = _one_query(spark)
    out = similarity.topk_lsh_over_index(spark, srp_path, qs, dim=64, k=5)
    assert out.count() == 5 and len(reads) == 1
    probes = _probes(spark, qs)
    probed = {b & 7 for b in probes}
    assert len(probed) == 4
    files = reads[0].inputFiles()
    assert files and _keys(files, "pbkt") <= probed
    assert _bucket_filter(spark, reads[0]) == probes
    assert _same_rows_as_topk_lsh(spark, out, qs, 5)


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
                        num_buckets=64, delta="d1")
    probe = _banded(docs.orderBy("doc_id").limit(2), "doc_id", "text",
                    8, 32, 8)
    pbkts = {r.p for r in probe.select(_pbkt(64).alias("p")).collect()}
    files = [f for f in cross_candidates(spark, probe, path, 64)
             .inputFiles() if "/mh/bands/" in f]
    assert {"delta=base", "delta=d1"} <= {
        re.search(r"/(delta=[^/]+)/", f).group(1) for f in files}
    assert files and _keys(files, "pbkt") <= pbkts < set(range(64))


@pytest.mark.parametrize("values", [[], [8, 300]])
def test_all_miss_probe_is_empty_with_store_columns(spark, srp_path,
                                                    values):
    """No probed partition on disk (or no key at all): 0 rows, and
    the columns and types of a full-root read."""
    got = read_partitions(spark, srp_path, "pbkt", values)
    assert got.count() == 0
    assert got.schema == spark.read.parquet(srp_path).schema


def test_numeric_delta_stays_string(spark, srp_path):
    """A probe that only reaches ``delta=7`` directories still types
    ``delta`` as a string, as the full-root read does beside
    ``base``; rows match the filtered full-root read, and
    ``exclude_delta`` drops them."""
    only7 = sorted(_pbkts(srp_path, "7") - _pbkts(srp_path, "base"))
    assert only7 == [7]
    full = spark.read.parquet(srp_path)
    got = read_partitions(spark, srp_path, "pbkt", only7)
    assert got.schema == full.schema
    assert dict(got.dtypes)["delta"] == "string"
    want = full.where(F.col("pbkt").isin(only7))
    key = lambda df: sorted((r.vec_id, r.delta, r.pbkt)
                            for r in df.collect())
    assert key(got) == key(want) and len(key(got)) > 0
    assert read_partitions(spark, srp_path, "pbkt", only7,
                           exclude_delta="7").count() == 0
    mixed = sorted(_pbkts(srp_path, "7") & _pbkts(srp_path, "base"))
    kept = read_partitions(spark, srp_path, "pbkt", mixed[:3],
                           exclude_delta="7")
    assert {r.delta for r in kept.collect()} == {"base"}


def test_empty_store_with_schema_reads_empty(spark, tmp_path):
    """A store with no partition directory yet (initialized over an
    empty input) reads as an empty frame of its recorded schema."""
    from trial_data_ingestion_spark.operators.line_dedup import (
        write_line_index,
    )
    path = str(tmp_path / "line")
    write_line_index(_docs(spark).limit(0), path)
    assert not [d for d in os.listdir(f"{path}/lines") if "=" in d]
    got = read_partitions(spark, path, "pbkt", [1, 2], "lines")
    assert got.count() == 0
    assert got.dtypes == [("line", "bigint"), ("delta", "string"),
                          ("pbkt", "int")]


def _docs(spark, n=40):
    return (spark.read.parquet(f"{SF_DIR_ORACLE}/documents.parquet")
            .where(F.col("doc_id") < n).select("doc_id", "text"))


def _hashes(spark):
    return spark.createDataFrame(
        [(f"m{i}", i * 1_000_003) for i in range(40)],
        "media_id string, phash long")


def _one_query(spark):
    return (_emb(spark).where(F.col("vec_id") == 0)
            .select(F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("query_vec")))


def _probe(spark, kind, path):
    """Run the store's own probe over ``path`` to completion."""
    if kind == "minhash":
        from trial_data_ingestion_spark.operators.incremental_dedup \
            import dedup_minhash_incremental
        return dedup_minhash_incremental(spark, _docs(spark, 5),
                                         path).count()
    if kind == "srp":
        from trial_data_ingestion_spark.operators.similarity import (
            topk_lsh_over_index,
        )
        return topk_lsh_over_index(spark, path, _one_query(spark),
                                   dim=64).count()
    if kind == "line":
        from trial_data_ingestion_spark.operators.line_dedup import (
            line_dedup_incremental,
        )
        return line_dedup_incremental(spark, _docs(spark, 5),
                                      path).count()
    import numpy as np

    from trial_data_ingestion_spark.multimodal.codecs import encode_bmp
    from trial_data_ingestion_spark.multimodal.phash import (
        dedup_media_incremental, image_hasher,
    )
    img = bytearray(encode_bmp(np.zeros((8, 8, 3), np.uint8)))
    media = spark.createDataFrame([("q0", img)],
                                  "media_id string, media binary")
    return dedup_media_incremental(spark, media, path,
                                   image_hasher).count()


#: the params each store's fixture build records
_STORE_PARAMS = {
    "minhash": {"k": 8, "num_hashes": 32, "bands": 8, "num_buckets": 8},
    "srp": {"num_planes": 6, "dim": 64, "num_buckets": 8},
    "line": {"min_chars": 10, "num_buckets": 16},
    "phash": {"max_hamming": 4, "num_buckets": 16},
}


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    """One small store of each kind with a params sidecar, built once;
    tests that damage a sidecar work on a copy (:func:`_copy`)."""
    from trial_data_ingestion_spark.multimodal.phash import (
        write_phash_index,
    )
    from trial_data_ingestion_spark.operators.incremental_dedup import (
        write_minhash_index,
    )
    from trial_data_ingestion_spark.operators.line_dedup import (
        write_line_index,
    )
    from trial_data_ingestion_spark.operators.similarity import (
        write_srp_index,
    )
    root = tmp_path_factory.mktemp("sidecars")
    paths = {kind: str(root / kind) for kind in _STORE_PARAMS}
    write_minhash_index(_docs(spark), paths["minhash"], num_buckets=8)
    write_srp_index(_emb(spark), paths["srp"], dim=64, num_planes=6)
    write_line_index(_docs(spark), paths["line"], num_buckets=16)
    write_phash_index(_hashes(spark), paths["phash"], max_hamming=4,
                      num_buckets=16)
    return paths


def _copy(stores, kind, tmp_path):
    dst = str(tmp_path / kind)
    shutil.copytree(stores[kind], dst)
    return dst


@pytest.mark.parametrize("kind", sorted(_STORE_PARAMS))
def test_params_sidecar_round_trip(spark, stores, kind):
    """Each store's build records its params in ``_params.json`` at
    the root — the only sidecar — and its probe runs from them."""
    path = stores[kind]
    assert read_params(spark, path) == _STORE_PARAMS[kind]
    assert read_params(spark, path, expect=_STORE_PARAMS[kind]) \
        == _STORE_PARAMS[kind]
    assert not [f for f in os.listdir(path) if f.startswith("_")
                and f not in ("_params.json", "_SUCCESS")]
    assert "params" not in os.listdir(path)
    _probe(spark, kind, path)


@pytest.mark.parametrize("kind", sorted(_STORE_PARAMS))
def test_missing_params_sidecar_raises(spark, stores, kind, tmp_path):
    path = _copy(stores, kind, tmp_path)
    os.remove(f"{path}/_params.json")
    os.remove(f"{path}/._params.json.crc")
    with pytest.raises(ValueError,
                       match=re.escape(f"{path}/_params.json")):
        read_params(spark, path)
    with pytest.raises(ValueError, match="no params sidecar"):
        _probe(spark, kind, path)


@pytest.mark.parametrize("damage", ["garbage", "truncated"])
@pytest.mark.parametrize("kind", sorted(_STORE_PARAMS))
def test_corrupt_params_sidecar_raises(spark, stores, kind, damage,
                                       tmp_path):
    """Unparseable or truncated JSON raises, naming the file.  The
    local-FS checksum is dropped so the read reaches the content
    (a stale checksum would raise too, but earlier)."""
    path = _copy(stores, kind, tmp_path)
    sidecar = f"{path}/_params.json"
    with open(sidecar) as fh:
        text = fh.read()
    with open(sidecar, "w") as fh:
        fh.write("{not json" if damage == "garbage"
                 else text[:len(text) // 2])
    os.remove(f"{path}/._params.json.crc")
    with pytest.raises(ValueError,
                       match="corrupt params sidecar at "
                       + re.escape(sidecar)):
        read_params(spark, path)
    with pytest.raises(ValueError, match="corrupt params sidecar"):
        _probe(spark, kind, path)


def test_srp_index_with_only_legacy_sidecar_raises(spark, stores,
                                                   tmp_path):
    """An SRP index in the older layout — plane count in a JSON
    sidecar directory, no ``_params.json`` — is refused by the probe
    and by an append, instead of being hashed with a default 8
    planes (it recorded 6)."""
    from trial_data_ingestion_spark.operators.similarity import (
        topk_lsh_over_index, write_srp_index,
    )
    path = _copy(stores, "srp", tmp_path)
    os.remove(f"{path}/_params.json")
    os.remove(f"{path}/._params.json.crc")
    (spark.createDataFrame([(6, 64)], "num_planes int, dim int")
     .coalesce(1).write.json(f"{path}/_srp_meta"))
    with pytest.raises(ValueError, match="no params sidecar"):
        topk_lsh_over_index(spark, path, _one_query(spark), dim=64)
    with pytest.raises(ValueError, match="no params sidecar"):
        write_srp_index(_emb(spark).limit(3), path, dim=64,
                        delta=new_delta())


def test_srp_index_in_bucket_directory_layout_is_refused(spark,
                                                         tmp_path):
    """An SRP index in the older layout, one directory per bucket
    (recorded ``partition_by [delta, bucket]``, no ``num_buckets``),
    is refused with "rebuild the store" by a query, an append (with
    the index's own plane count, so the refusal is the layout's) and
    an incremental probe, each before any Spark job runs; the refused
    append leaves the index as it was."""
    from trial_data_ingestion_spark.functions.vector import l2_norm_fixed
    from trial_data_ingestion_spark.operators.incremental_dedup import (
        embedding_near_dups_incremental,
    )
    from trial_data_ingestion_spark.operators.similarity import (
        srp_bucket, topk_lsh_over_index, write_srp_index,
    )
    from trial_data_ingestion_spark.store import layout_of
    path = str(tmp_path / "srp")
    old = (_emb(spark).where("vec_id < 100")
           .withColumn("__nrm", l2_norm_fixed("embedding", 64))
           .withColumn("bucket", srp_bucket("embedding", 64, 6))
           .withColumn("delta", F.lit("base")))
    old.write.partitionBy("delta", "bucket").parquet(path)
    write_params(spark, path, {
        "num_planes": 6, "dim": 64,
        "layout": {"": layout_of(old, ["delta", "bucket"])}})
    before = sorted(os.listdir(f"{path}/delta=base"))
    batch = _emb(spark).where("vec_id >= 100 AND vec_id < 110")
    query = _one_query(spark)
    calls = {
        "query": lambda: topk_lsh_over_index(spark, path, query, dim=64),
        "append": lambda: write_srp_index(batch, path, dim=64,
                                          num_planes=6, delta="b1"),
        "incremental": lambda: embedding_near_dups_incremental(
            spark, batch, path, 64, delta="b1"),
    }
    for name, call in calls.items():
        def refused():
            with pytest.raises(ValueError, match="rebuild the store"):
                call()
        n = _jobs(spark, f"old-srp-{name}", refused)
        assert n == 0, f"{name} ran {n} Spark jobs before refusing"
    assert [d for d in os.listdir(path) if "=" in d] == ["delta=base"]
    assert sorted(os.listdir(f"{path}/delta=base")) == before


def _leaf_dirs(root):
    """``{directory: part-file count}`` for every directory under
    ``root`` that holds part files."""
    return {d: n for d, n in (
        (d, sum(f.startswith("part-") for f in files))
        for d, _, files in os.walk(root)) if n}


def test_srp_layout_stays_within_num_buckets(spark, tmp_path):
    """A 12-plane index (4,096 buckets) over 300 fixture vectors, read
    in 4 partitions, writes at most its recorded ``num_buckets``
    directories per delta, one file each; so does the delta one
    ``embedding_dedup_stream_sink`` micro-batch appends."""
    from trial_data_ingestion_spark.operators.incremental_dedup import (
        embedding_dedup_stream_sink,
    )
    from trial_data_ingestion_spark.operators.similarity import (
        write_srp_index,
    )
    emb = _emb(spark).repartition(4)
    path = str(tmp_path / "srp")
    write_srp_index(emb.where("vec_id < 300"), path, dim=64,
                    num_planes=12)
    params = read_params(spark, path)
    assert params["num_planes"] == 12 and params["num_buckets"] == 8
    embedding_dedup_stream_sink(path, str(tmp_path / "out"), dim=64)(
        emb.where("vec_id >= 300"), 0)
    deltas = sorted(d for d in os.listdir(path) if d.startswith("delta="))
    assert deltas == ["delta=base", "delta=batch-000000000"]
    for delta in deltas:
        dirs = os.listdir(f"{path}/{delta}")
        assert 0 < len(dirs) <= params["num_buckets"]
        assert all(d.startswith("pbkt=") for d in dirs)
        assert set(_leaf_dirs(f"{path}/{delta}").values()) == {1}


def test_srp_build_within_the_partition_floor_runs_no_count(
        spark, tmp_path, monkeypatch):
    """A build whose ``2^num_planes`` buckets fit within the
    8-partition floor records ``num_buckets = 2^num_planes`` without
    counting its input (a count re-runs an uncached input's whole
    lineage)."""
    from pyspark.sql import DataFrame

    from trial_data_ingestion_spark.operators.similarity import (
        write_srp_index,
    )

    def no_count(self):
        raise AssertionError("counted the input")
    monkeypatch.setattr(DataFrame, "count", no_count)
    for p in (2, 3):
        path = str(tmp_path / f"srp{p}")
        write_srp_index(_emb(spark).where("vec_id < 50"), path, dim=64,
                        num_planes=p)
        assert read_params(spark, path)["num_buckets"] == 1 << p


def _tree(root):
    """``{path: bytes}`` of every file under ``root``."""
    return {os.path.join(d, f): open(os.path.join(d, f), "rb").read()
            for d, _, files in os.walk(root) for f in files}


def test_append_with_other_params_raises(spark, tmp_path):
    """Appends validate against the stored params instead of
    rewriting them: a 64-bucket line store appended with
    ``num_buckets=32`` used to record 32, after which a probe of the
    store's own 40 lines found only 21 of them.  The same holds for
    a MinHash store appended with another ``num_buckets`` and an SRP
    index appended with another ``num_planes``: each refused append
    leaves every file of the store, rows and ``_params.json``, as the
    build wrote it."""
    from trial_data_ingestion_spark.multimodal.phash import (
        write_phash_index,
    )
    from trial_data_ingestion_spark.operators.incremental_dedup import (
        write_minhash_index,
    )
    from trial_data_ingestion_spark.operators.line_dedup import (
        line_dedup_incremental, write_line_index,
    )
    from trial_data_ingestion_spark.operators.similarity import (
        write_srp_index,
    )
    lines = spark.createDataFrame(
        [(i, f"line number {i:03d} of the store") for i in range(40)],
        "doc_id long, text string")
    emb = _emb(spark).where("vec_id < 100")
    # kind: (build, refused append, the stored value it names)
    cases = {
        "line": (lambda p: write_line_index(lines, p, num_buckets=64),
                 lambda p: write_line_index(lines.limit(1), p,
                                            num_buckets=32,
                                            delta=new_delta()),
                 "num_buckets=64"),
        "phash": (lambda p: write_phash_index(_hashes(spark), p,
                                              num_buckets=64),
                  lambda p: write_phash_index(_hashes(spark).limit(1), p,
                                              num_buckets=32,
                                              delta=new_delta()),
                  "num_buckets=64"),
        "minhash": (lambda p: write_minhash_index(_docs(spark), p,
                                                  num_buckets=8),
                    lambda p: write_minhash_index(_docs(spark, 5), p,
                                                  num_buckets=16,
                                                  delta="d1"),
                    "num_buckets=8"),
        "srp": (lambda p: write_srp_index(emb, p, dim=64, num_planes=6),
                lambda p: write_srp_index(emb.limit(5), p, dim=64,
                                          num_planes=3, delta="d1"),
                "num_planes=6"),
    }
    for kind, (build, append, stored) in cases.items():
        path = str(tmp_path / kind)
        build(path)
        before = _tree(path)
        with pytest.raises(ValueError, match=stored):
            append(path)
        assert _tree(path) == before, kind
    assert {r.n_removed_lines for r in line_dedup_incremental(
        spark, lines, str(tmp_path / "line")).collect()} == {1}


def test_phash_store_without_delta_level_refuses_append(spark, tmp_path):
    """A phash store written before the ``delta`` level (bands and
    docs partitioned by bucket alone) is refused on append, before
    anything is written, instead of gaining a ``delta=`` directory
    beside its ``pbkt=`` ones; so is a replay probe, which excludes
    a delta the store cannot name."""
    import numpy as np

    from trial_data_ingestion_spark.multimodal.codecs import encode_bmp
    from trial_data_ingestion_spark.multimodal.phash import (
        _band_table, dedup_media_incremental, image_hasher,
        write_phash_index,
    )
    path = str(tmp_path / "phash")
    (_band_table(_hashes(spark), 4)
     .withColumn("pbkt", F.pmod(F.xxhash64("band", "val"), F.lit(16)))
     .write.partitionBy("pbkt").parquet(path + "/bands"))
    (_hashes(spark).select(F.col("media_id").alias("doc"),
                           F.col("phash").alias("ph"),
                           F.pmod(F.xxhash64("media_id"),
                                  F.lit(16)).alias("dbkt"))
     .write.partitionBy("dbkt").parquet(path + "/docs"))
    write_params(spark, path, {"max_hamming": 4, "num_buckets": 16})
    before = {sub: sorted(os.listdir(f"{path}/{sub}"))
              for sub in ("bands", "docs")}
    with pytest.raises(ValueError, match="rebuild the store"):
        write_phash_index(_hashes(spark).limit(1), path,
                          num_buckets=16, delta=new_delta())
    img = bytearray(encode_bmp(np.zeros((8, 8, 3), np.uint8)))
    media = spark.createDataFrame([("q0", img)],
                                  "media_id string, media binary")
    with pytest.raises(ValueError, match="rebuild the store"):
        dedup_media_incremental(spark, media, path, image_hasher,
                                delta="batch-000000000")
    assert {sub: sorted(os.listdir(f"{path}/{sub}"))
            for sub in ("bands", "docs")} == before


def _jobs(spark, group, fn) -> int:
    return _jobs_and_tasks(spark, group, fn)[0]


def _jobs_and_tasks(spark, group, fn) -> tuple[int, int]:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = sum(tracker.getStageInfo(s).numTasks
                    for j in jobs for s in tracker.getJobInfo(j).stageIds)
        return len(jobs), tasks
    finally:
        sc.setJobGroup(None, None)


def test_params_io_runs_no_job_and_srp_probe_stays_lean(spark, stores,
                                                       tmp_path):
    """The sidecar is read and written on the driver: 0 Spark jobs.
    So one top-k query over the SRP index, read from parquet, runs at
    most 3 jobs: collecting the query, broadcasting its probe rows,
    and the driver-merged top-k.  The Spark-read JSON sidecar cost 2
    more, inferring the probed buckets' schema 1 more, and ranking
    with a window instead of a per-task top-k 1 more."""
    from trial_data_ingestion_spark.operators.similarity import (
        topk_lsh_over_index,
    )
    path = stores["srp"]
    assert _jobs(spark, "params-io", lambda: write_params(
        spark, str(tmp_path / "copy"), read_params(spark, path))) == 0
    assert read_params(spark, str(tmp_path / "copy")) \
        == _STORE_PARAMS["srp"]

    qs = _one_query(spark)

    def query():
        topk_lsh_over_index(spark, path, qs, dim=64, k=10).collect()
    query()                                       # warm
    n = _jobs(spark, "srp-probe", query)
    assert n <= 3, f"one SRP top-k query ran {n} Spark jobs"


def test_one_local_srp_query_runs_at_most_two_jobs(spark, stores):
    """A one-row ``local_frame`` query pays only for its index read:
    the broadcast of its probe rows and the per-task top-k."""
    from trial_data_ingestion_spark.operators.similarity import (
        topk_lsh_over_index,
    )
    vec = _one_query(spark).first()["query_vec"]
    qs = local_frame(spark, [(0, vec)],
                     "query_id long, query_vec array<float>")
    rows = []

    def query():
        rows[:] = topk_lsh_over_index(spark, stores["srp"], qs, dim=64,
                                      k=10).collect()
    query()                                       # warm
    n = _jobs(spark, "srp-local-query", query)
    assert n <= 2, f"one local SRP top-k query ran {n} Spark jobs"
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))


@pytest.fixture(scope="module")
def layout_stores(spark, tmp_path_factory):
    """One small store of each of the 8 kinds, each built from inputs
    in 4 partitions and then appended to (a second shard or upsert
    for HLL and upsert), with
    the session conf read before and after all those writes and one
    micro-batch of each of the six ``foreachBatch`` sinks (over stores
    of their own under ``sinks/``)."""
    from trial_data_ingestion_spark.multimodal.phash import (
        write_phash_index,
    )
    from trial_data_ingestion_spark.operators.incremental_dedup import (
        write_minhash_index,
    )
    from trial_data_ingestion_spark.operators.line_dedup import (
        write_line_index,
    )
    from trial_data_ingestion_spark.operators.quantization import (
        build_ivfpq,
    )
    from trial_data_ingestion_spark.operators.similarity import (
        append_to_ivf_index, first_id_centroids, write_ivf_index,
        write_srp_index,
    )
    from trial_data_ingestion_spark.operators.sketches import (
        write_hll_shard,
    )
    from trial_data_ingestion_spark.sinks import upsert_parquet
    root = tmp_path_factory.mktemp("layouts")
    p = {k: str(root / k) for k in ("minhash", "srp", "line", "phash",
                                    "ivf", "ivfpq", "hll", "upsert")}
    conf = dict(spark.conf.getAll)
    docs, emb, hashes = (_docs(spark).repartition(4),
                         _emb(spark).repartition(4),
                         _hashes(spark).repartition(4))
    old, new = F.col("doc_id") < 30, F.col("doc_id") >= 30
    write_minhash_index(docs.where(old), p["minhash"], num_buckets=8)
    write_minhash_index(docs.where(new), p["minhash"], num_buckets=8,
                        delta="7")
    write_line_index(docs.where(old), p["line"], num_buckets=16)
    write_line_index(docs.where(new), p["line"], num_buckets=16,
                     delta=new_delta())
    small = F.col("phash") < 20 * 1_000_003
    write_phash_index(hashes.where(small), p["phash"], num_buckets=16)
    write_phash_index(hashes.where(~small), p["phash"], num_buckets=16,
                      delta=new_delta())
    old, new = F.col("vec_id") < 150, F.col("vec_id") >= 150
    write_srp_index(emb.where(old), p["srp"], dim=64, num_planes=6)
    write_srp_index(emb.where(new), p["srp"], dim=64, num_planes=6,
                    delta=new_delta())
    cents = first_id_centroids(emb, num_cells=4)
    write_ivf_index(emb.where(old), cents, p["ivf"], dim=64)
    append_to_ivf_index(emb.where(new), p["ivf"])
    build_ivfpq(emb, dim=64, path=p["ivfpq"], num_cells=4, m=8, k=16,
                sample_size=500, seed=7)
    ev = spark.createDataFrame([(i % 3, i) for i in range(60)],
                               "event_type int, user_id long")
    write_hll_shard(ev, p["hll"], ["event_type"], "user_id", "a")
    write_hll_shard(ev, p["hll"], ["event_type"], "user_id", "b")
    rows = spark.createDataFrame([(i, f"v{i}") for i in range(40)],
                                 "id long, v string")
    upsert_parquet(spark, rows.where("id < 30"), p["upsert"], "id", 8)
    upsert_parquet(spark, rows.where("id >= 20"), p["upsert"], "id", 8)
    for kind in sink_cases.SINKS:
        store, out = str(root / "sinks" / kind), str(root / "sinks" / "out")
        sink_cases.build_store(spark, kind, store)
        sink_cases.sink(kind, store, f"{out}-{kind}")(
            sink_cases.first_batch(spark, kind), 0)
    return p, conf, dict(spark.conf.getAll)


#: each layout a probe reads: store kind, sub-table, probed column
_LAYOUTS = {
    "minhash-bands": ("minhash", "bands", "pbkt"),
    "minhash-docs": ("minhash", "docs", "dbkt"),
    "srp": ("srp", "", "pbkt"),
    "line": ("line", "lines", "pbkt"),
    "phash-bands": ("phash", "bands", "pbkt"),
    "phash-docs": ("phash", "docs", "dbkt"),
    "ivf": ("ivf", "", "cell_id"),
    "ivfpq-codes": ("ivfpq", "codes", "cell_id"),
    "hll": ("hll", "", "shard"),
    "upsert": ("upsert", "", "__bucket"),
}


@pytest.mark.parametrize("name", sorted(_LAYOUTS))
def test_store_read_runs_no_job(spark, layout_stores, name):
    """Building a probe's frame runs 0 Spark jobs, for a probe that
    hits and for one that misses every partition: the schema comes
    from the store's recorded layout, not from inference.  The
    whole-table read (``store.read_table``) runs no job either: no
    store holds more partition directories at one level than
    ``parallelPartitionDiscovery.threshold``, past which Spark lists
    them in a parallel job.  All three frames carry the full-root
    read's columns and types, and the whole-table read holds every
    row of it.  The
    all-miss frame is a LocalRelation: collecting it runs 0 jobs, and
    counting it runs only the global aggregate's one-task result
    stage.  A list-built empty frame, a Python RDD, ran 2 jobs of 9
    tasks for the count and 1 job of 4 Python-worker tasks for the
    collect."""
    import glob

    kind, table, column = _LAYOUTS[name]
    root = layout_stores[0][kind]
    base = f"{root}/{table}" if table else root
    hits = sorted(d.rsplit("=", 1)[1] for d in
                  glob.glob(f"{base}/**/{column}=*", recursive=True))
    assert hits
    hit = hits[:2] if column == "shard" else [int(v) for v in hits[:2]]
    miss = ["no-such-shard"] if column == "shard" else [10**6]
    full = spark.read.parquet(base).schema
    for values, hits_rows in ((hit, True), (miss, False)):
        frames = []
        n = _jobs(spark, f"read-{name}", lambda: frames.append(
            read_partitions(spark, root, column, values, table)))
        assert n == 0, f"{name} read of {values} ran {n} Spark jobs"
        assert frames[0].schema == full
        assert (frames[0].count() > 0) == hits_rows
    whole = []
    n = _jobs(spark, f"table-{name}", lambda: whole.append(
        read_table(spark, root, table)))
    assert n == 0, f"{name} whole-table read ran {n} Spark jobs"
    assert whole[0].schema == full
    assert whole[0].count() == spark.read.parquet(base).count()
    rows = []
    assert _jobs(spark, f"collect-{name}",
                 lambda: rows.extend(frames[0].collect())) == 0
    assert rows == []
    n, tasks = _jobs_and_tasks(spark, f"count-{name}", frames[0].count)
    assert n <= 1 and tasks <= 1, f"all-miss count ran {n} jobs, " \
        f"{tasks} tasks"


@pytest.mark.parametrize("kind", ["hll", "ivf", "ivfpq", "line",
                                  "minhash", "phash", "srp", "upsert"])
def test_store_writers_write_one_file_per_partition(layout_stores, kind):
    """Every partition directory of each store, built and appended to
    from inputs in 4 partitions, holds exactly one part file
    (``store.write_partitioned``; the HLL shard is coalesced)."""
    leaves = _leaf_dirs(layout_stores[0][kind])
    assert leaves and all("=" in os.path.basename(d) for d in leaves)
    assert set(leaves.values()) == {1}, {
        d: n for d, n in leaves.items() if n != 1}


def test_store_writers_leave_session_conf_unchanged(layout_stores):
    """No store writer or sink changes the session conf: the upsert's
    dynamic partition overwrite is a per-write option, and a
    micro-batch of each ``foreachBatch`` sink sets nothing either."""
    # The one known exception in the package is plans.library, which
    # sets spark.sql.legacy.parquet.nanosAsLong on the session before
    # reading events.parquet's TIMESTAMP(NANOS) column: the driver
    # contract hands the query plans a vanilla session.  No store
    # writer or sink reads through plans.library.
    _, before, after = layout_stores
    assert after == before


#: the five delta-levelled stores, each written by ``store.write_store``
_DELTA_STORES = ["ivf", "line", "minhash", "phash", "srp"]


def _delta_input(spark, kind, part):
    """Part ``part`` (0: a build's rows, 1 and 2: two appends') of the
    input rows of the ``kind`` store, and their id column."""
    if kind in ("line", "minhash"):
        df, id_col = _docs(spark, 90), "doc_id"
    elif kind == "phash":
        df, id_col = _hashes(spark), "media_id"
    else:
        df, id_col = _emb(spark).where("vec_id < 300"), "vec_id"
    return df.where(F.pmod(F.xxhash64(id_col), F.lit(3)) == part), id_col


def _write_delta_store(spark, kind, root, part, delta=None):
    """Write part ``part`` of the ``kind`` input into the store at
    ``root`` through its public writer: ``delta=None`` builds, an id
    appends as that delta."""
    from trial_data_ingestion_spark.multimodal.phash import (
        write_phash_index,
    )
    from trial_data_ingestion_spark.operators.incremental_dedup import (
        write_minhash_index,
    )
    from trial_data_ingestion_spark.operators.line_dedup import (
        write_line_index,
    )
    from trial_data_ingestion_spark.operators.similarity import (
        append_to_ivf_index, first_id_centroids, write_ivf_index,
        write_srp_index,
    )
    df, _ = _delta_input(spark, kind, part)
    if kind == "minhash":
        write_minhash_index(df, root, num_buckets=8, delta=delta)
    elif kind == "line":
        write_line_index(df, root, num_buckets=16, delta=delta)
    elif kind == "phash":
        write_phash_index(df, root, num_buckets=16, delta=delta)
    elif kind == "srp":
        write_srp_index(df, root, dim=64, num_planes=6, delta=delta)
    elif delta is None:
        write_ivf_index(df, first_id_centroids(df, num_cells=4), root,
                        dim=64)
    else:
        append_to_ivf_index(df, root, delta_id=delta)


def _delta_probe(spark, kind, root):
    """The sorted answer rows of the ``kind`` store's own probe over
    ``root``: ids that survive dedup (fresh ids carrying stored texts
    or near-copies of stored hashes, beside new ones), the line
    probe's rows, or top-5 neighbours of five queries."""
    if kind == "minhash":
        from trial_data_ingestion_spark.operators.incremental_dedup \
            import dedup_minhash_incremental
        probe = (_docs(spark, 100).where("doc_id < 10 OR doc_id >= 90")
                 .select((F.col("doc_id") + 10_000).alias("doc_id"),
                         "text"))
        return sink_cases.rows(dedup_minhash_incremental(spark, probe,
                                                         root))
    if kind == "line":
        from trial_data_ingestion_spark.operators.line_dedup import (
            line_dedup_incremental,
        )
        return sink_cases.rows(line_dedup_incremental(
            spark, _docs(spark, 100).where("doc_id >= 80"), root))
    if kind == "phash":
        from trial_data_ingestion_spark.multimodal.phash import (
            dedup_media_incremental,
        )
        media = spark.createDataFrame(
            [(f"q{i}", bytearray((i * 1_000_003 ^ 1).to_bytes(8, "big")))
             for i in range(0, 60, 3)], "media_id string, media binary")
        return sink_cases.rows(dedup_media_incremental(
            spark, media, root,
            lambda b: int.from_bytes(b, "big", signed=True)))
    from trial_data_ingestion_spark.operators.similarity import (
        topk_ivf_over_index, topk_lsh_over_index,
    )
    queries = (_emb(spark).where("vec_id < 5")
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))
    if kind == "srp":
        return sink_cases.rows(topk_lsh_over_index(spark, root, queries,
                                                   dim=64, k=5))
    return sink_cases.rows(topk_ivf_over_index(spark, root, queries, k=5,
                                               nprobe=2))


def _tables(root):
    """The sub-tables the sidecar of the store at ``root`` records."""
    with open(os.path.join(root, "_params.json")) as fh:
        return sorted(json.load(fh)["layout"])


def _table_rows(spark, root, drop=()):
    """Every row of every sub-table of the store at ``root``."""
    return {t: sink_cases.rows(read_table(spark, root, t).drop(*drop))
            for t in _tables(root)}


def _deltas(root, table):
    return sorted(d for d in os.listdir(os.path.join(root, table))
                  if d.startswith("delta="))


@pytest.mark.parametrize("kind", _DELTA_STORES)
def test_compact_folds_every_delta_into_base(spark, kind, tmp_path):
    """``store.compact`` rewrites a store fragmented by two appends as
    a new root with one file per partition directory, every delta
    folded into ``delta=base``, the same rows, the sidecar copied
    verbatim and the same probe answers; compacting a root onto
    itself is refused."""
    from trial_data_ingestion_spark.store import compact
    root, out = str(tmp_path / "store"), str(tmp_path / "compacted")
    for part, delta in ((0, None), (1, new_delta()), (2, new_delta())):
        _write_delta_store(spark, kind, root, part, delta)
    assert all(len(_deltas(root, t)) == 3 for t in _tables(root))

    compact(spark, root, out)
    assert set(_leaf_dirs(out).values()) == {1}
    assert all(_deltas(out, t) == ["delta=base"] for t in _tables(out))
    assert _table_rows(spark, out, ["delta"]) \
        == _table_rows(spark, root, ["delta"])
    with open(f"{root}/_params.json", "rb") as a, \
            open(f"{out}/_params.json", "rb") as b:
        assert a.read() == b.read()
    assert _delta_probe(spark, kind, out) == _delta_probe(spark, kind,
                                                          root)
    with pytest.raises(ValueError, match="must differ"):
        compact(spark, root, root + "/")


@pytest.mark.parametrize("kind", _DELTA_STORES)
def test_writer_append_retry_is_idempotent(spark, kind, tmp_path):
    """Appending delta ``X`` through the store's public writer twice
    leaves the store as one append does: the same rows (every build
    and batch id once), exactly one ``delta=X`` directory per
    sub-table, the sidecar the build wrote, and the same probe
    answers.  An append named ``base``, the build's delta, is
    refused before it deletes anything."""
    root = str(tmp_path / kind)
    _write_delta_store(spark, kind, root, 0)
    with open(f"{root}/_params.json", "rb") as fh:
        sidecar = fh.read()
    built = _tree(root)
    with pytest.raises(ValueError, match="the build's"):
        _write_delta_store(spark, kind, root, 1, "base")
    assert _tree(root) == built
    _write_delta_store(spark, kind, root, 1, "b0001")
    stored, answers = _table_rows(spark, root), _delta_probe(spark, kind,
                                                             root)
    if kind != "line":
        ids = (read_table(spark, root, "docs").select("doc")
               if kind in ("minhash", "phash")
               else read_table(spark, root).select("vec_id"))
        want = sum(_delta_input(spark, kind, part)[0].count()
                   for part in (0, 1))
        assert ids.count() == ids.distinct().count() == want

    _write_delta_store(spark, kind, root, 1, "b0001")
    assert _table_rows(spark, root) == stored
    assert all(_deltas(root, t) == ["delta=b0001", "delta=base"]
               for t in _tables(root))
    with open(f"{root}/_params.json", "rb") as fh:
        assert fh.read() == sidecar
    assert _delta_probe(spark, kind, root) == answers


def test_release_after_upsert_overwrites_every_shard(spark, tmp_path):
    """An 8-shard release, one upsert elsewhere, then a 4-shard
    re-release over the same path reads back exactly the 50 released
    rows: the upsert used to leave the session in dynamic partition
    overwrite mode, which kept the old ``shard=4..7`` beside the new
    shards (73 rows)."""
    from trial_data_ingestion_spark.sinks import upsert_parquet
    from trial_data_ingestion_spark.sinks.training_export import (
        write_training_shards,
    )
    mode = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(mode)
    rows = spark.createDataFrame([(i, f"t{i}") for i in range(50)],
                                 "id long, text string")
    out = str(tmp_path / "release")
    try:
        write_training_shards(rows, out, "id", n_shards=8)
        upsert_parquet(spark, rows, str(tmp_path / "store"), "id")
        write_training_shards(rows, out, "id", n_shards=4)
        assert spark.read.parquet(out).count() == 50
    finally:
        spark.conf.set(mode, before)


def test_upsert_with_other_n_buckets_raises(spark, tmp_path):
    """An upsert with another ``n_buckets`` files its keys in other
    buckets, so the old copies stay beside the new ones (153 rows for
    100 ids).  The table records ``n_buckets``; a second upsert with
    another one raises before writing, and the table keeps 100 rows."""
    from trial_data_ingestion_spark.sinks import (
        read_upsert_table, upsert_parquet,
    )
    rows = spark.createDataFrame([(i, f"v{i}") for i in range(100)],
                                 "id long, v string")
    path = str(tmp_path / "upsert")
    upsert_parquet(spark, rows, path, "id", n_buckets=16)
    with pytest.raises(ValueError, match="n_buckets=16"):
        upsert_parquet(spark, rows, path, "id", n_buckets=8)
    assert read_upsert_table(spark, path).count() == 100
    upsert_parquet(spark, rows, path, "id", n_buckets=16)
    assert read_upsert_table(spark, path).count() == 100


def test_ivf_append_takes_dim_from_index(spark, tmp_path):
    """An IVF index built with ``dim=None`` has no ``__nrm`` column.
    An append reads ``dim`` from the index, so its delta has no
    ``__nrm`` either: one schema under the root, and a query over
    both deltas runs."""
    from trial_data_ingestion_spark.operators.similarity import (
        append_to_ivf_index, first_id_centroids, topk_ivf_over_index,
        write_ivf_index,
    )
    emb = _emb(spark)
    cents = first_id_centroids(emb, num_cells=4)
    path = str(tmp_path / "ivf")
    write_ivf_index(emb.where("vec_id < 100"), cents, path)
    append_to_ivf_index(emb.where("vec_id >= 100"), path, delta_id="d1")
    assert sorted(d for d in os.listdir(path) if "=" in d) \
        == ["delta=base", "delta=d1"]
    for delta in ("base", "d1"):
        assert "__nrm" not in spark.read.parquet(
            f"{path}/delta={delta}").columns
    assert "__nrm" not in read_table(spark, path).columns
    assert topk_ivf_over_index(spark, path, _one_query(spark),
                               k=5).count() == 5


def _ivfpq_state(spark, path, codes):
    """(cell_id, pq_code) of each stored row, recomputed from the
    unit vector with the centroids and codebooks the index recorded:
    the nearest centroid, then each subspace's nearest code."""
    import numpy as np

    from trial_data_ingestion_spark.operators.quantization import (
        read_pq_codebooks,
    )
    cb = read_pq_codebooks(spark, path)
    cells = dict(read_params(spark, path)["centroids"]["rows"])
    out = []
    for r in codes:
        v = np.asarray(r["embedding"], dtype=np.float64)
        u = v / np.linalg.norm(v)
        cid = min(cells, key=lambda c: float(np.sum((u - cells[c]) ** 2)))
        res = (u - np.asarray(cells[cid])).reshape(cb.m, cb.dsub)
        out.append((cid, [int(np.argmin(np.sum(
            (cb.centroids[s] - res[s]) ** 2, axis=1))) for s in range(cb.m)]))
    return out


def _artifact(spark, kind, root, layout_stores):
    """Save one artifact of ``kind`` under ``root``.  Returns its path,
    the value saved, and a loader returning the value loaded in the
    same form (frames are built and collected inside it)."""
    import numpy as np

    from trial_data_ingestion_spark.operators import (
        bpe, clustering, quantization, unigram_lm,
    )
    path = str(root / kind)
    if kind == "bpe":
        model = bpe.BPEModel(merges=(("a", "b"), ("ab", "</w>"),
                                     ("c", "ab</w>")))
        bpe.save_bpe(model, spark, path)
        return path, model, lambda: bpe.load_bpe(spark, path)
    if kind.startswith("unigram"):
        pieces = () if kind == "unigram-empty" else (
            ("a", -1.25), ("ab", -0.5), ("b", -2.0 / 3.0))
        model = unigram_lm.UnigramModel(pieces=pieces, max_piece_len=4)
        unigram_lm.save_unigram(model, spark, path)
        return path, model, lambda: unigram_lm.load_unigram(spark, path)
    if kind == "centroids":
        cents = local_frame(spark, [(0, [1.0, 0.1]), (1, [-0.3, 2.5])],
                            "cell_id int, centroid array<float>")
        clustering.write_centroids(cents, path)

        def load():
            frame = clustering.load_centroids(spark, path)
            return frame.schema, frame.collect()
        return path, (cents.schema, cents.collect()), load
    if kind == "pq":
        cb = quantization.PQCodebooks(
            centroids=np.arange(16, dtype=np.float64).reshape(2, 4, 2) / 7,
            dim=4, metric="cosine")
        quantization.write_pq_index(local_frame(
            spark, [(i, [float(i), 1.0, -1.0, 0.5]) for i in range(6)],
            "vec_id long, embedding array<float>"), cb, path)

        def load():
            got = quantization.read_pq_codebooks(spark, path)
            return got.centroids.tolist(), got.dim, got.metric
        return path, (cb.centroids.tolist(), 4, "cosine"), load
    path = layout_stores[0][kind]
    if kind == "ivf":
        from trial_data_ingestion_spark.operators.similarity import (
            first_id_centroids,
        )
        cents = first_id_centroids(_emb(spark), num_cells=4)

        def load():
            frame = entry_frame(spark, read_params(spark, path)["centroids"])
            return frame.schema, frame.collect()
        return path, (cents.schema, cents.collect()), load
    # ivfpq: the recorded centroids and codebooks re-derive every
    # stored row's cell and code
    codes = read_table(spark, path, "codes").collect()
    return path, [(r["cell_id"], list(r["pq_code"])) for r in codes], \
        lambda: _ivfpq_state(spark, path, codes)


_ARTIFACTS = ["bpe", "centroids", "ivf", "ivfpq", "pq", "unigram",
              "unigram-empty"]


@pytest.mark.parametrize("kind", _ARTIFACTS)
def test_artifact_round_trip_runs_no_job(spark, layout_stores, kind,
                                         tmp_path):
    """Every model and index records its driver-sized state (merges,
    pieces, codebooks, centroids) in its ``_params.json``: the loaded
    value equals the saved one, loading it runs 0 Spark jobs, and no
    ``codebooks/`` or ``centroids/`` table is written.  An empty
    unigram model keeps its ``max_piece_len`` (it reloaded as 8)."""
    path, saved, load = _artifact(spark, kind, tmp_path, layout_stores)
    loaded = []
    n = _jobs(spark, f"load-{kind}", lambda: loaded.append(load()))
    assert loaded[0] == saved
    assert n == 0, f"loading {kind} ran {n} Spark jobs"
    assert not {"codebooks", "centroids"} & set(os.listdir(path))


@pytest.mark.parametrize("kind", ["ivf", "ivfpq"])
def test_index_without_recorded_centroids_raises(spark, layout_stores,
                                                 kind, tmp_path):
    """An IVF or IVF-PQ root whose sidecar records no centroids or
    codebooks (the older format) is refused by its query, and an IVF
    root by its append too."""
    import json

    from trial_data_ingestion_spark.operators.quantization import (
        topk_ivfpq,
    )
    from trial_data_ingestion_spark.operators.similarity import (
        append_to_ivf_index, topk_ivf_over_index,
    )
    path = str(tmp_path / kind)
    shutil.copytree(layout_stores[0][kind], path)
    with open(f"{path}/_params.json") as fh:
        params = json.load(fh)
    write_params(spark, path, {k: params[k] for k in ("dim", "layout")})
    query = topk_ivf_over_index if kind == "ivf" else topk_ivfpq
    with pytest.raises(ValueError, match="rebuild the store"):
        query(spark, path, _one_query(spark), k=5)
    if kind == "ivf":
        with pytest.raises(ValueError, match="rebuild the store"):
            append_to_ivf_index(_emb(spark).limit(3), path)


def test_topk_ivfpq_builds_its_frame_with_no_job(spark, layout_stores):
    """Over a local query frame, ``topk_ivfpq`` reads the codebooks
    and centroids from the sidecar and the probed cells under the
    recorded layout: building its frame runs 0 Spark jobs."""
    from trial_data_ingestion_spark.operators.quantization import (
        topk_ivfpq,
    )
    vec = _one_query(spark).collect()[0]["query_vec"]
    qs = local_frame(spark, [(0, vec)],
                     "query_id long, query_vec array<float>")
    frames = []
    n = _jobs(spark, "ivfpq-frame", lambda: frames.append(topk_ivfpq(
        spark, layout_stores[0]["ivfpq"], qs, k=5, nprobe=2)))
    assert n == 0, f"building the topk_ivfpq frame ran {n} Spark jobs"
    assert frames[0].count() == 5


_PACKAGE = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "trial_data_ingestion_spark")

#: the modules that may read parquet by path: the store (under a
#: recorded layout), the source readers, the compaction tool, the
#: oracle query plans over the testdata tables, and the CLI
_PARQUET_READERS = {"store.py", "sources/readers.py", "sinks/compaction.py",
                    "plans/library.py", "cli.py"}


def test_package_reads_parquet_only_where_allowed():
    """No other package module calls ``.read.parquet(``: a store is
    read under its recorded layout (``store.read_table``,
    ``store.read_partitions``), and a model from its sidecar, so a
    schema-inferring read cannot come back unnoticed."""
    import ast
    import pathlib

    stray = []
    for path in sorted(pathlib.Path(_PACKAGE).rglob("*.py")):
        rel = path.relative_to(_PACKAGE).as_posix()
        if rel in _PARQUET_READERS:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "parquet"
                    and isinstance(node.func.value, ast.Attribute)
                    and node.func.value.attr == "read"):
                stray.append(f"{rel}:{node.lineno}")
    assert not stray, "read stores with store.read_table or " \
        "store.read_partitions: " + ", ".join(stray)

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


def test_package_names_batch_keys_only_in_store():
    """No package module but ``store.py`` reads the streaming query id
    or spells a ``batch-`` key: every sink keys its output shard and
    its store delta through ``store.batch_key``, so the two cannot
    drift apart again."""
    import ast
    import pathlib

    stray = []
    for path in sorted(pathlib.Path(_PACKAGE).rglob("*.py")):
        rel = path.relative_to(_PACKAGE).as_posix()
        if rel == "store.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and (node.value.startswith("batch-")
                         or "sql.streaming.queryId" in node.value)):
                stray.append(f"{rel}:{node.lineno}")
    assert not stray, "key micro-batches with store.batch_key: " \
        + ", ".join(stray)


def test_package_names_delta_level_only_in_store():
    """No package module but ``store.py`` names the ``delta`` level of
    a store's layout: the constant ``"base"``, a
    ``withColumn("delta", …)`` or ``.alias("delta")``, or a list or
    tuple literal holding ``"delta"``.  Every delta-levelled store
    writes through ``store.write_store``, so the build/append protocol
    has one copy."""
    import ast
    import pathlib

    def named(node, value):
        return isinstance(node, ast.Constant) and node.value == value

    stray = []
    for path in sorted(pathlib.Path(_PACKAGE).rglob("*.py")):
        rel = path.relative_to(_PACKAGE).as_posix()
        if rel == "store.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (named(node, "base")
                    or (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr in ("withColumn", "alias")
                        and node.args and named(node.args[0], "delta"))
                    or (isinstance(node, (ast.List, ast.Tuple))
                        and any(named(e, "delta") for e in node.elts))):
                stray.append(f"{rel}:{node.lineno}")
    assert not stray, "write delta-levelled stores with " \
        "store.write_store: " + ", ".join(stray)
