"""Perceptual image hashing: python-reference dHash bits, real-BMP
robustness, pigeonhole losslessness vs brute force, cluster dedup,
and plan shape."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from trial_data_ingestion_spark.multimodal.codecs import encode_bmp
from trial_data_ingestion_spark.multimodal.phash import (
    _band_specs, ahash64, attach_phash, dedup_images, dhash64,
    image_hasher, phash_near_dups,
)
from trial_data_ingestion_spark.store import new_delta


def _gradient(w=32, h=32, slope=8, noise=0, seed=0):
    rng = np.random.RandomState(seed)
    x = (np.arange(w) * slope % 256).astype(np.uint8)
    img = np.tile(x, (h, 1))
    if noise:
        img = np.clip(img.astype(int)
                      + rng.randint(-noise, noise + 1, img.shape),
                      0, 255).astype(np.uint8)
    return np.stack([img, img, img], axis=-1)


def _media_df(spark, items):
    rows = [(mid, bytearray(encode_bmp(px))) for mid, px in items]
    return spark.createDataFrame(rows, "media_id string, media binary")


def test_dhash_matches_bitwise_reference():
    px = _gradient(18, 16, slope=13, noise=40, seed=3)
    got = dhash64(px)
    # independent reference: same resample rule, explicit bit loop
    gray = px[..., :3].astype(np.float32).mean(axis=-1)
    h, w = gray.shape
    rows = (np.arange(8) * h) // 8
    cols = (np.arange(9) * w) // 9
    g = gray[rows][:, cols]
    v = 0
    for r in range(8):
        for c in range(8):
            v = (v << 1) | int(g[r, c] > g[r, c + 1])
    want = v - (1 << 64) if v >= (1 << 63) else v
    assert got == want
    assert isinstance(ahash64(px), int)


def test_real_bmp_near_dups_and_robustness(spark):
    base = _gradient(seed=1)
    items = [
        ("a", base),
        ("b", base.copy()),                       # identical
        ("c", np.repeat(np.repeat(base, 2, 0), 2, 1)),  # true 2x upscale
        ("d", _gradient(noise=6, seed=4)),        # lightly noised copy
        ("e", 255 - base),                        # inverted: far away
    ]
    media = _media_df(spark, items)
    # same content re-encoded as PNG must hash into the family too:
    # decode_image sniffs the container, dHash sees pixels only
    from trial_data_ingestion_spark.multimodal.codecs import encode_png
    png_row = spark.createDataFrame(
        [("p", bytearray(encode_png(base)))],
        "media_id string, media binary")
    hashes = attach_phash(media.unionByName(png_row), image_hasher)
    pairs = {(r.media_id_a, r.media_id_b): r.hamming
             for r in phash_near_dups(hashes, max_hamming=6).collect()}
    assert pairs[("a", "b")] == 0
    assert ("a", "c") in pairs      # resize-invariant by construction
    assert ("a", "d") in pairs      # small noise stays in the ball
    assert pairs[("a", "p")] == 0   # BMP vs PNG of the same pixels
    assert not any("e" in p for p in pairs)


def test_pigeonhole_blocking_equals_brute_force(spark):
    rng = np.random.RandomState(7)
    hashes = list(rng.randint(-2**63, 2**63, size=150, dtype=np.int64))
    # plant near pairs, including around sign-bit hashes
    for i in range(0, 30, 3):
        flips = rng.choice(64, size=rng.randint(0, 5), replace=False)
        v = int(hashes[i])
        for b in flips:
            v ^= (1 << int(b))
        v &= (1 << 64) - 1
        hashes.append(np.int64(v - (1 << 64) if v >= (1 << 63) else v))
    df = spark.createDataFrame(
        [(str(i), int(h)) for i, h in enumerate(hashes)],
        "media_id string, phash long")
    got = {(r.media_id_a, r.media_id_b, r.hamming)
           for r in phash_near_dups(df, max_hamming=4).collect()}
    want = set()
    for i in range(len(hashes)):
        for j in range(i + 1, len(hashes)):
            d = bin((int(hashes[i]) ^ int(hashes[j]))
                    & ((1 << 64) - 1)).count("1")
            if d <= 4:
                a, b = sorted((str(i), str(j)))
                want.add((a, b, d))
    assert got == want


def test_dedup_images_keeps_min_id_representative(spark):
    base = _gradient(seed=1)
    items = [("m1", base), ("m2", base.copy()),
             ("m3", _gradient(noise=5, seed=9)),
             ("m9", 255 - base)]
    kept = sorted(r.media_id for r in
                  dedup_images(_media_df(spark, items), image_hasher,
                               max_hamming=6).collect())
    assert kept == ["m1", "m9"]


def test_band_specs_partition_all_64_bits():
    for t in (0, 1, 4, 7, 63):
        specs = _band_specs(t)
        assert len(specs) == t + 1
        assert sum(w for _, _, w in specs) == 64
        covered = set()
        for _, shift, width in specs:
            bits = set(range(shift, shift + width))
            assert not bits & covered
            covered |= bits
        assert covered == set(range(64))
    with pytest.raises(ValueError):
        _band_specs(64)
    with pytest.raises(ValueError):
        _band_specs(-1)


def test_near_dup_plan_is_equi_join(spark):
    df = spark.createDataFrame([("1", 5), ("2", 7)],
                               "media_id string, phash long")
    plan = phash_near_dups(df)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("simple"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

def _chirp(seed=0, n=8000, noise=0.0, amp=1.0):
    rng = np.random.RandomState(seed)
    t = np.linspace(0, 1, n)
    f = 200 + 1800 * rng.rand()
    sweep = np.sin(2 * np.pi * (f * t + 300 * t ** 2))
    env = 0.3 + 0.7 * rng.rand(20)
    sig = sweep * np.repeat(env, n // 20 + 1)[:n]
    if noise:
        sig = sig + noise * rng.randn(n)
    return (amp * 0.8 * sig / np.max(np.abs(sig))).astype(np.float32)


def test_audio_fingerprint_dedup(spark):
    from trial_data_ingestion_spark.multimodal.codecs import encode_wav
    from trial_data_ingestion_spark.multimodal.phash import (
        afp64, audio_hasher,
    )
    base = _chirp(seed=1)
    items = {
        "a": base,
        "b": base.copy(),              # identical bytes
        "c": base * 0.4,               # amplitude-scaled re-encode
        "d": _chirp(seed=1, noise=0.005),  # lightly noised copy
        "e": _chirp(seed=5),           # different recording
    }
    # amplitude invariance holds exactly at the numpy level
    assert afp64(base) == afp64(base * 0.4)
    df = spark.createDataFrame(
        [(k, bytearray(encode_wav(v))) for k, v in items.items()],
        "media_id string, media binary")
    hashes = attach_phash(df, audio_hasher)
    pairs = {(r.media_id_a, r.media_id_b): r.hamming
             for r in phash_near_dups(hashes, max_hamming=8).collect()}
    assert pairs[("a", "b")] == 0
    assert ("a", "c") in pairs
    assert ("a", "d") in pairs
    assert not any("e" in p for p in pairs), pairs
    kept = sorted(r.media_id for r in
                  dedup_images(df, audio_hasher, max_hamming=8).collect())
    assert kept == ["a", "e"]


def test_video_fingerprint_dedup(spark):
    from trial_data_ingestion_spark.multimodal.codecs import encode_avi
    from trial_data_ingestion_spark.multimodal.phash import (
        vhash64, video_hasher,
    )
    rng = np.random.RandomState(11)

    def clip(seed, n_frames=12):
        # a seeded random scene under a brightness fade: dHash is
        # invariant to uniform brightness, so the frames vote
        # unanimously, while different seeds are unrelated scenes
        scene = np.random.RandomState(seed) \
            .randint(0, 200, (24, 24)).astype(np.uint8)
        frames = [np.stack([(scene + 3 * i).astype(np.uint8)] * 3,
                           axis=-1)
                  for i in range(n_frames)]
        return np.array(frames)

    base = clip(1)
    minority_tweak = base.copy()
    minority_tweak[0] = 255 - minority_tweak[0]   # 1 of 12 frames ruined
    items = [
        ("a", base),
        ("b", base.copy()),
        ("c", minority_tweak),    # majority vote absorbs the bad frame
        ("e", clip(4)),           # different clip
    ]
    # per-bit majority: a minority of corrupted frames can't flip bits
    assert vhash64(base) == vhash64(minority_tweak)
    df = spark.createDataFrame(
        [(k, bytearray(encode_avi(v))) for k, v in items],
        "media_id string, media binary")
    hashes = attach_phash(df, video_hasher)
    pairs = {(r.media_id_a, r.media_id_b): r.hamming
             for r in phash_near_dups(hashes, max_hamming=6).collect()}
    assert pairs[("a", "b")] == 0
    assert ("a", "c") in pairs
    assert not any("e" in p for p in pairs), pairs
    with pytest.raises(ValueError):
        vhash64(np.empty((0, 8, 8, 3), dtype=np.uint8))


def _image_items(prefix, specs):
    """specs: list of (suffix, pixel_array)."""
    return [(f"{prefix}{s}", px) for s, px in specs]


@pytest.mark.slow
def test_dedup_media_incremental_parity_and_resume(spark, tmp_path):
    """Incremental media dedup against a persisted fingerprint index
    must EXACTLY match the batch slice of a full-corpus dedup over
    the union (corpus ids sort below batch ids, so min-id == corpus
    wins), re-run as a no-op after append, and probe the index with a
    pbkt partition filter, never a full scan."""
    from trial_data_ingestion_spark.multimodal.phash import (
        dedup_media_incremental, write_phash_index,
    )
    base = _gradient(seed=1)
    other = _gradient(seed=2, slope=11)
    corpus = _media_df(spark, _image_items("a", [
        ("0", base), ("1", other), ("2", _gradient(seed=3, slope=23)),
    ]))
    path = str(tmp_path / "phidx")
    write_phash_index(attach_phash(corpus, image_hasher), path,
                      max_hamming=6)

    batch_items = _image_items("b", [
        ("0", base.copy()),                   # dup of corpus a0
        ("1", _gradient(noise=5, seed=7)),    # near-dup of corpus a0
        ("2", _gradient(seed=9, slope=47)),   # unique
        ("3", _gradient(seed=9, slope=47)),   # in-batch dup of b2
        ("4", 255 - other),                   # unique (far from all)
    ])
    batch = _media_df(spark, batch_items)
    got = sorted(r.media_id for r in dedup_media_incremental(
        spark, batch, path, image_hasher).collect())

    union = _media_df(spark, _image_items("a", [
        ("0", base), ("1", other), ("2", _gradient(seed=3, slope=23)),
    ]) + batch_items)
    full = {r.media_id for r in
            dedup_images(union, image_hasher, max_hamming=6).collect()}
    want = sorted(m for m in full if m.startswith("b"))
    assert got == want == ["b2", "b4"]

    # append, then re-run: every id is now seen -> no-op
    survivors = dedup_media_incremental(spark, batch, path,
                                        image_hasher, delta=new_delta())
    assert sorted(r.media_id for r in survivors.collect()) == want
    rerun = dedup_media_incremental(spark, batch, path, image_hasher)
    assert rerun.count() == 0

    # a fresh near-dup of an appended batch survivor must now drop
    batch2 = _media_df(spark, _image_items("c", [
        ("0", _gradient(seed=9, slope=47)),   # dup of stored b2
    ]))
    assert dedup_media_incremental(spark, batch2, path,
                                   image_hasher).count() == 0


def test_phash_index_probe_is_partition_pruned(spark, tmp_path):
    from trial_data_ingestion_spark.multimodal.phash import (
        _band_table, write_phash_index,
    )
    hashes = spark.createDataFrame(
        [(f"m{i}", i * 1_000_003) for i in range(40)],
        "media_id string, phash long")
    path = str(tmp_path / "phidx2")
    write_phash_index(hashes, path, max_hamming=4, num_buckets=16)
    probe = spark.createDataFrame([("q0", 5 * 1_000_003)],
                                  "media_id string, phash long")
    bt = (_band_table(probe, 4)
          .withColumn("pbkt", F.pmod(F.xxhash64("band", "val"),
                                     F.lit(16))))
    bkts = sorted(r["pbkt"] for r in bt.select("pbkt").distinct().collect())
    scan = (spark.read.parquet(path + "/bands")
            .where(F.col("pbkt").isin(bkts)))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "pbkt" in plan
    # 1 probe hash -> at most 5 band buckets of 16
    assert len(bkts) <= 5


def test_dedup_media_incremental_releases_caches_when_append_raises(
        spark, tmp_path, monkeypatch):
    """The probe persists the batch's hashes twice; an append that
    raises must not leave them cached for the rest of the session.
    Local checkpoints are not counted: Spark's context cleaner drops
    them with their frames, where a ``persist()`` stays registered
    until it is unpersisted."""
    from tests import sink_cases
    from trial_data_ingestion_spark.multimodal import phash

    path = str(tmp_path / "phidx")
    sink_cases.build_store(spark, "media", path)
    batch = sink_cases.first_batch(spark, "media")

    def refuse(*args, **kwargs):
        raise RuntimeError("append refused")

    monkeypatch.setattr(phash, "write_phash_index", refuse)
    def cached():
        rdds = spark.sparkContext._jsc.getPersistentRDDs().values()
        return sum(not r.rdd().isLocallyCheckpointed() for r in rdds)

    before = cached()
    with pytest.raises(RuntimeError, match="append refused"):
        phash.dedup_media_incremental(spark, batch, path, image_hasher,
                                      delta="b0001")
    assert cached() == before
