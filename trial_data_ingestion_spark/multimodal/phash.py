"""Perceptual image hashing + Hamming-blocked image dedup.

North-star training-data-pipeline tier.  Multimodal corpora carry the
same duplication problem as text — the same photo re-encoded,
resized, or lightly edited — and the standard cheap answer is a
perceptual hash: difference hash (dHash) reduces an image to 64 bits
of adjacent-pixel luminance gradients computed on a fixed 8x9
downscale, so re-encodes and resizes map to nearly-identical bits
and near-duplicates sit within a small Hamming distance.  (dHash /
aHash are long-published public techniques.)

Scale design:
  * hashing rides the existing Arrow ``mapInPandas`` media kernel
    convention (:mod:`trial_data_ingestion_spark.multimodal`): bytes
    in, one int64 out per row — narrow, no shuffle;
  * candidate pairing uses PIGEONHOLE banding, not SimHash's prefix
    blocking: the 64 bits split into ``max_hamming + 1`` disjoint
    bands, and two hashes within the radius MUST agree exactly on at
    least one band — so equality joins on (band index, band value)
    are a LOSSLESS blocking for the Hamming ball, verified by an
    exact ``bit_count(a ^ b)`` filter inside blocks.  One shuffle on
    the band key, never an all-pairs product;
  * components + representative selection reuse the text dedup
    machinery (``operators.dedup.drop_non_representatives``) — the
    pair graph is modality-agnostic.
"""

from __future__ import annotations

from typing import Callable, Iterator, Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trial_data_ingestion_spark.session import ensure_parallelism
from trial_data_ingestion_spark.store import (
    check_partition_value, read_params, read_partitions, write_store,
)

HASH_BITS = 64


# --------------------------------------------------------------------------
# numpy hash kernels (driver- and executor-side identical)
# --------------------------------------------------------------------------

def _gray_resample(px: np.ndarray, width: int, height: int) -> np.ndarray:
    """Luminance plane downscaled by nearest-neighbor index
    arithmetic (same resample rule as ``codecs.image_resizer`` — no
    interpolation libraries)."""
    px = px.astype(np.float32)
    gray = (px[..., :3].mean(axis=-1) if px.ndim == 3 and
            px.shape[-1] >= 3 else px.reshape(px.shape[0], px.shape[1]))
    h, w = gray.shape
    rows = (np.arange(height) * h) // height
    cols = (np.arange(width) * w) // width
    return gray[rows][:, cols]


def dhash64(px: np.ndarray) -> int:
    """Difference hash: 8 rows x 9 cols, bit = left pixel brighter
    than its right neighbor, packed row-major MSB-first into a SIGNED
    int64 (Spark long)."""
    g = _gray_resample(px, 9, 8)
    bits = (g[:, :-1] > g[:, 1:]).flatten()
    return _pack_bits(bits)


def ahash64(px: np.ndarray) -> int:
    """Average hash: 8x8, bit = pixel above the mean."""
    g = _gray_resample(px, 8, 8)
    bits = (g > g.mean()).flatten()
    return _pack_bits(bits)


def _pack_bits(bits: np.ndarray) -> int:
    assert bits.size == HASH_BITS
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    # two's-complement fold into signed int64 so the value round-trips
    # through a Spark LongType column
    return v - (1 << 64) if v >= (1 << 63) else v


def image_hasher(payload: bytes) -> int:
    """REAL bytes -> dHash via the stdlib BMP/PNG decode path."""
    from trial_data_ingestion_spark.multimodal.codecs import decode_image
    return dhash64(decode_image(payload))


def afp64(samples: np.ndarray) -> int:
    """Haitsma–Kalker-style audio fingerprint ("A Highly Robust
    Audio Fingerprinting System", public): band-energy matrix E of
    9 time frames x 9 frequency bands over the mono mix, bit(t, b) =
    sign of the time-delta of the band-delta,

        (E[t+1,b] - E[t+1,b+1]) - (E[t,b] - E[t,b+1]) > 0

    packed into 64 bits.  Invariant to positive amplitude scaling
    (energies scale uniformly, comparisons survive) and robust to
    mild noise/re-encodes; stationary pure tones are degenerate for
    ANY delta fingerprint and hash near zero — real audio is not
    stationary."""
    mono = (samples.mean(axis=1) if samples.ndim == 2
            else samples).astype(np.float64)
    if mono.size < 18:
        mono = np.pad(mono, (0, 18 - mono.size))
    frames = np.array_split(mono, 9)
    E = np.empty((9, 9))
    for t, fr in enumerate(frames):
        spec = np.abs(np.fft.rfft(fr)) ** 2
        for b, band in enumerate(np.array_split(spec, 9)):
            E[t, b] = band.mean() if band.size else 0.0
    d = E[:, :-1] - E[:, 1:]              # band deltas, 9 x 8
    bits = (d[1:] - d[:-1] > 0).flatten()  # time deltas, 8 x 8
    return _pack_bits(bits)


def audio_hasher(payload: bytes) -> int:
    """REAL bytes -> audio fingerprint via the stdlib WAV decode."""
    from trial_data_ingestion_spark.multimodal.codecs import decode_wav
    samples, _rate = decode_wav(payload)
    return afp64(samples)


def vhash64(frames: np.ndarray) -> int:
    """Video fingerprint: per-frame :func:`dhash64`, folded by
    PER-BIT MAJORITY across frames (ties -> 0).  Majority voting
    keeps the hash stable when a minority of frames are re-encoded,
    dropped, or padded — per-frame XOR or concatenation would not."""
    if len(frames) == 0:
        raise ValueError("empty frame stack")
    votes = np.zeros(HASH_BITS, dtype=np.int64)
    for frame in frames:
        h = dhash64(frame) & ((1 << 64) - 1)
        for i in range(HASH_BITS):
            votes[i] += 1 if (h >> (63 - i)) & 1 else -1
    return _pack_bits(votes > 0)


def video_hasher(payload: bytes) -> int:
    """REAL bytes -> video fingerprint via the stdlib
    uncompressed-AVI decode."""
    from trial_data_ingestion_spark.multimodal.codecs import decode_avi
    frames, _fps = decode_avi(payload)
    return vhash64(frames)


# --------------------------------------------------------------------------
# Spark operators
# --------------------------------------------------------------------------

def attach_phash(df: DataFrame,
                 hasher: Optional[Callable] = None) -> DataFrame:
    """(media_id, phash): one int64 perceptual hash per media row,
    Arrow-batched.  Pass :func:`image_hasher` for real BMP/PNG
    payloads; other formats need a library-backed callable of the
    same signature."""
    if hasher is None:
        raise NotImplementedError(
            "No image hasher selected; pass phash.image_hasher for "
            "BMP/PNG payloads (stdlib decode + dHash), or any "
            "callable bytes -> int64 for formats needing absent "
            "libraries.")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "phash": pd.array([hasher(m) for m in pdf["media"]],
                                  dtype="int64"),
            })

    return (ensure_parallelism(df.select("media_id", "media"))
            .mapInPandas(run, "media_id string, phash long"))


def _band_specs(max_hamming: int) -> list[tuple[int, int, int]]:
    """(band index, shift, width) splitting 64 bits into
    ``max_hamming + 1`` near-equal disjoint bands."""
    n_bands = max_hamming + 1
    if not 1 <= n_bands <= HASH_BITS:
        raise ValueError(f"max_hamming out of range: {max_hamming}")
    base, extra = divmod(HASH_BITS, n_bands)
    specs, shift = [], 0
    for i in range(n_bands):
        width = base + (1 if i < extra else 0)
        specs.append((i, shift, width))
        shift += width
    return specs


def phash_near_dups(hashes: DataFrame, max_hamming: int = 4,
                    id_col: str = "media_id",
                    hash_col: str = "phash") -> DataFrame:
    """(id_a, id_b, hamming) for every pair within ``max_hamming``
    bits — EXACT over the Hamming ball, because the pigeonhole bands
    are lossless: a pair differing in <= ``max_hamming`` bits cannot
    differ in all ``max_hamming + 1`` disjoint bands.  The band table
    explodes narrowly (one row per band per hash), equality-joins on
    (band, value), dedups collided pairs, then verifies with
    ``bit_count``."""
    specs = _band_specs(max_hamming)
    bands = F.array(*[
        F.struct(
            F.lit(i).alias("band"),
            # logical shift: shiftrightunsigned keeps the top band
            # free of sign-extension bits
            F.shiftrightunsigned(F.col("ph"), shift)
             .bitwiseAND(F.lit((1 << width) - 1)).alias("val"))
        for i, shift, width in specs])
    h = hashes.select(F.col(id_col).alias("id"),
                      F.col(hash_col).alias("ph"))
    exploded = h.select("id", "ph", F.explode(bands).alias("b")) \
                .select("id", "ph", "b.band", "b.val")
    a, b = exploded.alias("a"), exploded.alias("b")
    pairs = (a.join(b, on=[F.col("a.band") == F.col("b.band"),
                           F.col("a.val") == F.col("b.val"),
                           F.col("a.id") < F.col("b.id")])
             .select(F.col("a.id").alias("id_a"),
                     F.col("b.id").alias("id_b"),
                     F.col("a.ph").alias("ph_a"),
                     F.col("b.ph").alias("ph_b"))
             .distinct()
             .withColumn("hamming", F.bit_count(
                 F.col("ph_a").bitwiseXOR(F.col("ph_b"))))
             .where(F.col("hamming") <= max_hamming))
    return pairs.select(F.col("id_a").alias(f"{id_col}_a"),
                        F.col("id_b").alias(f"{id_col}_b"),
                        "hamming")


def dedup_images(media: DataFrame, hasher: Optional[Callable] = None,
                 max_hamming: int = 4) -> DataFrame:
    """Media rows with near-duplicate images removed: perceptual
    hash, lossless Hamming pairing, connected components, keep the
    min-id representative per cluster (same semantics as the text
    near-dup family)."""
    from trial_data_ingestion_spark.operators.dedup import (
        drop_non_representatives,
    )
    # the band self-join consumes the hash table twice (a and b
    # sides); persist so the decode+hash kernel runs ONCE per image —
    # the hash table is 12 bytes/row regardless of media size
    hashes = attach_phash(media, hasher).persist()
    pairs = (phash_near_dups(hashes, max_hamming)
             .select(F.col("media_id_a").alias("doc_a"),
                     F.col("media_id_b").alias("doc_b")))
    return drop_non_representatives(media, pairs, "media_id")


#: the machinery is modality-agnostic — pass :func:`audio_hasher`
#: (or any bytes -> int64 fingerprint) to dedup that modality
dedup_media = dedup_images


# --------------------------------------------------------------------------
# Incremental media dedup over a persisted fingerprint index — the
# delta-ingest contract of operators.incremental_dedup, for media.
# --------------------------------------------------------------------------

def _band_table(hashes: DataFrame, max_hamming: int,
                id_col: str = "media_id",
                hash_col: str = "phash") -> DataFrame:
    """(doc, ph, band, val) — one row per pigeonhole band per hash."""
    specs = _band_specs(max_hamming)
    bands = F.array(*[
        F.struct(F.lit(i).alias("band"),
                 F.shiftrightunsigned(F.col("ph"), shift)
                  .bitwiseAND(F.lit((1 << width) - 1)).alias("val"))
        for i, shift, width in specs])
    return (hashes.select(F.col(id_col).alias("doc"),
                          F.col(hash_col).alias("ph"))
            .select("doc", "ph", F.explode(bands).alias("b"))
            .select("doc", "ph", "b.band", "b.val"))


def write_phash_index(hashes: DataFrame, path: str, max_hamming: int = 4,
                      num_buckets: int = 64,
                      delta: str | None = None) -> None:
    """Persist the fingerprint store for (media_id, phash) rows:

    * ``/bands`` — the exploded pigeonhole band table, partitioned by
      ``delta`` then ``pbkt = pmod(xxhash64(band, val), num_buckets)``
      so a probe scans only the partitions its own band values hash
      into;
    * ``/docs`` — (doc, ph) for the seen-id resume filter,
      partitioned by ``delta`` then ``dbkt``, the doc id's bucket;
    * ``_params.json`` — (max_hamming, num_buckets) and the layout,
      the params sidecar: probes can't run with mismatched banding.

    The write is ``store.write_store``'s: ``delta=None`` builds,
    ``delta=<id>`` appends as that delta (a retry with the same id
    rewrites it), ``delta=store.new_delta()`` as a random one; an
    append validates against the sidecar (raising on a mismatch of the
    params or of the recorded layout, or on a store without a recorded
    layout: rebuild it) instead of rewriting it."""
    bt = (_band_table(hashes, max_hamming)
          .withColumn("pbkt", F.pmod(F.xxhash64("band", "val"),
                                     F.lit(num_buckets))))
    docs = (hashes.select(F.col("media_id").alias("doc"),
                          F.col("phash").alias("ph"))
            .withColumn("dbkt", F.pmod(F.xxhash64("doc"),
                                       F.lit(num_buckets))))
    write_store(hashes.sparkSession, path,
                {"bands": (bt, ["pbkt"]), "docs": (docs, ["dbkt"])},
                {"max_hamming": max_hamming, "num_buckets": num_buckets},
                delta)


def dedup_media_incremental(spark, new_media: DataFrame, path: str,
                            hasher: Optional[Callable] = None,
                            delta: str | None = None) -> DataFrame:
    """New-batch media rows that survive near-dedup against BOTH the
    persisted fingerprint index and the batch itself — the
    delta-ingest shape: the corpus is never rescanned, only the
    band-bucket partitions the batch's own fingerprints hash into.

    Semantics mirror ``dedup_minhash_incremental``: already-seen ids
    are a no-op re-run; a new item drops if its near-dup component
    touches any corpus item ("corpus wins") or a lower-id batch item.
    ``delta=None`` only probes; with a ``delta`` id every index read
    leaves that delta out, and the whole batch then extends the index
    as that delta, rewriting it: a retry, or a replayed micro-batch,
    with the same id reproduces its first decision instead of finding
    its own media already stored.  Banding parameters come from the
    index's params sidecar.
    """
    from trial_data_ingestion_spark.operators.incremental_dedup import (
        _corpus_wins_survivors,
    )
    if delta is not None:
        check_partition_value(delta, "delta")
    p = read_params(spark, path)
    max_hamming, num_buckets = p["max_hamming"], p["num_buckets"]

    # both caches are released however the call ends: an append that
    # raises must not leave them pinned for the rest of the session
    raw_hashes = attach_phash(new_media, hasher).persist()
    hashes = None
    try:
        # seen-id resume: read of the batch's dbkt partitions of the doc
        # store only
        batch_dbkts = sorted(r["b"] for r in raw_hashes.select(
            F.pmod(F.xxhash64("media_id"), F.lit(num_buckets))
            .alias("b")).distinct().collect())
        seen = (read_partitions(spark, path, "dbkt", batch_dbkts,
                                "docs", exclude_delta=delta)
                .select(F.col("doc").alias("media_id")))
        new_media = new_media.join(seen, "media_id", "left_anti")
        hashes = raw_hashes.join(seen, "media_id", "left_anti").persist()

        # in-batch pairs: the ordinary lossless pairing
        batch_pairs = (phash_near_dups(hashes, max_hamming)
                       .select(F.col("media_id_a").alias("doc_a"),
                               F.col("media_id_b").alias("doc_b")))

        # cross pairs: batch bands -> read of their pbkt partitions only
        # -> verify
        bt = (_band_table(hashes, max_hamming)
              .withColumn("pbkt", F.pmod(F.xxhash64("band", "val"),
                                         F.lit(num_buckets))))
        probe_bkts = sorted(r["pbkt"] for r in
                            bt.select("pbkt").distinct().collect())
        idx = read_partitions(spark, path, "pbkt", probe_bkts, "bands",
                              exclude_delta=delta)
        cross = (idx.alias("c")
                 .join(F.broadcast(bt.alias("n")),
                       on=[F.col("c.band") == F.col("n.band"),
                           F.col("c.val") == F.col("n.val")])
                 .select(F.col("c.doc").alias("doc_a"),
                         F.col("n.doc").alias("doc_b"),
                         F.col("c.ph").alias("ph_a"),
                         F.col("n.ph").alias("ph_b"))
                 .distinct()
                 .where(F.bit_count(F.col("ph_a")
                                    .bitwiseXOR(F.col("ph_b")))
                        <= max_hamming))
        corpus_nodes = (cross.select(F.col("doc_a").alias("doc"))
                        .distinct())
        confirmed = (batch_pairs
                     .unionByName(cross.select("doc_a", "doc_b"))
                     .distinct())
        survivors = _corpus_wins_survivors(new_media, confirmed,
                                           corpus_nodes, "media_id")
        if delta is not None:
            survivors = survivors.localCheckpoint()
            to_store = hashes.localCheckpoint()
            write_phash_index(to_store, path, max_hamming=max_hamming,
                              num_buckets=num_buckets, delta=delta)
    finally:
        if hashes is not None:
            hashes.unpersist()
        raw_hashes.unpersist()
    return survivors
