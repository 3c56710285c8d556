"""Incremental near-duplicate detection against a persisted MinHash
signature store.

At 100 TB you do not re-shingle and re-hash the whole corpus every
time a delta batch arrives: the corpus' banded MinHash signatures are
computed ONCE, persisted partitioned by a hash of the band bucket,
and each new batch is deduplicated by

1. an **in-batch** LSH pass (the batch against itself), plus
2. a **cross** pass — the batch's banded signatures broadcast-joined
   against the stored corpus bands, with the scan pruned to only the
   partitions the batch's buckets can possibly live in, plus
3. one exact Jaccard verification over (in-batch ∪ cross) candidate
   pairs — corpus text is fetched ONLY for candidate docs, via a
   partition-pruned read of the index's doc payload, plus
4. cluster-correct removal: connected components over the confirmed
   pairs; a new doc survives iff its component contains **no corpus
   doc** and it is the minimum-id new doc of its component
   ("corpus wins": persisted docs are never retracted by a delta).

The index stores EVERYTHING it has seen (duplicates included), not
just survivors: a new doc may match a previously-dropped duplicate
without matching that duplicate's representative, and the full graph
is what makes the incremental decision identical to re-running
:func:`~.dedup.dedup_minhash` over the union (see the parity test).

Index layout under ``path``:

* ``bands/``  — (doc, band, bucket, dbkt) partitioned by
  ``delta`` (the ingest batch that wrote the rows; ``base`` for the
  initial build) then ``pbkt = pmod(xxhash64(bucket, band),
  num_buckets)``; a probe touches only the partitions of the batch's
  own buckets (``pbkt`` pruning works below the delta level).
* ``docs/``   — (doc, text) partitioned by ``delta`` then ``dbkt =
  pmod(xxhash64(doc), num_buckets)``; candidate verification reads
  only the partitions holding candidate corpus docs (their ``dbkt``
  rides along on the band rows, so no corpus-side hashing at query
  time).
* ``_params.json`` — (k, num_hashes, bands, num_buckets) and the
  layout of both tables, the store's params sidecar
  (``store.read_params``), so callers can't probe or append with
  mismatched hashing parameters, and probes read without inferring.

The ``delta`` level (``store.write_store``) is what makes appends
RETRYABLE (a delta-keyed append deletes its own partitions first —
whole-call idempotent) and streaming REPLAYABLE (a probe can exclude
its own delta to recompute a micro-batch's decision exactly as if it
hadn't appended yet).

Reference parity: the reference dedups only within one run
(``pipelines/ingest_pipeline.py`` drop_duplicates); incremental
corpus-level near-dedup is part of this engine's training-data tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from trial_data_ingestion_spark.operators.dedup import (
    char_shingles, connected_components_min_label, jaccard_verify,
    minhash_signatures,
)
from trial_data_ingestion_spark.operators.pins import PinScope
from trial_data_ingestion_spark.session import local_frame
from trial_data_ingestion_spark.store import (
    batch_sink, check_partition_value, index_auto_buckets, read_params,
    read_partitions, write_store,
)

#: candidate-pair sets at or below this size are Jaccard-verified on
#: a LOCAL pair frame (evaluated on the driver, no job) instead of
#: the exploded shingle pipeline (~10 shuffle stages whose scheduling
#: dominates at delta scale).  Above it — a delta batch colliding
#: with >100k corpus pairs — the distributed verify path runs
#: unchanged.
LOCAL_VERIFY_MAX_PAIRS = 100_000

#: second bound on the local path (round 9): the pair verify collects
#: the TEXTS of every in-pair doc, so the driver payload is bounded
#: by doc count x doc size, not by the pair count alone — 100k pairs
#: over 2k hot docs collect ~2 MB, but 90k pairs spread over 90k
#: docs would pull ~100 MB of strings through the driver.  Past this
#: many in-pair docs the distributed formulation runs instead; the
#: decision needs only the already-collected pair rows, never the
#: texts.  (Measured for calibration: the b09 100x tier's probe has
#: 719k pairs over 196k docs — the PAIR bound already routes it to
#: the distributed path; this bound covers the many-docs/few-pairs
#: quadrant the pair bound misses.)
LOCAL_VERIFY_MAX_DOCS = 25_000

def _banded(df: DataFrame, id_col: str, text_col: str, k: int,
            num_hashes: int, bands: int) -> DataFrame:
    """(doc, band, bucket) banded-signature rows — the LSH key table
    (same banding as ``minhash_lsh_candidates``)."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, k, num_hashes)
    return sig.select(
        "doc",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.concat_ws(",", *[
                         F.col(f"h{b * rows_per_band + r}")
                         for r in range(rows_per_band)
                     ]).alias("bucket"))
            for b in range(bands)
        ])).alias("bb"),
    ).select("doc", "bb.band", "bb.bucket")


def _pbkt(num_buckets: int):
    return F.pmod(F.xxhash64("bucket", "band"), F.lit(num_buckets))


def _minhash_tables(docs: DataFrame, banded: DataFrame, id_col: str,
                    text_col: str, num_buckets: int) -> dict:
    """The MinHash store's two sub-tables (``store.write_store``) for
    the documents ``docs`` and their (doc, band, bucket) rows
    ``banded``: band rows under ``pbkt``, carrying their doc's
    ``dbkt``, and (doc, text) rows under ``dbkt``."""
    def dbkt(col):
        return F.pmod(F.xxhash64(F.col(col)), F.lit(num_buckets))
    return {
        "bands": (banded.select("doc", "band", "bucket")
                  .withColumn("dbkt", dbkt("doc"))
                  .withColumn("pbkt", _pbkt(num_buckets)), ["pbkt"]),
        "docs": (docs.select(F.col(id_col).alias("doc"),
                             F.col(text_col).alias("text"),
                             dbkt(id_col).alias("dbkt")), ["dbkt"])}


def write_minhash_index(df: DataFrame, path: str,
                        id_col: str = "doc_id", text_col: str = "text",
                        k: int = 8, num_hashes: int | str = 32,
                        bands: int = 8,
                        num_buckets: int | str = "auto",
                        delta: str | None = None,
                        threshold: float = 0.8) -> None:
    """Persist the banded-signature store for ``df`` (one shuffle —
    the signature groupBy; the band fan-out and partitioned write are
    narrow) through ``store.write_store``: ``delta=None`` builds,
    ``delta=<id>`` appends as that delta (a retry with the same id
    rewrites it), ``delta=store.new_delta()`` appends as a random one.
    Compact small files (``store.compact``) when delta batches are
    tiny and frequent.

    ``num_hashes="auto"`` (builds only) sizes the banding from a
    ``count()`` of ``df`` via :func:`dedup.auto_banding` at
    ``threshold`` — the corpus-tracking setting that keeps the
    PROBE's chance-collision candidate term linear as the indexed
    corpus grows (the index-side twin of
    ``dedup_minhash(num_hashes='auto')``; b09's 100x wall exponent
    was 0.64 with fixed banding because probe candidates inherit the
    band-collision birthday term).  ``bands`` is then ignored and the
    chosen pair lands in ``_params.json`` for every later
    probe/append.
    ``num_buckets="auto"`` (the default, r12) sizes the partition
    layout from a ``count()`` via :func:`index_auto_buckets` — the
    bucket count is the probe's pruning granularity AND the file
    count of every read/append, so it must track the corpus rather
    than stay a constant (measured rationale on that function);
    appends with the default INHERIT the stored layout.
    An APPEND always validates (k, num_hashes, bands, num_buckets)
    against the stored params and raises on mismatch — appending
    bands keyed differently from the stored corpus would silently
    corrupt every later probe."""
    spark = df.sparkSession
    n_docs = None
    if num_hashes == "auto":
        if delta is not None:
            raise ValueError(
                "num_hashes='auto' is for base builds; appends "
                "inherit the index's stored banding — pass the "
                "stored values (or omit to use the defaults and "
                "let the validation below catch a mismatch)")
        from trial_data_ingestion_spark.operators.dedup import (
            auto_banding,
        )
        n_docs = df.count()
        plan = auto_banding(n_docs, threshold)
        num_hashes, bands = plan["num_hashes"], plan["bands"]
    elif not isinstance(num_hashes, int) or isinstance(num_hashes, bool):
        raise ValueError("num_hashes must be an int or 'auto'")
    if num_buckets == "auto":
        if delta is not None:
            # appends INHERIT the stored layout (the validation
            # below still runs, so an explicit-int mismatch is
            # caught while the default simply follows the base)
            num_buckets = read_params(spark, path)["num_buckets"]
        else:
            # one count() per base build, shared with auto banding's
            num_buckets = index_auto_buckets(
                n_docs if n_docs is not None else df.count())
    elif (not isinstance(num_buckets, int)
          or isinstance(num_buckets, bool) or num_buckets < 1):
        raise ValueError("num_buckets must be a positive int or "
                         "'auto'")
    write_store(spark, path, _minhash_tables(
        df, _banded(df, id_col, text_col, k, num_hashes, bands),
        id_col, text_col, num_buckets),
        {"k": k, "num_hashes": num_hashes, "bands": bands,
         "num_buckets": num_buckets}, delta)


def cross_candidates(spark, new_banded: DataFrame, index_path: str,
                     num_buckets: int) -> DataFrame:
    """(doc_a = corpus doc, doc_b = new doc, dbkt_a) candidate pairs:
    only the band partitions named by the batch's own bucket hashes
    are listed and scanned (``store.read_partitions``, every
    delta; the literal ``pbkt`` filter shows as ``PartitionFilters``),
    and the batch side is broadcast, so the corpus never shuffles."""
    probe = new_banded.withColumn("pbkt", _pbkt(num_buckets))
    pbkts = sorted(r["pbkt"]
                   for r in probe.select("pbkt").distinct().collect())
    idx = read_partitions(spark, index_path, "pbkt", pbkts, "bands")
    return (idx.join(F.broadcast(probe.withColumnRenamed("doc", "doc_b")),
                     ["band", "bucket", "pbkt"])
               .where(F.col("doc") != F.col("doc_b"))
               .select(F.col("doc").alias("doc_a"), "doc_b",
                       F.col("dbkt").alias("dbkt_a"))
               .distinct())


def _corpus_wins_survivors(new_docs: DataFrame, confirmed: DataFrame,
                           corpus_nodes: DataFrame,
                           id_col: str) -> DataFrame:
    """Cluster-correct incremental removal, shared by the MinHash and
    embedding incremental paths: connected components over the
    confirmed pair graph; a new doc survives iff its component holds
    no corpus doc ("corpus wins" — persisted docs are never
    retracted) and it is the min-id new doc of its component.
    ``corpus_nodes``: one ``doc`` column of corpus-side candidate
    ids."""
    labels = connected_components_min_label(
        confirmed.select("doc_a", "doc_b").localCheckpoint())
    new_ids = new_docs.select(F.col(id_col).alias("doc")).distinct()
    # components touching ANY corpus doc: every new member drops
    corpus_comps = (labels.join(corpus_nodes, "doc")
                          .select("label").distinct())
    new_labeled = labels.join(new_ids, "doc")
    reps = (new_labeled.join(corpus_comps, "label", "left_anti")
            .groupBy("label").agg(F.min("doc").alias("rep")))
    drops = (new_labeled.join(corpus_comps, "label", "left_semi")
             .select("doc")
             .union(new_labeled.join(reps, "label")
                    .where(F.col("doc") != F.col("rep"))
                    .select("doc"))
             .distinct()
             .withColumnRenamed("doc", id_col)
             # drops is duplicate-ids-only (bounded by the candidate
             # set); pinning it here lets the caller unpersist/retire
             # every upstream frame (banded batch, cross candidates)
             # without the returned survivor plan re-running the
             # probe joins on its next action
             .localCheckpoint())
    return new_docs.join(F.broadcast(drops), id_col, "left_anti")


def _corpus_wins_drops(edges: list, corpus_ids: set) -> set:
    """Driver-side twin of :func:`_corpus_wins_survivors` for small
    confirmed-pair graphs: path-compressing union-find over the
    collected edge list; returns the NEW-doc ids to drop (a new doc
    drops iff its component holds a corpus doc, or it is not the
    min-id new doc of a corpus-free component).  Identical decision
    to the distributed formulation — only the execution site differs
    (zero Spark jobs instead of label propagation + checkpoint)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:              # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_new: dict = {}
    comp_has_corpus: set = set()
    for node in parent:
        root = find(node)
        if node in corpus_ids:
            comp_has_corpus.add(root)
        else:
            comp_new.setdefault(root, []).append(node)
    drops: set = set()
    for root, news in comp_new.items():
        if root in comp_has_corpus:
            drops.update(news)
        else:
            news.remove(min(news))
            drops.update(news)
    return drops


def _local_id_frame(spark, ids, template: DataFrame, id_col: str):
    """One-column (``id_col``) DataFrame from a driver-side id list,
    typed like ``template[id_col]``: a :func:`local_frame`, so the
    broadcast that joins it ships rows the driver already holds and
    runs no Python-worker job."""
    schema = T.StructType(
        [T.StructField(id_col, template.schema[id_col].dataType, True)])
    return local_frame(spark, [(i,) for i in sorted(ids)], schema)


def _local_probe_frame(spark, rows, template: DataFrame, id_col: str):
    """(doc, band, bucket, pbkt) DataFrame from driver-side banded
    probe rows, typed like the Spark-computed probe: a
    :func:`local_frame`, so re-using the already-collected banding as
    the cross join's broadcast side recomputes nothing and runs no
    Python-worker job."""
    schema = T.StructType([
        T.StructField("doc", template.schema[id_col].dataType, True),
        T.StructField("band", T.IntegerType(), True),
        T.StructField("bucket", T.StringType(), True),
        T.StructField("pbkt", T.LongType(), True)])
    return local_frame(spark, rows, schema)


def _verify_pairs_local(spark, pairs: list, texts: dict, id_type,
                        k: int, threshold: float) -> list:
    """Exact Jaccard over a COLLECTED candidate set, over a
    :func:`local_frame` of the pairs shingled with :func:`char_shingles`
    — the same Spark kernel family as the exploded path, so the
    string semantics (Java regex ``\\s`` class, UTF-16 substring
    positions) are byte-identical to ``jaccard_verify``.  Texts that
    normalize to empty (or are null) get an EMPTY shingle set, the
    behavior the exploded path's ``length > 0`` filter produces.
    Returns the confirmed (doc_a, doc_b) list."""
    if not pairs:
        return []
    rows = [(a, b, texts.get(a), texts.get(b)) for a, b in pairs]
    schema = T.StructType([
        T.StructField("doc_a", id_type, True),
        T.StructField("doc_b", id_type, True),
        T.StructField("__ta", T.StringType(), True),
        T.StructField("__tb", T.StringType(), True)])
    pf = local_frame(spark, rows, schema)

    def sh(col):
        norm = F.trim(F.regexp_replace(col, r"\s+", " "))
        return F.when(F.length(norm) > 0, char_shingles(col, k)) \
                .otherwise(F.array().cast("array<string>"))

    sa, sb = sh(F.col("__ta")), sh(F.col("__tb"))
    inter = F.size(F.array_intersect(sa, sb))
    jac = inter / (F.size(sa) + F.size(sb) - inter)
    out = (pf.select("doc_a", "doc_b", jac.alias("j"))
             .where(F.col("j") >= F.lit(threshold)))
    return [(r["doc_a"], r["doc_b"]) for r in out.collect()]


def dedup_minhash_incremental(spark, new_docs: DataFrame,
                              index_path: str,
                              id_col: str = "doc_id",
                              text_col: str = "text",
                              threshold: float = 0.8,
                              delta: str | None = None) -> DataFrame:
    """New-batch rows that survive near-dedup against BOTH the
    persisted corpus index and the batch itself.

    Hashing parameters come from the index's own ``params`` table —
    probing with mismatched (k, num_hashes, bands) can't happen.
    ``delta=None`` only probes.  With a ``delta`` id the probe leaves
    that delta out of every index read, and then the *entire batch*
    (survivors and duplicates alike — see the module docstring for
    why) is appended to the index as that delta, overwriting it
    (``store.write_store``).  So the whole call is RETRYABLE: a
    retry, or a replayed micro-batch, with the same ``delta``
    reproduces its first decision and leaves the index as one call
    would.  ``delta=store.new_delta()`` appends under a random id, at
    most once.

    Execution shape: the steady cost of a delta probe is
    job-SCHEDULING latency, not data.  This one makes 4 driver
    round-trips.  Under AQE each shuffle stage of a collect is a Spark
    job of its own, so on a 4-core local master a probe runs 10 jobs:
    3 for step 1, 4 for step 2, 3 for step 3 and none for step 4.
    A ``delta`` adds 4 more for the bands and docs writes, and the
    caller's action on the returned plan runs its own:

    1. ONE bounded collect of the batch ids + doc-bucket hashes AND
       the banded probe rows (the r12 shape ALREADY round-tripped the
       banded probe through the driver as the cross join's broadcast
       side, so driver-holding it is the same budget class).  With
       the probe driver-side, its partition hashes AND the in-batch
       band-bucket candidate pairs are plain Python — the r12 pbkt
       job and the probe pin/self-join disappear.
    2. ONE collect unioning the seen-id scan (resume semantics) with
       the cross-candidate join — both index reads list and scan
       only the batch's own bucket partitions
       (``store.read_partitions``),
       the probe re-entering as a broadcast LOCAL table, so the
       corpus never shuffles and the probe is never recomputed.
       Seen docs are excluded from the pair set driver-side (the
       banding of a seen doc is wasted minhash work, but seen docs
       are rare — resume/replay only — and the fused job saves a
       full scheduling round-trip on every probe).
    3. Texts of in-pair docs only (pruned corpus read + the pinned
       fresh batch, semi-joined against the local in-pair-id table).
    4. The local Jaccard verify, which Spark evaluates on the driver
       over the pair frame's LocalRelation
       (:func:`_verify_pairs_local`, Spark's own shingle kernel);
       the corpus-wins decision is driver union-find
       (:func:`_corpus_wins_drops`).

    Candidate sets past :data:`LOCAL_VERIFY_MAX_PAIRS` — or touching
    more than :data:`LOCAL_VERIFY_MAX_DOCS` docs (the text-payload
    bound) — fall back to the fully distributed r8 formulation (the
    in-batch self-join then runs over the broadcast local probe
    table instead of driver enumeration).  The returned plan is the
    caller's own input anti-joined against a LOCAL excluded-id table
    — it reads neither the index nor any cache, so every pin is
    released before return (:class:`~.pins.PinScope`) and an append
    can't be observed by the result."""
    if delta is not None:
        check_partition_value(delta, "delta")
    p = read_params(spark, index_path)
    k, num_hashes, bands = p["k"], p["num_hashes"], p["bands"]
    num_buckets = p["num_buckets"]

    def _idx(table: str, column: str, values: list) -> DataFrame:
        return read_partitions(spark, index_path, column, values, table,
                               exclude_delta=delta)

    # step 1: batch ids + doc-bucket hashes AND the banded probe in
    # one bounded collect (id rows ride with null band so docs whose
    # text normalizes to zero shingles still register as batch ids)
    j1 = (new_docs
          .select(F.col(id_col).alias("doc"),
                  F.pmod(F.xxhash64(F.col(id_col)),
                         F.lit(num_buckets)).alias("dbkt"),
                  F.lit(None).cast("int").alias("band"),
                  F.lit(None).cast("string").alias("bucket"),
                  F.lit(None).cast("bigint").alias("pbkt"))
          .distinct()
          .unionByName(
              _banded(new_docs, id_col, text_col, k, num_hashes,
                      bands)
              .withColumn("pbkt", _pbkt(num_buckets))
              .select("doc",
                      F.lit(None).cast("bigint").alias("dbkt"),
                      "band", "bucket", "pbkt"))
          .collect())
    id_rows = [r for r in j1 if r["band"] is None]
    probe_rows = [(r["doc"], r["band"], r["bucket"], r["pbkt"])
                  for r in j1 if r["band"] is not None]
    if not id_rows:
        return new_docs
    batch_bkts = sorted({r["dbkt"] for r in id_rows})
    pbkts = sorted({r[3] for r in probe_rows})

    id_type = new_docs.schema[id_col].dataType
    batch_ids_df = _local_id_frame(
        spark, (r["doc"] for r in id_rows), new_docs, id_col)
    probe_local = _local_probe_frame(spark, probe_rows, new_docs,
                                     id_col)

    # step 2: seen ids (resume semantics — ids the index has already
    # stored are not "new") and cross candidates in ONE collect; both
    # branches are partition-pruned index scans against broadcast
    # local tables.  The cross side is limit-bounded: past the local
    # cap the distributed fallback recomputes it exactly anyway.
    seen_branch = (
        _idx("docs", "dbkt", batch_bkts)
        .select("doc")
        .join(F.broadcast(batch_ids_df.withColumnRenamed(
            id_col, "doc")), "doc", "left_semi")
        .select(F.col("doc").alias("doc_a"),
                F.lit(None).cast(id_type).alias("doc_b"),
                F.lit(None).cast("bigint").alias("dbkt_a"),
                F.lit(0).alias("__k")))
    cross_branch = (
        _idx("bands", "pbkt", pbkts)
        .join(F.broadcast(probe_local.withColumnRenamed(
            "doc", "doc_b")), ["band", "bucket", "pbkt"])
        .where(F.col("doc") != F.col("doc_b"))
        .select(F.col("doc").alias("doc_a"), "doc_b",
                F.col("dbkt").alias("dbkt_a"))
        .distinct()
        .limit(LOCAL_VERIFY_MAX_PAIRS + 1)
        .withColumn("__k", F.lit(1)))
    j2 = seen_branch.unionByName(cross_branch).collect()
    seen_ids = {r["doc_a"] for r in j2 if r["__k"] == 0}
    cross_rows = [r for r in j2 if r["__k"] == 1]
    # a seen doc's bands are already IN the index, so its cross pairs
    # (corpus doc vs itself-as-batch-doc) and in-batch pairs are the
    # r12 shape's excluded-before-banding rows — dropped here instead
    cross_pairs = [(r["doc_a"], r["doc_b"], r["dbkt_a"])
                   for r in cross_rows if r["doc_b"] not in seen_ids]
    cross_overflow = len(cross_rows) > LOCAL_VERIFY_MAX_PAIRS

    # in-batch candidates: plain Python over the driver-held probe —
    # group by (band, bucket), all (a < b) pairs, capped at the local
    # bound (past it the decision falls to the distributed path,
    # which re-derives the full set)
    groups: dict = {}
    for doc, band, bucket, _ in probe_rows:
        if doc not in seen_ids:
            groups.setdefault((band, bucket), set()).add(doc)
    batch_pairs: set = set()
    batch_overflow = False
    pair_budget = LOCAL_VERIFY_MAX_PAIRS + 1
    for g in groups.values():
        if batch_overflow or len(g) < 2:
            continue
        gs = sorted(g)
        for i in range(len(gs)):
            for j in range(i + 1, len(gs)):
                batch_pairs.add((gs[i], gs[j]))
                if len(batch_pairs) >= pair_budget:
                    batch_overflow = True
                    break
            if batch_overflow:
                break

    pairs = list({(a, b) for a, b, _ in cross_pairs} | batch_pairs)
    in_pair_ids = {d for pr in pairs for d in pr}

    orig = new_docs
    kept_frame = None
    with PinScope() as pins:
        # the fresh batch feeds the verify text union and the append
        # write; its seen-filter is a broadcast anti against the
        # LOCAL id table (no index read in the plan)
        fresh = orig
        if seen_ids:
            fresh = orig.join(
                F.broadcast(_local_id_frame(spark, seen_ids, orig,
                                            id_col)),
                id_col, "left_anti")
        fresh = pins.pin(fresh)

        if (not cross_overflow and not batch_overflow
                and len(pairs) <= LOCAL_VERIFY_MAX_PAIRS
                and len(in_pair_ids) <= LOCAL_VERIFY_MAX_DOCS):
            cand_ids = {a for a, b, _ in cross_pairs}
            dbkts = sorted({d for _, _, d in cross_pairs})
            # step 3: texts of in-pair docs only — pruned corpus read
            # plus the cached batch, semi-joined against the local id
            # table
            if in_pair_ids:
                corpus_texts = (
                    _idx("docs", "dbkt", dbkts)
                    .select(F.col("doc").alias(id_col),
                            F.col("text").alias(text_col)))
                texts = {
                    r[id_col]: r[text_col] for r in
                    corpus_texts.unionByName(
                        fresh.select(id_col, text_col))
                    .join(F.broadcast(_local_id_frame(
                        spark, in_pair_ids, orig, id_col)),
                        id_col, "left_semi")
                    .collect()}
            else:
                texts = {}
            # step 4: exact Jaccard on the local pair frame (no job:
            # Spark folds it into the LocalRelation on the driver);
            # decision via driver union-find
            confirmed_pairs = _verify_pairs_local(
                spark, pairs, texts, id_type, k, threshold)
            drops = _corpus_wins_drops(confirmed_pairs, cand_ids)
        else:
            # distributed fallback for a pathological candidate set:
            # the r8 formulation (exploded-shingle verify, label
            # propagation, survivor-id pin).  The probe re-enters as
            # the broadcast LOCAL table on both the in-batch
            # self-join and the cross join — still no banding
            # recompute, no corpus shuffle.
            fresh_probe = probe_local
            if seen_ids:
                fresh_probe = probe_local.join(
                    F.broadcast(_local_id_frame(
                        spark, seen_ids, orig,
                        id_col).withColumnRenamed(id_col, "doc")),
                    "doc", "left_anti")
            a, b = fresh_probe.alias("a"), fresh_probe.alias("b")
            batch_cands = (
                a.join(b, on=[F.col("a.band") == F.col("b.band"),
                              F.col("a.bucket") == F.col("b.bucket"),
                              F.col("a.doc") < F.col("b.doc")])
                 .select(F.col("a.doc").alias("doc_a"),
                         F.col("b.doc").alias("doc_b"))
                 .distinct())
            cross = (
                _idx("bands", "pbkt", pbkts)
                .join(F.broadcast(fresh_probe.withColumnRenamed(
                    "doc", "doc_b")), ["band", "bucket", "pbkt"])
                .where(F.col("doc") != F.col("doc_b"))
                .select(F.col("doc").alias("doc_a"), "doc_b",
                        F.col("dbkt").alias("dbkt_a"))
                .distinct())
            all_cands = (cross.unionByName(
                            batch_cands.withColumn(
                                "dbkt_a", F.lit(None).cast("bigint")))
                         .distinct())
            cross = pins.pin(cross)
            cand_corpus = (cross.select(F.col("doc_a").alias("doc"),
                                        "dbkt_a").distinct())
            dbkts = sorted({r["dbkt_a"] for r in
                            cand_corpus.select("dbkt_a")
                                       .distinct().collect()})
            corpus_texts = (
                _idx("docs", "dbkt", dbkts)
                .join(F.broadcast(cand_corpus.select("doc")), "doc",
                      "left_semi")
                .select(F.col("doc").alias(id_col),
                        F.col("text").alias(text_col)))
            union_df = corpus_texts.unionByName(
                fresh.select(id_col, text_col))
            confirmed = jaccard_verify(
                union_df, all_cands.select("doc_a", "doc_b"), id_col,
                text_col, k, threshold, pinned=pins)
            survivors = _corpus_wins_survivors(
                fresh, confirmed,
                cross.select(F.col("doc_a").alias("doc")).distinct(),
                id_col)
            kept_frame = survivors.select(id_col).localCheckpoint()
        if delta is not None:
            # fresh's plan reads only the caller's input and a local
            # id table — never the index — so the append can write
            # straight from the pinned frame; the band rows re-enter
            # as the already-collected probe (fresh docs only), so
            # the append never re-runs the MinHash kernel
            fresh_banded = probe_local
            if seen_ids:
                fresh_banded = probe_local.join(
                    F.broadcast(_local_id_frame(
                        spark, seen_ids, orig,
                        id_col).withColumnRenamed(id_col, "doc")),
                    "doc", "left_anti")
            write_store(spark, index_path, _minhash_tables(
                fresh, fresh_banded, id_col, text_col, num_buckets),
                p, delta)
    if kept_frame is not None:
        return orig.join(F.broadcast(kept_frame), id_col, "left_semi")
    excluded = seen_ids | drops
    if not excluded:
        return orig
    return orig.join(
        F.broadcast(_local_id_frame(spark, excluded, orig, id_col)),
        id_col, "left_anti")


# ---------------------------------------------------------------------------
# Embedding near-dup, incremental: the same delta-batch contract over
# the persisted SRP layout (similarity.write_srp_index) — hyperplane
# sign buckets in coarse pbkt partitions instead of MinHash bands.
# ---------------------------------------------------------------------------


def embedding_near_dups_incremental(spark, new_embeddings: DataFrame,
                                    index_path: str, dim: int,
                                    id_col: str = "vec_id",
                                    vec_col: str = "embedding",
                                    threshold: float = 0.9,
                                    num_planes: int | None = None,
                                    delta: str | None = None
                                    ) -> DataFrame:
    """New-batch vectors surviving embedding-cosine near-dedup
    against BOTH a persisted :func:`~.similarity.write_srp_index`
    corpus and the batch itself.

    The corpus side lists and scans only the ``pbkt`` partitions the
    batch's buckets map to, and keeps those buckets by a literal
    ``bucket IN (...)`` filter (``similarity._read_buckets``;
    projections and norms were paid at build time — the corpus never
    recomputes a plane); the batch side is hashed once and broadcast.
    Components are resolved with the same corpus-wins rule as
    :func:`dedup_minhash_incremental`.  Identical vectors hash to
    identical buckets, so the seen-id resume filter also rides that
    bucket read.

    ``num_planes=None`` (default) hashes the batch with the plane
    count the index RECORDED at build time (the only count that can
    route probes correctly); an explicit int is cross-checked and a
    mismatch raises, and so does an index in the older
    one-directory-per-bucket layout ("rebuild the store"), before any
    Spark job.  The plane set is therefore pinned for the index's
    lifetime — when a growing corpus outruns its occupancy
    target (:func:`~.similarity.srp_auto_planes`), rebuild the index
    with ``num_planes="auto"`` rather than appending forever.

    ``delta`` works as in :func:`dedup_minhash_incremental`: ``None``
    only probes; an id probes with that delta left out, then APPENDS
    the batch into the ``pbkt`` layout as that delta
    (``write_srp_index(delta=...)`` — never an overwrite, which would
    drop the corpus rows sharing the batch's buckets), so a retry with
    the same id repeats its decision and rewrites its delta."""
    from trial_data_ingestion_spark.functions.vector import (
        dot_fixed, l2_norm_fixed,
    )
    from trial_data_ingestion_spark.operators.similarity import (
        _read_buckets, _srp_layout, srp_bucket, write_srp_index,
    )

    if delta is not None:
        check_partition_value(delta, "delta")
    num_planes, num_buckets = _srp_layout(spark, index_path, num_planes,
                                          dim)
    pins = PinScope()
    nb = pins.pin(
        new_embeddings
        .select(F.col(id_col).alias("doc"),
                F.col(vec_col).alias("v"),
                l2_norm_fixed(vec_col, dim).alias("nrm"),
                srp_bucket(vec_col, dim, num_planes).alias("bucket")))
    buckets = [r["bucket"] for r in
               nb.select("bucket").distinct().collect()]
    idx = (_read_buckets(spark, index_path, num_buckets, buckets,
                         exclude_delta=delta)
           .select(F.col(id_col).alias("doc"),
                   F.col(vec_col).alias("v"),
                   F.col("__nrm").alias("nrm"), "bucket"))

    # resume: ids already stored are not "new"
    seen = idx.select(F.col("doc").alias(id_col)).distinct()
    orig = new_embeddings
    new_embeddings = new_embeddings.join(seen, id_col, "left_anti")
    nb_fresh = nb.join(seen.withColumnRenamed(id_col, "doc"), "doc",
                       "left_anti")

    a, b = nb_fresh.alias("a"), nb_fresh.alias("b")
    batch_pairs = (
        a.join(b, on=[F.col("a.bucket") == F.col("b.bucket"),
                      F.col("a.doc") < F.col("b.doc")])
         .withColumn("cos", dot_fixed("a.v", "b.v", dim)
                     / (F.col("a.nrm") * F.col("b.nrm")))
         .where(F.col("cos") >= threshold)
         .select(F.col("a.doc").alias("doc_a"),
                 F.col("b.doc").alias("doc_b")))
    cross_pairs = (
        idx.alias("c").join(F.broadcast(nb_fresh.alias("n")),
                            on=[F.col("c.bucket") == F.col("n.bucket"),
                                F.col("c.doc") != F.col("n.doc")])
           .withColumn("cos", dot_fixed("c.v", "n.v", dim)
                       / (F.col("c.nrm") * F.col("n.nrm")))
           .where(F.col("cos") >= threshold)
           .select(F.col("c.doc").alias("doc_a"),
                   F.col("n.doc").alias("doc_b"))
           .distinct())
    corpus_nodes = cross_pairs.select(F.col("doc_a").alias("doc")) \
                              .distinct()
    confirmed = batch_pairs.unionByName(cross_pairs).distinct()
    survivors = _corpus_wins_survivors(new_embeddings, confirmed,
                                       corpus_nodes, id_col)
    # same contract as dedup_minhash_incremental: pin the survivor id
    # set, return a broadcast semi-join over the caller's input —
    # index-free and cache-free, so nothing cached outlives the call
    # (PinScope releases even if the append write raises)
    try:
        kept = survivors.select(id_col).localCheckpoint()
        if delta is not None:
            to_add = new_embeddings.localCheckpoint()
            write_srp_index(to_add, index_path, dim, id_col=id_col,
                            vec_col=vec_col, num_planes=num_planes,
                            delta=delta)
    finally:
        pins.release()
    return orig.join(F.broadcast(kept), id_col, "left_semi")


def minhash_dedup_stream_sink(index_path: str, out_path: str,
                              id_col: str = "doc_id",
                              text_col: str = "text",
                              threshold: float = 0.8):
    """``foreachBatch`` function running corpus-level incremental
    near-dedup over a document stream — the streaming closure of the
    persisted-MinHash tier, the way ``hll_stream_sink`` closed the
    sketch tier (round-9 verdict item 5).

    Each micro-batch is one delta, named by its batch key
    (``store.batch_key``: ``batch-{batch_id:09d}-{query id}``): it
    probes the index with that delta EXCLUDED from every read and
    appends itself as that delta (:func:`dedup_minhash_incremental`
    with ``delta=key``), then writes its survivors as the
    ``shard=key`` partition of ``out_path`` (``store.batch_sink``).
    Batch ids and the query id are stable across checkpoint restarts,
    so a REPLAYED micro-batch reproduces the identical decision (its
    own delta is invisible to the probe), overwrites its own index
    delta instead of double-appending, and rewrites its own survivor
    shard — exactly-once output by construction.  A second query over
    the same index or ``out_path`` (new checkpoint, batch ids from 0
    again) keeps the first query's deltas and shards.  An
    all-duplicate batch correctly leaves an empty survivor shard.

    The exactness argument leans on Structured Streaming's replay
    shape: only the LATEST (uncommitted) batch is ever re-delivered,
    so at replay time the index holds exactly the deltas the original
    attempt saw plus possibly the batch's own — which the probe
    excludes.  (An out-of-order replay of an OLD batch after newer
    deltas landed is not a state Structured Streaming produces.)

    Usage::

        q = (docs.writeStream
             .foreachBatch(minhash_dedup_stream_sink(idx, out))
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
    """
    return batch_sink(lambda df, key: dedup_minhash_incremental(
        df.sparkSession, df, index_path, id_col=id_col,
        text_col=text_col, threshold=threshold, delta=key), out_path)


def embedding_dedup_stream_sink(index_path: str, out_path: str,
                                dim: int,
                                id_col: str = "vec_id",
                                vec_col: str = "embedding",
                                threshold: float = 0.9):
    """``foreachBatch`` function running corpus-level incremental
    embedding-cosine near-dedup over a vector stream — the streaming
    closure of the persisted-SRP tier, symmetric with
    :func:`minhash_dedup_stream_sink` (same ``store.batch_sink``
    contract).

    Each micro-batch probes the SRP index with its batch key's delta
    EXCLUDED from every read and appends itself as that delta
    (:func:`embedding_near_dups_incremental` with ``delta=key``),
    then rewrites its ``shard=key`` survivor shard under
    ``out_path``.  Because the plane count comes from the index's
    ``_params.json`` sidecar, every micro-batch hashes with the planes
    the corpus was built with — a sink cannot misroute probes by
    passing its own count.  Replay of the latest uncommitted batch
    reproduces the identical decision and overwrites its own delta +
    shard — exactly-once output by construction (see
    :func:`minhash_dedup_stream_sink` for the replay-shape
    argument)."""
    return batch_sink(lambda df, key: embedding_near_dups_incremental(
        df.sparkSession, df, index_path, dim, id_col=id_col,
        vec_col=vec_col, threshold=threshold, delta=key), out_path)
