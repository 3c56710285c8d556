"""Event-sequence analytics: ordered conversion funnels and cohort
retention over an events table — the two classic product-analytics
queries a general OLAP engine is expected to answer (ClickHouse's
``windowFunnel``/``retention`` combinators are the published
reference semantics; neither exists as a Spark built-in).

Spark-first shapes:

  * **funnel** — ONE keyed shuffle: per-user event structs aggregate
    with ``sort_array(collect_list(...))`` and the chain-matching
    fold runs as a native ``F.aggregate`` lambda over the sorted
    array (JVM expression eval, no Python); the per-depth rollup
    that follows sees one tiny row per user.
  * **retention** — ONE corpus shuffle: ``groupBy(user)`` computes
    the cohort (first active period) AND the distinct active-period
    set in the same aggregate; the explode + (cohort, period) rollup
    that follows shuffles only user-count-sized data.

Funnel semantics (= ClickHouse ``windowFunnel``, non-strict): events
scan in time order; a step-0 event opens a chain (only the first
one — greedy); a step-``s`` event extends the deepest chain that has
matched steps ``0..s-1`` iff it lies within ``within_seconds`` of
that chain's FIRST event.  Greedy-from-first-start is the industry
contract: exact for existence when ``within_seconds`` is None,
deterministic and documented (not globally optimal) when a window is
set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from trial_data_ingestion_spark.session import ensure_parallelism, local_frame


def _cap_events(ev: DataFrame, max_events_per_user: int | None,
                k_min: int, what: str) -> DataFrame:
    """Apply the per-user skew cap BEFORE the aggregation: keep each
    user's FIRST ``max_events_per_user`` events by (time, struct
    tiebreak) via ``row_number() <= N`` over the same (user) ordering
    ``sort_array`` uses, so the kept multiset is exactly the prefix a
    post-collect ``slice`` would keep — bit-identical results.

    Why pre-agg (round-8 fix): a post-collect slice bounds the fold
    and the emit width but NOT the aggregation buffer — a bot with a
    million events still materialized its full array on one straggler
    row before the slice dropped it (sort-based agg spills, so it
    degraded rather than OOM'd, but the 100 TB straggler-protection
    claim was only half-true).  The window filter bounds the buffer
    itself; its hash partitioning on ``user`` is exactly what the
    following ``groupBy("user")`` requires, so Catalyst reuses the
    exchange — capped plans carry one extra per-partition sort, ZERO
    extra shuffles (plan-asserted in ``test_funnel_cap_plan_shape``).

    Opt-in, off for oracle-checked runs; audit with the matching
    truncation report before trusting a capped run."""
    if max_events_per_user is None:
        return ev
    if max_events_per_user < k_min:
        raise ValueError(
            f"max_events_per_user must be >= {k_min} ({what})")
    w = Window.partitionBy("user").orderBy(F.col("e").asc())
    return (ev.withColumn("__rn", F.row_number().over(w))
              .where(F.col("__rn") <= max_events_per_user)
              .drop("__rn"))


def funnel_depths(events: DataFrame, steps: list[str],
                  user_col: str = "user_id", ts_col: str = "ts",
                  type_col: str = "event_type",
                  within_seconds: float | None = None,
                  max_events_per_user: int | None = None) -> DataFrame:
    """(user, depth): how many leading funnel ``steps`` each user
    completed in order — users who never fired the first step are
    absent (their depth is 0; :func:`funnel_counts` needs no zero
    rows).  ``within_seconds`` bounds the whole chain to a window
    starting at the chain's first event (see module docstring for
    the greedy contract).  One keyed shuffle; the fold is a native
    lambda over the sorted per-user array.

    ``max_events_per_user`` caps each user at their first N
    step-events (by time) — the opt-in bot guard; normal users
    (fewer step-events than the cap) are bit-identical.  The greedy
    fold only ever extends the FIRST chain, so dropping a spam tail
    cannot change a depth the uncapped fold reached within the kept
    prefix; it can only miss promotions that genuinely happened
    later than N events in.  The cap is applied BEFORE the groupBy
    (see :func:`_cap_events`), so the aggregation buffer itself is
    bounded — not just the fold."""
    k = len(steps)
    if k < 2:
        raise ValueError("funnel needs >= 2 steps")
    if len(set(steps)) != k:
        raise ValueError(f"duplicate step names: {steps}")
    step_id = F.lit(None).cast("int")
    for i, s in enumerate(reversed(steps)):
        step_id = F.when(F.col(type_col) == s,
                         F.lit(k - 1 - i)).otherwise(step_id)
    # micros as long: the fold compares and subtracts plain ints;
    # sort ties break by step index (struct field order), so a
    # same-timestamp later step still counts.  The cast lifts
    # TIMESTAMP_NTZ sources (wall time -> session tz, monotonic —
    # only differences matter here) to the type unix_micros accepts.
    ev = (ensure_parallelism(events)
          .where(F.col(type_col).isin(*steps))
          .select(F.col(user_col).alias("user"),
                  F.struct(
                      F.unix_micros(F.col(ts_col).cast("timestamp"))
                      .alias("t"),
                      step_id.alias("s")).alias("e")))
    init = F.array(*[F.lit(None).cast("long") for _ in range(k)])
    win = (F.lit(int(within_seconds * 1_000_000))
           if within_seconds is not None else None)

    def merge(acc, e):
        # acc[i] holds the chain-START time once steps 0..i have
        # matched; a step-s event promotes acc[s-1] -> acc[s]
        def upd(x, i):
            first = F.coalesce(x, F.when(e["s"] == 0, e["t"]))
            prev = F.element_at(acc, i)   # 1-based: acc[i-1]
            ok = (e["s"] == i) & prev.isNotNull() & x.isNull()
            if win is not None:
                ok = ok & ((e["t"] - prev) <= win)
            rest = F.when(ok, prev).otherwise(x)
            return F.when(i == 0, first).otherwise(rest)
        return F.transform(acc, upd)

    ev = _cap_events(ev, max_events_per_user, k,
                     "a full conversion needs one event per step")
    seq = F.sort_array(F.collect_list("e"))
    return (ev.groupBy("user")
            .agg(F.aggregate(seq, init, merge).alias("__r"))
            .select(F.col("user").alias(user_col),
                    F.size(F.filter(F.col("__r"),
                                    lambda x: x.isNotNull()))
                    .alias("depth"))
            .where(F.col("depth") > 0))


def funnel_counts(events: DataFrame, steps: list[str],
                  user_col: str = "user_id", ts_col: str = "ts",
                  type_col: str = "event_type",
                  within_seconds: float | None = None,
                  max_events_per_user: int | None = None) -> DataFrame:
    """The funnel report: one row per step, in order —
    (step_index, step, n_users, frac_of_first) where ``n_users``
    counts users whose ordered chain reached AT LEAST that step and
    ``frac_of_first`` is the classic conversion-rate column (step 0
    = 1.0 whenever anyone entered; all-zero funnels report 0.0)."""
    per_user = funnel_depths(events, steps, user_col, ts_col,
                             type_col, within_seconds,
                             max_events_per_user)
    by_depth = (per_user.groupBy("depth")
                .agg(F.count(F.lit(1)).alias("n")))
    k = len(steps)
    spark = events.sparkSession
    idx = local_frame(spark, [(i, steps[i]) for i in range(k)],
                      "step_index int, step string")
    # users at step i = sum of users whose final depth >= i+1; the
    # by-depth table is <= k rows — a broadcast theta-join over a
    # k-row left side, nowhere near data scale
    reach = (idx.join(F.broadcast(by_depth),
                      by_depth["depth"] >= idx["step_index"] + 1,
                      "left")
             .groupBy("step_index", "step")
             .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("n_users")))
    entered = F.max(F.when(F.col("step_index") == 0,
                           F.col("n_users"))) \
        .over(Window.partitionBy())
    return (reach
            .withColumn(
                "frac_of_first",
                F.when(entered > 0,
                       F.round(F.col("n_users") / entered, 6))
                .otherwise(F.lit(0.0)))
            .orderBy("step_index"))


def top_event_paths(events: DataFrame, max_steps: int = 3,
                    k: int = 20, user_col: str = "user_id",
                    ts_col: str = "ts", type_col: str = "event_type",
                    sep: str = " > ") -> DataFrame:
    """The pathfinder report: each user's first ``max_steps`` events
    (by time, ties by event type for determinism) joined with
    ``sep`` into a path string; output is the ``k`` most common
    paths — (path, n_users, rank), rank ties broken by path text.

    Scale: one keyed shuffle to assemble per-user prefixes (the
    row_number window pre-filters to ``max_steps`` rows per user, so
    the collect_list is bounded — the bot-user guard is structural
    here, unlike raw transitions), one map-side-combined path count,
    and a TakeOrdered-sized final rank."""
    if max_steps < 1:
        raise ValueError("max_steps must be >= 1")
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(type_col).asc())
    prefix = (ensure_parallelism(events)
              .select(user_col, ts_col, type_col)
              .withColumn("__rn", F.row_number().over(w))
              .where(F.col("__rn") <= max_steps))
    paths = (prefix.groupBy(user_col)
             .agg(F.array_join(
                 F.transform(
                     F.sort_array(F.collect_list(
                         F.struct(F.col("__rn").alias("i"),
                                  F.col(type_col).alias("s")))),
                     lambda x: x["s"]), sep).alias("path")))
    counts = paths.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_users"))
    # top-k via orderBy+limit = TakeOrderedAndProject (per-partition
    # heaps, no global sort, no SinglePartition window over the full
    # path-count table); rank is then a window over <= k rows
    top = counts.orderBy(F.col("n_users").desc(),
                         F.col("path").asc()).limit(k)
    rw = Window.partitionBy().orderBy(F.col("n_users").desc(),
                                      F.col("path").asc())
    return (top.withColumn("rank", F.row_number().over(rw))
            .select("rank", "path", "n_users"))


def funnel_conversion_times(events: DataFrame, steps: list[str],
                            user_col: str = "user_id",
                            ts_col: str = "ts",
                            type_col: str = "event_type",
                            within_seconds: float | None = None,
                            max_events_per_user: int | None = None,
                            ) -> DataFrame:
    """(user, convert_seconds) for every user whose greedy chain
    completed ALL ``steps``: elapsed time from the chain's first
    step-0 event to the event that completed the final step — the
    time-to-convert distribution product analytics reports next to
    the funnel itself.  Same fold and same greedy/window contract as
    :func:`funnel_depths` (the python-twin test pins both), with one
    extra accumulator slot capturing the completing event's
    timestamp the moment the last step promotes.  One keyed
    shuffle."""
    k = len(steps)
    if k < 2:
        raise ValueError("funnel needs >= 2 steps")
    if len(set(steps)) != k:
        raise ValueError(f"duplicate step names: {steps}")
    step_id = F.lit(None).cast("int")
    for i, s in enumerate(reversed(steps)):
        step_id = F.when(F.col(type_col) == s,
                         F.lit(k - 1 - i)).otherwise(step_id)
    ev = (ensure_parallelism(events)
          .where(F.col(type_col).isin(*steps))
          .select(F.col(user_col).alias("user"),
                  F.struct(
                      F.unix_micros(F.col(ts_col).cast("timestamp"))
                      .alias("t"),
                      step_id.alias("s")).alias("e")))
    # slots 0..k-1: chain-start once steps 0..i matched (exactly
    # funnel_depths' state); slot k: the completing event's own time
    init = F.array(*[F.lit(None).cast("long") for _ in range(k + 1)])
    win = (F.lit(int(within_seconds * 1_000_000))
           if within_seconds is not None else None)

    def merge(acc, e):
        def upd(x, i):
            first = F.coalesce(x, F.when(e["s"] == 0, e["t"]))
            prev = F.element_at(acc, i)       # 1-based: acc[i-1]
            ok = (e["s"] == i) & prev.isNotNull() & x.isNull()
            if win is not None:
                ok = ok & ((e["t"] - prev) <= win)
            promoted = F.when(ok, prev).otherwise(x)
            # slot k mirrors slot k-1's promotion condition exactly:
            # the event IS the final step, the chain reached k-2, the
            # final level is still empty
            chain_prev = F.element_at(acc, F.lit(k - 1))   # acc[k-2]
            final_slot = F.element_at(acc, F.lit(k))       # acc[k-1]
            ok_last = ((e["s"] == k - 1) & chain_prev.isNotNull()
                       & final_slot.isNull() & x.isNull())
            if win is not None:
                ok_last = ok_last & ((e["t"] - chain_prev) <= win)
            done = F.when(ok_last, e["t"]).otherwise(x)
            return (F.when(i == 0, first)
                    .when(i == k, done)
                    .otherwise(promoted))
        return F.transform(acc, upd)

    ev = _cap_events(ev, max_events_per_user, k,
                     "a full conversion needs one event per step")
    seq = F.sort_array(F.collect_list("e"))
    folded = (ev.groupBy("user")
              .agg(F.aggregate(seq, init, merge).alias("__r")))
    start = F.element_at(F.col("__r"), k)       # chain start at depth k
    done = F.element_at(F.col("__r"), k + 1)
    return (folded.where(done.isNotNull())
            .select(F.col("user").alias(user_col),
                    ((done - start) / 1_000_000.0)
                    .alias("convert_seconds")))


def funnel_conversion_report(events: DataFrame, steps: list[str],
                             user_col: str = "user_id",
                             ts_col: str = "ts",
                             type_col: str = "event_type",
                             within_seconds: float | None = None,
                             percentiles: tuple = (0.5, 0.9),
                             max_events_per_user: int | None = None,
                             ) -> DataFrame:
    """One-row summary of the time-to-convert distribution:
    ``n_converted`` plus EXACT percentiles of ``convert_seconds``
    (``F.percentile`` — the converted-user set is funnel-sized, far
    below corpus scale, so exact beats approx here and keeps the
    report deterministic)."""
    times = funnel_conversion_times(events, steps, user_col, ts_col,
                                    type_col, within_seconds,
                                    max_events_per_user)
    pct = F.percentile("convert_seconds",
                       F.array(*[F.lit(p) for p in percentiles]))
    aggs = [F.count(F.lit(1)).alias("n_converted"),
            pct.alias("__p")]
    row = times.agg(*aggs)
    cols = [F.col("n_converted")]
    for j, p in enumerate(percentiles):
        cols.append(F.element_at("__p", j + 1)
                    .alias(f"p{int(p * 100)}_seconds"))
    return row.select(*cols)


def retention_cohorts(events: DataFrame,
                      user_col: str = "user_id", ts_col: str = "ts",
                      granularity: str = "week",
                      max_periods: int | None = None) -> DataFrame:
    """Cohort retention: users cohorted by their first active period
    (``date_trunc(granularity)``), one row per (cohort, period_index)
    with the fraction of the cohort active that many periods later —
    (cohort, period_index, n_active, n_cohort, retention).
    ``period_index`` 0 is the cohort period itself (retention 1.0 by
    construction).

    One corpus-sized shuffle: cohort AND the distinct active-period
    set come out of the same ``groupBy(user)``; everything after
    operates on one row per user.  Cohort sizes need no second pass
    over the data — every user is active in their own cohort period,
    so the period-0 count IS the cohort size (window over the tiny
    rollup, no join)."""
    if granularity not in ("day", "week", "month"):
        raise ValueError(f"granularity must be day|week|month, "
                         f"got {granularity!r}")
    per = F.date_trunc(granularity, F.col(ts_col)).cast("date")
    per_user = (ensure_parallelism(events)
                .select(F.col(user_col).alias("user"),
                        per.alias("p"))
                .groupBy("user")
                .agg(F.min("p").alias("cohort"),
                     F.collect_set("p").alias("periods")))
    step_days = {"day": 1, "week": 7}.get(granularity)
    if step_days is not None:
        pidx = (F.datediff(F.col("p"), F.col("cohort"))
                / step_days).cast("long")
    else:
        pidx = F.round(F.months_between(F.col("p"), F.col("cohort"))) \
                .cast("long")
    exploded = (per_user
                .select("user", "cohort",
                        F.explode("periods").alias("p"))
                .withColumn("period_index", pidx))
    if max_periods is not None:
        exploded = exploded.where(F.col("period_index") <= max_periods)
    active = (exploded.groupBy("cohort", "period_index")
              .agg(F.count(F.lit(1)).alias("n_active")))
    n_cohort = F.max(F.when(F.col("period_index") == 0,
                            F.col("n_active"))) \
        .over(Window.partitionBy("cohort"))
    return (active.withColumn("n_cohort", n_cohort)
            .withColumn("retention",
                        F.round(F.col("n_active") / F.col("n_cohort"),
                                6))
            .orderBy("cohort", "period_index"))


def next_event_transitions(events: DataFrame,
                           user_col: str = "user_id",
                           ts_col: str = "ts",
                           type_col: str = "event_type",
                           max_events_per_user: int | None = None
                           ) -> DataFrame:
    """First-order path analysis: the empirical next-event transition
    matrix over per-user event streams — (from_event, to_event,
    n_transitions, prob) with ``prob`` row-normalized per
    ``from_event`` (the Markov-chain estimate product analytics draws
    Sankey flows from).

    Same one-shuffle shape as the funnel: per-user ordered arrays
    from ``sort_array(collect_list(...))``, consecutive pairs zipped
    natively (``slice`` against ``slice``), exploded, and rolled up —
    the rollup input is (events - users) rows, far below corpus
    scale, and the per-from normalization is a window over the tiny
    |event types|^2 matrix.

    ``max_events_per_user`` is the skew guard for the full-stream
    collect (the transitions analogue of ``ngram_jaccard``'s
    ``max_doc_freq``): a bot user with millions of events would
    otherwise become one enormous array on a straggler row at 100 TB
    scale.  When set, only each user's FIRST N events (by time)
    contribute transitions, and the cut happens BEFORE the groupBy
    (:func:`_cap_events`), so the collect buffer is bounded too.  This biases the estimate — the dropped
    tail's transitions are usually the bot's own loop, so capping
    typically REDUCES bot skew in the matrix, but genuine late
    behavior of heavy users is under-counted too; it is opt-in and
    off for oracle-checked runs.  Audit the cut with
    :func:`transition_truncation_report` (how many users were
    truncated and how hot the hottest stream is) before trusting a
    capped matrix."""
    ev = (ensure_parallelism(events)
          .select(F.col(user_col).alias("user"),
                  F.struct(
                      F.unix_micros(F.col(ts_col).cast("timestamp"))
                      .alias("t"),
                      F.col(type_col).alias("s")).alias("e")))
    ev = _cap_events(ev, max_events_per_user, 2,
                     "one transition needs two events")
    seq = F.sort_array(F.collect_list("e"))
    pairs = F.zip_with(
        F.slice(seq, 1, F.greatest(F.size(seq) - 1, F.lit(0))),
        F.slice(seq, 2, F.greatest(F.size(seq) - 1, F.lit(0))),
        lambda a, b: F.struct(a["s"].alias("from_event"),
                              b["s"].alias("to_event")))
    mat = (ev.groupBy("user").agg(pairs.alias("__p"))
           .select(F.explode("__p").alias("p"))
           .select("p.from_event", "p.to_event")
           .groupBy("from_event", "to_event")
           .agg(F.count(F.lit(1)).alias("n_transitions")))
    total = F.sum("n_transitions").over(
        Window.partitionBy("from_event"))
    return (mat.withColumn("prob",
                           F.round(F.col("n_transitions") / total, 6))
            .orderBy("from_event", "to_event"))


def funnel_truncation_report(events: DataFrame, steps: list[str],
                             max_events_per_user: int,
                             user_col: str = "user_id",
                             type_col: str = "event_type"
                             ) -> DataFrame:
    """One-row audit for a capped funnel run: (n_users,
    n_truncated_users, max_step_events, events_dropped) counted over
    the STEP-FILTERED stream (the same rows the funnel fold sees —
    a user's unrelated events never count against the cap).  Must
    accompany any published capped funnel so the bias is loud, not
    silent.  One keyed aggregate over (user, count) rows; no arrays
    are materialized.  All four counters are 0 (never NULL) on an
    empty or fully-filtered stream, so ``events_dropped == 0`` is a
    safe publish gate."""
    per = (ensure_parallelism(events)
           .where(F.col(type_col).isin(*steps))
           .groupBy(F.col(user_col).alias("user"))
           .agg(F.count(F.lit(1)).alias("n")))
    over = F.col("n") > max_events_per_user
    zero = F.lit(0).cast("long")
    return per.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.coalesce(F.sum(over.cast("long")), zero)
         .alias("n_truncated_users"),
        F.coalesce(F.max("n"), zero).alias("max_step_events"),
        F.coalesce(F.sum(F.when(over, F.col("n") - max_events_per_user)
                         .otherwise(F.lit(0))), zero)
         .alias("events_dropped"))


def transition_truncation_report(events: DataFrame,
                                 max_events_per_user: int,
                                 user_col: str = "user_id"
                                 ) -> DataFrame:
    """One-row audit for a capped :func:`next_event_transitions` run:
    (n_users, n_truncated_users, max_events, events_dropped) — the
    "loud count" that must accompany any published capped matrix so
    the estimator bias is visible, not silent.  One keyed aggregate
    over (user, count) rows; no arrays are materialized.  Counters
    are 0, never NULL, on empty input."""
    per = (ensure_parallelism(events)
           .groupBy(F.col(user_col).alias("user"))
           .agg(F.count(F.lit(1)).alias("n")))
    over = F.col("n") > max_events_per_user
    zero = F.lit(0).cast("long")
    return per.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.coalesce(F.sum(over.cast("long")), zero)
         .alias("n_truncated_users"),
        F.coalesce(F.max("n"), zero).alias("max_events"),
        F.coalesce(F.sum(F.when(over, F.col("n") - max_events_per_user)
                         .otherwise(F.lit(0))), zero)
         .alias("events_dropped"))
