"""Named queries + DuckDB oracle SQL — the engine's correctness corpus.

Every operator claimed in SURVEY.md §2 is exercised by at least one
entry here; the driver runs the Spark side and the oracle SQL
side-by-side at sf0.01 and compares row count + schema + value hash.

Portability rules observed throughout (hard-won, keep them):
  * DuckDB ``regexp_replace`` needs the ``'g'`` flag; Spark's is
    global by default.
  * Spark int32 producers (``size``, ``posexplode``, ``row_number``)
    are cast to ``long`` to match DuckDB's BIGINT.
  * Float aggregates are rounded identically on both sides (money 2dp,
    averages/ratios 4-6dp) so parallel-summation ulp noise can't flip
    the value hash.
  * MinHash derives all hash functions from one md5 via a
    Carter-Wegman family mod 2^31-1 with constants inlined into the
    oracle SQL, identical in both engines.
  * All computed columns aliased to the same name on both sides.

Session conf: the package's one known write to the session conf is
here.  :func:`_events` sets ``spark.sql.legacy.parquet.nanosAsLong``
on the session and leaves it set: the driver contract
(``__spark_entry__``) hands the queries a vanilla session, and
without it Spark cannot read a TIMESTAMP(NANOS) ``ts`` column.  Every store writer and sink leaves the conf unchanged
(``tests/test_store.py::test_store_writers_leave_session_conf_unchanged``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from trial_data_ingestion_spark.functions.text import (
    normalize_doi, stable_doc_id,
)
from trial_data_ingestion_spark.functions.vector import cosine_similarity
from trial_data_ingestion_spark.operators import chunking, dedup, textstats
from trial_data_ingestion_spark.operators.similarity import topk_bruteforce
from trial_data_ingestion_spark.session import local_frame

QUERIES: dict = {}
ORACLE: dict = {}

#: Queries rotated out of the driver's 50-slot grading budget (their
#: operator shapes are subsumed by a surviving graded query — see each
#: docstring) but kept runnable and pytest-oracle-verified: the budget
#: caps what the DRIVER grades, not what the engine supports.
RETIRED_QUERIES: dict = {}
RETIRED_ORACLE: dict = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn
    return deco


def _retire(name: str, oracle: str | None = None):
    """Like ``_register`` but into the retired registries: still a
    named query with a DuckDB oracle (tests/test_oracle_parity.py runs
    ALL_ORACLE), just not one of the 50 driver-graded slots."""
    def deco(fn):
        RETIRED_QUERIES[name] = fn
        if oracle is not None:
            RETIRED_ORACLE[name] = oracle
        return fn
    return deco


def _t(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events loader — the ONLY way queries read the events table.

    The driver regenerates testdata each round and the physical type
    of ``ts`` has drifted across rounds (r1-r3: TIMESTAMP(NANOS),
    which Spark's vectorized reader rejects -> read nanos as long and
    floor to micros like DuckDB; r4+: tz-naive micros -> NTZ
    passthrough).  Handle all three shapes so the next flip is a
    no-op:

      * bigint (nanosAsLong): floor-convert to micros;
      * TIMESTAMP_NTZ: already naive wall time, pass through;
      * tz-adjusted TIMESTAMP (isAdjustedToUTC): convert to NTZ at
        UTC wall time — DuckDB (TimeZone = UTC in this container)
        truncs/compares the same instants, and it keeps every graded
        expression on the NTZ path regardless of Spark session tz.

    Sets ``spark.sql.legacy.parquet.nanosAsLong`` on the session and
    does not restore it (the package's one known session-conf write;
    see the module docstring)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(raw.dtypes)["ts"]
    if ts_type in ("bigint", "long"):
        raw = raw.withColumn(
            "ts", F.timestamp_micros(F.floor(F.col("ts") / 1000)
                                     .cast("long")))
    elif ts_type == "timestamp":
        raw = raw.withColumn(
            "ts", F.convert_timezone(None, F.lit("UTC"), F.col("ts")))
    return raw


# ===========================================================================
# Relational core (SURVEY.md §2.5-2.6 "not in reference but required")
# ===========================================================================

@_register("q01_pricing_summary", """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                   AS sum_qty,
       round(sum(l_extendedprice), 2)                              AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4)                                   AS avg_qty,
       round(avg(l_extendedprice), 4)                              AS avg_price,
       round(avg(l_discount), 6)                                   AS avg_disc,
       count(*)                                                    AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
""")
def q01_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan -> pushed filter -> partial+final hash agg."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
               F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
               F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
               F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2)
                .alias("sum_charge"),
               F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
               F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
               F.round(F.avg("l_discount"), 6).alias("avg_disc"),
               F.count(F.lit(1)).alias("count_order"))
    )


@_retire("q02_revenue_by_segment", """
SELECT c_mktsegment,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(DISTINCT o_orderkey)                        AS n_orders
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY c_mktsegment
""")
def q02_revenue_by_segment(spark, sf_dir):
    """3-way join: customer broadcast, orders/lineitem shuffle on key.

    Retired from the graded 50 in round 5: the broadcast-dim +
    fact-fact-shuffle join-then-aggregate shape stays driver-graded
    through q37_brand_supplier_share (the same join pyramid plus a
    windowed share) and q01/q08's aggregates; its broadcast plan gate
    lives on in test_plans (ALL_QUERIES).  The freed slot grades the
    Gopher/MassiveText quality-rule bundle (q59) — the published
    heuristic filter family had no graded row."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o.where(F.col("o_orderdate") <
                        F.lit("1997-01-01").cast("timestamp")),
                li.l_orderkey == o.o_orderkey)
          .join(F.broadcast(c), o.o_custkey == c.c_custkey)
          .groupBy("c_mktsegment")
          .agg(F.round(F.sum(F.col("l_extendedprice")
                             * (1 - F.col("l_discount"))), 2).alias("revenue"),
               F.countDistinct("o_orderkey").alias("n_orders"))
    )


@_retire("q03_region_rollup", """
SELECT r_name, n_name,
       count(*)                  AS n_customers,
       round(sum(c_acctbal), 2)  AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""")
def q03_region_rollup(spark, sf_dir):
    """ROLLUP over the dimension hierarchy; dims broadcast."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
         .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
         .rollup("r_name", "n_name")
         .agg(F.count(F.lit(1)).alias("n_customers"),
              F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"))
    )


@_retire("q04_priority_semijoin", """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
GROUP BY o_orderpriority
""")
def q04_priority_semijoin(spark, sf_dir):
    """Left-semi join (EXISTS) then count per priority.

    Retired from the graded 50 in round 5: the left-semi (EXISTS)
    shape stays driver-graded through q46_exists_subqueries (EXISTS +
    NOT EXISTS over the same orders/lineitem keys) and q24's semi-join
    resume path; the freed slot grades corpus-wide exact line dedup
    (q58), a training-data-tier operator with no prior graded row."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(li.where(F.col("l_quantity") > 45),
               o.o_orderkey == li.l_orderkey, "left_semi")
         .groupBy("o_orderpriority")
         .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@_retire("q05_top_orders_per_customer", """
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, rnk
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders)
WHERE rnk <= 3
""")
def q05_top_orders_per_customer(spark, sf_dir):
    """Top-k per group via ranking window (deterministic tiebreak).

    Retired in round 5 (still pytest-oracle-verified): its
    partitioned ranking-window shape is graded through q33 (window
    analytics) + q35 (global top-n) + q54/q56's grouped shapes; the
    freed slot grades the fuzzy edit-distance join (q57), an operator
    family the corpus didn't cover at all."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"),
                                                F.asc("o_orderkey"))
    return (
        o.withColumn("rnk", F.row_number().over(w).cast("long"))
         .where(F.col("rnk") <= 3)
         .select("o_custkey", "o_orderkey",
                 F.round("o_totalprice", 2).alias("totalprice"), "rnk")
    )


@_register("q06_forecast_revenue", """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""")
def q06_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: every predicate pushed to the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where((F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
                 & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
                 & (F.col("l_discount") >= 0.05)
                 & (F.col("l_discount") <= 0.07)
                 & (F.col("l_quantity") < 24))
          .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")),
                       2).alias("revenue"),
               F.count(F.lit(1)).alias("n_rows"))
    )


@_register("q07_set_ops", """
SELECT custkey FROM (
  SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
  INTERSECT
  SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 50000
) UNION
SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0
EXCEPT
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
""")
def q07_set_ops(spark, sf_dir):
    """INTERSECT / UNION / EXCEPT (distinct set semantics)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    building = (c.where(F.col("c_mktsegment") == "BUILDING")
                 .select(F.col("c_custkey").alias("custkey")))
    big = (o.where(F.col("o_totalprice") > 50000)
            .select(F.col("o_custkey").alias("custkey")))
    negative = (c.where(F.col("c_acctbal") < 0)
                 .select(F.col("c_custkey").alias("custkey")))
    finished = (o.where(F.col("o_orderstatus") == "F")
                 .select(F.col("o_custkey").alias("custkey")))
    return (building.intersect(big).union(negative).distinct()
            .exceptAll(finished.distinct()))


@_register("q08_distinct_agg", """
SELECT o_orderstatus,
       count(DISTINCT o_custkey) AS n_customers,
       count(*)                  AS n_orders,
       round(avg(o_totalprice), 4) AS avg_price
FROM orders GROUP BY o_orderstatus
""")
def q08_distinct_agg(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (o.groupBy("o_orderstatus")
             .agg(F.countDistinct("o_custkey").alias("n_customers"),
                  F.count(F.lit(1)).alias("n_orders"),
                  F.round(F.avg("o_totalprice"), 4).alias("avg_price")))


@_register("q09_customers_without_orders", """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""")
def q09_customers_without_orders(spark, sf_dir):
    """Left-anti join (J4 resume shape / NOT EXISTS)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
             .select("c_custkey", "c_name"))


@_retire("q10_events_cube", """
SELECT event_type, date_trunc('day', ts) AS day,
       count(*) AS n_events, round(sum(value), 2) AS total_value
FROM events
GROUP BY CUBE (event_type, date_trunc('day', ts))
""")
def q10_events_cube(spark, sf_dir):
    """Retired in round 5 (still pytest-oracle-verified): CUBE is the
    all-subsets special case of GROUPING SETS and lowers to the same
    Expand-based physical shape q34_grouping_sets keeps graded (q03's
    ROLLUP, the other special case, retired the same way in r5); the
    freed slot grades the conversation/chat tier (q61), an operator
    family with no prior driver-graded row."""
    ev = _events(spark, sf_dir)
    return (ev.withColumn("day", F.date_trunc("day", "ts"))
              .cube("event_type", "day")
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.round(F.sum("value"), 2).alias("total_value")))


@_register("q11_json_props", """
SELECT event_type,
       round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT))           AS max_k,
       count(*) AS n
FROM events GROUP BY event_type
""")
def q11_json_props(spark, sf_dir):
    """X10 — JSON-in-string extraction (events.props)."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return (ev.groupBy("event_type")
              .agg(F.round(F.avg(k), 4).alias("avg_k"),
                   F.max(k).alias("max_k"),
                   F.count(F.lit(1)).alias("n")))


@_retire("q12_running_window", """
SELECT event_id, user_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
         AS running_value,
       round(coalesce(lag(value) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id), 0), 2) AS prev_value
FROM events
""")
def q12_running_window(spark, sf_dir):
    """Analytic windows: running sum frame + lag."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id", "user_id",
        F.round(F.sum("value").over(frame), 2).alias("running_value"),
        F.round(F.coalesce(F.lag("value").over(w), F.lit(0.0)), 2)
         .alias("prev_value"))


@_retire("q13_hourly_events", """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events,
       floor(avg(value) * 10000 + 0.5) / 10000 AS avg_value
FROM events GROUP BY 1, 2
""")
def q13_hourly_events(spark, sf_dir):
    """Tumbling-window agg via F.window (batch twin of the streaming
    query in streaming/events.py); 1h windows align with date_trunc.

    avg is rounded via floor(x*10^4 + 0.5)/10^4 on BOTH engines:
    Spark's round() rounds the shortest decimal string (HALF_UP),
    DuckDB's rounds the binary double — an avg landing exactly on a
    half boundary (e.g. 51.51125) diverges between them, found by the
    sf0.1 sweep.  The floor form is pure double arithmetic, identical
    everywhere (values are non-negative here; floor(x+0.5) is
    asymmetric for negatives)."""
    ev = _events(spark, sf_dir)
    return (ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
              .agg(F.count(F.lit(1)).alias("n_events"),
                   (F.floor(F.avg("value") * 10000 + 0.5) / 10000)
                   .alias("avg_value"))
              .select(F.col("w.start").alias("window_start"), "event_type",
                      "n_events", "avg_value"))


@_register("q50_sliding_window", """
SELECT time_bucket(INTERVAL 15 MINUTES, ts) - to_minutes(15 * k)
         AS window_start,
       event_type, count(*) AS n_events,
       floor(avg(value) * 10000 + 0.5) / 10000 AS avg_value
FROM events, (SELECT unnest([0, 1, 2, 3]) AS k)
GROUP BY 1, 2
""")
def q50_sliding_window(spark, sf_dir):
    """ST3 graded batch twin — sliding-window agg via
    ``F.window(ts, '1 hour', '15 minutes')``: every event lands in 4
    overlapping hourly windows.  The oracle reproduces Spark's window
    assignment arithmetically: window starts are the 15-min grid
    buckets s = floor15(ts) - k*15min for k in 0..3 (each satisfies
    s <= ts < s + 1h exactly because ts - floor15(ts) < 15min), so a
    4-row unnest cross join replaces the windowing primitive.  Same
    floor-based avg rounding as q13 (round() halves diverge between
    engines).  Scale: Spark plans slide windows as a 4-way explode +
    hash agg — partial (map-side) aggregation still applies, so
    shuffle volume is O(4 x groups), not O(4 x rows)."""
    ev = _events(spark, sf_dir)
    return (ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"),
                       "event_type")
              .agg(F.count(F.lit(1)).alias("n_events"),
                   (F.floor(F.avg("value") * 10000 + 0.5) / 10000)
                   .alias("avg_value"))
              .select(F.col("w.start").alias("window_start"), "event_type",
                      "n_events", "avg_value"))


@_register("q22_sessionize", """
WITH g AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE OR
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new,
         event_id
  FROM events)
SELECT user_id, session_id, count(*) AS n_events,
       round(sum(value), 2) AS session_value
FROM (SELECT user_id, value,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS BIGINT)
               AS session_id
      FROM g)
GROUP BY user_id, session_id
""")
def q22_sessionize(spark, sf_dir):
    """Batch sessionization (30-min gap), the DataFrame analog of
    session_window streaming (§2.10)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # microsecond-exact gap, and works on TIMESTAMP and TIMESTAMP_NTZ
    # alike (the driver parquet is tz-naive, which Spark reads as NTZ;
    # an epoch cast would both throw on NTZ and floor away the
    # sub-second part the oracle's INTERVAL comparison keeps)
    prev = F.lag("ts").over(w)
    gap_us = F.timestamp_diff("MICROSECOND", prev, F.col("ts"))
    is_new = F.when(gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000),
                    1).otherwise(0)
    return (ev.withColumn("is_new", is_new)
              .withColumn("session_id",
                          F.sum("is_new").over(frame).cast("long"))
              .groupBy("user_id", "session_id")
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.round(F.sum("value"), 2).alias("session_value")))


@_retire("q68_session_stats", """
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE OR
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new,
         event_id
  FROM events),
s AS (
  SELECT user_id, session_id, count(*) AS n_events,
         floor(date_diff('microsecond', min(ts), max(ts)) / 1000000)
           AS dur_s
  FROM (SELECT user_id, ts,
               CAST(sum(is_new) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS BIGINT)
                 AS session_id
        FROM g)
  GROUP BY user_id, session_id)
SELECT bucket, count(*) AS n_sessions,
       floor(avg(n_events) * 1000000 + 0.5) / 1000000 AS avg_events,
       floor(avg(dur_s) * 1000000 + 0.5) / 1000000 AS avg_duration_s
FROM (SELECT CASE WHEN dur_s < 60 THEN 'lt1m'
                  WHEN dur_s < 600 THEN 'lt10m'
                  WHEN dur_s < 1800 THEN 'lt30m'
                  ELSE 'ge30m' END AS bucket,
             n_events, dur_s FROM s)
GROUP BY bucket
""")
def q68_session_stats(spark, sf_dir):
    """Session-duration distribution over the q22 sessionization
    (30-min gap): sessions bucketed by wall duration with average
    event count and duration per bucket — pytest-registry slot.  The
    duration floors microsecond diffs to whole seconds on BOTH sides
    (DuckDB date_diff('microsecond') / Spark timestamp_diff), and the
    averages use the floor idiom."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("ts").over(w)
    gap_us = F.timestamp_diff("MICROSECOND", prev, F.col("ts"))
    is_new = F.when(gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000),
                    1).otherwise(0)
    sess = (ev.withColumn("is_new", is_new)
            .withColumn("session_id",
                        F.sum("is_new").over(frame).cast("long"))
            .groupBy("user_id", "session_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.floor(F.timestamp_diff("MICROSECOND", F.min("ts"),
                                          F.max("ts")) / 1_000_000)
                 .alias("dur_s")))
    bucket = (F.when(F.col("dur_s") < 60, "lt1m")
              .when(F.col("dur_s") < 600, "lt10m")
              .when(F.col("dur_s") < 1800, "lt30m")
              .otherwise("ge30m"))
    return (sess.select(bucket.alias("bucket"), "n_events", "dur_s")
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_sessions"),
                 (F.floor(F.avg("n_events") * 1_000_000 + 0.5)
                  / 1_000_000).alias("avg_events"),
                 (F.floor(F.avg("dur_s") * 1_000_000 + 0.5)
                  / 1_000_000).alias("avg_duration_s")))


@_retire("q23_asof_last_purchase", """
SELECT event_id, user_id,
       round(coalesce(last_value(CASE WHEN event_type = 'purchase' THEN value END
                                 IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1), 2)
         AS last_purchase_value
FROM events
""")
def q23_asof_last_purchase(spark, sf_dir):
    """As-of (most recent prior value) via last_value IGNORE NULLS —
    the union+window trick for as-of joins Spark lacks natively."""
    ev = _events(spark, sf_dir)
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    pv = F.last(F.when(F.col("event_type") == "purchase", F.col("value")),
                ignorenulls=True).over(w)
    return ev.select(
        "event_id", "user_id",
        F.round(F.coalesce(pv, F.lit(-1.0)), 2).alias("last_purchase_value"))


@_register("q38_asof_join", """
WITH p AS (SELECT user_id, ts, max(value) AS pval
           FROM events WHERE event_type = 'purchase'
           GROUP BY user_id, ts)
SELECT e.event_id, e.user_id,
       round(coalesce(p.pval, -1.0), 2) AS last_purchase_value
FROM events e ASOF LEFT JOIN p
  ON e.user_id = p.user_id AND e.ts >= p.ts
""")
def q38_asof_join(spark, sf_dir):
    """General two-table as-of join (operators.joins.asof_join,
    union+window plan, one shuffle) — oracle is DuckDB's NATIVE ASOF
    JOIN, so the operator's <= tie semantics are verified against a
    real ASOF implementation.  Right side pre-aggregated to one row
    per (user_id, ts) for determinism."""
    from trial_data_ingestion_spark.operators.joins import asof_join
    ev = _events(spark, sf_dir)
    purchases = (ev.where(F.col("event_type") == "purchase")
                 .groupBy("user_id", "ts")
                 .agg(F.max("value").alias("pval")))
    joined = asof_join(ev, purchases, on=["user_id"],
                       left_ts="ts", right_ts="ts", value_cols=["pval"])
    return joined.select(
        "event_id", "user_id",
        F.round(F.coalesce(F.col("pval"), F.lit(-1.0)), 2)
         .alias("last_purchase_value"))


@_register("q39_range_join", """
WITH tiers AS (
  SELECT * FROM (VALUES ('small', 0.0, 10.0), ('medium', 10.0, 25.0),
                        ('large', 25.0, 100.0)) t(tier, lo, hi))
SELECT t.tier, count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), -2) AS revenue
FROM lineitem l JOIN tiers t
  ON l.l_quantity >= t.lo AND l.l_quantity < t.hi
GROUP BY t.tier
""")
def q39_range_join(spark, sf_dir):
    """Theta/range join: fact rows banded into tiers by a non-equi
    predicate.  The tier table is 3 rows, so Catalyst picks
    BroadcastNestedLoopJoin — the right plan at any scale (the
    alternative, a CASE expression, can't express overlapping or
    data-driven bands; with a large band table you'd bucket by
    floor(qty/step) and equi-join instead).  Revenue at 100-unit grain
    for partial-sum stability (same rule as q37)."""
    li = _t(spark, sf_dir, "lineitem")
    tiers = local_frame(
        spark,
        [("small", 0.0, 10.0), ("medium", 10.0, 25.0),
         ("large", 25.0, 100.0)], "tier string, lo double, hi double")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(F.broadcast(tiers),
                    (F.col("l_quantity") >= F.col("lo"))
                    & (F.col("l_quantity") < F.col("hi")))
              .groupBy("tier")
              .agg(F.count(F.lit(1)).alias("n_items"),
                   F.round(F.sum(rev), -2).alias("revenue")))


@_register("q40_full_outer", """
WITH c AS (SELECT c_nationkey AS nationkey, count(*) AS n_poor_cust
           FROM customer WHERE c_acctbal < -900 GROUP BY 1),
     s AS (SELECT s_nationkey AS nationkey, count(*) AS n_supp
           FROM supplier GROUP BY 1)
SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
       coalesce(c.n_poor_cust, 0) AS n_poor_cust,
       coalesce(s.n_supp, 0) AS n_supp
FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
""")
def q40_full_outer(spark, sf_dir):
    """Full-outer equi-join of two pre-aggregated sides with unmatched
    rows on both (the acctbal filter makes poor-customer nations a
    sparse set).  Pre-aggregation keeps the shuffled sides tiny — the
    full-outer is over #distinct-keys rows, not fact rows, which is
    the scalable shape for reconciliation-style queries."""
    c = (_t(spark, sf_dir, "customer")
         .where(F.col("c_acctbal") < -900)
         .groupBy(F.col("c_nationkey").alias("nationkey"))
         .agg(F.count(F.lit(1)).alias("n_poor_cust")))
    s = (_t(spark, sf_dir, "supplier")
         .groupBy(F.col("s_nationkey").alias("nationkey"))
         .agg(F.count(F.lit(1)).alias("n_supp")))
    return (c.join(s, "nationkey", "full_outer")
             .select("nationkey",
                     F.coalesce("n_poor_cust", F.lit(0)).alias("n_poor_cust"),
                     F.coalesce("n_supp", F.lit(0)).alias("n_supp")))


@_register("q41_percentiles", """
SELECT o_orderpriority,
       count(*)                                              AS n_orders,
       round(quantile_cont(o_totalprice, 0.25), 2)           AS p25,
       round(quantile_cont(o_totalprice, 0.50), 2)           AS median,
       round(quantile_cont(o_totalprice, 0.90), 2)           AS p90,
       round(max(o_totalprice) - min(o_totalprice), 2)       AS price_range
FROM orders GROUP BY o_orderpriority
""")
def q41_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group: Spark ``percentile``
    and DuckDB ``quantile_cont`` share the linear-interpolation
    definition, and order statistics are deterministic (no partial-sum
    noise), so 2dp rounding hash-matches.  Scale note: exact
    percentile shuffles each group's values to one reducer — at
    100 TB swap in ``approx_percentile`` (t-digest, partial-merge)
    and accept the rows-only check, as q36 does for HLL."""
    o = _t(spark, sf_dir, "orders")
    return (o.groupBy("o_orderpriority")
             .agg(F.count(F.lit(1)).alias("n_orders"),
                  F.round(F.percentile("o_totalprice", F.lit(0.25)), 2)
                   .alias("p25"),
                  F.round(F.percentile("o_totalprice", F.lit(0.50)), 2)
                   .alias("median"),
                  F.round(F.percentile("o_totalprice", F.lit(0.90)), 2)
                   .alias("p90"),
                  F.round(F.max("o_totalprice") - F.min("o_totalprice"), 2)
                   .alias("price_range")))


def q51_approx_percentiles(spark, sf_dir):
    """q41's declared 100 TB substitute: ``approx_percentile``
    (Greenwald-Khanna summaries, partial-merge map-side) replaces the
    exact percentile's shuffle of every group value to one reducer.
    accuracy=10000 bounds rank error at 1/10000 of the group.

    Deliberately NOT in the registered corpus: the driver grades at
    most 50 queries, and this one could never be hash-verified anyway
    (DuckDB's approx_quantile is t-digest — different sketch,
    different answer).  Its verification lives in
    tests/test_oracle_parity.py, which bounds its error against the
    hash-verified exact q41 — a stronger check than the driver's
    rows-only row it used to occupy (it displaced q21's full
    hash-verified row in round 2)."""
    o = _t(spark, sf_dir, "orders")
    return (o.groupBy("o_orderpriority")
             .agg(F.count(F.lit(1)).alias("n_orders"),
                  F.round(F.approx_percentile(
                      "o_totalprice", F.lit(0.25), F.lit(10000)), 2)
                   .alias("p25"),
                  F.round(F.approx_percentile(
                      "o_totalprice", F.lit(0.50), F.lit(10000)), 2)
                   .alias("median"),
                  F.round(F.approx_percentile(
                      "o_totalprice", F.lit(0.90), F.lit(10000)), 2)
                   .alias("p90")))


@_retire("q43_hash_split", """
SELECT split, count(*) AS n_docs,
       round(avg(n_chars), 4) AS avg_chars
FROM (
  SELECT CASE WHEN b < 80 THEN 'train'
              WHEN b < 90 THEN 'val' ELSE 'test' END AS split, n_chars
  FROM (SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
               AS BIGINT) % 100 AS b, n_chars
        FROM documents))
GROUP BY split
""")
def q43_hash_split(spark, sf_dir):
    """Deterministic train/val/test split (80/10/10) by content-stable
    hash — the training-pipeline splitter: membership depends only on
    doc_id, so it is reproducible across runs, engines, and cluster
    sizes (unlike ``df.sample``, whose outcome depends on partition
    layout and seed plumbing).  Narrow projection, no shuffle beyond
    the final 3-group aggregate; at 100 TB each split materializes as
    a pushed-down filter on the same expression.

    Retired (round 6): the md5-bucket split shape is graded through
    q54's content-stable stratified sampling; the freed slot grades
    the conversion funnel (q62)."""
    d = _t(spark, sf_dir, "documents")
    b = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
                16, 10).cast("long") % 100)
    split = (F.when(b < 80, "train").when(b < 90, "val")
             .otherwise("test"))
    return (d.select(split.alias("split"), "n_chars")
             .groupBy("split")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.round(F.avg("n_chars"), 4).alias("avg_chars")))


_Q42_SQL = """
SELECT o_orderpriority, count(*) AS n_above
FROM orders o
WHERE o_totalprice > (SELECT 1.5 * avg(o2.o_totalprice)
                      FROM orders o2
                      WHERE o2.o_custkey = o.o_custkey)
GROUP BY o_orderpriority
"""


@_register("q42_correlated_subquery", _Q42_SQL)
def q42_correlated_subquery(spark, sf_dir):
    """The IDENTICAL ANSI SQL text runs on both engines — Spark gets
    it via ``spark.sql`` over a temp view, exercising the SQL entry
    point and Catalyst's decorrelation (the correlated scalar
    subquery rewrites to an aggregate + join on o_custkey; no
    per-row subquery execution at any scale)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_Q42_SQL)


# ===========================================================================
# Ingestion-shaped operators on the documents table (SURVEY.md §2.3, §2.7)
# ===========================================================================

_TOKS = "list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')"
_LTOKS = "list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')"


def _sw_pred(words):
    return " OR ".join(f"x = '{w}'" for w in words)


@_retire("q14_doc_stats_by_source", f"""
SELECT source, count(*) AS n_docs,
       round(avg(n_chars), 4) AS avg_chars,
       CAST(sum(len({_TOKS})) AS BIGINT) AS total_tokens,
       round(avg(CAST(len({_TOKS}) AS DOUBLE)), 4) AS avg_tokens
FROM documents GROUP BY source
""")
def q14_doc_stats_by_source(spark, sf_dir):
    """Flagship shape: text scan -> native token stats -> group agg.
    Retired round 5 (second swap wave): the scan -> token-stats ->
    groupBy shape stays graded through q01/q21/q30, freeing the slot
    for q60's DSIR scoring; still benched (bench HEADLINE) and
    pytest-oracle-verified here."""
    d = _t(spark, sf_dir, "documents")
    tc = textstats.token_count(F.col("text")).cast("long")
    return (d.withColumn("tc", tc)
             .groupBy("source")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.round(F.avg("n_chars"), 4).alias("avg_chars"),
                  F.sum("tc").alias("total_tokens"),
                  F.round(F.avg(F.col("tc").cast("double")), 4)
                   .alias("avg_tokens")))


@_register("q15_fingerprint_dedup", """
SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
       min(doc_id) AS doc_id
FROM documents GROUP BY 1
""")
def q15_fingerprint_dedup(spark, sf_dir):
    """Exact content dedup: fingerprint group -> keep min id (P5/A5)."""
    d = _t(spark, sf_dir, "documents")
    return (d.withColumn("fp", textstats.fingerprint(F.col("text")))
             .groupBy("fp").agg(F.min("doc_id").alias("doc_id")))


@_retire("q44_keep_first_dedup", """
SELECT lang, source, doc_id, n_chars FROM (
  SELECT lang, source, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang, source
                            ORDER BY doc_id) AS rn
  FROM documents) t WHERE rn = 1
""")
def q44_keep_first_dedup(spark, sf_dir):
    """P5's keep-FIRST semantics made deterministic under
    distribution: ``dropDuplicates`` keeps an arbitrary row per key
    (whichever task wins), so the engine's keep-first is a
    row_number window over an explicit total order (doc_id here; a
    file+offset ordinal in ingestion) — the whole surviving row comes
    along, not just the min of one column (contrast q15).  One
    shuffle on the dedup key; at 100 TB identical cost to the
    groupBy form.

    Retired in round 5 (still pytest-oracle-verified): its keep-first
    window shape is graded through q15 (exact dedup) + q05/q33
    (row_number windows); the freed slot grades the BPE tier's
    word-frequency stage (q56)."""
    d = _t(spark, sf_dir, "documents")
    w = (Window.partitionBy("lang", "source")
         .orderBy(F.col("doc_id").asc()))
    return (d.select("lang", "source", "doc_id", "n_chars",
                     F.row_number().over(w).alias("rn"))
             .where(F.col("rn") == 1)
             .select("lang", "source", "doc_id", "n_chars"))


@_register("q45_salted_skew_join", """
SELECT o_orderpriority,
       count(*) AS n_items,
       round(sum(l_quantity), 2) AS total_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""")
def q45_salted_skew_join(spark, sf_dir):
    """Skew-salted fact-fact join (operators.joins.salted_join): the
    big side scatters each key over 8 sub-keys, the small side
    replicates 8x, so a hot key's reducer input shrinks 8x.  The
    oracle is the PLAIN join — salting is a physical strategy and
    must not change results.  (At test scale Catalyst may broadcast
    the replicated small side, which is also correct; the shuffle
    path it exists for is exercised in test_joins with broadcast
    disabled.)"""
    from trial_data_ingestion_spark.operators.joins import salted_join
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = (_t(spark, sf_dir, "orders")
         .select(F.col("o_orderkey").alias("l_orderkey"),
                 "o_orderpriority"))
    j = salted_join(li, o, on="l_orderkey", salt=8)
    return (j.groupBy("o_orderpriority")
             .agg(F.count(F.lit(1)).alias("n_items"),
                  F.round(F.sum("l_quantity"), 2).alias("total_qty")))


_Q46_SQL = """
SELECT c_mktsegment, count(*) AS n_customers
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_totalprice > 100000)
  AND NOT EXISTS (SELECT 1 FROM orders o2
                  WHERE o2.o_custkey = c.c_custkey
                    AND o2.o_orderstatus = 'F')
GROUP BY c_mktsegment
"""


@_register("q46_exists_subqueries", _Q46_SQL)
def q46_exists_subqueries(spark, sf_dir):
    """EXISTS / NOT EXISTS through the SQL entry point — the
    identical ANSI text runs on both engines (like q42).  Catalyst
    rewrites the pair into a left-semi + left-anti join on
    o_custkey, the same physical shapes q04/q09 build via the
    DataFrame API; no per-row subquery execution at any scale."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_Q46_SQL)


@_register("q47_pivot_daily_values", """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       floor(coalesce(sum(CASE WHEN event_type = 'click'
                               THEN value END), 0) * 100 + 0.5) / 100
         AS click,
       floor(coalesce(sum(CASE WHEN event_type = 'view'
                               THEN value END), 0) * 100 + 0.5) / 100
         AS view,
       floor(coalesce(sum(CASE WHEN event_type = 'purchase'
                               THEN value END), 0) * 100 + 0.5) / 100
         AS purchase
FROM events GROUP BY 1
""")
def q47_pivot_daily_values(spark, sf_dir):
    """Pivot (long -> wide): daily value totals per event type as
    columns.  Spark's ``pivot`` with an EXPLICIT value list compiles
    to one pass of conditional aggregates — same single shuffle as a
    plain groupBy; never use implicit pivot at scale (it runs an
    extra distinct job to discover values and the column set becomes
    data-dependent).  The oracle is the equivalent conditional
    aggregation.  Rounding via floor(x*100+0.5)/100 on both sides
    (values non-negative; see q13 note on round() divergence)."""
    ev = _events(spark, sf_dir)
    piv = (ev.groupBy(F.date_format(F.date_trunc("day", "ts"),
                                    "yyyy-MM-dd").alias("day"))
             .pivot("event_type", ["click", "view", "purchase"])
             .agg(F.sum("value")))
    cols = [(F.floor(F.coalesce(F.col(c), F.lit(0.0)) * 100 + 0.5) / 100)
            .alias(c) for c in ["click", "view", "purchase"]]
    return piv.select("day", *cols)


@_register("q16_stable_doc_id", """
WITH d AS (
  SELECT doc_id, text, lang,
         CASE WHEN doc_id % 3 = 0 THEN NULL
              ELSE 'https://doi.org/10.1000/DOC.' || CAST(doc_id AS VARCHAR)
         END AS doi_raw
  FROM documents)
SELECT doc_id,
       nullif(lower(trim(regexp_replace(doi_raw,
              '^https?://(dx\\.)?doi\\.org/', '', 'g'))), '') AS doi_norm,
       coalesce(nullif(lower(trim(regexp_replace(doi_raw,
                '^https?://(dx\\.)?doi\\.org/', '', 'g'))), ''),
                'hash:' || substr(sha256(text || '|' || lang), 1, 16))
         AS doc_uid
FROM d
""")
def q16_stable_doc_id(spark, sf_dir):
    """P1 DOI normalize + P9 stable hash id with sha256 fallback."""
    d = _t(spark, sf_dir, "documents")
    doi_raw = F.when(F.col("doc_id") % 3 == 0, F.lit(None)).otherwise(
        F.concat(F.lit("https://doi.org/10.1000/DOC."),
                 F.col("doc_id").cast("string")))
    dn = normalize_doi(doi_raw)
    return d.select(
        "doc_id", dn.alias("doi_norm"),
        stable_doc_id(dn, F.col("text"), F.col("lang")).alias("doc_uid"))


@_register("q17_chunk_fixed", """
WITH RECURSIVE t AS (
  SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS txt
  FROM documents),
st AS (
  SELECT doc_id, txt, length(txt) AS n,
         CAST(0 AS BIGINT) AS s, CAST(0 AS BIGINT) AS ci
  FROM t WHERE length(txt) > 0
  UNION ALL
  SELECT doc_id, txt, n,
         (CASE WHEN e0 < n AND ws > 0 THEN e0 + ws - 1 ELSE e0 END) - 40 AS s,
         ci + 1
  FROM (SELECT doc_id, txt, n, s, ci,
               least(n, s + 200) AS e0,
               position(' ' IN substr(txt,
                        CAST(least(n, s + 200) AS INTEGER) + 1, 40)) AS ws
        FROM st)
  WHERE (CASE WHEN e0 < n AND ws > 0 THEN e0 + ws - 1 ELSE e0 END) < n),
ch AS (
  SELECT doc_id, ci,
         trim(substr(txt, CAST(s AS INTEGER) + 1,
              CAST((CASE WHEN e0 < n AND ws > 0 THEN e0 + ws - 1 ELSE e0 END)
                   - s AS INTEGER))) AS chunk_text
  FROM (SELECT doc_id, txt, n, s, ci,
               least(n, s + 200) AS e0,
               position(' ' IN substr(txt,
                        CAST(least(n, s + 200) AS INTEGER) + 1, 40)) AS ws
        FROM st))
SELECT doc_id,
       row_number() OVER (PARTITION BY doc_id ORDER BY ci) - 1 AS chunk_index,
       chunk_text,
       CAST(doc_id AS VARCHAR) || '::c' ||
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY ci) - 1
              AS VARCHAR) AS chunk_id
FROM ch WHERE chunk_text <> ''
""")
def q17_chunk_fixed(spark, sf_dir):
    """C1/C3 char-window chunker (size 200, overlap 40, whitespace
    bump <=40) — oracle reproduces the iterative recurrence with a
    recursive CTE."""
    d = _t(spark, sf_dir, "documents")
    ch = chunking.chunk_fixed(d, "text", "doc_id", 200, 40)
    return ch.select("doc_id", F.col("chunk_index").cast("long")
                     .alias("chunk_index"), "chunk_text", "chunk_id")


@_register("q18_chunk_tokens", """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'),
                     x -> x <> '') AS toks
  FROM documents),
n AS (SELECT doc_id, toks, len(toks) AS ntok FROM t WHERE len(toks) > 0)
SELECT CAST(doc_id AS VARCHAR) AS article_id,
       CAST(doc_id AS VARCHAR) || '::chunk_' || CAST(i AS VARCHAR) AS chunk_id,
       array_to_string(list_slice(toks, i * 40 + 1,
                                  least(i * 40 + 50, ntok)), ' ') AS text,
       CAST(least(i * 40 + 50, ntok) - i * 40 AS INTEGER) AS n_tokens
FROM n CROSS JOIN generate_series(0, 1000) g(i)
WHERE i = 0 OR (i - 1) * 40 + 50 < ntok
""")
def q18_chunk_tokens(spark, sf_dir):
    """C4 token-window chunker (50-token windows, 10 overlap) in the
    v1 output shape (article_id, chunk_id, text, n_tokens)."""
    d = _t(spark, sf_dir, "documents")
    return chunking.chunk_by_tokens(d, "text", "doc_id",
                                    max_tokens=50, overlap=10)


# ===========================================================================
# Dedup / similarity (north-star extensions)
# ===========================================================================

def _q19_sql() -> str:
    """Oracle for q19 — inlines the engine's Carter-Wegman constants
    (dedup.cw_constants) so DuckDB reproduces the MinHash bit-for-bit:
    a = first 60 md5 bits of the shingle, x = a mod 2^31-1,
    h_j = (c1_j*x + c2_j) mod 2^31-1."""
    consts = ", ".join(f"({j}, {c1}, {c2})" for j, (c1, c2)
                       in enumerate(dedup.cw_constants(16)))
    return f"""
WITH RECURSIVE t AS (
  SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS txt
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id, substr(txt, CAST(i AS INTEGER), 8) AS s
  FROM t CROSS JOIN generate_series(1, 2000) g(i)
  WHERE i <= greatest(1, length(txt) - 7)),
ah AS (
  SELECT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS a
  FROM sh),
mh AS (
  SELECT doc_id, c.j AS seed,
         min((c.c1 * (a % 2147483647) + c.c2) % 2147483647) AS mv
  FROM ah CROSS JOIN (VALUES {consts}) c(j, c1, c2)
  GROUP BY doc_id, c.j),""" + """
bd AS (
  SELECT doc_id, band,
         string_agg(CAST(mv AS VARCHAR), ',' ORDER BY seed) AS bucket
  FROM (SELECT doc_id, seed, mv, seed // 4 AS band FROM mh)
  GROUP BY doc_id, band),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bd a JOIN bd b ON a.band = b.band AND a.bucket = b.bucket
                      AND a.doc_id < b.doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS ninter
  FROM cand c
  JOIN sh x ON x.doc_id = c.doc_a
  JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
  GROUP BY c.doc_a, c.doc_b),
sizes AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
pairs AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE CAST(i.ninter AS DOUBLE) / (sa.nsh + sb.nsh - i.ninter) >= 0.8),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs),
-- transitive closure -> per-node component-min label (the engine's
-- connected-components removal: keep only the min id per cluster)
reach(doc, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT reach.doc, e.dst FROM reach JOIN edges e ON e.src = reach.r),
labels AS (SELECT doc, min(r) AS label FROM reach GROUP BY doc),
dup AS (SELECT doc FROM labels WHERE doc <> label)
SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc FROM dup)
"""


@_register("q19_minhash_dedup", _q19_sql())
def q19_minhash_dedup(spark, sf_dir):
    """MinHash(16 hashes, 4 bands)+LSH near-dup removal with exact
    Jaccard(>=0.8) verification on 8-char shingles; survivors only."""
    d = _t(spark, sf_dir, "documents")
    out = dedup.dedup_minhash(d, "doc_id", "text", k=8,
                              num_hashes=16, bands=4, threshold=0.8)
    return out.select("doc_id")


@_register("q20_knn_cosine", """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id IN (0, 1, 2)),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
             list_dot_product(e.v, q.qv) /
               (sqrt(list_dot_product(e.v, e.v)) *
                sqrt(list_dot_product(q.qv, q.qv))) AS c
      FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id)
SELECT query_id, neighbor_id, round(c, 6) AS score, rnk AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY c DESC, neighbor_id) AS rnk
      FROM s)
WHERE rnk <= 5
""")
def q20_knn_cosine(spark, sf_dir):
    """E7 exact top-k cosine for 3 query vectors (k=5, self excluded)."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = (emb.where(F.col("vec_id").isin(0, 1, 2))
             .select(F.col("vec_id").alias("query_id"),
                     F.col("embedding").alias("query_vec")))
    out = topk_bruteforce(emb, qs, k=5, metric="cosine")
    return out.select("query_id", "neighbor_id",
                      F.round("score", 6).alias("score"),
                      F.col("rank").cast("long").alias("rank"))


@_register("q24_resume_antijoin", """
WITH f AS (SELECT doc_id, source,
                  md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
           FROM documents)
SELECT source, count(*) AS n_new
FROM f
WHERE fp NOT IN (SELECT fp FROM f WHERE doc_id % 10 = 0)
GROUP BY source
""")
def q24_resume_antijoin(spark, sf_dir):
    """J4/F8 incremental-resume anti-join on content fingerprints."""
    d = _t(spark, sf_dir, "documents").withColumn(
        "fp", textstats.fingerprint(F.col("text")))
    existing = d.where(F.col("doc_id") % 10 == 0).select("fp")
    return (d.join(existing, "fp", "left_anti")
             .groupBy("source").agg(F.count(F.lit(1)).alias("n_new")))


@_register("q25_failure_taxonomy", """
SELECT CASE WHEN text IS NULL OR length(text) = 0 THEN 'no_text'
            WHEN length(text) < 200 THEN 'abstract_only'
            ELSE 'ok' END AS reason,
       count(*) AS n
FROM documents GROUP BY 1
""")
def q25_failure_taxonomy(spark, sf_dir):
    """P6 min-length gate + A2 failure breakdown (the reference's
    skip-reason taxonomy, fulltext_enricher.py:199-232)."""
    d = _t(spark, sf_dir, "documents")
    reason = (F.when(F.col("text").isNull() | (F.length("text") == 0),
                     "no_text")
               .when(F.length("text") < 200, "abstract_only")
               .otherwise("ok"))
    return (d.select(reason.alias("reason"))
             .groupBy("reason").agg(F.count(F.lit(1)).alias("n")))


def _q26_sql() -> str:
    """Oracle for q26 — SimHash is md5 + integer/bit arithmetic, all of
    which DuckDB reproduces bit-for-bit (same trick as q19's inlined
    Carter-Wegman constants): token hash = first 60 md5 bits, per-bit
    +1/-1 votes over the token MULTISET (duplicates vote repeatedly),
    bit set where the vote sum is positive, prefix-block on the top 8
    bits, exact bit_count Hamming filter."""
    return """
WITH t AS (
  SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS txt
  FROM documents),
tok AS (
  SELECT doc_id, unnest(string_split(txt, ' ')) AS w FROM t),
h AS (
  SELECT doc_id, CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS a
  FROM tok),
votes AS (
  SELECT doc_id, g.i AS i,
         sum(CASE WHEN (a >> CAST(g.i AS INTEGER)) & 1 = 1
                  THEN 1 ELSE -1 END) AS v
  FROM h CROSS JOIN generate_series(0, 59) g(i)
  GROUP BY doc_id, g.i),
sh AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN v > 0
                       THEN CAST(1 AS BIGINT) << CAST(i AS INTEGER)
                       ELSE 0 END) AS BIGINT) AS sh
  FROM votes GROUP BY doc_id),
blk AS (SELECT doc_id, sh, sh >> 52 AS blk FROM sh)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
FROM blk a JOIN blk b ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 12
"""


@_retire("q26_simhash_pairs", _q26_sql())
def q26_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs (prefix-blocked Hamming search),
    hash-verified: the md5-derived 60-bit SimHash is reproduced
    exactly by the DuckDB oracle.

    Retired (round 6): fifth member of the graded dedup family
    (q19/q28/q29/q48/q49 survive); the freed slot grades weekly
    cohort retention (q63)."""
    d = _t(spark, sf_dir, "documents")
    out = dedup.simhash_near_dups(d, "doc_id", "text",
                                  max_hamming=12, prefix_bits=8)
    return out.select("doc_a", "doc_b",
                      F.col("hamming").cast("long").alias("hamming"))


def _srp_bucket_sql(vec: str, dim: int = 64, num_planes: int = 8) -> str:
    """SQL expression for the engine's SRP bucket id: the md5-derived
    hyperplanes (similarity._hyperplane) are plan-time literal doubles,
    inlined so DuckDB reproduces bucket membership exactly.  Each
    projection is a left-associated sum ``0.0 + v[1]*c0 + ...`` to
    match Spark's sequential ``aggregate`` fold bit-for-bit (sign
    flips at proj ~ 0 are the only hazard, and identical fold order
    removes it)."""
    from trial_data_ingestion_spark.operators.similarity import _hyperplane

    def proj(p: int) -> str:
        plane = _hyperplane(dim, p)
        return "(0.0 + " + " + ".join(
            f"{vec}[{j + 1}] * ({plane[j]!r})" for j in range(dim)) + ")"

    return "(" + " + ".join(
        f"(CASE WHEN {proj(p)} >= 0 THEN {1 << p} ELSE 0 END)"
        for p in range(num_planes)) + ")"


def _q27_sql() -> str:
    """Oracle for q27 — SRP bucketing via the inlined-hyperplane
    expression (see _srp_bucket_sql), multi-probe via xor, exact
    cosine rescoring of candidates only."""
    num_planes = 8

    def bucket(vec: str) -> str:
        return _srp_bucket_sql(vec, 64, num_planes)

    probes = [0] + [1 << p for p in range(num_planes)]
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
eb AS (
  SELECT vec_id, v, {bucket('v')} AS bucket FROM e),
q AS (
  SELECT vec_id AS query_id, v AS qv, {bucket('v')} AS q_bucket
  FROM e WHERE vec_id IN (0, 1, 2)),
qp AS (
  SELECT query_id, qv, xor(q_bucket, p.probe) AS bucket
  FROM q CROSS JOIN (SELECT unnest({probes}) AS probe) p),
s AS (
  SELECT qp.query_id, eb.vec_id AS neighbor_id,
         list_dot_product(eb.v, qp.qv) /
           (sqrt(list_dot_product(eb.v, eb.v)) *
            sqrt(list_dot_product(qp.qv, qp.qv))) AS c
  FROM eb JOIN qp ON eb.bucket = qp.bucket
  WHERE eb.vec_id <> qp.query_id)
SELECT query_id, neighbor_id, round(c, 6) AS score, rnk AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY c DESC, neighbor_id) AS rnk
      FROM s)
WHERE rnk <= 5
"""


@_register("q27_lsh_topk", _q27_sql())
def q27_lsh_topk(spark, sf_dir):
    """Approximate ANN via SRP-LSH buckets + exact rescoring,
    hash-verified: the md5-derived hyperplanes are inlined into the
    DuckDB oracle so bucket membership matches exactly."""
    from trial_data_ingestion_spark.operators.similarity import topk_lsh
    emb = _t(spark, sf_dir, "embeddings")
    qs = (emb.where(F.col("vec_id").isin(0, 1, 2))
             .select(F.col("vec_id").alias("query_id"),
                     F.col("embedding").alias("query_vec")))
    out = topk_lsh(emb, qs, dim=64, k=5, num_planes=8, multiprobe_hamming=1)
    return out.select("query_id", "neighbor_id",
                      F.round("score", 6).alias("score"),
                      F.col("rank").cast("long").alias("rank"))


@_register("q28_ngram_jaccard", f"""
WITH w AS (SELECT doc_id, {_TOKS} AS w FROM documents),
g AS (SELECT doc_id, unnest(list_distinct(list_transform(
        range(1, greatest(len(w) - 1, 1)),
        i -> array_to_string(list_slice(w, i, i + 2), ' ')))) AS g
      FROM w WHERE len(w) >= 3),
sizes AS (SELECT doc_id, count(*) AS nsh FROM g GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ninter
          FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT i.doc_a, i.doc_b,
       round(CAST(i.ninter AS DOUBLE) /
             (sa.nsh + sb.nsh - i.ninter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(i.ninter AS DOUBLE) / (sa.nsh + sb.nsh - i.ninter) >= 0.5
""")
def q28_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard near-dup pairs (threshold 0.5) via
    inverted-index self-join — the exact counterpart of q19's
    MinHash approximation.

    Round-5 profiling note on the r4 +22% (1.85 -> 2.26 s at sf0.1):
    reproduced isolated (median 2.33 s over 5 runs), code path
    byte-identical to r3 (the r4 dedup.py diff touched connected
    components only) — the cause is the r4 testdata regeneration:
    the corpus now yields 1.27M candidate pair-grams, 98.5% from hot
    grams (df > 5, max df 25), and the hot-gram-capped twin q49 is
    flat, which isolates the delta to exactly that hot-gram volume.
    A hashed join key was measured at only ~7% — not worth the
    (cosmic-ray-level) collision exposure on a hash-graded query.
    The 2x-of-rolling-best gate still holds at ~1.25x; the rolling
    best deliberately keeps r3's 1.85 s as the floor."""
    d = _t(spark, sf_dir, "documents")
    out = dedup.ngram_jaccard_pairs(d, "doc_id", "text", n=3,
                                    threshold=0.5)
    return out.select("doc_a", "doc_b",
                      F.round("jaccard", 6).alias("jaccard"))


@_register("q29_embedding_dups", """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings)
SELECT doc_a, doc_b, round(c, 6) AS cos
FROM (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
             list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v)) *
                sqrt(list_dot_product(b.v, b.v))) AS c
      FROM e a JOIN e b ON a.vec_id < b.vec_id)
WHERE c >= 0.4
""")
def q29_embedding_dups(spark, sf_dir):
    """Embedding-cosine near-dup pairs, exact pair join (threshold
    0.4 — the synthetic corpus has no true near-dups, so the gate is
    set where real pairs exist).  The SRP-blocked approximate variant
    is `similarity.embedding_near_dups` (scale path)."""
    from trial_data_ingestion_spark.operators.similarity import (
        embedding_near_dups_exact,
    )
    emb = _t(spark, sf_dir, "embeddings")
    out = embedding_near_dups_exact(emb, threshold=0.4, dim=64)
    return out.select("doc_a", "doc_b", F.round("cos", 6).alias("cos"))


def _q48_sql() -> str:
    """Oracle for q48 — the SRP-blocked scale path of q29, bucket ids
    reproduced via the inlined-hyperplane expression."""
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
eb AS (SELECT vec_id, v, {_srp_bucket_sql('v')} AS bucket FROM e)
SELECT doc_a, doc_b, round(c, 6) AS cos
FROM (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
             list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v)) *
                sqrt(list_dot_product(b.v, b.v))) AS c
      FROM eb a JOIN eb b ON a.bucket = b.bucket
                         AND a.vec_id < b.vec_id)
WHERE c >= 0.4
"""


@_register("q48_embedding_dups_blocked", _q48_sql())
def q48_embedding_dups_blocked(spark, sf_dir):
    """The 100 TB path of q29: SRP-bucket self-join (same-bucket
    candidates only) + exact cosine threshold.  Hash-verified against
    the inlined-hyperplane oracle; tests additionally assert its
    output is a subset of q29's exact pairs (recall is the LSH
    trade-off, precision is exact by construction)."""
    from trial_data_ingestion_spark.operators.similarity import (
        embedding_near_dups,
    )
    emb = _t(spark, sf_dir, "embeddings")
    out = embedding_near_dups(emb, dim=64, threshold=0.4, num_planes=8)
    return out.select("doc_a", "doc_b", F.round("cos", 6).alias("cos"))


@_retire("q49_ngram_jaccard_capped", f"""
WITH w AS (SELECT doc_id, {_TOKS} AS w FROM documents),
g0 AS (SELECT doc_id, unnest(list_distinct(list_transform(
        range(1, greatest(len(w) - 1, 1)),
        i -> array_to_string(list_slice(w, i, i + 2), ' ')))) AS g
      FROM w WHERE len(w) >= 3),
hot AS (SELECT g FROM g0 GROUP BY g HAVING count(*) > 5),
g AS (SELECT doc_id, g FROM g0 WHERE g NOT IN (SELECT g FROM hot)),
sizes AS (SELECT doc_id, count(*) AS nsh FROM g GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ninter
          FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT i.doc_a, i.doc_b,
       round(CAST(i.ninter AS DOUBLE) /
             (sa.nsh + sb.nsh - i.ninter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(i.ninter AS DOUBLE) / (sa.nsh + sb.nsh - i.ninter) >= 0.5
""")
def q49_ngram_jaccard_capped(spark, sf_dir):
    """The 100 TB guard-rail variant of q28: grams appearing in more
    than 5 docs are dropped before the inverted-index self-join (the
    hot-gram blowup guard).  Hash-verified; the Jaccard denominator
    uses the FILTERED gram sets on both engines.

    Retired (round 6): the cap is a one-predicate delta on graded
    q28's plan; the freed slot grades the end-to-end release
    composition (q64)."""
    d = _t(spark, sf_dir, "documents")
    out = dedup.ngram_jaccard_pairs(d, "doc_id", "text", n=3,
                                    threshold=0.5, max_doc_freq=5)
    return out.select("doc_a", "doc_b",
                      F.round("jaccard", 6).alias("jaccard"))


@_register("q30_quality_score", f"""
WITH t AS (SELECT doc_id, text, {_LTOKS} AS ltoks FROM documents),
m AS (SELECT doc_id,
        CASE WHEN length(text) > 0 THEN
          CAST(length(text) - length(regexp_replace(text,
               '[.,;:!?''"()\\[\\]{{}}-]', '', 'g')) AS DOUBLE)
            / length(text) ELSE 0.0 END AS pr,
        CASE WHEN len(ltoks) > 0 THEN
          CAST(len(list_filter(ltoks, x -> {_sw_pred(textstats.STOPWORDS['en'])}))
               AS DOUBLE) / len(ltoks) ELSE 0.0 END AS sr,
        least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS ls
      FROM t)
SELECT doc_id, round(pr, 6) AS punct_ratio, round(sr, 6) AS stopword_ratio,
       round((ls + least(sr * 4.0, 1.0) +
              greatest(0.0, 1.0 - pr * 5.0)) / 3.0, 6) AS quality
FROM m
""")
def q30_quality_score(spark, sf_dir):
    """North-star quality scoring: punctuation density, stopword
    ratio, and the composite [0,1] quality heuristic — all native
    expressions."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.round(textstats.punct_ratio(F.col("text")), 6)
         .alias("punct_ratio"),
        F.round(textstats.stopword_ratio(F.col("text"), "en"), 6)
         .alias("stopword_ratio"),
        F.round(textstats.quality_score(F.col("text")), 6)
         .alias("quality"))


@_register("q31_ivf_topk", """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
c AS (SELECT vec_id AS cell_id, v AS cv FROM e WHERE vec_id < 16),
ad AS (SELECT e.vec_id, c.cell_id,
              row_number() OVER (PARTITION BY e.vec_id
                                 ORDER BY list_distance(e.v, c.cv),
                                          c.cell_id) AS rn
       FROM e CROSS JOIN c),
cell AS (SELECT vec_id, cell_id FROM ad WHERE rn = 1),
probe AS (SELECT vec_id AS query_id, cell_id
          FROM ad WHERE vec_id IN (0, 1, 2) AND rn <= 4),
qv AS (SELECT vec_id AS query_id, v AS qv FROM e
       WHERE vec_id IN (0, 1, 2)),
s AS (SELECT p.query_id, cell.vec_id AS neighbor_id,
             list_dot_product(e.v, qv.qv) /
               (sqrt(list_dot_product(e.v, e.v)) *
                sqrt(list_dot_product(qv.qv, qv.qv))) AS c
      FROM probe p
      JOIN cell ON cell.cell_id = p.cell_id
      JOIN e ON e.vec_id = cell.vec_id
      JOIN qv ON qv.query_id = p.query_id
      WHERE cell.vec_id <> p.query_id)
SELECT query_id, neighbor_id, round(c, 6) AS score, rnk AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY c DESC, neighbor_id) AS rnk
      FROM s)
WHERE rnk <= 5
""")
def q31_ivf_topk(spark, sf_dir):
    """IVF-flat ANN: 16 deterministic cells, probe the 4 nearest per
    query, exact cosine rescore, top-5.  Fully oracle-checked because
    the explicit first-16-ids placeholder centroids are deterministic
    (production default is kmeans-trained — similarity.topk_ivf)."""
    from trial_data_ingestion_spark.operators.similarity import (
        first_id_centroids, topk_ivf,
    )
    emb = _t(spark, sf_dir, "embeddings")
    qs = (emb.where(F.col("vec_id").isin(0, 1, 2))
             .select(F.col("vec_id").alias("query_id"),
                     F.col("embedding").alias("query_vec")))
    out = topk_ivf(emb, qs, k=5, num_cells=16, nprobe=4,
                   centroids=first_id_centroids(emb, 16))
    return out.select("query_id", "neighbor_id",
                      F.round("score", 6).alias("score"),
                      F.col("rank").cast("long").alias("rank"))


@_register("q33_window_analytics", """
SELECT o_custkey, o_orderkey,
       ntile(4) OVER (PARTITION BY o_custkey
                      ORDER BY o_totalprice, o_orderkey)       AS price_quartile,
       dense_rank() OVER (PARTITION BY o_custkey
                          ORDER BY round(o_totalprice, 0) DESC) AS price_rank,
       round(coalesce(lead(o_totalprice) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           -1.0), 2)                                           AS next_price,
       round(sum(o_totalprice) OVER (
           PARTITION BY o_custkey
           ORDER BY date_diff('day', DATE '1970-01-01',
                              CAST(o_orderdate AS DATE))
           RANGE BETWEEN 29 PRECEDING AND CURRENT ROW), 2)     AS trailing_30d
FROM orders
""")
def q33_window_analytics(spark, sf_dir):
    """Analytic-window coverage: ntile, dense_rank, lead, and a
    RANGE frame (trailing 30 days by order date) in one pass — all
    four windows share the o_custkey partitioning, so Spark computes
    them over a single shuffle."""
    o = _t(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
    by_price = (Window.partitionBy("o_custkey")
                .orderBy(F.col("o_totalprice").asc(),
                         F.col("o_orderkey").asc()))
    by_price_r = (Window.partitionBy("o_custkey")
                  .orderBy(F.round("o_totalprice", 0).desc()))
    by_date = (Window.partitionBy("o_custkey")
               .orderBy(F.col("o_orderdate").asc(),
                        F.col("o_orderkey").asc()))
    trailing = (Window.partitionBy("o_custkey")
                .orderBy(day.asc()).rangeBetween(-29, 0))
    return o.select(
        "o_custkey", "o_orderkey",
        F.ntile(4).over(by_price).cast("long").alias("price_quartile"),
        F.dense_rank().over(by_price_r).cast("long").alias("price_rank"),
        F.round(F.coalesce(F.lead("o_totalprice").over(by_date),
                           F.lit(-1.0)), 2).alias("next_price"),
        F.round(F.sum("o_totalprice").over(trailing), 2)
         .alias("trailing_30d"))


@_register("q34_grouping_sets", """
SELECT r_name, c_mktsegment,
       count(*) AS n, round(sum(c_acctbal), 2) AS bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY GROUPING SETS ((r_name), (c_mktsegment), (r_name, c_mktsegment))
""")
def q34_grouping_sets(spark, sf_dir):
    """GROUPING SETS through the engine's SQL surface (temp views +
    spark.sql) — the declarative entry point alongside the DataFrame
    API; dims broadcast exactly as in the DataFrame plans."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    _t(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    _t(spark, sf_dir, "region").createOrReplaceTempView("region")
    return spark.sql("""
        SELECT r_name, c_mktsegment,
               count(*) AS n, round(sum(c_acctbal), 2) AS bal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name), (c_mktsegment),
                                (r_name, c_mktsegment))
    """)


@_register("q35_top_revenue_orders", """
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderdate < TIMESTAMP '1996-06-01'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""")
def q35_top_revenue_orders(spark, sf_dir):
    """TPC-H Q3 shape: join -> agg -> global ORDER BY + LIMIT.  The
    sort+limit compiles to TakeOrderedAndProject: per-partition top-10
    then a 10-row driver merge — never a full global sort."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (li.join(o.where(F.col("o_orderdate") <
                            F.lit("1996-06-01").cast("timestamp")),
                    F.col("l_orderkey") == F.col("o_orderkey"))
              .groupBy("o_orderkey",
                       F.date_format("o_orderdate", "yyyy-MM-dd")
                        .alias("orderdate"),
                       "o_orderpriority")
              .agg(F.round(F.sum(F.col("l_extendedprice")
                                 * (1 - F.col("l_discount"))), 2)
                    .alias("revenue"))
              .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
              .limit(10))


@_register("q37_brand_supplier_share", """
SELECT p_brand,
       round(sum(CASE WHEN s_acctbal > 5000
                      THEN l_extendedprice * (1 - l_discount)
                      ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6)     AS rich_share,
       round(sum(l_extendedprice * (1 - l_discount)), -2)      AS total_rev,
       count(DISTINCT l_suppkey)                               AS n_suppliers
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE p_size <= 25
GROUP BY p_brand
""")
def q37_brand_supplier_share(spark, sf_dir):
    """TPC-H Q14-shape conditional aggregation over the two remaining
    dimension tables (part, supplier), both broadcast; the pushed
    p_size filter prunes the part build side before broadcasting.
    Output is the revenue SHARE (6dp) + totals at 100-unit grain:
    raw 2dp sums of ~3e7 values flip on partial-sum order noise."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_size") <= 25)
    s = _t(spark, sf_dir, "supplier")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
              .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
              .groupBy("p_brand")
              .agg(F.round(F.sum(F.when(F.col("s_acctbal") > 5000, rev)
                                  .otherwise(0.0)) / F.sum(rev), 6)
                    .alias("rich_share"),
                   F.round(F.sum(rev), -2).alias("total_rev"),
                   F.countDistinct("l_suppkey").alias("n_suppliers")))


# ----- multimodal (rows-only: mapInPandas kernel, no SQL equivalent) ------

@_register("q36_approx_distinct")
def q36_approx_distinct(spark, sf_dir):
    """approx_count_distinct (HyperLogLog++) per event_type with the
    exact count alongside.  Rows-only: HLL sketches are
    engine-specific, so DuckDB can't reproduce the approximation —
    the test asserts the estimate lands within the configured 2%
    relative error instead (see test_oracle_parity extension)."""
    ev = _events(spark, sf_dir)
    return (ev.groupBy("event_type")
              .agg(F.approx_count_distinct("user_id", rsd=0.02)
                    .alias("approx_users"),
                   F.countDistinct("user_id").alias("exact_users")))

def _q32_sql() -> str:
    """Oracle for q32 — the fake media pipeline is sha256 + byte
    arithmetic end to end, and DuckDB has sha256: payload = UTF-8
    bytes of the hex sha256 of the doc id; features[i] = float32 of
    (byte(2i) + byte(2i+1)) / 2 / 255 over the sha256 digest of the
    payload (validated: DuckDB's double-division + FLOAT cast equals
    numpy's float32 arithmetic for every possible byte pair).  The
    feature_sum fold is left-associated to match Spark's
    ``aggregate``."""
    def byte(k: int) -> str:
        return f"CAST('0x' || substr(dg, {2 * k + 1}, 2) AS BIGINT)"

    feats = [
        f"CAST(CAST(({byte(2 * i)} + {byte(2 * i + 1)}) AS DOUBLE)"
        f" / 2.0 / 255.0 AS FLOAT)"
        for i in range(16)
    ]
    sum_expr = "(0.0 + " + " + ".join(
        f"CAST({f} AS DOUBLE)" for f in feats) + ")"
    return f"""
WITH m AS (
  SELECT CAST(doc_id AS VARCHAR) AS media_id,
         sha256(sha256(CAST(doc_id AS VARCHAR))) AS dg
  FROM documents WHERE doc_id < 200)
SELECT media_id, CAST(16 AS BIGINT) AS feature_dim,
       round(CAST({feats[0]} AS DOUBLE), 6) AS f0,
       round({sum_expr}, 6) AS feature_sum
FROM m
"""


@_register("q32_multimodal_features", _q32_sql())
def q32_multimodal_features(spark, sf_dir):
    """North-star multimodal plumbing end to end: documents ->
    deterministic fake media payloads (binary column + typed metadata
    struct) -> Arrow-batched decode/featurize kernel -> per-media
    feature summary.  Hash-verified: the fake decoder is sha256 byte
    arithmetic, which the DuckDB oracle reproduces exactly (production
    swaps fake_decoder for a PIL/librosa-backed one of the same
    signature — THAT kernel would be rows-only)."""
    from trial_data_ingestion_spark import multimodal as mm
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    media = mm.attach_fake_media(d, "doc_id")
    feats = mm.extract_features(media, decoder=mm.fake_decoder, dim=16)
    return feats.select(
        "media_id",
        F.col("feature_dim").cast("long").alias("feature_dim"),
        F.round(F.element_at("features", 1).cast("double"), 6).alias("f0"),
        F.round(F.aggregate(F.col("features"), F.lit(0.0),
                            lambda a, x: a + x.cast("double")), 6)
         .alias("feature_sum"))


# ===========================================================================
# Per-doc text analytics (north-star text analysis)
# ===========================================================================

_SW = textstats.STOPWORDS


def _lang_sql() -> str:
    hits = ",\n         ".join(
        f"len(list_filter(ltoks, x -> {_sw_pred(ws)})) AS h_{lang}"
        for lang, ws in _SW.items())
    langs = list(_SW)
    best = "greatest(" + ", ".join(f"h_{l}" for l in langs) + ")"
    case = " ".join(
        f"WHEN {best} > 0 AND h_{l} = {best} THEN '{l}'" for l in langs)
    return f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks, {_LTOKS} AS ltoks FROM documents),
h AS (
  SELECT doc_id, toks, ltoks,
         {hits}
  FROM t)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       round(CASE WHEN len(toks) > 0
             THEN CAST(list_sum(list_transform(toks, x -> length(x)))
                       AS DOUBLE) / len(toks) ELSE 0.0 END, 6)
         AS avg_token_len,
       round(CASE WHEN len(ltoks) > 0
             THEN CAST(len(list_filter(ltoks, x -> {_sw_pred(_SW['en'])}))
                       AS DOUBLE) / len(ltoks) ELSE 0.0 END, 6)
         AS stopword_ratio_en,
       CASE {case} ELSE 'und' END AS lang_pred
FROM h
"""


@_register("q21_text_analysis", _lang_sql())
def q21_text_analysis(spark, sf_dir):
    """Token count, avg token length, stopword ratio, stopword-vote
    language ID — all native expressions (no UDF)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        textstats.token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.round(textstats.avg_token_length(F.col("text")), 6)
         .alias("avg_token_len"),
        F.round(textstats.stopword_ratio(F.col("text"), "en"), 6)
         .alias("stopword_ratio_en"),
        textstats.detect_language(F.col("text")).alias("lang_pred"))


# ===========================================================================
# Training-data tier (round 5): decontamination, BM25 retrieval,
# deterministic sampling, packing invariants.  These took over four
# graded slots whose operator shapes are subsumed by surviving
# queries (q03->q34 grouping sets, q12->q22/q33 windows, q13->q50
# sliding windows, q23->q38 as-of join); the retired four stay
# pytest-oracle-verified via RETIRED_QUERIES.
# ===========================================================================

#: DuckDB twin of operators.decontam._norm_tokens
_DK_TOK = ("list_filter(string_split(trim(regexp_replace(lower(text), "
           "'[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '')")
#: DuckDB twin of operators.decontam.token_ngrams(n=8): slice bounds
#: are 1-based inclusive, so tk[i : i+7] is 8 tokens
_DK_GRAMS = ("list_transform(generate_series(1, greatest(len(tk) - 7, 0)),"
             " i -> array_to_string(tk[i : i + 7], ' '))")


@_register("q52_contamination_report", f"""
WITH btok AS (
  SELECT {_DK_TOK} AS tk FROM documents WHERE doc_id % 97 = 3),
bg AS (
  SELECT DISTINCT unnest({_DK_GRAMS}) AS g FROM btok),
cg AS (
  SELECT doc_id, {_DK_GRAMS} AS grams
  FROM (SELECT doc_id, {_DK_TOK} AS tk FROM documents)),
m AS (
  SELECT doc_id, count(DISTINCT g) AS mg
  FROM (SELECT doc_id, unnest(grams) AS g FROM cg)
  JOIN bg USING (g)
  GROUP BY doc_id)
SELECT cg.doc_id,
       CAST(len(grams) AS BIGINT)        AS total_grams,
       CAST(coalesce(mg, 0) AS BIGINT)   AS matched_grams,
       floor((CASE WHEN len(grams) > 0
              THEN coalesce(mg, 0) / len(grams) ELSE 0.0 END)
             * 1000000 + 0.5) / 1000000  AS contamination_ratio,
       coalesce(mg, 0) >= 1              AS is_contaminated
FROM cg LEFT JOIN m USING (doc_id)
""")
def q52_contamination_report(spark, sf_dir):
    """GPT-3-appendix-C-style benchmark decontamination, driver-graded:
    benchmark = every ~97th document (deterministic, guarantees
    overlap), corpus = all documents; per-doc distinct-8-gram overlap
    report.  The benchmark gram table BROADCASTS — the corpus never
    shuffles by gram (the 100 TB-critical property, plan-asserted in
    tests/test_decontam.py).  Ratio rounded floor(x*1e6+0.5)/1e6 on
    both engines (round() halves diverge — q13's lesson)."""
    from trial_data_ingestion_spark.operators.decontam import (
        benchmark_gram_table, contamination_report,
    )
    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 97 == 3).select("doc_id", "text")
    rep = contamination_report(d, benchmark_gram_table(bench, "text", 8),
                               id_col="doc_id", text_col="text", n=8)
    return rep.select(
        "doc_id",
        F.col("total_grams").cast("long").alias("total_grams"),
        F.col("matched_grams").cast("long").alias("matched_grams"),
        (F.floor(F.col("contamination_ratio") * 1000000 + 0.5) / 1000000)
        .alias("contamination_ratio"),
        "is_contaminated")


@_register("q53_bm25_search", f"""
WITH nz AS (
  SELECT doc_id, tk, len(tk) AS dl
  FROM (SELECT doc_id, {_DK_TOK} AS tk FROM documents)
  WHERE len(tk) > 0),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM nz),
post AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM (SELECT doc_id, dl, unnest(tk) AS term FROM nz)
  WHERE term IN ('hash', 'join', 'partition', 'window')
  GROUP BY doc_id, dl, term),
idf AS (
  SELECT term,
         ln(1.0 + ((SELECT n FROM stats) - count(DISTINCT doc_id) + 0.5)
                  / (count(DISTINCT doc_id) + 0.5)) AS idf
  FROM post GROUP BY term)
SELECT doc_id,
       round(sum(idf * (tf * (1.2 + 1))
                 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl
                                / (SELECT avgdl FROM stats)))), 6)
         AS score,
       count(DISTINCT term) AS matched_terms
FROM post JOIN idf USING (term)
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT 20
""")
def q53_bm25_search(spark, sf_dir):
    """BM25 lexical top-20 for a fixed 4-term query (one term absent
    from the corpus — both engines must drop df=0 terms identically).
    The oracle spells Robertson/Sparck-Jones idf and k1/b saturation
    with the same literal arithmetic (1.2 + 1, not 2.2: the folded
    constant must be the engine-computed double).  Postings are one
    map-side-combined shuffle; the query touches only its terms'
    slivers (persisted-layout pruning asserted in tests/test_search)."""
    from trial_data_ingestion_spark.operators.search import bm25_topk
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_topk(d, "hash join partition window", k=20)


@_register("q54_stratified_sample", """
WITH b AS (
  SELECT doc_id, lang,
         CAST('0x' || substr(md5('r5|' || CAST(doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) % 1000000 AS bk
  FROM documents)
SELECT 'bernoulli' AS method, doc_id, lang FROM b WHERE bk < 300000
UNION ALL
SELECT 'stratified' AS method, doc_id, lang FROM b
WHERE bk < CAST(round((CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 1.0
                       WHEN 'zh' THEN 0.2 ELSE 0.1 END) * 1000000)
                AS BIGINT)
""")
def q54_stratified_sample(spark, sf_dir):
    """Content-stable sampling, driver-graded row-by-row (not just
    counts, unlike q43): a Bernoulli-by-key arm and a per-stratum-rate
    arm from the SAME md5 bucket, so the oracle verifies the exact
    membership arithmetic of operators/sampling.py.  Both arms are
    pure pushed-down filters — zero shuffles at any scale."""
    from trial_data_ingestion_spark.operators.sampling import (
        hash_sample, stratified_sample,
    )
    d = _t(spark, sf_dir, "documents")
    bern = (hash_sample(d, "doc_id", 0.3, seed="r5")
            .select(F.lit("bernoulli").alias("method"), "doc_id", "lang"))
    strat = (stratified_sample(d, "lang",
                               {"en": 0.5, "de": 1.0, "zh": 0.2},
                               key_col="doc_id", default_fraction=0.1,
                               seed="r5")
             .select(F.lit("stratified").alias("method"), "doc_id", "lang"))
    return bern.unionAll(strat)


@_register("q55_packing_invariants", """
WITH t AS (
  SELECT lang,
         len(list_filter(string_split_regex(trim(text), '\\s+'),
                         x -> x <> '')) AS n_tokens
  FROM documents)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN n_tokens > 64 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_truncated,
       CAST(0 AS BIGINT) AS over_budget_seqs
FROM t GROUP BY lang
""")
def q55_packing_invariants(spark, sf_dir):
    """FFD sequence packing, driver-graded through its invariants:
    the full pack_sequences kernel runs (sharded applyInPandas), then
    the graded output checks conservation (every doc packed exactly
    once, token totals preserved, per lang), the truncation contract
    (a doc over the 64-token budget becomes exactly one flagged
    singleton), and the budget bound (zero non-truncated sequences
    over 64 tokens — the oracle's literal 0).  The seq assignment
    itself is FFD-dependent and deliberately not hashed."""
    from trial_data_ingestion_spark.operators.packing import (
        pack_sequences, packing_stats,
    )
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang",
        F.size(F.filter(F.split(F.trim("text"), r"\s+"),
                        lambda x: x != "")).cast("long").alias("n_tokens"))
    packed = pack_sequences(toks, id_col="doc_id", token_col="n_tokens",
                            max_tokens=64, num_shards=8)
    per_lang = packed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum(F.when(F.col("truncated"), 1).otherwise(0))
         .alias("n_truncated"))
    over = (packing_stats(packed, token_col="n_tokens", max_tokens=64)
            .where((F.col("total_tokens") > 64) & ~F.col("truncated"))
            .agg(F.count(F.lit(1)).alias("over_budget_seqs")))
    return per_lang.crossJoin(F.broadcast(over))


@_register("q56_word_frequencies", """
SELECT word, CAST(count(*) AS BIGINT) AS cnt
FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS word
      FROM documents) t
WHERE length(word) > 0
GROUP BY word
HAVING count(*) >= 5
""")
def q56_word_frequencies(spark, sf_dir):
    """The BPE tier's corpus-scale stage, driver-graded row-by-row:
    the word-frequency table (operators/bpe.word_frequencies) that
    tokenizer training consumes.  ONE shuffle with map-side partial
    aggregation; the min_count filter rides the aggregate.  The
    driver-side merge learning and the Arrow tokenize kernel are
    covered by tests/test_bpe.py (vs a from-scratch spec trainer) —
    this slot pins the distributed stage's exact counts."""
    from trial_data_ingestion_spark.operators.bpe import word_frequencies
    return word_frequencies(_t(spark, sf_dir, "documents"),
                            min_count=5)


@_register("q57_fuzzy_title_join", """
SELECT a.doc_id AS left_id, b.doc_id AS right_id,
       CAST(levenshtein(a.t, b.t) AS INT) AS distance
FROM (SELECT doc_id, substr(text, 1, 40) AS t FROM documents
      WHERE doc_id % 2 = 0) a
JOIN (SELECT doc_id, substr(text, 1, 40) AS t FROM documents
      WHERE doc_id % 2 = 1) b
  ON levenshtein(a.t, b.t) <= 3
""")
def q57_fuzzy_title_join(spark, sf_dir):
    """Fuzzy record linkage, driver-graded: edit-distance join of
    even-id vs odd-id 40-char text prefixes at distance <= 3.  The
    oracle is DuckDB's full quadratic levenshtein join; the engine
    answers with operators/fuzzy_join.py's LOSSLESS q-gram pigeonhole
    blocking + native levenshtein verify — a hash match here proves
    the blocking misses nothing, not just that the arithmetic
    agrees."""
    from trial_data_ingestion_spark.operators.fuzzy_join import (
        fuzzy_join_pairs,
    )
    d = _t(spark, sf_dir, "documents")
    left = (d.where("doc_id % 2 = 0")
            .select("doc_id", F.substring("text", 1, 40).alias("t")))
    right = (d.where("doc_id % 2 = 1")
             .select("doc_id", F.substring("text", 1, 40).alias("t")))
    out = fuzzy_join_pairs(left, right, "doc_id", "t", "doc_id", "t",
                           max_distance=3)
    return out.select("left_id", "right_id",
                      F.col("distance").cast("int").alias("distance"))


@_register("q58_line_dedup", """
WITH base AS (
  SELECT doc_id,
         concat(text, chr(10), substr(text, 1, 60), chr(10), text) AS text
  FROM documents WHERE text IS NOT NULL
), split AS (
  SELECT doc_id, string_split(text, chr(10)) AS parts FROM base
), exploded AS (
  SELECT doc_id, unnest(parts) AS line,
         unnest(range(1, len(parts) + 1)) AS i
  FROM split
), occ AS (
  SELECT doc_id, i - 1 AS pos, line,
         CASE WHEN length(trim(line)) >= 10 THEN row_number()
              OVER (PARTITION BY CASE WHEN length(trim(line)) >= 10
                                      THEN line END
                    ORDER BY doc_id, i) END AS rn
  FROM exploded
)
SELECT doc_id,
       coalesce(string_agg(line, chr(10) ORDER BY pos)
                FILTER (WHERE rn IS NULL OR rn = 1), '') AS text,
       CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_removed_lines
FROM occ GROUP BY doc_id
""")
def q58_line_dedup(spark, sf_dir):
    """Corpus-wide exact line dedup (C4/RefinedWeb-style boilerplate
    removal), driver-graded.  The synthetic documents are single-line,
    so the query constructs a 3-line corpus in-plan — full text, its
    60-char prefix, full text again — giving within-doc duplicate
    lines everywhere plus cross-doc duplicates wherever the corpus
    repeats texts; line_dedup must keep exactly the corpus-first
    occurrence of each eligible line (first = min (doc_id, pos)).
    The engine runs the hashed SCALE path (8-byte xxhash64 shuffle
    keys); the oracle recomputes first occurrences over the exact
    strings with a window — a hash match proves the hashed path loses
    nothing.  Replaces the retired q04 (semi join, still graded via
    q46's EXISTS)."""
    from trial_data_ingestion_spark.operators.line_dedup import line_dedup
    d = (_t(spark, sf_dir, "documents")
         .where(F.col("text").isNotNull())
         .select("doc_id",
                 F.concat_ws("\n", "text",
                             F.substring("text", 1, 60),
                             "text").alias("text")))
    return line_dedup(d, min_chars=10, hash_lines=True) \
        .select("doc_id", "text", "n_removed_lines")


@_register("q59_gopher_rules", """
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'),
                     x -> x <> '') AS words,
         string_split(text, chr(10)) AS lines
  FROM documents WHERE text IS NOT NULL
), m AS (
  SELECT doc_id, len(words) AS n_words,
         greatest(len(words), 1) AS nz,
         greatest(len(lines), 1) AS n_lines,
         list_sum(list_transform(words, x -> length(x))) AS char_sum,
         len(list_filter(words, x -> contains(x, '#')))
           + len(list_filter(words, x -> contains(x, '…')
                                         OR contains(x, '...')))
           AS symbols,
         len(list_filter(lines, l -> substr(trim(l), 1, 1)
                 IN ('-', '*', '•', '‣', '◦'))) AS bullets,
         len(list_filter(lines, l -> suffix(trim(l), '...')
                                     OR suffix(trim(l), '…')))
           AS ellipses,
         len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
           AS alpha,
         len(list_filter(['the','be','to','of','and','that','have',
                          'with'],
             s -> list_contains(list_transform(words,
                                               w -> lower(w)), s)))
           AS stop_hits
  FROM base
)
SELECT doc_id,
       n_words >= 50 AND n_words <= 100000           AS word_count_ok,
       CAST(coalesce(char_sum, 0) AS DOUBLE) / nz >= 3.0
         AND CAST(coalesce(char_sum, 0) AS DOUBLE) / nz <= 10.0
                                                     AS mean_word_len_ok,
       CAST(symbols AS DOUBLE) / nz <= 0.1           AS symbol_ratio_ok,
       CAST(bullets AS DOUBLE) / n_lines < 0.9       AS bullet_lines_ok,
       CAST(ellipses AS DOUBLE) / n_lines < 0.3      AS ellipsis_lines_ok,
       CAST(alpha AS DOUBLE) / nz >= 0.8             AS alpha_words_ok,
       stop_hits >= 2                                AS stopwords_ok
FROM m
""")
def q59_gopher_rules(spark, sf_dir):
    """The Gopher/MassiveText quality-rule bundle, driver-graded:
    per-document pass booleans for all seven published rules (word
    count, mean word length, symbol ratio, bullet/ellipsis line
    fractions, alphabetic-word fraction, stop-word presence).  The
    oracle recomputes every rule with DuckDB list lambdas over the
    same split — a hash match pins the rule arithmetic, not just the
    aggregate pass rate.  Replaces the retired q02 (join+agg shape,
    still graded via q37/q01/q08)."""
    from trial_data_ingestion_spark.operators.gopher_rules import (
        gopher_report,
    )
    d = (_t(spark, sf_dir, "documents")
         .where(F.col("text").isNotNull())
         .select("doc_id", "text"))
    return gopher_report(d).select(
        "doc_id", "word_count_ok", "mean_word_len_ok",
        "symbol_ratio_ok", "bullet_lines_ok", "ellipsis_lines_ok",
        "alpha_words_ok", "stopwords_ok")


@_register("q60_dsir_score", """
WITH toks AS (
  SELECT doc_id,
         list_filter(
           string_split_regex(
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
             ' +'),
           x -> x <> '') AS t
  FROM documents),
grams AS (
  SELECT doc_id,
         unnest(list_concat(
           t, list_transform(range(1, len(t)),
                             i -> t[i] || ' ' || t[i + 1]))) AS g
  FROM toks WHERE len(t) >= 1),
bk AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % 2048 AS b
  FROM grams),
tc AS (SELECT b, count(*) AS c FROM bk WHERE doc_id % 17 = 3 GROUP BY b),
rc AS (SELECT b, count(*) AS c FROM bk GROUP BY b),
tot AS (SELECT (SELECT COALESCE(sum(c), 0) FROM tc) AS nt,
               (SELECT sum(c) FROM rc) AS nr)
SELECT bk.doc_id,
       count(*) AS n_grams,
       round(sum(
         ln((COALESCE(tc.c, 0) + 1.0) / ((SELECT nt FROM tot) + 2048.0))
         - ln((rc.c + 1.0) / ((SELECT nr FROM tot) + 2048.0))), 6)
         AS log_weight
FROM bk LEFT JOIN tc ON bk.b = tc.b LEFT JOIN rc ON bk.b = rc.b
GROUP BY bk.doc_id
""")
def q60_dsir_score(spark, sf_dir):
    """DSIR importance scoring, driver-graded end to end: fit hashed
    unigram+bigram distributions (target = the doc_id %% 17 == 3
    slice, raw = the whole table, 2048 buckets, add-1 smoothing) and
    emit every document's per-occurrence summed log importance
    weight.  The oracle re-derives the ENTIRE model in DuckDB — same
    tokenization, the engine-portable md5 bucket idiom (q54's), the
    same smoothed log ratios — so a hash match pins fit AND scoring
    arithmetic, not just the selection.  Replaces the retired q14
    (scan -> token-stats -> groupBy, still graded via q01/q21/q30).
    Scale: the model is <= 2048 rows (broadcast join); the corpus
    sees one narrow gram explode and one map-side-combined per-doc
    sum."""
    from trial_data_ingestion_spark.operators.dsir import (
        fit_dsir, score_importance,
    )
    d = _t(spark, sf_dir, "documents")
    target = d.where("doc_id % 17 = 3").select("text")
    model = fit_dsir(target, d.select("text"), n_buckets=2048)
    return score_importance(d, model)


@_register("q61_conversation_hygiene", """
WITH conv AS (
  SELECT doc_id,
         'Explain:  ' || upper(substr(text, 1, 30)) AS uc,
         substr(text, 31, 60) AS ac
  FROM documents
), turns AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN 'assistant' ELSE 'user' END AS r1,
         CASE WHEN doc_id % 5 = 0 THEN ac ELSE uc END AS c1,
         CASE WHEN doc_id % 5 = 0 THEN 'user' ELSE 'assistant' END AS r2,
         CASE WHEN doc_id % 5 = 0 THEN uc ELSE ac END AS c2
  FROM conv
)
SELECT doc_id,
       '<|' || r1 || '|>' || chr(10) || c1 || chr(10) ||
       '<|' || r2 || '|>' || chr(10) || c2                    AS rendered,
       CASE WHEN length(trim(c1)) = 0 OR length(trim(c2)) = 0
              THEN 'empty_content'
            WHEN r1 = 'assistant' THEN 'leading_assistant'
            ELSE NULL END                                     AS defect,
       md5(r1 || ':' ||
           regexp_replace(regexp_replace(lower(trim(c1)), '\\s+', ' ', 'g'),
                          '[\\x00-\\x1f\\x7f]', '', 'g')
           || chr(1)
           || r2 || ':' ||
           regexp_replace(regexp_replace(lower(trim(c2)), '\\s+', ' ', 'g'),
                          '[\\x00-\\x1f\\x7f]', '', 'g'))
                                                              AS conv_fp
FROM turns
""")
def q61_conversation_hygiene(spark, sf_dir):
    """Conversation/chat tier, driver-graded: build a deterministic
    two-turn conversation per document (every 5th opens with the
    model — a planted structural defect; short documents yield an
    empty assistant turn — a second, data-driven defect), then run
    the REAL operators — flatten_conversation's template rendering,
    validate_turns' defect taxonomy, conversation_fingerprint's
    normalize-and-hash — and let DuckDB re-derive all three from
    first principles (string arithmetic, trim/length defect logic,
    md5 over the same normalization).  A hash match pins the chat
    tier's rendering, validation, and dedup-key arithmetic at once.
    Replaces the retired q10 (CUBE — the all-subsets special case of
    q34's GROUPING SETS, same Expand-based physical shape).  Scale:
    one narrow projection of higher-order array functions — no
    shuffle, no Python."""
    from trial_data_ingestion_spark.operators.conversations import (
        conversation_fingerprint, flatten_conversation, validate_turns,
    )
    d = _t(spark, sf_dir, "documents")
    u = F.struct(
        F.lit("user").alias("role"),
        F.concat(F.lit("Explain:  "),
                 F.upper(F.substring("text", 1, 30))).alias("content"))
    a = F.struct(F.lit("assistant").alias("role"),
                 F.substring("text", 31, 60).alias("content"))
    msgs = F.when(F.col("doc_id") % 5 == 0,
                  F.array(a, u)).otherwise(F.array(u, a))
    conv = d.select("doc_id", msgs.alias("messages"))
    return conv.select(
        "doc_id",
        flatten_conversation(F.col("messages")).alias("rendered"),
        validate_turns(F.col("messages")).alias("defect"),
        conversation_fingerprint(F.col("messages")).alias("conv_fp"))

_FUNNEL_STEPS = ["signup", "view", "click", "purchase"]


@_register("q62_funnel", """
WITH e AS (SELECT user_id, ts, event_type FROM events),
t0 AS (SELECT user_id, min(ts) AS ts FROM e
       WHERE event_type = 'signup' GROUP BY 1),
t1 AS (SELECT e.user_id, min(e.ts) AS ts FROM e JOIN t0 USING (user_id)
       WHERE event_type = 'view' AND e.ts >= t0.ts GROUP BY 1),
t2 AS (SELECT e.user_id, min(e.ts) AS ts FROM e JOIN t1 USING (user_id)
       WHERE event_type = 'click' AND e.ts >= t1.ts GROUP BY 1),
t3 AS (SELECT e.user_id, min(e.ts) AS ts FROM e JOIN t2 USING (user_id)
       WHERE event_type = 'purchase' AND e.ts >= t2.ts GROUP BY 1),
n AS (SELECT 0 AS step_index, 'signup' AS step,
             (SELECT count(*) FROM t0) AS n_users
      UNION ALL SELECT 1, 'view', (SELECT count(*) FROM t1)
      UNION ALL SELECT 2, 'click', (SELECT count(*) FROM t2)
      UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM t3))
SELECT step_index, step, n_users,
       CASE WHEN max(CASE WHEN step_index = 0 THEN n_users END)
                 OVER () > 0
            THEN floor(n_users * 1000000.0 /
                       max(CASE WHEN step_index = 0 THEN n_users END)
                         OVER () + 0.5) / 1000000
            ELSE 0.0 END AS frac_of_first
FROM n
""")
def q62_funnel(spark, sf_dir):
    """Ordered conversion funnel (signup -> view -> click -> purchase)
    over the events table — ClickHouse ``windowFunnel`` semantics, no
    time window (exact subsequence matching).  ONE corpus shuffle: the
    per-user chain fold is a native ``F.aggregate`` lambda over the
    sorted event array (funnels.py); the step rollup sees one row per
    user.

    The oracle is the progressive per-user min-timestamp recursion
    with ``>=`` step boundaries: the engine's sort breaks timestamp
    ties by step index (a same-timestamp later step still counts), and
    ``t >= u_prev`` is exactly that tie rule in SQL, so the two
    formulations agree on EVERY input, ties included.  frac_of_first
    is re-derived with the q13/q47 floor idiom (round() diverges
    between engines on some doubles).

    Known edge if the driver ever ships events.ts as NANOS again
    (r1-r3 shape): _events floors to micros, so two events distinct
    only below the microsecond would tie on the Spark side but not in
    DuckDB's nanosecond view — the synthetic generator emits >= ms
    granularity, so this is theoretical; revisit only on a testdata
    shape flip."""
    from trial_data_ingestion_spark.operators.funnels import (
        funnel_counts,
    )
    ev = _events(spark, sf_dir)
    fc = funnel_counts(ev, _FUNNEL_STEPS).drop("frac_of_first")
    entered = F.max(F.when(F.col("step_index") == 0,
                           F.col("n_users"))).over(Window.partitionBy())
    return fc.withColumn(
        "frac_of_first",
        F.when(entered > 0,
               F.floor(F.col("n_users") * 1_000_000.0 / entered + 0.5)
               / 1_000_000)
        .otherwise(F.lit(0.0)))


@_retire("q65_funnel_windowed", """
WITH e AS (SELECT user_id, ts, event_type FROM events),
t0 AS (SELECT user_id, min(ts) AS ts FROM e
       WHERE event_type = 'signup' GROUP BY 1),
t1 AS (SELECT e.user_id, min(e.ts) AS ts
       FROM e JOIN t0 USING (user_id)
       WHERE event_type = 'view' AND e.ts >= t0.ts
         AND e.ts <= t0.ts + INTERVAL 3 DAY GROUP BY 1),
t2 AS (SELECT e.user_id, min(e.ts) AS ts
       FROM e JOIN t1 USING (user_id) JOIN t0 USING (user_id)
       WHERE event_type = 'click' AND e.ts >= t1.ts
         AND e.ts <= t0.ts + INTERVAL 3 DAY GROUP BY 1),
t3 AS (SELECT e.user_id, min(e.ts) AS ts
       FROM e JOIN t2 USING (user_id) JOIN t0 USING (user_id)
       WHERE event_type = 'purchase' AND e.ts >= t2.ts
         AND e.ts <= t0.ts + INTERVAL 3 DAY GROUP BY 1),
n AS (SELECT 0 AS step_index, 'signup' AS step,
             (SELECT count(*) FROM t0) AS n_users
      UNION ALL SELECT 1, 'view', (SELECT count(*) FROM t1)
      UNION ALL SELECT 2, 'click', (SELECT count(*) FROM t2)
      UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM t3))
SELECT step_index, step, n_users,
       CASE WHEN max(CASE WHEN step_index = 0 THEN n_users END)
                 OVER () > 0
            THEN floor(n_users * 1000000.0 /
                       max(CASE WHEN step_index = 0 THEN n_users END)
                         OVER () + 0.5) / 1000000
            ELSE 0.0 END AS frac_of_first
FROM n
""")
def q65_funnel_windowed(spark, sf_dir):
    """q62's chain-window variant (3-day window measured from the
    chain START — the greedy fold promotes the chain-start time, so
    every step's deadline is t0 + W): pytest-oracle-verified in the
    retired registry (the driver's 50 slots grade the unwindowed
    funnel; this pins the window arithmetic).  The SQL recursion
    carries t0 alongside each stage for the shared deadline, with
    the same tie-exact ``>=`` boundaries as q62."""
    from trial_data_ingestion_spark.operators.funnels import (
        funnel_counts,
    )
    ev = _events(spark, sf_dir)
    fc = funnel_counts(ev, _FUNNEL_STEPS,
                       within_seconds=3 * 24 * 3600.0) \
        .drop("frac_of_first")
    entered = F.max(F.when(F.col("step_index") == 0,
                           F.col("n_users"))).over(Window.partitionBy())
    return fc.withColumn(
        "frac_of_first",
        F.when(entered > 0,
               F.floor(F.col("n_users") * 1_000_000.0 / entered + 0.5)
               / 1_000_000)
        .otherwise(F.lit(0.0)))


@_register("q63_retention", """
WITH a AS (SELECT DISTINCT user_id, date_trunc('week', ts)::date AS p
           FROM events),
c AS (SELECT user_id, min(p) AS cohort FROM a GROUP BY 1),
x AS (SELECT c.cohort,
             CAST((a.p - c.cohort) / 7 AS BIGINT) AS period_index,
             count(*) AS n_active
      FROM a JOIN c USING (user_id) GROUP BY 1, 2),
s AS (SELECT cohort, count(*) AS n_cohort FROM c GROUP BY 1)
SELECT strftime(x.cohort, '%Y-%m-%d') AS cohort_week,
       x.period_index, x.n_active, s.n_cohort,
       floor(x.n_active * 1000000.0 / s.n_cohort + 0.5) / 1000000
         AS retention
FROM x JOIN s USING (cohort)
""")
def q63_retention(spark, sf_dir):
    """Weekly cohort retention: users cohorted by first active ISO
    week, one row per (cohort, period_index) with the active fraction.
    ONE corpus shuffle (funnels.retention_cohorts): cohort and the
    distinct active-week set come out of the same ``groupBy(user)``,
    and the cohort size is the period-0 count via a window — no join
    back over the data.  The oracle recomputes cohort sizes
    independently (count over first-week rows), so the no-join
    shortcut's invariant (every user is active in their own cohort
    week) is itself hash-verified.  Cohort emitted as a yyyy-MM-dd
    string (q47 pattern: DuckDB DATE arrives as datetime64 and would
    normalize differently); retention uses the floor idiom."""
    from trial_data_ingestion_spark.operators.funnels import (
        retention_cohorts,
    )
    ev = _events(spark, sf_dir)
    rc = retention_cohorts(ev, granularity="week").drop("retention")
    return rc.select(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
        "period_index", "n_active", "n_cohort",
        (F.floor(F.col("n_active") * 1_000_000.0 / F.col("n_cohort")
                 + 0.5) / 1_000_000).alias("retention"))


@_retire("q66_cluster_assign", """
WITH c AS (
  -- ::DOUBLE[] everywhere: on FLOAT[] inputs DuckDB's
  -- list_dot_product ACCUMULATES in float32 (~1e-6 error — flips
  -- 6dp rounding); float32 values widened to double dot exactly
  SELECT vec_id AS cell_id, embedding::DOUBLE[] AS centroid
  FROM embeddings ORDER BY vec_id LIMIT 16
),
e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
scored AS (
  SELECT e.vec_id, c.cell_id,
         list_dot_product(e.emb, c.centroid)
           / (sqrt(list_dot_product(e.emb, e.emb))
              * sqrt(list_dot_product(c.centroid, c.centroid))) AS cos
  FROM e CROSS JOIN c
  WHERE list_dot_product(e.emb, e.emb) > 0
),
best AS (
  SELECT vec_id, cell_id, cos,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, cell_id ASC) AS rn
  FROM scored
)
SELECT vec_id, cell_id,
       floor(cos * 1000000 + 0.5) / 1000000 AS cos_to_centroid
FROM best WHERE rn = 1 ORDER BY vec_id
""")
def q66_cluster_assign(spark, sf_dir):
    """Nearest-centroid cell assignment (clustering.cluster_documents'
    Arrow matmul kernel) value-hashed against DuckDB's own
    list_cosine_similarity + argmax — pytest-registry slot (the
    driver budget is full at 50; this is the clustering tier's
    correctness gate).  Centroids are the deterministic first-16
    vectors (the q31 convention) so the oracle can rebuild the
    codebook from SQL alone; production codebooks come from
    sampled_kmeans_centroids, which changes the centers, not the
    assignment math under test.  The tie rule (max cos, then min
    cell) is shared; measured top-2 cosine gaps on every testdata
    scale are >= 1e-5, far above cross-engine float noise, so the
    argmax cannot flip.  Cosines use the floor idiom at 6dp."""
    from trial_data_ingestion_spark.operators.clustering import (
        cluster_documents,
    )
    from trial_data_ingestion_spark.operators.similarity import (
        first_id_centroids,
    )
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = first_id_centroids(emb, num_cells=16)
    out = cluster_documents(emb, dim=64, centroids=cents)
    return (out.where(F.col("cell_id").isNotNull())
            .select("vec_id", F.col("cell_id").cast("long").alias("cell_id"),
                    (F.floor(F.col("cos_to_centroid") * 1_000_000.0
                             + 0.5) / 1_000_000)
                    .alias("cos_to_centroid")))


@_retire("q67_top_paths", """
WITH ranked AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_type) AS rn
  FROM events
),
paths AS (
  SELECT user_id, string_agg(event_type, ' > ' ORDER BY rn) AS path
  FROM ranked WHERE rn <= 3 GROUP BY user_id
),
counts AS (SELECT path, count(*) AS n_users FROM paths GROUP BY path)
SELECT CAST(row_number() OVER (ORDER BY n_users DESC, path) AS BIGINT)
         AS rank,
       path, n_users
FROM counts ORDER BY n_users DESC, path LIMIT 20
""")
def q67_top_paths(spark, sf_dir):
    """Pathfinder: top-20 three-step opening event paths by user
    count (funnels.top_event_paths) — pytest-registry slot (driver
    budget full at 50).  The oracle re-derives prefix ranking,
    path assembly, and the (count desc, path asc) rank from first
    principles; deterministic because prefix ties break on event
    type and identical rows produce identical paths."""
    from trial_data_ingestion_spark.operators.funnels import (
        top_event_paths,
    )
    ev = _events(spark, sf_dir)
    out = top_event_paths(ev, max_steps=3, k=20)
    return out.select(F.col("rank").cast("long").alias("rank"),
                      "path", "n_users")


@_retire("q69_cluster_prune", """
WITH c AS (
  SELECT vec_id AS cell_id, embedding::DOUBLE[] AS centroid
  FROM embeddings ORDER BY vec_id LIMIT 16
),
e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
scored AS (
  SELECT e.vec_id, c.cell_id,
         list_dot_product(e.emb, c.centroid)
           / (sqrt(list_dot_product(e.emb, e.emb))
              * sqrt(list_dot_product(c.centroid, c.centroid))) AS cos
  FROM e CROSS JOIN c
  WHERE list_dot_product(e.emb, e.emb) > 0
),
best AS (
  SELECT vec_id, cell_id, cos,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, cell_id ASC) AS rn
  FROM scored
),
assigned AS (SELECT vec_id, cell_id, cos FROM best WHERE rn = 1),
ranked AS (
  SELECT vec_id, cell_id,
         percent_rank() OVER (PARTITION BY cell_id ORDER BY cos ASC)
           AS pr
  FROM assigned
)
SELECT vec_id, cell_id,
       floor(pr * 1000000 + 0.5) / 1000000 AS proto_rank
FROM ranked WHERE pr >= 0.05 AND pr <= 0.95
""")
def q69_cluster_prune(spark, sf_dir):
    """D4-style prototypicality pruning hash-verified end to end on
    top of q66's assignment: per-cell percent_rank over the cosine,
    both 5% tails dropped — the oracle recomputes assignment AND the
    rank cut from scratch.  percent_rank is (rank-1)/(n-1) on both
    engines and the ranking floats are IEEE-identical (same dots),
    so the cut is exact; the reported rank uses the floor idiom."""
    from trial_data_ingestion_spark.operators.clustering import (
        cluster_documents, prune_prototypicality,
    )
    from trial_data_ingestion_spark.operators.similarity import (
        first_id_centroids,
    )
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = first_id_centroids(emb, num_cells=16)
    assigned = cluster_documents(emb, dim=64, centroids=cents)
    # pr is computed over the FULL cell (matching the operator's own
    # window); the survivor set comes from the operator under test
    w = Window.partitionBy("cell_id").orderBy(
        F.col("cos_to_centroid").asc())
    with_pr = assigned.where(F.col("cell_id").isNotNull()) \
        .withColumn("__pr", F.percent_rank().over(w))
    pruned_ids = prune_prototypicality(
        assigned, drop_low_frac=0.05, drop_high_frac=0.05) \
        .select("vec_id")
    return (with_pr.join(pruned_ids, "vec_id")
            .select("vec_id",
                    F.col("cell_id").cast("long").alias("cell_id"),
                    (F.floor(F.col("__pr") * 1_000_000.0 + 0.5)
                     / 1_000_000).alias("proto_rank")))


@_retire("q70_cluster_keywords", """
WITH c AS (
  SELECT vec_id AS cell_id, embedding::DOUBLE[] AS centroid
  FROM embeddings ORDER BY vec_id LIMIT 16
),
e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
scored0 AS (
  SELECT e.vec_id, c.cell_id,
         list_dot_product(e.emb, c.centroid)
           / (sqrt(list_dot_product(e.emb, e.emb))
              * sqrt(list_dot_product(c.centroid, c.centroid))) AS cos
  FROM e CROSS JOIN c
  WHERE list_dot_product(e.emb, e.emb) > 0
),
assigned AS (
  SELECT vec_id, cell_id FROM (
    SELECT vec_id, cell_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, cell_id ASC) AS rn
    FROM scored0) WHERE rn = 1
),
toks AS (
  SELECT a.cell_id, d.doc_id AS docid, t.token
  FROM assigned a
  JOIN documents d ON d.doc_id = a.vec_id,
       unnest(string_split_regex(lower(d.text), '[^a-z0-9]+'))
         AS t(token)
  WHERE length(t.token) >= 3
),
per_cell AS (
  SELECT cell_id, token, count(*) AS cnt,
         count(DISTINCT docid) AS df
  FROM toks GROUP BY cell_id, token
  HAVING count(DISTINCT docid) >= 2
),
tot AS (SELECT sum(cnt) AS corpus_n FROM per_cell),
cellt AS (SELECT cell_id, sum(cnt) AS cell_n FROM per_cell
          GROUP BY cell_id),
tokt AS (SELECT token, sum(cnt) AS tok_n FROM per_cell GROUP BY token),
lifted AS (
  SELECT p.cell_id, p.token, p.cnt,
         (p.cnt / ct.cell_n) / (tt.tok_n / t.corpus_n) AS lift
  FROM per_cell p
  JOIN cellt ct USING (cell_id)
  JOIN tokt tt USING (token)
  CROSS JOIN tot t
)
SELECT CAST(cell_id AS BIGINT) AS cell_id,
       CAST(rank AS BIGINT) AS rank, token, cnt,
       round(lift, 6) AS lift
FROM (SELECT *, row_number() OVER (PARTITION BY cell_id
                                   ORDER BY lift DESC, cnt DESC,
                                            token ASC) AS rank
      FROM lifted)
WHERE rank <= 10
""")
def q70_cluster_keywords(spark, sf_dir):
    """Cluster keyword labeling hash-verified end to end: the oracle
    re-derives assignment, tokenization, the min-df guard, and the
    log-lift ranking from first principles (same division order, so
    the ordering floats are IEEE-identical; lift value rounded to
    6dp on both sides)."""
    from trial_data_ingestion_spark.operators.clustering import (
        cluster_documents, cluster_keywords,
    )
    from trial_data_ingestion_spark.operators.similarity import (
        first_id_centroids,
    )
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    docs = _t(spark, sf_dir, "documents") \
        .select(F.col("doc_id").alias("vec_id"), "text")
    cents = first_id_centroids(emb, num_cells=16)
    assigned = cluster_documents(emb.join(docs, "vec_id"), dim=64,
                                 centroids=cents)
    kw = cluster_keywords(assigned, text_col="text", id_col="vec_id",
                          top_k=10)
    return kw.select(F.col("cell_id").cast("long").alias("cell_id"),
                     F.col("rank").cast("long").alias("rank"),
                     "token", "cnt", "lift")


@_retire("q71_activity_segments", """
WITH per_user AS (
  SELECT user_id,
         count(*) AS n_events,
         count(DISTINCT CAST(ts AS DATE)) AS active_days,
         count(DISTINCT event_type) AS n_types
  FROM events GROUP BY user_id
)
SELECT segment, count(*) AS n_users,
       floor(avg(n_events) * 1000000 + 0.5) / 1000000 AS avg_events,
       floor(avg(n_types) * 1000000 + 0.5) / 1000000 AS avg_types
FROM (SELECT CASE WHEN active_days >= 20 THEN 'power'
                  WHEN active_days >= 5 THEN 'core'
                  ELSE 'casual' END AS segment,
             n_events, n_types
      FROM per_user)
GROUP BY segment
""")
def q71_activity_segments(spark, sf_dir):
    """Engagement segmentation (power/core/casual by distinct active
    days) with per-segment event and event-type averages — the
    product-analytics activity table; pytest-registry slot.  One
    per-user aggregate + a 3-row rollup; averages use the floor
    idiom."""
    ev = _events(spark, sf_dir)
    per_user = (ev.groupBy("user_id")
                .agg(F.count(F.lit(1)).alias("n_events"),
                     F.countDistinct(F.col("ts").cast("date"))
                     .alias("active_days"),
                     F.countDistinct("event_type").alias("n_types")))
    seg = (F.when(F.col("active_days") >= 20, "power")
           .when(F.col("active_days") >= 5, "core")
           .otherwise("casual"))
    return (per_user.select(seg.alias("segment"), "n_events", "n_types")
            .groupBy("segment")
            .agg(F.count(F.lit(1)).alias("n_users"),
                 (F.floor(F.avg("n_events") * 1_000_000 + 0.5)
                  / 1_000_000).alias("avg_events"),
                 (F.floor(F.avg("n_types") * 1_000_000 + 0.5)
                  / 1_000_000).alias("avg_types")))


@_register("q64_release_pipeline")
def q64_release_pipeline(spark, sf_dir):
    """End-to-end web-release composition, graded rows-only (the
    HTML extraction kernel is a Python parser DuckDB cannot mirror;
    every constituent stage is separately hash-verified — q21/q30
    hygiene, q15 dedup, q52 decontam, q58 line dedup, q43-retired
    split): documents are wrapped in deterministic HTML pages with
    shared nav/footer boilerplate, then HTML -> text extraction ->
    hygiene gates -> exact dedup -> corpus-wide line dedup (which
    must strip the planted boilerplate from all but its first
    occurrence) -> decontamination -> content-stable split, reported
    as one per-split release summary.  WARC container parsing (the
    step upstream of the HTML column) is exercised by
    tests/test_warc.py over real record bytes.

    Scale shape: one Arrow extraction pass, the curation DAG's
    pinned exchanges (test_curation censuses), and a 3-row rollup —
    nothing here that is not already load-bearing at 100 TB."""
    from trial_data_ingestion_spark.functions.html_text import (
        html_to_text,
    )
    from trial_data_ingestion_spark.pipelines.curation import (
        CurationConfig, curate,
    )
    from trial_data_ingestion_spark.session import ensure_parallelism

    # single-file parquet would run the HTML kernel in ONE task;
    # repartition the pre-extraction rows (the standard discipline in
    # front of CPU-heavy kernels, see session.ensure_parallelism)
    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    pages = d.select(
        "doc_id",
        F.concat(
            F.lit("<html><head><title>Doc "),
            F.col("doc_id").cast("string"),
            F.lit("</title></head><body>"
                  "<nav>home | topics | about | contact</nav><p>"),
            F.col("text"),
            F.lit("</p><footer>corpus release archive footer"
                  "</footer></body></html>")).alias("html"))
    extracted = html_to_text(pages).drop("html", "title")
    benchmark = (extracted.where(F.col("doc_id") % 97 == 3)
                 .select("doc_id", "text"))
    # lid="arrow": this query already crosses into Python for the
    # HTML kernel, and the Arrow LID twin runs the whole composition
    # 6x faster than the native CASE-expression LID here (3.2 s vs
    # 20.4 s cold at sf0.01) — same deterministic labels
    out = curate(extracted, benchmark=benchmark,
                 config=CurationConfig(lid="arrow",
                                       line_dedup_min_chars=12))
    return (out.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.length("text")).alias("total_chars"),
                 F.countDistinct("fingerprint").alias("n_fingerprints"),
                 F.countDistinct("lang").alias("n_langs"))
            .orderBy("split"))


#: Every query, graded or retired — tests run parity over all of them.
ALL_QUERIES: dict = {**RETIRED_QUERIES, **QUERIES}
ALL_ORACLE: dict = {**RETIRED_ORACLE, **ORACLE}


# ===========================================================================
# Entry flagship
# ===========================================================================

def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> whitespace-normalize -> C1 chunk -> posexplode ->
    per-source aggregate.  Exercises scan, Arrow UDF, explode, and
    hash aggregation in one lazy DAG (SURVEY.md §7 step 1)."""
    d = _t(spark, sf_dir, "documents")
    ch = chunking.chunk_fixed(d, "text", "doc_id", 200, 40,
                              keep_cols=["source"])
    return (ch.groupBy("source")
              .agg(F.count(F.lit(1)).alias("n_chunks"),
                   F.round(F.avg(F.length("chunk_text")), 4)
                    .alias("avg_chunk_chars"),
                   F.countDistinct("doc_id").alias("n_docs")))
