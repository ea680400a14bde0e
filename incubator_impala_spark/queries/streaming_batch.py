"""Event-time corpus over the `events` table (SURVEY.md §2.10: the
reference has no event-time windows, so this surface is net-new).

Every windowing plan here is built from `operators.windows`. The
DuckDB oracles restate the window semantics in plain SQL
(epoch-aligned buckets, gaps-and-islands sessions, ASOF JOIN).

Determinism: sums over `value` go through DECIMAL(14,2) so results
don't depend on float add order; single trailing double divisions are
IEEE-exact both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from incubator_impala_spark.operators import windows
from incubator_impala_spark.operators.asof import asof_join
from incubator_impala_spark.sources.tables import load_table

QUERIES: dict = {}
ORACLE_SQL: dict = {}


def _register(name: str, oracle: str | None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


_SUM_DEC = "CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DECIMAL(38,2))"


# ---------------------------------------------------------------------------
# Tumbling / sliding / session windows
# ---------------------------------------------------------------------------


@_register(
    "events_tumbling_hourly",
    f"""
    SELECT date_trunc('hour', ts) AS wstart, event_type,
      count(*) AS n_events, {_SUM_DEC} AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows per event type. Epoch-aligned windows
    == date_trunc('hour') buckets."""
    ev = load_table(spark, sf_dir, "events")
    return windows.tumbling_agg(ev, duration="1 hour", keys=["event_type"])


@_register(
    "events_sliding_2h_1h",
    f"""
    WITH w AS (
      SELECT unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                     date_trunc('hour', ts)]) AS wstart, value
      FROM events)
    SELECT wstart, count(*) AS n_events, {_SUM_DEC} AS sum_value
    FROM w GROUP BY 1
    """,
)
def events_sliding_2h_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hour windows sliding every hour — each event lands in exactly
    the two hour-aligned windows covering it."""
    ev = load_table(spark, sf_dir, "events")
    return windows.sliding_agg(ev, duration="2 hours", slide="1 hour")


@_register(
    "events_session_windows",
    f"""
    WITH flagged AS (
      SELECT user_id, ts, value,
        CASE WHEN lag(ts) OVER w IS NULL
          OR ts - lag(ts) OVER w > INTERVAL 6 HOUR THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    numbered AS (
      SELECT user_id, ts, value,
        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged)
    SELECT min(ts) AS session_start,
      max(ts) + INTERVAL 6 HOUR AS session_end,
      user_id, count(*) AS n_events, {_SUM_DEC} AS sum_value
    FROM numbered GROUP BY user_id, sid
    """,
)
def events_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 6h inactivity gap; Spark's
    session end == last event + gap, mirrored by the islands oracle."""
    ev = load_table(spark, sf_dir, "events")
    return windows.session_agg(ev, gap="6 hours", keys=["user_id"])


# ---------------------------------------------------------------------------
# Event analytics: funnel, JSON props, as-of join, type share
# ---------------------------------------------------------------------------


@_register(
    "events_signup_funnel",
    """
    WITH s AS (SELECT user_id, min(ts) AS first_signup
               FROM events WHERE event_type = 'signup' GROUP BY user_id),
    p AS (SELECT e.user_id, min(e.ts) AS first_purchase
          FROM events e JOIN s ON e.user_id = s.user_id
            AND e.ts >= s.first_signup
          WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT s.user_id, s.first_signup, p.first_purchase,
      CAST(CASE WHEN p.first_purchase IS NOT NULL THEN 1 ELSE 0 END AS INT)
        AS converted
    FROM s LEFT JOIN p ON s.user_id = p.user_id
    """,
)
def events_signup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup -> purchase conversion funnel per user."""
    ev = load_table(spark, sf_dir, "events")
    signups = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_signup"))
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .join(signups, "user_id")
        .where(F.col("ts") >= F.col("first_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    return signups.join(purchases, "user_id", "left").select(
        "user_id", "first_signup", "first_purchase",
        F.when(F.col("first_purchase").isNotNull(), 1).otherwise(0)
        .cast("int").alias("converted"),
    )


@_register(
    "events_json_props",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
      count(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DECIMAL(38,2)) AS sum_value
    FROM events GROUP BY 1
    """,
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_json_object over the props JSON column (reference:
    get_json_object in the string/utility registry, SURVEY.md §2.11)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int") % 10
    return ev.groupBy(k.alias("k_bucket")).agg(
        F.count("*").alias("n_events"),
        windows.money_sum("value").alias("sum_value"),
    )


@_register(
    "events_asof_last_click",
    """
    WITH purchases AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'),
    clicks AS (
      SELECT user_id, ts AS click_ts, value AS click_value FROM events
      WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, p.ts, p.value,
      c.click_ts AS asof_ts, c.click_value AS asof_value
    FROM purchases p
    ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.click_ts
    """,
)
def events_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase picks up the user's latest prior
    click (union-and-carry implementation — one shuffle, no pairwise
    range join; net-new vs the reference's hash/nested-loop algebra)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id",
        F.col("ts"), F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    joined = asof_join(
        purchases, clicks, key="user_id", ts="ts",
        payload=["click_ts", "click_value"], tiebreak="event_id",
    )
    return joined.select(
        "event_id", "user_id", "ts", "value",
        F.col("asof_click_ts").alias("asof_ts"),
        F.col("asof_click_value").alias("asof_value"),
    )


@_register(
    "events_type_share",
    """
    WITH c AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1)
    SELECT event_type, n,
      CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE) AS share
    FROM c
    """,
)
def events_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total via a window over an aggregate (analytic-over-agg
    — AnalyticEvalNode atop AggregationNode in the reference plan)."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    total = F.sum("n").over(Window.partitionBy())
    return counts.select(
        "event_type", "n",
        (F.col("n").cast("double") / total.cast("double")).alias("share"),
    )


@_register(
    "events_nanos_fidelity",
    """
    SELECT event_id,
      epoch_us(ts) AS ts_us,
      CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_sec,
      CAST(epoch_us(ts) % 1000000 AS BIGINT) AS micros
    FROM events WHERE event_id % 100 = 0
    """,
)
def events_nanos_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documented TIMESTAMP precision gap (SURVEY.md §1.2): the
    reference stores nanosecond timestamps (timestamp-value.h:45-61).
    We keep the raw int64 nanos (`ts_ns`) alongside the µs column
    (sources/tables.py); the oracle itself truncates to µs on read, so
    this entry verifies fidelity at µs grain — sub-µs preservation
    (where we exceed the oracle) is asserted in tests/test_streaming.py
    ::test_nanos_preserved_beyond_oracle."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") % 100 == 0)
    return ev.select(
        "event_id",
        F.expr("ts_ns div 1000").alias("ts_us"),
        F.date_trunc("second", "ts").alias("ts_sec"),
        F.expr("CAST((ts_ns div 1000) % 1000000 AS BIGINT)").alias("micros"),
    )


@_register(
    "events_gapfill_hourly",
    f"""
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
      FROM events),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS wstart
      FROM bounds),
    agg AS (
      SELECT date_trunc('hour', ts) AS wstart,
        count(*) AS n, {_SUM_DEC} AS sv
      FROM events GROUP BY 1)
    SELECT s.wstart,
      CAST(coalesce(a.n, 0) AS BIGINT) AS n_events,
      CAST(coalesce(a.sv, 0) AS DECIMAL(38,2)) AS sum_value
    FROM spine s LEFT JOIN agg a ON s.wstart = a.wstart
    """,
)
def events_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly series: a generated time spine (sequence +
    explode) left-joined to the tumbling aggregate, empty buckets as
    zeros — the OLAP gap-fill idiom the reference has no operator for.
    Scale: the spine is O(hours), tiny; it broadcasts to the agg."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("wstart")
    )
    agg = ev.groupBy(F.date_trunc("hour", "ts").alias("wstart")).agg(
        F.count("*").alias("n"), windows.money_sum("value").alias("sv")
    )
    return (
        spine.join(agg, "wstart", "left")
        .select(
            "wstart",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
            F.coalesce(F.col("sv"), F.lit(0)).cast("decimal(38,2)").alias("sum_value"),
        )
    )


@_register(
    "events_session_dynamic_gap",
    f"""
    WITH g AS (
      SELECT user_id, ts, value,
        CASE WHEN event_type = 'purchase' THEN INTERVAL 12 HOUR
             ELSE INTERVAL 4 HOUR END AS gap
      FROM events),
    marked AS (
      SELECT user_id, ts, value, ts + gap AS w_end,
        CASE WHEN max(ts + gap) OVER
            (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) >= ts
          THEN 0 ELSE 1 END AS new_s
      FROM g),
    numbered AS (
      SELECT user_id, ts, value, w_end,
        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked)
    SELECT user_id,
      min(ts) AS session_start,
      max(w_end) AS session_end,
      count(*) AS n_events, {_SUM_DEC} AS sum_value
    FROM numbered GROUP BY user_id, sid
    """,
)
def events_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap sessions: purchases keep a session alive 12h,
    everything else 4h — `session_window` with a per-event gap
    expression. Oracle: islands where a row joins the session iff the
    running max of prior window-ends reaches it; session end is the
    max member end (merge semantics of overlapping [ts, ts+gap))."""
    ev = load_table(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "purchase", F.lit("12 hours")).otherwise(
        F.lit("4 hours")
    )
    w = F.session_window(F.col("ts"), gap)
    return (
        ev.groupBy(w, "user_id")
        .agg(F.count("*").alias("n_events"), windows.money_sum("value").alias("sum_value"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id", "n_events", "sum_value",
        )
        .select("user_id", "session_start", "session_end", "n_events", "sum_value")
    )
