"""Event-stream analytics (SURVEY.md §2.10 scale track).

The reference's "streaming" is a manually-implemented incremental batch
(high-water mark + idempotent upsert), and the engine keeps it that way:
pipeline.run_pipeline is the one load path. This module holds the batch
view of the event computations (tumbling-window aggregation,
sessionization, late-data-tolerant stats), each oracle-checked.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from fpl_data_pipeline_spark.registry import register
from fpl_data_pipeline_spark.tables import table
from fpl_data_pipeline_spark.functions.exact import dsum, dsum_sql


# --- tumbling-window aggregation (event-time, 1 hour) -----------------------
@register(
    "events_hourly_stats",
    f"""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           {dsum_sql('value')} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_hourly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dsum("value", "total_value"),
        )
    )


# --- sessionization: 30-minute inactivity gap per user ----------------------
@register(
    "events_sessions",
    """
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessioned AS (
      SELECT user_id, ts, event_id,
             CAST(SUM(is_new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM ordered
    )
    SELECT user_id, session_id,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end
    FROM sessioned
    GROUP BY user_id, session_id
    """,
)
def events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: gap > 30 min starts a new session."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    ordered = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap_us > 1_800_000_000, 1)
        .when(F.lag("ts").over(w).isNull(), 1)
        .otherwise(0)
        .alias("is_new_session"),
    )
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sessioned = ordered.withColumn("session_id", F.sum("is_new_session").over(wcum))
    return sessioned.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


# --- incremental view: events after a high-water mark, per-user rollup ------
@register(
    "events_incremental_rollup",
    f"""
    SELECT user_id, COUNT(*) AS n_events, {dsum_sql('value')} AS total_value,
           MAX(event_id) AS new_hwm
    FROM events
    WHERE event_id > 500
    GROUP BY user_id
    """,
)
def events_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's week-loader shape (includes.py:173-182): filter past
    the stored high-water mark, aggregate, emit the new mark."""
    e = table(spark, sf_dir, "events")
    return (
        e.filter(F.col("event_id") > 500)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "total_value"),
            F.max("event_id").alias("new_hwm"),
        )
    )


# --- built-in session windows (F.session_window, batch view) ----------------
@register(
    "events_session_window",
    """
    WITH ordered AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessioned AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM ordered
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sessioned
    GROUP BY user_id, sid
    """,
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via the BUILT-IN session_window (30-minute inactivity
    gap) — the native form of the manual gaps-and-islands in events_sessions,
    and the exact expression a streaming job would use (session_window is
    Structured-Streaming-native state). One shuffle on (user_id, window);
    the oracle replays the islands manually and reproduces Spark's window
    bounds [first event, last event + gap)."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


# --- incremental aggregate-state maintenance (materialized-view merge) ------
STATE_HWM = 5000  # event_id split: state = everything at-or-before, batch = after


@register(
    "incremental_state_merge",
    f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           {dsum_sql('value')} AS total_value,
           CAST({dsum_sql('value')} / COUNT(*) AS DOUBLE) AS avg_value
    FROM events
    GROUP BY event_type
    """,
)
def incremental_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the stored aggregate STATE
    (count + exact sum per group, computed over events at-or-below the
    high-water mark) is merged with a new batch's partial state by ADDING
    the partials — never rescanning history — and derived measures (avg)
    are recomputed from the merged state. The oracle is the full recompute
    over all events: merge(state, batch) == recompute is exactly the
    invariant that lets a 100 TB pipeline maintain dashboards in O(batch)
    instead of O(history). Sums use the DECIMAL(18,2) exact convention so
    partial-aggregation order can't perturb the result."""
    e = table(spark, sf_dir, "events")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_dec"),
        )

    state = partial(e.filter(F.col("event_id") <= STATE_HWM))
    batch = partial(e.filter(F.col("event_id") > STATE_HWM))
    merged = (
        state.unionByName(batch)
        .groupBy("event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_dec").alias("sum_dec"),
        )
    )
    return merged.select(
        "event_type",
        "n_events",
        F.col("sum_dec").cast("double").alias("total_value"),
        (F.col("sum_dec").cast("double") / F.col("n_events")).alias("avg_value"),
    )


# --- exponentially-weighted moving average per user -------------------------
EWMA_ALPHA = 0.3


@register(
    "events_user_ewma",
    f"""
    WITH ordered AS (
      SELECT user_id, list(value ORDER BY ts, event_id) AS vals
      FROM events
      GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(vals) AS INT) AS n_events,
           round(list_reduce(vals, (acc, x) -> acc + {EWMA_ALPHA} * (x - acc)), 6)
             AS ewma_value
    FROM ordered
    """,
)
def events_user_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of event values per user —
    the time-decayed profile feature of any activity model. Expressed as a
    deterministic fold over the time-ordered value list (array_sort on a
    (ts, event_id, value) struct pins the order; F.aggregate folds left, the
    same order DuckDB's list_reduce uses, so the doubles agree bitwise
    before rounding).

    Scale note: a fold over collect_list bounds state at one user's events —
    fine for per-entity series (thousands of events). For unbounded series,
    EWMA is a linear recurrence: each partition reduces to (decay, weighted
    sum) and partials merge associatively, so the same feature is computable
    as a partial-agg + merge without ever materializing the list."""
    e = table(spark, sf_dir, "events")
    ordered = e.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))).alias("evs")
    )
    vals = F.transform("evs", lambda s: s["value"])
    ewma = F.aggregate(
        vals,
        F.lit(None).cast("double"),
        lambda acc, x: F.coalesce(acc + F.lit(EWMA_ALPHA) * (x - acc), x),
    )
    return ordered.select(
        "user_id",
        F.size("evs").alias("n_events"),
        F.round(ewma, 6).alias("ewma_value"),
    )


# --- ordered funnel completion (view -> click -> purchase) ------------------
@register(
    "events_funnel",
    """
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events
      GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS stage_view,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                         THEN 1 ELSE 0 END) AS BIGINT) AS stage_click,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                          AND t_purchase > t_click
                         THEN 1 ELSE 0 END) AS BIGINT) AS stage_purchase
    FROM firsts
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users whose FIRST view precedes their first click
    precedes their first purchase — the conversion query of any event
    pipeline. One filtered-min aggregate per stage (a single shuffle on
    user_id), then a global roll-up; no self-joins, no window over the raw
    stream — the formulation that stays one pass at any event volume."""
    e = table(spark, sf_dir, "events")
    t = lambda typ: F.min(F.when(F.col("event_type") == typ, F.col("ts")))  # noqa: E731
    firsts = e.groupBy("user_id").agg(
        t("view").alias("t_view"),
        t("click").alias("t_click"),
        t("purchase").alias("t_purchase"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    return firsts.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(viewed.cast("int")).cast("long").alias("stage_view"),
        F.sum(clicked.cast("int")).cast("long").alias("stage_click"),
        F.sum(purchased.cast("int")).cast("long").alias("stage_purchase"),
    )


# --- retention cohorts: first-seen day x activity-day offset ----------------
@register(
    "events_retention_cohorts",
    """
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             datediff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
      FROM events e JOIN first_seen f ON e.user_id = f.user_id
    )
    SELECT CAST(cohort_day AS TIMESTAMP) AS cohort_day,
           CAST(day_offset AS INT) AS day_offset,
           COUNT(*) AS n_users
    FROM activity
    WHERE day_offset <= 7
    GROUP BY cohort_day, day_offset
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohorts: users grouped by first-seen day, counted on each
    subsequent day-offset they were active (week-1 retention triangle).
    The first-seen table is user-cardinality (broadcastable at most scales);
    the activity join shuffles on user_id once — the same key as the
    cohort aggregate, so AQE reuses the exchange."""
    e = table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    activity = (
        e.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.to_date("ts"), F.col("cohort_day")).alias("day_offset"),
        )
        .distinct()
    )
    return (
        activity.filter(F.col("day_offset") <= 7)
        .groupBy(
            F.col("cohort_day").cast("timestamp").alias("cohort_day"), "day_offset"
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# --- operational anomaly detection: error-count spikes per hour --------------
@register(
    "events_error_spikes",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, COUNT(*) AS n_errors
      FROM events WHERE event_type = 'error'
      GROUP BY 1
    ),
    stats AS (
      SELECT avg(n_errors) AS mu, stddev_samp(n_errors) AS sigma FROM hourly
    )
    SELECT h.h AS hour_start, h.n_errors,
           round((h.n_errors - s.mu) / s.sigma, 6) AS z_score
    FROM hourly h CROSS JOIN stats s
    WHERE (h.n_errors - s.mu) / s.sigma > 1.5
    ORDER BY z_score DESC, hour_start ASC
    LIMIT 20
    """,
)
def events_error_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational anomaly detection: hours whose error count sits more
    than 1.5 sigma above the corpus mean — the alerting query a pipeline
    health dashboard runs. Hourly rollup (one shuffle), 1-row global stats
    broadcast back, pure-expression z-score. The 1.5-sigma threshold
    compares the SAME doubles on both engines (mean/std of small-int counts
    computed over identical sets), so the filter edge is stable."""
    e = table(spark, sf_dir, "events")
    hourly = (
        e.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", "ts").alias("hour_start"))
        .agg(F.count(F.lit(1)).alias("n_errors"))
    )
    stats = hourly.agg(
        F.avg("n_errors").alias("mu"), F.stddev_samp("n_errors").alias("sigma")
    )
    z = (F.col("n_errors") - F.col("mu")) / F.col("sigma")
    return (
        hourly.crossJoin(F.broadcast(stats))
        .filter(z > 1.5)
        .select("hour_start", "n_errors", F.round(z, 6).alias("z_score"))
        .orderBy(F.col("z_score").desc(), F.col("hour_start").asc())
        .limit(20)
    )


# --- inter-event gap distribution per type ----------------------------------
@register(
    "events_gap_percentiles",
    """
    WITH gaps AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_gaps,
           round(quantile_cont(gap_us / 1000000.0, 0.5), 6) AS p50_gap_s,
           round(quantile_cont(gap_us / 1000000.0, 0.95), 6) AS p95_gap_s
    FROM gaps
    WHERE gap_us IS NOT NULL
    GROUP BY event_type
    """,
)
def events_gap_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event time distribution per event type (median / p95 of the
    same-user gap) — the latency-profile query behind retention and
    session-gap tuning (the 30-minute sessionization threshold above is
    exactly a p-high of this distribution). One window pass partitioned by
    (user, type), one percentile aggregate; exact interpolated percentiles
    match DuckDB quantile_cont after 6-dp rounding."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap_s = (
        (F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w))
        / 1_000_000.0
    )
    gaps = e.select("event_type", gap_s.alias("gap_s")).filter(
        F.col("gap_s").isNotNull()
    )
    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.percentile("gap_s", F.lit(0.5)), 6).alias("p50_gap_s"),
        F.round(F.percentile("gap_s", F.lit(0.95)), 6).alias("p95_gap_s"),
    )


# --- engagement: DAU and trailing-7-day WAU per day --------------------------
@register(
    "events_dau_wau",
    """
    WITH day_users AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ),
    days AS (SELECT DISTINCT d FROM day_users),
    spine_members AS (
      SELECT d AS spine_d, d - to_days(CAST(o.off AS INT)) AS d
      FROM days CROSS JOIN (SELECT unnest(range(0, 7)) AS off) o
    ),
    wau AS (
      SELECT sm.spine_d AS d, COUNT(DISTINCT du.user_id) AS wau
      FROM spine_members sm JOIN day_users du ON du.d = sm.d
      GROUP BY sm.spine_d
    ),
    dau AS (SELECT d, COUNT(*) AS dau FROM day_users GROUP BY d)
    SELECT CAST(dau.d AS TIMESTAMP) AS day,
           dau.dau,
           wau.wau,
           round(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
    FROM dau JOIN wau ON dau.d = wau.d
    """,
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement rollup: daily active users, trailing-7-day weekly actives,
    and the DAU/WAU stickiness ratio. COUNT(DISTINCT) over a sliding
    window isn't a window aggregate Spark supports, so the scale-correct
    formulation is the one here: dedupe to (day, user) first (shrinks the
    fact to activity cardinality), then range-join the day spine to its
    trailing week — a spine-sized join, 7x activity fan-out, one distinct
    count per day. At 100 TB the (day, user) table is the thing you
    materialize; everything after is spine-scale."""
    e = table(spark, sf_dir, "events")
    # pinned (not cached): the trailing-week join would reuse the distinct's
    # shuffle, but Catalyst rebuilds the day spine from a second scan of
    # the fact; the pin keeps it at one scan
    day_users = (
        e.select(F.to_date("ts").alias("d"), "user_id")
        .distinct()
        .localCheckpoint(eager=False)
    )
    days = day_users.select("d").distinct()
    dau = day_users.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    # trailing-week membership as an EQUI-join: explode each spine day into
    # its 7 member days — a hash join at any scale, where the BETWEEN
    # formulation planned a broadcast nested loop
    spine_members = days.select(
        F.col("d").alias("spine_d"),
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
    ).select("spine_d", F.date_sub(F.col("spine_d"), F.col("off")).alias("d"))
    wau = (
        spine_members.join(day_users, "d")
        .groupBy("spine_d")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, dau.d == wau.spine_d)
        .select(
            F.col("d").cast("timestamp").alias("day"),
            "dau",
            "wau",
            F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias("stickiness"),
        )
    )


# --- sliding event-time windows (1 hour window, 15 minute slide) -------------
@register(
    "events_sliding_windows",
    """
    WITH member AS (
      SELECT event_type, user_id,
             CAST(to_timestamp((epoch_us(ts) // 1000000 // 900) * 900 - k.k * 900) AS TIMESTAMP) AS window_start
      FROM events CROSS JOIN (SELECT unnest(range(0, 4)) AS k) k
    )
    SELECT window_start, event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM member
    GROUP BY window_start, event_type
    """,
)
def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (1 h length, 15 min slide) — the
    overlapping-window aggregate behind rate monitors and rolling SLO
    panels; each event belongs to exactly window/slide = 4 windows, which
    Spark's window() plans as a 4x Expand before ONE hash aggregate (no
    self-joins). The oracle materializes the same 4-window membership with
    integer epoch arithmetic (epoch-aligned starts, identical on both
    engines)."""
    e = table(spark, sf_dir, "events")
    agg = (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )
    return agg.select(
        F.col("w.start").alias("window_start"), "event_type", "n_events", "n_users"
    )


# --- event-type transition matrix (round 4) ---------------------------------
@register(
    "events_type_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n_transitions,
           CAST(n_transitions AS DOUBLE)
             / SUM(n_transitions) OVER (PARTITION BY prev_type) AS p_next
    FROM trans
    ORDER BY prev_type ASC, next_type ASC
    """,
)
def events_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    P(next event type | current event type), the feature a behavioral model
    or session-simulator trains on, and the drift monitor a product team
    watches (a falling view->purchase edge is a funnel regression).

    Scale shape: the lag window shuffles once on user_id (the same partition
    key every other per-user query uses), the matrix is a 2-key hash agg of
    at most |types|^2 rows, and the row-normalization is a window over that
    tiny aggregate — no joins, no second corpus shuffle. p_next is a
    division of exact counts, so it is bitwise identical in the oracle.
    """
    e = table(spark, sf_dir, "events")
    seq = e.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ).alias("prev_type"),
    )
    trans = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type"), F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    return (
        trans.select(
            "prev_type",
            "next_type",
            "n_transitions",
            (
                F.col("n_transitions").cast("double")
                / F.sum("n_transitions").over(Window.partitionBy("prev_type"))
            ).alias("p_next"),
        )
        .orderBy(F.col("prev_type").asc(), F.col("next_type").asc())
    )


# --- session path mining (round 4) ------------------------------------------
PATH_MAX_EVENTS = 8


@register(
    "events_session_paths",
    f"""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessioned AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(SUM(is_new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM ordered
    ),
    paths AS (
      SELECT user_id, session_id,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path,
             COUNT(*) AS n_events
      FROM sessioned
      GROUP BY user_id, session_id
      HAVING COUNT(*) <= {PATH_MAX_EVENTS}
    )
    SELECT path,
           COUNT(*) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS total_events
    FROM paths
    GROUP BY path
    ORDER BY n_sessions DESC, path ASC
    LIMIT 20
    """,
)
def events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey mining: the most common complete session paths (ordered
    event-type sequences within a 30-min-gap session), the input to funnel
    redesign and to sequence-model training data. Sessions longer than
    PATH_MAX_EVENTS are excluded — long tails are unique-by-construction
    and would only add noise rows (and unbounded string keys at scale).

    Scale shape: reuses the sessionization shuffle (user_id), builds each
    path with an order-pinned in-group sort (sort_array over (ts, event_id,
    type) structs — deterministic regardless of arrival order), then one
    hash agg on the path string. The HAVING bound also caps the groupBy key
    width, so path cardinality stays controllable at any corpus size.
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    ordered = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(gap_us > 1_800_000_000, 1)
        .when(F.lag("ts").over(w).isNull(), 1)
        .otherwise(0)
        .alias("is_new_session"),
    )
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sessioned = ordered.withColumn("session_id", F.sum("is_new_session").over(wcum))
    paths = (
        sessioned.groupBy("user_id", "session_id")
        .agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda x: x.event_type,
                ),
            ).alias("path"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .filter(F.col("n_events") <= PATH_MAX_EVENTS)
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("total_events"),
        )
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(20)
    )


# --- watermark-delay calibration: out-of-orderness audit ---------------------
@register(
    "events_watermark_lateness",
    """
    WITH ordered AS (
      SELECT user_id,
             (epoch_us(MAX(ts) OVER (PARTITION BY user_id ORDER BY event_id ASC
                                     ROWS UNBOUNDED PRECEDING))
              - epoch_us(ts)) / 1000000.0 AS late_s
      FROM events
    )
    SELECT COUNT(*) AS n_events,
           round(quantile_cont(late_s, 0.50), 3) AS p50_late_s,
           round(quantile_cont(late_s, 0.90), 3) AS p90_late_s,
           round(quantile_cont(late_s, 0.99), 3) AS p99_late_s,
           round(MAX(late_s), 3) AS max_late_s,
           FLOOR(CAST(SUM(CASE WHEN late_s > 30 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*) * 1000000 + 0.5) / 1000000 AS frac_late_over_30s
    FROM ordered
    """,
)
def events_watermark_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness profile of the event stream — the number a
    Structured Streaming deployment needs BEFORE choosing
    `withWatermark(delay)`: per event, how far its event-time lags the
    running event-time high-water-mark of its arrival order (event_id
    within user). p99 lateness IS the watermark delay that loses <1% of
    late rows to the state-eviction cutoff; frac_late_over_30s prices a
    specific candidate delay. Keyed running-max window (one shuffle on
    user_id), then one global percentile aggregate over the lateness
    column. Exact integer microsecond arithmetic (epoch_us both engines)
    divided to seconds before any rounding."""
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    late = e.select(
        (
            (F.unix_micros(F.max("ts").over(w)) - F.unix_micros(F.col("ts")))
            / 1000000.0
        ).alias("late_s")
    )
    return late.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.percentile("late_s", F.lit(0.50)), 3).alias("p50_late_s"),
        F.round(F.percentile("late_s", F.lit(0.90)), 3).alias("p90_late_s"),
        F.round(F.percentile("late_s", F.lit(0.99)), 3).alias("p99_late_s"),
        F.round(F.max("late_s"), 3).alias("max_late_s"),
        (
            F.floor(
                F.sum(F.when(F.col("late_s") > 30, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
                * 1000000
                + F.lit(0.5)
            )
            / 1000000
        ).alias("frac_late_over_30s"),
    )


# --- CUSUM level-shift detection over the daily event volume ----------------
@register(
    "events_cusum_changepoints",
    """
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day, COUNT(*) AS cnt
      FROM events GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total, COUNT(*) AS nd FROM daily),
    cus AS (
      SELECT day, cnt,
             SUM(cnt * tot.nd - tot.total) OVER (ORDER BY day ASC
               ROWS UNBOUNDED PRECEDING) AS cusum_scaled,
             tot.nd AS nd
      FROM daily CROSS JOIN tot
    )
    SELECT day, cnt AS daily_events,
           FLOOR(CAST(cusum_scaled AS DOUBLE) / nd * 1000 + 0.5) / 1000 AS cusum,
           CAST(abs(cusum_scaled) AS BIGINT) AS abs_cusum_scaled
    FROM cus
    ORDER BY abs(cusum_scaled) DESC, day ASC
    LIMIT 10
    """,
)
def events_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint surfacing on the daily event-volume series: the
    cumulative sum of deviations from the series mean peaks exactly where
    the level shifts — the standard sequential drift detector, here over
    the aggregated day series (events_error_spikes finds hour OUTLIERS;
    this finds sustained SHIFTS a z-score misses). Top-10 days by |CUSUM|.

    Exactness trick: instead of cnt - mean (an order-dependent double
    fold), the running sum accumulates cnt*n_days - total — integers, so
    the cumulative window is exact and both engines agree bitwise; the
    display value divides back to the conventional scale at the end."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = daily.agg(
        F.sum("cnt").cast("bigint").alias("total"), F.count(F.lit(1)).alias("nd")
    )
    w = Window.orderBy(F.col("day").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cus = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        "cnt",
        F.sum(F.col("cnt") * F.col("nd") - F.col("total")).over(w).alias("cusum_scaled"),
        "nd",
    )
    return (
        cus.select(
            "day",
            F.col("cnt").alias("daily_events"),
            (
                F.floor(
                    F.col("cusum_scaled").cast("double") / F.col("nd") * 1000
                    + F.lit(0.5)
                )
                / 1000
            ).alias("cusum"),
            F.abs("cusum_scaled").cast("bigint").alias("abs_cusum_scaled"),
        )
        .orderBy(F.col("abs_cusum_scaled").desc(), F.col("day").asc())
        .limit(10)
    )


# --- behavioral entropy per user (engagement-diversity feature) -------------
@register(
    "events_user_entropy",
    """
    WITH pertype AS (
      SELECT user_id, event_type, COUNT(*) AS c
      FROM events GROUP BY user_id, event_type
    ),
    peruser AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS n FROM pertype GROUP BY user_id),
    ent AS (
      SELECT p.user_id, u.n,
             CAST(SUM(CAST(FLOOR(
               -1.0 * (CAST(p.c AS DOUBLE) / u.n) * ln(CAST(p.c AS DOUBLE) / u.n)
               * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6))) AS DOUBLE) AS h,
             COUNT(*) AS n_types
      FROM pertype p JOIN peruser u USING (user_id)
      GROUP BY p.user_id, u.n
    )
    SELECT user_id, n AS n_events, CAST(n_types AS BIGINT) AS n_types,
           h AS entropy_nats
    FROM ent
    ORDER BY entropy_nats DESC, user_id ASC
    LIMIT 25
    """,
)
def events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type mix — the behavioral-
    diversity feature (bots and single-purpose scripts sit near 0; engaged
    users spread mass across types). Top-25 most-diverse users. Two keyed
    hash aggregates; each -p*ln(p) term is 6-dp portable-rounded before
    the order-independent exact-decimal sum, so per-user entropies match
    the oracle bitwise (same convention as quality_model_scores)."""
    e = table(spark, sf_dir, "events")
    pertype = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    peruser = pertype.groupBy("user_id").agg(F.sum("c").cast("bigint").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    term = (
        F.floor(-1.0 * p * F.log(p) * 1000000 + F.lit(0.5)) / 1000000
    ).cast("decimal(18,6)")
    ent = (
        pertype.join(peruser, "user_id")
        .select("user_id", "n", term.alias("t"))
        .groupBy("user_id", "n")
        .agg(F.sum("t").cast("double").alias("h"), F.count(F.lit(1)).alias("n_types"))
    )
    return (
        ent.select(
            "user_id",
            F.col("n").alias("n_events"),
            F.col("n_types").cast("bigint").alias("n_types"),
            F.col("h").alias("entropy_nats"),
        )
        .orderBy(F.col("entropy_nats").desc(), F.col("user_id").asc())
        .limit(25)
    )


# --- multi-touch attribution: first- vs last-touch revenue credit -----------
# The canonical product-analytics question over a clickstream: which touch
# channel gets credit for each conversion? For every purchase, find the
# user's first and last touch (click/view) inside a 7-day lookback and
# credit the purchase value to that touch's type under each attribution
# model. Implementation is ONE pass, no self-join: per-user RANGE window
# over integer epoch micros; the windowed argmin/argmax is made portable by
# encoding each touch as a zero-padded sortable string
# "epoch:event_id:type" — lexicographic MIN/MAX == (epoch, event_id) argmin
# /argmax on both engines, ties included identically by RANGE-frame peer
# semantics. At 100 TB this is a single shuffle on user_id (the same
# partitioning every other per-user query uses) and the frame is bounded by
# the lookback, so state per row is O(1).
ATTR_LOOKBACK_US = 7 * 86400 * 1000000


@register(
    "events_attribution_credit",
    f"""
    WITH keyed AS (
      SELECT user_id, event_type, value, epoch_us(ts) AS ep, event_id,
             CASE WHEN event_type IN ('click', 'view')
                  THEN lpad(CAST(epoch_us(ts) AS VARCHAR), 16, '0') || ':'
                       || lpad(CAST(event_id AS VARCHAR), 10, '0') || ':'
                       || event_type
             END AS touch_key
      FROM events
    ),
    windowed AS (
      SELECT user_id, event_type, value,
             min(touch_key) OVER (
               PARTITION BY user_id ORDER BY ep
               RANGE BETWEEN {ATTR_LOOKBACK_US} PRECEDING AND CURRENT ROW
             ) AS first_key,
             max(touch_key) OVER (
               PARTITION BY user_id ORDER BY ep
               RANGE BETWEEN {ATTR_LOOKBACK_US} PRECEDING AND CURRENT ROW
             ) AS last_key
      FROM keyed
    ),
    purchases AS (
      SELECT value,
             COALESCE(string_split(first_key, ':')[3], 'unattributed')
               AS first_touch,
             COALESCE(string_split(last_key, ':')[3], 'unattributed')
               AS last_touch
      FROM windowed WHERE event_type = 'purchase'
    ),
    credited AS (
      SELECT 'first_touch' AS model, first_touch AS channel, value
      FROM purchases
      UNION ALL
      SELECT 'last_touch' AS model, last_touch AS channel, value
      FROM purchases
    )
    SELECT model, channel,
           COUNT(*) AS n_purchases,
           {dsum_sql('value')} AS revenue
    FROM credited
    GROUP BY model, channel
    ORDER BY model, channel
    """,
)
def events_attribution_credit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch vs last-touch attribution of purchase revenue to the
    click/view channel inside a 7-day lookback — one per-user RANGE window,
    portable argmin/argmax via sortable key encoding, exact-decimal sums."""
    e = table(spark, sf_dir, "events")
    is_touch = F.col("event_type").isin("click", "view")
    keyed = e.select(
        "user_id",
        "event_type",
        "value",
        F.unix_micros("ts").alias("ep"),
        "event_id",
    ).withColumn(
        "touch_key",
        F.when(
            is_touch,
            F.concat_ws(
                ":",
                F.lpad(F.col("ep").cast("string"), 16, "0"),
                F.lpad(F.col("event_id").cast("string"), 10, "0"),
                F.col("event_type"),
            ),
        ),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ep")
        .rangeBetween(-ATTR_LOOKBACK_US, 0)
    )
    windowed = keyed.select(
        "event_type",
        "value",
        F.min("touch_key").over(w).alias("first_key"),
        F.max("touch_key").over(w).alias("last_key"),
    )
    split_type = lambda c: F.coalesce(  # noqa: E731
        F.split(F.col(c), ":").getItem(2), F.lit("unattributed")
    )
    purchases = windowed.filter(F.col("event_type") == "purchase").select(
        "value",
        split_type("first_key").alias("first_touch"),
        split_type("last_key").alias("last_touch"),
    )
    credited = purchases.select(
        F.lit("first_touch").alias("model"),
        F.col("first_touch").alias("channel"),
        "value",
    ).unionAll(
        purchases.select(
            F.lit("last_touch").alias("model"),
            F.col("last_touch").alias("channel"),
            "value",
        )
    )
    return (
        credited.groupBy("model", "channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            dsum("value", "revenue"),
        )
        .orderBy("model", "channel")
    )


# --- A/B experiment readout: Welch z on per-user revenue --------------------
# The standard experimentation query: users are deterministically hashed
# into control/treatment (same md5-bucket convention as the sampling
# family — assignment reproducible on any engine, stable under
# repartition) and the primary metric is per-user purchase revenue. The
# readout is the Welch z statistic over the two arm means. All moments
# (sum, sum of squares of integer cents) are exact DECIMAL(38,0) integers,
# so means/variances are ratios of exact integers — the only doubles are
# the final divisions and sqrt (correctly-rounded IEEE), 6-dp-quantized.
# Note on the metric choice: a conversion-proportion z-test degenerates on
# this corpus (user cardinality is tiny at small sf and every user
# purchases, so the pooled variance is 0); a mean-revenue test is the shape
# real readouts use anyway.
# Distributed shape: one per-user agg (shuffle on user_id), one per-arm
# agg, then an intentional single-row readout combine.
@register(
    "events_ab_readout",
    """
    WITH users AS (
      SELECT user_id,
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 2) < '80'
                  THEN 'A' ELSE 'B' END AS arm,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                           ELSE 0 END) AS DECIMAL(38,0)) AS cents
      FROM events
      GROUP BY user_id
    ),
    arms AS (
      SELECT arm,
             CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
             SUM(cents) AS sx,
             SUM(cents * cents) AS sxx
      FROM users GROUP BY arm
    ),
    wide AS (
      SELECT
        MAX(CASE WHEN arm = 'A' THEN n END) AS na,
        MAX(CASE WHEN arm = 'A' THEN sx END) AS sxa,
        MAX(CASE WHEN arm = 'A' THEN sxx END) AS sxxa,
        MAX(CASE WHEN arm = 'B' THEN n END) AS nb,
        MAX(CASE WHEN arm = 'B' THEN sx END) AS sxb,
        MAX(CASE WHEN arm = 'B' THEN sxx END) AS sxxb
      FROM arms
    )
    SELECT CAST(na AS BIGINT) AS a_users,
           CAST(nb AS BIGINT) AS b_users,
           FLOOR(CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE) / 100 * 1000000
                 + 0.5) / 1000000 AS a_mean_revenue,
           FLOOR(CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE) / 100 * 1000000
                 + 0.5) / 1000000 AS b_mean_revenue,
           FLOOR((CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE)
                  - CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE))
                 / sqrt(
                     CAST(na * sxxa - sxa * sxa AS DOUBLE)
                       / (CAST(na AS DOUBLE) * CAST(na AS DOUBLE)
                          * CAST(na - 1 AS DOUBLE))
                     + CAST(nb * sxxb - sxb * sxb AS DOUBLE)
                       / (CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE)
                          * CAST(nb - 1 AS DOUBLE)))
                 * 1000000 + 0.5) / 1000000 AS z_score
    FROM wide
    """,
)
def events_ab_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment readout: md5-hash arm assignment, per-user purchase
    revenue as the primary metric, Welch z over the arm means from exact
    integer-cent moments (6-dp portable rounding on the final doubles)."""
    e = table(spark, sf_dir, "events")
    cents = F.sum(
        F.when(
            F.col("event_type") == "purchase",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
        ).otherwise(F.lit(0))
    ).cast("decimal(38,0)")
    users = (
        e.groupBy("user_id")
        .agg(cents.alias("cents"))
        .withColumn(
            "arm",
            F.when(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 2) < "80",
                "A",
            ).otherwise("B"),
        )
    )
    arms = users.groupBy("arm").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("cents").cast("decimal(38,0)").alias("sx"),
        F.sum(F.col("cents") * F.col("cents")).cast("decimal(38,0)").alias("sxx"),
    )
    pick = lambda a, c: F.max(F.when(F.col("arm") == a, F.col(c)))  # noqa: E731
    wide = arms.agg(
        pick("A", "n").alias("na"),
        pick("A", "sx").alias("sxa"),
        pick("A", "sxx").alias("sxxa"),
        pick("B", "n").alias("nb"),
        pick("B", "sx").alias("sxb"),
        pick("B", "sxx").alias("sxxb"),
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    ma = dbl("sxa") / dbl("na")
    mb = dbl("sxb") / dbl("nb")
    var_term = lambda n, sx, sxx: (  # noqa: E731
        (F.col(n) * F.col(sxx) - F.col(sx) * F.col(sx)).cast("double")
        / (dbl(n) * dbl(n) * (F.col(n) - 1).cast("double"))
    )
    se = F.sqrt(var_term("na", "sxa", "sxxa") + var_term("nb", "sxb", "sxxb"))
    q6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return wide.select(
        F.col("na").cast("long").alias("a_users"),
        F.col("nb").cast("long").alias("b_users"),
        q6(ma / 100).alias("a_mean_revenue"),
        q6(mb / 100).alias("b_mean_revenue"),
        q6((ma - mb) / se).alias("z_score"),
    )


# --- Kaplan-Meier retention curve (right-censored) --------------------------
# "How long do customers stay?" answered properly: naive lifetime curves
# are biased because recently-acquired customers haven't had TIME to churn
# yet. The Kaplan-Meier estimator handles that with right-censoring: a
# customer whose last order is within CENSOR_DAYS of the observation edge
# is 'still alive', contributing to risk sets but not to deaths. Lifetime
# is integer days between a customer's first and last order; survival S(t)
# is the running product of (1 - d_t/n_t) over death times. (Run on the
# orders fact rather than the events feed: the synthetic event stream keeps
# every user active to the edge, so there ALL users are censored and the
# curve is empty — the orders table has real churn.)
#
# Distributed shape: one per-customer agg (shuffle on o_custkey), one
# per-lifetime agg (<= observation-window rows), one tiny window cumsum —
# the curve is computed from counts, never from customer rows. Portability:
# d_t/n_t is one IEEE division of exact integers; the running product is
# carried as a cumulative sum of 9-dp-rounded log factors in exact decimal
# (libm ln's last-ulp spread absorbed by the round — the KL-divergence
# convention), exponentiated once and 6-dp-quantized.
CENSOR_DAYS = 90


@register(
    "customer_survival_curve",
    f"""
    WITH days AS (
      SELECT o_custkey, epoch_us(o_orderdate) // 86400000000 AS day
      FROM orders
    ),
    bounds AS (SELECT MAX(day) AS max_day FROM days),
    custs AS (
      SELECT o_custkey, MIN(day) AS first_day, MAX(day) AS last_day
      FROM days GROUP BY o_custkey
    ),
    lifetimes AS (
      SELECT CAST(c.last_day - c.first_day AS BIGINT) AS lifetime,
             CASE WHEN b.max_day - c.last_day < {CENSOR_DAYS}
                  THEN 1 ELSE 0 END AS censored
      FROM custs c CROSS JOIN bounds b
    ),
    by_t AS (
      SELECT lifetime,
             CAST(SUM(1 - censored) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS ending
      FROM lifetimes GROUP BY lifetime
    ),
    risk AS (
      SELECT lifetime, d,
             CAST(CAST((SELECT COUNT(*) FROM lifetimes) AS BIGINT)
               - (SUM(ending) OVER (ORDER BY lifetime
                                    ROWS UNBOUNDED PRECEDING) - ending)
               AS BIGINT) AS n_at_risk
      FROM by_t
    ),
    factors AS (
      SELECT lifetime, d, n_at_risk,
             CAST(FLOOR(ln(1 - CAST(d AS DOUBLE) / n_at_risk) * 1000000000
                        + 0.5) AS DECIMAL(28,0)) AS logf9
      FROM risk
      WHERE d > 0 AND d < n_at_risk
    )
    SELECT lifetime, d AS n_churned, n_at_risk,
           FLOOR(exp(CAST(SUM(logf9) OVER (ORDER BY lifetime
                                           ROWS UNBOUNDED PRECEDING)
                          AS DOUBLE) / 1000000000) * 1000000 + 0.5)
             / 1000000 AS survival
    FROM factors
    ORDER BY lifetime
    """,
)
def customer_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier customer-retention curve with right-censoring at the
    observation edge — per-lifetime churn counts, risk sets via one window
    cumsum, survival as an exact-decimal cumulative log product.

    Death times where every remaining customer churns at once
    (d = n_at_risk, survival exactly 0) are excluded from the curve rows —
    ln(0) — which at most drops the final collapse point; the counts
    columns still report it upstream."""
    o = table(spark, sf_dir, "orders")
    day = F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
    custs = o.groupBy("o_custkey").agg(
        F.min(day).alias("first_day"), F.max(day).alias("last_day")
    )
    max_day = custs.agg(F.max("last_day").alias("max_day"))
    lifetimes = custs.crossJoin(F.broadcast(max_day)).select(
        (F.col("last_day") - F.col("first_day")).cast("long").alias("lifetime"),
        F.when(
            F.col("max_day") - F.col("last_day") < CENSOR_DAYS, F.lit(1)
        ).otherwise(F.lit(0)).alias("censored"),
    )
    n_total = lifetimes.agg(F.count(F.lit(1)).alias("n_total"))
    by_t = lifetimes.groupBy("lifetime").agg(
        F.sum(F.lit(1) - F.col("censored")).cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("ending"),
    )
    w = Window.orderBy("lifetime").rowsBetween(Window.unboundedPreceding, 0)
    risk = by_t.crossJoin(F.broadcast(n_total)).select(
        "lifetime",
        "d",
        (
            F.col("n_total")
            - (F.sum("ending").over(w) - F.col("ending"))
        ).cast("long").alias("n_at_risk"),
    )
    logf9 = F.floor(
        F.log(F.lit(1) - F.col("d").cast("double") / F.col("n_at_risk"))
        * 1000000000
        + F.lit(0.5)
    ).cast("decimal(28,0)")
    factors = risk.filter(
        (F.col("d") > 0) & (F.col("d") < F.col("n_at_risk"))
    ).withColumn("logf9", logf9)
    surv = F.floor(
        F.exp(F.sum("logf9").over(w).cast("double") / 1000000000) * 1000000
        + F.lit(0.5)
    ) / 1000000
    return factors.select(
        "lifetime",
        F.col("d").alias("n_churned"),
        "n_at_risk",
        surv.alias("survival"),
    ).orderBy("lifetime")


# --- peak concurrency: sweep-line over session intervals --------------------
# Capacity planning's first question: how many sessions are EVER active at
# once? Answered exactly by the sweep line: explode each session interval
# into a (+1 at start, -1 after end) event pair, order by time, and the
# running sum IS the concurrency curve; its per-day max is the sizing
# number. Sessions come from the same 30-minute-gap islands as
# events_sessions. The running sum is one window over 2x sessions rows
# (tiny vs the event scan); ties resolve identically on both engines
# because the order key includes the delta. Intervals are CLOSED (the -1
# lands at end+1, so a session ending at t is still active at t): two
# sessions touching at one instant count as concurrent — the conservative
# reading for capacity sizing; the planted test pins this.
@register(
    "events_peak_concurrency",
    """
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessioned AS (
      SELECT user_id, ts,
             SUM(is_new_session) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS session_no
      FROM ordered
    ),
    intervals AS (
      SELECT user_id, session_no,
             MIN(epoch_us(ts)) AS s, MAX(epoch_us(ts)) AS e
      FROM sessioned GROUP BY user_id, session_no
    ),
    sweep AS (
      SELECT s AS t, 1 AS delta FROM intervals
      UNION ALL
      SELECT e + 1 AS t, -1 AS delta FROM intervals
    ),
    curve AS (
      SELECT t, delta,
             CAST(SUM(delta) OVER (ORDER BY t, delta
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS concurrent
      FROM sweep
    )
    SELECT CAST(to_timestamp((t // 1000000 // 86400) * 86400) AS TIMESTAMP)
             AS day,
           MAX(concurrent) AS peak_concurrent,
           CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS sessions_started
    FROM curve
    GROUP BY 1
    ORDER BY day
    """,
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day peak concurrent sessions via an exact sweep line over
    30-minute-gap session intervals, plus sessions started that day."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    ordered = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap > 1800000000, 1)
        .when(F.lag("ts").over(w).isNull(), 1)
        .otherwise(0)
        .alias("is_new_session"),
    )
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    sessioned = ordered.select(
        "user_id", "ts", F.sum("is_new_session").over(wc).alias("session_no")
    )
    intervals = sessioned.groupBy("user_id", "session_no").agg(
        F.min(F.unix_micros("ts")).alias("s"), F.max(F.unix_micros("ts")).alias("e")
    )
    sweep = intervals.select(F.col("s").alias("t"), F.lit(1).alias("delta")).unionAll(
        intervals.select((F.col("e") + 1).alias("t"), F.lit(-1).alias("delta"))
    )
    # exact sweep-line cumulation WITHOUT a single-partition global window:
    # range-partitioned prefix sum over (t, delta) — -1 ends sort before +1
    # starts at the same instant, ties among identical (t, delta) rows are
    # value-identical so the cumulative multiset is deterministic
    from fpl_data_pipeline_spark.plans.scale_primitives import global_prefix_sums

    curve = global_prefix_sums(
        sweep, [F.col("t").asc(), F.col("delta").asc()], "delta", "concurrent"
    ).withColumn("concurrent", F.col("concurrent").cast("long"))
    day = F.expr("cast(to_timestamp((t div 1000000 div 86400) * 86400) as timestamp)")
    return (
        curve.groupBy(day.alias("day"))
        .agg(
            F.max("concurrent").alias("peak_concurrent"),
            F.sum((F.col("delta") == 1).cast("long")).alias("sessions_started"),
        )
        .orderBy("day")
    )


# --- conversion latency: signup -> first purchase ---------------------------
# The activation metric: how long from signup to first purchase? Exact
# discrete percentiles (the ordered_set_aggs convention: the value AT rank
# ceil(p*n), no interpolation — engine-identical) over per-user latencies;
# users who signed up but never purchased are reported as the
# never-converted count (the denominator honesty every activation report
# needs). One per-user agg, one tiny percentile pass.
@register(
    "events_conversion_latency",
    """
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS su,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS fp
      FROM events GROUP BY user_id
    ),
    converted AS (
      SELECT (fp - su) // 1000000 AS latency_s
      FROM per_user WHERE su IS NOT NULL AND fp IS NOT NULL AND fp >= su
    ),
    ranked AS (
      SELECT latency_s,
             ROW_NUMBER() OVER (ORDER BY latency_s) AS r,
             COUNT(*) OVER () AS n
      FROM converted
    ),
    pcts AS (
      SELECT p,
             MIN(CASE WHEN r >= CAST(CEIL(p * n / 100.0) AS BIGINT)
                      THEN latency_s END) AS latency_s
      FROM ranked
      CROSS JOIN (SELECT unnest([50, 90, 99]) AS p)
      GROUP BY p
    )
    SELECT CAST(p AS BIGINT) AS percentile, latency_s,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM converted) AS n_converted,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM per_user
             WHERE su IS NOT NULL AND (fp IS NULL OR fp < su))
             AS n_not_converted
    FROM pcts
    ORDER BY percentile
    """,
)
def events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 signup-to-first-purchase latency (exact discrete
    percentiles) plus converted / not-converted user counts."""
    e = table(spark, sf_dir, "events")
    ep = F.unix_micros("ts")
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", ep)).alias("su"),
        F.min(F.when(F.col("event_type") == "purchase", ep)).alias("fp"),
    )
    converted = per_user.filter(
        F.col("su").isNotNull() & F.col("fp").isNotNull() & (F.col("fp") >= F.col("su"))
    ).select(F.expr("(fp - su) div 1000000").alias("latency_s"))
    n_conv = converted.count()
    n_not = per_user.filter(
        F.col("su").isNotNull()
        & (F.col("fp").isNull() | (F.col("fp") < F.col("su")))
    ).count()
    # percentile ranks via the range-partitioned global numbering (no
    # single-partition sort of the converted-user set); n is already
    # counted above, so it rides a literal instead of a global count window
    from fpl_data_pipeline_spark.plans.scale_primitives import global_row_numbers

    ranked = (
        global_row_numbers(converted, [F.col("latency_s").asc()])
        .withColumnRenamed("global_rn", "r")
        .withColumn("n", F.lit(n_conv).cast("long"))
    )
    pcts = spark.createDataFrame([(50,), (90,), (99,)], "p int")
    out = (
        ranked.crossJoin(F.broadcast(pcts))
        .groupBy("p")
        .agg(
            F.min(
                F.when(
                    F.col("r") >= F.ceil(F.col("p") * F.col("n") / 100.0).cast("long"),
                    F.col("latency_s"),
                )
            ).alias("latency_s")
        )
    )
    return out.select(
        F.col("p").cast("long").alias("percentile"),
        "latency_s",
        F.lit(n_conv).cast("long").alias("n_converted"),
        F.lit(n_not).cast("long").alias("n_not_converted"),
    ).orderBy("percentile")


# --- SLO error-budget burn rate (multi-window alert) ------------------------
# The SRE-workbook alerting shape: alert when the error-budget BURN RATE
# (observed error ratio / budgeted error ratio) is high in BOTH a short
# and a long window — fast windows catch fresh incidents, the long window
# suppresses blips. Here: SLO 95% non-error events, short = 1 h, long =
# 6 h (rolling via a RANGE frame over integer epoch-hours, so frames are
# event-time-correct even with missing hours). Ratios are exact-integer
# divisions, 6-dp-quantized; the page condition is burn > 2 in both
# windows.
SLO_ERR_BUDGET_NUM, SLO_ERR_BUDGET_DEN = 5, 100  # 5% budget, exact rational


@register(
    "events_slo_burn",
    f"""
    WITH hourly AS (
      SELECT epoch_us(ts) // 3600000000 AS h,
             COUNT(*) AS n,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS e
      FROM events GROUP BY 1
    ),
    windowed AS (
      SELECT h, n, e,
             CAST(SUM(n) OVER w6 AS BIGINT) AS n6,
             CAST(SUM(e) OVER w6 AS BIGINT) AS e6
      FROM hourly
      WINDOW w6 AS (ORDER BY h RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(to_timestamp(h * 3600) AS TIMESTAMP) AS hour_start,
           n AS events_1h, e AS errors_1h,
           FLOOR(CAST(e AS DOUBLE) / n * {SLO_ERR_BUDGET_DEN}
                 / {SLO_ERR_BUDGET_NUM} * 1000000 + 0.5) / 1000000
             AS burn_1h,
           FLOOR(CAST(e6 AS DOUBLE) / n6 * {SLO_ERR_BUDGET_DEN}
                 / {SLO_ERR_BUDGET_NUM} * 1000000 + 0.5) / 1000000
             AS burn_6h,
           CASE WHEN CAST(e AS DOUBLE) / n * {SLO_ERR_BUDGET_DEN}
                     / {SLO_ERR_BUDGET_NUM} > 2
                 AND CAST(e6 AS DOUBLE) / n6 * {SLO_ERR_BUDGET_DEN}
                     / {SLO_ERR_BUDGET_NUM} > 2
                THEN 1 ELSE 0 END AS page
    FROM windowed
    ORDER BY hour_start
    """,
)
def events_slo_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window error-budget burn rates per hour (1 h + rolling 6 h
    RANGE frame over epoch-hours) with the page-when-both-burn>2 flag."""
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(F.expr("unix_micros(ts) div 3600000000").alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("e"),
    )
    w6 = Window.orderBy("h").rangeBetween(-5, 0)
    windowed = hourly.select(
        "h",
        "n",
        "e",
        F.sum("n").over(w6).cast("long").alias("n6"),
        F.sum("e").over(w6).cast("long").alias("e6"),
    )
    budget = float(SLO_ERR_BUDGET_DEN) / SLO_ERR_BUDGET_NUM
    burn1 = F.col("e").cast("double") / F.col("n") * budget
    burn6 = F.col("e6").cast("double") / F.col("n6") * budget
    q6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return windowed.select(
        F.expr("cast(to_timestamp(h * 3600) as timestamp)").alias("hour_start"),
        F.col("n").alias("events_1h"),
        F.col("e").alias("errors_1h"),
        q6(burn1).alias("burn_1h"),
        q6(burn6).alias("burn_6h"),
        F.when((burn1 > 2) & (burn6 > 2), 1).otherwise(0).alias("page"),
    ).orderBy("hour_start")


# --- sequence pattern matching (MATCH_RECOGNIZE emulation) -------------------
# SQL:2016 MATCH_RECOGNIZE finds ordered row patterns inside partitions;
# Spark has no native operator, but fixed-length patterns compile to LEAD
# chains over the per-user event order — each pattern row becomes "this
# event matches step 1 AND the next matches step 2 AND ...", a pure window
# projection (one shuffle on user_id, zero joins). The canonical funnel
# pattern here: a STRICTLY CONSECUTIVE view -> click -> purchase run (no
# intervening events — stricter than events_funnel's eventually-ordered
# semantics), plus the same-session constraint (gaps < 30 min between
# steps).
@register(
    "events_pattern_matches",
    """
    WITH ordered AS (
      SELECT user_id, event_type, epoch_us(ts) AS ep,
             LEAD(event_type, 1) OVER w AS t1,
             LEAD(event_type, 2) OVER w AS t2,
             LEAD(epoch_us(ts), 1) OVER w AS ep1,
             LEAD(epoch_us(ts), 2) OVER w AS ep2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    matches AS (
      SELECT user_id
      FROM ordered
      WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
        AND ep1 - ep <= 1800000000 AND ep2 - ep1 <= 1800000000
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM matches
    """,
)
def events_pattern_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-consecutive view->click->purchase pattern matches within
    session gaps — MATCH_RECOGNIZE compiled to a LEAD chain."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ep = F.unix_micros("ts")
    ordered = e.select(
        "user_id",
        "event_type",
        ep.alias("ep"),
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
        F.lead(ep, 1).over(w).alias("ep1"),
        F.lead(ep, 2).over(w).alias("ep2"),
    )
    m = ordered.filter(
        (F.col("event_type") == "view")
        & (F.col("t1") == "click")
        & (F.col("t2") == "purchase")
        & (F.col("ep1") - F.col("ep") <= 1800000000)
        & (F.col("ep2") - F.col("ep1") <= 1800000000)
    )
    return m.agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.countDistinct("user_id").alias("n_users"),
    )


# --- sliding-window distinct users via mergeable KMV partials ----------------
# "Distinct users in the last 6 hours, every hour" at 100 TB cannot
# re-scan 6 hours of events per window; the production answer is sketch
# PARTIALS: each hour materializes a bottom-k KMV sketch of its user ids
# (k smallest 48-bit hashes — plans/aggregates.py's kmv_distinct_union
# proved the sketch), and every window MERGES the 6 hourly sketches
# (union -> distinct -> k smallest: associative, order-free) instead of
# touching events again. Window cost: 6 arrays of <= k hashes per row.
# The query reports exact vs estimated distinct per window (exact side
# re-scans — affordable here, impossible at scale; the estimate column is
# the production path) with the realized relative error.
SLIDE_KMV_K = 64
SLIDE_WIN_HOURS = 6


@register(
    "events_sliding_distinct_kmv",
    f"""
    WITH hashed AS (
      SELECT epoch_us(ts) // 3600000000 AS h, user_id,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))
                  AS BIGINT) AS hv
      FROM events
    ),
    hourly AS (
      SELECT h,
             list_slice(list_sort(list_distinct(list(hv))), 1, {SLIDE_KMV_K})
               AS sk
      FROM hashed GROUP BY h
    ),
    windows AS (
      SELECT h,
             flatten(list(sk) OVER (ORDER BY h
                                    RANGE BETWEEN {SLIDE_WIN_HOURS - 1} PRECEDING
                                    AND CURRENT ROW)) AS merged
      FROM hourly
    ),
    sketched AS (
      SELECT h,
             list_slice(list_sort(list_distinct(merged)), 1, {SLIDE_KMV_K})
               AS sk
      FROM windows
    ),
    est AS (
      SELECT h,
             CASE WHEN len(sk) < {SLIDE_KMV_K}
                  THEN CAST(len(sk) AS DOUBLE)
                  ELSE FLOOR(({SLIDE_KMV_K} - 1) * 281474976710656.0
                             / sk[{SLIDE_KMV_K}] * 1000000 + 0.5) / 1000000
             END AS est_distinct
      FROM sketched
    ),
    exact AS (
      SELECT w.h, COUNT(DISTINCT e.user_id) AS exact_distinct
      FROM (SELECT DISTINCT h FROM hourly) w
      JOIN hashed e ON e.h BETWEEN w.h - {SLIDE_WIN_HOURS - 1} AND w.h
      GROUP BY w.h
    )
    SELECT CAST(to_timestamp(e.h * 3600) AS TIMESTAMP) AS window_end_hour,
           CAST(x.exact_distinct AS BIGINT) AS exact_distinct,
           e.est_distinct,
           FLOOR(abs(e.est_distinct - x.exact_distinct)
                 / x.exact_distinct * 1000000 + 0.5) / 1000000 AS rel_error
    FROM est e JOIN exact x ON x.h = e.h
    ORDER BY window_end_hour
    """,
)
def events_sliding_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 6-hour distinct-user estimates from merged hourly bottom-k
    KMV partials vs the exact re-scan, with realized relative error —
    the mergeable-sketch windowed rollup."""
    e = table(spark, sf_dir, "events")
    hv = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10
    ).cast("long")
    hashed = e.select(
        F.expr("unix_micros(ts) div 3600000000").alias("h"),
        "user_id",
        hv.alias("hv"),
    )
    # bounded-memory bottom-k build (round-5 10x probe caught the naive
    # shape growing 4.9x for 10x events): dedup (h, hv) by hash shuffle
    # first, then a TWO-PHASE bottom-k — per-(hour, shard) partial minima
    # (each group holds 1/32 of the hour's distinct hashes), merged over
    # <= 32*k elements per hour. Exact same k minima as the one-shot
    # collect, so the oracle and the estimator are unchanged; no stage
    # ever materializes a whole hour's hash population in one array.
    dedup = hashed.select("h", "hv").distinct()
    partial = dedup.groupBy("h", F.pmod("hv", F.lit(32)).alias("shard")).agg(
        F.slice(F.array_sort(F.collect_list("hv")), 1, SLIDE_KMV_K).alias("psk")
    )
    hourly = partial.groupBy("h").agg(
        F.slice(
            F.array_sort(F.flatten(F.collect_list("psk"))), 1, SLIDE_KMV_K
        ).alias("sk")
    )
    w = Window.orderBy("h").rangeBetween(-(SLIDE_WIN_HOURS - 1), 0)
    windows = hourly.select(
        "h", F.flatten(F.collect_list("sk").over(w)).alias("merged")
    )
    sketched = windows.select(
        "h",
        F.slice(F.array_sort(F.array_distinct("merged")), 1, SLIDE_KMV_K).alias("sk"),
    )
    est = sketched.select(
        "h",
        F.when(
            F.size("sk") < SLIDE_KMV_K, F.size("sk").cast("double")
        ).otherwise(
            F.floor(
                F.lit(float(SLIDE_KMV_K - 1))
                * F.lit(281474976710656.0)
                / F.element_at("sk", SLIDE_KMV_K)
                * 1000000
                + F.lit(0.5)
            )
            / 1000000
        ).alias("est_distinct"),
    )
    win_hours = hourly.select("h")
    exact = (
        win_hours.alias("w")
        .join(
            hashed.alias("e"),
            (F.col("e.h") >= F.col("w.h") - (SLIDE_WIN_HOURS - 1))
            & (F.col("e.h") <= F.col("w.h")),
        )
        .groupBy(F.col("w.h").alias("h"))
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
    )
    q6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return (
        est.join(exact, "h")
        .select(
            F.expr("cast(to_timestamp(h * 3600) as timestamp)").alias(
                "window_end_hour"
            ),
            F.col("exact_distinct").cast("long").alias("exact_distinct"),
            "est_distinct",
            q6(
                F.abs(F.col("est_distinct") - F.col("exact_distinct"))
                / F.col("exact_distinct")
            ).alias("rel_error"),
        )
        .orderBy("window_end_hour")
    )


# --- difference-in-differences readout --------------------------------------
# When a feature ships to a hash-selected arm mid-period (no clean A/B
# from day one), the causal estimate is diff-in-differences: the
# treatment arm's pre->post change minus the control arm's — the control
# differencing removes the shared time trend the naive pre/post
# comparison confounds. Grid: arm x period mean per-user purchase
# revenue (exact integer-cent moments, same conventions as
# events_ab_readout); the DiD point estimate is the double difference,
# 6-dp-quantized. The parallel-trends assumption is the analyst's to
# check (events_cusum_changepoints is the companion diagnostic).
@register(
    "events_diff_in_diff",
    """
    WITH bounds AS (
      SELECT CAST((MIN(epoch_us(ts) // 86400000000)
                   + MAX(epoch_us(ts) // 86400000000)) // 2 AS BIGINT) AS mid
      FROM events
    ),
    cells AS (
      SELECT user_id,
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 2) < '80'
                  THEN 'treat' ELSE 'control' END AS arm,
             CASE WHEN epoch_us(ts) // 86400000000 < (SELECT mid FROM bounds)
                  THEN 'pre' ELSE 'post' END AS period,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                           ELSE 0 END) AS DECIMAL(38,0)) AS cents
      FROM events
      GROUP BY user_id, arm, period
    ),
    grid AS (
      SELECT arm, period,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(cents) AS DOUBLE) / COUNT(*) / 100 AS mean_revenue
      FROM cells GROUP BY arm, period
    ),
    wide AS (
      SELECT
        MAX(CASE WHEN arm = 'treat' AND period = 'pre' THEN mean_revenue END) AS tp,
        MAX(CASE WHEN arm = 'treat' AND period = 'post' THEN mean_revenue END) AS tq,
        MAX(CASE WHEN arm = 'control' AND period = 'pre' THEN mean_revenue END) AS cp,
        MAX(CASE WHEN arm = 'control' AND period = 'post' THEN mean_revenue END) AS cq
      FROM grid
    )
    SELECT arm, period, n_users,
           FLOOR(mean_revenue * 1000000 + 0.5) / 1000000 AS mean_revenue,
           (SELECT FLOOR(((tq - tp) - (cq - cp)) * 1000000 + 0.5) / 1000000
            FROM wide) AS did_estimate
    FROM grid
    ORDER BY arm, period
    """,
)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arm x period mean per-user purchase revenue plus the
    diff-in-differences point estimate (the same value repeated on each
    grid row for the single-relation output contract)."""
    e = table(spark, sf_dir, "events")
    day = F.expr("unix_micros(ts) div 86400000000")
    bounds = e.agg(
        F.expr(
            "cast((min(unix_micros(ts) div 86400000000)"
            " + max(unix_micros(ts) div 86400000000)) div 2 as bigint)"
        ).alias("mid")
    )
    cents = F.sum(
        F.when(
            F.col("event_type") == "purchase",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
        ).otherwise(F.lit(0))
    ).cast("decimal(38,0)")
    cells = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy(
            "user_id",
            F.when(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 2) < "80",
                "treat",
            ).otherwise("control").alias("arm"),
            F.when(day < F.col("mid"), "pre").otherwise("post").alias("period"),
        )
        .agg(cents.alias("cents"))
    )
    grid = cells.groupBy("arm", "period").agg(
        F.count(F.lit(1)).alias("n_users"),
        (F.sum("cents").cast("double") / F.count(F.lit(1)) / 100).alias(
            "mean_revenue"
        ),
    )
    pick = lambda a, p: F.max(  # noqa: E731
        F.when((F.col("arm") == a) & (F.col("period") == p), F.col("mean_revenue"))
    )
    wide = grid.agg(
        pick("treat", "pre").alias("tp"),
        pick("treat", "post").alias("tq"),
        pick("control", "pre").alias("cp"),
        pick("control", "post").alias("cq"),
    )
    q6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    did = wide.select(
        q6((F.col("tq") - F.col("tp")) - (F.col("cq") - F.col("cp"))).alias(
            "did_estimate"
        )
    )
    return (
        grid.crossJoin(F.broadcast(did))
        .select(
            "arm",
            "period",
            F.col("n_users").cast("long").alias("n_users"),
            q6(F.col("mean_revenue")).alias("mean_revenue"),
            "did_estimate",
        )
        .orderBy("arm", "period")
    )
