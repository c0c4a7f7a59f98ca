"""Event-time window operators in their batch form (SURVEY.md §2.2 "Streaming:
windows" — the reference's only analog is per-day batching,
`audit_data_ingest.py:50-68`).

The same ``F.window`` / ``session_window`` expressions run unchanged under
``readStream`` (see ``streaming/jobs.py``); evaluating them in batch makes
them oracle-checkable against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import table
from .base import REGISTRY, dsum, register


@register(
    "q30_tumbling_daily",
    sql=f"""
    SELECT CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {dsum('value', 'sum_value')}
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
    tags=("streaming", "window", "tumbling"),
)
def q30_tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day event-time window — identical expression works under
    readStream + withWatermark."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(dsum("value", "sum_value")),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


@register(
    "q31_sliding_hourly",
    sql="""
    SELECT DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) - o.off * INTERVAL 1 HOUR AS window_start,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM events, (VALUES (0), (1)) AS o(off)
    GROUP BY 1
    ORDER BY window_start
    """,
    tags=("streaming", "window", "sliding"),
)
def q31_sliding_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window: 2-hour duration, 1-hour slide (each event lands in two
    overlapping windows)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "n_users")
        .orderBy("window_start")
    )


@register(
    "q32_session_windows",
    sql=f"""
    WITH flagged AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
             CASE WHEN LAG(CAST(ts AS TIMESTAMP))
                         OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                       OR CAST(ts AS TIMESTAMP)
                          - LAG(CAST(ts AS TIMESTAMP))
                            OVER (PARTITION BY user_id ORDER BY ts, event_id)
                          > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           {dsum('value', 'sum_value')}
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
    tags=("streaming", "window", "session"),
)
def q32_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute inactivity gap via ``session_window``
    (window end = last event + gap, matching the gaps-and-islands oracle).

    In streaming this is the `session_window` + watermark stateful operator;
    batch evaluation pins its exact semantics.
    """
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(dsum("value", "sum_value")),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "q33_dedup_within_watermark",
    sql="""
    SELECT user_id, event_type, COUNT(*) AS n_slots
    FROM (
      SELECT DISTINCT user_id, event_type,
             DATE_TRUNC('minute', CAST(ts AS TIMESTAMP)) AS minute_slot
      FROM events)
    GROUP BY user_id, event_type
    ORDER BY user_id, event_type
    """,
    tags=("streaming", "dedup"),
)
def q33_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed deduplication — batch shape of dropDuplicates; under streaming
    the same keys feed dropDuplicatesWithinWatermark."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.select(
            "user_id",
            "event_type",
            F.date_trunc("minute", "ts").alias("minute_slot"),
        )
        .dropDuplicates(["user_id", "event_type", "minute_slot"])
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n_slots"))
        .orderBy("user_id", "event_type")
    )


@register(
    "q44_latest_per_key",
    sql="""
    SELECT user_id, event_id AS latest_event_id, event_type AS latest_type,
           CAST(ts AS TIMESTAMP) AS latest_ts
    FROM (
      SELECT user_id, event_id, event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    WHERE rn = 1
    ORDER BY user_id
    """,
    tags=("dedup", "window", "upsert"),
)
def q44_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest record per key — the upsert/CDC-compaction primitive (keep the
    newest version of each entity). One shuffle on the key; in streaming the
    same semantics come from dropDuplicatesWithinWatermark on a reversed
    ordering or flatMapGroupsWithState."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("latest_event_id"),
            F.col("event_type").alias("latest_type"),
            F.col("ts").alias("latest_ts"),
        )
        .orderBy("user_id")
    )


@register(
    "q34b_funnel_conversion",
    sql="""
    WITH staged AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
             MIN(CASE WHEN event_type = 'signup' THEN CAST(ts AS TIMESTAMP) END)
               OVER (PARTITION BY user_id) AS first_signup
      FROM events
    ), per_user AS (
      SELECT user_id,
             MIN(first_signup) AS first_signup,
             MIN(CASE WHEN event_type = 'view'
                       AND ts > first_signup THEN ts END) AS view_after,
             MIN(CASE WHEN event_type = 'purchase'
                       AND ts > first_signup THEN ts END) AS purchase_after
      FROM staged
      GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           COUNT(first_signup) AS n_signed_up,
           COUNT(view_after) AS n_viewed_after,
           COUNT(purchase_after) AS n_purchased_after,
           COUNT(CASE WHEN purchase_after > view_after THEN 1 END) AS n_full_funnel
    FROM per_user
    """,
    tags=("funnel", "agg", "events"),
)
def q34b_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis: signup → view → purchase ordering per user.

    Step timestamps are the first occurrence AFTER the previous step (a view
    that predates signup doesn't complete the funnel, but a later re-view
    does) — computed with one window to pin first_signup and one aggregation
    pass, both keyed on user_id, so the plan has a single exchange.
    """
    ev = table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id")
    staged = ev.select(
        "user_id",
        "event_type",
        "ts",
        F.min(F.when(F.col("event_type") == "signup", F.col("ts")))
        .over(w)
        .alias("first_signup"),
    )

    def first_after(t: str):
        return F.min(
            F.when(
                (F.col("event_type") == t) & (F.col("ts") > F.col("first_signup")),
                F.col("ts"),
            )
        )

    per_user = staged.groupBy("user_id").agg(
        F.min("first_signup").alias("first_signup"),
        first_after("view").alias("view_after"),
        first_after("purchase").alias("purchase_after"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("first_signup").alias("n_signed_up"),
        F.count("view_after").alias("n_viewed_after"),
        F.count("purchase_after").alias("n_purchased_after"),
        F.count(
            F.when(F.col("purchase_after") > F.col("view_after"), 1)
        ).alias("n_full_funnel"),
    )


@register(
    "q35b_session_bounce_rate",
    sql="""
    WITH flagged AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN LAG(CAST(ts AS TIMESTAMP))
                         OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                       OR CAST(ts AS TIMESTAMP)
                          - LAG(CAST(ts AS TIMESTAMP))
                            OVER (PARTITION BY user_id ORDER BY ts, event_id)
                          > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    ), sized AS (
      SELECT user_id, session_id, COUNT(*) AS n_events
      FROM sessions GROUP BY user_id, session_id
    )
    SELECT COUNT(*) AS n_sessions,
           COUNT(CASE WHEN n_events = 1 THEN 1 END) AS n_bounces,
           CAST(COUNT(CASE WHEN n_events = 1 THEN 1 END) AS DOUBLE)
             / COUNT(*) AS bounce_rate,
           MAX(n_events) AS longest_session
    FROM sized
    """,
    tags=("streaming", "session", "funnel"),
)
def q35b_session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session quality metrics: bounce rate (single-event sessions / total)
    over 30-minute-gap sessionization — q32's sessions rolled up to the
    product metric."""
    ev = table(spark, sf_dir, "events")
    sized = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return sized.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count(F.when(F.col("n_events") == 1, 1)).alias("n_bounces"),
        (
            F.count(F.when(F.col("n_events") == 1, 1)).cast("double")
            / F.count(F.lit(1))
        ).alias("bounce_rate"),
        F.max("n_events").alias("longest_session"),
    )


@register(
    "q36b_retention_cohorts",
    sql="""
    WITH user_weeks AS (
      SELECT DISTINCT user_id,
             CAST(FLOOR(DATEDIFF('day', DATE '2024-01-01',
                                 CAST(CAST(ts AS TIMESTAMP) AS DATE)) / 7) AS BIGINT) AS week
      FROM events
    ), cohort AS (
      SELECT user_id, MIN(week) AS first_week FROM user_weeks GROUP BY user_id
    )
    SELECT c.first_week, w.week,
           COUNT(*) AS n_active,
           CAST(COUNT(*) AS DOUBLE)
             / MAX(cs.cohort_size) AS retention
    FROM cohort c
      JOIN user_weeks w ON w.user_id = c.user_id
      JOIN (SELECT first_week AS fw, COUNT(*) AS cohort_size
            FROM cohort GROUP BY first_week) cs ON cs.fw = c.first_week
    GROUP BY c.first_week, w.week
    ORDER BY c.first_week, w.week
    """,
    tags=("retention", "cohort", "agg"),
)
def q36b_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users grouped by first-active week, tracked
    across subsequent weeks — the activation/retention analysis every event
    pipeline serves. Distinct (user, week) pairs keep the matrix exact; the
    cohort-size dimension broadcasts."""
    ev = table(spark, sf_dir, "events")
    week = F.floor(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")) / 7
    ).cast("bigint")
    user_weeks = ev.select("user_id", week.alias("week")).distinct()
    cohort = user_weeks.groupBy("user_id").agg(F.min("week").alias("first_week"))
    sizes = cohort.groupBy(F.col("first_week").alias("fw")).agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        cohort.join(user_weeks, "user_id")
        .join(F.broadcast(sizes), F.col("first_week") == F.col("fw"))
        .groupBy("first_week", "week")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            (F.count(F.lit(1)).cast("double") / F.max("cohort_size")).alias(
                "retention"
            ),
        )
        .orderBy("first_week", "week")
    )


@register(
    "q84_gap_fill",
    sql="""
    WITH spans AS (
      SELECT user_id,
             MIN(CAST(ts AS DATE)) AS d0,
             MAX(CAST(ts AS DATE)) AS d1
      FROM events WHERE user_id < 40
      GROUP BY user_id
    ), dense AS (
      SELECT user_id, UNNEST(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
      FROM spans
    ), daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n
      FROM events WHERE user_id < 40
      GROUP BY user_id, day
    )
    SELECT dense.user_id, dense.day,
           CAST(COALESCE(daily.n, 0) AS BIGINT) AS n_events
    FROM dense LEFT JOIN daily
      ON dense.user_id = daily.user_id AND dense.day = daily.day
    ORDER BY dense.user_id, dense.day
    """,
    tags=("timeseries", "gap-fill"),
)
def q84_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification: generate every calendar day inside each
    user's [first, last] activity span and fill missing days with zero —
    the preprocessing step rolling averages and anomaly detection need on
    sparse event data.

    Scale shape: the dense axis is built by exploding per-key SEQUENCE
    spans (rows ∝ key-count × span-days, created distributed — never a
    driver-side calendar), then one left join keyed (user, day). Both
    sides shuffle on the same key; no global structure."""
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    daily = (
        ev.select("user_id", F.col("ts").cast("date").alias("day"))
        .groupBy("user_id", "day")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spans = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    dense = spans.select(
        "user_id",
        F.explode(F.expr("SEQUENCE(d0, d1, INTERVAL 1 DAY)")).alias("day"),
    )
    return (
        dense.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_events"),
        )
        .orderBy("user_id", "day")
    )


_SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap, in microseconds


@register(
    "q91_sessionize_batch",
    sql=f"""
    WITH ordered AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    ), flagged AS (
      SELECT user_id, event_id, ts_us,
             CASE WHEN gap_us IS NULL OR gap_us > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM ordered
    ), numbered AS (
      SELECT user_id, ts_us,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events,
           MIN(ts_us) AS start_us,
           MAX(ts_us) AS end_us,
           (MAX(ts_us) - MIN(ts_us)) // 1000000 AS duration_s
    FROM numbered
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
    tags=("timeseries", "sessionization"),
)
def q91_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: split each user's event stream into sessions at
    inactivity gaps > 30 min (the batch twin of q32's streaming
    ``session_window``, but with an explicit per-session ordinal and exact
    integer timestamps so the boundary logic is oracle-checkable).

    Gap detection runs on ``unix_micros`` BIGINTs (portable and exact;
    epoch-seconds doubles round differently across engines), with
    ``event_id`` as the deterministic order tie-break for equal timestamps
    (ties yield gap 0 either way, so session boundaries are order-stable).

    Scale shape: one shuffle on ``user_id``; both windows and the final
    aggregate reuse that partitioning (plan shows a single exchange). Hot
    users bound the per-task working set — a user's whole history sorts on
    one task, the standard sessionization trade; users are the natural
    skew unit and AQE's skew handling covers pathological ones.
    """
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    flagged = ev.withColumn(
        "is_new",
        F.when(
            F.lag("ts_us").over(w).isNull()
            | ((F.col("ts_us") - F.lag("ts_us").over(w)) > _SESSION_GAP_US),
            1,
        ).otherwise(0),
    )
    numbered = flagged.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        numbered.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts_us").alias("start_us"),
            F.max("ts_us").alias("end_us"),
        )
        .select(
            "user_id",
            F.col("session_id").cast("bigint").alias("session_id"),
            "n_events",
            "start_us",
            "end_us",
            F.expr("(end_us - start_us) DIV 1000000").alias("duration_s"),
        )
        .orderBy("user_id", "session_id")
    )


# ---------------------------------------------------------------------------
# Ordered funnel analysis
# ---------------------------------------------------------------------------

_FUNNEL = ("view", "click", "purchase")  # the ordered conversion path
_FUNNEL_STEP_US = 24 * 3600 * 1_000_000  # each step must follow within 24 h


@register(
    "q101_funnel",
    sql=f"""
    WITH s1 AS (
      SELECT user_id, MIN(epoch_us(ts)) AS t1
      FROM events WHERE event_type = '{_FUNNEL[0]}' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = '{_FUNNEL[1]}' AND epoch_us(e.ts) > s1.t1
        AND epoch_us(e.ts) <= s1.t1 + {_FUNNEL_STEP_US}
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = '{_FUNNEL[2]}' AND epoch_us(e.ts) > s2.t2
        AND epoch_us(e.ts) <= s2.t2 + {_FUNNEL_STEP_US}
      GROUP BY e.user_id
    ), base AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM events)
    SELECT b.n_users,
           (SELECT COUNT(*) FROM s1) AS n_view,
           (SELECT COUNT(*) FROM s2) AS n_click_after_view,
           (SELECT COUNT(*) FROM s3) AS n_purchase_after_click,
           (SELECT CAST(COALESCE(SUM((s3.t3 - s1.t1) // 1000000), 0) AS BIGINT)
            FROM s3 JOIN s1 ON s3.user_id = s1.user_id)
             AS total_conversion_s
    FROM base b
    """,
    tags=("events", "funnel", "analytics"),
)
def q101_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who viewed, then clicked strictly AFTER
    their first view (within 24 h), then purchased within 24 h of that
    click — the sequenced-conversion count flat per-type counts can't
    express (a purchase before the first view must NOT convert, and a
    click a week later is not attribution). Also reports total
    first-view→conversion latency in whole seconds (exact integer
    micros arithmetic on both engines). On the fixture the stages
    discriminate: 150 → 60 → 25 users at sf0.01.

    Scale shape: three user-keyed aggregations, each a map-combined
    MIN over a type-filtered scan slice, chained by joins on user_id —
    every exchange carries one row per qualifying user, never raw
    events. The final count row is driver-sized. All stages reuse the
    same user_id hash partitioning, so AQE coalesces the chain."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    s1 = (
        e.filter(F.col("event_type") == _FUNNEL[0])
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t1"))
    )
    s2 = (
        e.filter(F.col("event_type") == _FUNNEL[1])
        .join(s1, "user_id")
        .filter(
            (F.col("ts_us") > F.col("t1"))
            & (F.col("ts_us") <= F.col("t1") + F.lit(_FUNNEL_STEP_US))
        )
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == _FUNNEL[2])
        .join(s2, "user_id")
        .filter(
            (F.col("ts_us") > F.col("t2"))
            & (F.col("ts_us") <= F.col("t2") + F.lit(_FUNNEL_STEP_US))
        )
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t3"))
    )
    lat = s3.join(s1, "user_id").agg(
        F.coalesce(
            F.sum(F.expr("(t3 - t1) DIV 1000000")), F.lit(0)
        ).cast("bigint").alias("total_conversion_s")
    )
    counts = (
        e.agg(F.countDistinct("user_id").alias("n_users"))
        .crossJoin(s1.agg(F.count(F.lit(1)).alias("n_view")))
        .crossJoin(s2.agg(F.count(F.lit(1)).alias("n_click_after_view")))
        .crossJoin(s3.agg(F.count(F.lit(1)).alias("n_purchase_after_click")))
    )
    return counts.crossJoin(lat)


# ---------------------------------------------------------------------------
# Event-type transition matrix
# ---------------------------------------------------------------------------


@register(
    "q102_event_transitions",
    sql="""
    WITH ordered AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type,
           COUNT(*) AS n_transitions
    FROM ordered
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    ORDER BY prev_type, next_type
    """,
    tags=("events", "markov", "analytics", "window"),
)
def q102_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix: counts of consecutive (prev → next)
    event pairs per user timeline — the first-order Markov statistics
    behind journey mining and anomaly baselines ("error after purchase
    spiked"). Ordering is (ts, event_id), deterministic under timestamp
    ties.

    Scale shape: one user-keyed exchange for the lag window (rows carry
    only user_id, type, micros), then a map-combined count over the tiny
    type×type key space. Per-user timelines are the natural partition —
    no global ordering anywhere."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type"), F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
        .orderBy("prev_type", "next_type")
    )


# ---------------------------------------------------------------------------
# q116 — ingest completeness / traffic anomaly report
# ---------------------------------------------------------------------------
# Pipeline observability: compare per-(event_type, day) event volume to
# the type's own all-days baseline and flag days outside a ±30 % band —
# the monitor that catches a silently dropped ingest partition (the
# reference's all-or-nothing day loop fails loudly; at 100 TB the failure
# mode is a day that LANDS but thin). Deviation is scaled-integer:
# dev_pct = (100 * n) DIV baseline - 100, baseline = total DIV n_days.
@register(
    "q116_traffic_anomaly",
    sql="""
    WITH daily AS (
      SELECT event_type,
             CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    ), baseline AS (
      SELECT event_type,
             SUM(n_events) // COUNT(*) AS mean_daily,
             COUNT(*) AS n_days
      FROM daily GROUP BY event_type
    )
    SELECT d.event_type, d.day,
           CAST(d.n_events AS BIGINT) AS n_events,
           CAST(b.mean_daily AS BIGINT) AS mean_daily,
           CAST((100 * d.n_events) // b.mean_daily - 100 AS BIGINT) AS dev_pct
    FROM daily d JOIN baseline b USING (event_type)
    WHERE (100 * d.n_events) // b.mean_daily - 100 NOT BETWEEN -30 AND 30
    ORDER BY d.event_type, d.day
    """,
    tags=("events", "observability", "anomaly", "completeness"),
)
def q116_traffic_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days whose event volume deviates more than ±30 % from the
    event_type's own daily baseline — the completeness monitor a pipeline
    runs after each day lands (spec in the module comment; thin fixture
    edge-days show up as honest negative deviations).

    Scale shape: the daily rollup is one partial-aggregated exchange over
    (type, day) keys — group count, not event count, crosses the wire; the
    baseline is a second agg over that tiny table and joins back broadcast.
    At 100 TB the daily table is thousands of rows regardless of traffic.
    A production variant windows the baseline (trailing 28 days, same-day-
    of-week) by adding those keys to the baseline agg — same two-agg
    shape."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    baseline = daily.groupBy("event_type").agg(
        F.expr("SUM(n_events) DIV COUNT(*)").alias("mean_daily"),
        F.count(F.lit(1)).alias("n_days"),
    )
    dev = F.expr("(100 * n_events) DIV mean_daily - 100")
    return (
        daily.join(F.broadcast(baseline), "event_type")
        .select(
            "event_type",
            "day",
            F.col("n_events").cast("bigint").alias("n_events"),
            F.col("mean_daily").cast("bigint").alias("mean_daily"),
            dev.cast("bigint").alias("dev_pct"),
        )
        .filter(~F.col("dev_pct").between(-30, 30))
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# q123 — seasonal-baseline forecast backtest
# ---------------------------------------------------------------------------
# The simplest defensible traffic forecast — per (event_type, hour-of-day)
# mean over a training window — backtested against the held-out days, all
# in scaled integers: baseline_milli = (1000·Σcounts) DIV n_train_days,
# per-cell error = |1000·count − baseline_milli|, MAE per type. Absent
# (day, hour) cells are real zeros, so the test grid is densified (q84's
# gap-fill idea) before scoring. The fixed pivot date keeps the oracle
# deterministic; production parameterizes it.
_Q123_PIVOT = "DATE '2024-01-15'"


@register(
    "q123_seasonal_backtest",
    sql=f"""
    WITH cells AS (
      SELECT CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             EXTRACT(HOUR FROM CAST(ts AS TIMESTAMP)) AS hr,
             event_type, COUNT(*) AS c
      FROM events GROUP BY 1, 2, 3
    ), train_days AS (
      SELECT COUNT(DISTINCT day) AS nd FROM cells WHERE day <= {_Q123_PIVOT}
    ), baseline AS (
      SELECT event_type, hr,
             (1000 * SUM(c)) // (SELECT nd FROM train_days) AS base_milli
      FROM cells WHERE day <= {_Q123_PIVOT} GROUP BY event_type, hr
    ), grid AS (
      SELECT d.day, h.hr, t.event_type
      FROM (SELECT DISTINCT day FROM cells WHERE day > {_Q123_PIVOT}) d
      CROSS JOIN (SELECT UNNEST(RANGE(0, 24)) AS hr) h
      CROSS JOIN (SELECT DISTINCT event_type FROM cells) t
    ), scored AS (
      SELECT g.event_type,
             ABS(1000 * COALESCE(c.c, 0) - COALESCE(b.base_milli, 0)) AS err
      FROM grid g
      LEFT JOIN cells c ON c.day = g.day AND c.hr = g.hr AND c.event_type = g.event_type
      LEFT JOIN baseline b ON b.event_type = g.event_type AND b.hr = g.hr
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(err) // COUNT(*) AS BIGINT) AS mae_milli
    FROM scored
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("events", "forecast", "backtest", "observability", "exact-integer"),
)
def q123_seasonal_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the hour-of-day seasonal traffic baseline on held-out
    days, MAE per event type — the capacity-planning sanity check behind
    q116's anomaly band (spec and densification note in the module
    comment).

    Scale shape: raw events collapse to (day, hour, type) cells in one
    partial-aggregated pass — everything after operates on the cell table
    (days × 24 × types rows; at 10 years and 1000 types, under 10⁸ —
    still cluster-trivial, and itself a table worth materializing). The
    densified test grid is a broadcast cross of three tiny dimension
    lists; baseline joins broadcast. Swapping in a trailing-window or
    day-of-week baseline changes the baseline agg's keys only."""
    ev = table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        F.hour("ts").alias("hr"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("c"))
    train = cells.filter(F.expr(f"day <= {_Q123_PIVOT}"))
    nd = train.select("day").distinct().count()
    baseline = train.groupBy("event_type", "hr").agg(
        F.expr(f"(1000 * SUM(c)) DIV {nd}").alias("base_milli")
    )
    test_days = (
        cells.filter(F.expr(f"day > {_Q123_PIVOT}")).select("day").distinct()
    )
    hours = spark.range(0, 24).select(F.col("id").cast("int").alias("hr"))
    types = cells.select("event_type").distinct()
    grid = (
        F.broadcast(test_days)
        .crossJoin(F.broadcast(hours))
        .crossJoin(F.broadcast(types))
    )
    scored = (
        grid.join(cells, ["day", "hr", "event_type"], "left")
        .join(F.broadcast(baseline), ["event_type", "hr"], "left")
        .select(
            "event_type",
            F.abs(
                F.lit(1000) * F.coalesce("c", F.lit(0))
                - F.coalesce("base_milli", F.lit(0))
            ).alias("err"),
        )
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.expr("SUM(err) DIV COUNT(*)").cast("bigint").alias("mae_milli"),
        )
        .orderBy("event_type")
    )


@register(
    "q128_journey_trigrams",
    sql="""
    WITH ordered AS (
      SELECT user_id, event_type,
             LAG(event_type, 2) OVER w AS t1,
             LAG(event_type, 1) OVER w AS t2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    )
    SELECT t1, t2, event_type AS t3,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM ordered
    WHERE t1 IS NOT NULL
    GROUP BY t1, t2, t3
    ORDER BY n_occurrences DESC, t1, t2, t3
    LIMIT 10
    """,
    tags=("events", "sequence-mining", "journeys", "top-k"),
)
def q128_journey_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ten most common three-step user journeys (event-type trigrams
    over per-user time order) with how many users walk each — the
    path-mining extension of q102's first-order transition matrix:
    trigrams expose patterns the Markov matrix factors away (e.g.
    view→click→purchase vs view→click→error have identical bigram
    prefixes).

    Scale shape: one user-keyed exchange for the ordered window (each
    user's events co-locate — the same exchange q102/q106 pay), two lags
    inside it, then a trigram-keyed count whose key space is |types|³ —
    bounded regardless of traffic, partial-aggregated. Top-10 is
    TakeOrderedAndProject. Higher-order journeys are more lags, same
    plan."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    tri = (
        ev.withColumn("t1", F.lag("event_type", 2).over(w))
        .withColumn("t2", F.lag("event_type", 1).over(w))
        .filter(F.col("t1").isNotNull())
    )
    return (
        tri.groupBy("t1", "t2", F.col("event_type").alias("t3"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy(F.desc("n_occurrences"), "t1", "t2", "t3")
        .limit(10)
    )


@register(
    "q133_transition_dwell_times",
    sql="""
    WITH ordered AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER w AS prev_type,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS delta_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    )
    SELECT prev_type, event_type AS next_type,
           CAST(COUNT(*) AS BIGINT) AS n_transitions,
           CAST(SUM(delta_us) // COUNT(*) AS BIGINT) AS mean_dwell_us,
           CAST(MIN(delta_us) AS BIGINT) AS min_dwell_us,
           CAST(MAX(delta_us) AS BIGINT) AS max_dwell_us
    FROM ordered
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    ORDER BY prev_type, next_type
    """,
    tags=("events", "sessions", "dwell-time", "transitions"),
)
def q133_transition_dwell_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How long users dwell between consecutive event types: per
    transition edge, count and mean/min/max inter-event gap in exact
    integer microseconds — the timing layer q102's count matrix lacks
    (a view→purchase edge that takes 2 s means something different from
    one that takes 2 days).

    Scale shape: the same single user-keyed exchange as q102/q106/q128 —
    the lag window computes both the previous type and the microsecond
    delta in one pass — then a transition-keyed rollup over a
    |types|²-bounded key space. Quantile dwell profiles swap the
    min/max for q110's fixed-bin histogram on delta_us, same plan."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    ordered = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .withColumn("delta_us", F.col("ts_us") - F.lag("ts_us").over(w))
        .filter(F.col("prev_type").isNotNull())
    )
    return (
        ordered.groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
            F.expr("SUM(delta_us) DIV COUNT(*)").cast("bigint").alias(
                "mean_dwell_us"
            ),
            F.min("delta_us").cast("bigint").alias("min_dwell_us"),
            F.max("delta_us").cast("bigint").alias("max_dwell_us"),
        )
        .orderBy("prev_type", "next_type")
    )


@register(
    "q136_session_length_distribution",
    sql=f"""
    WITH ordered AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    ), flagged AS (
      SELECT user_id, event_id, ts_us,
             CASE WHEN gap_us IS NULL OR gap_us > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM ordered
    ), numbered AS (
      SELECT user_id, ts_us,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ), sessions AS (
      SELECT user_id, session_id, COUNT(*) AS n_events,
             (MAX(ts_us) - MIN(ts_us)) // 60000000 AS duration_min
      FROM numbered GROUP BY user_id, session_id
    )
    SELECT LEAST(n_events, 10) AS events_bucket,
           LEAST(duration_min // 10, 6) AS duration_decaminutes,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM sessions
    GROUP BY events_bucket, duration_decaminutes
    ORDER BY events_bucket, duration_decaminutes
    """,
    tags=("timeseries", "sessionization", "histogram", "product-analytics"),
)
def q136_session_length_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The session-quality distribution behind engagement metrics: a 2-D
    histogram of sessions by event count (capped at 10+) and duration in
    10-minute bands (capped at 60+) with user reach per cell — the
    report that distinguishes a corpus of drive-by single-event sessions
    from long engaged ones (bounce rate = the (1, 0) cell over the
    total; q35b computes it directly).

    Scale shape: q91's single user-keyed exchange builds the sessions;
    the histogram is then two more aggregations over session rows with
    capped (≤ 10×7) key space — the distribution costs nothing beyond
    the sessionization it describes."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    flagged = ev.withColumn(
        "is_new",
        F.when(
            F.lag("ts_us").over(w).isNull()
            | ((F.col("ts_us") - F.lag("ts_us").over(w)) > _SESSION_GAP_US),
            1,
        ).otherwise(0),
    )
    numbered = flagged.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    sessions = numbered.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr("(MAX(ts_us) - MIN(ts_us)) DIV 60000000").alias("duration_min"),
    )
    return (
        sessions.groupBy(
            F.least(F.col("n_events"), F.lit(10)).alias("events_bucket"),
            F.least(
                F.expr("duration_min DIV 10"), F.lit(6)
            ).alias("duration_decaminutes"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy("events_bucket", "duration_decaminutes")
    )


@register(
    "q137_seasonality_profile",
    sql="""
    WITH cells AS (
      SELECT EXTRACT(ISODOW FROM CAST(ts AS TIMESTAMP)) AS dow,
             EXTRACT(HOUR FROM CAST(ts AS TIMESTAMP)) AS hr,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT CAST(dow AS BIGINT) AS dow, CAST(hr AS BIGINT) AS hr,
           CAST(n AS BIGINT) AS n_events,
           CAST((10000 * n) // SUM(n) OVER () AS BIGINT) AS share_bps
    FROM cells
    ORDER BY dow, hr
    """,
    tags=("events", "seasonality", "heatmap", "observability"),
)
def q137_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The day-of-week × hour-of-day traffic heatmap (ISO weekday) with
    each cell's share of total in basis points — the seasonality surface
    q123's baseline summarizes per hour, kept 2-D here for capacity
    planning (when to schedule compaction, when the anomaly band should
    widen).

    Scale shape: one partial-aggregated rollup to ≤168 cells; the share
    window runs over those 168 rows (q37s placement — a window over an
    aggregate, never the table). The integer-bps share reuses q127's
    rounding policy."""
    ev = table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.expr("EXTRACT(DAYOFWEEK_ISO FROM ts)").cast("bigint").alias("dow"),
        F.hour("ts").cast("bigint").alias("hr"),
    ).agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window

    total = F.sum("n").over(Window.partitionBy())
    return cells.select(
        "dow",
        "hr",
        F.col("n").cast("bigint").alias("n_events"),
        F.expr(
            "CAST((10000 * n) DIV (SUM(n) OVER ()) AS BIGINT)"
        ).alias("share_bps"),
    ).orderBy("dow", "hr")


# ---------------------------------------------------------------------------
# q147 — conversion attribution (first-touch / last-touch matrix)
# ---------------------------------------------------------------------------
# Which interactions lead to purchases: each purchase attributes to the
# FIRST and LAST preceding event inside its own 30-min session (q91's exact
# boundary logic); purchases that open a session attribute to 'direct'.
# Revenue follows q132's FLOOR(x·100+0.5) cents policy so sums stay
# integer-exact across engines.


@register(
    "q147_attribution",
    sql=f"""
    WITH ordered AS (
      SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    ), flagged AS (
      SELECT *, CASE WHEN gap_us IS NULL OR gap_us > {_SESSION_GAP_US}
                     THEN 1 ELSE 0 END AS is_new
      FROM ordered
    ), sessions AS (
      SELECT user_id, event_id, event_type, value, ts_us,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ), touched AS (
      SELECT *,
             FIRST_VALUE(event_type) OVER
               (PARTITION BY user_id, session_id ORDER BY ts_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS first_prev,
             LAG(event_type) OVER
               (PARTITION BY user_id, session_id ORDER BY ts_us, event_id)
               AS last_prev
      FROM sessions
    )
    SELECT COALESCE(first_prev, 'direct') AS first_touch,
           COALESCE(last_prev, 'direct') AS last_touch,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM touched
    WHERE event_type = 'purchase'
    GROUP BY 1, 2
    ORDER BY first_touch, last_touch
    """,
    tags=("timeseries", "sessionization", "attribution", "bi"),
)
def q147_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch conversion attribution: every purchase is
    credited to the first and last event preceding it in its own 30-min
    session (session-opening purchases → 'direct'), rolled up to the
    touch-pair matrix with integer-cents revenue — the marketing-style
    attribution query a BI user runs on the event stream.

    Scale shape: ONE shuffle on ``user_id`` feeds the gap window, the
    session numbering, and both intra-session touch windows (all share
    the same partitioning; the plan keeps a single exchange before the
    final ≤|types|²-group rollup). Hot users are the skew unit, exactly
    as in q91."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.unix_micros("ts").alias("ts_us"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    flagged = ev.withColumn(
        "is_new",
        F.when(
            F.lag("ts_us").over(w).isNull()
            | (F.col("ts_us") - F.lag("ts_us").over(w) > _SESSION_GAP_US),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    ws = Window.partitionBy("user_id", "session_id").orderBy("ts_us", "event_id")
    touched = sessions.withColumn(
        "first_prev",
        F.first("event_type").over(
            ws.rowsBetween(Window.unboundedPreceding, -1)
        ),
    ).withColumn("last_prev", F.lag("event_type").over(ws))
    return (
        touched.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.coalesce("first_prev", F.lit("direct")).alias("first_touch"),
            F.coalesce("last_prev", F.lit("direct")).alias("last_touch"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.sum(F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"))
            .cast("bigint")
            .alias("revenue_cents"),
        )
        .orderBy("first_touch", "last_touch")
    )


from ..functions.hashing import duckdb_hash32, spark_hash32  # noqa: E402

# ---------------------------------------------------------------------------
# q154 — A/B experiment readout (deterministic hash assignment)
# ---------------------------------------------------------------------------
# The experimentation readout: users assign to arms by portable hash (the
# production method — stable across sessions, devices, reruns; never an
# RNG), conversion is purchase-within-exposure, and the readout reports
# per-arm exposure/conversion plus the two-proportion z statistic. The z
# numerator/denominator use only IEEE-deterministic ops (sqrt included),
# and the final z is quantized to milli via the shared ROUND discipline.


@register(
    "q154_ab_readout",
    sql=f"""
    WITH assigned AS (
      SELECT DISTINCT user_id,
             {duckdb_hash32("CAST(user_id AS VARCHAR)", seed="exp1")} % 2 AS arm
      FROM events
    ), converted AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    ), arms AS (
      SELECT a.arm, COUNT(*) AS exposed,
             COUNT(c.user_id) AS converted
      FROM assigned a LEFT JOIN converted c ON c.user_id = a.user_id
      GROUP BY a.arm
    ), wide AS (
      SELECT MAX(CASE WHEN arm = 0 THEN exposed END) AS n0,
             MAX(CASE WHEN arm = 0 THEN converted END) AS c0,
             MAX(CASE WHEN arm = 1 THEN exposed END) AS n1,
             MAX(CASE WHEN arm = 1 THEN converted END) AS c1
      FROM arms
    )
    SELECT CAST(n0 AS BIGINT) AS exposed_a, CAST(c0 AS BIGINT) AS converted_a,
           CAST(n1 AS BIGINT) AS exposed_b, CAST(c1 AS BIGINT) AS converted_b,
           CAST(10000 * c0 // n0 AS BIGINT) AS rate_a_bps,
           CAST(10000 * c1 // n1 AS BIGINT) AS rate_b_bps,
           CAST(ROUND(
             (CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0) /
             NULLIF(SQRT((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                  * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                  * (1.0 / n0 + 1.0 / n1)), 0) * 1000, 0) AS BIGINT) AS z_milli
    FROM wide
    """,
    tags=("experimentation", "ab-test", "statistics", "bi"),
)
def q154_ab_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B readout over the event stream: deterministic hash arms (the
    rerun-stable assignment every experimentation platform uses),
    purchase conversion per arm, and the pooled two-proportion z
    statistic in milli — exposure, lift, and significance in one row.

    Scale shape: assignment is map-side hash arithmetic; the readout is
    two user-keyed distinct aggregations and a 2-row rollup. The z
    arithmetic uses only correctly-rounded IEEE ops (÷, √), so even the
    test statistic hash-matches across engines."""
    ev = table(spark, sf_dir, "events")
    assigned = (
        ev.select("user_id")
        .distinct()
        .withColumn(
            "arm",
            F.expr(spark_hash32("CAST(user_id AS STRING)", seed="exp1")) % 2,
        )
    )
    converted = (
        ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    )
    arms = (
        assigned.join(
            converted.withColumn("_c", F.lit(1)), "user_id", "left"
        )
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("exposed"),
            F.count("_c").alias("converted"),
        )
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("exposed"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("converted"))).alias("c0"),
        F.max(F.when(F.col("arm") == 1, F.col("exposed"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("converted"))).alias("c1"),
    )
    # NULLIF: a degenerate experiment (everyone or no one converted)
    # has no defined z — report NULL instead of an ANSI divide error
    z = (
        "(CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0) / "
        "NULLIF(SQRT((CAST(c0 + c1 AS DOUBLE) / (n0 + n1)) "
        "* (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1)) "
        "* (1.0 / n0 + 1.0 / n1)), 0)"
    )
    return wide.select(
        F.col("n0").cast("bigint").alias("exposed_a"),
        F.col("c0").cast("bigint").alias("converted_a"),
        F.col("n1").cast("bigint").alias("exposed_b"),
        F.col("c1").cast("bigint").alias("converted_b"),
        F.expr("CAST(10000 * c0 DIV n0 AS BIGINT)").alias("rate_a_bps"),
        F.expr("CAST(10000 * c1 DIV n1 AS BIGINT)").alias("rate_b_bps"),
        F.expr(f"CAST(ROUND({z} * 1000, 0) AS BIGINT)").alias("z_milli"),
    )


# ---------------------------------------------------------------------------
# q155 — CUSUM drift detection over the daily metric table
# ---------------------------------------------------------------------------
# Sequential change detection done declaratively: the one-sided CUSUM
# recursion S_t = max(0, S_{t-1} + x_t − (μ + κ)) unrolls exactly to
#   S_t = RS_t − min_{j ≤ t} RS_j,   RS_t = Σ_{i ≤ t} (x_i − μ − κ)
# — a running sum and a running min, ONE window pass, no recursion, no
# iteration (the identity that makes CUSUM distributable). Everything is
# integer cents: μ is the per-type global mean in cents (floor), κ the
# slack, h the alarm threshold. Complements q116's static volume bands
# with a test that accumulates small persistent shifts.
# slack and alarm threshold scale with each series' own mean level:
# kappa = mu/20 (5 % daily drift is noise), h = mu/4 (a quarter-day of
# volume accumulated in excess rings the alarm) — adaptive, still exact
_CUSUM_K_DIV = 20
_CUSUM_H_DIV = 4


@register(
    "q155_cusum_drift",
    sql=f"""
    WITH daily AS (
      SELECT event_type, CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
             SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2
    ), mu AS (
      SELECT event_type, SUM(cents) // COUNT(*) AS mu_cents
      FROM daily GROUP BY event_type
    ), rs AS (
      SELECT d.event_type, d.day, d.cents, m.mu_cents,
             SUM(d.cents - m.mu_cents - m.mu_cents // {_CUSUM_K_DIV}) OVER
               (PARTITION BY d.event_type ORDER BY d.day
                ROWS UNBOUNDED PRECEDING) AS run_sum
      FROM daily d JOIN mu m USING (event_type)
    ), cusum AS (
      SELECT event_type, day, cents, mu_cents,
             run_sum - LEAST(MIN(run_sum) OVER
               (PARTITION BY event_type ORDER BY day
                ROWS UNBOUNDED PRECEDING), 0) AS s
      FROM rs
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(MAX(s) AS BIGINT) AS max_cusum_cents,
           CAST(COUNT(CASE WHEN s > mu_cents // {_CUSUM_H_DIV} THEN 1 END)
                AS BIGINT) AS n_alarm_days,
           CAST(MIN(CASE WHEN s > mu_cents // {_CUSUM_H_DIV} THEN day END)
                AS DATE) AS first_alarm_day
    FROM cusum
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("timeseries", "monitoring", "drift", "cusum"),
)
def q155_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift monitor per event type: daily revenue cents
    against the series mean with slack κ, alarm when the cumulative
    excess crosses h — the change-point test that catches small
    persistent shifts q116's static bands miss. The recursion
    ``S_t = max(0, S_{t-1} + x_t − μ − κ)`` runs as its closed form
    ``RS_t − min(0, min_{j≤t} RS_j)`` — one running sum + one running
    min over the same window, fully declarative.

    Scale shape: the event scan collapses to the (type, day) cell table
    first (map-side partial agg); the windows run over ≤|types|×|days|
    rows. All arithmetic integer cents."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.date_trunc("day", "ts").cast("date").alias("day"),
        )
        .agg(
            F.sum(F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)")).alias(
                "cents"
            )
        )
    )
    mu = daily.groupBy("event_type").agg(
        F.expr("SUM(cents) DIV COUNT(*)").alias("mu_cents")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    rs = daily.join(F.broadcast(mu), "event_type").withColumn(
        "run_sum",
        F.sum(
            F.col("cents")
            - F.col("mu_cents")
            - F.expr(f"mu_cents DIV {_CUSUM_K_DIV}")
        ).over(w),
    )
    cusum = rs.withColumn(
        "s", F.col("run_sum") - F.least(F.min("run_sum").over(w), F.lit(0))
    )
    return (
        cusum.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.max("s").cast("bigint").alias("max_cusum_cents"),
            F.count(
                F.when(F.col("s") > F.expr(f"mu_cents DIV {_CUSUM_H_DIV}"), 1)
            )
            .cast("bigint")
            .alias("n_alarm_days"),
            F.min(
                F.when(
                    F.col("s") > F.expr(f"mu_cents DIV {_CUSUM_H_DIV}"),
                    F.col("day"),
                )
            ).alias("first_alarm_day"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q156 — point-in-time-correct feature matrix (feature-store join)
# ---------------------------------------------------------------------------
# The leakage rule of ML feature engineering: every feature attached to a
# training label may use only what was knowable STRICTLY BEFORE the label
# event. Doing that per-label with subqueries is O(labels × history); the
# scalable form is one user-keyed union of history and labels with window
# frames that END BEFORE the current row — running counts (ROWS …
# 1 PRECEDING), as-of carry-forward (MAX over the same frame), and a
# trailing event-time hour (RANGE on unix_micros). Label rows at the same
# microsecond as a history event order AFTER it (is_label sorts last), so
# same-instant events are knowable; the RANGE hour frame ends at
# 1 µs PRECEDING for the same reason.


@register(
    "q156_point_in_time_features",
    sql="""
    WITH unioned AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_label
      FROM events
    ), feat AS (
      SELECT user_id, event_id, ts_us, is_label,
             COUNT(CASE WHEN event_type = 'click' THEN 1 END) OVER
               (PARTITION BY user_id ORDER BY ts_us, is_label, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS n_clicks_before,
             MAX(CASE WHEN event_type = 'error' THEN ts_us END) OVER
               (PARTITION BY user_id ORDER BY ts_us, is_label, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_error_us,
             COUNT(CASE WHEN event_type = 'view' THEN 1 END) OVER
               (PARTITION BY user_id ORDER BY ts_us
                RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING)
               AS views_prev_hour
      FROM unioned
    )
    SELECT user_id, event_id AS label_event_id,
           CAST(COALESCE(n_clicks_before, 0) AS BIGINT) AS n_clicks_before,
           CAST(COALESCE((ts_us - last_error_us) // 1000000, -1) AS BIGINT)
             AS last_error_gap_s,
           CAST(COALESCE(views_prev_hour, 0) AS BIGINT) AS views_prev_hour
    FROM feat
    WHERE is_label = 1
    ORDER BY user_id, label_event_id
    """,
    tags=("ml", "feature-store", "point-in-time", "window"),
)
def q156_point_in_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time feature matrix for purchase labels: clicks-to-date,
    seconds since last error, and views in the trailing event-time hour —
    every frame ends strictly before the label row, so no feature can see
    the label's own instant or its future (the feature-store leakage
    contract, enforced by frame bounds instead of per-label subqueries).

    Scale shape: ONE user_id exchange serves all three window frames
    (two ROWS frames share a sort; the RANGE frame re-sorts task-locally
    on the same partitioning); cost is linear in events, never
    labels × history. New features are new window columns on the same
    exchange."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "is_label"
        ),
    )
    w_rows = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "is_label", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_range = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, -1)
    )
    feat = ev.select(
        "user_id",
        "event_id",
        "ts_us",
        "is_label",
        F.count(F.when(F.col("event_type") == "click", 1))
        .over(w_rows)
        .alias("n_clicks_before"),
        F.max(F.when(F.col("event_type") == "error", F.col("ts_us")))
        .over(w_rows)
        .alias("last_error_us"),
        F.count(F.when(F.col("event_type") == "view", 1))
        .over(w_range)
        .alias("views_prev_hour"),
    )
    return (
        feat.filter(F.col("is_label") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("label_event_id"),
            F.coalesce("n_clicks_before", F.lit(0))
            .cast("bigint")
            .alias("n_clicks_before"),
            F.coalesce(
                F.expr("(ts_us - last_error_us) DIV 1000000"), F.lit(-1)
            )
            .cast("bigint")
            .alias("last_error_gap_s"),
            F.coalesce("views_prev_hour", F.lit(0))
            .cast("bigint")
            .alias("views_prev_hour"),
        )
        .orderBy("user_id", "label_event_id")
    )


# ---------------------------------------------------------------------------
# q161 — trending entities (exact half-life decay)
# ---------------------------------------------------------------------------
# Recency-weighted activity ranking — "trending" — with the decay chosen
# so the score is EXACT: a one-day half-life means weight 2^(-age), and
# multiplying through by 2^max_age turns every term into the integer
# ``count_day << (max_age - age)`` — no floats, no truncation, identical
# ranking, portable SHIFTLEFT on both engines. The generic trending shape
# for tokens/items/domains; here ranked over users.
_TREND_TOP = 20


@register(
    "q161_trending_users",
    sql=f"""
    WITH daily AS (
      SELECT user_id, CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), anchor AS (
      SELECT MAX(day) AS maxd, MIN(day) AS mind FROM daily
    ), weighted AS (
      SELECT user_id,
             SUM(n * (CAST(1 AS BIGINT) << (maxd - day))) AS raw_score,
             SUM(n) AS total_events,
             MAX(day) AS last_day
      FROM daily, anchor
      WHERE maxd - day <= 62
      GROUP BY user_id
    )
    SELECT user_id,
           CAST(raw_score AS BIGINT) AS decayed_score_scaled,
           CAST(total_events AS BIGINT) AS total_events,
           last_day,
           CAST(ROW_NUMBER() OVER (ORDER BY raw_score DESC, user_id)
                AS BIGINT) AS rnk
    FROM weighted
    QUALIFY rnk <= {_TREND_TOP}
    ORDER BY rnk
    """,
    tags=("timeseries", "trending", "decay", "bi"),
)
def q161_trending_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending users: activity decayed with a one-day half-life, scored
    exactly as ``Σ count_day · 2^(max_day − day)`` — the scaled-integer
    form of exponential decay (same ranking, zero float drift), top
    {top} by score with total volume and last-seen day alongside.

    Scale shape: the event scan collapses to (user, day) cells map-side;
    decay weighting is integer arithmetic against a broadcast anchor;
    top-k via TakeOrderedAndProject. The decay window is a HARD trailing
    63-day horizon (``maxd − day ≤ 62``) enforced on both engines: the
    shift amount is thereby always in [0, 62], inside BIGINT — without
    the guard, Java shift semantics wrap the amount mod 64, silently
    corrupting scores on long histories (while DuckDB's ``<<`` behaves
    differently — engine divergence with no error). Days older than the
    horizon carry weight < 2⁻⁶² of the newest day, i.e. they are dropped,
    not shifted; score longer histories by re-anchoring per period."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    anchor = daily.agg(F.max("day").alias("maxd"))
    weighted = (
        daily.crossJoin(F.broadcast(anchor))
        .filter(F.expr("DATEDIFF(maxd, day) <= 62"))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.expr("n * SHIFTLEFT(CAST(1 AS BIGINT), DATEDIFF(maxd, day))")
            ).alias("raw_score"),
            F.sum("n").alias("total_events"),
            F.max("day").alias("last_day"),
        )
    )
    w = Window.orderBy(F.desc("raw_score"), F.asc("user_id"))
    return (
        weighted.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= _TREND_TOP)
        .select(
            "user_id",
            F.col("raw_score").cast("bigint").alias("decayed_score_scaled"),
            F.col("total_events").cast("bigint").alias("total_events"),
            "last_day",
            "rnk",
        )
        .orderBy("rnk")
    )


# ---------------------------------------------------------------------------
# q162 — cohort LTV curves (cumulative revenue by cohort age)
# ---------------------------------------------------------------------------
# The revenue companion to q36b's retention matrix: users cohorted by
# first-seen week, revenue accumulated by week-age — "how much has the
# week-W cohort earned per user by age K" — the curve that values an
# acquisition channel. Integer cents, cumulative via one window over the
# (cohort, age) cell table.


@register(
    "q162_cohort_ltv",
    sql="""
    WITH firsts AS (
      SELECT user_id, MIN(CAST(DATE_TRUNC('week', ts) AS DATE)) AS cohort
      FROM events GROUP BY user_id
    ), rev AS (
      SELECT f.cohort,
             (CAST(DATE_TRUNC('week', e.ts) AS DATE) - f.cohort) // 7 AS age_w,
             SUM(CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT)) AS cents
      FROM events e JOIN firsts f USING (user_id)
      WHERE e.event_type = 'purchase'
      GROUP BY 1, 2
    ), sizes AS (
      SELECT cohort, COUNT(*) AS n_users FROM firsts GROUP BY cohort
    )
    SELECT r.cohort, CAST(r.age_w AS BIGINT) AS age_w,
           CAST(s.n_users AS BIGINT) AS cohort_users,
           CAST(r.cents AS BIGINT) AS week_cents,
           CAST(SUM(r.cents) OVER (PARTITION BY r.cohort ORDER BY r.age_w
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_cents,
           CAST(SUM(r.cents) OVER (PARTITION BY r.cohort ORDER BY r.age_w
                                   ROWS UNBOUNDED PRECEDING) // s.n_users
                AS BIGINT) AS cum_cents_per_user
    FROM rev r JOIN sizes s USING (cohort)
    ORDER BY cohort, age_w
    """,
    tags=("bi", "cohort", "ltv", "window"),
)
def q162_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users cohorted by first-seen week,
    purchase revenue accumulated by week-age, absolute and per-user —
    the report that says which acquisition week pays back (q36b's
    retention counts with money attached).

    Scale shape: first-seen is one user rollup; revenue collapses to the
    (cohort, age) cell table before the cumulative window (≤ weeks²
    cells); cohort sizes broadcast. Integer cents throughout."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("week", "ts").cast("date")).alias("cohort")
    )
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .groupBy(
            "cohort",
            F.expr(
                "CAST(DATEDIFF(CAST(DATE_TRUNC('week', ts) AS DATE), cohort) "
                "DIV 7 AS BIGINT)"
            ).alias("age_w"),
        )
        .agg(
            F.sum(F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)")).alias(
                "cents"
            )
        )
    )
    sizes = firsts.groupBy("cohort").agg(F.count(F.lit(1)).alias("n_users"))
    w = (
        Window.partitionBy("cohort")
        .orderBy("age_w")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        rev.join(F.broadcast(sizes), "cohort")
        .withColumn("cum_cents", F.sum("cents").over(w))
        .select(
            "cohort",
            F.col("age_w").cast("bigint").alias("age_w"),
            F.col("n_users").cast("bigint").alias("cohort_users"),
            F.col("cents").cast("bigint").alias("week_cents"),
            F.col("cum_cents").cast("bigint").alias("cum_cents"),
            F.expr("CAST(cum_cents DIV n_users AS BIGINT)").alias(
                "cum_cents_per_user"
            ),
        )
        .orderBy("cohort", "age_w")
    )


# ---------------------------------------------------------------------------
# q163 — numeric drift (quantile-shift table between snapshots)
# ---------------------------------------------------------------------------
# The numeric companion to q159's vocabulary drift: compare a feature's
# distribution between two time slices by the shift at each decile —
# PSI-style summaries need logs; the decile-shift table is exact (q28's
# order-statistic convention), actionable (WHERE the distribution moved),
# and hash-checkable. Snapshots: first vs second half of the event
# window, split at the exact midpoint microsecond.


@register(
    "q163_numeric_drift",
    sql="""
    WITH bounds AS (
      SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid FROM events
    ), tagged AS (
      SELECT CASE WHEN epoch_us(ts) < mid THEN 'a' ELSE 'b' END AS snap,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
             event_id
      FROM events, bounds
    ), ranked AS (
      SELECT snap, cents,
             ROW_NUMBER() OVER (PARTITION BY snap ORDER BY cents, event_id)
               AS rn,
             COUNT(*) OVER (PARTITION BY snap) AS n
      FROM tagged
    ), deciles AS (
      SELECT snap, d.q,
             MAX(CASE WHEN rn = 1 + CAST(FLOOR(d.q * (n - 1) / 10.0)
                                         AS BIGINT)
                      THEN cents END) AS v
      FROM ranked, (SELECT UNNEST(RANGE(1, 10)) AS q) d
      GROUP BY snap, d.q
    )
    SELECT a.q AS decile,
           CAST(a.v AS BIGINT) AS cents_a,
           CAST(b.v AS BIGINT) AS cents_b,
           CAST(b.v - a.v AS BIGINT) AS shift_cents
    FROM deciles a JOIN deciles b ON a.q = b.q AND a.snap = 'a' AND b.snap = 'b'
    ORDER BY decile
    """,
    tags=("monitoring", "drift", "distribution-shift", "percentile"),
)
def q163_numeric_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile-shift drift table for the event value: exact order-statistic
    deciles (q28's convention) in each half of the time window and the
    signed shift at every decile — the numeric-feature drift monitor
    (where q159 watches the vocabulary). Stationary fixtures show noise-
    level shifts; a real input change shows up at the deciles it moved.

    Scale shape: one snap-keyed window over integer cents; the decile
    probe is a 9-row broadcast; output is 9 rows. At 100 TB swap the
    exact rank for percentile_approx per snapshot — the comparison
    logic is unchanged (q16s's documented trade)."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.expr("(MIN(unix_micros(ts)) + MAX(unix_micros(ts))) DIV 2").alias(
            "mid"
        )
    )
    tagged = ev.crossJoin(F.broadcast(bounds)).select(
        F.when(F.unix_micros("ts") < F.col("mid"), "a").otherwise("b").alias(
            "snap"
        ),
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
        "event_id",
    )
    w = Window.partitionBy("snap").orderBy("cents", "event_id")
    wn = Window.partitionBy("snap")
    ranked = tagged.select(
        "snap",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    qs = spark.range(1, 10).select(F.col("id").alias("q"))
    deciles = (
        ranked.crossJoin(F.broadcast(qs))
        .groupBy("snap", "q")
        .agg(
            F.max(
                F.when(
                    F.col("rn")
                    == 1
                    + F.floor(
                        F.col("q") * (F.col("n") - 1) / 10.0
                    ).cast("bigint"),
                    F.col("cents"),
                )
            ).alias("v")
        )
    )
    a = deciles.filter(F.col("snap") == "a").select(
        F.col("q").alias("decile"), F.col("v").alias("cents_a")
    )
    b = deciles.filter(F.col("snap") == "b").select(
        F.col("q").alias("decile"), F.col("v").alias("cents_b")
    )
    return (
        a.join(b, "decile")
        .select(
            F.col("decile").cast("bigint").alias("decile"),
            F.col("cents_a").cast("bigint").alias("cents_a"),
            F.col("cents_b").cast("bigint").alias("cents_b"),
            (F.col("cents_b") - F.col("cents_a"))
            .cast("bigint")
            .alias("shift_cents"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# q168 — funnel conversion-latency distribution (exact order statistics)
# ---------------------------------------------------------------------------
# q101 reports WHO converts; this reports HOW FAST — the exact quantiles of
# per-step latency (view→click, click→purchase, end-to-end) in whole
# seconds, using q28/q149's portable lower-order-statistic convention
# (rank 1 + FLOOR(q·(n−1)), fully deterministic tie-breaks) so every cell
# hash-matches. The latency distribution is the product signal (a p75
# regression means friction) that a mean alone hides.


@register(
    "q168_funnel_latency",
    sql=f"""
    WITH s1 AS (
      SELECT user_id, MIN(epoch_us(ts)) AS t1
      FROM events WHERE event_type = '{_FUNNEL[0]}' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = '{_FUNNEL[1]}' AND epoch_us(e.ts) > s1.t1
        AND epoch_us(e.ts) <= s1.t1 + {_FUNNEL_STEP_US}
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = '{_FUNNEL[2]}' AND epoch_us(e.ts) > s2.t2
        AND epoch_us(e.ts) <= s2.t2 + {_FUNNEL_STEP_US}
      GROUP BY e.user_id
    ), lat AS (
      SELECT '1_view_to_click' AS segment, s2.user_id,
             (s2.t2 - s1.t1) // 1000000 AS lat_s
      FROM s2 JOIN s1 ON s2.user_id = s1.user_id
      UNION ALL
      SELECT '2_click_to_purchase', s3.user_id,
             (s3.t3 - s2.t2) // 1000000
      FROM s3 JOIN s2 ON s3.user_id = s2.user_id
      UNION ALL
      SELECT '3_view_to_purchase', s3.user_id,
             (s3.t3 - s1.t1) // 1000000
      FROM s3 JOIN s1 ON s3.user_id = s1.user_id
    ), ranked AS (
      SELECT segment, lat_s,
             ROW_NUMBER() OVER (PARTITION BY segment
                                ORDER BY lat_s, user_id) AS rn,
             COUNT(*) OVER (PARTITION BY segment) AS n
      FROM lat
    )
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(MIN(lat_s) AS BIGINT) AS min_s,
           CAST(MAX(CASE WHEN rn = 1 + CAST(FLOOR(0.25 * (n - 1)) AS BIGINT)
                    THEN lat_s END) AS BIGINT) AS p25_s,
           CAST(MAX(CASE WHEN rn = 1 + CAST(FLOOR(0.5 * (n - 1)) AS BIGINT)
                    THEN lat_s END) AS BIGINT) AS median_s,
           CAST(MAX(CASE WHEN rn = 1 + CAST(FLOOR(0.75 * (n - 1)) AS BIGINT)
                    THEN lat_s END) AS BIGINT) AS p75_s,
           CAST(MAX(lat_s) AS BIGINT) AS max_s
    FROM ranked
    GROUP BY segment
    ORDER BY segment
    """,
    tags=("events", "funnel", "latency", "analytics"),
)
def q168_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel latency distribution: exact {{min, p25, median, p75, max}}
    of step and end-to-end conversion latency in whole seconds, per
    funnel segment, over q101's sequenced-conversion semantics (first
    qualifying event per step, 24 h step windows).

    Scale shape: q101's chain of one-row-per-user aggregates, then ONE
    segment-keyed window over (converted users × 3 segments) rows — the
    quantile input is funnel-sized, never event-sized."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    s1 = (
        e.filter(F.col("event_type") == _FUNNEL[0])
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t1"))
    )
    s2 = (
        e.filter(F.col("event_type") == _FUNNEL[1])
        .join(s1, "user_id")
        .filter(
            (F.col("ts_us") > F.col("t1"))
            & (F.col("ts_us") <= F.col("t1") + F.lit(_FUNNEL_STEP_US))
        )
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == _FUNNEL[2])
        .join(s2, "user_id")
        .filter(
            (F.col("ts_us") > F.col("t2"))
            & (F.col("ts_us") <= F.col("t2") + F.lit(_FUNNEL_STEP_US))
        )
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t3"))
    )
    lat = (
        s2.join(s1, "user_id")
        .select(
            F.lit("1_view_to_click").alias("segment"),
            "user_id",
            F.expr("(t2 - t1) DIV 1000000").alias("lat_s"),
        )
        .unionByName(
            s3.join(s2, "user_id").select(
                F.lit("2_click_to_purchase").alias("segment"),
                "user_id",
                F.expr("(t3 - t2) DIV 1000000").alias("lat_s"),
            )
        )
        .unionByName(
            s3.join(s1, "user_id").select(
                F.lit("3_view_to_purchase").alias("segment"),
                "user_id",
                F.expr("(t3 - t1) DIV 1000000").alias("lat_s"),
            )
        )
    )
    w = Window.partitionBy("segment").orderBy("lat_s", "user_id")
    wn = Window.partitionBy("segment")
    ranked = lat.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )

    def _q(q: str, alias: str) -> F.Column:
        return F.expr(
            f"CAST(MAX(CASE WHEN rn = 1 + CAST(FLOOR({q} * (n - 1)) AS BIGINT)"
            f" THEN lat_s END) AS BIGINT)"
        ).alias(alias)

    return (
        ranked.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.min("lat_s").cast("bigint").alias("min_s"),
            _q("0.25", "p25_s"),
            _q("0.5", "median_s"),
            _q("0.75", "p75_s"),
            F.max("lat_s").cast("bigint").alias("max_s"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# q172 — CUPED variance-reduced experiment readout
# ---------------------------------------------------------------------------
# The experimentation-platform upgrade to q154: CUPED (Controlled-experiment
# Using Pre-Experiment Data) regresses the post-period metric on the
# pre-period covariate and reads out the ADJUSTED means — same expectation,
# materially lower variance, so experiments conclude earlier. All
# arithmetic is exact integers: cents-scale centered moments (bounded well
# inside BIGINT at fixture scales), θ in milli via truncating division.
# Portability note: integer division of NEGATIVE values truncates toward
# zero on BOTH engines (Spark DIV and DuckDB // — verified -7÷2 = -3 on
# both), so the signed covariance/deviation arithmetic here hash-matches;
# the repo's earlier non-negative-numerator discipline was conservative.


@register(
    "q172_cuped_readout",
    sql=f"""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS ts_us,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ), span AS (
      SELECT (MIN(ts_us) + MAX(ts_us)) // 2 AS mid FROM ev
    ), per_user AS (
      SELECT user_id,
             COALESCE(SUM(CASE WHEN ts_us <= mid THEN cents END), 0) AS x,
             COALESCE(SUM(CASE WHEN ts_us > mid THEN cents END), 0) AS y
      FROM ev, span GROUP BY user_id
    ), assigned AS (
      SELECT user_id, x, y,
             {duckdb_hash32("CAST(user_id AS VARCHAR)", seed="exp1")} % 2 AS arm
      FROM per_user
    ), gstats AS (
      SELECT COUNT(*) AS n, SUM(x) // COUNT(*) AS xbar_c FROM assigned
    ), dev AS (
      SELECT arm, user_id, x, y, (x - xbar_c) AS dx FROM assigned, gstats
    ), theta AS (
      SELECT (1000 * SUM(dx * y)) // NULLIF(SUM(dx * dx), 0) AS theta_milli
      FROM dev
    ), adj AS (
      SELECT arm, user_id, y,
             (1000 * y - theta_milli * dx) // 1000 AS y_adj_c
      FROM dev, theta
    ), arm_means AS (
      SELECT arm, COUNT(*) AS n_arm,
             SUM(y) // COUNT(*) AS ybar_c,
             SUM(y_adj_c) // COUNT(*) AS yabar_c
      FROM adj GROUP BY arm
    )
    SELECT a.arm,
           CAST(m.n_arm AS BIGINT) AS n_users,
           CAST((1000 * SUM(a.y)) // m.n_arm AS BIGINT) AS mean_y_milli,
           CAST((1000 * SUM(a.y_adj_c)) // m.n_arm AS BIGINT)
             AS mean_yadj_milli,
           CAST(MAX(t.theta_milli) AS BIGINT) AS theta_milli,
           CAST(1000 - (1000 * SUM((a.y_adj_c - m.yabar_c)
                                   * (a.y_adj_c - m.yabar_c)))
                // NULLIF(SUM((a.y - m.ybar_c) * (a.y - m.ybar_c)), 0)
                AS BIGINT) AS var_reduction_pm
    FROM adj a JOIN arm_means m USING (arm) CROSS JOIN theta t
    GROUP BY a.arm, m.n_arm
    ORDER BY a.arm
    """,
    tags=("experimentation", "ab-test", "cuped", "variance-reduction"),
)
def q172_cuped_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED readout: per hash-assigned arm (q154's assignment), the raw
    and covariate-adjusted mean post-period spend (milli-cents), the
    pooled regression coefficient θ (milli), and the achieved variance
    reduction in per-mille — the Deng et al. estimator
    ``Y_adj = Y − θ·(X − X̄)`` with X the pre-period spend of the same
    user, in exact integer arithmetic end to end (floor-mean centering,
    truncating division — verified identical for signed values on both
    engines).

    Scale shape: ONE user_id-keyed aggregation builds (x, y) per user;
    the global mean, θ, and per-arm means are rows-sized broadcasts; the
    adjustment is map-side arithmetic. The corpus-level moment sums
    (Σdx·y, Σdx², the squared-deviation sums, 1000·Σy) accumulate in
    DECIMAL(38,0) on the Spark side — matching the oracle's HUGEINT
    promotion — so the readout stays exact at any user count; per-user
    row values remain BIGINT-bounded by the cents scale."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    span = ev.agg(F.expr("(MIN(ts_us) + MAX(ts_us)) DIV 2").alias("mid"))
    per_user = (
        ev.crossJoin(F.broadcast(span))
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.expr("CASE WHEN ts_us <= mid THEN cents END")),
                F.lit(0),
            ).alias("x"),
            F.coalesce(
                F.sum(F.expr("CASE WHEN ts_us > mid THEN cents END")),
                F.lit(0),
            ).alias("y"),
        )
    )
    assigned = per_user.withColumn(
        "arm", F.expr(spark_hash32("CAST(user_id AS STRING)", seed="exp1")) % 2
    )
    glob = assigned.agg(
        F.expr("SUM(x) DIV COUNT(*)").alias("xbar_c")
    )
    dev = assigned.crossJoin(F.broadcast(glob)).withColumn(
        "dx", F.col("x") - F.col("xbar_c")
    )
    # moment sums in DECIMAL(38,0): dx·y per user reaches cents², and the
    # corpus-level Σdx·y / Σdx² wrap BIGINT well inside realistic user
    # counts — Spark would wrap silently while the oracle's SUM promotes
    # to HUGEINT (q92/q93 class); decimal keeps both sides exact and the
    # truncating DIV is verified identical for signed values
    theta = dev.agg(
        F.expr(
            "(1000 * SUM(CAST(dx AS DECIMAL(38,0)) * y))"
            " DIV NULLIF(SUM(CAST(dx AS DECIMAL(38,0)) * dx), 0)"
        ).alias("theta_milli")
    )
    adj = dev.crossJoin(F.broadcast(theta)).withColumn(
        "y_adj_c", F.expr("(1000 * y - theta_milli * dx) DIV 1000")
    )
    arm_means = adj.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_arm"),
        F.expr("SUM(y) DIV COUNT(*)").alias("ybar_c"),
        F.expr("SUM(y_adj_c) DIV COUNT(*)").alias("yabar_c"),
    )
    return (
        adj.join(F.broadcast(arm_means), "arm")
        .groupBy("arm", "n_arm")
        .agg(
            F.expr(
                "CAST((1000 * SUM(CAST(y AS DECIMAL(38,0)))) DIV n_arm"
                " AS BIGINT)"
            ).alias("mean_y_milli"),
            F.expr(
                "CAST((1000 * SUM(CAST(y_adj_c AS DECIMAL(38,0)))) DIV n_arm"
                " AS BIGINT)"
            ).alias("mean_yadj_milli"),
            F.expr("CAST(MAX(theta_milli) AS BIGINT)").alias("theta_milli"),
            F.expr(
                "CAST(1000 - (1000 * SUM(CAST(y_adj_c - yabar_c"
                " AS DECIMAL(38,0)) * (y_adj_c - yabar_c)))"
                " DIV NULLIF(SUM(CAST(y - ybar_c AS DECIMAL(38,0))"
                " * (y - ybar_c)), 0)"
                " AS BIGINT)"
            ).alias("var_reduction_pm"),
        )
        .select(
            "arm",
            F.col("n_arm").cast("bigint").alias("n_users"),
            "mean_y_milli",
            "mean_yadj_milli",
            "theta_milli",
            "var_reduction_pm",
        )
        .orderBy("arm")
    )


# ---------------------------------------------------------------------------
# q188 — behavioral entropy distribution (per-user event-type entropy)
# ---------------------------------------------------------------------------
# The user-behavior twin of q112's document surprisal: per user, the
# entropy of their event-type distribution — the standard bot/monoculture
# signal (entropy ~0: a user that only ever fires one event type; high
# entropy: diverse organic usage).  Training-data pipelines use exactly
# this to down-weight single-behavior accounts before sessionized corpora
# are exported.  Entropy uses the repo's integer floor-log2 idiom
# (LENGTH(BIN(n DIV c)) — q112's portable bits stand-in), so every engine
# agrees exactly; users are then rolled up into half-"bit" bands.
_Q188_BAND_MILLI = 500  # band width: 0.5 floor-log2 "bits" in milli units


@register(
    "q188_user_event_entropy",
    sql=f"""
    WITH ut AS (
      SELECT user_id, event_type, COUNT(*) AS c
      FROM events GROUP BY user_id, event_type
    ), wu AS (
      SELECT user_id, c, SUM(c) OVER (PARTITION BY user_id) AS n
      FROM ut
    ), per_user AS (
      SELECT user_id, ANY_VALUE(n) AS n, COUNT(*) AS k,
             CAST(CAST(1000 AS HUGEINT)
                  * SUM(c * LENGTH(BIN(n // c)))
                  // ANY_VALUE(n) AS BIGINT) AS ent_milli
      FROM wu GROUP BY user_id
    )
    SELECT CAST(ent_milli // {_Q188_BAND_MILLI} AS BIGINT) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(CAST(SUM(k) AS HUGEINT) * 1000 // COUNT(*) AS BIGINT)
             AS mean_types_milli
    FROM per_user
    GROUP BY band
    ORDER BY band
    """,
    tags=("events", "entropy", "quality", "exact-integer"),
)
def q188_user_event_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of per-user event-type entropy: each user scored by
    the integer floor-log2 entropy of their event-type counts (q112's
    LENGTH(BIN(n DIV c)) idiom, in milli-units), then banded into
    {_Q188_BAND_MILLI}-milli buckets with user count, event mass, and
    mean distinct-type count per band — the bot/monoculture screen run
    before behavioral corpora are exported.

    Scale shape: one (user_id, event_type) partial aggregation collapses
    the event stream to at most |users|x|types| rows before any other
    exchange; the per-user total rides a window over that collapsed
    table partitioned on the SAME key (no extra shuffle after the
    user-keyed exchange), and the band rollup aggregates the per-user
    table (|users| rows).  Products are DECIMAL(38,0)/HUGEINT per the
    overflow idiom — 1000·sum(c·bits) wraps BIGINT near 1e14 events per
    user.
    """
    ev = table(spark, sf_dir, "events")
    ut = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    from pyspark.sql import Window

    wu = ut.withColumn(
        "n", F.sum("c").over(Window.partitionBy("user_id"))
    )
    per_user = wu.groupBy("user_id").agg(
        F.first("n").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.expr(
            "CAST(CAST(1000 AS DECIMAL(38,0))"
            " * SUM(c * LENGTH(BIN(n DIV c)))"
            " DIV FIRST(n) AS BIGINT)"
        ).alias("ent_milli"),
    )
    return (
        per_user.groupBy(
            F.expr(f"CAST(ent_milli DIV {_Q188_BAND_MILLI} AS BIGINT)").alias(
                "band"
            )
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("n").cast("bigint").alias("n_events"),
            F.expr(
                "CAST(CAST(SUM(k) AS DECIMAL(38,0)) * 1000"
                " DIV COUNT(*) AS BIGINT)"
            ).alias("mean_types_milli"),
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# q198 — per-user contribution cap audit (sensitivity / quota planning)
# ---------------------------------------------------------------------------
# Two pipelines need the same report: user-level differential privacy
# caps each user's contribution to an aggregate (the cap IS the
# sensitivity bound, and utility lost to clipping must be measured
# before choosing it), and training-data quotas cap examples-per-user to
# stop one prolific account dominating a source. This is the cap-ladder
# census: per event type, the user-contribution distribution and the
# fraction of events retained under each candidate cap.
_Q198_CAPS = (2, 8, 32, 128)


def _q198_kept(engine_div: str) -> str:
    """kept_ppm columns for each cap rung — Σ min(c, C) · 1e6 / Σ c with
    the DECIMAL/HUGEINT widening idiom (100 TB event counts put the 1e6
    product past BIGINT)."""
    wide = "DECIMAL(38,0)" if engine_div == "DIV" else "HUGEINT"
    return ", ".join(
        f"CAST(CAST(SUM(LEAST(c, {cap})) AS {wide}) * 1000000 "
        f"{engine_div} SUM(c) AS BIGINT) AS kept_ppm_c{cap}"
        for cap in _Q198_CAPS
    )


@register(
    "q198_contribution_cap",
    sql=f"""
    WITH contrib AS (
      SELECT event_type, user_id, COUNT(*) AS c
      FROM events GROUP BY event_type, user_id
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(c) AS BIGINT) AS n_events,
           CAST(MAX(c) AS BIGINT) AS max_contrib,
           {_q198_kept("//")}
    FROM contrib
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("privacy", "quota", "events", "audit"),
)
def q198_contribution_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user contribution cap ladder (spec in the module comment): for
    each event type, the user count, event count, the heaviest single
    user, and the ppm of events retained under caps of
    {2, 8, 32, 128} per user — the report that picks a DP sensitivity
    bound or a per-user training quota with its utility cost known.

    Scale shape: one (event_type, user)-keyed partial aggregation — the
    event stream collapses map-side to at most |types|·|users| rows —
    then one |types|-keyed rollup where every cap rung is a LEAST() over
    the same counter (no per-cap scans). The 1e6 products ride the
    DECIMAL(38,0)/HUGEINT widening idiom.
    """
    e = table(spark, sf_dir, "events")
    contrib = e.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        contrib.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("c").cast("bigint").alias("n_events"),
            F.max("c").cast("bigint").alias("max_contrib"),
            *[
                F.expr(
                    f"CAST(CAST(SUM(LEAST(c, {cap})) AS DECIMAL(38,0))"
                    f" * 1000000 DIV SUM(c) AS BIGINT)"
                ).alias(f"kept_ppm_c{cap}")
                for cap in _Q198_CAPS
            ],
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q199 — watermark sizing audit (event-time disorder census)
# ---------------------------------------------------------------------------
# Every streaming config hides one number: the watermark delay. Too small
# and late events are dropped (q33's contract); too large and state grows
# for nothing. The number comes from THIS census: replay the stream in
# arrival order (event_id is the arrival proxy), track the running
# maximum event time, and measure each event's lateness against it —
# exactly the disorder a watermark must absorb. Banded per event type:
# on-time, ≤ 1 min, ≤ 10 min, beyond.
_Q199_1M_US = 60_000_000
_Q199_10M_US = 600_000_000


@register(
    "q199_watermark_sizing",
    sql=f"""
    WITH arr AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
             MAX(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
               PARTITION BY event_type ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS runmax_us
      FROM events
    ), late AS (
      SELECT event_type, runmax_us - t_us AS late_us FROM arr
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(CASE WHEN late_us > 0 THEN 1 END) AS BIGINT) AS n_late,
           CAST(CAST(COUNT(CASE WHEN late_us > 0 THEN 1 END) AS HUGEINT)
                * 1000000 // COUNT(*) AS BIGINT) AS late_ppm,
           CAST(MAX(late_us) AS BIGINT) AS max_late_us,
           CAST(COUNT(CASE WHEN late_us > 0 AND late_us <= {_Q199_1M_US}
                      THEN 1 END) AS BIGINT) AS n_within_1m,
           CAST(COUNT(CASE WHEN late_us > {_Q199_1M_US}
                       AND late_us <= {_Q199_10M_US}
                      THEN 1 END) AS BIGINT) AS n_within_10m,
           CAST(COUNT(CASE WHEN late_us > {_Q199_10M_US} THEN 1 END)
                AS BIGINT) AS n_beyond_10m
    FROM late
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("streaming", "watermark", "audit", "events"),
)
def q199_watermark_sizing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time disorder census for watermark sizing (spec in the module
    comment): per event type, how many events arrive behind the running
    event-time maximum, by how much (max + 1 min / 10 min bands), and the
    late fraction in ppm — read the band that covers your loss budget and
    that is the watermark delay.

    Scale shape: one ordered running-max window per event type (shuffle
    on type + in-partition sort by arrival id), then a type-keyed
    rollup. Like q16/q37, the exact form pins semantics with a
    single-partition-per-type sort; the production twin two-passes it —
    running max of per-bucket maxima over coarse arrival buckets, then
    within-bucket — when one type's stream outgrows a partition. The
    ppm product rides the DECIMAL(38,0)/HUGEINT widening idiom.
    """
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t_us = F.unix_micros("ts")
    late = e.select(
        "event_type",
        (F.max(t_us).over(w) - t_us).alias("late_us"),
    )
    return (
        late.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.count(F.when(F.col("late_us") > 0, 1))
            .cast("bigint")
            .alias("n_late"),
            F.expr(
                "CAST(CAST(COUNT(CASE WHEN late_us > 0 THEN 1 END)"
                " AS DECIMAL(38,0)) * 1000000 DIV COUNT(*) AS BIGINT)"
            ).alias("late_ppm"),
            F.max("late_us").cast("bigint").alias("max_late_us"),
            F.count(
                F.when(
                    (F.col("late_us") > 0)
                    & (F.col("late_us") <= _Q199_1M_US),
                    1,
                )
            )
            .cast("bigint")
            .alias("n_within_1m"),
            F.count(
                F.when(
                    (F.col("late_us") > _Q199_1M_US)
                    & (F.col("late_us") <= _Q199_10M_US),
                    1,
                )
            )
            .cast("bigint")
            .alias("n_within_10m"),
            F.count(F.when(F.col("late_us") > _Q199_10M_US, 1))
            .cast("bigint")
            .alias("n_beyond_10m"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q200 — session gap sizing (inter-event gap census)
# ---------------------------------------------------------------------------
# The second streaming knob (q199 sizes the first): session windows (q32)
# need a gap timeout. Size it from the inter-event gap distribution —
# every per-user gap, banded at the candidate timeouts, with the ppm of
# gaps each timeout would MERGE (gap <= timeout keeps the session alive).
# q136 measures sessions under one fixed gap; this census is how that
# gap gets chosen.
_Q200_BANDS_US = (
    ("le_5m", 300_000_000),
    ("le_30m", 1_800_000_000),
    ("le_2h", 7_200_000_000),
)


@register(
    "q200_session_gap_sizing",
    sql=f"""
    WITH gaps AS (
      SELECT epoch_us(CAST(ts AS TIMESTAMP))
               - LAG(epoch_us(CAST(ts AS TIMESTAMP)))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    ), g AS (
      SELECT gap_us FROM gaps WHERE gap_us IS NOT NULL
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_gaps,
      CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
      {", ".join(
        f'''CAST(COUNT(CASE WHEN gap_us <= {us} THEN 1 END) AS BIGINT)
              AS n_{name},
            CAST(CAST(COUNT(CASE WHEN gap_us <= {us} THEN 1 END) AS HUGEINT)
              * 1000000 // COUNT(*) AS BIGINT) AS merged_ppm_{name}'''
        for name, us in _Q200_BANDS_US
      )}
    FROM g
    """,
    tags=("streaming", "sessionization", "audit", "events"),
)
def q200_session_gap_sizing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap census for session-timeout sizing (spec in the
    module comment): per-user consecutive-event gaps, counted and
    expressed as merged-ppm under candidate timeouts of 5 min / 30 min /
    2 h — pick the band where the merged fraction plateaus and that is
    the session gap; q32/q136 then run with a measured number instead of
    folklore.

    Scale shape: one per-user LAG window (shuffle on user_id — the
    natural sessionization key, uniformly distributed) collapsing
    immediately to a gap column, then a single global partial-aggregated
    rollup (every band is a CASE over the same value — one pass, no
    per-band scans). The ppm products ride the DECIMAL(38,0)/HUGEINT
    widening idiom.
    """
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t_us = F.unix_micros("ts")
    gaps = e.select((t_us - F.lag(t_us).over(w)).alias("gap_us")).filter(
        F.col("gap_us").isNotNull()
    )
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.max("gap_us").cast("bigint").alias("max_gap_us"),
    ]
    for name, us in _Q200_BANDS_US:
        aggs.append(
            F.count(F.when(F.col("gap_us") <= us, 1))
            .cast("bigint")
            .alias(f"n_{name}")
        )
        aggs.append(
            F.expr(
                f"CAST(CAST(COUNT(CASE WHEN gap_us <= {us} THEN 1 END)"
                f" AS DECIMAL(38,0)) * 1000000 DIV COUNT(*) AS BIGINT)"
            ).alias(f"merged_ppm_{name}")
        )
    return gaps.agg(*aggs)


# ---------------------------------------------------------------------------
# q215 — time-decayed activity score (integer-exact exponential decay)
# ---------------------------------------------------------------------------
# Recency-weighted scoring — "active NOW beats active last month" — is
# usually an exponential decay exp(-age/τ), which is float pow and not
# portable across engines. The integer-exact form: half-life decay as a
# RIGHT SHIFT of a fixed-point unit weight, weight = 10⁶ >> (age_days
# DIV half_life). Pure BIGINT arithmetic, identical on every engine and
# partitioning, and mergeable (weights are per-event, the score is a
# plain SUM — partial aggregation works unchanged, which also makes it
# a valid streaming accumulator as long as the anchor day is frozen per
# window). Anchor = the corpus max event date (broadcast 1-row), so the
# query is deterministic on a fixed fixture. The census pairs each
# user's decayed score with the raw count — the two rankings disagree
# exactly where recency matters.
_Q215_HALF_LIFE_DAYS = 2
_Q215_UNIT = 1_000_000
_Q215_TOP = 30
_Q215_MAX_SHIFT = 40  # ages past ~27 half-lives contribute 0 anyway


@register(
    "q215_decayed_activity",
    sql=f"""
    WITH anchor AS (
      SELECT CAST(MAX(ts) AS DATE) AS d0 FROM events
    ), weighted AS (
      SELECT user_id,
             {_Q215_UNIT} >> LEAST(
               CAST(a.d0 - CAST(ts AS DATE) AS BIGINT)
                 // {_Q215_HALF_LIFE_DAYS},
               {_Q215_MAX_SHIFT}) AS w
      FROM events CROSS JOIN anchor a
    )
    SELECT user_id,
           CAST(SUM(w) AS BIGINT) AS decayed_micro,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM weighted
    GROUP BY user_id
    ORDER BY decayed_micro DESC, user_id
    LIMIT {_Q215_TOP}
    """,
    tags=("events", "timeseries", "decay", "exact-integer", "agg"),
)
def q215_decayed_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 users by half-life-decayed activity (module comment):
    score = Σ 10⁶ >> (age_days DIV 2) over each user's events, anchored
    at the corpus max event date.

    Scale shape: the anchor is a broadcast 1-row cross join (stays in
    the plan, no collect); the weight is one map-side shift expression;
    the score is an ordinary partially-aggregated SUM keyed on user;
    top-30 plans as TakeOrderedAndProject. Streaming twin: freeze the
    anchor per trigger window and the same SUM is the state update.
    """
    e = table(spark, sf_dir, "events")
    anchor = e.agg(F.expr("CAST(MAX(ts) AS DATE)").alias("d0"))
    return (
        e.crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            F.expr(
                f"SHIFTRIGHT({_Q215_UNIT}, LEAST("
                f"DATEDIFF(d0, CAST(ts AS DATE)) DIV {_Q215_HALF_LIFE_DAYS},"
                f" {_Q215_MAX_SHIFT}))"
            ).alias("w"),
        )
        .groupBy("user_id")
        .agg(
            F.sum("w").cast("bigint").alias("decayed_micro"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
        .orderBy(F.desc("decayed_micro"), F.asc("user_id"))
        .limit(_Q215_TOP)
    )


# ---------------------------------------------------------------------------
# q227 — burstiness screen (peak-to-mean event rate per user)
# ---------------------------------------------------------------------------
# q188's entropy catches MONOCULTURE (one event type forever); bots also
# show up as BURSTS — hundreds of events in one minute from an account
# that averages two per hour. The exact integer screen: per user, the
# busiest minute's count vs the mean per ACTIVE minute, as a milli
# ratio (peak·1000·active_minutes DIV total); high ratio = machine-gun
# traffic, ratio ≈ 1000 = steady. Top-20 burstiest with the raw pieces
# alongside (peak alone is meaningless without the denominator).
_Q227_TOP = 20
_Q227_MIN_EVENTS = 50  # screen only accounts with enough mass to judge


@register(
    "q227_burstiness_screen",
    sql=f"""
    WITH minutes AS (
      SELECT user_id, DATE_TRUNC('minute', CAST(ts AS TIMESTAMP)) AS minute,
             COUNT(*) AS c
      FROM events GROUP BY user_id, minute
    ), per_user AS (
      SELECT user_id,
             CAST(MAX(c) AS BIGINT) AS peak_minute,
             CAST(SUM(c) AS BIGINT) AS n_events,
             CAST(COUNT(*) AS BIGINT) AS active_minutes
      FROM minutes GROUP BY user_id
    )
    SELECT user_id, peak_minute, n_events, active_minutes,
           CAST(peak_minute * 1000 * active_minutes // n_events AS BIGINT)
             AS burst_milli
    FROM per_user
    WHERE n_events >= {_Q227_MIN_EVENTS}
    ORDER BY burst_milli DESC, user_id
    LIMIT {_Q227_TOP}
    """,
    tags=("events", "audit", "monitoring", "exact-integer"),
)
def q227_burstiness_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 burstiest accounts by exact peak-to-mean minute rate
    (module comment) — the temporal bot screen beside q188's
    type-entropy screen.

    Scale shape: one (user, minute) partial aggregation (combines
    map-side — the minute key bounds rows per task), one per-user
    rollup, TakeOrderedAndProject for the top-20. The ratio is pure
    BIGINT (peak·1000·minutes stays far inside 2^63 at any plausible
    per-user history).
    """
    e = table(spark, sf_dir, "events")
    minutes = e.groupBy(
        "user_id", F.date_trunc("minute", F.col("ts")).alias("minute")
    ).agg(F.count(F.lit(1)).alias("c"))
    per_user = minutes.groupBy("user_id").agg(
        F.max("c").cast("bigint").alias("peak_minute"),
        F.sum("c").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).cast("bigint").alias("active_minutes"),
    )
    return (
        per_user.filter(F.col("n_events") >= _Q227_MIN_EVENTS)
        .withColumn(
            "burst_milli",
            F.expr(
                "CAST(peak_minute * 1000 * active_minutes DIV n_events"
                " AS BIGINT)"
            ),
        )
        .orderBy(F.desc("burst_milli"), F.asc("user_id"))
        .limit(_Q227_TOP)
    )


# ---------------------------------------------------------------------------
# q228 — recursive CTE: reachability over the modal journey graph
# ---------------------------------------------------------------------------
# Spark 4 added WITH RECURSIVE; this registers the repo's first
# recursive-CTE operator on a shape that needs one: take each event
# type's MODAL next step (q102's transition matrix reduced to its top
# outgoing edge — the "usual journey" graph), then walk it recursively
# from the entry type and report the minimum hop count to every
# reachable type. The walk is the SQL-native form of the BFS the graph
# kernels do iteratively; the hop guard bounds it on any cycle. Both
# engines run the IDENTICAL statement text (DuckDB's WITH RECURSIVE is
# the q58-oracle machinery), so this also pins Spark's new recursion
# semantics against a second implementation.
_Q228_SEED = "view"
_Q228_MAX_HOPS = 10


def _q228_sql(events_rel: str) -> str:
    """One statement, two engines: ``events_rel`` is the events relation
    name (a temp view Spark-side, the fixture view DuckDB-side)."""
    return f"""
    WITH RECURSIVE ordered AS (
      SELECT user_id, event_type, event_id, ts,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM {events_rel}
    ), trans AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS n
      FROM ordered WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    ), modal AS (
      SELECT prev_type, next_type FROM (
        SELECT prev_type, next_type,
               ROW_NUMBER() OVER (
                 PARTITION BY prev_type
                 ORDER BY n DESC, next_type) AS rnk
        FROM trans) ranked
      WHERE rnk = 1
    ), walk (t, hops) AS (
      SELECT CAST('{_Q228_SEED}' AS STRING), 0
      UNION ALL
      SELECT m.next_type, w.hops + 1
      FROM walk w JOIN modal m ON m.prev_type = w.t
      WHERE w.hops < {_Q228_MAX_HOPS}
    )
    SELECT t AS event_type, CAST(MIN(hops) AS BIGINT) AS min_hops
    FROM walk GROUP BY t ORDER BY min_hops, event_type
    """


@register(
    "q228_modal_journey_reachability",
    sql=_q228_sql("events").replace("AS STRING", "AS VARCHAR"),
    tags=("events", "graph", "recursive-cte", "journey"),
)
def q228_modal_journey_reachability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Minimum hops from the '{seed}' entry type to every type reachable
    by always taking the MODAL next step (module comment) — Spark's
    WITH RECURSIVE executing the same statement text as the DuckDB
    oracle.

    Scale shape: the transition matrix is q102's one user-keyed window
    exchange + a type×type rollup; everything recursive happens on the
    |types|-row modal edge table — each recursion step is a join
    against a broadcast-sized relation, and the hop guard caps the
    step count. The corpus is scanned once, outside the recursion.
    """
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts"
    )
    e.createOrReplaceTempView("q228_events")
    return spark.sql(_q228_sql("q228_events"))


# ---------------------------------------------------------------------------
# q229 — funnel drop-off destinations (where non-converters went instead)
# ---------------------------------------------------------------------------
# Conversion queries (q101/q34b) count who advanced; fixing a funnel
# needs the complement: of the users who saw the entry step but never
# took the next step in its window, what did they do FIRST instead?
# Census per destination type (including "nothing" — the view was their
# last event), with the converted cohort as the baseline row. All exact
# integers off one user-keyed pass: first view, first qualifying click,
# first post-view event.
_Q229_WINDOW_US = 24 * 3600 * 1_000_000


@register(
    "q229_funnel_dropoff_destinations",
    sql=f"""
    WITH ev AS (
      SELECT user_id, event_type, event_id,
             CAST(EPOCH_US(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us
      FROM events
    ), first_view AS (
      SELECT user_id, MIN(us) AS v_us
      FROM ev WHERE event_type = 'view' GROUP BY user_id
    ), converted AS (
      SELECT f.user_id
      FROM first_view f
      WHERE EXISTS (
        SELECT 1 FROM ev e
        WHERE e.user_id = f.user_id AND e.event_type = 'click'
          AND e.us > f.v_us AND e.us <= f.v_us + {_Q229_WINDOW_US}
      )
    ), dropped AS (
      SELECT f.user_id, f.v_us
      FROM first_view f ANTI JOIN converted c ON c.user_id = f.user_id
    ), next_ev AS (
      SELECT user_id, dest FROM (
        SELECT d.user_id, e.event_type AS dest,
               ROW_NUMBER() OVER (
                 PARTITION BY d.user_id ORDER BY e.us, e.event_id) AS rn
        FROM dropped d JOIN ev e
          ON e.user_id = d.user_id AND e.us > d.v_us)
      WHERE rn = 1
    )
    SELECT dest AS destination,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM (
      SELECT d.user_id, COALESCE(n.dest, '(nothing)') AS dest
      FROM dropped d LEFT JOIN next_ev n ON n.user_id = d.user_id
      UNION ALL
      SELECT user_id, '(converted)' AS dest FROM converted
    )
    GROUP BY dest
    ORDER BY n_users DESC, destination
    """,
    tags=("events", "funnel", "journey", "audit"),
)
def q229_funnel_dropoff_destinations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Where view→click non-converters went instead: first event after
    their first view (or '(nothing)'), with the '(converted)' cohort as
    the baseline row (module comment).

    Scale shape: every cohort derives from user-keyed aggregations on
    ONE exchange of (user, type, µs) triples — first view is a filtered
    MIN, conversion is a windowed semi join on the same key, the
    destination is a per-user ARG_MIN over post-view events; the census
    is a |types|+2-row rollup. Deterministic ties: (µs, event_id).
    """
    e = table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("us"),
    )
    first_view = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("v_us"))
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("us").alias("c_us")
    )
    converted = (
        first_view.join(
            clicks,
            (first_view.user_id == clicks.user_id)
            & (F.col("c_us") > F.col("v_us"))
            & (F.col("c_us") <= F.col("v_us") + _Q229_WINDOW_US),
            "left_semi",
        )
        .select("user_id")
    )
    dropped = first_view.join(converted, "user_id", "left_anti")
    next_ev = (
        dropped.join(e, "user_id")
        .filter(F.col("us") > F.col("v_us"))
        .groupBy("user_id")
        .agg(
            F.min_by(
                "event_type", F.struct(F.col("us"), F.col("event_id"))
            ).alias("dest")
        )
    )
    census_rows = (
        dropped.join(next_ev, "user_id", "left")
        .select(F.coalesce("dest", F.lit("(nothing)")).alias("dest"))
        .unionByName(converted.select(F.lit("(converted)").alias("dest")))
    )
    return (
        census_rows.groupBy(F.col("dest").alias("destination"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy(F.desc("n_users"), F.asc("destination"))
    )


# ---------------------------------------------------------------------------
# q236 — purchase attribution: last-touch (windowed) × first-touch matrix
# ---------------------------------------------------------------------------
# The classic marketing-analytics shape missing from the event family:
# every purchase attributes its revenue to the user's most recent
# click/view within a 7-day lookback (last-touch; 'direct' when none)
# and, independently, to the user's first-ever preceding touch
# (first-touch) — the assisted-conversion matrix. One user-keyed window
# pass; timestamps compared as unix micros (portable and exact).

_Q236_LOOKBACK_US = 7 * 24 * 3600 * 1_000_000
_Q236_TOUCHES = "('click', 'view')"


@register(
    "q236_purchase_attribution",
    sql=f"""
    WITH enr AS (
      SELECT user_id, event_type, ts, value,
             LAST_VALUE(CASE WHEN event_type IN {_Q236_TOUCHES}
                             THEN event_type END IGNORE NULLS)
               OVER w AS lt_type,
             LAST_VALUE(CASE WHEN event_type IN {_Q236_TOUCHES}
                             THEN epoch_us(ts) END IGNORE NULLS)
               OVER w AS lt_us,
             FIRST_VALUE(CASE WHEN event_type IN {_Q236_TOUCHES}
                              THEN event_type END IGNORE NULLS)
               OVER w AS ft_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), pur AS (
      SELECT CASE WHEN lt_us IS NOT NULL
                   AND lt_us >= epoch_us(ts) - {_Q236_LOOKBACK_US}
                  THEN lt_type ELSE 'direct' END AS last_touch,
             COALESCE(ft_type, 'direct') AS first_touch,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM enr WHERE event_type = 'purchase'
    )
    SELECT last_touch, first_touch,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents
    FROM pur GROUP BY last_touch, first_touch
    ORDER BY last_touch, first_touch
    """,
    tags=("events", "window", "attribution", "journey"),
)
def q236_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch (7-day lookback) × first-touch purchase-attribution
    matrix with exact revenue cents (module comment above).

    Scale shape: ONE window exchange keyed by user (the same exchange
    q91/q102/q229 pay — at 100 TB these journey passes share a
    user-bucketed layout so it is paid once); the attribution columns
    are IGNORE NULLS window folds inside that pass, the purchase filter
    prunes before the tiny (touch × touch) rollup. No self-join of the
    event table against its own touches."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    touch = F.col("event_type").isin("click", "view")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    enr = e.select(
        "event_type",
        "ts",
        "value",
        F.last(F.when(touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("lt_type"),
        F.last(F.when(touch, F.unix_micros("ts")), ignorenulls=True)
        .over(w)
        .alias("lt_us"),
        F.first(F.when(touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("ft_type"),
    )
    pur = enr.filter(F.col("event_type") == "purchase").select(
        F.when(
            F.col("lt_us").isNotNull()
            & (
                F.col("lt_us")
                >= F.unix_micros("ts") - F.lit(_Q236_LOOKBACK_US)
            ),
            F.col("lt_type"),
        )
        .otherwise(F.lit("direct"))
        .alias("last_touch"),
        F.coalesce("ft_type", F.lit("direct")).alias("first_touch"),
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    return (
        pur.groupBy("last_touch", "first_touch")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
        .orderBy("last_touch", "first_touch")
    )


# ---------------------------------------------------------------------------
# q254 — the incremental rollup store's WHOLE maintenance path under the
# oracle: three batch updates + a mid-stream additive compaction + the
# merged read, hash-matched against a direct single-pass aggregate.
# ---------------------------------------------------------------------------

_Q254_CENTS = "CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"


@register(
    "q254_rollup_store_report",
    sql=f"""
    SELECT CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM({_Q254_CENTS}) AS BIGINT) AS sum_cents,
           MIN({_Q254_CENTS}) AS min_cents,
           MAX({_Q254_CENTS}) AS max_cents
    FROM events
    GROUP BY 1, 2
    ORDER BY day, event_type
    """,
    tags=("incremental", "rollup", "streaming-twin", "agg"),
)
def q254_rollup_store_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-aggregate claim, verified end to end: events split
    into three batches → `incremental/rollup.py::update_rollup_store`
    per batch → `compact_rollup_store` after the second (the additive
    staged-swap fold runs UNDER the hash) → `read_rollup` — and the
    merged report must equal DuckDB's one-pass aggregate over the raw
    table. Exercises mergeability (count/sum/min/max partials), exact
    distinct users from the per-user grain, late data (each batch holds a
    mix of days), and compaction's report-invariance, all in one query.

    Scale shape: each update folds ONE batch map-side (never reads the
    store); the read merges grain rows proportional to distinct
    (day, type, user) keys, not events."""
    import shutil
    import tempfile

    from ..incremental.rollup import (
        compact_rollup_store,
        read_rollup,
        update_rollup_store,
    )

    ev = table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    store = tempfile.mkdtemp(prefix="q254_rollup_") + "/store"
    try:
        for i in range(3):
            batch = ev.filter(
                F.pmod(F.xxhash64("event_id"), F.lit(3)) == i
            )
            update_rollup_store(spark, store, batch, str(i))
            if i == 1:
                # a plain statement, NOT an assert: under python -O an
                # assert's side effect is stripped and the compaction leg
                # would silently lose its oracle coverage
                folded = compact_rollup_store(spark, store)
                if folded != 2:
                    raise RuntimeError(
                        f"q254 expected to fold 2 partitions, got {folded}"
                    )
        report = (
            read_rollup(spark, store)
            .select(
                "day",
                "event_type",
                F.col("n_events").cast("bigint").alias("n_events"),
                F.col("n_users").cast("bigint").alias("n_users"),
                F.col("sum_cents").cast("bigint").alias("sum_cents"),
                "min_cents",
                "max_cents",
            )
            .orderBy("day", "event_type")
            # materialize BEFORE the store directory is removed: the
            # driver collects after this function returns
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(store.rsplit("/", 1)[0], ignore_errors=True)
    return report


# ---------------------------------------------------------------------------
# q260 — the maintained JOIN view's whole path under the oracle: three
# interleaved two-sided batches + a mid-stream bucket-aware compaction +
# the view read, aggregated and hash-matched against a direct join.
# ---------------------------------------------------------------------------

_Q260_CENTS = "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"


@register(
    "q260_join_view_report",
    sql=f"""
    SELECT c.c_mktsegment,
           o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM({_Q260_CENTS}) AS BIGINT) AS revenue_cents
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment, o.o_orderpriority
    ORDER BY c.c_mktsegment, o.o_orderpriority
    """,
    tags=("incremental", "joinview", "streaming-twin", "join", "agg"),
)
def q260_join_view_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-view-maintenance claim, verified end to end:
    orders (left) and customer (right) are each split into three batches
    on independent keys — so joined pairs arrive left-first, right-first
    AND same-batch — fed through
    `incremental/joinview.py::update_join_view` with the BUCKETED side
    layout (n_buckets=8, the 100 TB pruning lever runs under the hash),
    compacted mid-stream after the second batch, then the materialized
    view is read and aggregated; the report must equal DuckDB's direct
    join over the raw tables. Exercises the exactly-once delta rule
    (ΔA⋈(B∪ΔB) ∪ A⋈ΔB), bucket-pruned old-side reads, and the
    bucket-aware compactor's view-invariance, in one query.

    Scale shape: each update joins delta-sized inputs against
    bucket-pruned store scans; the final read is one union of committed
    delta partitions — the full tables are never re-joined."""
    import shutil
    import tempfile

    from ..incremental.joinview import (
        JoinViewSpec,
        compact_join_view,
        read_join_view,
        update_join_view,
    )

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("c_custkey"),
        "o_totalprice",
        "o_orderpriority",
    )
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    spec = JoinViewSpec(
        key="c_custkey",
        left_id="o_orderkey",
        right_id="c_custkey",
        n_buckets=8,
    )
    root = tempfile.mkdtemp(prefix="q260_jv_") + "/view"
    try:
        for i in range(3):
            update_join_view(
                spark,
                root,
                str(i),
                spec,
                left_delta=orders.filter(
                    F.pmod(F.xxhash64("o_orderkey"), F.lit(3)) == i
                ),
                right_delta=cust.filter(
                    F.pmod(F.xxhash64("c_custkey"), F.lit(3)) == i
                ),
            )
            if i == 1:
                # plain statement, not an assert (q254's -O lesson):
                # batches 0 fold, batch 1 is excluded as replayable
                folded = compact_join_view(
                    spark, root, spec, exclude=(str(i),)
                )
                if folded != {"left": 1, "right": 1, "view": 1}:
                    raise RuntimeError(
                        f"q260 expected one folded partition per store,"
                        f" got {folded}"
                    )
        report = (
            read_join_view(spark, root)
            .groupBy("c_mktsegment", "o_orderpriority")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                F.sum(F.expr(_Q260_CENTS)).cast("bigint").alias(
                    "revenue_cents"
                ),
            )
            .orderBy("c_mktsegment", "o_orderpriority")
            # materialize BEFORE the store directory is removed: the
            # driver collects after this function returns
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root.rsplit("/", 1)[0], ignore_errors=True)
    return report


# ---------------------------------------------------------------------------
# q264 — the IVM CASCADE under the oracle: a continuous aggregate
# maintained OVER the maintained join view. Batch deltas of orders ⋈
# customer feed the rollup store; the exactly-once delta rule is what
# makes the composition correct (a pair emitted twice would double its
# revenue in the rollup with no error anywhere).
# ---------------------------------------------------------------------------


@register(
    "q264_enriched_rollup_cascade",
    sql=f"""
    SELECT CAST(DATE_TRUNC('day', o.o_orderdate) AS DATE) AS day,
           c.c_mktsegment AS event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_users,
           CAST(SUM({_Q260_CENTS}) AS BIGINT) AS sum_cents,
           MIN({_Q260_CENTS}) AS min_cents,
           MAX({_Q260_CENTS}) AS max_cents
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1, 2
    ORDER BY day, event_type
    """,
    tags=("incremental", "joinview", "rollup", "cascade", "join", "agg"),
)
def q264_enriched_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two maintained stores composed end to end: three interleaved
    two-sided batches flow through `update_join_view`, each batch's
    view CHANGE FEED (`read_join_view_delta` — every joined pair exactly
    once) feeds `update_rollup_store`, and the merged rollup report
    (day × market segment, exact distinct customers) must equal DuckDB's
    one-pass join+aggregate over the raw tables. This is the cascade a
    standing pipeline actually runs — enrich incrementally, aggregate
    incrementally — and the oracle hash fails if EITHER store's delta
    discipline over- or under-delivers a single pair.

    Scale shape: per batch, one delta-sized join (bucket-pruned old
    sides) plus one write-only rollup fold of that delta; neither the
    full join nor the full history is ever recomputed."""
    import shutil
    import tempfile

    from ..incremental.joinview import (
        JoinViewSpec,
        read_join_view_delta,
        update_join_view,
    )
    from ..incremental.rollup import read_rollup, update_rollup_store

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("c_custkey"),
        "o_totalprice",
        "o_orderdate",
    )
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    spec = JoinViewSpec(
        key="c_custkey",
        left_id="o_orderkey",
        right_id="c_custkey",
        n_buckets=8,
    )
    base = tempfile.mkdtemp(prefix="q264_cascade_")
    jv_root, rl_store = f"{base}/view", f"{base}/rollup"
    try:
        for i in range(3):
            update_join_view(
                spark,
                jv_root,
                str(i),
                spec,
                left_delta=orders.filter(
                    F.pmod(F.xxhash64("o_orderkey"), F.lit(3)) == i
                ),
                right_delta=cust.filter(
                    F.pmod(F.xxhash64("c_custkey"), F.lit(3)) == i
                ),
            )
            delta = read_join_view_delta(spark, jv_root, str(i))
            if delta is not None:
                update_rollup_store(
                    spark,
                    rl_store,
                    delta,
                    str(i),
                    ts_col="o_orderdate",
                    type_col="c_mktsegment",
                    user_col="c_custkey",
                    value_col="o_totalprice",
                )
        report = (
            read_rollup(spark, rl_store)
            .select(
                "day",
                "event_type",
                F.col("n_events").cast("bigint").alias("n_events"),
                F.col("n_users").cast("bigint").alias("n_users"),
                F.col("sum_cents").cast("bigint").alias("sum_cents"),
                "min_cents",
                "max_cents",
            )
            .orderBy("day", "event_type")
            # materialize BEFORE the store directory is removed
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return report


# ---------------------------------------------------------------------------
# q265 — the CDC-maintained join view under the oracle: a four-batch
# change feed with inserts, DELETES, value UPDATES, and a key-MOVE, plus
# a mid-stream semantic compaction; the net view must hash-match
# DuckDB's full recompute of the final state. The batch membership and
# every mutation are integer-mod expressions shared by both engines.
# ---------------------------------------------------------------------------

# mutation sets, disjoint by o_orderkey % 4 class (so a row is never
# deleted AND updated): deletes from class 0, value updates from class
# 1, key moves from class 2
_Q265_DEL_L = "o_orderkey % 4 = 0 AND o_orderkey % 5 = 0"
_Q265_UPD_L = "o_orderkey % 4 = 1 AND o_orderkey % 5 = 0"
_Q265_MOVE_L = "o_orderkey % 4 = 2 AND o_orderkey % 7 = 0"
_Q265_DEL_R = "c_custkey % 3 = 0 AND c_custkey % 11 = 0"
_Q265_UPD_R = "c_custkey % 3 = 1 AND c_custkey % 13 = 0"


def _run_q265_cdc_batches(spark, sf_dir, root, on_batch=None):
    """The q265 CDC workload, shared with q267's cascade: four batches of
    inserts/deletes/value-updates/key-move over orders ⋈ customer, plus
    the mid-stream semantic compaction. ``on_batch(batch_id)`` fires
    after each update (q267 folds the signed change feed there, BEFORE
    the compaction can fold the early batches' deltas away)."""
    from ..incremental.joinview import JoinViewSpec
    from ..incremental.joinview_cdc import (
        compact_join_view_cdc,
        update_join_view_cdc,
    )

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("c_custkey"),
        "o_totalprice",
        "o_orderpriority",
    )
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    spec = JoinViewSpec(
        key="c_custkey",
        left_id="o_orderkey",
        right_id="c_custkey",
        n_buckets=8,
    )

    def lcls(i: int) -> DataFrame:
        return orders.filter(F.expr(f"o_orderkey % 4 = {i}"))

    def rcls(i: int) -> DataFrame:
        return cust.filter(F.expr(f"c_custkey % 3 = {i}"))

    def done(bid: str) -> None:
        if on_batch is not None:
            on_batch(bid)

    # b0: seed class 0 / class 0
    update_join_view_cdc(
        spark, root, "b0", spec,
        left_upserts=lcls(0), right_upserts=rcls(0),
    )
    done("b0")
    # b1: insert class 1 / class 1; delete the order slice
    update_join_view_cdc(
        spark, root, "b1", spec,
        left_upserts=lcls(1),
        left_deletes=orders.filter(F.expr(_Q265_DEL_L)).select(
            "c_custkey", "o_orderkey"
        ),
        right_upserts=rcls(1),
    )
    done("b1")
    # b2: insert class 2 / class 2; UPDATE order priorities (same
    # key, new value); delete the customer slice
    update_join_view_cdc(
        spark, root, "b2", spec,
        left_upserts=lcls(2).unionByName(
            orders.filter(F.expr(_Q265_UPD_L)).withColumn(
                "o_orderpriority", F.lit("1-UPDATED")
            )
        ),
        right_upserts=rcls(2),
        # key == id on this side (the dimension is keyed by its PK),
        # so the delete feed is the single column
        right_deletes=cust.filter(F.expr(_Q265_DEL_R)).select(
            "c_custkey"
        ),
    )
    done("b2")
    # semantic compaction mid-stream: b0/b1 fold, b2 stays replayable
    folded = compact_join_view_cdc(spark, root, spec, exclude=("b2",))
    if folded != {"left": 2, "right": 2, "view": 2}:
        raise RuntimeError(
            f"q265 expected two folded partitions per store, got {folded}"
        )
    # b3: insert class 3; key-MOVE the order slice to custkey+1
    # (delete old key + upsert new key in ONE batch); UPDATE the
    # customer segment slice
    moved = orders.filter(F.expr(_Q265_MOVE_L))
    update_join_view_cdc(
        spark, root, "b3", spec,
        left_upserts=lcls(3).unionByName(
            moved.withColumn("c_custkey", F.expr("c_custkey + 1"))
        ),
        left_deletes=moved.select("c_custkey", "o_orderkey"),
        right_upserts=cust.filter(F.expr(_Q265_UPD_R)).withColumn(
            "c_mktsegment", F.lit("SEG-UPDATED")
        ),
    )
    done("b3")


@register(
    "q265_cdc_join_view_report",
    sql=f"""
    WITH final_orders AS (
        SELECT o_orderkey,
               CASE WHEN {_Q265_MOVE_L} THEN o_custkey + 1
                    ELSE o_custkey END AS c_custkey,
               CASE WHEN {_Q265_UPD_L} THEN '1-UPDATED'
                    ELSE o_orderpriority END AS o_orderpriority,
               o_totalprice
        FROM orders
        WHERE NOT ({_Q265_DEL_L})
    ), final_cust AS (
        SELECT c_custkey,
               CASE WHEN {_Q265_UPD_R} THEN 'SEG-UPDATED'
                    ELSE c_mktsegment END AS c_mktsegment
        FROM customer
        WHERE NOT ({_Q265_DEL_R})
    )
    SELECT c.c_mktsegment,
           o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM({_Q260_CENTS}) AS BIGINT) AS revenue_cents
    FROM final_orders o
    JOIN final_cust c ON c.c_custkey = o.c_custkey
    GROUP BY c.c_mktsegment, o.o_orderpriority
    ORDER BY c.c_mktsegment, o.o_orderpriority
    """,
    tags=("incremental", "joinview", "cdc", "join", "agg"),
)
def q265_cdc_join_view_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance under FULL CDC, verified end to end
    (`incremental/joinview_cdc.py`): orders ⋈ customer is maintained
    through four batches that insert both sides in interleaved mod
    classes, DELETE a slice of the first orders class, UPDATE a slice of
    the second class's priority, key-MOVE a slice of the third class to
    ``custkey + 1`` (the delete-old-key + upsert-new-key CDC idiom), and
    DELETE/UPDATE customer slices — with a semantic compaction (sides
    fold to current rows, view folds to its net) after the third batch.
    The net-positive view's report must equal DuckDB's one-shot join
    over the mutations' closed form; a single missed retraction or
    double-applied upsert shifts a count or a cents sum and breaks the
    hash.

    Scale shape: per batch two delta-sized inserts and two delta-sized
    retraction joins, all against bucket-pruned current-side reads
    (n_buckets=8) — the view store is WRITE-ONLY during updates (the
    retraction terms derive from the side stores, never a view scan),
    and the read is one net-sum over committed signed partitions."""
    import shutil
    import tempfile

    from ..incremental.joinview_cdc import read_join_view_cdc

    root = tempfile.mkdtemp(prefix="q265_cdc_") + "/view"
    try:
        _run_q265_cdc_batches(spark, sf_dir, root)
        report = (
            read_join_view_cdc(spark, root)
            .groupBy("c_mktsegment", "o_orderpriority")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                F.sum(F.expr(_Q260_CENTS)).cast("bigint").alias(
                    "revenue_cents"
                ),
            )
            .orderBy("c_mktsegment", "o_orderpriority")
            # materialize BEFORE the store directory is removed
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root.rsplit("/", 1)[0], ignore_errors=True)
    return report


# ---------------------------------------------------------------------------
# q267 — the CDC cascade: an additive aggregate maintained PURELY from
# the view's signed change feed (the net view is never read), equal to
# the same report computed from the final state. Deletes subtract,
# updates retract-then-reinsert; one missed or doubled sign anywhere in
# the z-set machinery shifts a count or a cents sum and breaks the hash.
# ---------------------------------------------------------------------------


@register(
    "q267_cdc_feed_rollup",
    sql=REGISTRY["q265_cdc_join_view_report"].sql,
    tags=("incremental", "joinview", "cdc", "cascade", "agg"),
)
def q267_cdc_feed_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ADDITIVE IVM cascade under full CDC: the q265 workload runs
    (inserts, deletes, value updates, a key move, mid-stream semantic
    compaction), but the report is maintained by folding each batch's
    SIGNED change feed (`read_join_view_cdc_delta`: contribution ×
    ``__diff__``) into per-batch partials — the view is NEVER read. The
    merged partials must hash-match the oracle's closed-form final
    state, which pins that every pair is inserted exactly once and
    retracted exactly once per lifetime (q264's composition guarantee,
    extended to deletes/updates). Feeds are consumed inside the batch
    callback, BEFORE compaction can fold the early deltas away — the
    consume-before-fold contract the feed's docstring states.

    Scale shape: each batch folds its delta to |segments × priorities|
    partial rows map-side; the merged read aggregates |batches| × that
    — never the view, never history."""
    import shutil
    import tempfile

    from ..incremental.joinview_cdc import (
        DIFF_COL,
        read_join_view_cdc_delta,
    )

    root = tempfile.mkdtemp(prefix="q267_cdc_") + "/view"
    cents = F.expr(_Q260_CENTS)
    partials: list[DataFrame] = []

    def fold(bid: str) -> None:
        feed = read_join_view_cdc_delta(spark, root, bid)
        if feed is None:
            return
        partials.append(
            feed.groupBy("c_mktsegment", "o_orderpriority")
            .agg(
                F.sum(DIFF_COL).cast("bigint").alias("dn"),
                F.sum(cents * F.col(DIFF_COL)).cast("bigint").alias("dc"),
            )
            .localCheckpoint(eager=True)
        )

    try:
        _run_q265_cdc_batches(spark, sf_dir, root, on_batch=fold)
        merged = partials[0]
        for p in partials[1:]:
            merged = merged.unionByName(p)
        report = (
            merged.groupBy("c_mktsegment", "o_orderpriority")
            .agg(
                F.sum("dn").cast("bigint").alias("n_orders"),
                F.sum("dc").cast("bigint").alias("revenue_cents"),
            )
            # a group whose every pair was retracted nets to zero rows
            # in the final state: it must not appear in the report
            .filter(F.col("n_orders") > 0)
            .orderBy("c_mktsegment", "o_orderpriority")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root.rsplit("/", 1)[0], ignore_errors=True)
    return report


# ---------------------------------------------------------------------------
# q269 — recompute-on-retract: MIN/MAX (non-additive, non-retractable)
# maintained through the full CDC workload. q267 proves the additive
# signed fold; min/max cannot subtract a retraction (the max carries no
# record of the runners-up), so retraction-touched groups get a
# group-pruned snapshot recomputed from the net view while untouched
# groups stay on the O(Δ) additive path (incremental/rollup_cdc.py).
# The deletes/updates/key-move all shift group extremes; one stale
# snapshot or resurrected add partial breaks the hash.
# ---------------------------------------------------------------------------


@register(
    "q269_cdc_minmax_rollup",
    sql=f"""
    WITH final_orders AS (
        SELECT o_orderkey,
               CASE WHEN {_Q265_MOVE_L} THEN o_custkey + 1
                    ELSE o_custkey END AS c_custkey,
               CASE WHEN {_Q265_UPD_L} THEN '1-UPDATED'
                    ELSE o_orderpriority END AS o_orderpriority,
               o_totalprice
        FROM orders
        WHERE NOT ({_Q265_DEL_L})
    ), final_cust AS (
        SELECT c_custkey,
               CASE WHEN {_Q265_UPD_R} THEN 'SEG-UPDATED'
                    ELSE c_mktsegment END AS c_mktsegment
        FROM customer
        WHERE NOT ({_Q265_DEL_R})
    )
    SELECT c.c_mktsegment,
           o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM({_Q260_CENTS}) AS BIGINT) AS revenue_cents,
           CAST(MIN({_Q260_CENTS}) AS BIGINT) AS min_cents,
           CAST(MAX({_Q260_CENTS}) AS BIGINT) AS max_cents
    FROM final_orders o
    JOIN final_cust c ON c.c_custkey = o.c_custkey
    GROUP BY c.c_mktsegment, o.o_orderpriority
    ORDER BY c.c_mktsegment, o.o_orderpriority
    """,
    tags=("incremental", "joinview", "cdc", "rollup", "agg"),
)
def q269_cdc_minmax_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX maintained under full CDC via recompute-on-retract
    (`incremental/rollup_cdc.py`): the q265 workload runs (inserts,
    deletes, value updates, a key move, mid-stream semantic
    compaction) and after each batch the signed change feed updates a
    grain store — retraction-touched (segment, priority) groups get a
    snapshot recomputed from the net view PRUNED to those groups; all
    other groups fold additively from the feed's insert rows without
    any store or view read. The resolved report (latest snapshot per
    group + adds from strictly later batches) must hash-match DuckDB's
    closed-form final state, min and max included — aggregates no
    signed fold can maintain.

    Scale shape: the hot path is O(Δ) map-side partials; the retract
    path's recompute input is the net view semi-joined to the touched
    groups (broadcast — the touched set is bounded by the batch's
    retraction groups, not by history)."""
    import shutil
    import tempfile

    from ..incremental.joinview_cdc import (
        read_join_view_cdc,
        read_join_view_cdc_delta,
    )
    from ..incremental.rollup_cdc import read_cdc_rollup, update_cdc_rollup

    tmp = tempfile.mkdtemp(prefix="q269_cdc_")
    root, store = f"{tmp}/view", f"{tmp}/rollup"
    groups = ("c_mktsegment", "o_orderpriority")

    def fold(bid: str) -> None:
        feed = read_join_view_cdc_delta(spark, root, bid)
        view = read_join_view_cdc(spark, root)
        update_cdc_rollup(
            spark,
            store,
            feed,
            view,
            bid,
            group_cols=groups,
            value_expr=_Q260_CENTS,
        )

    try:
        _run_q265_cdc_batches(spark, sf_dir, root, on_batch=fold)
        report = (
            read_cdc_rollup(spark, store, groups)
            .select(
                "c_mktsegment",
                "o_orderpriority",
                F.col("n").alias("n_orders"),
                F.col("total").alias("revenue_cents"),
                F.col("vmin").alias("min_cents"),
                F.col("vmax").alias("max_cents"),
            )
            .orderBy("c_mktsegment", "o_orderpriority")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return report


# ---------------------------------------------------------------------------
# q268 — the streaming CDC cascade END-TO-END: the q265 change workload
# spilled as a multiplexed (side, op)-tagged file feed, consumed by a
# REAL Structured Streaming query (streaming/cascade_cdc_job.py, one
# foreachBatch maintaining the CDC view AND the additive rollup from
# its signed feed, with a mid-stream four-store fold). The registry's
# other streaming-shaped queries evaluate batch twins; this one runs
# the actual stream — availableNow, file source, pinned mtime order —
# and the maintained rollup must hash-match the closed form.
# ---------------------------------------------------------------------------


@register(
    "q268_cdc_cascade_stream",
    sql=REGISTRY["q265_cdc_join_view_report"].sql,
    tags=("incremental", "joinview", "cdc", "cascade", "streaming"),
)
def q268_cdc_cascade_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming CDC cascade driven end-to-end: four multiplexed
    change chunks (inserts both sides, order deletes, priority updates,
    customer deletes/updates, the key-move idiom) are spilled one file
    per micro-batch with strictly increasing mtimes (the file source
    orders by mtime in MILLISECONDS — ties would scramble CDC op
    order), then `start_cdc_rollup_cascade_stream` consumes them with
    ``compact_every=3`` (all four stores fold mid-stream, current batch
    excluded). The additive rollup — maintained purely from the view's
    signed change feed inside the same callback, never reading the
    view — must match DuckDB's one-shot closed form of the final state.

    Scale shape: per micro-batch the same delta-sized joins as q265
    plus an O(Δ-groups) map-side fold; the feed is consumed in the
    callback that produced it (consume-before-fold), so no stage ever
    reads history."""
    import os
    import shutil
    import tempfile

    from ..incremental.joinview import JoinViewSpec
    from ..streaming.cascade_cdc_job import (
        read_additive_rollup,
        start_cdc_rollup_cascade_stream,
    )

    tmp = tempfile.mkdtemp(prefix="q268_cdc_")
    src = f"{tmp}/src"
    os.makedirs(src)

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("c_custkey"),
        "o_totalprice",
        "o_orderpriority",
    )
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    spec = JoinViewSpec(
        key="c_custkey",
        left_id="o_orderkey",
        right_id="c_custkey",
        n_buckets=8,
    )

    def mux(df: DataFrame, side: str, op: str) -> DataFrame:
        cols = {c: F.col(c) for c in df.columns}
        return df.select(
            F.lit(side).alias("side"),
            F.lit(op).alias("op"),
            cols.get("o_orderkey", F.lit(None).cast("bigint")).alias(
                "o_orderkey"
            ),
            F.col("c_custkey").cast("bigint").alias("c_custkey"),
            cols.get("o_totalprice", F.lit(None).cast("double")).alias(
                "o_totalprice"
            ),
            cols.get("o_orderpriority", F.lit(None).cast("string")).alias(
                "o_orderpriority"
            ),
            cols.get("c_mktsegment", F.lit(None).cast("string")).alias(
                "c_mktsegment"
            ),
        )

    def lcls(i: int) -> DataFrame:
        return orders.filter(F.expr(f"o_orderkey % 4 = {i}"))

    def rcls(i: int) -> DataFrame:
        return cust.filter(F.expr(f"c_custkey % 3 = {i}"))

    moved = orders.filter(F.expr(_Q265_MOVE_L))
    chunks = [
        mux(lcls(0), "left", "upsert").unionByName(
            mux(rcls(0), "right", "upsert")
        ),
        mux(lcls(1), "left", "upsert")
        .unionByName(
            mux(
                orders.filter(F.expr(_Q265_DEL_L)).select(
                    "c_custkey", "o_orderkey"
                ),
                "left",
                "delete",
            )
        )
        .unionByName(mux(rcls(1), "right", "upsert")),
        mux(
            lcls(2).unionByName(
                orders.filter(F.expr(_Q265_UPD_L)).withColumn(
                    "o_orderpriority", F.lit("1-UPDATED")
                )
            ),
            "left",
            "upsert",
        )
        .unionByName(mux(rcls(2), "right", "upsert"))
        .unionByName(
            mux(
                cust.filter(F.expr(_Q265_DEL_R)).select("c_custkey"),
                "right",
                "delete",
            )
        ),
        mux(
            lcls(3).unionByName(
                moved.withColumn("c_custkey", F.expr("c_custkey + 1"))
            ),
            "left",
            "upsert",
        )
        .unionByName(
            mux(moved.select("c_custkey", "o_orderkey"), "left", "delete")
        )
        .unionByName(
            mux(
                cust.filter(F.expr(_Q265_UPD_R)).withColumn(
                    "c_mktsegment", F.lit("SEG-UPDATED")
                ),
                "right",
                "upsert",
            )
        ),
    ]

    try:
        # one file per chunk, strictly increasing mtimes -> one chunk
        # per micro-batch in feed order
        t0 = 1_600_000_000
        for i, chunk in enumerate(chunks):
            stage = f"{tmp}/stage{i}"
            chunk.coalesce(1).write.parquet(stage)
            part = next(
                n for n in os.listdir(stage) if n.endswith(".parquet")
            )
            dst = f"{src}/c{i}.parquet"
            shutil.move(f"{stage}/{part}", dst)
            os.utime(dst, (t0 + i, t0 + i))
            shutil.rmtree(stage)
        schema = spark.read.parquet(f"{src}/c0.parquet").schema

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        start_cdc_rollup_cascade_stream(
            stream,
            f"{tmp}/jv",
            f"{tmp}/rollup",
            f"{tmp}/ckpt",
            spec,
            left_cols=(
                "o_orderkey",
                "c_custkey",
                "o_totalprice",
                "o_orderpriority",
            ),
            right_cols=("c_custkey", "c_mktsegment"),
            group_cols=("c_mktsegment", "o_orderpriority"),
            value_expr=_Q260_CENTS,
            compact_every=3,
        ).awaitTermination()

        report = (
            read_additive_rollup(
                spark,
                f"{tmp}/rollup",
                ("c_mktsegment", "o_orderpriority"),
            )
            .select(
                "c_mktsegment",
                "o_orderpriority",
                F.col("n").cast("bigint").alias("n_orders"),
                F.col("total").cast("bigint").alias("revenue_cents"),
            )
            .orderBy("c_mktsegment", "o_orderpriority")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return report
