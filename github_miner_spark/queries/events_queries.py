"""Event-stream analytics over the events table (SURVEY.md §2.10 — the
reference itself is batch-only; these are the streaming-shaped
capabilities expressed both as oracle-checked batch queries here and as
Structured Streaming jobs in streaming/events.py, which tests prove
equivalent to the batch forms via trigger(availableNow))."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from github_miner_spark.functions.pin import pin
from github_miner_spark.io.tables import load_table
from github_miner_spark.registry import register


@register(
    "events_tumbling_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type AS event_type,
           count(*) AS n_events,
           sum(value) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
    description="Tumbling 1-hour window aggregation by event type — the batch "
    "twin of the streaming windowed count",
    tags=("events", "window-agg"),
)
def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
        .orderBy("window_start", "event_type")
    )


@register(
    "events_sessionization",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM gaps
    )
    SELECT user_id AS user_id, session_seq AS session_seq,
           count(*) AS n_events, min(ts) AS session_start, max(ts) AS session_end
    FROM sessions GROUP BY user_id, session_seq
    ORDER BY user_id, session_seq
    """,
    description="Gap-based sessionization (30-min inactivity) via lag + "
    "running sum — the batch twin of streaming session windows",
    tags=("events", "window", "session"),
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_miner_spark.functions.temporal import sessionize

    ev = load_table(spark, "events", sf_dir)
    return sessionize(
        ev, key_col="user_id", ts_col="ts", order_tiebreak="event_id", gap_seconds=1800
    ).orderBy("user_id", "session_seq")


@register(
    "events_top_purchasers",
    oracle="""
    SELECT user_id, count(*) AS purchases, sum(value) AS total_spend
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id
    ORDER BY total_spend DESC, user_id ASC
    LIMIT 10
    """,
    description="Top spenders on purchase events: filter -> agg -> top-k",
    tags=("events", "agg", "topk"),
)
def events_top_purchasers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("purchases"), F.sum("value").alias("total_spend"))
        .orderBy(F.desc("total_spend"), F.asc("user_id"))
        .limit(10)
    )


@register(
    "events_daily_active_users",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           count(DISTINCT user_id) AS active_users,
           count(*) AS n_events
    FROM events GROUP BY 1 ORDER BY day
    """,
    description="Daily active users: exact distinct per day (at 100 TB, swap "
    "count_distinct for approx_count_distinct / HLL sketch merge)",
    tags=("events", "agg", "distinct"),
)
def events_daily_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count_distinct("user_id").alias("active_users"),
            F.count("*").alias("n_events"),
        )
        .orderBy("day")
    )


@register(
    "events_session_windows",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    s AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS seq
      FROM gaps
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM s GROUP BY user_id, seq
    ORDER BY user_id, session_start
    """,
    description="Native session windows: F.session_window(ts, '30 minutes') "
    "— Spark's built-in gap-based session operator (usable in batch AND "
    "streaming), oracle-checked against the explicit lag/running-sum "
    "derivation. Window end = last event + gap, per Spark semantics.",
    tags=("events", "window", "session"),
)
def events_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "events_purchase_attribution",
    oracle="""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts AS pts
      FROM events WHERE event_type = 'purchase'
    ),
    v AS (
      SELECT user_id, ts AS vts FROM events WHERE event_type = 'view'
    )
    SELECT p.purchase_id, p.user_id,
           count(v.vts) AS views_prev_hour
    FROM p LEFT JOIN v
      ON v.user_id = p.user_id
     AND v.vts >= p.pts - INTERVAL 1 HOUR
     AND v.vts < p.pts
    GROUP BY p.purchase_id, p.user_id
    ORDER BY p.purchase_id
    """,
    description="Event-time range join (interval join): per purchase, the "
    "view count by the same user in the preceding hour — the attribution "
    "shape. The join is keyed on user_id (one shuffle; the range predicate "
    "rides as a join condition), so candidate pairs are bounded by "
    "per-user activity, never a time-cross-product. Streaming twin: "
    "streaming/events.py interval_join_stream (watermarked stream-stream "
    "join with the same predicate).",
    tags=("events", "range-join", "interval"),
)
def events_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("pts")
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("vts")
    )
    j = p.join(
        v,
        (F.col("v_user") == F.col("user_id"))
        & (F.col("vts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("vts") < F.col("pts")),
        "left_outer",
    )
    return (
        j.groupBy("purchase_id", "user_id")
        .agg(F.count("vts").alias("views_prev_hour"))
        .orderBy("purchase_id")
    )


@register(
    "events_asof_last_purchase",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, NULL::BIGINT AS click_id,
             value AS pvalue, 0 AS sort_click
      FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT user_id, ts, event_id, NULL::DOUBLE, 1
      FROM events WHERE event_type = 'click'
    ),
    w AS (
      SELECT user_id, ts, click_id, sort_click,
             last_value(pvalue IGNORE NULLS) OVER (
               PARTITION BY user_id
               ORDER BY ts, sort_click, pvalue
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS last_purchase_value
      FROM tagged
    )
    SELECT click_id, user_id, ts, last_purchase_value
    FROM w WHERE sort_click = 1
    ORDER BY click_id
    """,
    description="As-of join: for every click, the value of that user's most "
    "recent purchase at-or-before the click. Implemented as the "
    "union-then-window pattern — tag both sides, one shuffle on user_id, "
    "last_value(... IGNORE NULLS) over the event-time order — NOT a "
    "per-pair join: state per user is one running value, so the plan is "
    "linear in events at any scale (the standard distributed as-of shape; "
    "a range join would re-scan each user's purchase history per click). "
    "Same-timestamp ties: the purchase sorts before the click (sort_click) "
    "and the highest value wins among equal-ts purchases.",
    tags=("events", "asof-join", "window"),
)
def events_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_miner_spark.functions.temporal import asof_join

    ev = load_table(spark, "events", sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return (
        asof_join(
            clicks,
            purchases,
            key_col="user_id",
            ts_col="ts",
            value_col="value",
            out_col="last_purchase_value",
        )
        .select("click_id", "user_id", "ts", "last_purchase_value")
        .orderBy("click_id")
    )


@register(
    "events_sliding_windows",
    oracle="""
    WITH w AS (
      SELECT u.ws AS window_start, event_type, value
      FROM events,
           unnest([date_trunc('hour', ts),
                   date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS u(ws)
    )
    SELECT window_start, event_type,
           count(*) AS n_events,
           sum(value) AS total_value
    FROM w
    GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
    description="Sliding-window aggregation (2-hour windows, 1-hour slide) "
    "by event type — completes the window-type coverage next to the "
    "tumbling (events_tumbling_hourly) and session "
    "(events_session_windows) forms. Spark's window() explodes each event "
    "into its 2 overlapping windows before one keyed aggregation; the "
    "oracle derives the same window starts arithmetically.",
    tags=("events", "window-agg", "sliding"),
)
def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


@register(
    "events_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 ON s1.user_id = e.user_id
      WHERE e.event_type = 'view' AND e.ts >= s1.t1
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 ON s2.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts >= s2.t2
      GROUP BY e.user_id
    ),
    s4 AS (
      SELECT e.user_id, min(e.ts) AS t4
      FROM events e JOIN s3 ON s3.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= s3.t3
      GROUP BY e.user_id
    )
    SELECT CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_signup,
           CAST((SELECT count(*) FROM s2) AS BIGINT) AS n_viewed,
           CAST((SELECT count(*) FROM s3) AS BIGINT) AS n_clicked,
           CAST((SELECT count(*) FROM s4) AS BIGINT) AS n_purchased,
           round((SELECT count(*) FROM s4) * 1.0
                 / (SELECT count(*) FROM s1), 6) AS conversion
    """,
    description="Ordered funnel analysis: signup -> first view at-or-"
    "after signup -> first click after that view -> first purchase "
    "after that click, with end-to-end conversion. Each stage is a "
    "per-user min aggregate joined to the previous stage's timestamp "
    "— all four stages shuffle on user_id, so Catalyst reuses one "
    "partitioning end to end and the stage tables shrink "
    "monotonically; no window over the full event stream is needed.",
    tags=("events", "funnel"),
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)

    def stage(prev: DataFrame, etype: str, tprev: str, tout: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .join(prev, "user_id")
            .filter(F.col("ts") >= F.col(tprev))
            .groupBy("user_id")
            .agg(F.min("ts").alias(tout))
        )

    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = stage(s1, "view", "t1", "t2")
    s3 = stage(s2, "click", "t2", "t3")
    s4 = stage(s3, "purchase", "t3", "t4")
    # ONE per-user funnel frame, all four counts folded in ONE
    # aggregate (r13): the old form counted each stage as its own
    # crossJoined scalar aggregate, so s1..s3's subtrees were re-run
    # inside every later stage's count — 10 events scans in one plan
    # (scan audit r12; stage N's lineage embeds stages 1..N-1, and the
    # four separate count branches defeated exchange reuse). The left
    # joins ride the same user_id partitioning the stage aggregates
    # establish (guide §2.4 "share one exchange"): stage sets shrink
    # monotonically (every tN user is a tN-1 user), so count(tN) over
    # the joined frame equals count(*) of stage N exactly.
    funnel = (
        s1.join(s2, "user_id", "left_outer")
        .join(s3, "user_id", "left_outer")
        .join(s4, "user_id", "left_outer")
    )
    return funnel.agg(
        F.count("*").alias("n_signup"),
        F.count("t2").alias("n_viewed"),
        F.count("t3").alias("n_clicked"),
        F.count("t4").alias("n_purchased"),
    ).select(
        "n_signup",
        "n_viewed",
        "n_clicked",
        "n_purchased",
        F.round(F.col("n_purchased") * 1.0 / F.col("n_signup"), 6).alias("conversion"),
    )


@register(
    "events_weekly_retention",
    oracle="""
    WITH w AS (
      SELECT user_id, CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week
      FROM events
    ),
    cohorts AS (SELECT user_id, min(week) AS cohort FROM w GROUP BY user_id),
    active AS (SELECT DISTINCT user_id, week FROM w)
    SELECT c.cohort AS cohort_week,
           a.week - c.cohort AS week_offset,
           CAST(count(*) AS BIGINT) AS n_active_users
    FROM active a JOIN cohorts c ON c.user_id = a.user_id
    GROUP BY 1, 2 ORDER BY cohort_week, week_offset
    """,
    description="Weekly retention cohorts: users grouped by the epoch "
    "week of their first event, counted as active at each later week "
    "offset — the standard cohort-retention matrix. One distinct over "
    "(user, week), one min-aggregate for the cohort map (broadcast — "
    "user-cardinality-bounded), one rollup; epoch-week arithmetic "
    "(floor(epoch/604800)) is identical in both engines, unlike "
    "locale-dependent week-of-year functions.",
    tags=("events", "retention", "cohorts"),
)
def events_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    w = ev.select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 604800).cast("bigint").alias("week"),
    )
    cohorts = w.groupBy("user_id").agg(F.min("week").alias("cohort"))
    active = w.distinct()
    return (
        active.join(F.broadcast(cohorts), "user_id")
        .groupBy(
            F.col("cohort").alias("cohort_week"),
            (F.col("week") - F.col("cohort")).alias("week_offset"),
        )
        .agg(F.count("*").alias("n_active_users"))
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "events_error_anomaly_scores",
    oracle="""
    WITH h AS (
      SELECT date_trunc('hour', ts) AS hour,
             CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_errors
      FROM events GROUP BY 1
    ),
    scored AS (
      SELECT hour, n_errors,
             avg(n_errors) OVER tw AS mu,
             stddev_samp(n_errors) OVER tw AS sigma,
             count(*) OVER tw AS n_window
      FROM h
      WINDOW tw AS (ORDER BY hour ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT hour, n_errors,
           round(mu, 6) AS trailing_mean,
           round((n_errors - mu) / sigma, 6) AS z_score
    FROM scored
    WHERE n_window = 24 AND sigma > 0
    ORDER BY round((n_errors - mu) / sigma, 6) DESC, hour
    LIMIT 5
    """,
    description="Error-rate anomaly scoring: hourly error counts "
    "z-scored against the trailing 24-hour window (rows 24 preceding "
    "to 1 preceding — the current hour never contaminates its own "
    "baseline), top 5 by score. The ordered window runs over the "
    "hour-grain rollup, whose cardinality is time-bounded, not "
    "event-bounded — the aggregation below it is the only "
    "corpus-sized pass; sort key is the 6dp-rounded score with the "
    "hour tiebreak (the repo-wide float-ordering convention).",
    tags=("events", "window-agg", "anomaly"),
)
def events_error_anomaly_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    h = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count(F.when(F.col("event_type") == "error", True)).alias("n_errors")
    )
    trailing = Window.orderBy("hour").rowsBetween(-24, -1)
    scored = h.select(
        "hour",
        "n_errors",
        F.avg("n_errors").over(trailing).alias("mu"),
        F.stddev_samp("n_errors").over(trailing).alias("sigma"),
        F.count("*").over(trailing).alias("n_window"),
    ).filter((F.col("n_window") == 24) & (F.col("sigma") > 0))
    z = F.round((F.col("n_errors") - F.col("mu")) / F.col("sigma"), 6)
    return (
        scored.select(
            "hour",
            "n_errors",
            F.round("mu", 6).alias("trailing_mean"),
            z.alias("z_score"),
        )
        .orderBy(F.col("z_score").desc(), "hour")
        .limit(5)
    )


@register(
    "events_type_trend",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    )
    SELECT event_type, h, n,
           n - lag(n) OVER (PARTITION BY event_type ORDER BY h) AS delta
    FROM hourly
    ORDER BY event_type, h
    LIMIT 200
    """,
    description="Hour-over-hour trend per event type: LAG over the "
    "hour-grain rollup — the window runs on the time-bounded aggregate "
    "(types x hours rows), never the raw event stream, so the ordered "
    "window state is trivially bounded at any scale.",
    tags=("events", "window", "trend"),
)
def events_type_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, "events", sf_dir)
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count("*").cast("bigint").alias("n"))
    w = Window.partitionBy("event_type").orderBy("h")
    return (
        hourly.withColumn("delta", F.col("n") - F.lag("n").over(w))
        .orderBy("event_type", "h")
        .limit(200)
    )


@register(
    "events_trending_topk",
    oracle="""
    WITH h AS (
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    d AS (
      SELECT window_start, event_type, n_events,
             n_events - lag(n_events) OVER (
               PARTITION BY event_type ORDER BY window_start) AS delta,
             CAST(row_number() OVER (
               PARTITION BY window_start
               ORDER BY n_events DESC, event_type) AS INTEGER) AS rank
      FROM h
    )
    SELECT window_start, event_type, n_events, rank, delta
    FROM d WHERE rank <= 3
    ORDER BY window_start, rank
    """,
    description="Trending top-k: per hourly window, the 3 most frequent "
    "event types with their rank and hour-over-hour count delta (LAG "
    "per type over the windows it appeared in). The rollup is one "
    "keyed aggregation; rank and delta are window functions over the "
    "window-count-sized relation, never the raw events. The streaming "
    "twin (streaming/events.py trending_topk_stream) streams the "
    "stateful watermarked counts and applies the IDENTICAL "
    "rank_trending transform per trigger via foreachBatch — "
    "stream-equals-batch pinned in tests/test_streaming.py.",
    tags=("events", "window-agg", "topk", "trending"),
)
def events_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_miner_spark.streaming.events import rank_trending

    ev = load_table(spark, "events", sf_dir)
    hourly = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    return rank_trending(hourly, k=3).orderBy("window_start", "rank")


@register(
    "events_gap_filled_hourly",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts)) AS lo,
             date_trunc('hour', max(ts)) AS hi
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_ts
      FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour_ts,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    filled AS (
      SELECT t.event_type, s.hour_ts,
             CAST(coalesce(h.n, 0) AS BIGINT) AS n_events
      FROM spine s
      CROSS JOIN types t
      LEFT JOIN hourly h
        ON h.event_type = t.event_type AND h.hour_ts = s.hour_ts
    )
    SELECT event_type, hour_ts, n_events,
           round(avg(n_events) OVER (
             PARTITION BY event_type ORDER BY hour_ts
             ROWS BETWEEN 23 PRECEDING AND CURRENT ROW), 6) AS ma24
    FROM filled
    ORDER BY event_type, hour_ts
    """,
    description="Calendar gap-fill + moving average: the complete "
    "hourly spine from the corpus's first to last hour, cross-joined "
    "with the observed event types, left-joined to the hourly rollup "
    "with missing slots zero-filled, then a trailing 24-hour moving "
    "average over the FILLED series (the fill is load-bearing: an MA "
    "over only observed hours silently skips the gaps it should "
    "dilute). The spine is generated from a broadcast two-value "
    "bounds aggregate via sequence+explode — its cardinality is "
    "hours x types, bounded by wall-clock time and schema, not data "
    "volume, so at 100 TB the only corpus-sized work remains the one "
    "keyed rollup; the spine join and window run on the "
    "slot-count-sized relation.",
    tags=("events", "window", "gap-fill"),
)
def events_gap_filled_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("hour_ts")
    )
    types = ev.select("event_type").distinct()
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_ts")
    ).agg(F.count("*").alias("n"))
    filled = (
        spine.crossJoin(F.broadcast(types))
        .join(hourly, ["event_type", "hour_ts"], "left")
        .select(
            "event_type",
            "hour_ts",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_ts")
        .rowsBetween(-23, Window.currentRow)
    )
    return (
        filled.withColumn("ma24", F.round(F.avg("n_events").over(w), 6))
        .orderBy("event_type", "hour_ts")
    )

@register(
    "events_ks_drift",
    oracle="""
    WITH mm AS (
      SELECT min(epoch_us(ts)) + max(epoch_us(ts)) AS mnmx FROM events
    ),
    sided AS (
      SELECT event_type, value,
             CASE WHEN epoch_us(ts) * 2 < (SELECT mnmx FROM mm)
                  THEN 1 ELSE 0 END AS early
      FROM events
    ),
    cnt AS (
      SELECT event_type, value,
             CAST(sum(early) AS BIGINT) AS ca,
             CAST(count(*) - sum(early) AS BIGINT) AS cb
      FROM sided GROUP BY event_type, value
    ),
    run AS (
      SELECT event_type, value, ca, cb,
             sum(ca) OVER (PARTITION BY event_type) AS tota,
             sum(cb) OVER (PARTITION BY event_type) AS totb,
             sum(ca) OVER (PARTITION BY event_type ORDER BY value) AS cuma,
             sum(cb) OVER (PARTITION BY event_type ORDER BY value) AS cumb,
             sum(CAST(round(value * 100.0, 0) AS BIGINT) * ca)
               OVER (PARTITION BY event_type) AS sva,
             sum(CAST(round(value * 100.0, 0) AS BIGINT) * cb)
               OVER (PARTITION BY event_type) AS svb
      FROM cnt
    )
    SELECT event_type,
           CAST(max(tota) AS BIGINT) AS n_early,
           CAST(max(totb) AS BIGINT) AS n_late,
           round(max(abs(cuma / tota - cumb / totb)), 6) AS ks_stat,
           round((max(svb / totb) - max(sva / tota)) / 100.0, 6) AS mean_shift
    FROM run
    WHERE tota > 0 AND totb > 0
    GROUP BY event_type ORDER BY event_type
    """,
    description="Two-sample Kolmogorov-Smirnov drift per event type: "
    "split the stream at its midpoint timestamp (exact integer "
    "microsecond-epoch compare, no interval arithmetic) and report "
    "the KS statistic max|F_early - F_late| plus the mean shift of "
    "the value distribution -- the data-drift gate run before "
    "trusting a new ingestion batch in a training mixture. The CDFs "
    "live on the GROUPED value support: one corpus-scale keyed "
    "rollup to (event_type, value) counts, then window cumulative "
    "sums over that much smaller relation -- integer counts "
    "cumulate exactly, so both engines agree on every CDF step. "
    "Types empty on either side are excluded identically (the "
    "tota/totb guard). At 100 TB the rollup is the only shuffle of "
    "event-scale data; the per-type windows run over the distinct-"
    "value relation.",
    tags=("events", "drift", "curation", "window-agg"),
)
def events_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    mm = ev.agg(
        (F.min(F.unix_micros("ts")) + F.max(F.unix_micros("ts"))).alias("mnmx")
    )
    sided = ev.crossJoin(F.broadcast(mm)).select(
        "event_type",
        "value",
        F.when(F.unix_micros("ts") * 2 < F.col("mnmx"), 1)
        .otherwise(0)
        .alias("early"),
    )
    cnt = sided.groupBy("event_type", "value").agg(
        F.sum("early").cast("bigint").alias("ca"),
        (F.count("*") - F.sum("early")).cast("bigint").alias("cb"),
    )
    wt = Window.partitionBy("event_type")
    wo = Window.partitionBy("event_type").orderBy("value")
    run = cnt.select(
        "event_type",
        "value",
        "ca",
        "cb",
        F.sum("ca").over(wt).alias("tota"),
        F.sum("cb").over(wt).alias("totb"),
        F.sum("ca").over(wo).alias("cuma"),
        F.sum("cb").over(wo).alias("cumb"),
        # the value distribution is 2-decimal by construction; summing
        # exact integer CENTS keeps the mean-shift free of order-
        # dependent float accumulation (the sum is bit-identical under
        # any partitioning, matching the integer-CDF discipline above)
        F.sum(F.round(F.col("value") * 100.0, 0).cast("bigint") * F.col("ca"))
        .over(wt)
        .alias("sva"),
        F.sum(F.round(F.col("value") * 100.0, 0).cast("bigint") * F.col("cb"))
        .over(wt)
        .alias("svb"),
    )
    return (
        run.filter((F.col("tota") > 0) & (F.col("totb") > 0))
        .groupBy("event_type")
        .agg(
            F.max("tota").cast("bigint").alias("n_early"),
            F.max("totb").cast("bigint").alias("n_late"),
            F.round(
                F.max(
                    F.abs(
                        F.col("cuma") / F.col("tota")
                        - F.col("cumb") / F.col("totb")
                    )
                ),
                6,
            ).alias("ks_stat"),
            F.round(
                (
                    F.max(F.col("svb") / F.col("totb"))
                    - F.max(F.col("sva") / F.col("tota"))
                )
                / F.lit(100.0),
                6,
            ).alias("mean_shift"),
        )
        .orderBy("event_type")
    )


# --- Mergeable quantile sketch (deterministic KLL-style compaction) ---
# The last gap in the sketch algebra (VERDICT r6 item 8): mergeable
# quantiles across groups. Each group (event_type) is compacted
# independently; the per-group sketches MERGE by plain union because
# every survivor carries the same weight 2^L — the KLL property that
# makes distributed quantiles one union + one order statistic instead
# of a shuffle of the raw universe.
_KLL_LEVELS = 5  # 2^5 = 32x compaction per group


@register(
    "kll_quantile_merge",
    oracle=f"""
    WITH base AS (
      SELECT event_type,
             CAST(round(value * 100.0, 0) AS BIGINT) AS v,
             event_id
      FROM events
    ),
    p0 AS (SELECT event_type, v, event_id FROM base),
    {", ".join(
        f'''p{i} AS (
      SELECT event_type, v, event_id FROM (
        SELECT event_type, v, event_id,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY v, event_id) AS rn
        FROM p{i - 1}
      ) WHERE rn % 2 = 1
    )'''
        for i in range(1, _KLL_LEVELS + 1)
    )},
    merged AS (
      SELECT v, row_number() OVER (ORDER BY v, event_id) AS rn,
             count(*) OVER () AS m
      FROM p{_KLL_LEVELS}
    ),
    exact AS (
      SELECT v, row_number() OVER (ORDER BY v, event_id) AS rn,
             count(*) OVER () AS n
      FROM base
    ),
    qs AS (
      SELECT * FROM (VALUES ('p25', 1, 4), ('p50', 1, 2),
                            ('p75', 3, 4), ('p90', 9, 10)) AS t(q, qn, qd)
    ),
    est AS (
      SELECT qs.q, merged.v AS est_cents, merged.m
      FROM qs JOIN merged
        ON merged.rn = CAST(floor((qs.qn * merged.m + qs.qd - 1.0) / qs.qd)
                            AS BIGINT)
    ),
    tru AS (
      SELECT qs.q, exact.v AS exact_cents, exact.n
      FROM qs JOIN exact
        ON exact.rn = CAST(floor((qs.qn * exact.n + qs.qd - 1.0) / qs.qd)
                           AS BIGINT)
    )
    SELECT est.q,
           est.est_cents,
           tru.exact_cents,
           abs(est.est_cents - tru.exact_cents) AS abs_err_cents,
           CAST(est.m AS BIGINT) AS sketch_rows,
           CAST(tru.n AS BIGINT) AS exact_rows
    FROM est JOIN tru ON tru.q = est.q
    ORDER BY est.q
    """,
    description="Mergeable quantile sketch (deterministic KLL-style "
    "rank-parity compaction, Karnin-Lang-Liberty 2016 made "
    "deterministic for cross-engine parity): per event_type, "
    f"{_KLL_LEVELS} compaction passes each keep the odd ranks of the "
    "value-sorted survivors and double the item weight, leaving a "
    "32x-compressed uniform-weight sample; the per-group sketches "
    "merge by UNION (equal weights), and each requested quantile is "
    "one order statistic over the merged sketch. Estimates are graded "
    "in-query against the exact rank statistic over the raw rows "
    "(integer cents, integer target ranks — bit-exact cross-engine). "
    "At 100 TB the sketch side is a per-group window over "
    "co-partitioned data + a union of 1/32-sized survivors; the "
    "exact side exists only to grade, the same contract as the "
    "KMV/HLL/CMS family.",
    tags=("events", "sketch", "quantiles", "approx"),
)
def kll_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    base = events.select(
        "event_type",
        F.round(F.col("value") * 100.0, 0).cast("bigint").alias("v"),
        "event_id",
    )
    # compaction passes: all windows share the event_type partitioning,
    # so Catalyst plans ONE exchange and chains the sorts/filters
    cur = base
    grp = Window.partitionBy("event_type").orderBy("v", "event_id")
    for _ in range(_KLL_LEVELS):
        cur = (
            cur.withColumn("rn", F.row_number().over(grp))
            .filter(F.col("rn") % 2 == 1)
            .drop("rn")
        )
    # merged sketch + exact twin: global order statistics. The sketch
    # side is sketch-sized by construction; the exact side's global
    # sort is the grading harness, not the production path.
    gw = Window.orderBy("v", "event_id")
    merged = (
        cur.withColumn("rn", F.row_number().over(gw))
        .withColumn("m", F.count("*").over(Window.partitionBy()))
        .select("v", "rn", "m")
    )
    exact = (
        base.withColumn("rn", F.row_number().over(gw))
        .withColumn("n", F.count("*").over(Window.partitionBy()))
        .select("v", "rn", "n")
    )
    qs = spark.createDataFrame(
        [("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4), ("p90", 9, 10)],
        "q string, qn int, qd int",
    )
    # target-rank joins: 4 broadcast rows against sketch-sized frames
    # (the accepted broadcast-scalar crossJoin class); integer products
    # stay < 2^24, so the float floor-division is exact
    def rank_of(qn, qd, tot):
        return F.floor((qn * tot + qd - 1.0) / qd).cast("bigint")

    est = F.broadcast(qs).join(
        merged, merged.rn == rank_of(qs.qn, qs.qd, merged.m)
    ).select("q", F.col("v").alias("est_cents"), "m")
    tru = F.broadcast(qs).join(
        exact, exact.rn == rank_of(qs.qn, qs.qd, exact.n)
    ).select(F.col("q").alias("tq"), F.col("v").alias("exact_cents"), "n")
    return (
        est.join(tru, est.q == tru.tq)
        .select(
            "q",
            "est_cents",
            "exact_cents",
            F.abs(F.col("est_cents") - F.col("exact_cents")).alias(
                "abs_err_cents"
            ),
            F.col("m").cast("bigint").alias("sketch_rows"),
            F.col("n").cast("bigint").alias("exact_rows"),
        )
        .orderBy("q")
    )


# item-item co-occurrence similarity (recsys candidate generation)

COOC_USER_CAP = 64  # drop power users whose distinct-item fanout
# would dominate the pair join — the standard degree cap; part of the
# spec, replicated exactly in the oracle


@register(
    "item_cooccurrence_topk",
    oracle=f"""
    WITH ui AS (
      -- malformed k values must be dropped IDENTICALLY on both
      -- engines (ADVICE r9). A bare cast diverges three ways: ANSI
      -- Spark THROWS on 'abc', DuckDB CAST errors, and DuckDB
      -- TRY_CAST ROUNDS '12.5' to 13 while Spark try_cast nulls it.
      -- The engine side uses try_cast (one JSON parse, no regex on
      -- the hot scan — a regex gate measured 1.66x on this query);
      -- the oracle replicates Spark's EXACT try_cast(string->bigint)
      -- semantics (UTF8String.trimAll + toLong): trim ALL chars
      -- <= 0x20 (DuckDB's trim() strips only spaces, so '\t123' must
      -- survive here exactly as Spark keeps it), then optional sign +
      -- digits only, then TRY_CAST — on a regex-validated integer
      -- literal TRY_CAST cannot round, and it nulls int64 OVERFLOW
      -- ('9223372036854775808') exactly like Spark's try_cast where a
      -- plain CAST would throw (ADVICE r10). Cheap here, where the
      -- corpus is sf0.01-sized.
      SELECT DISTINCT user_id, item FROM (
        SELECT user_id, TRY_CAST(tks AS BIGINT) AS item FROM (
          SELECT user_id,
                 regexp_replace(json_extract_string(props, '$.k'),
                                '^[\\x00-\\x20]+|[\\x00-\\x20]+$', '', 'g') AS tks
          FROM events
        ) WHERE tks IS NOT NULL AND regexp_matches(tks, '^[+-]?[0-9]+$')
      ) WHERE item IS NOT NULL
    ),
    kept AS (
      SELECT user_id, item FROM ui
      QUALIFY count(*) OVER (PARTITION BY user_id) <= {COOC_USER_CAP}
    ),
    pairs AS (
      SELECT a.item AS item_a, b.item AS item_b,
             CAST(count(*) AS BIGINT) AS co_users
      FROM kept a JOIN kept b
        ON a.user_id = b.user_id AND a.item < b.item
      GROUP BY a.item, b.item
    ),
    pops AS (
      SELECT item, CAST(count(*) AS BIGINT) AS n_users
      FROM kept GROUP BY item
    )
    SELECT p.item_a, p.item_b, p.co_users,
           round(p.co_users / sqrt(pa.n_users * pb.n_users), 6) AS cosine,
           CAST(row_number() OVER (
             ORDER BY round(p.co_users / sqrt(pa.n_users * pb.n_users), 6)
                      DESC, p.item_a, p.item_b) AS INT) AS rank
    FROM pairs p
    JOIN pops pa ON pa.item = p.item_a
    JOIN pops pb ON pb.item = p.item_b
    ORDER BY cosine DESC, item_a, item_b LIMIT 20
    """,
    description="Item-item co-occurrence cosine top-20 — the classic "
    "collaborative-filtering candidate generator ('users who touched "
    "X also touched Y'), computed from the events stream's item prop: "
    "binary user-item incidence, cosine = co_users / "
    "sqrt(pop_a * pop_b), ranked globally. 100 TB shape: the pair "
    "join is keyed on user_id with per-user fanout bounded by the "
    "degree cap (power users above {cap} distinct items are dropped "
    "whole — the standard recsys cap, part of the spec so the oracle "
    "replicates it exactly), so candidate volume is "
    "sum-of-capped-squares, never items x items; item popularities "
    "are a vocabulary-sized broadcast; the final ranking is one "
    "TakeOrderedAndProject. Counts are integers and the cosine is a "
    "single-op double division, so ranking agrees bit-for-bit across "
    "engines.".format(cap=COOC_USER_CAP),
    tags=("events", "similarity", "recsys", "topk"),
)
def item_cooccurrence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, "events", sf_dir)
    # try_cast, not cast: under the session's ANSI mode a bare cast
    # would THROW on a malformed k. try_cast nulls exactly the
    # non-integer-literal strings (trim + sign + digits is all
    # UTF8String.toLong accepts), and the oracle replicates that rule
    # verbatim — a first regex-gate version of this fix evaluated the
    # JSON path twice plus java.util.regex per event row on the
    # file-bounded scan stage and measured 1.66x (A/B, round 10)
    item = F.get_json_object(F.col("props"), "$.k").try_cast("bigint")
    ui = (
        ev.select("user_id", item.alias("item"))
        .filter(F.col("item").isNotNull())
        .distinct()
    )
    # materialize the capped incidence ONCE: four consumers (both pair
    # sides and both popularity lookups) would otherwise each re-run
    # the scan + JSON parse + distinct + degree window — the expensive
    # part of the whole query at any scale
    kept = pin(
        ui.withColumn(
            "n_items", F.count("*").over(Window.partitionBy("user_id"))
        )
        .filter(F.col("n_items") <= COOC_USER_CAP)
        .select("user_id", "item"),
        eager=True,
    )
    a = kept.select("user_id", F.col("item").alias("item_a"))
    b = kept.select("user_id", F.col("item").alias("item_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").cast("bigint").alias("co_users"))
    )
    pops = kept.groupBy("item").agg(
        F.count("*").cast("bigint").alias("n_users")
    )
    pa = pops.select(F.col("item").alias("item_a"), F.col("n_users").alias("na"))
    pb = pops.select(F.col("item").alias("item_b"), F.col("n_users").alias("nb"))
    cosine = F.round(
        F.col("co_users") / F.sqrt(F.col("na") * F.col("nb")), 6
    )
    scored = (
        pairs.join(F.broadcast(pa), "item_a")
        .join(F.broadcast(pb), "item_b")
        .select("item_a", "item_b", "co_users", cosine.alias("cosine"))
    )
    # bounded single-partition window: TakeOrderedAndProject caps the
    # frame to 20 rows BEFORE the rank window runs (same audit note as
    # the BM25 leg's post-limit rank)
    top = scored.orderBy(F.desc("cosine"), "item_a", "item_b").limit(20)
    return (
        top.withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("cosine"), "item_a", "item_b"))
            .cast("int"),
        )
        .orderBy(F.desc("cosine"), "item_a", "item_b")
    )
