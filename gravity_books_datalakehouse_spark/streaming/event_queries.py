"""Batch analytics over the ``events`` stream table (+ oracles).

These are the *batch-equivalent* semantics of the streaming jobs in
streaming/events.py — tumbling-window aggregation and sessionization.
Structured Streaming runs the identical expressions incrementally with
watermarks; running them here as batch gives the DuckDB-verifiable
correctness gate (the reference has no streaming at all — SURVEY.md §2.7
marks it ABSENT; the ``events`` table is the driver's extension surface).

Parquet note: the physical type of ``ts`` has drifted across testdata
generations (TIMESTAMP(NANOS) in round 1, plain timestamp[us] since
round 2), so ``load_events`` branches on the *read* dtype instead of
assuming either: a LongType read (via the legacy nanosAsLong flag)
gets the explicit ns→µs convert; a native timestamp read is cast to
session-TZ TIMESTAMP. DuckDB reads both natively so oracles agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gravity_books_datalakehouse_spark.plans._cache import (
    checkpoint_by_rows,
    session_memo,
)
from gravity_books_datalakehouse_spark.plans.operator_queries import (
    _cents,
    _money_sum,
    lit_rows_df,
    register,
)


def read_events_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw events read, tolerant of the physical ``ts`` encoding.

    A plain parquet read handles timestamp[us]/timestamp_ntz; if the file
    carries TIMESTAMP(NANOS) (which Spark's reader rejects), fall back to
    the legacy ``nanosAsLong`` flag. The flag is read again at
    physical-planning/action time (ParquetFileFormat.buildReader), not
    just at ``spark.read.parquet()`` time, so it must STAY set for the
    session while the fallback DataFrame is live — restoring it in a
    ``finally`` here would make the returned (lazy) DataFrame fail with
    'Illegal Parquet type' at its first action. Native-encoded files
    never reach the fallback, so the flag leaks only into sessions that
    actually hold nanos-encoded data, where it is required.
    """
    path = f"{sf_dir}/events.parquet"
    flag = "spark.sql.legacy.parquet.nanosAsLong"
    try:
        raw = spark.read.parquet(path)
        _ = raw.schema["ts"].dataType  # force footer/schema resolution
        return raw
    except Exception:
        prior = spark.conf.get(flag, "false")
        spark.conf.set(flag, "true")
        try:
            return spark.read.parquet(path)
        except Exception:
            # not the nanos case (missing/corrupt file): restore the flag
            # before propagating so an unrelated failure can't leave the
            # legacy mode enabled session-wide
            spark.conf.set(flag, prior)
            raise


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Branch on the *read* dtype of ``col`` → session-TZ TIMESTAMP (µs)."""
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    dt = df.schema[col].dataType
    if isinstance(dt, LongType):
        # epoch-nanos as BIGINT: integer division — float division of
        # epoch-nanos (≈1.7e18) exceeds double precision, ±1 µs off.
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if isinstance(dt, TimestampNTZType):
        # session TZ is pinned UTC (session.py:45), so NTZ→TZ is a relabel
        return df.withColumn(col, F.col(col).cast(TimestampType()))
    return df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ts normalized to session-TZ TIMESTAMP (µs precision).

    Schema-adaptive: tolerates every physical encoding the testdata has
    shipped — TIMESTAMP(NANOS) in round 1, plain timestamp[us] since
    round 2 — by branching on the read dtype instead of assuming either.
    """
    return normalize_event_ts(read_events_raw(spark, sf_dir))


@register(
    "ev_tumbling_hourly",
    """SELECT time_bucket(INTERVAL '1 hour', ts::TIMESTAMP) AS window_start,
              event_type,
              COUNT(*) AS n_events,
              CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
       FROM events
       GROUP BY 1, 2""",
)
def ev_tumbling_hourly(spark, sf_dir):
    """Tumbling 1-hour window counts/sums per event type — the canonical
    streaming aggregation, here in batch form. The streaming twin
    (streaming/events.py) uses the same ``window()`` expression with a
    watermark; state per (window, type) is bounded and evicted on close."""
    e = load_events(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _money_sum(_cents("value", 4), 4).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value"
        )
    )


@register(
    "ev_sessionize",
    """WITH flagged AS (
         SELECT user_id, ts::TIMESTAMP AS ts,
                CASE WHEN lag(ts::TIMESTAMP) OVER w IS NULL
                       OR ts::TIMESTAMP - lag(ts::TIMESTAMP) OVER w > INTERVAL '30 minutes'
                     THEN 1 ELSE 0 END AS new_sess
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts)
       ),
       numbered AS (
         SELECT user_id, ts,
                SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sess_id
         FROM flagged
       )
       SELECT user_id,
              MIN(ts) AS session_start,
              MAX(ts) AS last_event,
              COUNT(*) AS n_events
       FROM numbered
       GROUP BY user_id, sess_id""",
)
def ev_sessionize(spark, sf_dir):
    """Sessionization: 30-minute-gap sessions per user via
    ``session_window`` — Spark's native stateful session operator (in
    streaming it maintains open sessions as state; in batch it compiles
    to the same gaps-and-islands the oracle spells out manually).
    Output is (start, last event, count); session_window.end = last+gap
    is deliberately not emitted (engine-specific convention).

    Exact-boundary semantics (pinned by tests/test_session_boundary.py):
    Spark MERGES two events whose gap is exactly the 30-minute gap
    duration (windows [t, t+30m) and [t+30m, t+60m) touch and coalesce)
    and splits only when gap > 30 minutes — the same rule as the
    oracle's ``lag(ts) > INTERVAL '30 minutes'`` session break, so the
    two engines agree on every gap including the boundary. The same
    equivalence covers ev_peak_concurrency, op_j_interval_overlap and
    ev_pattern_match, which reuse this sessionization shape."""
    e = load_events(spark, sf_dir)
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.max("ts").alias("last_event"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "last_event",
            "n_events",
        )
    )


@register(
    "ev_type_value_stats",
    """SELECT event_type,
              COUNT(*) AS n,
              COUNT(DISTINCT user_id) AS n_users,
              CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
              ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_value
       FROM events GROUP BY event_type""",
)
def ev_type_value_stats(spark, sf_dir):
    """Per-type rollup over the full stream history (count, distinct
    users, exact-decimal value sums)."""
    e = load_events(spark, sf_dir)
    sv = _money_sum(_cents("value", 4), 4).cast("double")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        sv.alias("sum_value"),
        F.round(sv / F.count(F.lit(1)), 6).alias("avg_value"),
    )


@register(
    "ev_funnel_signup_click_purchase",
    """WITH s AS (
         SELECT user_id,
                MIN(CASE WHEN event_type = 'signup' THEN ts::TIMESTAMP END) AS signup_ts
         FROM events GROUP BY user_id
       ),
       c AS (
         SELECT e.user_id,
                MIN(e.ts::TIMESTAMP) AS click_ts
         FROM events e JOIN s ON e.user_id = s.user_id
         WHERE e.event_type = 'click' AND e.ts::TIMESTAMP > s.signup_ts
         GROUP BY e.user_id
       ),
       p AS (
         SELECT e.user_id,
                MIN(e.ts::TIMESTAMP) AS purchase_ts
         FROM events e JOIN c ON e.user_id = c.user_id
         WHERE e.event_type = 'purchase' AND e.ts::TIMESTAMP > c.click_ts
         GROUP BY e.user_id
       )
       SELECT COUNT(s.signup_ts) AS n_signup,
              COUNT(c.click_ts) AS n_click_after_signup,
              COUNT(p.purchase_ts) AS n_purchase_after_click
       FROM s
       LEFT JOIN c ON s.user_id = c.user_id
       LEFT JOIN p ON s.user_id = p.user_id
       WHERE s.signup_ts IS NOT NULL""",
)
def ev_funnel_signup_click_purchase(spark, sf_dir):
    """Funnel analytics: users progressing signup → first click after
    signup → first purchase after that click. Three staged conditional
    aggregations, each joined back — the standard ordered-event funnel
    without a row-pattern engine. Each stage is one groupBy on user_id;
    at scale all three reuse a single user_id-partitioned shuffle."""
    e = load_events(spark, sf_dir)
    s = (
        e.groupBy("user_id")
        .agg(F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("signup_ts"))
        .filter(F.col("signup_ts").isNotNull())
    )
    c = (
        e.join(s, "user_id")
        .filter((F.col("event_type") == "click") & (F.col("ts") > F.col("signup_ts")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    p = (
        e.join(c, "user_id")
        .filter((F.col("event_type") == "purchase") & (F.col("ts") > F.col("click_ts")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    return (
        s.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .agg(
            F.count("signup_ts").alias("n_signup"),
            F.count("click_ts").alias("n_click_after_signup"),
            F.count("purchase_ts").alias("n_purchase_after_click"),
        )
    )


@register(
    "ev_json_props_extract",
    """SELECT event_type,
              COUNT(*) AS n,
              CAST(MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS min_k,
              CAST(MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k,
              CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k
       FROM events GROUP BY event_type""",
)
def ev_json_props_extract(spark, sf_dir):
    """Semi-structured JSON handling: extract a typed field from the
    ``props`` JSON payload and aggregate it — the schema-on-read path for
    event property bags. ``get_json_object`` runs JVM-side; for hot paths
    with a stable schema, promote to ``from_json`` with an explicit
    StructType at the silver layer so the parse happens once."""
    e = load_events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(k).cast("int").alias("min_k"),
        F.max(k).cast("int").alias("max_k"),
        F.sum(k).cast("bigint").alias("sum_k"),
    )


@register(
    "ev_sliding_windows",
    """SELECT window_start, COUNT(*) AS n_events
       FROM (
         SELECT time_bucket(INTERVAL '15 minutes', ts::TIMESTAMP)
                - k.k * INTERVAL '15 minutes' AS window_start
         FROM events
         CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) k
       )
       GROUP BY window_start""",
)
def ev_sliding_windows(spark, sf_dir):
    """Sliding (hopping) 1-hour windows every 15 minutes — each event
    belongs to exactly 4 overlapping windows, the shape behind trending /
    rate-over-rolling-hour metrics. Spark's ``window(ts, '1 hour',
    '15 minutes')`` expands the 4 assignments before the aggregate, so
    it is one groupBy pass with 4× row fan-out and low-cardinality
    output; under streaming the identical expression runs incrementally
    with watermark-evicted per-window state. The oracle derives the same
    window set arithmetically (floor-to-15-min minus k·15 min)."""
    e = load_events(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


@register(
    "ev_retention_cohorts",
    """WITH cohort AS (
         SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_date
         FROM events GROUP BY user_id),
       activity AS (
         SELECT DISTINCT e.user_id, c.cohort_date,
                date_diff('day', c.cohort_date, CAST(e.ts AS DATE)) AS day_offset
         FROM events e JOIN cohort c ON e.user_id = c.user_id)
       SELECT cohort_date, day_offset,
              CAST(COUNT(*) AS BIGINT) AS n_users
       FROM activity
       WHERE day_offset <= 7
       GROUP BY cohort_date, day_offset
       ORDER BY cohort_date, day_offset""",
)
def ev_retention_cohorts(spark, sf_dir):
    """Daily cohort retention (day-0..7): users grouped by first-seen
    date, counted on each later day they return — the canonical product
    analytics matrix. Two aggregations over one event scan: the cohort
    assignment (min date per user) joins back to the activity stream on
    user_id, co-partitioned with the per-user aggregation that produced
    it, so the join adds no new exchange for the events side; the
    distinct collapses multiple same-day events before the final
    (cohort, offset) count."""
    e = load_events(spark, sf_dir)
    dated = e.select("user_id", F.col("ts").cast("date").alias("d"))
    cohort = dated.groupBy("user_id").agg(F.min("d").alias("cohort_date"))
    return (
        dated.join(cohort, "user_id")
        .select(
            "user_id", "cohort_date",
            F.datediff("d", "cohort_date").alias("day_offset"),
        )
        .filter(F.col("day_offset") <= 7)
        .distinct()
        .groupBy("cohort_date", "day_offset")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("cohort_date", "day_offset")
    )


@register(
    "ev_rolling_7d_active_users",
    """WITH du AS (
         SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
       mx AS (SELECT MAX(d) AS mxd FROM du),
       contrib AS (
         SELECT user_id,
                CAST(unnest(generate_series(d, d + INTERVAL 6 DAY, INTERVAL 1 DAY))
                     AS DATE) AS day
         FROM du)
       SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_7d
       FROM contrib CROSS JOIN mx
       WHERE day <= mxd
       GROUP BY day
       ORDER BY day""",
)
def ev_rolling_7d_active_users(spark, sf_dir):
    """Trailing-7-day distinct active users per day — the canonical
    rolling-uniques metric. COUNT(DISTINCT) cannot run inside a sliding
    window frame, so the scalable rewrite fans each (user, active-day)
    pair out to the 7 window-end days it contributes to and counts
    distinct users per end day: per-day dedup first (shrinks the fan-out
    base to user x day), a 7x calendar explode (bounded, data-independent
    multiplier), one distinct-count shuffle keyed by day. The same
    rewrite is how sliding-window uniques run incrementally under
    streaming (each arrival contributes to a bounded set of windows)."""
    e = load_events(spark, sf_dir)
    du = e.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    mx = du.agg(F.max("d").alias("mxd"))
    contrib = du.select(
        "user_id",
        F.explode(F.expr("sequence(d, date_add(d, 6), interval 1 day)")).alias("day"),
    )
    return (
        contrib.crossJoin(F.broadcast(mx))
        .filter(F.col("day") <= F.col("mxd"))
        .groupBy("day")
        .agg(F.count_distinct("user_id").cast("bigint").alias("active_7d"))
        .orderBy("day")
    )


@register(
    "ev_anomaly_hourly_zscore",
    """WITH hourly AS (
         SELECT event_type,
                time_bucket(INTERVAL '1 hour', ts::TIMESTAMP) AS h,
                CAST(COUNT(*) AS BIGINT) AS x
         FROM events GROUP BY 1, 2),
       stats AS (
         SELECT event_type, h, x,
                COUNT(*)  OVER w AS n,
                SUM(x)    OVER w AS s1,
                SUM(x*x)  OVER w AS s2
         FROM hourly
         WINDOW w AS (PARTITION BY event_type ORDER BY h
                      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
       SELECT event_type, h AS window_start, x,
              ROUND((n * x - s1) / sqrt(n * (n * s2 - s1 * s1) * 1.0 / (n - 1)), 4)
                AS zscore
       FROM stats
       WHERE n >= 12
         AND (n * s2 - s1 * s1) > 0
         AND (n * x - s1) > 0
         AND (n * x - s1) * (n * x - s1) * (n - 1) > 9 * n * (n * s2 - s1 * s1)
       ORDER BY event_type, window_start""",
)
def ev_anomaly_hourly_zscore(spark, sf_dir):
    """Rate-anomaly detection: hourly event counts whose z-score against
    the trailing 24 OBSERVED hourly buckets (current bucket excluded)
    exceeds 3 — the monitoring alert every event pipeline runs. Note the
    ROWS frame counts buckets, not wall-clock: on a sparse event type
    with gaps in the hourly series the baseline spans more than 24 h of
    wall time (gap-fill the spine first — op_w_gap_fill_forward — or use
    a RANGE frame on epoch-hours for strict wall-clock semantics). The novelty is the
    portability discipline: the z>3 test runs in EXACT integer
    arithmetic — (n·x − S1)²·(n−1) > 9·n·(n·S2 − S1²) over BIGINT count
    sums — so the flag set cannot drift between engines on a variance
    ulp; only the reported z value touches floats (identical IEEE
    expression from identical exact integers). One aggregation shuffle
    plus one per-type ordered window over bucket-cardinality rows."""
    e = load_events(spark, sf_dir)
    from pyspark.sql import Window

    hourly = (
        e.groupBy(
            "event_type", F.window("ts", "1 hour").alias("w")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .select("event_type", F.col("w.start").alias("h"), "x")
    )
    win = (
        Window.partitionBy("event_type").orderBy("h").rowsBetween(-24, -1)
    )
    stats = hourly.select(
        "event_type", "h", "x",
        F.count(F.lit(1)).over(win).alias("n"),
        F.sum("x").over(win).alias("s1"),
        F.sum(F.col("x") * F.col("x")).over(win).alias("s2"),
    )
    nx_s1 = F.col("n") * F.col("x") - F.col("s1")
    var_n = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    # integer product BEFORE the double conversion — same rounding path
    # as the oracle's n*(n*s2 - s1^2)*1.0/(n-1)
    z = F.round(
        nx_s1 / F.sqrt((F.col("n") * var_n) * 1.0 / (F.col("n") - 1)), 4
    )
    return (
        stats.filter(
            (F.col("n") >= 12)
            & (var_n > 0)
            & (nx_s1 > 0)
            & (nx_s1 * nx_s1 * (F.col("n") - 1) > 9 * F.col("n") * var_n)
        )
        .select(
            "event_type", F.col("h").alias("window_start"), "x", z.alias("zscore")
        )
        .orderBy("event_type", "window_start")
    )


@register(
    "ev_anomaly_hourly_zscore_gapfill",
    """WITH hourly AS (
         SELECT event_type,
                time_bucket(INTERVAL '1 hour', ts::TIMESTAMP) AS h,
                CAST(COUNT(*) AS BIGINT) AS x
         FROM events GROUP BY 1, 2),
       bounds AS (
         SELECT event_type, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY 1),
       spine AS (
         SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
         FROM bounds),
       filled AS (
         SELECT s.event_type, s.h, COALESCE(hh.x, 0) AS x
         FROM spine s LEFT JOIN hourly hh
           ON s.event_type = hh.event_type AND s.h = hh.h),
       stats AS (
         SELECT event_type, h, x,
                COUNT(*)  OVER w AS n,
                SUM(x)    OVER w AS s1,
                SUM(x*x)  OVER w AS s2
         FROM filled
         WINDOW w AS (PARTITION BY event_type ORDER BY h
                      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
       SELECT event_type, h AS window_start, x,
              ROUND((n * x - s1) / sqrt(n * (n * s2 - s1 * s1) * 1.0 / (n - 1)), 4)
                AS zscore
       FROM stats
       WHERE n >= 12
         AND (n * s2 - s1 * s1) > 0
         AND (n * x - s1) > 0
         AND (n * x - s1) * (n * x - s1) * (n - 1) > 9 * n * (n * s2 - s1 * s1)
       ORDER BY event_type, window_start""",
)
def ev_anomaly_hourly_zscore_gapfill(spark, sf_dir):
    """Wall-clock-strict variant of ``ev_anomaly_hourly_zscore``: the
    hourly series is gap-filled to a dense per-type spine (missing
    buckets count as x=0) BEFORE the trailing window, so "24 preceding
    buckets" is exactly "the trailing 24 hours" even on sparse event
    types — the round-3 advisory's alternative semantics, kept alongside
    the observed-bucket variant as a separate registered query. Same
    exact-integer z>3 discipline; the spine join carries one row per
    (type, hour), bucket-cardinality-sized, never event-sized."""
    e = load_events(spark, sf_dir)
    from pyspark.sql import Window

    hourly = (
        e.groupBy("event_type", F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .select("event_type", F.col("w.start").alias("h"), "x")
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("h"),
    )
    filled = (
        spine.join(hourly, ["event_type", "h"], "left")
        .select("event_type", "h", F.coalesce(F.col("x"), F.lit(0)).cast("bigint").alias("x"))
    )
    win = Window.partitionBy("event_type").orderBy("h").rowsBetween(-24, -1)
    stats = filled.select(
        "event_type", "h", "x",
        F.count(F.lit(1)).over(win).alias("n"),
        F.sum("x").over(win).alias("s1"),
        F.sum(F.col("x") * F.col("x")).over(win).alias("s2"),
    )
    nx_s1 = F.col("n") * F.col("x") - F.col("s1")
    var_n = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    z = F.round(
        nx_s1 / F.sqrt((F.col("n") * var_n) * 1.0 / (F.col("n") - 1)), 4
    )
    return (
        stats.filter(
            (F.col("n") >= 12)
            & (var_n > 0)
            & (nx_s1 > 0)
            & (nx_s1 * nx_s1 * (F.col("n") - 1) > 9 * F.col("n") * var_n)
        )
        .select(
            "event_type", F.col("h").alias("window_start"), "x", z.alias("zscore")
        )
        .orderBy("event_type", "window_start")
    )


@register(
    "ev_funnel_time_to_convert",
    """WITH s AS (
         SELECT user_id,
                MIN(CASE WHEN event_type = 'signup' THEN ts::TIMESTAMP END) AS signup_ts
         FROM events GROUP BY user_id
       ),
       c AS (
         SELECT e.user_id, MIN(e.ts::TIMESTAMP) AS click_ts
         FROM events e JOIN s ON e.user_id = s.user_id
         WHERE e.event_type = 'click' AND e.ts::TIMESTAMP > s.signup_ts
         GROUP BY e.user_id
       ),
       p AS (
         SELECT e.user_id, MIN(e.ts::TIMESTAMP) AS purchase_ts
         FROM events e JOIN c ON e.user_id = c.user_id
         WHERE e.event_type = 'purchase' AND e.ts::TIMESTAMP > c.click_ts
         GROUP BY e.user_id
       ),
       gaps AS (
         SELECT s.user_id,
                date_diff('second', s.signup_ts, c.click_ts) AS s2c,
                date_diff('second', c.click_ts, p.purchase_ts) AS c2p
         FROM s
         LEFT JOIN c ON s.user_id = c.user_id
         LEFT JOIN p ON s.user_id = p.user_id
         WHERE s.signup_ts IS NOT NULL)
       SELECT CAST(COUNT(s2c) AS BIGINT) AS n_clicked,
              CAST(quantile_disc(s2c, 0.5) AS BIGINT) AS median_signup_to_click_s,
              CAST(quantile_disc(s2c, 0.9) AS BIGINT) AS p90_signup_to_click_s,
              CAST(COUNT(c2p) AS BIGINT) AS n_purchased,
              CAST(quantile_disc(c2p, 0.5) AS BIGINT) AS median_click_to_purchase_s,
              CAST(quantile_disc(c2p, 0.9) AS BIGINT) AS p90_click_to_purchase_s
       FROM gaps""",
)
def ev_funnel_time_to_convert(spark, sf_dir):
    """Funnel TIMING: how long converters take between stages (median /
    p90 seconds signup→first-click and click→first-purchase) — the
    companion to the count funnel, computed over the same staged
    conditional aggregations. DISCRETE percentiles over integer seconds
    keep the statistic bit-identical cross-engine. Per-user gaps reuse
    one user_id-partitioned shuffle; the final reduce runs over the
    bounded gap-seconds histogram, not the raw per-user rows (see
    operators/percentile_hist.py), and emits a single row."""
    e = load_events(spark, sf_dir)
    s = (
        e.groupBy("user_id")
        .agg(F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("signup_ts"))
        .filter(F.col("signup_ts").isNotNull())
    )
    c = (
        e.join(s, "user_id")
        .filter((F.col("event_type") == "click") & (F.col("ts") > F.col("signup_ts")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    p = (
        e.join(c, "user_id")
        .filter((F.col("event_type") == "purchase") & (F.col("ts") > F.col("click_ts")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    gaps = (
        s.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            (F.unix_timestamp("click_ts") - F.unix_timestamp("signup_ts")).alias("s2c"),
            (F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")).alias("c2p"),
        )
    )
    # Exact discrete percentiles via the gap-value HISTOGRAM
    # (operators/percentile_hist.py): a global percentile_disc would
    # buffer every user's gap in ONE aggregate — unbounded at scale —
    # while the histogram is bounded by the distinct-seconds domain.
    # Both metrics ride ONE pass over gaps: each user row explodes to
    # (metric, value) pairs, the percentile runs per metric, and the
    # two stat rows pivot back to the single-row report (an all-NULL
    # metric simply has no histogram rows: count coalesces to 0 and the
    # percentiles stay NULL, exactly like percentile_disc).
    from gravity_books_datalakehouse_spark.operators.percentile_hist import (
        grouped_disc_percentiles,
    )

    pairs = gaps.select(
        F.explode(
            F.array(
                F.struct(F.lit("s2c").alias("metric"), F.col("s2c").alias("v")),
                F.struct(F.lit("c2p").alias("metric"), F.col("c2p").alias("v")),
            )
        ).alias("mv")
    ).select("mv.metric", "mv.v").filter(F.col("v").isNotNull())
    stats = grouped_disc_percentiles(
        pairs, ["metric"], "v", [0.5, 0.9], ["p50", "p90"], n_alias="n"
    )

    def pick(metric, col):
        return F.max(F.when(F.col("metric") == metric, F.col(col)))

    return stats.agg(
        F.coalesce(pick("s2c", "n"), F.lit(0)).cast("bigint").alias("n_clicked"),
        pick("s2c", "p50").cast("bigint").alias("median_signup_to_click_s"),
        pick("s2c", "p90").cast("bigint").alias("p90_signup_to_click_s"),
        F.coalesce(pick("c2p", "n"), F.lit(0)).cast("bigint").alias("n_purchased"),
        pick("c2p", "p50").cast("bigint").alias("median_click_to_purchase_s"),
        pick("c2p", "p90").cast("bigint").alias("p90_click_to_purchase_s"),
    )


@register(
    "ev_user_ltv_topk",
    """WITH per_user AS (
         SELECT user_id,
                CAST(SUM(CASE WHEN event_type = 'purchase'
                              THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE)
                  AS lifetime_value,
                CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT)
                  AS n_purchases,
                MIN(ts::TIMESTAMP) AS first_seen,
                MAX(ts::TIMESTAMP) AS last_seen
         FROM events GROUP BY user_id)
       SELECT user_id, ROUND(lifetime_value, 4) AS lifetime_value,
              n_purchases, first_seen, last_seen
       FROM per_user
       WHERE lifetime_value IS NOT NULL
       ORDER BY lifetime_value DESC, user_id ASC
       LIMIT 20""",
)
def ev_user_ltv_topk(spark, sf_dir):
    """Top-20 users by purchase lifetime value with activity bounds —
    the canonical user-level rollup. One groupBy on user_id (conditional
    exact-decimal sum), then TakeOrderedAndProject — the top-k never
    sorts the full user set. first/last_seen ride the same aggregate."""
    e = load_events(spark, sf_dir)
    ltv = _money_sum(
        F.when(F.col("event_type") == "purchase", _cents("value", 4)), 4
    ).cast("double")
    return (
        e.groupBy("user_id")
        .agg(
            ltv.alias("ltv_raw"),
            F.count(F.when(F.col("event_type") == "purchase", 1))
            .cast("bigint")
            .alias("n_purchases"),
            F.min("ts").alias("first_seen"),
            F.max("ts").alias("last_seen"),
        )
        .filter(F.col("ltv_raw").isNotNull())
        .select(
            "user_id",
            F.round("ltv_raw", 4).alias("lifetime_value"),
            "n_purchases",
            "first_seen",
            "last_seen",
        )
        .orderBy(F.desc("lifetime_value"), F.asc("user_id"))
        .limit(20)
    )


@register(
    "ev_type_transition_matrix",
    """WITH seq AS (
         SELECT user_id, event_type,
                lead(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS next_type
         FROM events)
       SELECT event_type AS from_type, next_type AS to_type,
              CAST(COUNT(*) AS BIGINT) AS n_transitions,
              ROUND(COUNT(*) * 1.0 /
                    SUM(COUNT(*)) OVER (PARTITION BY event_type), 6)
                AS frac_from
       FROM seq
       WHERE next_type IS NOT NULL
       GROUP BY event_type, next_type
       ORDER BY from_type, to_type""",
)
def ev_type_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix over each user's event
    sequence: counts and per-source-state fractions of consecutive
    (from, to) event-type pairs — the behavioral fingerprint funnels and
    anomaly baselines build on. One user_id-partitioned ordered window
    (event_id tiebreak pins same-timestamp order cross-engine), then a
    16-cell rollup; the per-from fraction is a window over cell
    cardinality."""
    from pyspark.sql import Window

    e = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    wf = Window.partitionBy("event_type")
    return (
        seq.groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_transitions"))
        .withColumn(
            "frac_from",
            F.round(
                F.col("n_transitions") * 1.0
                / F.sum("n_transitions").over(Window.partitionBy("from_type")),
                6,
            ),
        )
        .orderBy("from_type", "to_type")
    )


#: Attribution lookback (7 days) in microseconds — the RANGE-frame bound
#: over the unique epoch-micros ordering key (both engines frame as
#: [ep - LOOKBACK, ep - 1], i.e. strictly-before within the window).
_ATTR_LOOKBACK_US = 7 * 86400 * 1_000_000


@register(
    "ev_attribution_touch",
    f"""WITH t AS (
      SELECT user_id, event_type, value,
             last_value(CASE WHEN event_type != 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY epoch_us(ts::TIMESTAMP)
                     RANGE BETWEEN {_ATTR_LOOKBACK_US} PRECEDING
                           AND 1 PRECEDING) AS lt,
             first_value(CASE WHEN event_type != 'purchase' THEN event_type END
                         IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY epoch_us(ts::TIMESTAMP)
                     RANGE BETWEEN {_ATTR_LOOKBACK_US} PRECEDING
                           AND 1 PRECEDING) AS ft
      FROM events),
    p AS (SELECT COALESCE(lt, 'direct') AS lt, COALESCE(ft, 'direct') AS ft,
                 value
          FROM t WHERE event_type = 'purchase'),
    u AS (SELECT 'first_touch' AS role, ft AS touch_type, value FROM p
          UNION ALL
          SELECT 'last_touch' AS role, lt AS touch_type, value FROM p)
    SELECT role, touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS attributed_value
    FROM u GROUP BY role, touch_type
    ORDER BY role, touch_type""",
)
def ev_attribution_touch(spark, sf_dir):
    """Marketing-style first-/last-touch attribution: each purchase's
    value is credited to the user's earliest (first-touch) and most
    recent (last-touch) NON-purchase event inside a 7-day lookback;
    purchases with no touch in the window credit 'direct'. Report:
    (role, touch_type) -> purchases attributed + exact value.

    Determinism contract: the window orders by epoch MICROS, which this
    testdata keeps globally unique (asserted in the schema-drift tests'
    world); the RANGE frame [ep-7d, ep-1] is identical integer
    arithmetic on both engines, so first/last picks cannot diverge.
    Value totals ride the integer-cents fast path (events.value is
    exactly 4-dp).

    Scale: ONE window shuffle on user_id computes both touches (two
    window functions over the same frame share a single WindowExec);
    the explode doubles only the purchase rows, and the aggregate
    collapses map-side to <= 2 x (#event_types + 1) cells.
    """
    from pyspark.sql import Window

    from gravity_books_datalakehouse_spark.operators.sort import bounded_sort

    e = load_events(spark, sf_dir).withColumn("ep", F.unix_micros("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ep")
        .rangeBetween(-_ATTR_LOOKBACK_US, -1)
    )
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    p = (
        # both touches in ONE select: identical window specs expressed in
        # the same projection fuse into a single Window operator (two
        # chained withColumns plan two Window passes over the sort).
        e.select(
            "*",
            F.last(touch, ignorenulls=True).over(w).alias("lt"),
            F.first(touch, ignorenulls=True).over(w).alias("ft"),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            F.coalesce(F.col("lt"), F.lit("direct")).alias("lt"),
            F.coalesce(F.col("ft"), F.lit("direct")).alias("ft"),
            "value",
        )
    )
    return (
        p.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("first_touch").alias("role"),
                        F.col("ft").alias("touch_type"),
                    ),
                    F.struct(
                        F.lit("last_touch").alias("role"),
                        F.col("lt").alias("touch_type"),
                    ),
                )
            ).alias("r"),
            "value",
        )
        .select("r.role", "r.touch_type", "value")
        .groupBy("role", "touch_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            _money_sum(_cents("value", 4), 4)
            .cast("double")
            .alias("attributed_value"),
        )
        .transform(bounded_sort, "role", "touch_type")
    )


# --------------------------------------------------------------------------
# EWMA control chart (Roberts 1959; the NIST/SEMATECH e-handbook form)
# with an arithmetic twist that makes it cross-engine EXACT: lambda=1/2
# gives dyadic weights 2^-j, and truncating the memory at 24 trailing
# hours keeps every weighted sum an exact bigint — the alert DECISION
# never touches a float.

#: Trailing window length (hours) and the dyadic weight normalizer:
#: sum_{j=1..24} 2^(24-j) = 2^24 - 1.
_EWMA_LAGS = 24
_EWMA_NORM = 2**_EWMA_LAGS - 1

#: Minimum absolute count for an alert: a 2x-over-baseline rule on a
#: 1-or-2-count hour is noise, not a burst (standard control-chart
#: low-count guard). Integer, so the flag stays an exact decision.
_EWMA_MIN_COUNT = 5

#: S = sum_j x_{t-j} * 2^(24-j) as an exact integer (bigint-safe to
#: ~10^9 events/hour). Both engines build it from the same 24 lag()
#: reads of one window pass.
_EWMA_S_SQL = " + ".join(
    f"COALESCE(lag(x, {j}) OVER w, 0) * {2 ** (_EWMA_LAGS - j)}"
    for j in range(1, _EWMA_LAGS + 1)
)


@register(
    "ev_ewma_control",
    f"""WITH hourly AS (
         SELECT event_type,
                time_bucket(INTERVAL '1 hour', ts::TIMESTAMP) AS h,
                CAST(COUNT(*) AS BIGINT) AS x
         FROM events GROUP BY 1, 2),
       bounds AS (
         SELECT event_type, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY 1),
       spine AS (
         SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
         FROM bounds),
       filled AS (
         SELECT s.event_type, s.h, COALESCE(hh.x, 0) AS x
         FROM spine s LEFT JOIN hourly hh
           ON s.event_type = hh.event_type AND s.h = hh.h),
       weighted AS (
         SELECT event_type, h, x,
                {_EWMA_S_SQL} AS s,
                lag(x, {_EWMA_LAGS}) OVER w AS x_oldest
         FROM filled
         WINDOW w AS (PARTITION BY event_type ORDER BY h))
       SELECT event_type, h AS window_start, x,
              ROUND(s / {_EWMA_NORM}.0, 6) AS ewma,
              x >= {_EWMA_MIN_COUNT} AND x * {_EWMA_NORM} > 2 * s AS alert_flag
       FROM weighted
       WHERE x_oldest IS NOT NULL
       ORDER BY event_type, window_start""",
)
def ev_ewma_control(spark, sf_dir):
    """Per-type EWMA control chart over the gap-filled hourly event
    series: flag hours whose count exceeds TWICE the exponentially
    weighted trailing baseline (lambda = 1/2, memory truncated at 24 h,
    current hour excluded so the baseline is a forecast) AND clears the
    absolute low-count guard (x >= _EWMA_MIN_COUNT — a 2x rule on a
    2-count hour is noise, not a burst).

    The exactness trick: with lambda = 1/2 the weights are 2^-j, so
    S = sum_{{j=1..24}} x_(t-j) * 2^(24-j) is an exact INTEGER and the
    alert rule ``x * (2^24 - 1) > 2 * S`` is pure bigint comparison —
    no float can sit on the decision boundary (contrast the PSI
    monitor, which must round-then-flag). The displayed ewma is the
    one IEEE division S / (2^24 - 1), identical in both engines. Any
    other lambda would trade this for a rounding tolerance; the
    truncation at 24 lags is what keeps the weight set finite and the
    sum in one window pass.

    Plan shape: events collapse map-side to (type, hour) cells — the
    ONLY event-sized stage; the spine join and the 24-lag window run
    on the bucket-cardinality frame (types x hours), partitioned by
    event_type with a single per-partition sort feeding all 24 lag
    reads. At 100 TB the hot aggregation is the same one exchange as
    any hourly rollup; the chart itself is metadata-sized.
    """
    e = load_events(spark, sf_dir)
    from pyspark.sql import Window

    hourly = (
        e.groupBy("event_type", F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .select("event_type", F.col("w.start").alias("h"), "x")
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("h"),
    )
    filled = spine.join(hourly, ["event_type", "h"], "left").select(
        "event_type",
        "h",
        F.coalesce(F.col("x"), F.lit(0)).cast("bigint").alias("x"),
    )
    w = Window.partitionBy("event_type").orderBy("h")
    s = None
    for j in range(1, _EWMA_LAGS + 1):
        term = F.coalesce(F.lag("x", j).over(w), F.lit(0)) * F.lit(
            2 ** (_EWMA_LAGS - j)
        )
        s = term if s is None else s + term
    weighted = filled.select(
        "event_type",
        "h",
        "x",
        s.alias("s"),
        F.lag("x", _EWMA_LAGS).over(w).alias("x_oldest"),
    )
    return (
        weighted.filter(F.col("x_oldest").isNotNull())
        .select(
            "event_type",
            F.col("h").alias("window_start"),
            "x",
            F.round(F.col("s") / F.lit(float(_EWMA_NORM)), 6).alias("ewma"),
            (
                (F.col("x") >= F.lit(_EWMA_MIN_COUNT))
                & (F.col("x") * F.lit(_EWMA_NORM) > F.lit(2) * F.col("s"))
            ).alias("alert_flag"),
        )
        .orderBy("event_type", "window_start")
    )


# --------------------------------------------------------------------------
# Holt-Winters-flavored SEASONAL control chart: hourly event streams are
# daily-seasonal (a 9am spike is normal at 9am, a burst at 3am), so a
# purely trailing baseline (ev_ewma_control) false-alarms every morning.
# The classical answer is Holt-Winters seasonal smoothing (Winters 1960;
# the NIST/SEMATECH e-handbook's triple exponential form). Re-expressed
# for cross-engine exactness the same way ev_ewma_control discretized
# Roberts 1959: TWO dyadic-weight baselines from one gap-filled hourly
# spine — the trailing level (24 trailing hours, weights 2^-j) and the
# SEASONAL level (the same hour-of-day over the last 7 days, lag 24·j,
# weights 2^-j) — and a burst alerts only when it clears BOTH at 2x,
# which is exactly the seasonality-suppression a deployed chart needs.
# No trend term: the corpus is a stationary 30-day window, and a dyadic
# trend recursion would break the finite-lag exactness contract.

_SEWMA_SEASONS = 7          # trailing same-hour-of-day days
_SEWMA_PERIOD = 24          # hours per season
_SEWMA_NORM = 2**_SEWMA_SEASONS - 1

_SEWMA_S_SQL = " + ".join(
    f"COALESCE(lag(x, {j * _SEWMA_PERIOD}) OVER w, 0)"
    f" * {2 ** (_SEWMA_SEASONS - j)}"
    for j in range(1, _SEWMA_SEASONS + 1)
)


@register(
    "ev_seasonal_ewma_control",
    f"""WITH hourly AS (
         SELECT event_type,
                time_bucket(INTERVAL '1 hour', ts::TIMESTAMP) AS h,
                CAST(COUNT(*) AS BIGINT) AS x
         FROM events GROUP BY 1, 2),
       bounds AS (
         SELECT event_type, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY 1),
       spine AS (
         SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
         FROM bounds),
       filled AS (
         SELECT s.event_type, s.h, COALESCE(hh.x, 0) AS x
         FROM spine s LEFT JOIN hourly hh
           ON s.event_type = hh.event_type AND s.h = hh.h),
       weighted AS (
         SELECT event_type, h, x,
                {_EWMA_S_SQL} AS s_lvl,
                {_SEWMA_S_SQL} AS s_sea,
                lag(x, {_SEWMA_SEASONS * _SEWMA_PERIOD}) OVER w AS x_oldest
         FROM filled
         WINDOW w AS (PARTITION BY event_type ORDER BY h))
       SELECT event_type, h AS window_start, x,
              ROUND(s_lvl / {_EWMA_NORM}.0, 6) AS level_ewma,
              ROUND(s_sea / {_SEWMA_NORM}.0, 6) AS seasonal_ewma,
              x >= {_EWMA_MIN_COUNT} AND x * {_EWMA_NORM} > 2 * s_lvl
                AS level_alert,
              x >= {_EWMA_MIN_COUNT} AND x * {_SEWMA_NORM} > 2 * s_sea
                AS seasonal_alert,
              x >= {_EWMA_MIN_COUNT} AND x * {_EWMA_NORM} > 2 * s_lvl
                AND x * {_SEWMA_NORM} > 2 * s_sea AS alert_flag
       FROM weighted
       WHERE x_oldest IS NOT NULL
       ORDER BY event_type, window_start""",
)
def ev_seasonal_ewma_control(spark, sf_dir):
    """Seasonal (Holt-Winters-flavored) control chart over the
    gap-filled hourly series: each hour carries its trailing dyadic
    EWMA level (24 trailing hours — shared arithmetic with
    ev_ewma_control) AND a seasonal baseline (the dyadic EWMA of the
    SAME hour-of-day over the last 7 days, lags 24/48/.../168); the
    combined alert fires only when the count clears the low-count
    guard and exceeds 2x BOTH baselines. level_alert/seasonal_alert
    are emitted separately so the chart shows which guard suppressed
    a would-be alarm — the seasonality diagnosis itself.

    Exactness: both baselines are exact bigints by the dyadic-weight
    trick (S_lvl = sum x_(t-j)*2^(24-j), S_sea = sum
    x_(t-24j)*2^(7-j)); every alert decision is a pure integer
    comparison; the two displayed baselines are single IEEE divisions.
    Rows exist only where the oldest seasonal lag (168 h) is real —
    the chart never scores a partially-warmed-up hour.

    Scale shape: identical to ev_ewma_control — events collapse
    map-side to (type, hour) cells (the only event-sized stage); the
    spine fill and ALL 31 lag reads (24 level + 7 seasonal) come from
    ONE per-type ordered window pass over the bucket-cardinality
    frame. At 100 TB the chart costs the same single exchange as the
    hourly rollup feeding it."""
    e = load_events(spark, sf_dir)
    from pyspark.sql import Window

    hourly = (
        e.groupBy("event_type", F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .select("event_type", F.col("w.start").alias("h"), "x")
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("h"),
    )
    filled = spine.join(hourly, ["event_type", "h"], "left").select(
        "event_type",
        "h",
        F.coalesce(F.col("x"), F.lit(0)).cast("bigint").alias("x"),
    )
    w = Window.partitionBy("event_type").orderBy("h")
    s_lvl = None
    for j in range(1, _EWMA_LAGS + 1):
        term = F.coalesce(F.lag("x", j).over(w), F.lit(0)) * F.lit(
            2 ** (_EWMA_LAGS - j)
        )
        s_lvl = term if s_lvl is None else s_lvl + term
    s_sea = None
    for j in range(1, _SEWMA_SEASONS + 1):
        term = F.coalesce(
            F.lag("x", j * _SEWMA_PERIOD).over(w), F.lit(0)
        ) * F.lit(2 ** (_SEWMA_SEASONS - j))
        s_sea = term if s_sea is None else s_sea + term
    weighted = filled.select(
        "event_type",
        "h",
        "x",
        s_lvl.alias("s_lvl"),
        s_sea.alias("s_sea"),
        F.lag("x", _SEWMA_SEASONS * _SEWMA_PERIOD).over(w).alias("x_oldest"),
    )
    guard = F.col("x") >= F.lit(_EWMA_MIN_COUNT)
    lvl_ok = F.col("x") * F.lit(_EWMA_NORM) > F.lit(2) * F.col("s_lvl")
    sea_ok = F.col("x") * F.lit(_SEWMA_NORM) > F.lit(2) * F.col("s_sea")
    return (
        weighted.filter(F.col("x_oldest").isNotNull())
        .select(
            "event_type",
            F.col("h").alias("window_start"),
            "x",
            F.round(F.col("s_lvl") / F.lit(float(_EWMA_NORM)), 6).alias(
                "level_ewma"
            ),
            F.round(F.col("s_sea") / F.lit(float(_SEWMA_NORM)), 6).alias(
                "seasonal_ewma"
            ),
            (guard & lvl_ok).alias("level_alert"),
            (guard & sea_ok).alias("seasonal_alert"),
            (guard & lvl_ok & sea_ok).alias("alert_flag"),
        )
        .orderBy("event_type", "window_start")
    )


# --------------------------------------------------------------------------
# ONLINE CUSUM (Page 1954's sequential form, complementing the offline
# argmax scan below): S_t = max(0, S_{t-1} + (x_t - mu0 - k)) against a
# baseline frozen after a warmup window, alert when S_t clears h. The
# recursion looks fold-only, but the reflection identity
# S_t = P_t - min(0, min_{j<=t} P_j) (P = running sum of the drifts)
# turns it into two plain ordered windows — expressible identically on
# both engines. Exactness: with the warmup fixed at W=168 hours,
# mu0 = T0/W and k = mu0/2 scale away entirely: D_t = 2*W*x_t - 3*T0
# is a pure bigint, S stays bigint, and the alert S > 10*T0 (a
# cumulative excess of 5 baseline-means) is an integer comparison.

_CUSUM_WARMUP = 168  # hours; shares the seasonal chart's horizon


@register(
    "ev_cusum_online",
    f"""WITH hourly AS (
         SELECT event_type,
                time_bucket(INTERVAL '1 hour', ts::TIMESTAMP) AS h,
                CAST(COUNT(*) AS BIGINT) AS x
         FROM events GROUP BY 1, 2),
       bounds AS (
         SELECT event_type, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY 1),
       spine AS (
         SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
         FROM bounds),
       filled AS (
         SELECT s.event_type, s.h, COALESCE(hh.x, 0) AS x,
                ROW_NUMBER() OVER (PARTITION BY s.event_type ORDER BY s.h)
                  AS i
         FROM spine s LEFT JOIN hourly hh
           ON s.event_type = hh.event_type AND s.h = hh.h),
       base AS (
         SELECT event_type, CAST(SUM(x) AS BIGINT) AS t0
         FROM filled WHERE i <= {_CUSUM_WARMUP} GROUP BY 1),
       drift AS (
         SELECT f.event_type, f.h, f.x, b.t0,
                2 * {_CUSUM_WARMUP} * f.x - 3 * b.t0 AS d
         FROM filled f JOIN base b USING (event_type)
         WHERE f.i > {_CUSUM_WARMUP}),
       pref AS (
         SELECT event_type, h, x, t0,
                SUM(d) OVER w AS p
         FROM drift
         WINDOW w AS (PARTITION BY event_type ORDER BY h
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       pp AS (
         SELECT event_type, h, x, t0, p,
                MIN(p) OVER (PARTITION BY event_type ORDER BY h
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS minp
         FROM pref)
       SELECT event_type,
              strftime(h, '%Y-%m-%d %H:%M:%S') AS window_start,
              x,
              ROUND(t0 * 1.0 / {_CUSUM_WARMUP}, 6) AS mu0,
              CAST(p - LEAST(0, minp) AS BIGINT) AS cusum_scaled,
              p - LEAST(0, minp) > 10 * t0 AS alert_flag
       FROM pp
       ORDER BY event_type, window_start""",
)
def ev_cusum_online(spark, sf_dir):
    """Online (sequential) CUSUM per event type: after a 168-hour
    warmup freezes the baseline mean mu0, every later hour carries
    S_t = max(0, S_(t-1) + (x_t - 1.5*mu0)) in exact scaled integers,
    alerting when the cumulative excess passes 5 baseline-means —
    (event_type, window_start, x, mu0, cusum_scaled, alert_flag). The
    offline scan (ev_change_point_cusum) finds where a mean SHIFTED in
    a closed series; this is the monitoring form that detects a
    sustained upward drift as it happens, and the batch half of the
    streaming twin (streaming_cusum_alerts), which maintains the same
    integers in O(1) GroupState.

    Exactness: the max(0, ...) recursion is rewritten by the
    reflection identity S_t = P_t - min(0, min_(j<=t) P_j) into a
    running sum + a running min over it — two ordered window passes,
    identical on both engines; D_t = 2*168*x_t - 3*T0 keeps everything
    bigint (mu0's display is the only division).

    Scale shape: the control-chart spine (one event-sized map-side
    collapse); both windows ride the same per-type sort over the
    bucket-cardinality frame."""
    e = load_events(spark, sf_dir)
    from pyspark.sql import Window

    hourly = (
        e.groupBy("event_type", F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .select("event_type", F.col("w.start").alias("h"), "x")
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("h"),
    )
    w = Window.partitionBy("event_type").orderBy("h")
    filled = (
        spine.join(hourly, ["event_type", "h"], "left")
        .select(
            "event_type",
            "h",
            F.coalesce(F.col("x"), F.lit(0)).cast("bigint").alias("x"),
        )
        .withColumn("i", F.row_number().over(w))
    )
    base = (
        filled.where(F.col("i") <= _CUSUM_WARMUP)
        .groupBy("event_type")
        .agg(F.sum("x").cast("bigint").alias("t0"))
    )
    drift = (
        filled.where(F.col("i") > _CUSUM_WARMUP)
        .join(base, "event_type")
        .select(
            "event_type",
            "h",
            "x",
            "t0",
            (
                F.lit(2 * _CUSUM_WARMUP) * F.col("x") - F.lit(3) * F.col("t0")
            ).alias("d"),
        )
    )
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    pp = drift.select(
        "event_type",
        "h",
        "x",
        "t0",
        F.sum("d").over(run).alias("p"),
    ).withColumn("minp", F.min("p").over(run))
    s = F.col("p") - F.least(F.lit(0), F.col("minp"))
    return pp.select(
        "event_type",
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "x",
        F.round(F.col("t0") * F.lit(1.0) / F.lit(_CUSUM_WARMUP), 6).alias(
            "mu0"
        ),
        s.cast("bigint").alias("cusum_scaled"),
        (s > F.lit(10) * F.col("t0")).alias("alert_flag"),
    ).orderBy("event_type", "window_start")


# --------------------------------------------------------------------------
# Seasonality strength — the variance-decomposition companion to the
# seasonal control chart: how much of the hourly-count variance does
# hour-of-day explain? Classic one-way ANOVA eta² = SSB/SST over the
# 24 hour-of-day groups of the gap-filled series. eta² ≈ 0 says the
# seasonal baseline in ev_seasonal_ewma_control adds nothing over the
# trailing level; eta² near 1 says alerts MUST be seasonal-adjusted.
# Exactness: group sums/counts and Σx² are exact integers; SSB and SST
# are assembled from them with one division per group accumulated in
# hour-of-day order (0..23 — a pinned order on both engines), so the
# float composition is identical bit for bit.


@register(
    "ev_seasonality_strength",
    """WITH hourly AS (
         SELECT event_type,
                time_bucket(INTERVAL '1 hour', ts::TIMESTAMP) AS h,
                CAST(COUNT(*) AS BIGINT) AS x
         FROM events GROUP BY 1, 2),
       bounds AS (
         SELECT event_type, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY 1),
       spine AS (
         SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
         FROM bounds),
       filled AS (
         SELECT s.event_type, s.h,
                CAST(EXTRACT(hour FROM s.h) AS INT) AS hod,
                COALESCE(hh.x, 0) AS x
         FROM spine s LEFT JOIN hourly hh
           ON s.event_type = hh.event_type AND s.h = hh.h),
       g AS (
         SELECT event_type, hod,
                CAST(COUNT(*) AS BIGINT) AS ng,
                CAST(SUM(x) AS BIGINT) AS sg
         FROM filled GROUP BY 1, 2),
       tot AS (
         SELECT event_type,
                CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(x) AS BIGINT) AS t,
                CAST(SUM(x * x) AS BIGINT) AS sxx
         FROM filled GROUP BY 1),
       ssb AS (
         SELECT event_type,
                SUM(sg * sg * 1.0 / ng
                    ORDER BY hod) AS sum_sq_over_n
         FROM g GROUP BY 1)
       SELECT t.event_type,
              t.n AS n_hours,
              t.t AS n_events,
              ROUND((b.sum_sq_over_n - t.t * t.t * 1.0 / t.n)
                    / NULLIF(t.sxx - t.t * t.t * 1.0 / t.n, 0), 6)
                AS eta2_hour_of_day
       FROM tot t JOIN ssb b USING (event_type)
       ORDER BY event_type""",
)
def ev_seasonality_strength(spark, sf_dir):
    """Per-event-type hour-of-day seasonality strength: one-way ANOVA
    eta² = SSB/SST over the 24 hour-of-day groups of the gap-filled
    hourly series — (event_type, n_hours, n_events,
    eta2_hour_of_day). The go/no-go number for seasonal adjustment:
    near 0, ev_ewma_control's trailing baseline suffices; high, the
    seasonal chart's same-hour-of-day baseline is load-bearing.

    Exactness: all sufficient statistics (group sums/counts, total,
    Σx²) are exact integers; SSB's per-group S_g²/n_g divisions are
    accumulated in hour-of-day order 0..23 on BOTH engines (ordered
    SUM aggregate in DuckDB, an ordered running-sum window in Spark),
    so the assembled doubles are bit-identical and the single
    displayed ratio rounds the same way.

    Scale shape: the control-chart spine again — one event-sized
    map-side collapse, then 24-group arithmetic per type."""
    e = load_events(spark, sf_dir)
    from pyspark.sql import Window

    hourly = (
        e.groupBy("event_type", F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .select("event_type", F.col("w.start").alias("h"), "x")
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("h"),
    )
    filled = spine.join(hourly, ["event_type", "h"], "left").select(
        "event_type",
        F.hour("h").cast("int").alias("hod"),
        F.coalesce(F.col("x"), F.lit(0)).cast("bigint").alias("x"),
    )
    g = filled.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).cast("bigint").alias("ng"),
        F.sum("x").cast("bigint").alias("sg"),
    )
    tot = filled.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("t"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    wrun = (
        Window.partitionBy("event_type")
        .orderBy("hod")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ssb = (
        g.select(
            "event_type",
            F.max(
                F.sum(F.col("sg") * F.col("sg") * F.lit(1.0) / F.col("ng")).over(
                    wrun
                )
            )
            .over(wall)
            .alias("sum_sq_over_n"),
            F.row_number()
            .over(Window.partitionBy("event_type").orderBy(F.desc("hod")))
            .alias("rn"),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    corr = F.col("t") * F.col("t") * F.lit(1.0) / F.col("n")
    # SST = 0 (a constant gap-filled series, e.g. a single-hour spine)
    # would make the ratio 0/0; NULLIF on both engines renders the
    # degenerate case as NULL identically instead of NaN-vs-NULL drift.
    sst = F.nullif(F.col("sxx") - corr, F.lit(0.0))
    return (
        tot.join(ssb, "event_type")
        .select(
            "event_type",
            F.col("n").alias("n_hours"),
            F.col("t").alias("n_events"),
            F.round(
                (F.col("sum_sq_over_n") - corr) / sst, 6
            ).alias("eta2_hour_of_day"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Change-point detection (CUSUM / binary-segmentation first split —
# Page 1954; the at-most-one-change-point mean-shift scan every
# monitoring stack runs before alerting on "the average moved"). The
# classic statistic max_i |prefix_i - i*mean| needs the fractional mean;
# scaling by N makes it EXACT: dev_i = |N*prefix_i - i*T| is a pure
# bigint (N hours, T total events), so the argmax — the change point —
# is an integer decision with a deterministic earliest-hour tie rule.
# Same gap-filled hourly spine as the control charts.


@register(
    "ev_change_point_cusum",
    """WITH hourly AS (
         SELECT event_type,
                time_bucket(INTERVAL '1 hour', ts::TIMESTAMP) AS h,
                CAST(COUNT(*) AS BIGINT) AS x
         FROM events GROUP BY 1, 2),
       bounds AS (
         SELECT event_type, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY 1),
       spine AS (
         SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
         FROM bounds),
       filled AS (
         SELECT s.event_type, s.h, COALESCE(hh.x, 0) AS x
         FROM spine s LEFT JOIN hourly hh
           ON s.event_type = hh.event_type AND s.h = hh.h),
       pref AS (
         SELECT event_type, h, x,
                SUM(x) OVER w AS p,
                ROW_NUMBER() OVER w AS i,
                SUM(x) OVER (PARTITION BY event_type) AS t,
                COUNT(*) OVER (PARTITION BY event_type) AS n
         FROM filled
         WINDOW w AS (PARTITION BY event_type ORDER BY h
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       dev AS (
         SELECT event_type, h, p, i, t, n,
                ABS(n * p - i * t) AS d
         FROM pref WHERE i < n)
       SELECT event_type,
              strftime(h, '%Y-%m-%d %H:%M:%S') AS change_hour,
              CAST(n AS BIGINT) AS n_hours,
              CAST(t AS BIGINT) AS n_events,
              CAST(d AS BIGINT) AS max_scaled_dev,
              ROUND(p * 1.0 / i, 6) AS mean_before,
              ROUND((t - p) * 1.0 / (n - i), 6) AS mean_after
       FROM dev
       QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY d DESC, h ASC) = 1
       ORDER BY event_type""",
)
def ev_change_point_cusum(spark, sf_dir):
    """Per-event-type single change point over the gap-filled hourly
    series: the hour i maximizing the CUSUM deviation
    |N*prefix_i - i*T| (the at-most-one-change-point mean-shift scan),
    with the segment means on each side — (event_type, change_hour,
    n_hours, n_events, max_scaled_dev, mean_before, mean_after).

    Exactness: the deviation is scaled by N so it stays a pure bigint
    — the argmax and its earliest-hour tie rule are integer decisions
    on both engines; the two displayed means are single divisions.
    change_hour is emitted as an explicit ISO string on both sides
    (the round-7 DATE-formatting lesson).

    Scale shape: identical to the control charts — events collapse
    map-side to (type, hour) cells; prefix sums, the total, and the
    argmax all come from windows over the bucket-cardinality frame
    (one exchange on event_type). At 100 TB, segment-tree or per-day
    pre-aggregation shrinks the spine further, but hours x types is
    already metadata-sized."""
    e = load_events(spark, sf_dir)
    from pyspark.sql import Window

    hourly = (
        e.groupBy("event_type", F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .select("event_type", F.col("w.start").alias("h"), "x")
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("h"),
    )
    filled = spine.join(hourly, ["event_type", "h"], "left").select(
        "event_type",
        "h",
        F.coalesce(F.col("x"), F.lit(0)).cast("bigint").alias("x"),
    )
    w = Window.partitionBy("event_type").orderBy("h")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    part = Window.partitionBy("event_type")
    pref = filled.select(
        "event_type",
        "h",
        F.sum("x").over(run).alias("p"),
        F.row_number().over(w).alias("i"),
        F.sum("x").over(part).alias("t"),
        F.count(F.lit(1)).over(part).alias("n"),
    )
    dev = pref.where(F.col("i") < F.col("n")).select(
        "event_type",
        "h",
        "p",
        "i",
        "t",
        "n",
        F.abs(F.col("n") * F.col("p") - F.col("i") * F.col("t")).alias("d"),
    )
    pick = Window.partitionBy("event_type").orderBy(F.desc("d"), F.asc("h"))
    return (
        dev.withColumn("rn", F.row_number().over(pick))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("change_hour"),
            F.col("n").cast("bigint").alias("n_hours"),
            F.col("t").cast("bigint").alias("n_events"),
            F.col("d").cast("bigint").alias("max_scaled_dev"),
            F.round(F.col("p") * F.lit(1.0) / F.col("i"), 6).alias(
                "mean_before"
            ),
            F.round(
                (F.col("t") - F.col("p")) * F.lit(1.0) / (F.col("n") - F.col("i")),
                6,
            ).alias("mean_after"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Peak concurrency by sweep-line: +1/-1 boundary events from the 30-min
# sessions, a running sum, and per-day peaks. The classic interval-
# stabbing question ("how many sessions were open at once?") answered
# without any interval join — and the distributed-prefix-sum pattern is
# the point at scale: a per-DAY running sum plus a calendar-bounded
# carry of previous days' totals equals the global running sum, so no
# single task ever sorts the whole boundary stream.


@register(
    "ev_peak_concurrency",
    """WITH flagged AS (
         SELECT user_id, ts::TIMESTAMP AS ts,
                CASE WHEN lag(ts::TIMESTAMP) OVER w IS NULL
                       OR ts::TIMESTAMP - lag(ts::TIMESTAMP) OVER w > INTERVAL '30 minutes'
                     THEN 1 ELSE 0 END AS new_sess
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
       numbered AS (
         SELECT user_id, ts,
                SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sess_id
         FROM flagged),
       sess AS (
         SELECT user_id, sess_id, MIN(ts) AS s, MAX(ts) AS e
         FROM numbered GROUP BY user_id, sess_id),
       b AS (SELECT s AS ts, 1 AS delta FROM sess
             UNION ALL
             SELECT e AS ts, -1 AS delta FROM sess),
       run AS (
         SELECT ts, delta, CAST(ts AS DATE) AS day,
                SUM(delta) OVER (ORDER BY ts, delta DESC
                                 ROWS UNBOUNDED PRECEDING) AS conc
         FROM b),
       mx AS (SELECT day, MAX(conc) AS peak FROM run GROUP BY day)
       SELECT strftime(m.day, '%Y-%m-%d') AS day,
              CAST(SUM(CASE WHEN r.delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_sessions_started,
              CAST(m.peak AS BIGINT) AS peak_concurrency,
              MIN(CASE WHEN r.conc = m.peak THEN r.ts END) AS peak_at
       FROM run r JOIN mx m ON m.day = r.day
       GROUP BY m.day, m.peak
       ORDER BY day""",
)
def ev_peak_concurrency(spark, sf_dir):
    """Per-day peak number of simultaneously open sessions, with when
    the peak was first reached and how many sessions started that day.

    Sweep-line semantics: each session contributes +1 at its first
    event and -1 at its last; ordering ties as (ts, delta DESC) so a
    session opening at the instant another closes counts as concurrent
    (and the per-row running value is order-invariant under any
    remaining tie, since tied rows share ts and the day MAX is taken
    after all +1s at that instant). Pure integers + exact timestamps —
    zero float surface.

    Scale shape — the distributed prefix sum: the oracle states the
    global running sum; this plan computes the SAME numbers as
      carry(day) + per-day running
    where the per-day running sums are ordinary day-partitioned
    windows over the session-boundary stream (already aggregated from
    events, two rows per session) and carry is a prefix sum of per-day
    totals over the CALENDAR-bounded day table (the dim-bounded-window
    contract, same as the SK windows). No global sort, no single-task
    window over the data-sized stream; sessions crossing midnight are
    handled by the carry, not lost."""
    from pyspark.sql import Window

    from gravity_books_datalakehouse_spark.operators.sort import bounded_sort

    e = load_events(spark, sf_dir)
    sess = (
        e.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    b = (
        sess.select(F.col("s").alias("ts"), F.lit(1).alias("delta"))
        .unionByName(sess.select(F.col("e").alias("ts"), F.lit(-1).alias("delta")))
        .withColumn("day", F.to_date("ts"))
    )
    w_run = (
        Window.partitionBy("day")
        .orderBy(F.col("ts").asc(), F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = b.withColumn("run_in_day", F.sum("delta").over(w_run))
    day_tot = b.groupBy("day").agg(F.sum("delta").alias("tot"))
    w_carry = (
        Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = day_tot.select(
        "day", F.coalesce(F.sum("tot").over(w_carry), F.lit(0)).alias("carry")
    )
    conc = run.join(F.broadcast(carry), "day").withColumn(
        "conc", F.col("carry") + F.col("run_in_day")
    )
    w_day = Window.partitionBy("day")
    peaked = conc.withColumn("peak", F.max("conc").over(w_day))
    return (
        peaked.groupBy("day", "peak")
        .agg(
            F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_sessions_started"),
            F.min(F.when(F.col("conc") == F.col("peak"), F.col("ts"))).alias(
                "peak_at"
            ),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_sessions_started",
            F.col("peak").cast("bigint").alias("peak_concurrency"),
            "peak_at",
        )
        .transform(bounded_sort, "day")
    )


# --------------------------------------------------------------------------
# Interval-overlap self-join: which user pairs are repeatedly online at
# the same time? The range x range join SQL engines special-case (DuckDB
# runs the oracle's inequality join as an IEJoin) and Spark would
# naively plan as a nested loop — bucketization turns it into an
# equi-join without losing a single pair.


@register(
    "op_j_interval_overlap",
    """WITH flagged AS (
         SELECT user_id, ts::TIMESTAMP AS ts,
                CASE WHEN lag(ts::TIMESTAMP) OVER w IS NULL
                       OR ts::TIMESTAMP - lag(ts::TIMESTAMP) OVER w > INTERVAL '30 minutes'
                     THEN 1 ELSE 0 END AS new_sess
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
       numbered AS (
         SELECT user_id, ts,
                SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sess_id
         FROM flagged),
       sess AS (
         SELECT user_id, sess_id, MIN(ts) AS s, MAX(ts) AS e
         FROM numbered GROUP BY user_id, sess_id),
       pairs AS (
         SELECT a.user_id AS ua, b.user_id AS ub
         FROM sess a JOIN sess b
           ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e)
       SELECT ua AS user_a, ub AS user_b,
              CAST(COUNT(*) AS BIGINT) AS n_overlaps
       FROM pairs GROUP BY ua, ub
       ORDER BY n_overlaps DESC, user_a, user_b
       LIMIT 20""",
)
def op_j_interval_overlap(spark, sf_dir):
    """Top-20 co-active user pairs: counts of OVERLAPPING session pairs
    (closed intervals [first_event, last_event] from the 30-min-gap
    sessions). The interval x interval join the suite's range-bucketed
    join (point-in-range, op_j_range_bucketed) doesn't cover.

    Lossless bucketization: each session explodes to the HOURS it
    covers; two sessions overlap at instant t only if both cover t's
    hour, so the hour equi-join finds every overlapping pair — the
    residual overlap predicate then removes same-bucket non-overlaps,
    and the DISTINCT collapses pairs that share several hours. The
    oracle states the pure inequality join (DuckDB plans it as an
    IEJoin), so the bucketed rewrite is verified against the direct
    range-join semantics, not against itself.

    Scale: shuffle keys on the hour bucket — time-skew (everyone
    online at 9am) is the known hot spot, mitigated the standard way
    (finer buckets or bucket+user_id salt). Explosion cost is
    hours-per-session, bounded by the session gap rule here; for
    open-ended intervals the production form segments long intervals
    first. Session identity is (user_id, session_start) — unique
    since a user's sessions are disjoint; no synthetic id, so the
    plan stays deterministic under any partitioning."""
    from pyspark.sql import Window as _W  # noqa: F401  (parity with oracle shape)

    e = load_events(spark, sf_dir)
    sess = (
        e.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
        .select("user_id", "s", "e")
    )
    buckets = sess.select(
        "user_id",
        "s",
        "e",
        F.explode(
            F.expr("sequence(date_trunc('hour', s), date_trunc('hour', e), interval 1 hour)")
        ).alias("h"),
    )
    a = buckets.select(
        F.col("user_id").alias("ua"),
        F.col("s").alias("sa"),
        F.col("e").alias("ea"),
        F.col("h").alias("ha"),
    )
    b = buckets.select(
        F.col("user_id").alias("ub"),
        F.col("s").alias("sb"),
        F.col("e").alias("eb"),
        F.col("h").alias("hb"),
    )
    pairs = (
        a.join(b, (F.col("ha") == F.col("hb")) & (F.col("ua") < F.col("ub")))
        .filter((F.col("sa") <= F.col("eb")) & (F.col("sb") <= F.col("ea")))
        .select("ua", "sa", "ub", "sb")
        .distinct()
    )
    return (
        pairs.groupBy(F.col("ua").alias("user_a"), F.col("ub").alias("user_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_overlaps"))
        .orderBy(F.desc("n_overlaps"), F.asc("user_a"), F.asc("user_b"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Sequence-pattern detection (MATCH_RECOGNIZE-lite): encode each
# session's ordered event types as a character string and count regex
# matches — subsequence funnels, bursts, recovery shapes — per session.
# The row-pattern-matching feature class (SQL:2016 MATCH_RECOGNIZE,
# Flink CEP) reduced to the relational engine's own primitives: one
# ordered string build per session, then pure string-function scans.

#: (name, regex) — regexes restricted to the syntax subset where Java
#: (Spark) and RE2 (DuckDB) agree, incl. non-overlapping left-to-right
#: match counting (parity probed for each shape in tests).
_PATTERNS = (
    ("funnel_signup_click_purchase", "s.*c.*p"),
    ("click_burst_3plus", "ccc+"),
    ("error_then_purchase", "e[^p]*p"),
)

_PATTERN_ORACLE = " UNION ALL ".join(
    f"""SELECT '{name}' AS pattern,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN len(regexp_extract_all(seq, '{rx}')) > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions_matched,
           CAST(SUM(len(regexp_extract_all(seq, '{rx}'))) AS BIGINT)
             AS total_matches
    FROM seqs"""
    for name, rx in _PATTERNS
)


@register(
    "ev_pattern_match",
    f"""WITH flagged AS (
         SELECT user_id, event_id, event_type, ts::TIMESTAMP AS ts,
                CASE WHEN lag(ts::TIMESTAMP) OVER w IS NULL
                       OR ts::TIMESTAMP - lag(ts::TIMESTAMP) OVER w > INTERVAL '30 minutes'
                     THEN 1 ELSE 0 END AS new_sess
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
       numbered AS (
         SELECT user_id, event_id, event_type, ts,
                SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sess_id
         FROM flagged),
       seqs AS (
         SELECT user_id, sess_id,
                string_agg(substr(event_type, 1, 1), ''
                           ORDER BY ts, event_id) AS seq
         FROM numbered GROUP BY user_id, sess_id)
    SELECT * FROM ({_PATTERN_ORACLE})
    ORDER BY pattern""",
)
def ev_pattern_match(spark, sf_dir):
    """Per-pattern session counts for event-sequence shapes: the
    signup→click→purchase subsequence funnel, 3+ click bursts, and
    error-then-purchase recovery — each as a regex over the session's
    event-initial string (types click/view/purchase/signup/error have
    distinct initials).

    Determinism: the per-session string orders by (ts, event_id) —
    total and engine-independent; match counts are non-overlapping
    left-to-right in BOTH engines (Java Matcher.find == RE2
    extract_all for this syntax subset — parity probed per pattern in
    tests/test_drift.py). Counts are then pure integers.

    Plan shape: one session_window aggregation builds the strings
    (collect_list of (ts, event_id, ch) structs, array_sort inside the
    aggregate row — the sort is per-SESSION, bounded by session
    length, never a shuffle); the three pattern counts ride ONE pass
    over the session-cardinality frame and stack via an in-row explode
    to 3 aggregate rows. At 100 TB this is the cheap alternative to a
    CEP engine for retrospective pattern analytics; streaming
    detection would move the same regex onto
    transformWithState/applyInPandasWithState."""
    e = load_events(spark, sf_dir)
    sess = (
        e.select(
            "user_id",
            "ts",
            "event_id",
            F.substring("event_type", 1, 1).alias("ch"),
        )
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "ch"))
                    ),
                    lambda x: x.getField("ch"),
                ),
            ).alias("seq")
        )
    )
    per_pattern = F.array(
        *[
            F.struct(
                F.lit(name).alias("pattern"),
                F.regexp_count("seq", F.lit(rx)).alias("m"),
            )
            for name, rx in _PATTERNS
        ]
    )
    stacked = sess.select(F.explode(per_pattern).alias("e")).select(
        "e.pattern", "e.m"
    )
    from gravity_books_datalakehouse_spark.operators.sort import bounded_sort

    return (
        stacked.groupBy("pattern")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum(F.when(F.col("m") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_sessions_matched"),
            F.sum("m").cast("bigint").alias("total_matches"),
        )
        .transform(bounded_sort, "pattern")
    )


# --------------------------------------------------------------------------
# CDC log application (the Debezium/Delta CDF shape): an ordered change
# log of INSERT/UPDATE/DELETE operations per key folds to the current
# snapshot by last-writer-wins. op_merge_upsert_snapshot covers the
# single-batch MERGE; this covers the LOG form — many operations per key
# in one batch, ordering inside the batch decides, deletes tombstone.
# The event stream stands in as the log: signup=INSERT,
# click/view/purchase=UPDATE (value payload), error=DELETE.

_CDC_OP = """CASE event_type
        WHEN 'signup' THEN 'insert'
        WHEN 'error' THEN 'delete'
        ELSE 'update' END"""


@register(
    "op_cdc_apply_log",
    f"""WITH log AS (
      SELECT user_id, ts, event_id, value,
             {_CDC_OP} AS op
      FROM events),
    ranked AS (
      SELECT user_id, op, value, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n_ops
      FROM log)
    SELECT user_id,
           CAST(n_ops AS BIGINT) AS n_ops,
           op AS last_op,
           value AS last_value,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM ranked
    WHERE rn = 1 AND op <> 'delete'
    ORDER BY user_id""",
)
def op_cdc_apply_log(spark, sf_dir):
    """Fold an intra-batch CDC log to the current snapshot: per key the
    ordered (ts, event_id DESC) last operation wins; a last-op DELETE
    tombstones the key out of the snapshot entirely. Survivors carry
    their op count (audit), last operation, payload, and an explicit
    string timestamp (both engines). The payload double passes through
    UNROUNDED — it is carried, never aggregated, so both engines emit
    the bit-identical value (a display ROUND would reintroduce the
    cross-engine .xx5 half-up/half-even flip risk for nothing).

    Plan shape: ONE window pass partitioned by the key — rank and op
    count share the same partitioning, so the log shuffles once and
    every key folds independently (the scale unit of CDC apply;
    at 100 TB the same window runs per key-partition, and the
    streaming form of this fold is transformWithState/ flatMapGroups
    over the same key). The tie order (ts, event_id) is total, so
    last-writer-wins is deterministic on both engines."""
    from pyspark.sql import Window

    e = load_events(spark, sf_dir)
    op = (
        F.when(F.col("event_type") == "signup", "insert")
        .when(F.col("event_type") == "error", "delete")
        .otherwise("update")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    w_all = Window.partitionBy("user_id")
    ranked = e.select(
        "user_id", "ts", "event_id", "value", op.alias("op")
    ).select(
        "user_id",
        "op",
        "value",
        "ts",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n_ops"),
    )
    return (
        ranked.where((F.col("rn") == 1) & (F.col("op") != "delete"))
        .select(
            "user_id",
            F.col("n_ops").cast("bigint").alias("n_ops"),
            F.col("op").alias("last_op"),
            F.col("value").alias("last_value"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Two-proportion z-test on an A/B split (the experiment readout every
# event pipeline ends in). The arm assignment is the deterministic md5
# split every sampler in this repo uses; the metric is click→purchase
# user conversion; and the α=0.05 two-sided significance flag is decided
# ENTIRELY in integers: squaring z = (p̂₁-p̂₂)/√(p̂(1-p̂)(1/n₁+1/n₂)) and
# clearing denominators gives
#   10000·(c₁n₂-c₂n₁)²·N  vs  38416·(c₁+c₂)(N-c₁-c₂)·n₁n₂ ,  N=n₁+n₂
# (1.96² = 38416/10000 as an exact rational) — the same
# squared-critical-value trick as the KS drift flag, DECIMAL(38)-safe
# for counts up to ~10⁶.

_ZTEST_CRIT2_NUM = 38416  #: 1.96^2 * 1e4, two-sided alpha = 0.05
_ZTEST_CRIT2_DEN = 10000


@register(
    "ev_ab_conversion_ztest",
    f"""WITH arms AS (
      SELECT user_id,
             CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1)
                       < '8' THEN 'A' ELSE 'B' END AS arm,
             MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS clicked,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS purchased
      FROM events GROUP BY user_id),
    per AS (
      SELECT arm,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(purchased) AS BIGINT) AS c
      FROM arms WHERE clicked = 1 GROUP BY arm),
    wide AS (
      SELECT MAX(CASE WHEN arm = 'A' THEN n END) AS n_a,
             MAX(CASE WHEN arm = 'A' THEN c END) AS c_a,
             MAX(CASE WHEN arm = 'B' THEN n END) AS n_b,
             MAX(CASE WHEN arm = 'B' THEN c END) AS c_b
      FROM per)
    SELECT n_a, c_a, n_b, c_b,
           ROUND(CAST(c_a AS DOUBLE) / n_a, 6) AS rate_a,
           ROUND(CAST(c_b AS DOUBLE) / n_b, 6) AS rate_b,
           {_ZTEST_CRIT2_DEN}
             * ((c_a * n_b - c_b * n_a)::HUGEINT
                * (c_a * n_b - c_b * n_a)::HUGEINT)
             * (n_a + n_b)
           > {_ZTEST_CRIT2_NUM}
             * ((c_a + c_b)::HUGEINT * (n_a + n_b - c_a - c_b))
             * n_a * n_b AS significant
    FROM wide""",
)
def ev_ab_conversion_ztest(spark, sf_dir):
    """One-row A/B experiment readout: per-arm click→purchase user
    conversion plus the exact-integer two-sided z-test flag at α=0.05.
    Arms split 50/50 by the first md5 nibble of user_id (deterministic
    under repartitioning, engine, and scale — the module's sampler
    contract); a user converts if they purchased at least once among
    click-having users. The flag comparison runs in DECIMAL(38) on both
    engines; the two displayed rates are correctly-rounded IEEE
    divisions of identical integers. Plan: one scan → per-user
    two-flag rollup → 2-row arm aggregate → single-row pivot.

    LARGE-COUNT ESCAPE HATCH (the DECIMAL(38) contract's bound): the
    left side 10⁴·(c₁n₂−c₂n₁)²·N caps the exact-integer path at
    n ≈ 5·10⁶ users per arm in the worst case (diff ~ n², so
    2n⁵·10⁴ ≤ 10³⁸); past it Spark's decimal multiply fails LOUDLY —
    ANSI ArithmeticException (NULL flag with ansi off), never a
    silently wrong boolean (pinned by
    tests/test_streaming.py::test_ztest_integer_rule_boundary). Beyond
    the bound, either (a) collect the FOUR integers of the single-row
    `wide` frame to the driver and decide the same rule in Python's
    arbitrary-precision ints (a 4-scalar collect — model-state-sized at
    any corpus size), or (b) fold to DOUBLE z² and compare against
    1.96² with an |z²−crit²| ≤ ε·crit² indifference band, flagging the
    band for review (the statistic is continuous there, so the band is
    honest about float error where the decision is genuinely marginal).
    Neither changes the report schema."""
    from pyspark.sql import functions as F  # noqa: F811 (local alias)

    e = load_events(spark, sf_dir)
    arms = (
        e.groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("clicked"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("purchased"),
        )
        .withColumn(
            "arm",
            F.when(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)
                < "8",
                "A",
            ).otherwise("B"),
        )
    )
    per = (
        arms.where(F.col("clicked") == 1)
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("purchased").cast("bigint").alias("c"),
        )
    )
    wide = per.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == "A", F.col("c"))).alias("c_a"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == "B", F.col("c"))).alias("c_b"),
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    diff = F.col("c_a") * F.col("n_b") - F.col("c_b") * F.col("n_a")
    n_tot = F.col("n_a") + F.col("n_b")
    c_tot = F.col("c_a") + F.col("c_b")
    return wide.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        F.round(F.col("c_a").cast("double") / F.col("n_a"), 6).alias("rate_a"),
        F.round(F.col("c_b").cast("double") / F.col("n_b"), 6).alias("rate_b"),
        (
            F.lit(_ZTEST_CRIT2_DEN) * d38(diff) * d38(diff) * d38(n_tot)
            > F.lit(_ZTEST_CRIT2_NUM)
            * d38(c_tot)
            * d38(n_tot - c_tot)
            * d38(F.col("n_a"))
            * d38(F.col("n_b"))
        ).alias("significant"),
    )


@register(
    "ev_session_duration_percentiles",
    """WITH flagged AS (
         SELECT user_id, ts::TIMESTAMP AS ts,
                CASE WHEN lag(ts::TIMESTAMP) OVER w IS NULL
                       OR ts::TIMESTAMP - lag(ts::TIMESTAMP) OVER w
                          > INTERVAL '30 minutes'
                     THEN 1 ELSE 0 END AS new_sess
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts)
       ),
       numbered AS (
         SELECT user_id, ts,
                SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sess_id
         FROM flagged
       ),
       sess AS (
         SELECT user_id, sess_id,
                date_diff('second', MIN(ts), MAX(ts)) AS dur_s,
                COUNT(*) AS n_events
         FROM numbered GROUP BY user_id, sess_id)
       SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
              CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_bounce,
              CAST(quantile_disc(dur_s, 0.5) AS BIGINT) AS p50_duration_s,
              CAST(quantile_disc(dur_s, 0.9) AS BIGINT) AS p90_duration_s,
              CAST(quantile_disc(dur_s, 0.99) AS BIGINT) AS p99_duration_s,
              CAST(MAX(dur_s) AS BIGINT) AS max_duration_s
       FROM sess""",
)
def ev_session_duration_percentiles(spark, sf_dir):
    """Single-row session-length profile: exact p50/p90/p99/max session
    duration plus the bounce count (single-event sessions) over the
    30-minute-gap sessionization — the engagement readout every event
    pipeline publishes next to ev_sessionize's raw sessions, and the
    number that sizes streaming state retention (a p99 session bound
    is what you set session_window state timeout from).

    Exactness: durations are integer seconds (last - first event);
    percentiles run on the duration HISTOGRAM via the cume_dist >= p
    rule fuzz-proven equal to percentile_disc/quantile_disc
    (operators/percentile_hist.py) — never a percentile_disc buffering
    every session per group. Session boundary semantics are
    ev_sessionize's (exactly-30-min gap merges, pinned by
    tests/test_session_boundary.py).

    Scale shape: session_window aggregate (one shuffle on user_id),
    collapse to the |distinct durations| histogram before the single
    bounded cumulative window."""
    from pyspark.sql import Window

    e = load_events(spark, sf_dir)
    sess = e.groupBy(
        F.session_window("ts", "30 minutes").alias("sw"), "user_id"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
        ).alias("dur_s"),
    )
    hist = sess.groupBy("dur_s").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).alias(
            "bounce"
        ),
    )
    w_cum = Window.orderBy("dur_s").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "dur_s",
        "bounce",
        F.sum("cnt").over(w_cum).alias("_cum"),
        F.sum("cnt").over(w_all).alias("_n"),
        "cnt",
    )
    cd = F.col("_cum").cast("double") / F.col("_n").cast("double")
    return cum.agg(
        F.max("_n").cast("bigint").alias("n_sessions"),
        F.sum("bounce").cast("bigint").alias("n_bounce"),
        F.min(F.when(cd >= 0.5, F.col("dur_s")))
        .cast("bigint")
        .alias("p50_duration_s"),
        F.min(F.when(cd >= 0.9, F.col("dur_s")))
        .cast("bigint")
        .alias("p90_duration_s"),
        F.min(F.when(cd >= 0.99, F.col("dur_s")))
        .cast("bigint")
        .alias("p99_duration_s"),
        F.max("dur_s").cast("bigint").alias("max_duration_s"),
    )


@register(
    "ev_watermark_lateness_profile",
    """WITH x AS (
         SELECT event_id, ts::TIMESTAMP AS ts,
                md5(CAST(event_id AS VARCHAR)) AS h
         FROM events),
       wmx AS (
         SELECT ts,
                MAX(ts) OVER (ORDER BY h, event_id
                              ROWS UNBOUNDED PRECEDING) AS wm
         FROM x),
       late AS (SELECT date_diff('second', ts, wm) AS late_s FROM wmx)
       SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
              CAST(SUM(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_late,
              ROUND(SUM(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) * 1.0
                    / COUNT(*), 6) AS late_share,
              CAST(quantile_disc(CASE WHEN late_s > 0 THEN late_s END, 0.5)
                   AS BIGINT) AS p50_late_s,
              CAST(quantile_disc(CASE WHEN late_s > 0 THEN late_s END, 0.95)
                   AS BIGINT) AS p95_late_s,
              CAST(quantile_disc(CASE WHEN late_s > 0 THEN late_s END, 0.99)
                   AS BIGINT) AS p99_late_s,
              CAST(MAX(late_s) AS BIGINT) AS max_late_s
       FROM late""",
)
def ev_watermark_lateness_profile(spark, sf_dir):
    """Event-lateness profile against a high-watermark: for each event
    in ARRIVAL order, lateness = (max event-time seen so far) - (own
    event time). The p95/p99 of this distribution IS the number you set
    ``withWatermark`` delay from — too short drops the tail as
    late-data, too long holds streaming state open for nothing. The
    testdata parquet is already written in event-time order (measured:
    zero lateness), so the registry query exercises the operator over
    a DETERMINISTIC simulated out-of-order arrival — md5(event_id)
    interleave, the adversarial multi-source merge — identical on both
    engines; production callers pass the real ingestion sequence
    column instead.

    Scale shape — the two-pass distributed prefix max (a global
    ORDER BY running max would be the single-task window
    anti-pattern): arrivals bucket by the 2-hex-char arrival-key
    prefix (256 ordered buckets), pass 1 computes the within-bucket
    running max (bounded partitions), pass 2 takes the running max of
    the 256 bucket maxima (tiny) and broadcasts the carry-in back.
    greatest(in-bucket max, carry) is exactly the global prefix max.
    Lateness is integer seconds; percentiles run on the late-subset
    histogram (cume_dist >= p rule, percentile_hist contract)."""
    from pyspark.sql import Window

    e = load_events(spark, sf_dir)
    x = e.select(
        "event_id",
        "ts",
        F.md5(F.col("event_id").cast("string")).alias("h"),
    ).withColumn("bkt", F.substring("h", 1, 2))
    w_in = Window.partitionBy("bkt").orderBy("h", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    bmax = x.groupBy("bkt").agg(F.max("ts").alias("bts"))
    w_carry = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = bmax.select(
        "bkt", F.max("bts").over(w_carry).alias("carry_ts")
    )
    wm = F.greatest(
        F.col("in_max"), F.coalesce(F.col("carry_ts"), F.col("in_max"))
    )
    late = (
        x.withColumn("in_max", F.max("ts").over(w_in))
        .join(F.broadcast(carry), "bkt")
        .select(
            (
                F.unix_timestamp(wm) - F.unix_timestamp(F.col("ts"))
            ).alias("late_s")
        )
    )
    hist = late.groupBy("late_s").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = Window.orderBy("late_s").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # cumulative rule over the LATE (> 0) subset only; zero-lateness
    # rows participate in n_events/late_share but not the percentiles
    late_cnt = F.when(F.col("late_s") > 0, F.col("cnt")).otherwise(
        F.lit(0)
    )
    cum = hist.select(
        "late_s",
        "cnt",
        F.sum(late_cnt).over(w_cum).alias("_cum"),
        F.sum(late_cnt).over(w_all).alias("_nl"),
        F.sum("cnt").over(w_all).alias("_n"),
    )
    cd = F.col("_cum").cast("double") / F.col("_nl").cast("double")
    is_late = F.col("late_s") > 0
    return cum.agg(
        F.max("_n").cast("bigint").alias("n_events"),
        F.max("_nl").cast("bigint").alias("n_late"),
        F.round(
            F.max("_nl") * F.lit(1.0) / F.max("_n"), 6
        ).alias("late_share"),
        F.min(F.when(is_late & (cd >= 0.5), F.col("late_s")))
        .cast("bigint")
        .alias("p50_late_s"),
        F.min(F.when(is_late & (cd >= 0.95), F.col("late_s")))
        .cast("bigint")
        .alias("p95_late_s"),
        F.min(F.when(is_late & (cd >= 0.99), F.col("late_s")))
        .cast("bigint")
        .alias("p99_late_s"),
        F.max("late_s").cast("bigint").alias("max_late_s"),
    )


@register(
    "ev_cumulative_new_users",
    """WITH fs AS (
         SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
         FROM events GROUP BY user_id),
       days AS (
         SELECT first_day AS day, COUNT(*) AS n_new
         FROM fs GROUP BY first_day)
       SELECT strftime(day, '%Y-%m-%d') AS day,
              CAST(n_new AS BIGINT) AS n_new_users,
              CAST(SUM(n_new) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                   AS BIGINT) AS cum_users
       FROM days ORDER BY day""",
)
def ev_cumulative_new_users(spark, sf_dir):
    """Daily new users and the cumulative distinct-user curve — the
    growth chart every event pipeline publishes. The naive form,
    COUNT(DISTINCT user_id) OVER (ORDER BY day), either isn't supported
    or buffers every user per frame; the scale-correct identity is
    FIRST-SEEN COLLAPSE: cumulative distinct users at day d = count of
    users whose MIN(event day) <= d. One groupBy(user_id) for first
    days (the only corpus-sized stage, map-side partial), a day-sized
    histogram, and a running sum over |days| rows. Dates emitted as ISO
    strings both engines (the DATE-stringification gotcha)."""
    from pyspark.sql import Window

    e = load_events(spark, sf_dir)
    fs = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    days = fs.groupBy("first_day").agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w_cum = Window.orderBy("first_day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        days.select(
            F.date_format("first_day", "yyyy-MM-dd").alias("day"),
            F.col("n_new").cast("bigint").alias("n_new_users"),
            F.sum("n_new").over(w_cum).cast("bigint").alias("cum_users"),
        )
        .orderBy("day")
    )


_MDE_Z_ALPHA = 1.959963985  #: two-sided alpha = 0.05
_MDE_Z_BETA = 0.841621234  #: power = 0.80


@register(
    "ev_ab_power_mde",
    f"""WITH arms AS (
      SELECT user_id,
             CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1)
                       < '8' THEN 'A' ELSE 'B' END AS arm,
             MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS clicked,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS purchased
      FROM events GROUP BY user_id),
    per AS (
      SELECT arm,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(purchased) AS BIGINT) AS c
      FROM arms WHERE clicked = 1 GROUP BY arm),
    wide AS (
      SELECT MAX(CASE WHEN arm = 'A' THEN n END) AS n_a,
             MAX(CASE WHEN arm = 'A' THEN c END) AS c_a,
             MAX(CASE WHEN arm = 'B' THEN n END) AS n_b,
             MAX(CASE WHEN arm = 'B' THEN c END) AS c_b
      FROM per),
    x AS (
      SELECT n_a, n_b,
             CAST(c_a AS DOUBLE) / n_a AS rate_a,
             CAST(c_b AS DOUBLE) / n_b AS rate_b,
             CAST(c_a + c_b AS DOUBLE) / (n_a + n_b) AS pooled,
             ({_MDE_Z_ALPHA} + {_MDE_Z_BETA})
               * sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                      * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                      * (1.0 / n_a + 1.0 / n_b)) AS mde
      FROM wide)
    SELECT n_a, n_b,
           ROUND(rate_a, 6) AS rate_a,
           ROUND(rate_b, 6) AS rate_b,
           ROUND(mde, 6) AS mde_abs_lift,
           abs(rate_b - rate_a) >= mde AS lift_detectable
    FROM x""",
)
def ev_ab_power_mde(spark, sf_dir):
    """Experiment power readout — the ev_ab_conversion_ztest companion:
    the minimal detectable absolute lift (two-sided α=0.05, power 0.80)
    at the REALIZED arm sizes and pooled rate, and whether the observed
    lift clears it. An experiment platform publishes this next to the
    significance flag because an insignificant result is only
    informative when the MDE says the test could have seen the effect
    (otherwise it's underpowered, not null).

    Determinism: one row; rates/pooled/MDE are the SAME expression tree
    over identical integers on both engines (z constants as shared
    literals), so the doubles — and therefore the boundary flag — are
    bit-equal. Plan: the ztest's per-user rollup → 2-row arm aggregate
    → single-row pivot → scalar math."""
    e = load_events(spark, sf_dir)
    arms = (
        e.groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("clicked"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("purchased"),
        )
        .withColumn(
            "arm",
            F.when(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)
                < "8",
                "A",
            ).otherwise("B"),
        )
    )
    per = (
        arms.where(F.col("clicked") == 1)
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("purchased").cast("bigint").alias("c"),
        )
    )
    wide = per.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == "A", F.col("c"))).alias("c_a"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == "B", F.col("c"))).alias("c_b"),
    )
    rate_a = F.col("c_a").cast("double") / F.col("n_a")
    rate_b = F.col("c_b").cast("double") / F.col("n_b")
    pooled = (F.col("c_a") + F.col("c_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    mde = F.lit(_MDE_Z_ALPHA + _MDE_Z_BETA) * F.sqrt(
        pooled
        * (F.lit(1.0) - pooled)
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    return wide.select(
        "n_a",
        "n_b",
        F.round(rate_a, 6).alias("rate_a"),
        F.round(rate_b, 6).alias("rate_b"),
        F.round(mde, 6).alias("mde_abs_lift"),
        (F.abs(rate_b - rate_a) >= mde).alias("lift_detectable"),
    )


@register(
    "ev_time_weighted_avg_value",
    """WITH seq AS (
         SELECT event_type,
                CAST(FLOOR(value * 10000 + 0.5) AS BIGINT) AS units,
                date_diff('second', ts,
                          lead(ts) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id)) AS dt
         FROM events),
       agg AS (
         SELECT event_type,
                CAST(COUNT(*) AS BIGINT) AS n_intervals,
                SUM(CAST(dt AS HUGEINT)) AS d,
                SUM(CAST(units AS HUGEINT) * dt) AS s
         FROM seq WHERE dt IS NOT NULL GROUP BY event_type)
       SELECT event_type, n_intervals,
              CAST(d AS BIGINT) AS total_hold_s,
              ROUND(CAST(s AS DOUBLE) / (10000.0 * CAST(d AS DOUBLE)), 6)
                AS twa_value
       FROM agg ORDER BY event_type""",
)
def ev_time_weighted_avg_value(spark, sf_dir):
    """Time-weighted average of ``value`` per event type — the TSDB
    aggregate (TimescaleDB's time_weight, step interpolation): each
    event's value HOLDS until the user's next event, so the average
    weights by holding seconds, not by event count. The difference vs
    the plain AVG is exactly the sampling-bias correction irregular
    event streams need (a value that holds for an hour counts 3600x a
    value replaced after a second).

    Exactness: values are exact 4-decimal money-like doubles, folded
    to integer 1e-4 units via the engine's standard floor(x·10⁴+0.5)
    recovery (_cents contract); holding times are integer seconds from
    the per-user lead window (total order on ts, event_id). Both
    Σ(units·dt) and Σdt accumulate in DECIMAL(38)/HUGEINT — exact at
    any scale — and one shared-shape double division ends it.

    Plan: ONE user-partitioned window pass (the sessionize shuffle),
    then a |types|-row aggregate. Each user's final event holds no
    interval and is excluded on both engines (dt IS NULL)."""
    from pyspark.sql import Window

    e = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        _cents("value", 4).alias("units"),
        (
            F.unix_timestamp(F.lead("ts").over(w))
            - F.unix_timestamp(F.col("ts"))
        ).alias("dt"),
    ).where(F.col("dt").isNotNull())
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = seq.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        F.sum(d38(F.col("dt"))).alias("d"),
        F.sum(d38(F.col("units")) * F.col("dt")).alias("s"),
    )
    return agg.select(
        "event_type",
        "n_intervals",
        F.col("d").cast("bigint").alias("total_hold_s"),
        F.round(
            F.col("s").cast("double")
            / (F.lit(10000.0) * F.col("d").cast("double")),
            6,
        ).alias("twa_value"),
    ).orderBy("event_type")


@register(
    "ev_top_session_paths",
    """WITH flagged AS (
         SELECT user_id, ts::TIMESTAMP AS ts, event_id, event_type,
                CASE WHEN lag(ts::TIMESTAMP) OVER w IS NULL
                       OR ts::TIMESTAMP - lag(ts::TIMESTAMP) OVER w
                          > INTERVAL '30 minutes'
                     THEN 1 ELSE 0 END AS new_sess
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       ),
       numbered AS (
         SELECT user_id, ts, event_id, event_type,
                SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sess_id
         FROM flagged
       ),
       ranked AS (
         SELECT user_id, sess_id, event_type,
                ROW_NUMBER() OVER (PARTITION BY user_id, sess_id
                                   ORDER BY ts, event_id) AS rn
         FROM numbered
       ),
       paths AS (
         SELECT user_id, sess_id,
                string_agg(event_type, '>' ORDER BY rn) AS path
         FROM ranked WHERE rn <= 3 GROUP BY user_id, sess_id)
       SELECT path,
              CAST(COUNT(*) AS BIGINT) AS n_sessions,
              ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (), 6) AS share
       FROM paths
       GROUP BY path
       ORDER BY n_sessions DESC, path
       LIMIT 15""",
)
def ev_top_session_paths(spark, sf_dir):
    """Top-15 session-opening paths (the first three event types per
    30-minute session, joined with '>') with session share — the
    behavioral entry-path table a funnel analysis starts from, and the
    categorical sibling of ev_pattern_match's regex counts.

    Determinism: session boundaries follow the pinned ev_sessionize
    semantics; within-session order is the total order (ts, event_id);
    the path string aggregates in explicit rank order on both engines.
    Plan: one user-partitioned window pass for boundaries + ranks, a
    session-sized groupBy for paths, a path-sized histogram, and
    TakeOrderedAndProject(15) — the corpus shuffles once on user_id."""
    from pyspark.sql import Window

    e = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        # Full-precision gap test (ts > lag + 30 min), matching the
        # oracle's INTERVAL comparison exactly. unix_timestamp would
        # truncate to whole seconds and merge a true gap in
        # (1800 s, 1801 s) that the oracle splits — the same pinned
        # full-precision boundary contract the session_window ops use.
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.col("ts")
                > F.lag("ts").over(w) + F.expr("INTERVAL 30 MINUTES")
            ),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    numbered = flagged.withColumn(
        "sess_id",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    ws = Window.partitionBy("user_id", "sess_id").orderBy("ts", "event_id")
    ranked = numbered.withColumn("rn", F.row_number().over(ws)).where(
        F.col("rn") <= 3
    )
    paths = ranked.groupBy("user_id", "sess_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rn", "event_type"))
                ),
                lambda s: s.getField("event_type"),
            ),
        ).alias("path")
    )
    hist = paths.groupBy("path").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions")
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        hist.select(
            "path",
            "n_sessions",
            F.round(
                F.col("n_sessions")
                * F.lit(1.0)
                / F.sum("n_sessions").over(w_all),
                6,
            ).alias("share"),
        )
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(15)
    )


# --------------------------------------------------------------------------
# Markov stationary distribution — the long-run behavioral mix the
# transition matrix implies. ev_type_transition_matrix gives the
# one-step dynamics; this runs 5 unrolled power-iteration sweeps from
# the uniform start (the op_graph_pagerank fixed-sweep idiom: both
# engines state the same unrolled computation, so the oracle is exact —
# never a convergence race) and sets the result beside each type's raw
# empirical share. stationary > empirical means the chain concentrates
# on that type over time (e.g. sessions funnel toward it); a large gap
# is the signal that funnel position, not volume, drives the type's
# importance.

_MARKOV_SWEEPS = 5


def _markov_sql() -> str:
    sweeps = "\n".join(
        f"""    p{i} AS (
      SELECT pr.t AS s, SUM(x.p * pr.p) AS p
      FROM p{i - 1} x JOIN pr ON pr.f = x.s GROUP BY pr.t),"""
        for i in range(1, _MARKOV_SWEEPS + 1)
    )
    return f"""WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events),
    tm AS (
      SELECT event_type AS f, next_type AS t,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
    pr AS (SELECT f, t, n * 1.0 / SUM(n) OVER (PARTITION BY f) AS p
           FROM tm),
    states AS (SELECT DISTINCT f AS s FROM tm),
    p0 AS (SELECT s, 1.0 / (SELECT COUNT(*) FROM states) AS p
           FROM states),
{sweeps}
    emp AS (
      SELECT event_type,
             COUNT(*) * 1.0 / SUM(COUNT(*)) OVER () AS empirical_share
      FROM events GROUP BY event_type),
    outs AS (SELECT f AS event_type,
                    CAST(SUM(n) AS BIGINT) AS n_out_transitions
             FROM tm GROUP BY f)
    SELECT e.event_type,
           CAST(COALESCE(o.n_out_transitions, 0) AS BIGINT)
             AS n_out_transitions,
           ROUND(e.empirical_share, 6) AS empirical_share,
           ROUND(COALESCE(p{_MARKOV_SWEEPS}.p, 0), 6) AS stationary_prob
    FROM emp e
    LEFT JOIN outs o USING (event_type)
    LEFT JOIN p{_MARKOV_SWEEPS} ON p{_MARKOV_SWEEPS}.s = e.event_type
    ORDER BY event_type"""


@register("ev_markov_stationary", _markov_sql())
def ev_markov_stationary(spark, sf_dir):
    """Per-event-type stationary probability after 5 power-iteration
    sweeps of the empirical first-order transition chain, beside the
    raw empirical share: (event_type, n_out_transitions,
    empirical_share, stationary_prob).

    Exactness contract: both engines unroll the SAME 5 sweeps from the
    same uniform start — no convergence test, no race; every
    transition probability is one IEEE divide over exact integers and
    each sweep's sums span |types| terms, so cross-engine float noise
    stays at 1e-15. The readout LEFT-joins from emp (every observed
    type) so a target-only type keeps its received stationary mass
    with n_out_transitions = 0, and a never-targeted source coalesces
    stationary_prob to 0 — no type silently vanishes if new data adds
    one (this corpus has neither, so the row set equals the old
    inner-join output). A sink type (no outgoing row in pr) still
    absorbs sweep mass without re-emitting it — identical on both
    engines and documented as the unnormalized-sweep contract.

    Scale shape (round 12): the only corpus-sized stages are the one
    user-partitioned lag window (shared with the transition matrix)
    and the empirical-share aggregate. The transition matrix itself is
    MODEL state — |types|^2 rows where the event-type vocabulary is an
    enumerated application domain (dozens at any corpus size) — so it
    is collected once and the 5 sweeps run as plain float arithmetic
    on the driver, exactly the centroids-as-literals idiom
    (sim_silhouette_by_label): the distributed sweep-join form paid
    ~2.5 s of pure stage scheduling on a ~25-row relation at the 20x
    events probe (the r11 verdict's watch item 3; the lag window
    itself measured 0.9 s). Per-sweep sums iterate sorted keys, so the
    driver arithmetic is deterministic; cross-engine float noise stays
    at 1e-15 exactly as before (absorbed by the 6-dp display round)."""
    from pyspark.sql import Window

    e = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    tm_rows = (
        seq.groupBy(
            F.col("event_type").alias("f"), F.col("next_type").alias("t")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .collect()  # model-sized: |types|^2, types an enumerated domain
    )
    row_tot: dict[str, int] = {}
    for r in tm_rows:
        row_tot[r.f] = row_tot.get(r.f, 0) + r.n
    pr = {(r.f, r.t): r.n * 1.0 / row_tot[r.f] for r in tm_rows}
    states = sorted(row_tot)
    p = {s: 1.0 / len(states) for s in states}
    for _ in range(_MARKOV_SWEEPS):
        nxt: dict[str, float] = {}
        for (f, t), pp in sorted(pr.items()):
            if f in p:
                nxt[t] = nxt.get(t, 0.0) + pp * p[f]
        p = nxt
    stat_rows = [(s, float(v)) for s, v in sorted(p.items())]
    stationary = lit_rows_df(
        spark, [("event_type", "string"), ("p", "double")], stat_rows
    )
    outs = lit_rows_df(
        spark,
        [("event_type", "string"), ("n_out_transitions", "bigint")],
        sorted(row_tot.items()),
    )
    emp = (
        e.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "event_type",
            (
                F.col("cnt")
                * F.lit(1.0)
                / F.sum("cnt").over(
                    Window.rowsBetween(
                        Window.unboundedPreceding, Window.unboundedFollowing
                    )
                )
            ).alias("empirical_share"),
        )
    )
    return (
        emp.join(F.broadcast(outs), "event_type", "left")
        .join(F.broadcast(stationary), "event_type", "left")
        .select(
            "event_type",
            F.coalesce("n_out_transitions", F.lit(0))
            .cast("bigint")
            .alias("n_out_transitions"),
            F.round("empirical_share", 6).alias("empirical_share"),
            F.round(F.coalesce("p", F.lit(0.0)), 6).alias("stationary_prob"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Markov removal-effect attribution (Anderl et al. 2014 — the
# data-driven alternative to last-touch attribution every marketing
# stack ships). Sessions become journeys START -> touches -> CONV (the
# session's first 'purchase') or NOCONV (no purchase); the journey
# chain's K-step conversion probability from START is computed on the
# full transition matrix and on each channel-removed matrix (the
# removed channel's inbound mass redirects to NOCONV, its outbound rows
# drop — cutting every path through it); removal_effect(c) =
# 1 - p_removed/p_base, normalized into attribution shares. Both
# engines unroll the SAME K sweeps (the ev_markov_stationary exactness
# contract — never a convergence race). The removal matrices are
# statically unrolled per channel in _ATTR_CHANNELS (SQL can't generate
# CTE chains from data), but the oracle's OUTPUT channel list derives
# from the data (chan CTE over tm), so a channel absent from journeys
# drops from BOTH engines; a channel present in data but missing from
# _ATTR_CHANNELS raises loudly on the engine side (ADVICE r12 item 2).

_ATTR_K = 8
_ATTR_CHANNELS = ("click", "error", "signup", "view")
_ATTR_CONV = "purchase"


def _session_journey_frame(spark, sf_dir):
    """(user_id, sess_id, event_type, rn, nxt, fp_rn) — ONE corpus-sized
    window chain: user-partitioned session numbering (the pinned
    full-precision 30-minute rule), then rank / lead / first-purchase
    min stacked on the same (user, session) exchange. Shared by the
    Markov removal-effect op and the classical attribution-model
    table."""
    from pyspark.sql import Window

    e = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.col("ts")
                > F.lag("ts").over(w) + F.expr("INTERVAL 30 MINUTES")
            ),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    numbered = flagged.withColumn(
        "sess_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    ws = Window.partitionBy("user_id", "sess_id").orderBy("ts", "event_id")
    wsu = Window.partitionBy("user_id", "sess_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    a = numbered.select(
        "user_id",
        "sess_id",
        "event_type",
        F.row_number().over(ws).alias("rn"),
        F.lead("event_type").over(ws).alias("nxt"),
    )
    return a.withColumn(
        "fp_rn",
        F.min(
            F.when(F.col("event_type") == _ATTR_CONV, F.col("rn"))
        ).over(wsu),
    )


def _attr_sweeps_sql(tag: str, pr_rel: str) -> str:
    """K unrolled absorption sweeps over transition relation ``pr_rel``
    (columns f, t, p): v_k(s) = 1 for CONV, 0 for NOCONV, else
    sum p(s,t) * v_{k-1}(t)."""
    ctes = [
        f"""v{tag}0 AS (
      SELECT s, CASE WHEN s = 'CONV' THEN 1.0 ELSE 0.0 END AS v
      FROM states)"""
    ]
    for k in range(1, _ATTR_K + 1):
        ctes.append(
            f"""v{tag}{k} AS (
      SELECT st.s,
             CASE WHEN st.s = 'CONV' THEN 1.0
                  WHEN st.s = 'NOCONV' THEN 0.0
                  ELSE COALESCE(x.v, 0.0) END AS v
      FROM states st LEFT JOIN (
        SELECT pr.f AS s, SUM(pr.p * vp.v) AS v
        FROM {pr_rel} pr JOIN v{tag}{k - 1} vp ON vp.s = pr.t
        GROUP BY 1) x USING (s))"""
        )
    return ",\n    ".join(ctes)


def _attribution_sql() -> str:
    removed = []
    for c in _ATTR_CHANNELS:
        removed.append(
            f"""pr_{c} AS (
      SELECT f, CASE WHEN t = '{c}' THEN 'NOCONV' ELSE t END AS t,
             SUM(p) AS p
      FROM pr WHERE f <> '{c}' GROUP BY 1, 2),
    {_attr_sweeps_sql("_" + c, "pr_" + c)}"""
        )
    removed_sql = ",\n    ".join(removed)
    rem_union = " UNION ALL ".join(
        f"SELECT '{c}' AS channel, v AS prm FROM v_{c}{_ATTR_K} "
        f"WHERE s = 'START'"
        for c in _ATTR_CHANNELS
    )
    return f"""WITH flagged AS (
      SELECT user_id, ts::TIMESTAMP AS ts, event_id, event_type,
             CASE WHEN lag(ts::TIMESTAMP) OVER w IS NULL
                    OR ts::TIMESTAMP - lag(ts::TIMESTAMP) OVER w
                       > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    numbered AS (
      SELECT user_id, event_type, ts, event_id,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged),
    ranked AS (
      SELECT user_id, sess_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, sess_id
                                ORDER BY ts, event_id) AS rn
      FROM numbered),
    sess AS (SELECT DISTINCT user_id, sess_id FROM ranked),
    fp AS (
      SELECT user_id, sess_id, MIN(rn) AS fp_rn
      FROM ranked WHERE event_type = '{_ATTR_CONV}' GROUP BY 1, 2),
    toks AS (
      SELECT user_id, sess_id, 0 AS pos, 'START' AS tok FROM sess
      UNION ALL
      SELECT r.user_id, r.sess_id, r.rn AS pos, r.event_type AS tok
      FROM ranked r LEFT JOIN fp USING (user_id, sess_id)
      WHERE fp.fp_rn IS NULL OR r.rn < fp.fp_rn
      UNION ALL
      SELECT s.user_id, s.sess_id, 2147483647 AS pos,
             CASE WHEN fp.fp_rn IS NOT NULL THEN 'CONV'
                  ELSE 'NOCONV' END AS tok
      FROM sess s LEFT JOIN fp USING (user_id, sess_id)),
    tr AS (
      SELECT tok AS f,
             lead(tok) OVER (PARTITION BY user_id, sess_id
                             ORDER BY pos) AS t
      FROM toks),
    tm AS MATERIALIZED (
      SELECT f, t, CAST(COUNT(*) AS BIGINT) AS n
      FROM tr WHERE t IS NOT NULL GROUP BY 1, 2),
    pr AS MATERIALIZED (
      SELECT f, t, n * 1.0 / SUM(n) OVER (PARTITION BY f) AS p FROM tm),
    states AS MATERIALIZED (
      SELECT DISTINCT f AS s FROM tm
      UNION SELECT DISTINCT t FROM tm),
    {_attr_sweeps_sql("b", "pr")},
    {removed_sql},
    base AS (SELECT v AS pb FROM vb{_ATTR_K} WHERE s = 'START'),
    chan AS (
      SELECT DISTINCT f AS channel FROM tm
      WHERE f NOT IN ('START', 'CONV', 'NOCONV')),
    outs AS (
      SELECT f AS channel, CAST(SUM(n) AS BIGINT) AS n_transitions_from
      FROM tm GROUP BY 1),
    rem AS (
      {rem_union}),
    re AS (
      SELECT c.channel,
             COALESCE(o.n_transitions_from, 0) AS n_transitions_from,
             b.pb, r.prm,
             1.0 - r.prm / NULLIF(b.pb, 0) AS eff
      FROM chan c
      JOIN rem r USING (channel)
      LEFT JOIN outs o USING (channel)
      CROSS JOIN base b)
    SELECT channel,
           CAST(n_transitions_from AS BIGINT) AS n_transitions_from,
           ROUND(pb, 6) AS p_conv_base,
           ROUND(prm, 6) AS p_conv_removed,
           ROUND(eff, 6) AS removal_effect,
           ROUND(eff / NULLIF(SUM(eff) OVER (), 0), 6)
             AS attribution_share
    FROM re
    ORDER BY channel"""


@register("ev_markov_attribution", _attribution_sql())
def ev_markov_attribution(spark, sf_dir):
    """Markov removal-effect attribution over 30-minute sessions:
    (channel, n_transitions_from, p_conv_base, p_conv_removed,
    removal_effect, attribution_share). Journeys run START -> touch
    types (truncated at the session's first purchase) -> CONV/NOCONV;
    p_conv is the K=8-step absorption probability from START, unrolled
    identically on both engines; removing a channel redirects its
    inbound transition mass to NOCONV and drops its outbound rows, so
    every journey through it is cut — removal_effect = 1 - p/p_base is
    the channel's true path contribution (a channel can score high with
    few last-touches if it feeds converting paths, the whole point over
    last-touch attribution).

    Exactness contract: the transition matrix and journey construction
    are exact integers over the pinned session rule (the
    ev_top_session_paths boundary semantics); the sweeps are a FIXED
    K-step composition (never a convergence race); cross-engine float
    noise in the <=|states|-term sweep sums stays at 1e-15 under the
    6-dp display round (the ev_markov_stationary precedent).

    Scale shape: ONE corpus-sized window chain — the user-partitioned
    session numbering, then rank/lead/first-purchase-min stacked on the
    SAME (user, session) exchange — feeds a conditional explode that
    emits each row's 0-2 transitions in place (the START edge rides the
    rn=1 row, the terminal edge rides the last kept row's NULL lead; no
    token union, no journey join, no second scan). The transition
    matrix is |states|^2 model state (event types are an enumerated
    domain), collected once, with the base and all |channels| removal
    chains computed driver-side (the centroids-as-literals idiom) and
    returned as one literal frame joined to nothing corpus-sized."""
    b = _session_journey_frame(spark, sf_dir)
    start_edge = F.when(
        F.col("rn") == 1,
        F.array(
            F.struct(
                F.lit("START").alias("f"),
                F.when(F.col("fp_rn") == 1, F.lit("CONV"))
                .otherwise(F.col("event_type"))
                .alias("t"),
            )
        ),
    ).otherwise(F.array().cast("array<struct<f:string,t:string>>"))
    mid_t = (
        F.when(
            F.col("fp_rn").isNotNull() & (F.col("rn") + 1 == F.col("fp_rn")),
            F.lit("CONV"),
        )
        .when(F.col("nxt").isNull(), F.lit("NOCONV"))
        .otherwise(F.col("nxt"))
    )
    mid_edge = F.when(
        F.col("fp_rn").isNull() | (F.col("rn") < F.col("fp_rn")),
        F.array(
            F.struct(F.col("event_type").alias("f"), mid_t.alias("t"))
        ),
    ).otherwise(F.array().cast("array<struct<f:string,t:string>>"))
    tm_rows = (
        b.select(F.explode(F.concat(start_edge, mid_edge)).alias("e"))
        .groupBy(F.col("e.f").alias("f"), F.col("e.t").alias("t"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .collect()  # model-sized: (|types|+3)^2
    )
    out = _attribution_rows_from_tm([(r.f, r.t, r.n) for r in tm_rows])
    return lit_rows_df(
        spark,
        [
            ("channel", "string"),
            ("n_transitions_from", "bigint"),
            ("p_conv_base", "double"),
            ("p_conv_removed", "double"),
            ("removal_effect", "double"),
            ("attribution_share", "double"),
        ],
        out,
    ).orderBy("channel")


def _attribution_rows_from_tm(
    tm: list[tuple[str, str, int]],
) -> list[tuple]:
    """Driver-side removal-effect arithmetic on the collected (f, t, n)
    transition triples — the model-sized tail of ev_markov_attribution,
    factored out so the streaming journey twin's test assembly runs the
    IDENTICAL float path (deterministic sorted iteration; the
    bit-equality contract of the batch/stream pairs)."""
    row_tot: dict[str, int] = {}
    for f, t, n in tm:
        row_tot[f] = row_tot.get(f, 0) + n
    pr = {(f, t): n * 1.0 / row_tot[f] for f, t, n in tm}
    states = sorted(
        {f for f, _ in pr} | {t for _, t in pr} | {"CONV", "NOCONV"}
    )

    def absorb(prm: dict) -> float:
        v = {s: (1.0 if s == "CONV" else 0.0) for s in states}
        for _ in range(_ATTR_K):
            acc: dict[str, float] = {}
            for (f, t), p in sorted(prm.items()):
                acc[f] = acc.get(f, 0.0) + p * v.get(t, 0.0)
            v = {
                s: (
                    1.0
                    if s == "CONV"
                    else 0.0 if s == "NOCONV" else acc.get(s, 0.0)
                )
                for s in states
            }
        return v.get("START", 0.0)

    pb = absorb(pr)
    channels = sorted(
        t
        for t in {x for _, x in pr} | {x for x, _ in pr}
        if t not in ("START", "CONV", "NOCONV")
    )
    unknown = [c for c in channels if c not in _ATTR_CHANNELS]
    if unknown:
        # The oracle's removal matrices are statically unrolled CTE
        # chains over _ATTR_CHANNELS; a channel the data derives but the
        # oracle can't sweep would silently drop from the oracle output.
        # Fail loudly instead (ADVICE r12 item 2).
        raise RuntimeError(
            "ev_markov_attribution: data-derived channels "
            f"{unknown} are missing from _ATTR_CHANNELS — extend the "
            "enumerated set so the oracle unrolls their removal sweeps"
        )
    rows = []
    for c in channels:
        prm: dict = {}
        for (f, t), p in pr.items():
            if f == c:
                continue
            key = (f, "NOCONV" if t == c else t)
            prm[key] = prm.get(key, 0.0) + p
        prem = absorb(prm)
        eff = 1.0 - prem / pb if pb else None
        rows.append((c, row_tot.get(c, 0), pb, prem, eff))
    tot_eff = sum(r[4] for r in rows if r[4] is not None)
    out = [
        (
            c,
            n,
            round(pb_, 6),
            round(prm_, 6),
            round(eff, 6) if eff is not None else None,
            round(eff / tot_eff, 6)
            if eff is not None and tot_eff
            else None,
        )
        for c, n, pb_, prm_, eff in rows
    ]
    return out


# --------------------------------------------------------------------------
# Kaplan-Meier survival of error-budget exhaustion (Kaplan & Meier 1958
# — public literature; the SRE reading: each user carries an error
# budget of 10 error events, the "failure" is the budget's exhaustion,
# and users who never exhaust it are RIGHT-CENSORED at their last
# observed event). The KM estimator S(t) = prod_{t_j <= t} (1 - d_j/n_j)
# is the canonical way to use censored observations without bias —
# dropping censored users (they survived longest) or treating their
# last-seen as failure (they didn't fail) both skew the curve; this is
# the one survival estimate worth publishing. Censoring is genuinely
# interleaved on this corpus (sf0.1: 1271 exhaustions, 229 censored).

_KM_BUDGET = 10  # error events before the budget is exhausted
_KM_HORIZONS_H = (240, 360, 480, 600)

#: Per-user rows per task for the shared survival frame's layout (see
#: _survival_user_frame): each user row fans into multiple downstream
#: histogram/horizon passes, so tasks stay worthwhile well below
#: byte-based sizing.
_SURV_ROWS_PER_TASK = 200


@session_memo
def _survival_user_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE checkpointed per-user frame feeding the whole survival family
    (KM, Nelson-Aalen bands, RMST, log-rank, hazard ratio, stratified
    log-rank, competing risks): (user_id, g, cnt, d, ev, dc, cause).

    Round-13 optimization (guide §2.4 — remove repeated passes): each of
    the seven batch survival ops previously re-ran the SAME corpus scan
    + per-user rank windows to rebuild its duration frame; memoizing the
    |users|-row result once per session/scale (the shingles/rep_jaccard
    pattern; one-time cost visible in bench cache_build_sec) leaves each
    op only its histogram-spine work. Every column is computed by the
    exact expressions the ops previously used inline, so each op's
    values — and therefore oracle hashes — are unchanged:

    - d/ev: error-budget clock (te = {budget}-th error via the same
      (ts, event_id) rank window; censored at the last event),
    - g: 1 iff the user's FIRST event (same rank window) is an error,
    - cnt: per-user event count (the stratified op's tercile key),
    - dc/cause: competing-risks clock (first purchase vs exhaustion,
      ties to exhaustion — _competing_durations' exact expressions).
    """
    from pyspark.sql import Window

    e = load_events(spark, sf_dir)
    t0 = e.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.max("ts").alias("le"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
    )
    we = Window.partitionBy("user_id").orderBy("ts", "event_id")
    coh = (
        e.withColumn("rn", F.row_number().over(we))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.when(F.col("event_type") == "error", 1)
            .otherwise(0)
            .alias("g"),
        )
    )
    te = (
        e.where(F.col("event_type") == "error")
        .withColumn("rn", F.row_number().over(we))
        .where(F.col("rn") == _KM_BUDGET)
        .select("user_id", F.col("ts").alias("te"))
    )
    tc = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tc"))
    )
    exh_first = F.col("te").isNotNull() & (
        F.col("tc").isNull() | (F.col("te") <= F.col("tc"))
    )
    users = (
        t0.join(coh, "user_id")
        .join(te, "user_id", "left")
        .join(tc, "user_id", "left")
        .select(
            "user_id",
            "g",
            "cnt",
            (
                F.unix_timestamp(F.coalesce("te", "le"))
                - F.unix_timestamp("t0")
            ).alias("d"),
            F.when(F.col("te").isNotNull(), 1).otherwise(0).alias("ev"),
            F.when(
                exh_first,
                F.unix_timestamp("te") - F.unix_timestamp("t0"),
            )
            .when(
                F.col("tc").isNotNull(),
                F.unix_timestamp("tc") - F.unix_timestamp("t0"),
            )
            .otherwise(
                F.unix_timestamp("le") - F.unix_timestamp("t0")
            )
            .alias("dc"),
            F.when(exh_first, 1)
            .when(F.col("tc").isNotNull(), 2)
            .otherwise(0)
            .alias("cause"),
        )
    )
    # Layout: AQE coalesces the tiny join output to ONE partition, and
    # a 1-partition checkpoint serializes every downstream histogram
    # pass (measured: km 4.1 s → 1.3 s after repartitioning; the r8 "pin
    # compact-but-CPU-bound stages" lesson). Round 14 (VERDICT r13 item
    # 5): width from ROWS, not core count — defaultParallelism put a
    # ~1.5k-user frame on 32 micro-partitions at 32 cores, and the
    # per-sweep scheduling floor made the 32-core run slower
    # than the 8-core run on ev_survival_*.
    return checkpoint_by_rows(
        spark, users, _SURV_ROWS_PER_TASK, "user_id", keep_matching_width=False
    )

_KM_SQL = f"""WITH t0 AS (
      SELECT user_id, MIN(ts::TIMESTAMP) AS t0, MAX(ts::TIMESTAMP) AS le
      FROM events GROUP BY 1),
    er AS (
      SELECT user_id, ts::TIMESTAMP AS ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE event_type = 'error'),
    te AS (SELECT user_id, ts AS te FROM er WHERE rn = {_KM_BUDGET}),
    dur AS (
      SELECT t.user_id,
             date_diff('second', t.t0, COALESCE(x.te, t.le)) AS d,
             CASE WHEN x.te IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM t0 t LEFT JOIN te x USING (user_id)),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nu FROM dur),
    hist AS (
      SELECT d AS v, CAST(COUNT(*) AS BIGINT) AS c_all,
             CAST(SUM(ev) AS BIGINT) AS c_ev
      FROM dur GROUP BY 1),
    spine AS (
      SELECT v, c_all, c_ev,
             COALESCE(SUM(c_all) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
             SUM(c_ev) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_ev
      FROM hist),
    km AS (
      SELECT v, cum_ev,
             EXP(SUM(CASE WHEN c_ev > 0
                          THEN LN(1.0 - c_ev * 1.0
                                  / ((SELECT nu FROM n) - cb))
                          ELSE 0.0 END)
                 OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)) AS s
      FROM spine),
    h(horizon_hours) AS (VALUES {", ".join(f"({x})" for x in _KM_HORIZONS_H)}),
    pick AS (
      SELECT h.horizon_hours, k.v, k.cum_ev, k.s,
             row_number() OVER (PARTITION BY h.horizon_hours
                                ORDER BY k.v DESC) AS rk
      FROM h LEFT JOIN km k ON k.v <= h.horizon_hours * 3600),
    r AS (SELECT horizon_hours, cum_ev, s FROM pick WHERE rk = 1),
    risk AS (
      SELECT h.horizon_hours,
             CAST(COUNT(*) FILTER (WHERE d.d >= h.horizon_hours * 3600)
                  AS BIGINT) AS n_at_risk
      FROM h CROSS JOIN dur d GROUP BY 1)
    SELECT CAST(r.horizon_hours AS INT) AS horizon_hours,
           risk.n_at_risk,
           CAST(COALESCE(r.cum_ev, 0) AS BIGINT) AS cum_events,
           ROUND(COALESCE(r.s, 1.0), 6) AS survival
    FROM r JOIN risk USING (horizon_hours)
    ORDER BY horizon_hours"""


@register("ev_survival_km_error_budget", _KM_SQL)
def ev_survival_km_error_budget(spark, sf_dir):
    """Kaplan-Meier survival of error-budget exhaustion at fixed
    horizons: (horizon_hours, n_at_risk, cum_events, survival). Time
    runs from each user's first event to their {budget}-th error
    (failure) or last observed event (right-censored); S(horizon) is
    the KM product over event times <= the horizon, with censored users
    leaving the risk set at their censoring time — the estimator is
    unbiased under independent censoring where both naive alternatives
    (drop censored / treat as failure) are not.

    Exactness: durations are integer seconds (epoch-floor differences,
    identical on both engines); every d_j, n_j is an integer, so each
    factor's 1 - d_j/n_j is one exact division; the product runs as
    EXP(SUM(LN(...))) on BOTH engines in ascending-time frame order —
    the only cross-engine surface is libm ln/exp ulp noise (~1e-16
    relative, the KN-LM family's accepted contract) under the 6-dp
    display round.

    Scale shape: one per-user aggregate (t0/le, map-side combined), one
    user-partitioned rank window for the budget-exhaustion timestamp,
    then everything runs on the USER-histogram spine (distinct
    durations — |users| at worst). The spine's cumulative windows are
    unpartitioned single-task folds over histogram rows, the same
    LARGE-DOMAIN ESCAPE HATCH documented at op_ks_drift_by_source (two-
    pass distributed prefix sum, or equi-depth binned KM) once distinct
    durations outgrow one task. Horizon picks are |horizons| x spine
    joins — model-sized. Round 13: the duration frame comes from the
    family-shared memoized _survival_user_frame (same expressions,
    identical values)."""
    return _km_readout(
        spark,
        _survival_user_frame(spark, sf_dir).select("user_id", "d", "ev"),
    )


def _error_budget_durations(e: DataFrame) -> DataFrame:
    """(user_id, d, ev) per user on the error-budget clock: d = integer
    seconds from first event to the {budget}-th error (ev=1) or the last
    observed event (ev=0, right-censored). Factored out of
    ev_survival_km_error_budget so the streaming survival twin's test
    can assert its per-user state rows reproduce EXACTLY this frame."""
    from pyspark.sql import Window

    t0 = e.groupBy("user_id").agg(
        F.min("ts").alias("t0"), F.max("ts").alias("le")
    )
    we = Window.partitionBy("user_id").orderBy("ts", "event_id")
    te = (
        e.where(F.col("event_type") == "error")
        .withColumn("rn", F.row_number().over(we))
        .where(F.col("rn") == _KM_BUDGET)
        .select("user_id", F.col("ts").alias("te"))
    )
    return t0.join(te, "user_id", "left").select(
        "user_id",
        (
            F.unix_timestamp(F.coalesce("te", "le"))
            - F.unix_timestamp("t0")
        ).alias("d"),
        F.when(F.col("te").isNotNull(), 1).otherwise(0).alias("ev"),
    )


def _km_readout(spark: SparkSession, dur: DataFrame) -> DataFrame:
    """KM product-limit fold + horizon picks over a (user_id, d, ev)
    duration frame — the tail of ev_survival_km_error_budget, shared
    with the streaming twin's readout test.

    The duration histogram is localCheckpoint'd (round 13): it is
    histogram-sized (<= |users| rows) but its lineage holds the corpus
    scan + per-user windows, and three downstream consumers (nu, the
    KM spine, the at-risk leg) would each re-run that upstream — at
    100 TB that is 3 corpus scans for one. nu is derived FROM the
    histogram (sum of bucket counts — identical integer), so the
    corpus is touched exactly once."""
    from pyspark.sql import Window

    hist = dur.groupBy(F.col("d").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c_all"),
        F.sum("ev").cast("bigint").alias("c_ev"),
    ).localCheckpoint()
    nu = hist.agg(F.sum("c_all").cast("bigint").alias("nu"))
    wv = Window.orderBy("v")
    spine = hist.withColumn(
        "cb",
        F.coalesce(
            F.sum("c_all").over(
                wv.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).withColumn(
        "cum_ev",
        F.sum("c_ev").over(wv.rowsBetween(Window.unboundedPreceding, 0)),
    )
    km = (
        spine.join(F.broadcast(nu))
        .withColumn(
            "logf",
            F.when(
                F.col("c_ev") > 0,
                F.log(
                    F.lit(1.0)
                    - F.col("c_ev")
                    * F.lit(1.0)
                    / (F.col("nu") - F.col("cb"))
                ),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "s",
            F.exp(
                F.sum("logf").over(
                    wv.rowsBetween(Window.unboundedPreceding, 0)
                )
            ),
        )
    )
    # JVM literal relation — createDataFrame's python-RDD scan cost
    # whole seconds per query under AQE (see lit_rows_df)
    hz = lit_rows_df(
        spark, [("horizon_hours", "int")], [(h,) for h in _KM_HORIZONS_H]
    )
    wpick = Window.partitionBy("horizon_hours").orderBy(
        F.desc_nulls_last("v")
    )
    pick = (
        F.broadcast(hz)
        .join(km, F.col("v") <= F.col("horizon_hours") * 3600, "left")
        .withColumn("rk", F.row_number().over(wpick))
        .where(F.col("rk") == 1)
        .select(
            "horizon_hours",
            F.coalesce("cum_ev", F.lit(0)).alias("cum_events"),
            F.coalesce("s", F.lit(1.0)).alias("s"),
        )
    )
    risk = (
        F.broadcast(hz)
        .join(hist, F.col("v") < F.col("horizon_hours") * 3600, "left")
        .join(F.broadcast(nu))
        .groupBy("horizon_hours", "nu")
        .agg(F.coalesce(F.sum("c_all"), F.lit(0)).alias("seen"))
        .select(
            "horizon_hours",
            (F.col("nu") - F.col("seen")).cast("bigint").alias("n_at_risk"),
        )
    )
    from gravity_books_datalakehouse_spark.operators.sort import bounded_sort

    return (
        pick.join(risk, "horizon_hours")
        .select(
            F.col("horizon_hours").cast("int"),
            "n_at_risk",
            F.col("cum_events").cast("bigint"),
            F.round("s", 6).alias("survival"),
        )
        .transform(bounded_sort, "horizon_hours")
    )


# --------------------------------------------------------------------------
# Log-rank (Mantel-Haenszel) test between two survival cohorts on the
# SAME error-budget clock as the KM curve: cohort 1 = users whose very
# FIRST event is an error (a bad first experience), cohort 0 = everyone
# else. At each pooled event time the observed cohort-1 exhaustions are
# compared with the hypergeometric expectation d_j * n_1j / n_j; the
# chi-square (O-E)^2 / V with V = sum d_j (n1j/nj)(1-n1j/nj)(nj-dj)/
# (nj-1) is THE standard censoring-aware two-sample survival test —
# a naive mean-duration t-test is biased by the same censoring the KM
# estimator exists to handle.

_LOGRANK_CRIT = 3.841459  # chi-square df=1, alpha=0.05

_LOGRANK_SQL = f"""WITH t0 AS (
      SELECT user_id, MIN(ts::TIMESTAMP) AS t0, MAX(ts::TIMESTAMP) AS le
      FROM events GROUP BY 1),
    fe AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    coh AS (
      SELECT user_id,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS g
      FROM fe WHERE rn = 1),
    er AS (
      SELECT user_id, ts::TIMESTAMP AS ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE event_type = 'error'),
    te AS (SELECT user_id, ts AS te FROM er WHERE rn = {_KM_BUDGET}),
    dur AS (
      SELECT t.user_id, c.g,
             date_diff('second', t.t0, COALESCE(x.te, t.le)) AS d,
             CASE WHEN x.te IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM t0 t JOIN coh c USING (user_id) LEFT JOIN te x USING (user_id)),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nu,
                 CAST(SUM(g) AS BIGINT) AS n1 FROM dur),
    hist AS (
      SELECT d AS v, CAST(COUNT(*) AS BIGINT) AS c_all,
             CAST(SUM(ev) AS BIGINT) AS c_ev,
             CAST(SUM(g) AS BIGINT) AS c1_all,
             CAST(SUM(g * ev) AS BIGINT) AS c1_ev
      FROM dur GROUP BY 1),
    spine AS (
      SELECT v, c_ev, c1_ev,
             COALESCE(SUM(c_all) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
             COALESCE(SUM(c1_all) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb1
      FROM hist),
    terms AS (
      SELECT ((SELECT nu FROM n) - cb) AS nj,
             ((SELECT n1 FROM n) - cb1) AS n1j,
             c_ev AS dj, c1_ev AS d1j
      FROM spine WHERE c_ev > 0),
    agg AS (
      SELECT CAST(SUM(d1j) AS BIGINT) AS o1,
             SUM(dj * (n1j * 1.0 / nj)) AS e1,
             SUM(CASE WHEN nj > 1
                 THEN dj * (n1j * 1.0 / nj) * (1.0 - n1j * 1.0 / nj)
                      * ((nj - dj) * 1.0 / (nj - 1))
                 ELSE 0.0 END) AS var1
      FROM terms)
    SELECT (SELECT n1 FROM n) AS n_cohort,
           (SELECT nu - n1 FROM n) AS n_rest,
           o1 AS observed,
           ROUND(e1, 6) AS expected,
           ROUND(var1, 6) AS variance,
           ROUND((o1 - e1) * (o1 - e1) / var1, 6) AS chi2,
           (o1 - e1) * (o1 - e1) > {_LOGRANK_CRIT!r} * var1 AS reject_05
    FROM agg"""


@register("ev_survival_logrank_error_first", _LOGRANK_SQL)
def ev_survival_logrank_error_first(spark, sf_dir):
    """One-row log-rank test of error-budget survival between users
    whose FIRST event is an error and everyone else: (n_cohort, n_rest,
    observed, expected, variance, chi2, reject_05). observed/expected
    are cohort-1 exhaustions vs their hypergeometric expectation under
    H0 (identical hazards); chi2 ~ X^2(1) under H0 and reject_05
    compares against 3.841459. Read beside ev_survival_km_error_budget:
    the KM curve shows the shape, this says whether the cohorts differ.

    Exactness: every n_j, n_1j, d_j, d_1j is an integer from the shared
    duration histogram; the per-time expectation and variance terms are
    the IDENTICAL float composition on both engines (spelled in the
    same order); only the final sums accumulate in engine order
    (1e-12 on this corpus, absorbed by the 6-dp display round). The
    reject flag compares full-precision sums — a data-dependent margin
    in the documented measured-margin family (verified at 3 SFs).

    Scale shape: the KM op's plan with two extra integer columns — one
    per-user aggregate + first-event/budget rank windows (all on the
    same (user) exchange), then the USER-histogram spine; the test
    statistic is a one-row aggregate over event-time rows. Same
    LARGE-DOMAIN ESCAPE HATCH as op_ks_drift_by_source. Round 13: the
    (g, d, ev) frame comes from the family-shared memoized
    _survival_user_frame (same expressions, identical values)."""
    from pyspark.sql import Window

    dur = _survival_user_frame(spark, sf_dir).select("g", "d", "ev")
    # histogram checkpointed, (nu, n1) derived from it — one corpus
    # pass (same rationale as _km_readout, round 13)
    hist = dur.groupBy(F.col("d").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c_all"),
        F.sum("ev").cast("bigint").alias("c_ev"),
        F.sum("g").cast("bigint").alias("c1_all"),
        F.sum(F.col("g") * F.col("ev")).cast("bigint").alias("c1_ev"),
    ).localCheckpoint()
    n = hist.agg(
        F.sum("c_all").cast("bigint").alias("nu"),
        F.sum("c1_all").cast("bigint").alias("n1"),
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    spine = (
        hist.withColumn("cb", F.coalesce(F.sum("c_all").over(wv), F.lit(0)))
        .withColumn("cb1", F.coalesce(F.sum("c1_all").over(wv), F.lit(0)))
        .where(F.col("c_ev") > 0)
    )
    terms = spine.join(F.broadcast(n)).select(
        (F.col("nu") - F.col("cb")).alias("nj"),
        (F.col("n1") - F.col("cb1")).alias("n1j"),
        F.col("c_ev").alias("dj"),
        F.col("c1_ev").alias("d1j"),
    )
    share = F.col("n1j") * F.lit(1.0) / F.col("nj")
    vterm = F.when(
        F.col("nj") > 1,
        F.col("dj")
        * share
        * (F.lit(1.0) - share)
        * ((F.col("nj") - F.col("dj")) * F.lit(1.0) / (F.col("nj") - 1)),
    ).otherwise(F.lit(0.0))
    agg = terms.agg(
        F.sum("d1j").cast("bigint").alias("o1"),
        F.sum(F.col("dj") * share).alias("e1"),
        F.sum(vterm).alias("var1"),
    )
    return agg.join(F.broadcast(n)).select(
        F.col("n1").alias("n_cohort"),
        (F.col("nu") - F.col("n1")).cast("bigint").alias("n_rest"),
        F.col("o1").alias("observed"),
        F.round("e1", 6).alias("expected"),
        F.round("var1", 6).alias("variance"),
        F.round(
            (F.col("o1") - F.col("e1"))
            * (F.col("o1") - F.col("e1"))
            / F.col("var1"),
            6,
        ).alias("chi2"),
        (
            (F.col("o1") - F.col("e1")) * (F.col("o1") - F.col("e1"))
            > F.lit(_LOGRANK_CRIT) * F.col("var1")
        ).alias("reject_05"),
    )


# --------------------------------------------------------------------------
# Pike hazard-ratio estimate between the same two survival cohorts the
# log-rank test compares (Pike 1972 — public literature): HR ~=
# (O1/E1)/(O0/E0) from the log-rank O/E sums, with the standard
# ln-scale CI exp(ln HR +- z*sqrt(1/E1 + 1/E0)). The log-rank chi2
# says WHETHER the cohorts differ; this says BY HOW MUCH and in which
# direction, with a band — the effect-size row a survival comparison
# publishes next to its p-value.

_Z95 = 1.959964  # two-sided normal 95% critical value

_HR_SQL = f"""WITH t0 AS (
      SELECT user_id, MIN(ts::TIMESTAMP) AS t0, MAX(ts::TIMESTAMP) AS le
      FROM events GROUP BY 1),
    fe AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    coh AS (
      SELECT user_id,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS g
      FROM fe WHERE rn = 1),
    er AS (
      SELECT user_id, ts::TIMESTAMP AS ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE event_type = 'error'),
    te AS (SELECT user_id, ts AS te FROM er WHERE rn = {_KM_BUDGET}),
    dur AS (
      SELECT t.user_id, c.g,
             date_diff('second', t.t0, COALESCE(x.te, t.le)) AS d,
             CASE WHEN x.te IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM t0 t JOIN coh c USING (user_id) LEFT JOIN te x USING (user_id)),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nu,
                 CAST(SUM(g) AS BIGINT) AS n1 FROM dur),
    hist AS (
      SELECT d AS v, CAST(COUNT(*) AS BIGINT) AS c_all,
             CAST(SUM(ev) AS BIGINT) AS c_ev,
             CAST(SUM(g) AS BIGINT) AS c1_all,
             CAST(SUM(g * ev) AS BIGINT) AS c1_ev
      FROM dur GROUP BY 1),
    spine AS (
      SELECT v, c_ev, c1_ev,
             COALESCE(SUM(c_all) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
             COALESCE(SUM(c1_all) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb1
      FROM hist),
    terms AS (
      SELECT ((SELECT nu FROM n) - cb) AS nj,
             ((SELECT n1 FROM n) - cb1) AS n1j,
             c_ev AS dj, c1_ev AS d1j
      FROM spine WHERE c_ev > 0),
    agg AS (
      SELECT CAST(SUM(d1j) AS BIGINT) AS o1,
             CAST(SUM(dj) AS BIGINT) AS ot,
             SUM(dj * (n1j * 1.0 / nj)) AS e1
      FROM terms),
    hr AS (
      SELECT o1, ot - o1 AS o0, e1,
             (SELECT CAST(SUM(c_ev) AS DOUBLE) FROM hist) - e1 AS e0
      FROM agg)
    SELECT (SELECT n1 FROM n) AS n_cohort,
           (SELECT nu - n1 FROM n) AS n_rest,
           o1 AS observed_1,
           CAST(o0 AS BIGINT) AS observed_0,
           ROUND(e1, 6) AS expected_1,
           ROUND(e0, 6) AS expected_0,
           ROUND((o1 * 1.0 / e1) / (o0 * 1.0 / e0), 6) AS hazard_ratio,
           ROUND(EXP(LN((o1 * 1.0 / e1) / (o0 * 1.0 / e0))
                     - {_Z95!r} * SQRT(1.0 / e1 + 1.0 / e0)), 6)
             AS hr_lo95,
           ROUND(EXP(LN((o1 * 1.0 / e1) / (o0 * 1.0 / e0))
                     + {_Z95!r} * SQRT(1.0 / e1 + 1.0 / e0)), 6)
             AS hr_hi95
    FROM hr"""


@register("ev_survival_hazard_ratio", _HR_SQL)
def ev_survival_hazard_ratio(spark, sf_dir):
    """One-row Pike hazard-ratio estimate between error-first users and
    the rest on the error-budget clock: (n_cohort, n_rest, observed_1,
    observed_0, expected_1, expected_0, hazard_ratio, hr_lo95,
    hr_hi95). HR = (O1/E1)/(O0/E0) from the log-rank O/E sums (E0 =
    total exhaustions' expectation remainder — E1+E0 equals total
    observed events by construction), CI = exp(ln HR +- z95 *
    sqrt(1/E1 + 1/E0)). Read beside ev_survival_logrank_error_first:
    the chi2 row answers "different?", this answers "how much worse".

    Exactness: O's are exact integers from the shared duration
    histogram; E1 accumulates the same per-time float terms as the
    log-rank oracle (identical composition, engine-ordered sum under
    the 6-dp round); HR/CI are a fixed expression tree over those two
    scalars, spelled identically on both engines.

    Scale shape: identical to the log-rank op — the KM plan plus two
    integer columns, one-row aggregate over event-time histogram rows.
    Round 13: the (g, d, ev) frame comes from the family-shared
    memoized _survival_user_frame (same expressions, identical
    values)."""
    from pyspark.sql import Window

    dur = _survival_user_frame(spark, sf_dir).select("g", "d", "ev")
    # histogram checkpointed, (nu, n1) derived from it — one corpus
    # pass (same rationale as _km_readout, round 13)
    hist = dur.groupBy(F.col("d").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c_all"),
        F.sum("ev").cast("bigint").alias("c_ev"),
        F.sum("g").cast("bigint").alias("c1_all"),
        F.sum(F.col("g") * F.col("ev")).cast("bigint").alias("c1_ev"),
    ).localCheckpoint()
    n = hist.agg(
        F.sum("c_all").cast("bigint").alias("nu"),
        F.sum("c1_all").cast("bigint").alias("n1"),
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    spine = (
        hist.withColumn("cb", F.coalesce(F.sum("c_all").over(wv), F.lit(0)))
        .withColumn("cb1", F.coalesce(F.sum("c1_all").over(wv), F.lit(0)))
        .where(F.col("c_ev") > 0)
    )
    terms = spine.join(F.broadcast(n)).select(
        (F.col("nu") - F.col("cb")).alias("nj"),
        (F.col("n1") - F.col("cb1")).alias("n1j"),
        F.col("c_ev").alias("dj"),
        F.col("c1_ev").alias("d1j"),
    )
    share = F.col("n1j") * F.lit(1.0) / F.col("nj")
    agg = terms.agg(
        F.sum("d1j").cast("bigint").alias("o1"),
        F.sum("dj").cast("bigint").alias("ot"),
        F.sum(F.col("dj") * share).alias("e1"),
    )
    etot = hist.agg(F.sum("c_ev").cast("double").alias("et"))
    hr_expr = (F.col("o1") * F.lit(1.0) / F.col("e1")) / (
        F.col("o0") * F.lit(1.0) / F.col("e0")
    )
    half = F.lit(_Z95) * F.sqrt(
        F.lit(1.0) / F.col("e1") + F.lit(1.0) / F.col("e0")
    )
    return (
        agg.join(F.broadcast(etot))
        .join(F.broadcast(n))
        .withColumn("o0", F.col("ot") - F.col("o1"))
        .withColumn("e0", F.col("et") - F.col("e1"))
        .select(
            F.col("n1").alias("n_cohort"),
            (F.col("nu") - F.col("n1")).cast("bigint").alias("n_rest"),
            F.col("o1").alias("observed_1"),
            F.col("o0").cast("bigint").alias("observed_0"),
            F.round("e1", 6).alias("expected_1"),
            F.round("e0", 6).alias("expected_0"),
            F.round(hr_expr, 6).alias("hazard_ratio"),
            F.round(F.exp(F.log(hr_expr) - half), 6).alias("hr_lo95"),
            F.round(F.exp(F.log(hr_expr) + half), 6).alias("hr_hi95"),
        )
    )


# --------------------------------------------------------------------------
# STRATIFIED log-rank (Mantel 1966's combined test over strata —
# public literature): the error-first vs rest comparison, conditioned
# on a user-activity tercile. High-activity users accumulate errors
# faster AND are likelier to have an error first, so the unstratified
# test partly measures activity, not the first-experience effect; the
# stratified statistic sums O-E and V WITHIN each tercile (risk sets
# never cross strata) and pools: chi2 = (sum(O-E))^2 / sum(V). Tercile
# assignment is NTILE(3) over (event_count, user_id) — a total order,
# so both engines assign identically.

_SLR_SQL = f"""WITH uc AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1),
    strat AS (
      SELECT user_id,
             CAST(NTILE(3) OVER (ORDER BY cnt, user_id) AS INT) AS st
      FROM uc),
    t0 AS (
      SELECT user_id, MIN(ts::TIMESTAMP) AS t0, MAX(ts::TIMESTAMP) AS le
      FROM events GROUP BY 1),
    fe AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    coh AS (
      SELECT user_id,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS g
      FROM fe WHERE rn = 1),
    er AS (
      SELECT user_id, ts::TIMESTAMP AS ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE event_type = 'error'),
    te AS (SELECT user_id, ts AS te FROM er WHERE rn = {_KM_BUDGET}),
    dur AS (
      SELECT t.user_id, s.st, c.g,
             date_diff('second', t.t0, COALESCE(x.te, t.le)) AS d,
             CASE WHEN x.te IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM t0 t
      JOIN strat s USING (user_id)
      JOIN coh c USING (user_id)
      LEFT JOIN te x USING (user_id)),
    n AS (
      SELECT st, CAST(COUNT(*) AS BIGINT) AS nu,
             CAST(SUM(g) AS BIGINT) AS n1
      FROM dur GROUP BY st),
    hist AS (
      SELECT st, d AS v, CAST(COUNT(*) AS BIGINT) AS c_all,
             CAST(SUM(ev) AS BIGINT) AS c_ev,
             CAST(SUM(g) AS BIGINT) AS c1_all,
             CAST(SUM(g * ev) AS BIGINT) AS c1_ev
      FROM dur GROUP BY st, d),
    spine AS (
      SELECT st, v, c_ev, c1_ev,
             COALESCE(SUM(c_all) OVER (PARTITION BY st ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
             COALESCE(SUM(c1_all) OVER (PARTITION BY st ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb1
      FROM hist),
    terms AS (
      SELECT s.st, (n.nu - s.cb) AS nj, (n.n1 - s.cb1) AS n1j,
             s.c_ev AS dj, s.c1_ev AS d1j
      FROM spine s JOIN n ON n.st = s.st
      WHERE s.c_ev > 0),
    per AS (
      SELECT st,
             CAST(SUM(d1j) AS BIGINT) AS o1,
             SUM(dj * (n1j * 1.0 / nj)) AS e1,
             SUM(CASE WHEN nj > 1
                 THEN dj * (n1j * 1.0 / nj) * (1.0 - n1j * 1.0 / nj)
                      * ((nj - dj) * 1.0 / (nj - 1))
                 ELSE 0.0 END) AS var1
      FROM terms GROUP BY st),
    pooled AS (
      SELECT CAST(SUM(o1) AS BIGINT) AS po, SUM(e1) AS pe,
             SUM(var1) AS pv
      FROM per)
    SELECT p.st AS stratum,
           n.nu AS n_users,
           n.n1 AS n_cohort,
           p.o1 AS observed,
           ROUND(p.e1, 6) AS expected,
           ROUND(p.var1, 6) AS variance,
           ROUND((SELECT (po - pe) * (po - pe) / pv FROM pooled), 6)
             AS pooled_chi2,
           (SELECT (po - pe) * (po - pe) > {_LOGRANK_CRIT!r} * pv
            FROM pooled) AS pooled_reject_05
    FROM per p JOIN n ON n.st = p.st
    ORDER BY stratum"""


@register("ev_survival_logrank_stratified", _SLR_SQL)
def ev_survival_logrank_stratified(spark, sf_dir):
    """Stratified log-rank of error-budget survival between error-first
    users and the rest, conditioned on the user-activity tercile: one
    row per stratum (stratum, n_users, n_cohort, observed, expected,
    variance) plus the pooled Mantel statistic repeated on every row
    (pooled_chi2, pooled_reject_05). Risk sets never cross strata, so
    a cohort effect that is really an activity effect cancels within
    each tercile — if the unstratified chi2 is large but the pooled
    stratified one collapses, activity was the confounder.

    Exactness: the logrank family's contract per stratum (integer risk
    sets, identical per-time float composition, engine-ordered sums
    under the 6-dp round); NTILE(3) over the total order (event_count,
    user_id) assigns terciles identically on both engines.

    Scale shape: the log-rank plan with one extra global NTILE window
    over |users| rows (single task over the user-count aggregate — the
    documented LARGE-DOMAIN ESCAPE HATCH applies: at production scale
    swap for percentile-cut terciles computed map-side); histogram
    spine windows are stratum-partitioned; output is 3 rows. Round 13:
    the per-user frame comes from the family-shared memoized
    _survival_user_frame (cnt/g/d/ev are the same expressions; NTILE(3)
    runs over the identical (cnt, user_id) total order — identical
    tercile assignment and therefore identical values)."""
    from pyspark.sql import Window

    dur = _survival_user_frame(spark, sf_dir).select(
        F.ntile(3)
        .over(Window.orderBy("cnt", "user_id"))
        .cast("int")
        .alias("st"),
        "g",
        "d",
        "ev",
    )
    # histogram checkpointed, per-stratum totals derived from it — one
    # corpus pass (the survival family's round-13 pattern)
    hist = dur.groupBy("st", F.col("d").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c_all"),
        F.sum("ev").cast("bigint").alias("c_ev"),
        F.sum("g").cast("bigint").alias("c1_all"),
        F.sum(F.col("g") * F.col("ev")).cast("bigint").alias("c1_ev"),
    ).localCheckpoint()
    n = hist.groupBy("st").agg(
        F.sum("c_all").cast("bigint").alias("nu"),
        F.sum("c1_all").cast("bigint").alias("n1"),
    )
    ws = Window.partitionBy("st").orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    spine = (
        hist.withColumn("cb", F.coalesce(F.sum("c_all").over(ws), F.lit(0)))
        .withColumn("cb1", F.coalesce(F.sum("c1_all").over(ws), F.lit(0)))
        .where(F.col("c_ev") > 0)
    )
    terms = spine.join(F.broadcast(n), "st").select(
        "st",
        (F.col("nu") - F.col("cb")).alias("nj"),
        (F.col("n1") - F.col("cb1")).alias("n1j"),
        F.col("c_ev").alias("dj"),
        F.col("c1_ev").alias("d1j"),
    )
    share = F.col("n1j") * F.lit(1.0) / F.col("nj")
    vterm = F.when(
        F.col("nj") > 1,
        F.col("dj")
        * share
        * (F.lit(1.0) - share)
        * ((F.col("nj") - F.col("dj")) * F.lit(1.0) / (F.col("nj") - 1)),
    ).otherwise(F.lit(0.0))
    per = terms.groupBy("st").agg(
        F.sum("d1j").cast("bigint").alias("o1"),
        F.sum(F.col("dj") * share).alias("e1"),
        F.sum(vterm).alias("var1"),
    )
    pooled = per.agg(
        F.sum("o1").cast("bigint").alias("po"),
        F.sum("e1").alias("pe"),
        F.sum("var1").alias("pv"),
    )
    from gravity_books_datalakehouse_spark.operators.sort import bounded_sort

    return (
        per.join(F.broadcast(n), "st")
        .crossJoin(F.broadcast(pooled))
        .select(
            F.col("st").alias("stratum"),
            F.col("nu").alias("n_users"),
            F.col("n1").alias("n_cohort"),
            F.col("o1").alias("observed"),
            F.round("e1", 6).alias("expected"),
            F.round("var1", 6).alias("variance"),
            F.round(
                (F.col("po") - F.col("pe"))
                * (F.col("po") - F.col("pe"))
                / F.col("pv"),
                6,
            ).alias("pooled_chi2"),
            (
                (F.col("po") - F.col("pe")) * (F.col("po") - F.col("pe"))
                > F.lit(_LOGRANK_CRIT) * F.col("pv")
            ).alias("pooled_reject_05"),
        )
        .transform(bounded_sort, "stratum")
    )


# --------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard + Greenwood variance bands on the SAME
# error-budget clock as the KM curve (Nelson 1972 / Aalen 1978;
# Greenwood 1926 — public literature). H(t) = sum d_j/n_j is the
# hazard-scale companion to KM's product-limit S(t): exp(-H) ~= S with
# equality only in the continuous limit, and the GAP between them is a
# direct readout of tie mass. Greenwood's formula Var(S) = S^2 * sum
# d_j/(n_j(n_j-d_j)) gives the variance KM itself cannot: publishing a
# survival curve without its confidence band invites over-reading, and
# the band width at each horizon is the "how sure are we" number an
# SLO review actually needs.

_NA_SQL = f"""WITH t0 AS (
      SELECT user_id, MIN(ts::TIMESTAMP) AS t0, MAX(ts::TIMESTAMP) AS le
      FROM events GROUP BY 1),
    er AS (
      SELECT user_id, ts::TIMESTAMP AS ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE event_type = 'error'),
    te AS (SELECT user_id, ts AS te FROM er WHERE rn = {_KM_BUDGET}),
    dur AS (
      SELECT t.user_id,
             date_diff('second', t.t0, COALESCE(x.te, t.le)) AS d,
             CASE WHEN x.te IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM t0 t LEFT JOIN te x USING (user_id)),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nu FROM dur),
    hist AS (
      SELECT d AS v, CAST(COUNT(*) AS BIGINT) AS c_all,
             CAST(SUM(ev) AS BIGINT) AS c_ev
      FROM dur GROUP BY 1),
    spine AS (
      SELECT v, c_ev,
             COALESCE(SUM(c_all) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM hist),
    km AS (
      SELECT v,
             SUM(CASE WHEN c_ev > 0
                      THEN c_ev * 1.0 / ((SELECT nu FROM n) - cb)
                      ELSE 0.0 END)
               OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS hz,
             EXP(SUM(CASE WHEN c_ev > 0
                          THEN LN(1.0 - c_ev * 1.0
                                  / ((SELECT nu FROM n) - cb))
                          ELSE 0.0 END)
                 OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)) AS s,
             SUM(CASE WHEN c_ev > 0
                       AND ((SELECT nu FROM n) - cb) > c_ev
                      THEN c_ev * 1.0
                           / ((((SELECT nu FROM n) - cb) * 1.0)
                              * (((SELECT nu FROM n) - cb) - c_ev))
                      ELSE 0.0 END)
               OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS gw
      FROM spine),
    h(horizon_hours) AS (VALUES {", ".join(f"({x})" for x in _KM_HORIZONS_H)}),
    pick AS (
      SELECT h.horizon_hours, k.hz, k.s, k.gw,
             row_number() OVER (PARTITION BY h.horizon_hours
                                ORDER BY k.v DESC) AS rk
      FROM h LEFT JOIN km k ON k.v <= h.horizon_hours * 3600),
    r AS (
      SELECT horizon_hours, COALESCE(hz, 0.0) AS hz,
             COALESCE(s, 1.0) AS s, COALESCE(gw, 0.0) AS gw
      FROM pick WHERE rk = 1),
    se AS (SELECT horizon_hours, hz, s, s * SQRT(gw) AS se FROM r)
    SELECT CAST(horizon_hours AS INT) AS horizon_hours,
           ROUND(hz, 6) AS cum_hazard,
           ROUND(EXP(-hz), 6) AS s_nelson_aalen,
           ROUND(s, 6) AS survival,
           ROUND(se, 6) AS greenwood_se,
           ROUND(GREATEST(0.0, s - {_Z95!r} * se), 6) AS ci_lo95,
           ROUND(LEAST(1.0, s + {_Z95!r} * se), 6) AS ci_hi95
    FROM se
    ORDER BY horizon_hours"""


@register("ev_survival_na_bands", _NA_SQL)
def ev_survival_na_bands(spark, sf_dir):
    """Nelson-Aalen cumulative hazard and Greenwood 95% confidence
    bands around the KM curve at the fixed horizons: (horizon_hours,
    cum_hazard, s_nelson_aalen, survival, greenwood_se, ci_lo95,
    ci_hi95). H = sum d_j/n_j over event times <= the horizon,
    s_nelson_aalen = exp(-H) (the Fleming-Harrington estimate), and the
    band is survival +- z95 * S*sqrt(sum d_j/(n_j(n_j-d_j))), clamped
    to [0,1] (plain Greenwood; the term with n_j = d_j is excluded, as
    S has already hit 0 there and the variance is degenerate).

    Exactness: identical contract to ev_survival_km_error_budget — all
    d_j, n_j integer, every hazard/variance term one exact division,
    the three cumulative folds run in ascending-time frame order on
    both engines, sqrt is correctly-rounded IEEE, and exp/ln ulp noise
    sits under the 6-dp display round. se is computed once as
    s * SQRT(gw) and reused by both band edges so the float assembly
    order is identical on both engines.

    Scale shape: same as the KM op — per-user aggregate, one user-
    partitioned rank window, then histogram-spine folds (single-task
    over distinct durations, LARGE-DOMAIN ESCAPE HATCH documented at
    op_ks_drift_by_source), model-sized horizon picks. Round 13: the
    duration frame comes from the family-shared memoized
    _survival_user_frame (same expressions, identical values)."""
    from pyspark.sql import Window

    dur = _survival_user_frame(spark, sf_dir).select("user_id", "d", "ev")
    # histogram checkpointed, nu derived from it — one corpus pass
    # (same rationale as _km_readout, round 13)
    hist = dur.groupBy(F.col("d").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c_all"),
        F.sum("ev").cast("bigint").alias("c_ev"),
    ).localCheckpoint()
    nu = hist.agg(F.sum("c_all").cast("bigint").alias("nu"))
    wv = Window.orderBy("v")
    spine = hist.withColumn(
        "cb",
        F.coalesce(
            F.sum("c_all").over(
                wv.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("v", "c_ev", "cb")
    nj = F.col("nu") - F.col("cb")
    wcum = wv.rowsBetween(Window.unboundedPreceding, 0)
    km = (
        spine.join(F.broadcast(nu))
        .withColumn(
            "hzt",
            F.when(
                F.col("c_ev") > 0, F.col("c_ev") * F.lit(1.0) / nj
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "logf",
            F.when(
                F.col("c_ev") > 0,
                F.log(F.lit(1.0) - F.col("c_ev") * F.lit(1.0) / nj),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "gwt",
            F.when(
                (F.col("c_ev") > 0) & (nj > F.col("c_ev")),
                F.col("c_ev")
                * F.lit(1.0)
                / ((nj * F.lit(1.0)) * (nj - F.col("c_ev"))),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn("hz", F.sum("hzt").over(wcum))
        .withColumn("s", F.exp(F.sum("logf").over(wcum)))
        .withColumn("gw", F.sum("gwt").over(wcum))
    )
    # JVM literal relation — createDataFrame's python-RDD scan cost
    # whole seconds per query under AQE (see lit_rows_df)
    hz = lit_rows_df(
        spark, [("horizon_hours", "int")], [(h,) for h in _KM_HORIZONS_H]
    )
    wpick = Window.partitionBy("horizon_hours").orderBy(
        F.desc_nulls_last("v")
    )
    picked = (
        F.broadcast(hz)
        .join(km, F.col("v") <= F.col("horizon_hours") * 3600, "left")
        .withColumn("rk", F.row_number().over(wpick))
        .where(F.col("rk") == 1)
        .select(
            "horizon_hours",
            F.coalesce("hz", F.lit(0.0)).alias("hzv"),
            F.coalesce("s", F.lit(1.0)).alias("sv"),
            F.coalesce("gw", F.lit(0.0)).alias("gwv"),
        )
        .withColumn("se", F.col("sv") * F.sqrt("gwv"))
    )
    from gravity_books_datalakehouse_spark.operators.sort import bounded_sort

    return picked.select(
        F.col("horizon_hours").cast("int"),
        F.round("hzv", 6).alias("cum_hazard"),
        F.round(F.exp(-F.col("hzv")), 6).alias("s_nelson_aalen"),
        F.round("sv", 6).alias("survival"),
        F.round("se", 6).alias("greenwood_se"),
        F.round(
            F.greatest(
                F.lit(0.0), F.col("sv") - F.lit(_Z95) * F.col("se")
            ),
            6,
        ).alias("ci_lo95"),
        F.round(
            F.least(F.lit(1.0), F.col("sv") + F.lit(_Z95) * F.col("se")),
            6,
        ).alias("ci_hi95"),
    ).transform(bounded_sort, "horizon_hours")


# --------------------------------------------------------------------------
# Restricted mean survival time (Royston & Parmar 2013's preferred
# summary; the estimator itself is classical — Irwin 1949): RMST(tau) =
# integral_0^tau S(t) dt, the area under the KM step curve up to the
# horizon. Unlike the median or a point S(tau), RMST is defined even
# when the curve never crosses 0.5 and uses the WHOLE curve shape —
# "expected hours of healthy error budget within the first tau hours"
# is the number an SLO costs out directly. The KM curve is a right-
# continuous step function, so the integral is an exact finite sum of
# S(v_i) * (segment width), plus the S=1 head segment before the first
# observed duration.

_RMST_SQL = f"""WITH t0 AS (
      SELECT user_id, MIN(ts::TIMESTAMP) AS t0, MAX(ts::TIMESTAMP) AS le
      FROM events GROUP BY 1),
    er AS (
      SELECT user_id, ts::TIMESTAMP AS ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE event_type = 'error'),
    te AS (SELECT user_id, ts AS te FROM er WHERE rn = {_KM_BUDGET}),
    dur AS (
      SELECT t.user_id,
             date_diff('second', t.t0, COALESCE(x.te, t.le)) AS d,
             CASE WHEN x.te IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM t0 t LEFT JOIN te x USING (user_id)),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nu FROM dur),
    hist AS (
      SELECT d AS v, CAST(COUNT(*) AS BIGINT) AS c_all,
             CAST(SUM(ev) AS BIGINT) AS c_ev
      FROM dur GROUP BY 1),
    spine AS (
      SELECT v, c_ev,
             COALESCE(SUM(c_all) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM hist),
    km AS (
      SELECT v,
             EXP(SUM(CASE WHEN c_ev > 0
                          THEN LN(1.0 - c_ev * 1.0
                                  / ((SELECT nu FROM n) - cb))
                          ELSE 0.0 END)
                 OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)) AS s,
             LEAD(v) OVER (ORDER BY v) AS nxt
      FROM spine),
    h(horizon_hours) AS (VALUES {", ".join(f"({x})" for x in _KM_HORIZONS_H)}),
    head AS (
      SELECT h.horizon_hours,
             LEAST((SELECT MIN(v) FROM km),
                   h.horizon_hours * 3600) * 1.0 AS head_area
      FROM h),
    segs AS (
      SELECT h.horizon_hours,
             SUM(k.s * (LEAST(COALESCE(k.nxt, h.horizon_hours * 3600),
                              h.horizon_hours * 3600) - k.v))
               AS seg_area
      FROM h JOIN km k ON k.v < h.horizon_hours * 3600
      GROUP BY 1),
    r AS (
      SELECT hd.horizon_hours,
             hd.head_area + COALESCE(sg.seg_area, 0.0) AS area
      FROM head hd LEFT JOIN segs sg USING (horizon_hours))
    SELECT CAST(horizon_hours AS INT) AS horizon_hours,
           ROUND(area / 3600.0, 6) AS rmst_hours,
           ROUND(area / (3600.0 * horizon_hours), 6) AS rmst_share
    FROM r
    ORDER BY horizon_hours"""


@register("ev_survival_rmst", _RMST_SQL)
def ev_survival_rmst(spark, sf_dir):
    """Restricted mean survival time of the error budget at each fixed
    horizon: (horizon_hours, rmst_hours, rmst_share). rmst_hours is the
    exact area under the KM step curve up to the horizon, in hours —
    the expected healthy-budget time a user accrues within the first
    tau hours; rmst_share = RMST/tau is the normalized [0,1] version
    comparable across horizons (1 means nobody exhausts within tau).

    Exactness: the step curve's ordinates are the KM products (same
    EXP(SUM(LN)) fold as the KM op, same ulp contract); segment widths
    are exact integers (clipped at the horizon with LEAST); each term
    is one double multiply and the per-horizon SUM's association noise
    sits under the 6-dp display round (the logrank family's accepted
    contract). The S=1 head segment before the first observed duration
    is added explicitly so short horizons are exact too.

    Scale shape: identical to the KM op through the histogram spine;
    the horizon clip is a |horizons| x spine broadcast join feeding a
    map-side-combined SUM — model-sized output. Round 13: the duration
    frame comes from the family-shared memoized _survival_user_frame
    (same expressions, identical values)."""
    from pyspark.sql import Window

    dur = _survival_user_frame(spark, sf_dir).select("user_id", "d", "ev")
    # histogram checkpointed, nu derived from it — one corpus pass
    # (same rationale as _km_readout, round 13)
    hist = dur.groupBy(F.col("d").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c_all"),
        F.sum("ev").cast("bigint").alias("c_ev"),
    ).localCheckpoint()
    nu = hist.agg(F.sum("c_all").cast("bigint").alias("nu"))
    wv = Window.orderBy("v")
    spine = hist.withColumn(
        "cb",
        F.coalesce(
            F.sum("c_all").over(
                wv.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("v", "c_ev", "cb")
    km = (
        spine.join(F.broadcast(nu))
        .withColumn(
            "logf",
            F.when(
                F.col("c_ev") > 0,
                F.log(
                    F.lit(1.0)
                    - F.col("c_ev")
                    * F.lit(1.0)
                    / (F.col("nu") - F.col("cb"))
                ),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "s",
            F.exp(
                F.sum("logf").over(
                    wv.rowsBetween(Window.unboundedPreceding, 0)
                )
            ),
        )
        .withColumn("nxt", F.lead("v").over(wv))
        .select("v", "s", "nxt")
    )
    # JVM literal relation — createDataFrame's python-RDD scan cost
    # whole seconds per query under AQE (see lit_rows_df)
    hz = lit_rows_df(
        spark, [("horizon_hours", "int")], [(h,) for h in _KM_HORIZONS_H]
    )
    vmin = km.agg(F.min("v").alias("vmin"))
    head = (
        F.broadcast(hz)
        .join(F.broadcast(vmin))
        .select(
            "horizon_hours",
            (
                F.least(F.col("vmin"), F.col("horizon_hours") * 3600)
                * F.lit(1.0)
            ).alias("head_area"),
        )
    )
    tau = F.col("horizon_hours") * 3600
    segs = (
        F.broadcast(hz)
        .join(km, F.col("v") < tau)
        .groupBy("horizon_hours")
        .agg(
            F.sum(
                F.col("s")
                * (F.least(F.coalesce("nxt", tau), tau) - F.col("v"))
            ).alias("seg_area")
        )
    )
    from gravity_books_datalakehouse_spark.operators.sort import bounded_sort

    return (
        # |horizons|-row build side: hint it so the final join is a
        # broadcast, not a sort-merge of two unknown-size frames
        head.join(F.broadcast(segs), "horizon_hours", "left")
        .select(
            F.col("horizon_hours").cast("int"),
            (
                F.col("head_area") + F.coalesce("seg_area", F.lit(0.0))
            ).alias("area"),
        )
        .select(
            "horizon_hours",
            F.round(F.col("area") / F.lit(3600.0), 6).alias("rmst_hours"),
            F.round(
                F.col("area") / (F.lit(3600.0) * F.col("horizon_hours")),
                6,
            ).alias("rmst_share"),
        )
        .transform(bounded_sort, "horizon_hours")
    )


# --------------------------------------------------------------------------
# Competing-risks cumulative incidence (Aalen-Johansen 1978 — public
# literature): on the same per-user clock, TWO absorbing events
# compete — the user's first purchase (conversion) vs the 10th error
# (budget exhaustion) — and whichever strikes first absorbs the user;
# neither = right-censored at the last event. The Aalen-Johansen
# CIF_k(t) = sum S(t_{j-1}) * d_kj / n_j is the only correct per-cause
# probability under competing risks: the naive per-cause KM (censoring
# the other cause) overstates BOTH incidences because it redistributes
# the competitor's mass, and the two naive curves can sum past 1. The
# identity S_any + CIF_conv + CIF_exhaust = 1 holds exactly and is
# test-pinned. The readout is a product number: "probability a user
# converts before burning the error budget, by horizon".

_CR_SQL = f"""WITH t0 AS (
      SELECT user_id, MIN(ts::TIMESTAMP) AS t0, MAX(ts::TIMESTAMP) AS le
      FROM events GROUP BY 1),
    er AS (
      SELECT user_id, ts::TIMESTAMP AS ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE event_type = 'error'),
    te AS (SELECT user_id, ts AS te FROM er WHERE rn = {_KM_BUDGET}),
    tc AS (
      SELECT user_id, MIN(ts::TIMESTAMP) AS tc
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    dur AS (
      SELECT t.user_id,
             CASE
               WHEN x.te IS NOT NULL AND (c.tc IS NULL OR x.te <= c.tc)
                 THEN date_diff('second', t.t0, x.te)
               WHEN c.tc IS NOT NULL
                 THEN date_diff('second', t.t0, c.tc)
               ELSE date_diff('second', t.t0, t.le)
             END AS d,
             CASE
               WHEN x.te IS NOT NULL AND (c.tc IS NULL OR x.te <= c.tc)
                 THEN 1
               WHEN c.tc IS NOT NULL THEN 2
               ELSE 0
             END AS cause
      FROM t0 t
      LEFT JOIN te x USING (user_id)
      LEFT JOIN tc c USING (user_id)),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nu FROM dur),
    hist AS (
      SELECT d AS v, CAST(COUNT(*) AS BIGINT) AS c_all,
             CAST(SUM(CASE WHEN cause = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS c_e,
             CAST(SUM(CASE WHEN cause = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS c_c
      FROM dur GROUP BY 1),
    spine AS (
      SELECT v, c_e, c_c,
             COALESCE(SUM(c_all) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM hist),
    aj AS (
      SELECT v,
             CASE WHEN COALESCE(MAX(CASE WHEN c_e + c_c =
                          ((SELECT nu FROM n) - cb)
                          THEN 1 ELSE 0 END)
                 OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) = 1 THEN 0.0
             ELSE EXP(COALESCE(SUM(CASE WHEN c_e + c_c > 0
                               AND c_e + c_c < ((SELECT nu FROM n) - cb)
                          THEN LN(1.0 - (c_e + c_c) * 1.0
                                  / ((SELECT nu FROM n) - cb))
                          ELSE 0.0 END)
                 OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0.0)) END AS s_prev,
             c_e, c_c, ((SELECT nu FROM n) - cb) AS nj
      FROM spine),
    cum AS (
      SELECT v,
             SUM(s_prev * (c_e * 1.0 / nj))
               OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cif_e,
             SUM(s_prev * (c_c * 1.0 / nj))
               OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cif_c,
             CASE WHEN MAX(CASE WHEN c_e + c_c = nj THEN 1 ELSE 0 END)
                 OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) = 1 THEN 0.0
             ELSE EXP(SUM(CASE WHEN c_e + c_c > 0
                               AND c_e + c_c < nj
                          THEN LN(1.0 - (c_e + c_c) * 1.0 / nj)
                          ELSE 0.0 END)
                 OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)) END AS s_any
      FROM aj),
    h(horizon_hours) AS (VALUES {", ".join(f"({x})" for x in _KM_HORIZONS_H)}),
    pick AS (
      SELECT h.horizon_hours, k.cif_e, k.cif_c, k.s_any,
             row_number() OVER (PARTITION BY h.horizon_hours
                                ORDER BY k.v DESC) AS rk
      FROM h LEFT JOIN cum k ON k.v <= h.horizon_hours * 3600)
    SELECT CAST(horizon_hours AS INT) AS horizon_hours,
           ROUND(COALESCE(cif_c, 0.0), 6) AS cif_convert,
           ROUND(COALESCE(cif_e, 0.0), 6) AS cif_exhaust,
           ROUND(COALESCE(s_any, 1.0), 6) AS s_event_free
    FROM pick WHERE rk = 1
    ORDER BY horizon_hours"""


@register("ev_survival_competing_risks", _CR_SQL)
def ev_survival_competing_risks(spark, sf_dir):
    """Aalen-Johansen cumulative incidence under competing risks:
    (horizon_hours, cif_convert, cif_exhaust, s_event_free). Per user,
    the first purchase (cause=convert) competes with the 10th error
    (cause=exhaust) from the first event; whichever strikes first
    absorbs the user (ties go to exhaustion, deterministically on both
    engines), neither = censored at the last event. CIF_k(tau) =
    sum_{t_j <= tau} S(t_{j-1}) * d_kj / n_j with S the ALL-cause KM,
    so s_event_free + cif_convert + cif_exhaust = 1 exactly (test-
    pinned) — the per-cause naive KM has no such identity and
    overstates both incidences.

    Exactness: same contract as the KM family — integer durations and
    risk sets, each per-row term one multiply of an EXP(prior-LN-sum)
    and an exact division, all three cumulative folds in ascending-
    time frame order on both engines, ulp noise under the 6-dp round.

    Scale shape: the KM plan plus one more per-user aggregate (first
    purchase, map-side combined); everything downstream runs on the
    duration histogram (same LARGE-DOMAIN ESCAPE HATCH), horizon picks
    model-sized. Round 13: the (d, cause) frame comes from the family-
    shared memoized _survival_user_frame (dc/cause are
    _competing_durations' exact expressions, identical values)."""
    return _cr_readout(
        spark,
        _survival_user_frame(spark, sf_dir).select(
            "user_id", F.col("dc").alias("d"), "cause"
        ),
    )


def _competing_durations(e: DataFrame) -> DataFrame:
    """(user_id, d, cause) per user under competing risks: cause 1 =
    budget exhaustion strikes first (ties to exhaustion), 2 = first
    purchase strikes first, 0 = censored at last event; d in integer
    epoch-floor seconds. Factored out of ev_survival_competing_risks so
    the streaming competing-risks twin's test can assert its per-user
    state rows reproduce EXACTLY this frame."""
    from pyspark.sql import Window

    t0 = e.groupBy("user_id").agg(
        F.min("ts").alias("t0"), F.max("ts").alias("le")
    )
    we = Window.partitionBy("user_id").orderBy("ts", "event_id")
    te = (
        e.where(F.col("event_type") == "error")
        .withColumn("rn", F.row_number().over(we))
        .where(F.col("rn") == _KM_BUDGET)
        .select("user_id", F.col("ts").alias("te"))
    )
    tc = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tc"))
    )
    exh_first = F.col("te").isNotNull() & (
        F.col("tc").isNull() | (F.col("te") <= F.col("tc"))
    )
    return (
        t0.join(te, "user_id", "left")
        .join(tc, "user_id", "left")
        .select(
            "user_id",
            F.when(
                exh_first,
                F.unix_timestamp("te") - F.unix_timestamp("t0"),
            )
            .when(
                F.col("tc").isNotNull(),
                F.unix_timestamp("tc") - F.unix_timestamp("t0"),
            )
            .otherwise(F.unix_timestamp("le") - F.unix_timestamp("t0"))
            .alias("d"),
            F.when(exh_first, 1)
            .when(F.col("tc").isNotNull(), 2)
            .otherwise(0)
            .alias("cause"),
        )
    )


def _cr_readout(spark: SparkSession, dur: DataFrame) -> DataFrame:
    """Aalen-Johansen fold + horizon picks over a (user_id, d, cause)
    frame — the tail of ev_survival_competing_risks, shared with the
    streaming competing-risks twin's readout test."""
    from pyspark.sql import Window

    # histogram checkpointed, nu derived from it — one corpus pass
    # (same rationale as _km_readout, round 13)
    hist = dur.groupBy(F.col("d").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c_all"),
        F.sum(F.when(F.col("cause") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("c_e"),
        F.sum(F.when(F.col("cause") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("c_c"),
    ).localCheckpoint()
    nu = hist.agg(F.sum("c_all").cast("bigint").alias("nu"))
    wv = Window.orderBy("v")
    wprev = wv.rowsBetween(Window.unboundedPreceding, -1)
    wcum = wv.rowsBetween(Window.unboundedPreceding, 0)
    spine = hist.withColumn(
        "cb", F.coalesce(F.sum("c_all").over(wprev), F.lit(0))
    )
    nj = F.col("nu") - F.col("cb")
    cc = F.col("c_e") + F.col("c_c")
    logf = F.when(
        (cc > 0) & (cc < nj),
        F.log(F.lit(1.0) - cc * F.lit(1.0) / nj),
    ).otherwise(F.lit(0.0))
    # dead = the whole remaining risk set is absorbed at this time (the
    # largest-duration user has an event, no censoring after): S hits
    # exactly 0 and the EXP(SUM(LN)) trick is undefined there — the
    # flag pins S to 0.0 from that row on (it is necessarily the last
    # spine row, but the guard keeps the algebra total)
    dead = F.when(cc == nj, 1).otherwise(0)
    aj = (
        spine.join(F.broadcast(nu))
        .withColumn("logf", logf)
        .withColumn("dead", dead)
        .withColumn(
            "s_prev",
            F.when(
                F.coalesce(F.max("dead").over(wprev), F.lit(0)) == 1,
                F.lit(0.0),
            ).otherwise(
                F.exp(
                    F.coalesce(F.sum("logf").over(wprev), F.lit(0.0))
                )
            ),
        )
        .withColumn("nj", nj)
    )
    cum = (
        aj.withColumn(
            "cif_e",
            F.sum(
                F.col("s_prev") * (F.col("c_e") * F.lit(1.0) / F.col("nj"))
            ).over(wcum),
        )
        .withColumn(
            "cif_c",
            F.sum(
                F.col("s_prev") * (F.col("c_c") * F.lit(1.0) / F.col("nj"))
            ).over(wcum),
        )
        .withColumn(
            "s_any",
            F.when(F.max("dead").over(wcum) == 1, F.lit(0.0)).otherwise(
                F.exp(F.sum("logf").over(wcum))
            ),
        )
    )
    # JVM literal relation — createDataFrame's python-RDD scan cost
    # whole seconds per query under AQE (see lit_rows_df)
    hz = lit_rows_df(
        spark, [("horizon_hours", "int")], [(h,) for h in _KM_HORIZONS_H]
    )
    wpick = Window.partitionBy("horizon_hours").orderBy(
        F.desc_nulls_last("v")
    )
    from gravity_books_datalakehouse_spark.operators.sort import bounded_sort

    return (
        F.broadcast(hz)
        .join(cum, F.col("v") <= F.col("horizon_hours") * 3600, "left")
        .withColumn("rk", F.row_number().over(wpick))
        .where(F.col("rk") == 1)
        .select(
            F.col("horizon_hours").cast("int"),
            F.round(F.coalesce("cif_c", F.lit(0.0)), 6).alias(
                "cif_convert"
            ),
            F.round(F.coalesce("cif_e", F.lit(0.0)), 6).alias(
                "cif_exhaust"
            ),
            F.round(F.coalesce("s_any", F.lit(1.0)), 6).alias(
                "s_event_free"
            ),
        )
        .transform(bounded_sort, "horizon_hours")
    )


# --------------------------------------------------------------------------
# Classical attribution models beside the Markov removal effect — the
# comparison table a marketing stack actually publishes: first-touch,
# last-touch, linear, position-based (40/20/40) and time-decay credit
# per channel over CONVERTING journeys. Every model's credit is a
# per-row closed form in (rn, k = touches before the first purchase),
# so the whole table is the shared journey window chain plus one
# groupBy; time-decay halves per step away from the conversion, so the
# per-journey weights are DYADIC (2^(rn-k) / (2 - 2^(1-k))) and both
# engines assemble identical doubles before the corpus sum.

_ATTR_MODELS_SQL = """WITH flagged AS (
      SELECT user_id, ts::TIMESTAMP AS ts, event_id, event_type,
             CASE WHEN lag(ts::TIMESTAMP) OVER w IS NULL
                    OR ts::TIMESTAMP - lag(ts::TIMESTAMP) OVER w
                       > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    numbered AS (
      SELECT user_id, event_type, ts, event_id,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged),
    ranked AS (
      SELECT user_id, sess_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, sess_id
                                ORDER BY ts, event_id) AS rn
      FROM numbered),
    fp AS (
      SELECT user_id, sess_id, MIN(rn) AS fp_rn
      FROM ranked WHERE event_type = 'purchase' GROUP BY 1, 2),
    touches AS (
      SELECT r.event_type AS channel, r.rn, fp.fp_rn - 1 AS k
      FROM ranked r JOIN fp USING (user_id, sess_id)
      WHERE r.rn < fp.fp_rn),
    credit AS (
      SELECT channel,
             CASE WHEN rn = 1 THEN 1.0 ELSE 0.0 END AS first_c,
             CASE WHEN rn = k THEN 1.0 ELSE 0.0 END AS last_c,
             1.0 / k AS linear_c,
             CASE WHEN k = 1 THEN 1.0
                  WHEN k = 2 THEN 0.5
                  WHEN rn = 1 OR rn = k THEN 0.4
                  ELSE 0.2 / (k - 2) END AS position_c,
             pow(2.0, rn - k) / (2.0 - pow(2.0, 1 - k)) AS decay_c
      FROM touches)
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           ROUND(SUM(first_c), 6) AS first_touch,
           ROUND(SUM(last_c), 6) AS last_touch,
           ROUND(SUM(linear_c), 6) AS linear,
           ROUND(SUM(position_c), 6) AS position_based,
           ROUND(SUM(decay_c), 6) AS time_decay
    FROM credit
    GROUP BY channel
    ORDER BY channel"""


@register("ev_attribution_models", _ATTR_MODELS_SQL)
def ev_attribution_models(spark, sf_dir):
    """Per-channel conversion credit under the five classical
    attribution models over converting journeys: (channel, n_touches,
    first_touch, last_touch, linear, position_based, time_decay).
    k = touches before the session's first purchase; position-based is
    the standard 40/20/40 (k=1 -> 1.0, k=2 -> 0.5/0.5); time-decay
    halves per step away from the conversion with the exact dyadic
    normalizer 2 - 2^(1-k). Read beside ev_markov_attribution: a
    channel the heuristics credit heavily but the removal effect
    doesn't is riding journey position, not causal contribution.

    Exactness: every per-row credit is a closed form in (rn, k) —
    identical IEEE compositions on both engines; only the final
    per-channel sums accumulate in engine order (1e-12 on this corpus,
    absorbed by the 6-dp display round, the family's accepted
    surface).

    Scale shape: the shared journey window chain plus one map-side-
    combined groupBy to |channels| rows — no join after the in-chain
    first-purchase min, no model state at all."""
    b = _session_journey_frame(spark, sf_dir)
    touches = b.where(
        F.col("fp_rn").isNotNull() & (F.col("rn") < F.col("fp_rn"))
    ).select(
        F.col("event_type").alias("channel"),
        "rn",
        (F.col("fp_rn") - 1).alias("k"),
    )
    first_c = F.when(F.col("rn") == 1, 1.0).otherwise(0.0)
    last_c = F.when(F.col("rn") == F.col("k"), 1.0).otherwise(0.0)
    linear_c = F.lit(1.0) / F.col("k")
    position_c = (
        F.when(F.col("k") == 1, 1.0)
        .when(F.col("k") == 2, 0.5)
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("k")), 0.4)
        .otherwise(F.lit(0.2) / (F.col("k") - 2))
    )
    decay_c = F.pow(F.lit(2.0), F.col("rn") - F.col("k")) / (
        F.lit(2.0) - F.pow(F.lit(2.0), F.lit(1) - F.col("k"))
    )
    from gravity_books_datalakehouse_spark.operators.sort import bounded_sort

    return (
        touches.groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
            F.round(F.sum(first_c), 6).alias("first_touch"),
            F.round(F.sum(last_c), 6).alias("last_touch"),
            F.round(F.sum(linear_c), 6).alias("linear"),
            F.round(F.sum(position_c), 6).alias("position_based"),
            F.round(F.sum(decay_c), 6).alias("time_decay"),
        )
        .transform(bounded_sort, "channel")
    )


# --------------------------------------------------------------------------
# Time-decay parameter sweep: the decay BASE is the one free knob of the
# time-decay model (how steeply credit concentrates on the last touch;
# base -> infinity degenerates to last-touch, base -> 1 to linear), and
# the sweep shows each channel's credit as a FUNCTION of that choice —
# the sensitivity table that tells you whether a budget decision is
# robust to the knob or an artifact of it. Bases are DYADIC (2, 4, 8) on
# purpose: every b^(rn-k), b^(1-k) and b - b^(1-k) is an exact double,
# so the single rounding per credit is the final division and both
# engines assemble identical doubles before the corpus sum (the
# ev_attribution_models contract). Per journey each base's credits sum
# to exactly 1 (geometric series), pinned by the conservation test.

_DECAY_BASES = (2.0, 4.0, 8.0)

_DECAY_SWEEP_SQL = _ATTR_MODELS_SQL[: _ATTR_MODELS_SQL.index("credit AS (")] + (
    "bases(decay_base) AS (SELECT CAST(x AS DOUBLE) FROM (VALUES "
    + ", ".join(f"({b!r})" for b in _DECAY_BASES)
    + """) v(x)),
    credit AS (
      SELECT b.decay_base, t.channel,
             (b.decay_base - 1.0) * pow(b.decay_base, t.rn - t.k)
               / (b.decay_base - pow(b.decay_base, 1 - t.k)) AS c
      FROM touches t CROSS JOIN bases b)
    SELECT decay_base, channel,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           ROUND(SUM(c), 6) AS credit
    FROM credit
    GROUP BY decay_base, channel
    ORDER BY decay_base, channel"""
)


@register("ev_attribution_decay_sweep", _DECAY_SWEEP_SQL)
def ev_attribution_decay_sweep(spark, sf_dir):
    """Per-channel time-decay credit at decay bases {2, 4, 8} over
    converting journeys: (decay_base, channel, n_touches, credit).
    credit_i = (b-1) * b^(rn-k) / (b - b^(1-k)) — the normalized
    geometric weighting whose per-journey credits sum to exactly 1 at
    every base (k=1 gives (b-1)/(b-1) = 1 with no special case). Read
    the three rows per channel side by side: a channel whose credit is
    flat across bases earns it throughout the journey; one whose credit
    grows with the base is a last-touch specialist.

    Exactness: dyadic bases make every power and the normalizer's
    subtraction exact doubles; the per-credit division is the single
    rounding, identical IEEE on both engines; final sums accumulate in
    engine order under the 6-dp display round (the family surface).

    Scale shape: the shared journey window chain, a 3-way in-row
    explode (never a join), and one map-side-combined groupBy to
    3 x |channels| rows."""
    b = _session_journey_frame(spark, sf_dir)
    touches = b.where(
        F.col("fp_rn").isNotNull() & (F.col("rn") < F.col("fp_rn"))
    ).select(
        F.col("event_type").alias("channel"),
        "rn",
        (F.col("fp_rn") - 1).alias("k"),
    )
    exploded = touches.select(
        "channel",
        "rn",
        "k",
        F.explode(
            F.array(*[F.lit(x) for x in _DECAY_BASES])
        ).alias("decay_base"),
    )
    c = (
        (F.col("decay_base") - F.lit(1.0))
        * F.pow(F.col("decay_base"), F.col("rn") - F.col("k"))
        / (
            F.col("decay_base")
            - F.pow(F.col("decay_base"), F.lit(1) - F.col("k"))
        )
    )
    from gravity_books_datalakehouse_spark.operators.sort import bounded_sort

    return (
        exploded.groupBy("decay_base", "channel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
            F.round(F.sum(c), 6).alias("credit"),
        )
        .transform(bounded_sort, "decay_base", "channel")
    )


# --------------------------------------------------------------------------
# Seasonal autocorrelation — the ACF view of periodicity beside the
# hour-of-day ANOVA (ev_seasonality_strength): eta² asks "do the 24
# hour-of-day MEANS differ", the ACF at lags 1/24/168 asks "does the
# series repeat itself at those offsets" — the two can disagree (a
# drifting daily shape scores high eta², low acf_168), which is exactly
# why monitoring stacks plot both. Residuals are the EXACT scaled
# integers r_t = N*x_t - T (no fractional mean anywhere); each lag
# product is a product of exact integers evaluated in double, and only
# the final ratio is displayed.

_ACF_LAGS = (1, 24, 168)


def _acf_sql() -> str:
    lag_cols = ",\n                ".join(
        f"lead(r, {k}) OVER w AS r{k}" for k in _ACF_LAGS
    )
    num_cols = ",\n              ".join(
        f"SUM(r * r{k}) AS num{k}" for k in _ACF_LAGS
    )
    out_cols = ",\n           ".join(
        f"ROUND(num{k} / NULLIF(den, 0), 6) AS acf_{k}" for k in _ACF_LAGS
    )
    return f"""WITH hourly AS (
         SELECT event_type,
                time_bucket(INTERVAL '1 hour', ts::TIMESTAMP) AS h,
                CAST(COUNT(*) AS BIGINT) AS x
         FROM events GROUP BY 1, 2),
       bounds AS (
         SELECT event_type, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY 1),
       spine AS (
         SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
         FROM bounds),
       filled AS (
         SELECT s.event_type, s.h, COALESCE(hh.x, 0) AS x
         FROM spine s LEFT JOIN hourly hh
           ON s.event_type = hh.event_type AND s.h = hh.h),
       res AS (
         SELECT event_type, h,
                CAST(COUNT(*) OVER p AS BIGINT) * x
                  - CAST(SUM(x) OVER p AS BIGINT) AS r,
                CAST(COUNT(*) OVER p AS BIGINT) AS n,
                CAST(SUM(x) OVER p AS BIGINT) AS t
         FROM filled
         WINDOW p AS (PARTITION BY event_type)),
       lagged AS (
         SELECT event_type, n, t, r,
                {lag_cols}
         FROM res
         WINDOW w AS (PARTITION BY event_type ORDER BY h)),
       sums AS (
         SELECT event_type,
                MAX(n) AS n_hours, MAX(t) AS n_events,
                SUM(r * r) AS den,
              {num_cols}
         FROM lagged GROUP BY event_type)
       SELECT event_type,
           CAST(n_hours AS BIGINT) AS n_hours,
           CAST(n_events AS BIGINT) AS n_events,
           {out_cols}
       FROM sums
       ORDER BY event_type"""


@register("ev_autocorrelation_seasonal", _acf_sql())
def ev_autocorrelation_seasonal(spark, sf_dir):
    """Per-event-type autocorrelation of the gap-filled hourly series at
    the monitoring lags — (event_type, n_hours, n_events, acf_1,
    acf_24, acf_168): acf_1 is short-term burstiness, acf_24 the daily
    cycle, acf_168 the weekly cycle. Computed on the exact scaled
    residuals r_t = N*x_t - T (pure bigint — multiplying the classic
    x_t - mean by N removes the fractional mean), so
    acf_k = sum(r_t * r_{{t+k}}) / sum(r_t^2) with the N^2 scale
    cancelling; a lag longer than the series leaves the numerator NULL
    (SUM over no rows) and a constant series NULLIFs the denominator —
    identically on both engines.

    Exactness: every residual and per-term product is exact integer
    arithmetic evaluated in double (products stay far below 2^53 at
    any tested scale); only the engine-ordered final sums carry float
    noise, absorbed by the 6-dp display round (the family's surface).

    Scale shape: the control-chart spine — one event-sized map-side
    collapse, then ONE ordered window pass per type carrying all three
    leads, then a per-type aggregate. hours x types is metadata-sized
    at any corpus size."""
    e = load_events(spark, sf_dir)
    from pyspark.sql import Window

    hourly = (
        e.groupBy("event_type", F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .select("event_type", F.col("w.start").alias("h"), "x")
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("h"),
    )
    filled = spine.join(hourly, ["event_type", "h"], "left").select(
        "event_type",
        "h",
        F.coalesce(F.col("x"), F.lit(0)).cast("bigint").alias("x"),
    )
    part = Window.partitionBy("event_type")
    w = Window.partitionBy("event_type").orderBy("h")
    res = filled.select(
        "event_type",
        "h",
        (
            F.count(F.lit(1)).over(part).cast("bigint") * F.col("x")
            - F.sum("x").over(part).cast("bigint")
        ).alias("r"),
        F.count(F.lit(1)).over(part).cast("bigint").alias("n"),
        F.sum("x").over(part).cast("bigint").alias("t"),
    )
    lagged = res.select(
        "event_type",
        "n",
        "t",
        "r",
        *[F.lead("r", k).over(w).alias(f"r{k}") for k in _ACF_LAGS],
    )
    den = F.sum(F.col("r") * F.col("r"))
    from gravity_books_datalakehouse_spark.operators.sort import bounded_sort

    return (
        lagged.groupBy("event_type")
        .agg(
            F.max("n").cast("bigint").alias("n_hours"),
            F.max("t").cast("bigint").alias("n_events"),
            den.alias("den"),
            *[
                F.sum(F.col("r") * F.col(f"r{k}")).alias(f"num{k}")
                for k in _ACF_LAGS
            ],
        )
        .select(
            "event_type",
            "n_hours",
            "n_events",
            *[
                F.round(
                    F.col(f"num{k}") / F.nullif(F.col("den"), F.lit(0)), 6
                ).alias(f"acf_{k}")
                for k in _ACF_LAGS
            ],
        )
        .transform(bounded_sort, "event_type")
    )


# --------------------------------------------------------------------------
# Weekly Wasserstein-1 drift monitor over user activity: for each ISO
# week, the exact W1 distance between that week's distribution of
# per-user event counts and the pooled (all-weeks) distribution, plus
# the signed mean shift. This is op_drift_wasserstein_by_source's
# integral-EDF algebra pointed at TIME instead of source strata — the
# monitoring series a drift dashboard actually plots: a rising W1 with
# a flat mean says user behavior is polarizing (mass moving both ways),
# a mean tracking W1 says the whole population shifted. The per-user-
# week count domain is integer, so the W1 numerator is exact end to end
# (decimal(38,0) / HUGEINT segment sums), matching the drift family's
# exactness contract.

_W1_WEEKLY_SQL = """WITH uw AS (
      SELECT user_id, CAST(date_trunc('week', ts::TIMESTAMP) AS DATE) AS wk,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    domain AS (
      SELECT c AS v,
             SUM(COUNT(*)) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS rp,
             LEAD(c) OVER (ORDER BY c) AS nxt
      FROM uw GROUP BY c),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(c) AS BIGINT) AS sx FROM uw),
    wks AS (SELECT wk, CAST(COUNT(*) AS BIGINT) AS ns,
                   CAST(SUM(c) AS BIGINT) AS sxs
            FROM uw GROUP BY wk),
    scum AS (
      SELECT wk, c AS v,
             SUM(COUNT(*)) OVER (PARTITION BY wk ORDER BY c
                                 ROWS UNBOUNDED PRECEDING) AS rs
      FROM uw GROUP BY wk, c),
    spine AS (
      SELECT w.wk, w.ns, w.sxs, d.v, d.rp, d.nxt,
             COALESCE(
               (SELECT MAX(rs) FROM scum s
                WHERE s.wk = w.wk AND s.v <= d.v), 0) AS rs
      FROM wks w CROSS JOIN domain d),
    seg AS (
      SELECT wk, ns, sxs,
             ABS(rs * (SELECT n FROM tot) - rp * ns)::HUGEINT
               * (COALESCE(nxt, v) - v) AS dseg
      FROM spine),
    agg AS (
      SELECT wk, ns, sxs, SUM(dseg) AS wnum
      FROM seg GROUP BY 1, 2, 3)
    SELECT wk AS week_start,
           ns AS n_active_users,
           ROUND(wnum / (1.0 * ns * (SELECT n FROM tot)), 6) AS w1_drift,
           ROUND(sxs * 1.0 / ns - (SELECT sx * 1.0 / n FROM tot), 6)
             AS mean_shift
    FROM agg
    ORDER BY week_start"""


@register("ev_drift_w1_weekly", _W1_WEEKLY_SQL)
def ev_drift_w1_weekly(spark, sf_dir):
    """Per-week exact Wasserstein-1 distance between the week's and the
    pooled per-user event-count distribution, plus the signed mean
    shift: (week_start, n_active_users, w1_drift, mean_shift). The unit
    of observation is a (user, week) activity count; the pooled EDF
    over ALL user-weeks is the reference each week is compared to, so
    the series reads as "how far did this week's engagement shape move
    from the long-run norm" — W1 >= |mean_shift| always (Jensen), and
    the gap between them separates polarization from wholesale shift.

    Exactness: per-value deviation |rs*N - rp*ns| and domain gaps are
    integers; segment products sum in decimal(38,0)/HUGEINT so the W1
    numerator is exact; the two displayed floats are one division each
    under the 6-dp round. date_trunc('week') is Monday-start ISO on
    both engines.

    Plan shape: the op_drift_wasserstein_by_source template with weeks
    as strata — one (user, week) aggregate (map-side combined), two
    histogram collapses, the per-week cumulative window (partitioned by
    wk), the weeks x domain spine via broadcast + last(ignorenulls),
    then one map-side-combined SUM per week. The pooled cumulative is a
    single task over HISTOGRAM rows (distinct activity counts, ~10^2);
    same LARGE-DOMAIN ESCAPE HATCH as the KS/W1 ops beyond that."""
    from pyspark.sql import Window

    uw = (
        load_events(spark, sf_dir)
        .groupBy(
            "user_id",
            F.date_trunc("week", F.col("ts")).cast("date").alias("wk"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    wd = Window.orderBy("v")
    domain = (
        uw.groupBy(F.col("c").alias("v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "rp",
            F.sum("cnt").over(wd.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn("nxt", F.lead("v").over(wd))
        .select("v", "rp", "nxt")
    )
    tot = uw.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("sx"),
    )
    wks = uw.groupBy("wk").agg(
        F.count(F.lit(1)).cast("bigint").alias("ns"),
        F.sum("c").cast("bigint").alias("sxs"),
    )
    scum = (
        uw.groupBy("wk", F.col("c").alias("v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "rs",
            F.sum("cnt").over(
                Window.partitionBy("wk")
                .orderBy("v")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .select("wk", "v", "rs")
    )
    spine = (
        wks.crossJoin(F.broadcast(domain))
        .join(scum, ["wk", "v"], "left")
        .withColumn(
            "rs_f",
            F.coalesce(
                F.last("rs", ignorenulls=True).over(
                    Window.partitionBy("wk")
                    .orderBy("v")
                    .rowsBetween(Window.unboundedPreceding, 0)
                ),
                F.lit(0),
            ),
        )
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    seg = spine.join(F.broadcast(tot)).withColumn(
        "dseg",
        d38(F.abs(F.col("rs_f") * F.col("n") - F.col("rp") * F.col("ns")))
        * d38(F.coalesce(F.col("nxt"), F.col("v")) - F.col("v")),
    )
    agg = seg.groupBy("wk", "ns", "sxs", "n", "sx").agg(
        F.sum("dseg").alias("wnum")
    )
    from gravity_books_datalakehouse_spark.operators.sort import bounded_sort

    return agg.select(
        F.col("wk").alias("week_start"),
        F.col("ns").alias("n_active_users"),
        F.round(
            F.col("wnum") / (F.lit(1.0) * F.col("ns") * F.col("n")), 6
        ).alias("w1_drift"),
        F.round(
            F.col("sxs") * F.lit(1.0) / F.col("ns")
            - F.col("sx") * F.lit(1.0) / F.col("n"),
            6,
        ).alias("mean_shift"),
    ).transform(bounded_sort, "week_start")
