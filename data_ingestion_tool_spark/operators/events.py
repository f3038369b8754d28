"""Event-time operators over the ``events`` table: tumbling / sliding /
session windows, in batch (SURVEY.md §2.10).

``F.window`` / ``F.session_window`` are plain Catalyst expressions.
Windowed aggregation shuffles once on (window, keys); at scale the skew concern is hot keys
(user_id), which AQE skew-join/partition-split handles.

Cross-engine notes: window starts are emitted as ``timestamp_ntz``
(session tz is UTC, DuckDB is tz-naive); session boundaries use the
half-open convention — a gap of exactly the timeout starts a NEW
session (Spark's ``session_window`` end is ``last_ts + gap``,
exclusive), mirrored in the oracle as ``>= gap``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_tool_spark.functions import dec, dec_sum, sql_dec_sum
from data_ingestion_tool_spark.operators.base import QuerySpec
from data_ingestion_tool_spark.sources.tables import load_table


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event type."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dec_sum("value", "total_value"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


TUMBLING_HOURLY_SQL = f"""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       {sql_dec_sum('value', 'total_value')}
FROM events GROUP BY 1, 2
"""


def sliding_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 1-hour size, 30-minute hop (2 windows/event)."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "n_events",
        )
    )


# A 60-minute window with a 30-minute hop assigns each event to exactly
# the two hop-aligned starts {trunc30(ts), trunc30(ts) - 30min}.
SLIDING_HOURLY_SQL = """
WITH assigned AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' FROM events
)
SELECT window_start, COUNT(*) AS n_events
FROM assigned GROUP BY window_start
"""


def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessionization with a 10-minute inactivity gap."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dec_sum("value", "total_value"))
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


SESSION_WINDOWS_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w >= INTERVAL '10 minutes'
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       COUNT(*) AS n_events,
       {sql_dec_sum('value', 'total_value')}
FROM numbered GROUP BY user_id, session_id
"""


def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample: per-user HOURLY grid from first to last
    activity, empty hours materialized with ``n_events = 0`` and the
    hourly value forward-filled (``last IGNORE NULLS``).

    Scale shape: hourly pre-aggregation first (the only pass over raw
    events), then the grid is generated per user with
    ``sequence()``+``explode`` — grid size is bounded by the time span,
    never by event count, and every stage is keyed on user_id /
    (user_id, hour): no broadcast, no skew-prone key. The reference has
    no resample operator; this is the standard feature-engineering
    shape for training-data pipelines over event streams.
    """
    from pyspark.sql import Window

    e = _events(spark, sf_dir)
    hourly = e.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("bucket_hour")
    ).agg(F.count(F.lit(1)).alias("n_events"), dec_sum("value", "hr_value"))
    bounds = hourly.groupBy("user_id").agg(
        F.min("bucket_hour").alias("lo"), F.max("bucket_hour").alias("hi")
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("bucket_hour"),
    )
    w = Window.partitionBy("user_id").orderBy("bucket_hour")
    return grid.join(hourly, ["user_id", "bucket_hour"], "left").select(
        "user_id",
        "bucket_hour",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.last("hr_value", ignorenulls=True).over(w).alias("filled_value"),
    )


EVENTS_GAP_FILL_SQL = f"""
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket_hour,
         COUNT(*) AS n_events, {sql_dec_sum('value', 'hr_value')}
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT user_id, MIN(bucket_hour) AS lo, MAX(bucket_hour) AS hi
  FROM hourly GROUP BY 1
),
grid AS (
  SELECT user_id, UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket_hour
  FROM bounds
)
SELECT g.user_id, g.bucket_hour,
       COALESCE(h.n_events, 0) AS n_events,
       LAST_VALUE(h.hr_value IGNORE NULLS)
         OVER (PARTITION BY g.user_id ORDER BY g.bucket_hour) AS filled_value
FROM grid g LEFT JOIN hourly h
  ON g.user_id = h.user_id AND g.bucket_hour = h.bucket_hour
"""


def scd2_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 / CDC-apply: collapse each user's event stream into
    versioned state rows — ``valid_from`` / ``valid_to`` (open-ended
    for the current version) + ``is_current`` — the
    slowly-changing-dimension shape every warehouse merge pipeline
    needs. One window shuffle on user_id; ``lead()`` closes each
    version, no self-join. Ties on ts are ordered by event_id so the
    version chain is deterministic.
    """
    from pyspark.sql import Window

    e = _events(spark, sf_dir).select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


SCD2_USER_HISTORY_SQL = """
SELECT user_id,
       event_type AS state,
       ts AS valid_from,
       LEAD(ts) OVER w AS valid_to,
       LEAD(ts) OVER w IS NULL AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


#: Cutover for the incremental-maintenance demo: rows before the cut
#: are the "already materialized" base, rows at/after it are the delta.
_INCR_CUTOVER = "2024-01-20"


def incremental_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance: merge a pre-aggregated BASE with
    a freshly aggregated DELTA instead of rescanning history.

    Both branches aggregate to the same (event_type, bucket_hour) grain
    and merge with one summing hash-agg — counts and decimal sums are
    self-mergeable, so ``agg(base) ⊎ agg(delta) == agg(base ∪ delta)``
    exactly (the oracle aggregates the full table in one pass). In
    steady state only the delta partition is scanned: at 100 TB the
    base side is the stored MV, not a recomputation — partition
    pruning on the cutover date keeps the nightly cost O(|delta|).
    """
    e = _events(spark, sf_dir)
    cut = F.lit(_INCR_CUTOVER).cast("timestamp")

    def hourly(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("bucket_hour")
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).alias("sum_value_dec"),
        )

    base = hourly(e.filter(F.col("ts") < cut))
    delta = hourly(e.filter(F.col("ts") >= cut))
    return (
        base.unionByName(delta)
        .groupBy("event_type", "bucket_hour")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value_dec").cast("double").alias("total_value"),
        )
    )


INCREMENTAL_HOURLY_COUNTS_SQL = f"""
SELECT event_type, date_trunc('hour', ts) AS bucket_hour,
       COUNT(*) AS n_events, {sql_dec_sum('value', 'total_value')}
FROM events
GROUP BY 1, 2
"""


_HIST_BIN_WIDTH = 25


def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values per event type — binning
    by integer floor-division so both engines share one bin function
    (no RNG, no engine-specific bucketing). One map-side-combined
    hash-agg; bin count bounded by the value range, not row count."""
    e = _events(spark, sf_dir)
    bin_col = F.floor(F.col("value") / _HIST_BIN_WIDTH).cast("long")
    return e.groupBy("event_type", bin_col.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 2).alias("bin_min"),
        F.round(F.max("value"), 2).alias("bin_max"),
    )


VALUE_HISTOGRAM_SQL = f"""
SELECT event_type,
       CAST(FLOOR(value / {_HIST_BIN_WIDTH}) AS BIGINT) AS bin,
       COUNT(*) AS n,
       ROUND(MIN(value), 2) AS bin_min,
       ROUND(MAX(value), 2) AS bin_max
FROM events GROUP BY 1, 2
"""


def top_purchasers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter→agg→top-k over the event stream (pushdown showcase)."""
    e = _events(spark, sf_dir)
    return (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(dec_sum("value", "total_spent"), F.count(F.lit(1)).alias("n_purchases"))
        .orderBy(F.desc("total_spent"), "user_id")
        .limit(25)
    )


TOP_PURCHASERS_SQL = f"""
SELECT user_id, {sql_dec_sum('value', 'total_spent')},
       COUNT(*) AS n_purchases
FROM events WHERE event_type = 'purchase'
GROUP BY user_id ORDER BY total_spent DESC, user_id LIMIT 25
"""


def purchases_after_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: each click paired
    with the same user's purchases within 1 hour after it. Equi-join
    on user_id (one shuffle) + a time-range residual filter — NOT a
    pure range theta-join, which Spark would nested-loop.
    """
    e = _events(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return (
        clicks.join(purchases, "user_id")
        .filter(
            (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("interval 1 hour"))
        )
        .select("user_id", "click_id", "purchase_id")
    )


PURCHASES_AFTER_CLICKS_SQL = """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
"""


def multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution time-series rollup (the hypertable/continuous-
    aggregate pattern): hourly AND daily per-event-type aggregates in
    ONE pass — GROUPING SETS computes both resolutions off a single
    shuffle instead of two scans + two shuffles. At 100 TB this halves
    scan + shuffle volume for every extra resolution; downstream
    queries read the rollup table partition-pruned by resolution."""
    e = _events(spark, sf_dir)
    pre = e.select(
        "event_type",
        F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("bucket_hour"),
        F.date_trunc("day", "ts").cast("timestamp_ntz").alias("bucket_day"),
        "value",
    )
    return (
        pre.groupingSets(
            [["event_type", "bucket_hour"], ["event_type", "bucket_day"]],
            "event_type",
            "bucket_hour",
            "bucket_day",
        )
        .agg(F.count(F.lit(1)).alias("n_events"), dec_sum("value", "total_value"))
        .select(
            "event_type",
            F.when(F.col("bucket_hour").isNotNull(), "hour")
            .otherwise("day")
            .alias("resolution"),
            F.coalesce("bucket_hour", "bucket_day").alias("bucket_ts"),
            "n_events",
            "total_value",
        )
    )


MULTIRES_ROLLUP_SQL = f"""
SELECT event_type,
       CASE WHEN bucket_hour IS NOT NULL THEN 'hour' ELSE 'day' END AS resolution,
       COALESCE(bucket_hour, bucket_day) AS bucket_ts,
       COUNT(*) AS n_events,
       {sql_dec_sum('value', 'total_value')}
FROM (
  SELECT event_type,
         date_trunc('hour', ts) AS bucket_hour,
         date_trunc('day', ts) AS bucket_day,
         value
  FROM events
)
GROUP BY GROUPING SETS ((event_type, bucket_hour), (event_type, bucket_day))
"""


def event_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: flag events whose value sits
    > 3 sample standard deviations from the mean of that user's 10
    PRECEDING events (current row excluded — the score must not
    contaminate its own baseline; ≥ 5 priors required for a stable
    estimate). The streaming-metrics data-quality monitor, in batch.

    Scale shape: one shuffle on user_id; mean/stddev/count all share
    one window frame, so Catalyst evaluates them in a single Window
    operator pass — no self-join against a lagged copy, no second
    exchange. The output is only the anomalies (tiny)."""
    e = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-10, -1)
    )
    scored = e.select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "value",
        F.avg("value").over(w).alias("roll_mean"),
        F.stddev_samp("value").over(w).alias("roll_std"),
        F.count(F.lit(1)).over(w).alias("n_prior"),
    )
    z = (F.col("value") - F.col("roll_mean")) / F.col("roll_std")
    return (
        scored.filter(
            (F.col("n_prior") >= 5) & (F.col("roll_std") > 0) & (F.abs(z) > 3)
        )
        .select(
            "event_id",
            "user_id",
            "ts",
            "value",
            F.round("roll_mean", 6).alias("roll_mean"),
            F.round(z, 6).alias("zscore"),
        )
    )


EVENT_VALUE_ANOMALIES_SQL = """
WITH scored AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
         AVG(value) OVER w AS roll_mean,
         STDDEV_SAMP(value) OVER w AS roll_std,
         COUNT(*) OVER w AS n_prior
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, ts, value,
       ROUND(roll_mean, 6) AS roll_mean,
       ROUND((value - roll_mean) / roll_std, 6) AS zscore
FROM scored
WHERE n_prior >= 5 AND roll_std > 0
  AND ABS((value - roll_mean) / roll_std) > 3
"""


def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, retention
    counted as distinct users active at each day offset — the
    engagement table behind every growth dashboard.

    Scale shape: the per-user-day distinct projection collapses raw
    events FIRST (map-side combinable hash-agg — the big reduction
    happens before any join); cohort assignment is an equi-join on
    user_id against the (one row per user) first-seen aggregate —
    both sides partition on user_id, so with AQE this is a
    co-partitioned join; the final (cohort_day, offset) aggregate is
    tiny. No window over the raw stream, no cross-day self-join."""
    e = _events(spark, sf_dir)
    day = F.date_trunc("day", "ts")
    first = e.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    active = e.select("user_id", day.alias("day")).distinct()
    return (
        active.join(first, "user_id")
        .groupBy(
            F.col("cohort_day").cast("timestamp_ntz").alias("cohort_day"),
            F.datediff("day", "cohort_day").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


USER_RETENTION_COHORTS_SQL = """
WITH first AS (
  SELECT user_id, MIN(date_trunc('day', ts)) AS cohort_day
  FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
)
SELECT CAST(f.cohort_day AS TIMESTAMP) AS cohort_day,
       date_diff('day', f.cohort_day, a.day) AS day_offset,
       COUNT(DISTINCT a.user_id) AS n_users
FROM active a JOIN first f USING (user_id)
GROUP BY 1, 2
"""


def sketch_user_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct counting: per-day HLL sketches of
    active users, re-merged into per-event-type reach — the Apache
    DataSketches pattern (``hll_sketch_agg`` / ``hll_union_agg``)
    behind every incremental distinct-count warehouse rollup.

    Why this beats ``COUNT(DISTINCT)`` at 100 TB: the daily sketch is
    a few KB regardless of cardinality, daily jobs persist sketches
    instead of user-id sets, and ANY later rollup (weekly, all-time,
    cross-type) is a cheap sketch union — no re-scan of history, no
    exact-distinct shuffle of raw ids. The two-level agg here
    (day-sketch → union) exercises exactly that re-merge path.

    Estimates are engine-specific → rows-only driver check; the ≤5%
    error vs exact distinct is pytest-asserted."""
    e = _events(spark, sf_dir).select(
        "event_type", F.date_trunc("day", "ts").alias("day"), "user_id"
    )
    daily = e.groupBy("event_type", "day").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.hll_sketch_estimate(F.hll_union_agg("sk"))
            .cast("long")
            .alias("est_users"),
        )
    )


def time_weighted_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user TIME-weighted average event value — the irregular-
    series integral (each reading holds until the next one), the
    correct mean for sensor/pricing streams where plain AVG
    over-weights bursts of readings.

    Scale shape: one user_id window (lead for the holding duration —
    the single shuffle), then a plain hash-agg; ties at identical
    timestamps get zero duration and a deterministic (ts, event_id)
    order, so the result is reproducible cross-engine. Users with one
    event have no holding interval and are excluded (mirrored in the
    oracle)."""
    from pyspark.sql import Window

    e = _events(spark, sf_dir)
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    stepped = e.select(
        "user_id", "value", "ts", "event_id", us.alias("t_us")
    ).withColumn("next_us", F.lead("t_us").over(w))
    dur = (F.col("next_us") - F.col("t_us")).cast("double")
    return (
        stepped.where(F.col("next_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.round(
                F.sum(F.col("value") * dur) / F.sum(dur), 6
            ).alias("tw_avg_value"),
            F.count(F.lit(1)).alias("n_intervals"),
        )
    )


TIME_WEIGHTED_AVG_VALUE_SQL = """
WITH stepped AS (
  SELECT user_id, value,
         epoch_us(ts) AS t_us,
         LEAD(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS next_us
  FROM events
)
SELECT user_id,
       ROUND(SUM(value * CAST(next_us - t_us AS DOUBLE))
             / SUM(CAST(next_us - t_us AS DOUBLE)), 6) AS tw_avg_value,
       COUNT(*) AS n_intervals
FROM stepped WHERE next_us IS NOT NULL
GROUP BY user_id
"""


def cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT user count by day — the growth-curve metric.
    COUNT(DISTINCT) doesn't decompose into window frames, so the
    scalable rewrite is FIRST-SEEN: one user-keyed aggregate collapses
    each user to their first active day (the big map-side reduction),
    a |days|-row aggregate counts new users per day, and the running
    total is a window over that tiny calendar — the only single-
    partition step is |days|-sized by construction, never user-sized.
    """
    from pyspark.sql import Window

    e = _events(spark, sf_dir)
    first_day = (
        e.select("user_id", F.date_trunc("day", "ts").alias("day"))
        .groupBy("user_id")
        .agg(F.min("day").alias("first_day"))
    )
    daily_new = first_day.groupBy(
        F.col("first_day").cast("timestamp_ntz").alias("day")
    ).agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily_new.select(
        "day", "new_users", F.sum("new_users").over(w).alias("total_users")
    )


CUMULATIVE_UNIQUE_USERS_SQL = """
WITH first_day AS (
  SELECT user_id, MIN(date_trunc('day', ts)) AS first_day
  FROM events GROUP BY user_id
),
daily AS (
  SELECT CAST(first_day AS TIMESTAMP) AS day, COUNT(*) AS new_users
  FROM first_day GROUP BY 1
)
SELECT day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY day
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS total_users
FROM daily
"""


_SEQ_TOPK = 20


def frequent_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining, PrefixSpan-lite: the most frequent
    length-3 event-type sequences across user streams — the behavioral
    n-gram extension of :func:`event_transition_matrix`'s bigram
    Markov matrix (recommendation / funnel-design signal).

    Scale shape: ONE user_id window produces both lookahead columns
    (two leads share the same sort+shuffle), the trigram aggregate has
    at most |event_types|³ groups (partial map-side), and top-k leaves
    each partition partial (TakeOrderedAndProject). Deterministic
    (ts, event_id) intra-user order and a full lexicographic tie-break
    keep the limit boundary stable cross-engine."""
    from pyspark.sql import Window

    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        seq.where(F.col("e3").isNotNull())
        .groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "e1", "e2", "e3")
        .limit(_SEQ_TOPK)
    )


FREQUENT_EVENT_SEQUENCES_SQL = f"""
WITH seq AS (
  SELECT event_type AS e1,
         LEAD(event_type, 1) OVER w AS e2,
         LEAD(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT e1, e2, e3, COUNT(*) AS n_occurrences
FROM seq WHERE e3 IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY n_occurrences DESC, e1, e2, e3
LIMIT {_SEQ_TOPK}
"""


def exact_user_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT twin of :func:`sketch_user_reach`: per-event-type active
    days + exact distinct users. The sketch op's estimates are
    engine-specific (rows-only driver check), so this twin gives the
    driver a hash-checkable anchor for the same rollup — the pytest
    error-bound test then ties the sketch to this exact side (the
    pattern ``embedding_near_dup``/``_blocked`` already uses).

    At 100 TB the sketch variant wins (KB mergeable state vs an exact
    user-id distinct shuffle); at audit time this exact variant is the
    ground truth you reconcile the sketches against."""
    e = _events(spark, sf_dir)
    return e.groupBy("event_type").agg(
        F.countDistinct(F.date_trunc("day", "ts")).alias("n_days"),
        F.countDistinct("user_id").alias("n_users"),
    )


EXACT_USER_REACH_SQL = """
SELECT event_type,
       COUNT(DISTINCT date_trunc('day', ts)) AS n_days,
       COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""


def rolling_weekly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day (the DAU/WAU
    engagement metric). Sliding DISTINCT doesn't decompose into window
    frames, so the scalable rewrite is: collapse events to distinct
    (user, day) FIRST (the big map-side reduction), then range-join
    the tiny |days| calendar against user-days within the trailing
    week and count distinct per day — the join fans each user-day to
    ≤ 7 calendar rows, bounded and co-partitioned by day.

    (At extreme cardinalities the exact count swaps for the HLL
    sketches of ``sketch_user_reach`` — same shape, mergeable state.)
    """
    e = _events(spark, sf_dir)
    day = F.date_trunc("day", "ts")
    user_days = e.select("user_id", day.alias("day")).distinct()
    days = user_days.select("day").distinct().select(
        F.col("day").alias("metric_day")
    )
    return (
        user_days.join(
            F.broadcast(days),
            (F.col("day") <= F.col("metric_day"))
            & (F.col("day") > F.date_sub(F.col("metric_day"), 7)),
        )
        .groupBy(F.col("metric_day").cast("timestamp_ntz").alias("metric_day"))
        .agg(F.countDistinct("user_id").alias("wau"))
    )


ROLLING_WAU_SQL = """
WITH user_days AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
), days AS (
  SELECT DISTINCT day AS metric_day FROM user_days
)
SELECT CAST(d.metric_day AS TIMESTAMP) AS metric_day,
       COUNT(DISTINCT u.user_id) AS wau
FROM user_days u
JOIN days d ON u.day <= d.metric_day AND u.day > d.metric_day - INTERVAL 7 DAY
GROUP BY 1
"""


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    stream: P(next_type | prev_type) with counts — the behavioral
    model behind next-action prediction and anomaly scoring.

    Scale shape: one lag window per user (single user_id shuffle —
    ties broken by event_id so the chain is deterministic), then a
    |types|² aggregate; the probability normalizer is a window over
    that tiny matrix, not the event stream."""
    e = _events(spark, sf_dir).select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = e.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    counts = pairs.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    norm = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(norm), 6
        ).alias("p"),
    )


EVENT_TRANSITION_MATRIX_SQL = """
WITH pairs AS (
  SELECT LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events
), counts AS (
  SELECT prev_type, next_type, COUNT(*) AS n
  FROM pairs WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT prev_type, next_type, n,
       ROUND(CAST(n AS DOUBLE)
             / SUM(n) OVER (PARTITION BY prev_type), 6) AS p
FROM counts
"""


_ATTR_WINDOW_US = 7 * 24 * 3600 * 1_000_000  # 7-day attribution window


def event_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAST-TOUCH ATTRIBUTION: each purchase is credited to the same
    user's most recent click no older than 7 days — the marketing /
    conversion-funnel primitive (who gets credit for this purchase?).

    Unlike the range-join formulation (``purchases_after_clicks``
    enumerates pairs within a bucket), attribution needs exactly ONE
    click per purchase, so the right shape is a running last-value:
    filter to the two event types (pushed to the scan), ONE user_id
    window ordered by (ts, event_id) carries the latest click id/ts
    forward, purchases read it — one key-partitioned shuffle, no pair
    enumeration, linear in the event stream at any scale. Gap is
    exact integer µs, so the oracle hash-matches.
    """
    e = _events(spark, sf_dir).filter(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_click = F.col("event_type") == "click"
    s = e.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        "value",
        F.last(F.when(is_click, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("click_id"),
        F.last(F.when(is_click, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("click_ts"),
    )
    gap = F.expr("timestampdiff(MICROSECOND, click_ts, ts)")
    return (
        s.filter(
            (F.col("event_type") == "purchase")
            & F.col("click_id").isNotNull()
            & (gap <= _ATTR_WINDOW_US)
        )
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            "click_id",
            gap.cast("long").alias("gap_us"),
            dec("value").cast("double").alias("revenue"),
        )
    )


EVENT_ATTRIBUTION_LAST_TOUCH_SQL = f"""
WITH s AS (
  SELECT event_id, user_id, ts, event_type, value,
         LAST_VALUE(CASE WHEN event_type = 'click' THEN event_id END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS click_id,
         LAST_VALUE(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS click_ts
  FROM events
  WHERE event_type IN ('click', 'purchase')
)
SELECT event_id AS purchase_id, user_id, click_id,
       CAST(date_diff('microsecond', click_ts, ts) AS BIGINT) AS gap_us,
       CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS revenue
FROM s
WHERE event_type = 'purchase'
  AND click_id IS NOT NULL
  AND date_diff('microsecond', click_ts, ts) <= {_ATTR_WINDOW_US}
"""


def seasonal_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONAL-baseline anomaly detection: flag events whose value
    sits > 3 standard deviations from the mean of their (event_type,
    hour-of-day) cell — the diurnal-pattern monitor ("is this value
    odd *for 3 AM*?"), complementing ``event_value_anomalies``'s
    per-user rolling window with a global seasonal profile.

    Cross-engine exactness: the baseline moments (n, Σv, Σv²) are
    EXACT DECIMAL sums per cell (value is a 2-decimal money column),
    so mean/std and every z-score derive from bit-identical inputs in
    both engines — a float-moment baseline could flip the |z| > 3
    boundary.

    Scale shape: one partial+final hash-agg builds the ≤ |types|·24
    -row baseline; it broadcasts back onto the scan (the model-join
    pattern — events never shuffle); the output is only anomalies.
    """
    e = _events(spark, sf_dir)
    hod = F.hour(F.col("ts").cast("timestamp_ntz"))
    v = dec("value")
    base = (
        e.select("event_type", hod.alias("hod"), v.alias("v"))
        .groupBy("event_type", "hod")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("sv"),
            F.sum(F.col("v") * F.col("v")).alias("svv"),
        )
    )
    mean = F.col("sv").cast("double") / F.col("n")
    # GREATEST(.., 0): a constant-valued cell has true variance 0, but
    # the double rounding of sv²/n vs svv can land at -1e-10 — Spark
    # sqrt(neg) yields NaN (silently filtered) while DuckDB sqrt(neg)
    # hard-errors, so an unclamped oracle ABORTS on such data
    var = F.greatest(
        (
            F.col("svv").cast("double")
            - F.col("sv").cast("double")
            * F.col("sv").cast("double")
            / F.col("n")
        )
        / (F.col("n") - 1),
        F.lit(0.0),
    )
    model = base.select(
        "event_type",
        "hod",
        "n",
        mean.alias("mean_v"),
        F.sqrt(var).alias("std_v"),
    )
    scored = e.select(
        "event_id",
        "event_type",
        hod.alias("hod"),
        v.cast("double").alias("value"),
    ).join(F.broadcast(model), ["event_type", "hod"])
    z = (F.col("value") - F.col("mean_v")) / F.col("std_v")
    return scored.filter(
        (F.col("n") >= 30) & (F.col("std_v") > 0) & (F.abs(z) > 3)
    ).select(
        "event_id",
        "event_type",
        "hod",
        "value",
        F.round(z, 6).alias("z"),
    )


SEASONAL_VALUE_ANOMALIES_SQL = """
WITH base AS (
  SELECT event_type, EXTRACT(hour FROM ts) AS hod,
         COUNT(*) AS n,
         SUM(CAST(value AS DECIMAL(12,2))) AS sv,
         SUM(CAST(value AS DECIMAL(12,2))
             * CAST(value AS DECIMAL(12,2))) AS svv
  FROM events GROUP BY event_type, EXTRACT(hour FROM ts)
), model AS (
  SELECT event_type, hod, n,
         CAST(sv AS DOUBLE) / n AS mean_v,
         sqrt(GREATEST((CAST(svv AS DOUBLE)
               - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / n)
              / (n - 1), 0)) AS std_v
  FROM base
)
SELECT e.event_id, e.event_type,
       CAST(EXTRACT(hour FROM e.ts) AS INT) AS hod,
       CAST(CAST(e.value AS DECIMAL(12,2)) AS DOUBLE) AS value,
       ROUND((CAST(CAST(e.value AS DECIMAL(12,2)) AS DOUBLE) - m.mean_v)
             / m.std_v, 6) AS z
FROM events e
JOIN model m ON e.event_type = m.event_type
            AND EXTRACT(hour FROM e.ts) = m.hod
WHERE m.n >= 30 AND m.std_v > 0
  AND abs((CAST(CAST(e.value AS DECIMAL(12,2)) AS DOUBLE) - m.mean_v)
          / m.std_v) > 3
"""


SPECS: list[QuerySpec] = [
    QuerySpec("seasonal_value_anomalies", seasonal_value_anomalies,
              SEASONAL_VALUE_ANOMALIES_SQL,
              "hour-of-day baseline z-score anomalies (broadcast model)",
              ("events", "timeseries", "quality")),
    QuerySpec("event_attribution_last_touch", event_attribution_last_touch,
              EVENT_ATTRIBUTION_LAST_TOUCH_SQL,
              "last-touch purchase→click attribution via running window",
              ("events", "temporal")),
    QuerySpec("event_transition_matrix", event_transition_matrix,
              EVENT_TRANSITION_MATRIX_SQL,
              "per-user Markov transition matrix (lag window + tiny agg)",
              ("events", "ml")),
    QuerySpec("rolling_weekly_active_users", rolling_weekly_active_users,
              ROLLING_WAU_SQL,
              "trailing-7-day distinct users via bounded calendar join",
              ("events", "agg", "timeseries")),
    QuerySpec("multires_rollup", multires_rollup, MULTIRES_ROLLUP_SQL,
              "hourly+daily rollup in one shuffle via GROUPING SETS",
              ("events", "agg", "window")),
    QuerySpec("sketch_user_reach", sketch_user_reach, None,
              "per-day HLL sketches re-merged into per-type reach",
              ("events", "agg", "sketch")),
    QuerySpec("exact_user_reach", exact_user_reach, EXACT_USER_REACH_SQL,
              "exact driver-checkable twin of sketch_user_reach",
              ("events", "agg")),
    QuerySpec("time_weighted_avg_value", time_weighted_avg_value,
              TIME_WEIGHTED_AVG_VALUE_SQL,
              "per-user time-weighted mean (irregular-series integral)",
              ("events", "window", "timeseries")),
    QuerySpec("frequent_event_sequences", frequent_event_sequences,
              FREQUENT_EVENT_SEQUENCES_SQL,
              "top-k length-3 event sequences (PrefixSpan-lite)",
              ("events", "window", "ml")),
    QuerySpec("cumulative_unique_users", cumulative_unique_users,
              CUMULATIVE_UNIQUE_USERS_SQL,
              "running distinct users via first-seen rewrite",
              ("events", "window", "agg")),
    QuerySpec("event_value_anomalies", event_value_anomalies,
              EVENT_VALUE_ANOMALIES_SQL,
              "rolling z-score anomaly detection per user",
              ("events", "window", "quality")),
    QuerySpec("user_retention_cohorts", user_retention_cohorts,
              USER_RETENTION_COHORTS_SQL,
              "first-seen cohort retention by day offset",
              ("events", "agg")),
    QuerySpec("purchases_after_clicks", purchases_after_clicks,
              PURCHASES_AFTER_CLICKS_SQL,
              "interval join: purchases within 1h after a click",
              ("events", "join")),
    QuerySpec("tumbling_hourly", tumbling_hourly, TUMBLING_HOURLY_SQL,
              "tumbling 1h event-time windows", ("events", "window")),
    QuerySpec("sliding_hourly", sliding_hourly, SLIDING_HOURLY_SQL,
              "sliding 1h/30min event-time windows", ("events", "window")),
    QuerySpec("session_windows", session_windows, SESSION_WINDOWS_SQL,
              "per-user session windows, 10min gap", ("events", "window")),
    QuerySpec("top_purchasers", top_purchasers, TOP_PURCHASERS_SQL,
              "filter + agg + top-k over events", ("events",)),
    QuerySpec("events_gap_fill", events_gap_fill, EVENTS_GAP_FILL_SQL,
              "hourly resample: gap materialization + forward fill",
              ("events", "window", "timeseries")),
    QuerySpec("scd2_user_history", scd2_user_history, SCD2_USER_HISTORY_SQL,
              "SCD Type-2 versioning via lead() (CDC apply)",
              ("events", "window", "cdc")),
    QuerySpec("incremental_hourly_counts", incremental_hourly_counts,
              INCREMENTAL_HOURLY_COUNTS_SQL,
              "materialized-view maintenance: base ⊎ delta merge",
              ("events", "agg", "incremental")),
    QuerySpec("value_histogram", value_histogram, VALUE_HISTOGRAM_SQL,
              "fixed-width histogram via shared floor-div binning",
              ("events", "agg")),
]
