"""Generic temporal-join APIs: as-of join and bucketized range join.

Spark has no native ASOF JOIN or banded range join; a naive theta join
(``l.ts BETWEEN r.ts + a AND r.ts + b`` with no equality key) plans as
BroadcastNestedLoopJoin — O(n·m) pair enumeration. These operators give
both shapes a scalable plan:

- :func:`asof_join` — union + keyed window (``last IGNORE NULLS``):
  one shuffle on the key, one sort, zero pair enumeration. The pattern
  behind pandas ``merge_asof`` at cluster scale (differentially tested
  against it).
- :func:`bucketed_range_join` — time bucketed to width ``upper-lower``
  so every window spans ≤ 2 buckets: the left side fans out to its two
  candidate buckets (bounded 2× explode), the join becomes an EQUI join
  on the bucket key (hash-partitionable), and the exact window filter
  runs only inside bucket collisions. The standard binned range-join
  rewrite (cf. interval joins in stream processors).

Epoch arithmetic uses exact integer microseconds so bucket assignment
can't drift on sub-second timestamps: ``unix_micros`` for TIMESTAMP
columns, ``timestampdiff`` from the NTZ epoch for TIMESTAMP_NTZ (which
``unix_micros`` rejects at analysis time).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType

from data_ingestion_tool_spark.operators.base import QuerySpec, materialize
from data_ingestion_tool_spark.sources.tables import load_table


def _epoch_us(df: DataFrame, col: str) -> Column:
    """Integer µs since epoch for an LTZ *or* NTZ timestamp column.

    NTZ needs ``timestampdiff`` (tz-independent); LTZ keeps
    ``unix_micros`` which returns the raw stored micros.
    """
    if isinstance(df.schema[col].dataType, TimestampNTZType):
        return F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})"
        )
    return F.unix_micros(F.col(col))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    by: list[str],
    value_cols: list[str],
    direction: str = "backward",
    allow_exact_matches: bool = True,
    tiebreak: str | None = None,
) -> DataFrame:
    """For each left row, the nearest right row at-or-before (backward)
    / at-or-after (forward) its ``on`` timestamp within the same ``by``
    key — left columns + the matched right ``value_cols``.

    Union both sides, then one window per key carries the most recent
    right values onto left rows: ``last(..., ignorenulls)`` over
    ``(UNBOUNDED PRECEDING, -1)`` for backward, ``first`` over
    ``(1, UNBOUNDED FOLLOWING)`` for forward. Exact-match ties are
    controlled by the intra-timestamp sort order (right-before-left
    includes same-instant matches; left-before-right excludes them),
    so the row frame never needs a value-based bound.

    ``tiebreak`` names a right-side column appended (ascending) to the
    intra-timestamp sort: when several right rows share one ``(by, on)``
    instant, backward picks the HIGHEST tiebreak row, forward the
    LOWEST — deterministic across engines instead of partition-order
    luck. It must not collide with a left column; it is dropped from
    the output. Without it, same-instant right-row ties keep engine
    order (pandas ``merge_asof`` parity, differential-tested).

    Scale shape: ONE shuffle on ``by``, one spill-safe sort — never a
    pair join.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward/forward, got {direction!r}")
    if tiebreak is not None and tiebreak in left.columns:
        raise ValueError(
            f"tiebreak column {tiebreak!r} collides with a left column; "
            "alias it on the right side first"
        )

    extra = [tiebreak] if tiebreak is not None else []
    lcols = left.columns
    l = left.withColumn("_side", F.lit(1))
    r = right.select(
        *by,
        F.col(on).alias(on),
        *[F.col(c) for c in value_cols],
        *[F.col(c) for c in extra],
    ).withColumn("_side", F.lit(0))
    for c in lcols:
        if c not in r.columns:
            r = r.withColumn(c, F.lit(None))
    for c in value_cols + extra:
        if c not in l.columns:
            l = l.withColumn(c, F.lit(None))
    u = l.select(*lcols, *value_cols, *extra, "_side").unionByName(
        r.select(*lcols, *value_cols, *extra, "_side")
    )

    # Same-ts ordering decides exact-match semantics (see docstring).
    right_first = allow_exact_matches == (direction == "backward")
    side_order = F.col("_side").asc() if right_first else F.col("_side").desc()
    base = Window.partitionBy(*by).orderBy(
        F.col(on), side_order, *[F.col(c).asc() for c in extra]
    )

    if direction == "backward":
        w = base.rowsBetween(Window.unboundedPreceding, -1)
        pick = [
            F.last(F.when(F.col("_side") == 0, F.col(c)), ignorenulls=True)
            .over(w)
            .alias(c)
            for c in value_cols
        ]
    else:
        w = base.rowsBetween(1, Window.unboundedFollowing)
        pick = [
            F.first(F.when(F.col("_side") == 0, F.col(c)), ignorenulls=True)
            .over(w)
            .alias(c)
            for c in value_cols
        ]
    return (
        u.select(*lcols, "_side", *pick)
        .filter(F.col("_side") == 1)
        .drop("_side")
    )


def bucketed_range_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_ts: str,
    right_ts: str,
    lower_s: int,
    upper_s: int,
    by: list[str] | None = None,
) -> DataFrame:
    """All (left, right) pairs with ``right_ts ∈ [left_ts + lower_s,
    left_ts + upper_s]`` (+ optional equality keys) WITHOUT a
    nested-loop plan — see module docstring. Caller guarantees the two
    inputs share no column names besides ``by``.
    """
    if upper_s <= lower_s:
        raise ValueError("upper_s must exceed lower_s")
    w_us = (upper_s - lower_s) * 1_000_000
    lo_us = lower_s * 1_000_000
    hi_us = upper_s * 1_000_000
    by = by or []

    def div(c: Column, d: int) -> Column:
        return F.floor(c / F.lit(d)).cast("long")

    l_epoch = _epoch_us(left, left_ts)
    r_epoch = _epoch_us(right, right_ts)
    l = left.withColumn(
        "_bucket",
        F.explode(
            F.sequence(div(l_epoch + lo_us, w_us), div(l_epoch + hi_us, w_us))
        ),
    )
    r = right.withColumn("_bucket", div(r_epoch, w_us))
    return (
        l.join(r, ["_bucket", *by])
        .filter((r_epoch >= l_epoch + lo_us) & (r_epoch <= l_epoch + hi_us))
        .drop("_bucket")
    )


def global_click_purchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-user range join: every (click, purchase) pair — ANY users
    — with the purchase inside 5 minutes after the click. No equality
    key exists, so a naive formulation is a nested-loop over all
    clicks × all purchases; the bucketized rewrite keeps it an
    equi-join (plan-asserted: zero BroadcastNestedLoopJoin)."""
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return bucketed_range_join(
        clicks,
        purchases,
        left_ts="click_ts",
        right_ts="purchase_ts",
        lower_s=0,
        upper_s=300,
    ).select("click_id", "purchase_id")


GLOBAL_CLICK_PURCHASE_PAIRS_SQL = """
SELECT c.event_id AS click_id, p.event_id AS purchase_id
FROM events c JOIN events p
  ON p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 5 MINUTE
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
"""


def point_in_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature join (the feature-store pattern):
    every purchase gets the user's most recent click STRICTLY BEFORE
    it — never a feature from the future, never label leakage. This is
    the training-set assembly join every ML platform must get right;
    the naive inner-join-then-filter-latest version is both wrong
    (leaks same-instant features) and a row explosion.

    Built on :func:`asof_join`: ONE shuffle on user_id, one sort, zero
    pair enumeration; ``allow_exact_matches=False`` is the strictness
    knob (same-timestamp clicks sort after the purchase, so the window
    never sees them)."""
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts",
        F.col("value").alias("purchase_value"),
    )
    # value+ts packed in ONE struct so the picked feature pair always
    # comes from the SAME click row — two independent ignorenulls
    # windows could stitch (ts, value) from different clicks when a
    # click's value is NULL
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts",
        F.struct(
            F.col("value").alias("v"), F.col("ts").alias("t")
        ).alias("last_click"),
        F.col("event_id").alias("_click_id"),
    )
    return asof_join(
        purchases,
        clicks,
        on="ts",
        by=["user_id"],
        value_cols=["last_click"],
        direction="backward",
        allow_exact_matches=False,
        tiebreak="_click_id",
    ).select(
        "event_id", "user_id", "purchase_value",
        F.col("last_click.v").alias("last_click_value"),
        F.col("last_click.t").alias("last_click_ts"),
    )


POINT_IN_TIME_FEATURES_SQL = """
SELECT event_id, user_id, purchase_value,
       last_click.v AS last_click_value,
       last_click.t AS last_click_ts
FROM (
  SELECT event_id, user_id, ts, side,
         value AS purchase_value,
         LAST_VALUE(CASE WHEN side = 0
                         THEN struct_pack(v := value, t := ts)
                    END IGNORE NULLS)
           OVER w AS last_click
  FROM (
    SELECT event_id, user_id, ts, value,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS side
    FROM events WHERE event_type IN ('click', 'purchase')
  )
  WINDOW w AS (PARTITION BY user_id
               ORDER BY ts, side DESC, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
) WHERE side = 1
"""


def next_purchase_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of: for every click, the user's NEXT purchase at or
    after it — the attribution-window lookup (which conversion does a
    click get credit for). Exercises :func:`asof_join`'s forward
    direction with exact-match inclusion; same one-shuffle union +
    window shape as backward."""
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts",
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts",
        F.struct(
            F.col("value").alias("v"), F.col("ts").alias("t")
        ).alias("next_purchase"),
        F.col("event_id").alias("_purchase_id"),
    )
    return asof_join(
        clicks,
        purchases,
        on="ts",
        by=["user_id"],
        value_cols=["next_purchase"],
        direction="forward",
        allow_exact_matches=True,
        tiebreak="_purchase_id",
    ).select(
        "event_id", "user_id",
        F.col("next_purchase.v").alias("next_purchase_value"),
        F.col("next_purchase.t").alias("next_purchase_ts"),
    )


NEXT_PURCHASE_VALUE_SQL = """
SELECT event_id, user_id,
       np.v AS next_purchase_value,
       np.t AS next_purchase_ts
FROM (
  SELECT event_id, user_id, ts, side,
         FIRST_VALUE(CASE WHEN side = 0
                          THEN struct_pack(v := value, t := ts)
                     END IGNORE NULLS)
           OVER w AS np
  FROM (
    SELECT event_id, user_id, ts, value,
           CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS side
    FROM events WHERE event_type IN ('click', 'purchase')
  )
  WINDOW w AS (PARTITION BY user_id
               ORDER BY ts, side DESC, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
) WHERE side = 1
"""


#: Interval-join bucket-width CEILING (µs): 1 hour — also the width
#: every small corpus uses. Sessions replicate to the buckets they
#: span; fan-out is bounded by session duration / width.
_CONC_BUCKET_US = 3_600 * 1_000_000
#: Auto-width floor (µs): below ~1 minute the replication fan-out
#: (duration/width) costs more than the bucket shrink saves.
_CONC_MIN_BUCKET_US = 60 * 1_000_000
#: Auto-width density target: ~this many items per bucket, so the
#: sweep's per-bucket sorts and the G-join's per-bucket collision
#: lists stay bounded as traffic density grows (width ≈ span ×
#: target / n, clamped). The session table is narrow and the width
#: derivation rides the count/min/max agg the sweep needs anyway.
_CONC_TARGET_EVENTS = 2048


#: Two-level rank-prefix fan-in for the sweep-line path: the cross-
#: bucket running totals are prefix-summed inside superbuckets of this
#: many buckets, then across superbucket aggregates — so no single
#: task ever orders more than ``buckets / _RANK_SUPER`` rows, however
#: long the time axis grows.
_RANK_SUPER = 1 << 16
#: Minimum intra-user session gap (µs): the ``session_windows``
#: 10-minute islands rule. Also the floor on inter-session gap length,
#: which is what lets the G-term join pre-filter to sessions at least
#: this long (shorter intervals cannot contain any gap).
_CONC_GAP_US = 600 * 1_000_000


def _sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events → per-user 10-minute-gap session islands:
    ``(user_id, s_us, e_us)`` closed µs intervals, the shared input of
    both :func:`concurrent_sessions` paths. One shuffle on user_id;
    ``(user_id, s_us)`` is a unique session key (islands of one user
    have strictly increasing starts)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    lag_us = F.lag(_epoch_us(e, "ts")).over(w)
    flagged = e.select(
        "user_id",
        _epoch_us(e, "ts").alias("ts_us"),
        F.when(
            lag_us.isNull()
            | (_epoch_us(e, "ts") - lag_us >= _CONC_GAP_US),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    numbered = flagged.select(
        "user_id",
        "ts_us",
        F.sum("new_session")
        .over(
            Window.partitionBy("user_id")
            .orderBy("ts_us")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("session_id"),
    )
    return numbered.groupBy("user_id", "session_id").agg(
        F.min("ts_us").alias("s_us"), F.max("ts_us").alias("e_us")
    )


def _conc_auto_width(n: int, span: int) -> int:
    """Density-derived bucket width: ≈ ``_CONC_TARGET_EVENTS`` items
    per bucket, clamped to [1 min, 1 h]."""
    return int(
        min(
            _CONC_BUCKET_US,
            max(
                _CONC_MIN_BUCKET_US,
                span * _CONC_TARGET_EVENTS // max(n, 1),
            ),
        )
    )


def concurrent_sessions(
    spark: SparkSession,
    sf_dir: str,
    *,
    bucket_width_us: int | None = None,
) -> DataFrame:
    """For every user session, how many OTHER users had a session
    overlapping it in time — the concurrency / capacity-planning
    question asked at session granularity. Sessions are the
    10-minute-gap islands of ``session_windows`` ([min_ts, max_ts]
    closed intervals).

    SWEEP-LINE, NOT PAIR ENUMERATION (round 7): the r06 audit showed
    the bucketed pair join's width knob saturating — at 100× density
    the 1-hour and auto-narrowed widths both cost ~340 s because
    Σ C(bucket members, 2) candidates is what a pairwise plan pays no
    matter how the buckets are drawn (linear in width only while
    width ≫ session duration; this corpus' sessions are mostly
    points). But the DISTINCT-USER overlap count never needed pairs.
    Because one user's sessions are disjoint islands separated by
    ≥ 10-minute gaps, the sessions of user u intersecting a query
    interval [s, e] form one CONSECUTIVE run, and a run of k sessions
    contains exactly k−1 inter-session gaps wholly inside [s, e]
    (gap [g_s, g_e] between consecutive sessions: both endpoints
    intersect [s, e] ⟺ g_s ≥ s AND g_e ≤ e). Summing over users:

        n_concurrent_users(a)
            = #{sessions b : b.s ≤ a.e} − #{sessions b : b.e < a.s}
              − #{gaps g : g.s ≥ a.s AND g.e ≤ a.e} − 1

    (the first two terms count ALL sessions intersecting a — classic
    interval stabbing by order statistics; the gap term collapses
    each user's run to one; the −1 removes a itself, the only
    own-user session intersecting a — neighbors sit ≥ 10 min away —
    and own-user gaps are never contained, so no same-user filter is
    needed anywhere). Differentially pinned against the pairwise
    reference (:func:`_concurrent_sessions_pairs`) and oracle-checked
    against DuckDB's COUNT(DISTINCT) self-join.

    The two order statistics are ONE union + ONE bucket-partitioned
    running sum: session starts (kind 0), per-session queries at a.e
    (kind 1) and a.s (kind 2), session ends (kind 3), ordered by
    (value, kind) so that equal-value starts sort before the ≤-query
    and equal-value ends after the <-query. Cross-bucket offsets are
    per-bucket totals prefix-summed with an ADAPTIVE fan-in (round
    12): while the driver-known bucket count fits one superbucket
    (≤ ``_RANK_SUPER`` — true at sf0.1 and the 100× audit) the
    offsets are ONE bounded single-partition prefix window broadcast
    back onto the ranked stream — 3 fewer stage barriers on the
    many-short-stage shape stragglers/contention amplify (r11 verdict
    item 1); a time axis that outgrows a superbucket pays the
    two-level ladder (bounded rows per task at any length). The
    gap term is a
    bucket equi-join that only sessions ≥ the 10-minute gap floor can
    enter (an interval shorter than the shortest gap contains none) —
    12 of 98.5k sessions at sf0.1, ~1.2k of 9.9M at the 100× audit.
    Every stage is O(N) rows through hash exchanges + bounded-bucket
    sorts: no candidate pair stream exists at any density. At 100×
    the audit entry drops from 346 s (pairwise, either width) to
    scan-tier seconds.

    ``bucket_width_us`` (default: density-derived, ≈ 2048 items per
    bucket clamped to [1 min, 1 h]) only redraws rank/gap bucket
    boundaries; the output is width-invariant (pytest-pinned). The
    narrow session table is materialized once: four downstream
    subtrees read it.
    """
    sess = materialize(_sessionize(spark, sf_dir))
    n, lo, hi = sess.agg(
        F.count(F.lit(1)), F.min("s_us"), F.max("e_us")
    ).first()
    out_cols = [
        "user_id",
        # tz-independent NTZ reconstruction (timestamp_micros is
        # LTZ and would shift under a foreign session timezone)
        F.expr(
            "timestampadd(MICROSECOND, s_us,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
        ).alias("session_start"),
    ]
    if not n:
        return sess.select(
            *out_cols, F.lit(0).cast("long").alias("n_concurrent_users")
        )
    if bucket_width_us is None:
        bucket_width_us = _conc_auto_width(n, max(int(hi) - int(lo), 1))
    w_us = int(bucket_width_us)
    if w_us <= 0:
        raise ValueError(f"bucket_width_us must be positive, got {w_us}")

    # ---- S term: #starts ≤ a.e and #ends < a.s via one bucketed sweep
    uid_t = sess.schema["user_id"].dataType
    null_uid = F.lit(None).cast(uid_t).alias("q_user")
    null_s = F.lit(None).cast("long").alias("q_s")
    pts_s = sess.select(
        F.col("s_us").alias("val"), F.lit(0).alias("kind"), null_uid, null_s
    )
    q_end = sess.select(
        F.col("e_us").alias("val"),
        F.lit(1).alias("kind"),
        F.col("user_id").alias("q_user"),
        F.col("s_us").alias("q_s"),
    )
    q_start = sess.select(
        F.col("s_us").alias("val"),
        F.lit(2).alias("kind"),
        F.col("user_id").alias("q_user"),
        F.col("s_us").alias("q_s"),
    )
    pts_e = sess.select(
        F.col("e_us").alias("val"), F.lit(3).alias("kind"), null_uid, null_s
    )
    u = (
        pts_s.unionByName(q_end)
        .unionByName(q_start)
        .unionByName(pts_e)
        .withColumn("bucket", F.expr(f"val div {w_us}"))
    )
    is_start = F.when(F.col("kind") == 0, 1).otherwise(0)
    is_end = F.when(F.col("kind") == 3, 1).otherwise(0)
    win = (
        Window.partitionBy("bucket")
        .orderBy("val", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = u.select(
        "bucket",
        "kind",
        "q_user",
        "q_s",
        F.sum(is_start).over(win).alias("in_starts"),
        F.sum(is_end).over(win).alias("in_ends"),
    ).filter(F.col("kind").isin(1, 2))
    # cross-bucket prefix: per-bucket totals built from the SAME union
    # (so every query row's bucket exists). ADAPTIVE FAN-IN (round
    # 12): the bucket count is known on the driver, so while it fits
    # one superbucket — true at sf0.1 (~5k) and the 100× audit (~20k)
    # — the two-level ladder's extra stages are pure scheduler
    # round-trips: a single-partition prefix window over ≤ _RANK_SUPER
    # totals is bounded by construction and saves 3 barriers on the
    # many-short-stage path stragglers/contention amplify; the ladder
    # remains the plan once the axis outgrows one superbucket.
    n_buckets = int(hi) // w_us - int(lo) // w_us + 1
    bt = u.groupBy("bucket").agg(
        F.sum(is_start).alias("b_starts"), F.sum(is_end).alias("b_ends")
    )
    if n_buckets <= _RANK_SUPER:
        w_flat = Window.orderBy("bucket").rowsBetween(
            Window.unboundedPreceding, -1
        )
        # ≤ _RANK_SUPER rows of three longs: broadcast the join back
        # onto the ranked stream instead of reshuffling it
        prefix = F.broadcast(
            bt.select(
                "bucket",
                F.coalesce(F.sum("b_starts").over(w_flat), F.lit(0)).alias(
                    "pre_starts"
                ),
                F.coalesce(F.sum("b_ends").over(w_flat), F.lit(0)).alias(
                    "pre_ends"
                ),
            )
        )
    else:
        bt = bt.withColumn("sb", F.expr(f"bucket div {_RANK_SUPER}"))
        w_in = (
            Window.partitionBy("sb")
            .orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        bt = bt.select(
            "bucket",
            "sb",
            F.coalesce(F.sum("b_starts").over(w_in), F.lit(0)).alias(
                "p_in_s"
            ),
            F.coalesce(F.sum("b_ends").over(w_in), F.lit(0)).alias(
                "p_in_e"
            ),
            "b_starts",
            "b_ends",
        )
        sup = bt.groupBy("sb").agg(
            F.sum("b_starts").alias("sb_starts"),
            F.sum("b_ends").alias("sb_ends"),
        )
        # superbucket aggregates: buckets/_RANK_SUPER rows — a bounded
        # single-partition prefix window by construction
        w_sup = Window.orderBy("sb").rowsBetween(
            Window.unboundedPreceding, -1
        )
        sup = sup.select(
            "sb",
            F.coalesce(F.sum("sb_starts").over(w_sup), F.lit(0)).alias(
                "p_sup_s"
            ),
            F.coalesce(F.sum("sb_ends").over(w_sup), F.lit(0)).alias(
                "p_sup_e"
            ),
        )
        prefix = bt.join(F.broadcast(sup), "sb").select(
            "bucket",
            (F.col("p_sup_s") + F.col("p_in_s")).alias("pre_starts"),
            (F.col("p_sup_e") + F.col("p_in_e")).alias("pre_ends"),
        )
    s_term = (
        ranked.join(prefix, "bucket")
        .groupBy(
            F.col("q_user").alias("user_id"), F.col("q_s").alias("s_us")
        )
        .agg(
            F.max(
                F.when(
                    F.col("kind") == 1,
                    F.col("pre_starts") + F.col("in_starts"),
                )
            ).alias("starts_leq"),
            F.max(
                F.when(
                    F.col("kind") == 2, F.col("pre_ends") + F.col("in_ends")
                )
            ).alias("ends_lt"),
        )
    )

    # ---- G term: gaps wholly inside [a.s, a.e] — only sessions at
    # least one gap length long can contain any, so the replicated
    # side is the ≥10-minute tail, not the corpus
    w_user = Window.partitionBy("user_id").orderBy("s_us")
    gaps = sess.select(
        F.lag("e_us").over(w_user).alias("g_s"),
        F.col("s_us").alias("g_e"),
    ).filter(F.col("g_s").isNotNull())
    long_sess = sess.filter(
        F.col("e_us") - F.col("s_us") >= _CONC_GAP_US
    ).select(
        "user_id",
        "s_us",
        "e_us",
        F.explode(
            F.sequence(
                F.expr(f"s_us div {w_us}"), F.expr(f"e_us div {w_us}")
            )
        ).alias("gbucket"),
    )
    g_term = (
        long_sess.join(
            gaps.withColumn("gbucket", F.expr(f"g_s div {w_us}")), "gbucket"
        )
        # a gap lives in exactly one bucket (keyed by g_s), so each
        # (session, gap) meets at most once — no exactly-once rule
        .filter(
            (F.col("g_s") >= F.col("s_us")) & (F.col("g_e") <= F.col("e_us"))
        )
        .groupBy("user_id", "s_us")
        .agg(F.count(F.lit(1)).alias("n_gaps"))
    )

    return (
        sess.join(s_term, ["user_id", "s_us"])
        .join(g_term, ["user_id", "s_us"], "left")
        .select(
            *out_cols,
            (
                F.col("starts_leq")
                - F.col("ends_lt")
                - F.coalesce(F.col("n_gaps"), F.lit(0))
                - F.lit(1)
            )
            .cast("long")
            .alias("n_concurrent_users"),
        )
    )


def _concurrent_sessions_pairs(
    spark: SparkSession,
    sf_dir: str,
    *,
    bucket_width_us: int | None = None,
) -> DataFrame:
    """Pairwise reference implementation of :func:`concurrent_sessions`
    — the bucketed interval-overlap join it replaced in round 7, kept
    as the differential-test twin (it mirrors the oracle's
    COUNT(DISTINCT) self-join row for row). Each session replicates to
    the width-``bucket_width_us`` buckets it spans, candidates
    equi-join on the bucket, each overlapping pair is emitted EXACTLY
    ONCE (only in ``greatest(floor(a.start), floor(b.start))``, the
    first bucket both occupy). Bounded and shardable — but it pays
    Σ C(bucket members, 2) candidate enumeration, which saturates at
    high density regardless of width (the r06→r07 audit measurement
    that motivated the sweep-line rewrite).
    """
    sess = _sessionize(spark, sf_dir)
    if bucket_width_us is None:
        n, lo, hi = sess.agg(
            F.count(F.lit(1)), F.min("s_us"), F.max("e_us")
        ).first()
        if not n:
            bucket_width_us = _CONC_BUCKET_US
        else:
            bucket_width_us = _conc_auto_width(n, max(int(hi) - int(lo), 1))
    w_us = int(bucket_width_us)
    if w_us <= 0:
        raise ValueError(f"bucket_width_us must be positive, got {w_us}")
    exploded = sess.select(
        "user_id",
        "s_us",
        "e_us",
        F.explode(
            F.sequence(
                F.expr(f"s_us div {w_us}"),
                F.expr(f"e_us div {w_us}"),
            )
        ).alias("bucket"),
    )
    a = exploded.select(
        F.col("user_id").alias("a_user"),
        F.col("s_us").alias("a_s"),
        F.col("e_us").alias("a_e"),
        "bucket",
    )
    o = exploded.select(
        F.col("user_id").alias("b_user"),
        F.col("s_us").alias("b_s"),
        F.col("e_us").alias("b_e"),
        "bucket",
    )
    pairs = a.join(o, "bucket").filter(
        (F.col("a_user") != F.col("b_user"))
        & (F.col("a_s") <= F.col("b_e"))
        & (F.col("b_s") <= F.col("a_e"))
        # exactly-once: only the first bucket both sessions occupy
        & (
            F.col("bucket")
            == F.greatest(
                F.expr(f"a_s div {w_us}"),
                F.expr(f"b_s div {w_us}"),
            )
        )
    )
    counts = pairs.groupBy("a_user", "a_s").agg(
        F.countDistinct("b_user").alias("n_concurrent_users")
    )
    return (
        sess.join(
            counts,
            (sess.user_id == counts.a_user) & (sess.s_us == counts.a_s),
            "left",
        )
        .select(
            "user_id",
            F.expr(
                "timestampadd(MICROSECOND, s_us,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ).alias("session_start"),
            F.coalesce("n_concurrent_users", F.lit(0)).alias(
                "n_concurrent_users"
            ),
        )
    )


CONCURRENT_SESSIONS_SQL = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w >= INTERVAL '10 minutes'
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
), sessions AS (
  SELECT user_id, MIN(ts) AS s, MAX(ts) AS e
  FROM numbered GROUP BY user_id, session_id
), counts AS (
  SELECT a.user_id, a.s,
         COUNT(DISTINCT b.user_id) AS n_concurrent_users
  FROM sessions a JOIN sessions b
    ON a.user_id <> b.user_id AND a.s <= b.e AND b.s <= a.e
  GROUP BY a.user_id, a.s
)
SELECT s.user_id, s.s AS session_start,
       CAST(COALESCE(c.n_concurrent_users, 0) AS BIGINT)
         AS n_concurrent_users
FROM sessions s
LEFT JOIN counts c ON s.user_id = c.user_id AND s.s = c.s
"""


SPECS: list[QuerySpec] = [
    QuerySpec(
        "concurrent_sessions",
        concurrent_sessions,
        CONCURRENT_SESSIONS_SQL,
        "sweep-line interval concurrency: per-session distinct-user"
        " counts without pair enumeration",
        ("join", "timeseries", "events"),
    ),
    QuerySpec(
        "next_purchase_value",
        next_purchase_value,
        NEXT_PURCHASE_VALUE_SQL,
        "forward as-of: attribution-window next-purchase lookup",
        ("join", "timeseries", "ml"),
    ),
    QuerySpec(
        "global_click_purchase_pairs",
        global_click_purchase_pairs,
        GLOBAL_CLICK_PURCHASE_PAIRS_SQL,
        "keyless range join via time-bucket equi-join rewrite",
        ("join", "timeseries"),
    ),
    QuerySpec(
        "point_in_time_features",
        point_in_time_features,
        POINT_IN_TIME_FEATURES_SQL,
        "point-in-time-correct feature join (no label leakage)",
        ("join", "timeseries", "ml"),
    ),
]
