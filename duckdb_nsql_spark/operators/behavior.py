"""Behavioral / product-analytics operators over the events table:
ordered funnel analysis and weekly retention cohorts — the two classic
event-analytics reports an OLAP engine is asked for, expressed as
keyed-shuffle DataFrame pipelines.

Both are exactly SQL-expressible (min-timestamp joins, date_trunc week
buckets, integer day arithmetic), so the driver's DuckDB oracle can
hash-match every value; the one ratio column per report is a single
IEEE division of exact integers rounded to 4 dp.

Scale design:
- funnel: one aggregate per step keyed on user_id (the natural
  partition key of event data — every shuffle in both reports reuses
  it); step tables shrink monotonically, and the final report is
  |steps| rows.
- retention: distinct (user, week) reduces the event volume BEFORE the
  cohort join; the report is |cohorts| x |weeks| rows. The cohort table
  (one row per user) joins back user-keyed; at 100 TB both sides are
  user-partitioned so the join co-locates with AQE/bucketing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..introspect import local_df


def funnel_steps(
    events: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered funnel: a user converts step i only with an event of that
    type STRICTLY AFTER their step i-1 conversion time (first-touch
    semantics: each step's conversion time is the user's earliest
    qualifying event). Emits one row per step with the surviving user
    count and the conversion rate vs the first step.
    """
    def count_row(df: DataFrame, i: int, name: str) -> DataFrame:
        return df.agg(F.count("*").cast("long").alias("n_users")).select(
            F.lit(i).alias("step"), F.lit(name).alias("step_name"), "n_users"
        )

    prev = (
        events.where(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("t"))
    )
    step_counts = [count_row(prev, 0, steps[0])]
    for i, s in enumerate(steps[1:], start=1):
        nxt = (
            events.where(F.col(type_col) == s)
            .join(prev.select(user_col, F.col("t").alias("_pt")), user_col)
            .where(F.col(ts_col) > F.col("_pt"))
            .groupBy(user_col)
            .agg(F.min(ts_col).alias("t"))
        )
        step_counts.append(count_row(nxt, i, s))
        prev = nxt
    counts = step_counts[0]
    for c in step_counts[1:]:
        counts = counts.unionAll(c)
    first = counts.where(F.col("step") == 0).select(
        F.col("n_users").alias("_n0")
    )
    return counts.crossJoin(F.broadcast(first)).select(
        "step",
        "step_name",
        "n_users",
        F.round(F.col("n_users") / F.col("_n0"), 4).alias("conversion"),
    )


def retention_cohorts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly retention cohorts: users grouped by the Monday-start week
    of their first event; for each (cohort week, week offset) the
    number of cohort users active that week and the retention rate vs
    the cohort size. Offsets are exact integer day arithmetic
    (datediff / 7), so only the final rate divides.
    """
    week = F.date_trunc("week", F.col(ts_col))
    activity = events.select(
        user_col, week.cast("date").alias("week")
    ).distinct()
    cohort = activity.groupBy(user_col).agg(
        F.min("week").alias("cohort_week")
    )
    sizes = cohort.groupBy("cohort_week").agg(
        F.count("*").cast("long").alias("cohort_n")
    )
    joined = activity.join(cohort, user_col).select(
        "cohort_week",
        (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
        .cast("int")
        .alias("week_offset"),
        user_col,
    )
    active = joined.groupBy("cohort_week", "week_offset").agg(
        F.countDistinct(user_col).cast("long").alias("n_active")
    )
    return active.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "cohort_n",
        F.round(F.col("n_active") / F.col("cohort_n"), 4).alias("retention"),
    )


def last_touch_attribution(
    events: DataFrame,
    touch_types: tuple[str, ...] = ("view", "click"),
    conversion_type: str = "purchase",
    window_days: int = 7,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    order_col: str = "event_id",
) -> DataFrame:
    """Last-touch attribution: each conversion is credited to the most
    recent touch event (strictly earlier, same user, within the
    attribution window); conversions with no qualifying touch report as
    channel 'unattributed'. Revenue sums in DECIMAL after a 4-dp round,
    so the aggregate is order-independent and engine-exact.

    Same union+carry-forward window shape as the as-of join (one
    user-keyed shuffle): touches and conversions interleave on
    (ts, event_id) per user and the last touch's (type, ts) carries
    forward with ignoreNulls last_value — no per-conversion subquery,
    no range join explosion.
    """
    touches = events.where(F.col(type_col).isin(*touch_types)).select(
        user_col,
        ts_col,
        F.col(order_col).alias("_ord"),
        F.col(type_col).alias("_touch"),
        F.lit(None).cast("double").alias("_value"),
        F.lit(0).alias("_is_conv"),
    )
    convs = events.where(F.col(type_col) == conversion_type).select(
        user_col,
        ts_col,
        F.col(order_col).alias("_ord"),
        F.lit(None).cast("string").alias("_touch"),
        F.col(value_col).alias("_value"),
        F.lit(1).alias("_is_conv"),
    )
    from pyspark.sql import Window as W

    win = (
        W.partitionBy(user_col)
        .orderBy(ts_col, "_ord", "_is_conv")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    carried = touches.unionAll(convs).select(
        user_col,
        ts_col,
        "_value",
        "_is_conv",
        F.last("_touch", ignorenulls=True).over(win).alias("_last_touch"),
        F.last(
            F.when(F.col("_touch").isNotNull(), F.col(ts_col)),
            ignorenulls=True,
        )
        .over(win)
        .alias("_last_ts"),
    )
    attributed = carried.where(F.col("_is_conv") == 1).select(
        F.when(
            F.col("_last_touch").isNotNull()
            & (
                # integer MICROSECONDS (unix_micros / DuckDB epoch_us);
                # NTZ -> LTZ cast only for the micros arithmetic, same
                # idiom as asof.sessionize
                F.unix_micros(F.col(ts_col).cast("timestamp"))
                - F.unix_micros(F.col("_last_ts").cast("timestamp"))
                <= window_days * 86400 * 1_000_000
            ),
            F.col("_last_touch"),
        )
        .otherwise(F.lit("unattributed"))
        .alias("channel"),
        F.round(F.col("_value"), 4).cast("decimal(14,4)").alias("_rev"),
    )
    return attributed.groupBy("channel").agg(
        F.count("*").cast("long").alias("n_conversions"),
        # exact DECIMAL accumulation, DOUBLE on the wire (one exact
        # decimal->double conversion, identical in both engines)
        F.sum("_rev").cast("double").alias("revenue"),
    )


def lateness_audit(
    events: DataFrame,
    watermarks_s: tuple[int, ...] = (0, 300, 1800, 7200),
    ts_col: str = "ts",
    order_col: str = "event_id",
    bucket_size: int = 4096,
) -> DataFrame:
    """Watermark lateness audit: for each candidate watermark delay, how
    many events would a streaming job DROP — the planning tool run over
    a batch sample of the feed before choosing `withWatermark`. An
    event's lateness is the gap between its event time and the max
    event time already seen at its arrival position (``order_col`` as
    the arrival proxy).

    The running max is a DISTRIBUTED two-level prefix scan, not a
    single-partition global window: per-bucket maxima (one aggregate)
    -> prefix max over the tiny bucket table -> within-bucket running
    max (windows partitioned BY BUCKET), combined with greatest(). At
    100 TB the only global structure is the |buckets|-row prefix table.
    All lateness math is integer microseconds.
    """
    from pyspark.sql import Window as W

    base = events.select(
        F.col(order_col).alias("_ord"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"),
    ).withColumn("_bucket", F.expr(f"_ord div {bucket_size}"))
    per_bucket = base.groupBy("_bucket").agg(F.max("_us").alias("_bmax"))
    prefix = per_bucket.select(
        "_bucket",
        F.max("_bmax")
        .over(
            W.orderBy("_bucket").rowsBetween(W.unboundedPreceding, -1)
        )
        .alias("_prev_max"),
    )
    within = base.withColumn(
        "_wmax",
        F.max("_us").over(
            W.partitionBy("_bucket")
            .orderBy("_ord")
            .rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    run = within.join(F.broadcast(prefix), "_bucket").select(
        "_us",
        F.greatest(
            F.col("_wmax"), F.coalesce(F.col("_prev_max"), F.col("_wmax"))
        ).alias("_run"),
    )
    lateness = run.select(
        (F.col("_run") - F.col("_us")).alias("_late_us")
    )
    wm = local_df(events.sparkSession, [(w,) for w in watermarks_s],
                  T.StructType().add("watermark_s", T.IntegerType()))
    j = lateness.crossJoin(F.broadcast(wm))
    return j.groupBy("watermark_s").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(
            F.when(
                F.col("_late_us") > F.col("watermark_s").cast("long") * 1_000_000,
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_dropped"),
        F.round(
            F.sum(
                F.when(
                    F.col("_late_us")
                    > F.col("watermark_s").cast("long") * 1_000_000,
                    1,
                ).otherwise(0)
            )
            / F.count("*"),
            4,
        ).alias("drop_share"),
    )


def linear_attribution(
    events: DataFrame,
    touch_types: tuple[str, ...] = ("view", "click"),
    conversion_type: str = "purchase",
    window_days: int = 7,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    order_col: str = "event_id",
) -> DataFrame:
    """LINEAR (multi-touch) attribution: each conversion's value splits
    evenly across ALL its touches in the window, not just the last one
    — the other standard attribution model next to last-touch.

    The conversion-to-touches pairing is a day-BUCKETED range join
    (each conversion expands to its window's day buckets, touches key
    by their day; the equi-join on (user, day) bounds candidates before
    the exact microsecond filter) — the op_range_join discipline, never
    a full interval cross join. Per-touch credit is SCALED-INTEGER
    math: value quantized to DECIMAL(14,4), scaled x10^4 to a BIGINT,
    floor-divided by the touch count (round(value/n, 4) would sit on
    half-way boundaries where Spark's BigDecimal HALF_UP and DuckDB's
    scaled-double rounding disagree) — channel sums are exact integer
    sums, floor-biased per credit by < 10^-4, the standard
    cent-splitting convention. Conversions with no touch report
    'unattributed' at full value.
    """
    day = F.date_trunc("day", F.col(ts_col)).cast("date")
    convs = events.where(F.col(type_col) == conversion_type).select(
        F.col(order_col).alias("conv_id"),
        F.col(user_col).alias("u"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("c_us"),
        F.col(value_col).alias("val"),
        F.explode(
            F.sequence(F.lit(0), F.lit(window_days))
        ).alias("off"),
        day.alias("c_day"),
    ).select(
        "conv_id", "u", "c_us", "val",
        F.date_sub(F.col("c_day"), F.col("off")).alias("d"),
    )
    touches = events.where(F.col(type_col).isin(*touch_types)).select(
        F.col(user_col).alias("u"),
        day.alias("d"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("t_us"),
        F.col(type_col).alias("channel"),
    )
    paired = convs.join(touches, ["u", "d"]).where(
        (F.col("t_us") < F.col("c_us"))
        & (
            F.col("c_us") - F.col("t_us")
            <= window_days * 86400 * 1_000_000
        )
    )
    n_per_conv = paired.groupBy("conv_id").agg(
        F.count("*").alias("n_touches")
    )
    scaled = (
        (F.round(F.col("val"), 4).cast("decimal(14,4)") * 10000)
        .cast("long")
        .alias("v4")
    )
    credited = (
        paired.select("conv_id", "channel", scaled)
        .join(F.broadcast(n_per_conv), "conv_id")
        .select("channel", F.expr("v4 div n_touches").alias("credit_s"))
    )
    all_convs = events.where(F.col(type_col) == conversion_type).select(
        F.col(order_col).alias("conv_id"), F.col(value_col).alias("val")
    )
    unattributed = (
        all_convs.join(n_per_conv, "conv_id", "left_anti")
        .select(F.lit("unattributed").alias("channel"), scaled.alias("credit_s"))
    )
    return (
        credited.unionAll(unattributed)
        .groupBy("channel")
        .agg(
            F.count("*").cast("long").alias("n_credits"),
            (F.sum("credit_s") / 10000.0).cast("double").alias("revenue"),
        )
    )
