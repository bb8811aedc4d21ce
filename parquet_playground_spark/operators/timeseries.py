"""Time-series operators over the events table: gap-filled minute
spine with zero-fill + LOCF, and hypertable-style multi-resolution
rollup.

These are the batch halves of the streaming window queries
(streaming/stream_queries.py): same 1-minute buckets, but with an
explicit dense spine so downstream consumers (forecasting, rate
alerting) see every bucket even when no events arrived.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_playground_spark.operators.aggregates import exact_sum
from parquet_playground_spark.registry import (
    register,
    track_persist,
    track_temp_view,
)
from parquet_playground_spark.tables import load_table, sql_on_tables


@register(
    "ts_gapfill_locf",
    oracle="""
        WITH per_min AS (
            SELECT date_trunc('minute', ts) AS minute,
                   count(*) AS cnt,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1
        ),
        bounds AS (SELECT min(minute) AS mn, max(minute) AS mx FROM per_min),
        spine AS (
            SELECT unnest(generate_series(mn, mx, INTERVAL 1 MINUTE)) AS minute
            FROM bounds
        ),
        joined AS (
            SELECT s.minute, coalesce(p.cnt, 0) AS cnt, p.sum_value
            FROM spine s LEFT JOIN per_min p USING (minute)
        )
        SELECT minute, cnt,
               last_value(sum_value IGNORE NULLS) OVER (
                   ORDER BY minute
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sum_value_locf
        FROM joined
    """,
)
def ts_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense minute spine via sequence()+explode, counts zero-filled,
    last-observation-carried-forward for the value column.

    Scale shape: the spine is generated from two scalars (min/max), so
    it never shuffles the fact table; the LOCF runs partitioned by day
    (bounded partitions at any scale) and day-boundary carry-in comes
    from a tiny per-day aggregate (|days| rows) LOCF'd on the driver-
    sized side and broadcast back — no global single-partition sort of
    the spine."""
    e = load_table(spark, sf_dir, "events")
    per_min = e.groupBy(F.date_trunc("minute", "ts").alias("minute")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    bounds = per_min.agg(
        F.min("minute").alias("mn"), F.max("minute").alias("mx")
    )
    spine = bounds.select(
        F.explode(
            F.sequence("mn", "mx", F.expr("interval 1 minute"))
        ).alias("minute")
    )
    joined = (
        spine.join(per_min, "minute", "left")
        .withColumn("day", F.date_trunc("day", "minute"))
    )
    # Pass 1: LOCF within each day (bounded partition size: 1440 rows).
    w_day = (
        Window.partitionBy("day")
        .orderBy("minute")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the DAG forks below (day_last + final join both consume intra);
    # persist so the scan→agg→spine-join→window subtree runs once
    intra = track_persist(
        joined.withColumn(
            "locf_intra", F.last("sum_value", ignorenulls=True).over(w_day)
        )
    )
    # Pass 2: carry across day boundaries via a |days|-row aggregate:
    # each day's carry-in is the last non-null value of any PRIOR day.
    day_last = (
        intra.groupBy("day")
        .agg(F.max_by("locf_intra", "minute").alias("day_last"))
    )
    w_days = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = day_last.select(
        "day", F.last("day_last", ignorenulls=True).over(w_days).alias("carry_in")
    )
    return (
        intra.join(F.broadcast(carry), "day", "left")
        .select(
            "minute",
            F.coalesce("cnt", F.lit(0)).alias("cnt"),
            F.coalesce("locf_intra", "carry_in").alias("sum_value_locf"),
        )
    )


@register(
    "ts_rollup_multires",
    oracle="""
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               date_trunc('hour', ts) AS hour,
               count(*) AS cnt,
               CAST(sum(CAST(floor(value * 100.0 + 0.5)
                             AS DECIMAL(38, 0))) AS DOUBLE) / 100.0
                   AS sum_value
        FROM events
        GROUP BY ROLLUP (CAST(date_trunc('day', ts) AS DATE),
                         date_trunc('hour', ts))
    """,
)
def ts_rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: one pass produces
    hourly, daily, and grand-total resolutions via ROLLUP grouping
    sets. Catalyst's Expand keeps it a single shuffle; partial
    aggregation is map-side combined, so the shuffle carries
    |hours|+|days|+1 rows per mapper, not events."""
    e = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.date_trunc("hour", "ts").alias("hour"),
        "value",
    )
    # exact integer cents (exact_sum): the sf10 sweep caught the
    # grand-total rollup row drifting off the 4-dp grid at ~5e8
    v_c = F.floor(F.col("value") * 100.0 + 0.5)
    return e.rollup("day", "hour").agg(
        F.count(F.lit(1)).alias("cnt"),
        (exact_sum(v_c).cast("double") / 100.0).alias("sum_value"),
    )


@register(
    "ts_window_time_range",
    oracle="""
        SELECT event_id, user_id,
               round(sum(value) OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(epoch(date_trunc('second', ts)) AS BIGINT)
                   RANGE BETWEEN 7200 PRECEDING AND CURRENT ROW
               ), 4) AS sum_2h
        FROM events
    """,
)
def ts_window_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame: per-user rolling 2-hour sum. The frame
    is defined on epoch seconds so Spark's rangeBetween and the
    oracle's RANGE PRECEDING agree exactly (sub-second precision is
    truncated identically on both sides). One shuffle on user_id;
    frames never cross partitions, so it scales with users."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-7200, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 4).alias("sum_2h"),
    )


@register(
    "ts_anomaly_zscore",
    oracle="""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS hour,
                   count(*) AS cnt
            FROM events GROUP BY 1, 2
        ),
        scored AS (
            SELECT event_type, hour, cnt,
                   avg(cnt) OVER w AS mu,
                   stddev_samp(cnt) OVER w AS sigma
            FROM hourly
            WINDOW w AS (
                PARTITION BY event_type ORDER BY hour
                ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING
            )
        )
        SELECT event_type, hour, cnt,
               CAST(CAST(round((cnt - mu) / sigma, 4) AS DECIMAL(18,4))
                    AS VARCHAR) AS z,
               (cnt - mu) / sigma > 2.0 AS is_spike
        FROM scored
        WHERE sigma IS NOT NULL AND sigma > 0
    """,
)
def ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: each hour's event count per
    type scored against the trailing 24-hour window (excluding the
    current hour — no self-leak). One shuffle on event_type; trailing
    frames are bounded, so state per partition is 24 rows at any
    scale. The z value uses the fixed-decimal string canon for
    cross-engine float parity."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-24, -1)
    )
    scored = hourly.select(
        "event_type",
        "hour",
        "cnt",
        F.avg("cnt").over(w).alias("mu"),
        F.stddev_samp("cnt").over(w).alias("sigma"),
    )
    z = (F.col("cnt") - F.col("mu")) / F.col("sigma")
    return scored.filter(
        F.col("sigma").isNotNull() & (F.col("sigma") > 0)
    ).select(
        "event_type",
        "hour",
        "cnt",
        F.round(z, 4).cast("decimal(18,4)").cast("string").alias("z"),
        (z > 2.0).alias("is_spike"),
    )


# portable total-order key: second-truncated epoch * 1e6 + unique id
# (raw ts must never order across engines — ns vs us, SURVEY §7.3)
_OKEY = "CAST(epoch(date_trunc('second', ts)) AS BIGINT) * 1000000 + event_id"


@register(
    "ts_resample_ohlc",
    oracle=f"""
        SELECT event_type,
               CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
               round(arg_min(value, {_OKEY}), 4) AS open,
               round(max(value), 4) AS high,
               round(min(value), 4) AS low,
               round(arg_max(value, {_OKEY}), 4) AS close,
               count(*) AS n
        FROM events
        GROUP BY event_type, date_trunc('hour', ts)
    """,
)
def ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar resampling (open/high/low/close per type-hour) — the
    canonical financial downsample, built on min_by/max_by over a
    portable total-order key (second-epoch * 1e6 + event_id, so ties
    at one-second resolution break identically on both engines). One
    map-combinable aggregate: arg-min/max partials merge
    associatively, so the 100 TB plan is the same partial->final tree
    as any sum."""
    e = load_table(spark, sf_dir, "events")
    okey = (
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))) * 1000000
        + F.col("event_id")
    )
    return e.groupBy(
        "event_type",
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
    ).agg(
        F.round(F.min_by("value", okey), 4).alias("open"),
        F.round(F.max("value"), 4).alias("high"),
        F.round(F.min("value"), 4).alias("low"),
        F.round(F.max_by("value", okey), 4).alias("close"),
        F.count(F.lit(1)).alias("n"),
    )


_EWMA_DECAY = 0.7  # (1 - alpha), alpha = 0.3
_EWMA_SPAN = 10  # trailing rows in the frame


@register(
    "ts_ewma_bounded",
    oracle=f"""
        WITH w AS (
            SELECT user_id, event_id,
                   CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
                   list(value) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS {_EWMA_SPAN - 1} PRECEDING) AS vals
            FROM events
        )
        SELECT user_id, event_id, sec,
               round(list_reduce(vals, (a, b) -> a * {_EWMA_DECAY} + b)
                     / ((1 - pow({_EWMA_DECAY}, len(vals)))
                        / (1 - {_EWMA_DECAY})), 6) AS ewma
        FROM w
    """,
)
def ts_ewma_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-window EWMA per user: exponentially-decayed weighted
    mean of the trailing {_EWMA_SPAN} values (decay {_EWMA_DECAY}),
    computed as an ORDERED fold over the frame's collect_list —
    acc*decay + x from oldest to newest, normalized by the closed-form
    geometric weight sum. The fold order is pinned by the window
    frame, so the float result is bit-identical across engines (same
    trick as embedding_quantize_int8's norm). One shuffle on user_id;
    the frame bound keeps state O(span) — the batch twin of a
    streaming decayed aggregate, without unbounded pow() overflow."""
    e = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp(F.date_trunc("second", F.col("ts")))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_EWMA_SPAN - 1), 0)
    )
    vals = F.collect_list("value").over(w)
    # DuckDB list_reduce seeds with the first element; mirror exactly
    folded = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda a, x: a * _EWMA_DECAY + x,
    )
    wsum = (1 - F.pow(F.lit(_EWMA_DECAY), F.size(vals))) / (1 - _EWMA_DECAY)
    return e.select(
        "user_id",
        "event_id",
        sec.alias("sec"),
        F.round(folded / wsum, 6).alias("ewma"),
    )


@register(
    "window_running_distinct",
    oracle="""
        WITH flagged AS (
            SELECT user_id, event_id, event_type,
                   CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
                   CASE WHEN row_number() OVER (
                            PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) = 1
                        THEN 1 ELSE 0 END AS first_seen
            FROM events
        )
        SELECT user_id, event_id, sec,
               CAST(sum(first_seen) OVER (PARTITION BY user_id
                                          ORDER BY sec, event_id
                                          ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS n_types_seen
        FROM flagged
    """,
)
def window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over a window — not directly supported
    by any engine, so it is decomposed into the standard two-window
    identity: flag each value's first occurrence per (user, type),
    then running-sum the flags per user. Both windows hash on user_id
    (the second reuses the first's shuffle modulo the type subkey);
    the distinct state never materializes — the flag IS the state.
    This is the "unique items seen so far" metric of any funnel /
    exploration dashboard at event-log scale."""
    e = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp(F.date_trunc("second", F.col("ts")))
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    flagged = e.select(
        "user_id",
        "event_id",
        sec.alias("sec"),
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias(
            "first_seen"
        ),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("sec", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return flagged.select(
        "user_id",
        "event_id",
        "sec",
        F.sum("first_seen").over(w_run).cast("bigint").alias("n_types_seen"),
    )


@register(
    "events_markov_transitions",
    oracle="""
        WITH seq AS (
            SELECT event_type AS cur_type,
                   lead(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS next_type
            FROM events
        ), t AS (
            SELECT cur_type, next_type, count(*) AS n
            FROM seq WHERE next_type IS NOT NULL
            GROUP BY cur_type, next_type
        )
        SELECT cur_type, next_type, n,
               round(CAST(n AS DOUBLE)
                     / sum(n) OVER (PARTITION BY cur_type), 6) AS p
        FROM t
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event sequences:
    P(next_type | cur_type) with counts — the behavioral-model prep
    for next-action prediction (and the n=2 case of
    events_path_trigrams). The lead window shuffles on user once; the
    transition aggregate and row-normalization run over the tiny
    |types|^2 matrix, so normalization's unpartitioned window is
    deliberately trivial."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("cur_type"),
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    t = seq.groupBy("cur_type", "next_type").agg(F.count(F.lit(1)).alias("n"))
    w_norm = Window.partitionBy("cur_type")
    return t.select(
        "cur_type",
        "next_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(w_norm), 6).alias(
            "p"
        ),
    )


_WAU_WINDOW_DAYS = 7


@register(
    "events_wau_rolling",
    oracle=f"""
        WITH ud AS (
            SELECT DISTINCT user_id,
                   CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400
                       AS day_no
            FROM events
        ), days AS (
            SELECT DISTINCT day_no FROM ud
        )
        SELECT d.day_no,
               count(DISTINCT CASE WHEN u.day_no = d.day_no
                                   THEN u.user_id END) AS dau,
               count(DISTINCT u.user_id) AS wau,
               round(CAST(count(DISTINCT CASE WHEN u.day_no = d.day_no
                                              THEN u.user_id END) AS DOUBLE)
                     / count(DISTINCT u.user_id), 4) AS stickiness
        FROM days d
        JOIN ud u ON u.day_no BETWEEN d.day_no - {_WAU_WINDOW_DAYS - 1}
                                  AND d.day_no
        GROUP BY d.day_no
    """,
)
def events_wau_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling active-user metrics: per day, DAU and trailing-7-day
    WAU with the DAU/WAU stickiness ratio — the engagement dashboard's
    core series. Distinct-users-over-a-sliding-window has no window-
    function form, so it runs as the standard two-step: dedupe to
    (user, day) pairs (one shuffle, map-combinable), then a bounded
    range join of the tiny day spine against user-days (each pair
    lands in ≤ {_WAU_WINDOW_DAYS} windows — fan-out is the window
    length, never the data size) and a distinct count per day. At
    100 TB the user-day dedup is the big pass; everything after runs
    on |users|x|days| which is orders smaller than the event log."""
    e = load_table(spark, sf_dir, "events")
    day_no = F.floor(
        F.unix_timestamp(F.date_trunc("day", F.col("ts"))) / 86400
    ).cast("bigint")
    ud = e.select("user_id", day_no.alias("day_no")).distinct()
    days = ud.select("day_no").distinct()
    j = days.alias("d").join(
        ud.alias("u"),
        F.col("u.day_no").between(
            F.col("d.day_no") - (_WAU_WINDOW_DAYS - 1), F.col("d.day_no")
        ),
    )
    dau_user = F.when(
        F.col("u.day_no") == F.col("d.day_no"), F.col("u.user_id")
    )
    return j.groupBy(F.col("d.day_no").alias("day_no")).agg(
        F.count_distinct(dau_user).alias("dau"),
        F.count_distinct(F.col("u.user_id")).alias("wau"),
        F.round(
            F.count_distinct(dau_user).cast("double")
            / F.count_distinct(F.col("u.user_id")),
            4,
        ).alias("stickiness"),
    )


@register(
    "ts_autocorrelation",
    oracle="""
        WITH per_min AS (
            SELECT date_trunc('minute', ts) AS minute, count(*) AS cnt
            FROM events GROUP BY 1
        ),
        lags AS (SELECT unnest([1, 2, 3]) AS lag_min),
        pairs AS (
            SELECT l.lag_min, a.cnt AS x, b.cnt AS y
            FROM per_min a
            CROSS JOIN lags l
            JOIN per_min b ON b.minute = a.minute + to_minutes(l.lag_min)
        )
        SELECT lag_min,
               round(corr(x, y), 4) AS autocorr,
               count(*) AS n_pairs
        FROM pairs GROUP BY lag_min
    """,
)
def ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-k autocorrelation (k = 1..3 minutes) of the per-minute event
    count series.

    Scale shape: the series is first reduced to one row per minute
    (map-combinable count), then the lagged pairing is a self-EQUI-join
    on the shifted timestamp — not a global ORDER BY window — so the
    pairing shuffles on minute and parallelizes at any series length.
    corr() is an algebraic aggregate (sums of x, y, xy, x2, y2), fully
    map-combinable. Missing minutes simply produce no pair, matching
    the oracle's join semantics."""
    e = load_table(spark, sf_dir, "events")
    per_min = e.groupBy(F.date_trunc("minute", "ts").alias("minute")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    lags = spark.range(1, 4).select(F.col("id").cast("int").alias("lag_min"))
    a = per_min.alias("a").crossJoin(F.broadcast(lags)).withColumn(
        "shifted", F.expr("a.minute + make_interval(0, 0, 0, 0, 0, lag_min, 0)")
    )
    b = per_min.alias("b")
    pairs = a.join(b, F.col("shifted") == F.col("b.minute"), "inner")
    return pairs.groupBy("lag_min").agg(
        F.round(F.corr(F.col("a.cnt"), F.col("b.cnt")), 4).alias("autocorr"),
        F.count(F.lit(1)).alias("n_pairs"),
    )


@register(
    "ts_seasonal_baseline",
    oracle="""
        WITH per_hour AS (
            SELECT date_trunc('hour', ts) AS hour_ts,
                   isodow(ts) - 1 AS dow,
                   extract(hour FROM ts) AS hod,
                   count(*) AS cnt
            FROM events GROUP BY 1, 2, 3
        )
        SELECT dow, hod,
               count(*) AS n_hours,
               floor(CAST(sum(cnt) AS DOUBLE) / count(*) * 10000.0
                     + 0.5) / 10000.0 AS avg_cnt,
               max(cnt) AS max_cnt
        FROM per_hour GROUP BY dow, hod
    """,
)
def ts_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonal profile: average hourly event volume per
    (day-of-week, hour-of-day) cell — the baseline a seasonal anomaly
    detector subtracts before thresholding.

    Day-of-week parity trap: Spark's dayofweek() is 1=Sunday while
    DuckDB's dayofweek() is 0=Sunday; both engines agree on ISO
    numbering, so this uses Spark weekday() (0=Monday) == DuckDB
    isodow()-1. Two map-combinable aggregations (hour cells, then a
    168-row profile); nothing here grows with data volume except the
    first pass.

    Determinism: avg_cnt is computed as exact-integer sum(cnt) /
    count(*) followed by the portable floor round (q1/q19 pattern) —
    both inputs are exact integers, so the quotient is the same
    single IEEE division on both engines, where engine round(avg(..))
    can split half-up vs half-even on a .xxxx5 quotient."""
    e = load_table(spark, sf_dir, "events")
    per_hour = e.groupBy(
        F.date_trunc("hour", "ts").alias("hour_ts"),
        F.weekday("ts").alias("dow"),
        F.hour("ts").alias("hod"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return per_hour.groupBy("dow", "hod").agg(
        F.count(F.lit(1)).alias("n_hours"),
        (
            F.floor(
                F.sum("cnt").cast("double") / F.count(F.lit(1)) * 10000.0
                + 0.5
            )
            / 10000.0
        ).alias("avg_cnt"),
        F.max("cnt").alias("max_cnt"),
    )


@register(
    "ts_anomaly_mad",
    oracle="""
        WITH per_hour AS (
            SELECT date_trunc('hour', ts) AS hour_ts, count(*) AS cnt
            FROM events GROUP BY 1
        ),
        med AS (SELECT median(cnt) AS med FROM per_hour),
        mad AS (
            SELECT median(abs(cnt - med)) AS mad
            FROM per_hour CROSS JOIN med
        )
        SELECT hour_ts, cnt,
               round((cnt - med) / (1.4826 * nullif(mad, 0)), 2) AS robust_z
        FROM per_hour CROSS JOIN med CROSS JOIN mad
        WHERE abs(cnt - med) > 3 * 1.4826 * mad
    """,
)
def ts_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly flagging via median absolute deviation: hours
    whose count deviates from the series median by more than 3 scaled
    MADs (1.4826*MAD estimates sigma under normality). Unlike the
    mean/stddev z-score (ts_anomaly_zscore), the threshold itself is
    outlier-resistant — one huge spike can't inflate sigma and mask
    the rest. Hour buckets (not minutes): the testdata's per-minute
    counts are near-constant, which makes MAD degenerate to 0;
    try_divide/nullif keeps even that case well-defined (NULL score)
    on both engines.

    Scale shape: two scalar reductions (median, then median of
    deviations) each broadcast back as a 1-row dimension; the flagging
    pass is a narrow filter over the per-hour aggregate. median()
    over the hour-level series is a sort of |hours| rows, not of raw
    events."""
    e = load_table(spark, sf_dir, "events")
    per_hour = e.groupBy(F.date_trunc("hour", "ts").alias("hour_ts")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    med = per_hour.agg(F.median("cnt").alias("med"))
    with_med = per_hour.crossJoin(F.broadcast(med))
    mad = with_med.agg(
        F.median(F.abs(F.col("cnt") - F.col("med"))).alias("mad")
    )
    return (
        with_med.crossJoin(F.broadcast(mad))
        .filter(F.abs(F.col("cnt") - F.col("med")) > 3 * 1.4826 * F.col("mad"))
        .select(
            "hour_ts",
            "cnt",
            F.round(
                F.try_divide(
                    F.col("cnt") - F.col("med"), 1.4826 * F.col("mad")
                ),
                2,
            ).alias("robust_z"),
        )
    )


@register(
    "interval_stabbing_counts",
    oracle="""
        WITH iv AS (
            SELECT o_orderdate AS s,
                   o_orderdate + INTERVAL 30 DAY AS e
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
        ),
        spine AS (SELECT DISTINCT s AS day FROM iv)
        SELECT day, count(*) AS backlog
        FROM spine JOIN iv ON iv.s <= day AND day < iv.e
        GROUP BY day
    """,
)
def interval_stabbing_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval stabbing via delta encoding: how many 30-day order
    fulfillment windows are open on each order day of 1996? The naive
    form is a theta join (spine x intervals, quadratic-ish — the
    oracle states it as the contract); the scale form here converts
    each interval to +1 at start / -1 at end and takes a running sum
    over the boundary timeline, so the fact table is touched once and
    the heavy operator runs on |distinct days| rows.

    Half-open [s, e) semantics: an interval ending exactly on the
    probed day is closed — the -1 delta lands AT e and the cumulative
    sum includes same-day deltas, which matches day < e in the theta
    form. The global cumsum window runs over the tiny boundary
    timeline (|days|+|ends| rows); at petabyte scale the same prefix
    sum is a two-pass range-partitioned scan, never a fact-table
    sort."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    iv = o.select(
        F.col("o_orderdate").alias("s"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).alias("e"),
    )
    starts = iv.groupBy(F.col("s").alias("pt")).agg(
        F.count(F.lit(1)).alias("delta")
    )
    ends = iv.groupBy(F.col("e").alias("pt")).agg(
        (-F.count(F.lit(1))).alias("delta")
    )
    deltas = (
        starts.unionByName(ends)
        .groupBy("pt")
        .agg(F.sum("delta").alias("delta"))
    )
    w = Window.orderBy("pt").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    running = deltas.withColumn("backlog", F.sum("delta").over(w))
    spine = iv.select(F.col("s").alias("pt")).distinct()
    return spine.join(running, "pt").select(
        F.col("pt").alias("day"), "backlog"
    )


@register(
    "ts_sliding_windows_batch",
    oracle="""
        WITH ev AS (
            SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS g
            FROM events
        ),
        exp AS (
            SELECT unnest([g, g - 300]) AS window_start_sec FROM ev
        )
        SELECT window_start_sec, count(*) AS cnt
        FROM exp GROUP BY window_start_sec
    """,
)
def ts_sliding_windows_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding windows in BATCH via the built-in window()
    function (10-minute windows sliding every 5 — each event counted
    in exactly 2 windows), the batch twin of stream_sliding_agg and
    the API that makes one aggregation produce overlapping frames
    without a self-join.

    Spark plans this as a 2-way Expand (one row per covering window)
    feeding a partial+final hash agg — same shape as the oracle's
    unnest of the two grid-aligned candidate starts. Epoch-0 grid
    alignment and [start, start+10min) half-open bounds are exactly
    floor arithmetic, emitted as BIGINT seconds to keep both engines
    in timezone-free territory."""
    e = load_table(spark, sf_dir, "events")
    win = e.groupBy(
        F.window("ts", "10 minutes", "5 minutes").alias("w")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return win.select(
        F.unix_timestamp(F.col("w.start")).alias("window_start_sec"), "cnt"
    )


@register(
    "ts_business_days",
    oracle="""
        WITH shipped AS (
            SELECT l_returnflag, CAST(l_shipdate AS DATE) AS ship_date,
                   CAST(l_shipdate AS DATE)
                       + CAST(l_orderkey % 20 + 1 AS INTEGER) AS receipt_date
            FROM lineitem
        ),
        counted AS (
            SELECT l_returnflag,
                   len(list_filter(
                       generate_series(ship_date, receipt_date,
                                       INTERVAL 1 DAY),
                       d -> isodow(d) <= 5)) AS bus_days
            FROM shipped
        )
        SELECT l_returnflag,
               count(*) AS n_lines,
               round(CAST(sum(bus_days) AS DOUBLE) / count(*), 4)
                   AS avg_bus_days,
               max(bus_days) AS max_bus_days
        FROM counted
        GROUP BY l_returnflag
    """,
)
def ts_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business-day arithmetic: working days (Mon-Fri) between ship
    and receipt, inclusive — the SLA metric every ops dashboard needs
    and no engine ships as a builtin. Receipt is synthesized
    deterministically (shipdate + 1..20 days from the key) since the
    slim lineitem lacks it. The day-range expansion happens INSIDE a
    higher-order filter over sequence() — per-row JVM array work, no
    explode, no shuffle beyond the final tiny groupBy — so the plan
    is scan + aggregate even though it 'enumerates' up to 21 dates
    per row. A holiday calendar would join a broadcast dim into the
    lambda's complement; the shape doesn't change."""
    li = load_table(spark, sf_dir, "lineitem")
    shipped = li.select(
        "l_returnflag",
        F.col("l_shipdate").cast("date").alias("ship_date"),
        F.date_add(
            F.col("l_shipdate").cast("date"),
            (F.col("l_orderkey") % 20 + 1).cast("int"),
        ).alias("receipt_date"),
    )
    counted = shipped.select(
        "l_returnflag",
        F.expr(
            "size(filter(sequence(ship_date, receipt_date),"
            " d -> weekday(d) < 5))"
        ).alias("bus_days"),
    )
    return counted.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(
            F.sum("bus_days").cast("double") / F.count(F.lit(1)), 4
        ).alias("avg_bus_days"),
        F.max("bus_days").alias("max_bus_days"),
    )


@register(
    "ts_changepoint_cusum",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   round(sum(value), 4) AS daily_value
            FROM events
            GROUP BY 1, 2
        ),
        centered AS (
            SELECT event_type, day, daily_value,
                   avg(daily_value) OVER (PARTITION BY event_type) AS mu
            FROM daily
        ),
        cusum AS (
            SELECT event_type, day, daily_value,
                   round(sum(daily_value - mu) OVER (
                       PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ), 4) AS cusum
            FROM centered
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_days,
               round(max(abs(cusum)), 4) AS max_abs_cusum,
               min(day) FILTER (WHERE abs(cusum) = (
                   SELECT max(abs(c2.cusum)) FROM cusum c2
                   WHERE c2.event_type = cusum.event_type))
                   AS changepoint_day
        FROM cusum
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event type: cumulative sum of
    daily-value deviations from the series mean; the day where |CUSUM|
    peaks is the most likely single changepoint (classic
    Page/Pettitt-style screen run on every metric dashboard). Shape:
    one daily groupBy (map-combinable), a series-mean window, an
    ORDERED running sum — sequential order makes the float fold
    deterministic on both engines given 4-dp daily inputs — and a
    per-type argmax readout with min-day tie-break. Days per type are
    bounded (time), so window partitions never skew."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.round(F.sum("value"), 4).alias("daily_value"))
    mu_w = Window.partitionBy("event_type")
    run_w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cusum = daily.select(
        "event_type",
        "day",
        "daily_value",
        F.round(
            F.sum(F.col("daily_value") - F.avg("daily_value").over(mu_w)).over(
                run_w
            ),
            4,
        ).alias("cusum"),
    )
    peak = cusum.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.round(F.max(F.abs("cusum")), 4).alias("max_abs_cusum"),
    )
    return (
        cusum.join(peak, "event_type")
        .filter(F.abs(F.col("cusum")) == F.col("max_abs_cusum"))
        .groupBy("event_type", "n_days", "max_abs_cusum")
        .agg(F.min("day").alias("changepoint_day"))
        .select(
            "event_type", "n_days", "max_abs_cusum", "changepoint_day"
        )
        .orderBy("event_type")
    )


_HOLT_ALPHA, _HOLT_BETA, _HOLT_H = 0.5, 0.3, 7


@register(
    "ts_holt_linear_forecast",
    oracle=f"""
        WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   round(sum(value), 4) AS v
            FROM events GROUP BY 1, 2
        ),
        series AS (
            SELECT event_type,
                   list(v ORDER BY day) AS vals,
                   count(*) AS n_days
            FROM daily GROUP BY event_type
        ),
        folded AS (
            SELECT event_type, n_days,
                   list_reduce(
                       list_transform(vals, v -> [v, 0.0]),
                       (a, b) -> [
                           {_HOLT_ALPHA} * b[1]
                           + (1 - {_HOLT_ALPHA}) * (a[1] + a[2]),
                           {_HOLT_BETA} * (({_HOLT_ALPHA} * b[1]
                               + (1 - {_HOLT_ALPHA}) * (a[1] + a[2])) - a[1])
                           + (1 - {_HOLT_BETA}) * a[2]
                       ]) AS st
            FROM series
        )
        SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
               round(st[1], 4) AS level,
               round(st[2], 4) AS trend,
               round(st[1] + {_HOLT_H} * st[2], 4) AS forecast_h7
        FROM folded
        ORDER BY event_type
    """,
)
def ts_holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double exponential) smoothing per series: level
    and trend evolve together through an ORDERED fold over the daily
    values — the recurrence a window frame cannot express — and the
    final state extrapolates an h-step forecast. State is a 2-element
    double array so the same fold runs on both engines (DuckDB's
    list_reduce requires acc type = element type); the fold order is
    pinned by the day sort, so with 4-dp daily inputs the floats are
    bit-identical cross-engine. Shape: one daily groupBy, then a
    per-series collect (bounded: days-per-series is time, not data) —
    the batch twin of transformWithState's running smoother."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.round(F.sum("value"), 4).alias("v"))
    series = daily.groupBy("event_type").agg(
        F.array_sort(
            F.collect_list(F.struct("day", "v"))
        ).alias("dv"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    vals = F.transform(F.col("dv"), lambda s: s["v"])
    a, b = _HOLT_ALPHA, _HOLT_BETA

    def step(acc, x):
        lvl = F.element_at(acc, 1)
        trd = F.element_at(acc, 2)
        v = F.element_at(x, 1)
        new_lvl = a * v + (1 - a) * (lvl + trd)
        return F.array(new_lvl, b * (new_lvl - lvl) + (1 - b) * trd)

    as_state = F.transform(vals, lambda v: F.array(v, F.lit(0.0)))
    st = F.aggregate(
        F.slice(as_state, 2, F.greatest(F.size(as_state) - 1, F.lit(0))),
        F.element_at(as_state, 1),
        step,
    )
    return series.select(
        "event_type",
        "n_days",
        F.round(F.element_at(st, 1), 4).alias("level"),
        F.round(F.element_at(st, 2), 4).alias("trend"),
        F.round(
            F.element_at(st, 1) + _HOLT_H * F.element_at(st, 2), 4
        ).alias("forecast_h7"),
    ).orderBy("event_type")


_DFT_SQL = """
        WITH daily AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(count(*) AS DOUBLE) AS x
            FROM {events} GROUP BY 1, 2
        ),
        idx AS (
            SELECT event_type, x,
                   CAST(row_number() OVER (PARTITION BY event_type
                                           ORDER BY day) AS DOUBLE) AS t,
                   avg(x) OVER (PARTITION BY event_type) AS mu
            FROM daily
        ),
        periods AS (
            SELECT CAST(p AS DOUBLE) AS p FROM (VALUES (2), (3), (7), (14))
                AS v(p)
        ),
        power_tbl AS (
            SELECT i.event_type, pr.p,
                   pow(sum((i.x - i.mu)
                           * cos(2.0 * 3.141592653589793 * i.t / pr.p)), 2)
                   + pow(sum((i.x - i.mu)
                             * sin(2.0 * 3.141592653589793 * i.t / pr.p)), 2)
                       AS pw
            FROM idx i CROSS JOIN periods pr
            GROUP BY i.event_type, pr.p
        ),
        ranked AS (
            -- single-pass rank, NOT a float-equality self-join: Spark
            -- would recompute the sums on both sides of such a join and
            -- partition-order drift can break pw = max(pw) equality.
            -- rank by the ROUNDED power actually emitted: sub-ulp
            -- libm/summation drift on the raw pw could flip the
            -- argmax between engines
            SELECT event_type, p, pw,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY round(pw, 2) DESC, p) AS rk
            FROM power_tbl
        )
        SELECT event_type, CAST(p AS INT) AS period,
               round(pw, 2) AS power,
               rk = 1 AS is_dominant
        FROM ranked
        ORDER BY event_type, period
"""


@register(
    "ts_periodogram_dft",
    oracle=_DFT_SQL.format(events="events"),
)
def ts_periodogram_dft(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-frequency DFT periodogram: spectral power of each daily
    count series at candidate periods (2/3/7/14 days) via the two
    projection sums Σx·cos(2πt/p) and Σx·sin(2πt/p) on the centered
    series — how a pipeline detects weekly seasonality without an FFT
    library, since each candidate frequency is just two map-combinable
    weighted sums. The dominant flag marks the argmax period per
    series. Day indexing is a per-series row_number (deterministic: day
    is unique within series); the trig factors are computed from the
    same pi literal on both engines and the 2-dp rounding absorbs
    sub-ulp libm drift. One daily groupBy + a |periods|-fold expansion
    of the |days|-row aggregate — scan-bound at any scale."""
    return sql_on_tables(spark, sf_dir, _DFT_SQL)


_COVER_SQL = """
        WITH ivals AS (
            SELECT user_id,
                   sec - 900 AS s,
                   sec + 900 AS e
            FROM {src}
        ),
        marked AS (
            SELECT user_id, s, e,
                   CASE WHEN s > max(e) OVER (
                            PARTITION BY user_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING)
                        OR max(e) OVER (
                            PARTITION BY user_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) IS NULL
                        THEN 1 ELSE 0 END AS new_island
            FROM ivals
        ),
        islands AS (
            SELECT user_id, s, e,
                   sum(new_island) OVER (
                       PARTITION BY user_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS island
            FROM marked
        ),
        merged AS (
            SELECT user_id, island,
                   min(s) AS island_s, max(e) AS island_e
            FROM islands GROUP BY user_id, island
        )
        SELECT user_id,
               count(*) AS n_islands,
               CAST(sum(island_e - island_s) AS BIGINT) AS covered_secs,
               CAST(max(island_e - island_s) AS BIGINT) AS longest_secs
        FROM merged
        GROUP BY user_id
        ORDER BY user_id
"""


@register(
    "ts_interval_union_coverage",
    oracle="""
        WITH src AS (
            SELECT user_id,
                   CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
            FROM events
        )"""
    + _COVER_SQL.format(src="src").replace("WITH ivals AS", ", ivals AS", 1),
)
def ts_interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union coverage (gaps-and-islands): each event claims a
    ±15-minute activity interval; overlapping intervals merge into
    islands via the classic running-max-of-end trick (a new island
    starts when this interval's start exceeds every previous end), and
    the per-user output is island count, total covered seconds, and the
    longest contiguous stretch — the dedup-aware "time actually
    active" metric billing and engagement systems need (naively
    summing interval lengths double-counts overlaps). One user_id
    shuffle; both windows and the island aggregate reuse it. Integer
    seconds end-to-end — zero float exposure."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("sec"),
    )
    return spark.sql(_COVER_SQL, src=e)


_HYST_SQL = """
        WITH daily AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS DATE) AS day,
                   round(sum(value), 4) AS v
            FROM {events} GROUP BY 1, 2
        ),
        stats AS (
            -- explicit moment arithmetic (not stddev_samp): both
            -- engines then compute IDENTICAL doubles for the bands.
            -- nullif on the (n-1) divisor: a single-day series would
            -- otherwise split the engines (Spark non-ANSI x/0 -> NULL,
            -- DuckDB ieee default -> inf/NaN); NULL sigma on both sides
            -- keeps the degenerate case hash-identical.
            SELECT event_type,
                   sum(v) / count(*) AS mu,
                   sqrt((sum(v * v) - sum(v) * sum(v) / count(*))
                        / nullif(count(*) - 1, 0)) AS sigma
            FROM daily GROUP BY event_type
        ),
        series AS (
            SELECT d.event_type,
                   list(d.v ORDER BY d.day) AS vals,
                   max(s.mu + 2.0 * s.sigma) AS hi,
                   max(s.mu + 1.0 * s.sigma) AS lo
            FROM daily d JOIN stats s ON s.event_type = d.event_type
            GROUP BY d.event_type
        ),
        folded AS (
            SELECT event_type, hi, lo,
                   list_reduce(
                       list_transform(vals, v -> [
                           CASE WHEN v > hi THEN 1.0 ELSE 0.0 END,
                           CASE WHEN v > hi THEN 1.0 ELSE 0.0 END,
                           CASE WHEN v > hi THEN 1.0 ELSE 0.0 END,
                           v]),
                       (a, b) -> [
                           CASE WHEN b[4] > hi THEN 1.0
                                WHEN b[4] < lo THEN 0.0
                                ELSE a[1] END,
                           a[2] + CASE WHEN b[4] > hi THEN 1.0
                                       WHEN b[4] < lo THEN 0.0
                                       ELSE a[1] END,
                           a[3] + CASE WHEN (CASE WHEN b[4] > hi THEN 1.0
                                                  WHEN b[4] < lo THEN 0.0
                                                  ELSE a[1] END) <> a[1]
                                       THEN 1.0 ELSE 0.0 END,
                           b[4]]) AS st
            FROM series
        )
        SELECT event_type,
               round(hi, 4) AS hi_band,
               round(lo, 4) AS lo_band,
               CAST(st[2] AS BIGINT) AS n_alert_days,
               CAST(st[3] AS BIGINT) AS n_transitions,
               st[1] = 1.0 AS alert_at_end
        FROM folded
        ORDER BY event_type
"""


@register(
    "ts_alert_hysteresis",
    oracle=_HYST_SQL.format(events="events"),
)
def ts_alert_hysteresis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alerting with HYSTERESIS: a series enters alert when its daily
    value crosses mu + 2sigma and leaves only below mu + sigma — the
    two-band state machine monitoring systems use so a metric hovering
    at one threshold doesn't flap pages. The state is a recurrence no
    window frame expresses, so it runs as the same engine-portable
    ordered array-state fold as ts_holt_linear_forecast (state =
    [in_alert, alert_days, transitions, value]); bands come from
    explicit moment arithmetic so both engines fold identical doubles.
    Output per series: bands, days in alert, flap count, final state.
    One daily groupBy + a bounded per-series collect."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.round(F.sum("value"), 4).alias("v"))
    # nullif guard mirrors the oracle: a 1-day series yields NULL sigma
    # in BOTH engines instead of Spark-NULL vs DuckDB-inf divergence.
    stats = daily.groupBy("event_type").agg(
        (F.sum("v") / F.count(F.lit(1))).alias("mu"),
        F.sqrt(
            (
                F.sum(F.col("v") * F.col("v"))
                - F.sum("v") * F.sum("v") / F.count(F.lit(1))
            )
            / F.nullif((F.count(F.lit(1)) - 1).cast("double"), F.lit(0.0))
        ).alias("sigma"),
    )
    series = (
        daily.join(stats, "event_type")
        .groupBy("event_type")
        .agg(
            F.array_sort(F.collect_list(F.struct("day", "v"))).alias("dv"),
            F.max(F.col("mu") + 2.0 * F.col("sigma")).alias("hi"),
            F.max(F.col("mu") + 1.0 * F.col("sigma")).alias("lo"),
        )
    )
    vals = F.transform(F.col("dv"), lambda x: x["v"])
    hi, lo = F.col("hi"), F.col("lo")

    def seed(v):
        on = F.when(v > hi, 1.0).otherwise(0.0)
        return F.array(on, on, on, v)

    def step(a, b):
        v = F.element_at(b, 4)
        prev = F.element_at(a, 1)
        nxt = F.when(v > hi, 1.0).when(v < lo, 0.0).otherwise(prev)
        return F.array(
            nxt,
            F.element_at(a, 2) + nxt,
            F.element_at(a, 3)
            + F.when(nxt != prev, 1.0).otherwise(0.0),
            v,
        )

    as_state = F.transform(vals, seed)
    st = F.aggregate(
        F.slice(as_state, 2, F.greatest(F.size(as_state) - 1, F.lit(0))),
        F.element_at(as_state, 1),
        step,
    )
    return series.select(
        "event_type",
        F.round(hi, 4).alias("hi_band"),
        F.round(lo, 4).alias("lo_band"),
        F.element_at(st, 2).cast("bigint").alias("n_alert_days"),
        F.element_at(st, 3).cast("bigint").alias("n_transitions"),
        (F.element_at(st, 1) == 1.0).alias("alert_at_end"),
    ).orderBy("event_type")


_THEILSEN_SQL = """
        WITH daily AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS DATE) AS day,
                   round(sum(value), 4) AS v
            FROM {events} GROUP BY 1, 2
        ),
        idx AS (
            SELECT event_type, v,
                   CAST(row_number() OVER (PARTITION BY event_type
                                           ORDER BY day) AS DOUBLE) AS t
            FROM daily
        ),
        slopes AS (
            SELECT a.event_type,
                   (b.v - a.v) / (b.t - a.t) AS slope
            FROM idx a JOIN idx b
              ON b.event_type = a.event_type AND b.t > a.t
        )
        SELECT s.event_type,
               CAST(count(*) AS BIGINT) AS n_pairs,
               round({median_fn}, 4) AS sen_slope
        FROM slopes s
        GROUP BY s.event_type
        ORDER BY s.event_type
"""


@register(
    "ts_theil_sen_slope",
    oracle=_THEILSEN_SQL.format(
        events="events", median_fn="quantile_cont(s.slope, 0.5)"
    ),
)
def ts_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend: the MEDIAN of all pairwise slopes per
    daily series — insensitive to ~29% outlier contamination where OLS
    (agg_regression) bends to a single spike day; the estimator
    monitoring pipelines use on noisy per-segment trends. The pairwise
    self-join is quadratic in SERIES LENGTH, which is bounded by time
    (30 days -> 435 pairs per series at any data scale) — the same
    time-bounded-expansion argument as ts_sliding_windows_batch; the
    join key is the series, so one shuffle. Slopes are exact divisions
    of 4-dp dailies and both engines interpolate the median with the
    same R-7 rule on identical values."""
    return sql_on_tables(
        spark,
        sf_dir,
        _THEILSEN_SQL.format(events="{events}", median_fn="percentile(s.slope, 0.5)"),
    )


# ---------------------------------------------------------------------------
# ts_downsample_lttb — Largest-Triangle-Three-Buckets downsampling

_LTTB_NB = 6  # interior buckets; output = NB + 2 points per series


def _lttb_head_sql(ev: str) -> str:
    """CTE defs from the raw events through `pe` (the indexed daily
    points) — the only part that touches the event volume. Split out
    so the Spark side can materialize `pe` ONCE: the unrolled
    selection levels below reference it ~{_LTTB_NB}+ times, and
    Catalyst inlines CTEs, so an un-materialized head is re-scanned
    and re-windowed per level."""
    return f"""
        daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(floor(sum(value) * 10000.0 + 0.5) AS BIGINT) AS v4
            FROM {ev}
            GROUP BY event_type, CAST(date_trunc('day', ts) AS DATE)
        ),
        pts AS (
            SELECT event_type, day, v4,
                   CAST(row_number() OVER (PARTITION BY event_type
                                           ORDER BY day) AS BIGINT) AS idx,
                   CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
                       AS n
            FROM daily
        ),
        pe AS (SELECT * FROM pts WHERE n >= {_LTTB_NB + 2})"""


def _lttb_interior_sql(pe: str) -> str:
    return f"""
            SELECT event_type, day, v4, idx, n,
                   CAST(floor(CAST((idx - 2) * {_LTTB_NB} AS DOUBLE)
                              / (n - 2)) AS INTEGER) AS b
            FROM {pe} WHERE idx >= 2 AND idx <= n - 1
        """


def _lttb_bsum_sql(interior: str) -> str:
    return f"""
            SELECT event_type, b, count(*) AS cnt,
                   sum(idx) AS st, sum(v4) AS sv
            FROM {interior} GROUP BY event_type, b
        """


def _lttb_nxt_sql(i: int, bsum: str, lastpt: str) -> str:
    """The 'next anchor' relation for level i: the following bucket's
    mean point, or the series' last point for the final bucket."""
    if i < _LTTB_NB - 1:
        return f"""(SELECT event_type, cnt, st, sv FROM {bsum}
                        WHERE b = {i + 1})"""
    return f"""(SELECT event_type, CAST(1 AS BIGINT) AS cnt,
                              idx AS st, v4 AS sv FROM {lastpt})"""


def _lttb_level_sql(i: int, interior: str, prev: str, nxt: str) -> str:
    """One bucket's argmax selection (shared text: the oracle renders
    it as CTE level sel{{i+1}}, the Spark side as a per-level statement
    over persisted views)."""
    return f"""
            SELECT event_type, idx, day, v4 FROM (
                SELECT c.event_type, c.idx, c.day, c.v4,
                       row_number() OVER (
                           PARTITION BY c.event_type
                           ORDER BY abs(
                               (p.idx * a.cnt - a.st) * (c.v4 - p.v4)
                               - (p.idx - c.idx) * (a.sv - p.v4 * a.cnt)
                           ) DESC, c.idx
                       ) AS rn
                FROM {interior} c
                JOIN {prev} p ON p.event_type = c.event_type
                JOIN {nxt} a ON a.event_type = c.event_type
                WHERE c.b = {i}
            ) x WHERE rn = 1
        """


def _lttb_tail_sql(pe: str) -> str:
    """CTE defs + final select from `pe` (referenced as {{pe}}) down to
    the selected points. Engine-portable (identical text runs in Spark
    SQL and DuckDB). The per-bucket argmax is INTEGER-exact: v is
    pre-scaled to a BIGINT at 4 dp and the triangle area against the
    next bucket's MEAN point is multiplied through by the bucket
    count, so the comparison is |(p.t*cnt - sum_t)*(c.v - p.v) -
    (p.t - c.t)*(sum_v - p.v*cnt)| over BIGINTs — no float enters any
    argmax, hence no cross-engine ulp risk. The {_LTTB_NB} sequential
    bucket selections unroll as CTE levels (same pattern as
    tokenizer_bpe_merges), each a bucket-local window argmax joined to
    the previous selection."""
    parts = [
        f"""
        interior AS ({_lttb_interior_sql(pe)}),
        bsum AS ({_lttb_bsum_sql("interior")}),
        lastpt AS (
            SELECT event_type, idx, day, v4 FROM {pe} WHERE idx = n
        ),
        sel0 AS (
            SELECT event_type, idx, day, v4 FROM {pe} WHERE idx = 1
        )"""
    ]
    for i in range(_LTTB_NB):
        nxt = _lttb_nxt_sql(i, "bsum", "lastpt")
        parts.append(f"""
        sel{i + 1} AS ({_lttb_level_sql(i, "interior", f"sel{i}", nxt)})""")
    sels = "\n            UNION ALL ".join(
        [
            f"SELECT event_type, {r} AS sel_rank, idx, day, v4 FROM sel{r}"
            for r in range(_LTTB_NB + 1)
        ]
        + [f"SELECT event_type, {_LTTB_NB + 1}, idx, day, v4 FROM lastpt"]
    )
    return (",".join(parts) + f""",
        allsel AS (
            {sels}
        )
        SELECT event_type, CAST(sel_rank AS BIGINT) AS sel_rank,
               idx AS point_idx, day,
               CAST(v4 AS DOUBLE) / 10000.0 AS v
        FROM allsel
        ORDER BY event_type, sel_rank
    """)


def _lttb_sql(ev: str) -> str:
    """Full single-statement LTTB (head + tail) — the oracle form."""
    return "WITH " + _lttb_head_sql(ev) + "," + _lttb_tail_sql("pe")


@register("ts_downsample_lttb", oracle=_lttb_sql("events"))
def ts_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB (Largest-Triangle-Three-Buckets) downsampling — the
    dashboard-rendering standard: reduce each daily series to
    {_LTTB_NB + 2} points (first, last, one per bucket) keeping the
    visually dominant extremes, where each bucket's pick maximizes the
    triangle area spanned with the PREVIOUSLY selected point and the
    next bucket's mean point. Sequential left-to-right dependence makes
    this a genuine iterative operator; the bucket count is fixed, so it
    unrolls into {_LTTB_NB} windowed argmax stages.

    Scale shape: one daily rollup (map-combinable), one window pass for
    indices, then per-stage joins that touch ONE bucket each —
    bucket-local work co-partitioned by series key; at 100 TB with
    millions of series every stage is a narrow per-series window, and
    the unrolled plan is exactly how you'd express fixed-depth
    sequential selection without a driver loop. Integer-exact area
    comparisons (see _lttb_tail_sql) keep both engines' argmax
    identical.

    r9: Catalyst inlines CTEs, so the previous single-statement form
    PLANNED the events scan + rollup + windows inside every unrolled
    level, each level's subtree additionally inlining all previous
    levels (sel6 contains sel5 contains ...) — the formatted plan
    showed the fact subtree 50x. Runtime exchange/stage reuse
    deduplicates much of that re-execution (measured wall time is
    flat at sf0.1), so the persists are about GUARANTEES, not the
    local bench: `pe` (the only event-volume pass), `interior`,
    `bsum` and every selection level persist via track_persist, the
    plan shrinks from 50 fact subtrees to 1 + cache reads, and single
    computation no longer depends on exchange-fingerprint matching.
    Each level's SQL text renders from the SAME helpers the oracle
    uses, so the two forms cannot drift. The oracle keeps the
    single-statement form — DuckDB materializes multiply-referenced
    CTEs on its own."""
    # every lttb_* view is track_temp_view'd (r9 ADVICE): the persisted
    # frames are released by the registry at the next query's entry,
    # and the view NAMES now deregister with them instead of lingering
    # in the session catalog for its lifetime. Dropping is safe for
    # the returned frame — spark.sql analyzes eagerly, so the result
    # plan no longer needs the catalog entries.
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "lttb_events"
    )
    track_temp_view(spark, "lttb_events")

    def _view(name: str, sql: str, persist: bool = True) -> None:
        df = spark.sql(sql)
        if persist:
            df = track_persist(df)
        df.createOrReplaceTempView(name)
        track_temp_view(spark, name)

    _view(
        "lttb_pe",
        "WITH " + _lttb_head_sql("lttb_events") + " SELECT * FROM pe",
    )
    _view("lttb_interior", _lttb_interior_sql("lttb_pe"))
    _view("lttb_bsum", _lttb_bsum_sql("lttb_interior"))
    _view(
        "lttb_lastpt",
        "SELECT event_type, idx, day, v4 FROM lttb_pe WHERE idx = n",
        persist=False,
    )
    _view(
        "lttb_sel0",
        "SELECT event_type, idx, day, v4 FROM lttb_pe WHERE idx = 1",
        persist=False,
    )
    for i in range(_LTTB_NB):
        nxt = _lttb_nxt_sql(i, "lttb_bsum", "lttb_lastpt")
        _view(
            f"lttb_sel{i + 1}",
            _lttb_level_sql(i, "lttb_interior", f"lttb_sel{i}", nxt),
        )
    sels = "\n            UNION ALL ".join(
        [
            f"SELECT event_type, {r} AS sel_rank, idx, day, v4"
            f" FROM lttb_sel{r}"
            for r in range(_LTTB_NB + 1)
        ]
        + [
            f"SELECT event_type, {_LTTB_NB + 1}, idx, day, v4"
            " FROM lttb_lastpt"
        ]
    )
    return spark.sql(f"""
        SELECT event_type, CAST(sel_rank AS BIGINT) AS sel_rank,
               idx AS point_idx, day,
               CAST(v4 AS DOUBLE) / 10000.0 AS v
        FROM ({sels})
        ORDER BY event_type, sel_rank
    """)


# ---------------------------------------------------------------------------
# ts_kalman_filter_1d — constant-velocity Kalman filter per series

_KAL_R = 4.0   # measurement noise
_KAL_Q = 0.01  # process noise per step


@register(
    "ts_kalman_filter_1d",
    oracle=f"""
        WITH daily AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS DATE) AS day,
                   round(sum(value), 4) AS v
            FROM events GROUP BY 1, 2
        ),
        series AS (
            SELECT event_type, list(v ORDER BY day) AS vals
            FROM daily GROUP BY event_type
        ),
        folded AS (
            SELECT event_type, len(vals) AS n_obs,
                   list_reduce(
                       list_transform(vals, z ->
                           [z, 0.0, {_KAL_R}, 0.0, 1.0, 0.0, 1.0]),
                       (a, b) -> [
                           (a[1] + a[2])
                           + ((a[3] + 2*a[4] + a[5] + {_KAL_Q})
                              / (a[3] + 2*a[4] + a[5] + {_KAL_Q} + {_KAL_R}))
                             * (b[1] - (a[1] + a[2])),
                           a[2]
                           + ((a[4] + a[5])
                              / (a[3] + 2*a[4] + a[5] + {_KAL_Q} + {_KAL_R}))
                             * (b[1] - (a[1] + a[2])),
                           (1.0 - (a[3] + 2*a[4] + a[5] + {_KAL_Q})
                                  / (a[3] + 2*a[4] + a[5] + {_KAL_Q}
                                     + {_KAL_R}))
                             * (a[3] + 2*a[4] + a[5] + {_KAL_Q}),
                           (1.0 - (a[3] + 2*a[4] + a[5] + {_KAL_Q})
                                  / (a[3] + 2*a[4] + a[5] + {_KAL_Q}
                                     + {_KAL_R}))
                             * (a[4] + a[5]),
                           (a[5] + {_KAL_Q})
                           - ((a[4] + a[5])
                              / (a[3] + 2*a[4] + a[5] + {_KAL_Q} + {_KAL_R}))
                             * (a[4] + a[5]),
                           a[6] + (b[1] - (a[1] + a[2]))
                                  * (b[1] - (a[1] + a[2])),
                           a[7] + 1.0
                       ]) AS st
            FROM series
        )
        SELECT event_type, CAST(n_obs AS BIGINT) AS n_obs,
               floor(st[1] * 10000.0 + 0.5) / 10000.0 AS pos_final,
               floor(st[2] * 10000.0 + 0.5) / 10000.0 AS vel_final,
               floor(sqrt(st[6] / nullif(st[7] - 1.0, 0.0)) * 10000.0 + 0.5)
                   / 10000.0 AS innov_rmse
        FROM folded
        ORDER BY event_type
    """,
)
def ts_kalman_filter_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constant-velocity Kalman filter over each daily series — the
    optimal linear state estimator (position + trend) that EWMA and
    Holt approximate with fixed gains; here the gain adapts each step
    from the covariance recurrence (predict: A P A^T + Q with
    A=[[1,1],[0,1]]; update: scalar innovation gate with R={_KAL_R}).
    Output per series: filtered level and velocity after the last
    observation plus the innovation RMSE (the model-fit diagnostic a
    monitoring pipeline alerts on).

    The recurrence is a per-series ordered array fold exactly like
    ts_alert_hysteresis / ts_holt_linear_forecast: state =
    [pos, vel, p11, p12, p22, ssq, n], folded with +,-,*,/ and sqrt
    only — every one of those is IEEE-correctly-rounded, so both
    engines produce bit-identical doubles in the same fold order (no
    ln/exp anywhere). nullif guards the single-observation rmse so a
    degenerate series yields NULL on both engines.

    Scale shape: one map-combinable daily rollup, one groupBy collect
    per series (bounded: days per series), all filtering inside a
    single JVM expression — at 100 TB with millions of series this is
    one shuffle on the series key and zero Python."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.round(F.sum("value"), 4).alias("v"))
    series = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "v"))).alias("dv")
    )
    vals = F.transform(F.col("dv"), lambda x: x["v"])
    R, Q = _KAL_R, _KAL_Q

    def seed(z):
        return F.array(
            z, F.lit(0.0), F.lit(R), F.lit(0.0), F.lit(1.0),
            F.lit(0.0), F.lit(1.0),
        )

    def step(a, b):
        def g(i):
            return F.element_at(a, i)

        z = F.element_at(b, 1)
        pred = g(1) + g(2)
        p11p = g(3) + 2 * g(4) + g(5) + Q
        p12p = g(4) + g(5)
        s = p11p + R
        k1 = p11p / s
        k2 = p12p / s
        innov = z - pred
        return F.array(
            pred + k1 * innov,
            g(2) + k2 * innov,
            (1.0 - k1) * p11p,
            (1.0 - k1) * p12p,
            (g(5) + Q) - k2 * p12p,
            g(6) + innov * innov,
            g(7) + 1.0,
        )

    as_state = F.transform(vals, seed)
    st = F.aggregate(
        F.slice(as_state, 2, F.greatest(F.size(as_state) - 1, F.lit(0))),
        F.element_at(as_state, 1),
        step,
    )

    def r4(c):
        return F.floor(c * 10000.0 + 0.5) / 10000.0

    return series.select(
        "event_type",
        F.size("dv").cast("bigint").alias("n_obs"),
        r4(F.element_at(st, 1)).alias("pos_final"),
        r4(F.element_at(st, 2)).alias("vel_final"),
        r4(
            F.sqrt(
                F.element_at(st, 6)
                / F.nullif(F.element_at(st, 7) - 1.0, F.lit(0.0))
            )
        ).alias("innov_rmse"),
    ).orderBy("event_type")


@register(
    "ts_gapfill_interpolate_linear",
    oracle="""
        WITH per_min AS (
            SELECT date_trunc('minute', ts) AS minute,
                   floor(CAST(sum(CAST(floor(value * 100.0 + 0.5)
                                       AS DECIMAL(38, 0))) AS DOUBLE)
                         / (100.0 * count(*)) * 10000.0 + 0.5) / 10000.0
                       AS v
            FROM events GROUP BY 1
        ),
        seq AS (
            SELECT minute AS t0, v AS v0,
                   lead(minute) OVER (ORDER BY minute) AS t1,
                   lead(v) OVER (ORDER BY minute) AS v1
            FROM per_min
        ),
        gaps AS (
            SELECT t0, v0, v1,
                   CAST(date_diff('minute', t0, t1) AS BIGINT) AS gap
            FROM seq WHERE t1 IS NOT NULL
        ),
        expanded AS (
            SELECT t0, v0, v1, gap,
                   unnest(generate_series(0, gap - 1)) AS i
            FROM gaps
        )
        SELECT t0 + to_minutes(CAST(i AS BIGINT)) AS minute,
               CAST(floor((v0 + (v1 - v0) * i / gap) * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS v_interp,
               CAST(CASE WHEN i = 0 THEN 1 ELSE 0 END AS BIGINT)
                   AS is_observed
        FROM expanded
        UNION ALL
        SELECT minute,
               CAST(floor(v * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0,
               CAST(1 AS BIGINT)
        FROM per_min
        WHERE minute = (SELECT max(minute) FROM per_min)
        ORDER BY minute
    """,
)
def ts_gapfill_interpolate_linear(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dense minute series with LINEAR interpolation across gaps — the
    sibling of ts_gapfill_locf for metrics where carrying the last
    value forward biases the fill (gauges, rates). Instead of building
    a dense spine and searching for neighbors, each consecutive pair
    of OBSERVED minutes (a lead() over the per-minute aggregate) emits
    its own gap via sequence()+explode, computing
    v0 + (v1-v0) * i/gap per emitted minute — so the expensive part is
    proportional to the OUTPUT spine, and neighbor discovery costs one
    window over the calendar-bounded observed-minute table (43k rows
    per month regardless of SF; at production span this window
    partitions by day with a |days|-row boundary carry, exactly the
    ts_gapfill_locf two-pass shape).

    Determinism: endpoints average EXACT integer cents (value is 2 dp;
    sum_c and n are exact, so the quotient is bit-identical on both
    engines) then pre-round at 4 dp via the portable floor — the sf10
    sweep caught engine round(avg(value), 4) splitting on a .xxxx5
    boundary and the divergent endpoint fanning out across its whole
    interpolated gap. The interpolation is the same left-to-right IEEE
    expression on both engines ((v1-v0)*i then /gap), and the result
    rounds at 6 dp. The final observed minute (no successor) is
    emitted separately so the spine is exactly [min, max]."""
    e = load_table(spark, sf_dir, "events")
    v_c = F.floor(F.col("value") * 100.0 + 0.5)
    per_min = (
        e.groupBy(F.date_trunc("minute", "ts").alias("minute"))
        .agg(exact_sum(v_c).alias("s_c"), F.count(F.lit(1)).alias("n"))
        .select(
            "minute",
            (
                F.floor(
                    F.col("s_c").cast("double")
                    / (100.0 * F.col("n"))
                    * 10000.0
                    + 0.5
                )
                / 10000.0
            ).alias("v"),
        )
    )
    # Single-partition window over the calendar-bounded aggregate
    # (8961 observed minutes at any SF for the fixed month; see
    # docstring for the per-day partitioned production variant).
    w = Window.orderBy("minute")
    seq = per_min.select(
        F.col("minute").alias("t0"),
        F.col("v").alias("v0"),
        F.lead("minute").over(w).alias("t1"),
        F.lead("v").over(w).alias("v1"),
    )
    gaps = seq.filter(F.col("t1").isNotNull()).withColumn(
        "gap",
        (
            (F.unix_timestamp("t1") - F.unix_timestamp("t0")) / 60
        ).cast("bigint"),
    )
    expanded = gaps.select(
        "t0",
        "v0",
        "v1",
        "gap",
        F.explode(F.sequence(F.lit(0), F.col("gap") - 1)).alias("i"),
    )
    interp = expanded.select(
        F.expr("timestampadd(MINUTE, i, t0)").alias("minute"),
        (
            F.floor(
                (
                    F.col("v0")
                    + (F.col("v1") - F.col("v0")) * F.col("i") / F.col("gap")
                )
                * 1000000.0
                + 0.5
            ).cast("double")
            / 1000000.0
        ).alias("v_interp"),
        F.when(F.col("i") == 0, 1).otherwise(0).cast("bigint").alias(
            "is_observed"
        ),
    )
    last = (
        per_min.orderBy(F.col("minute").desc())
        .limit(1)
        .select(
            "minute",
            (F.floor(F.col("v") * 1000000.0 + 0.5).cast("double") / 1000000.0)
            .alias("v_interp"),
            F.lit(1).cast("bigint").alias("is_observed"),
        )
    )
    return interp.unionAll(last)


# ---------------------------------------------------------------------------
# ts_cross_correlation_lagged — lead/lag cross-correlation of two series

_XCORR_SQL = """
        WITH x0 AS (
            SELECT CAST({epoch}(date_trunc('hour', ts)) / 3600000000
                        AS BIGINT) AS hr,
                   CAST(floor(sum(value) * 10000.0 + 0.5) AS BIGINT) AS v
            FROM {events} WHERE event_type = 'click' GROUP BY 1
        ),
        y0 AS (
            SELECT CAST({epoch}(date_trunc('hour', ts)) / 3600000000
                        AS BIGINT) AS hr,
                   CAST(floor(sum(value) * 10000.0 + 0.5) AS BIGINT) AS v
            FROM {events} WHERE event_type = 'purchase' GROUP BY 1
        ),
        bounds AS (
            SELECT min(hr) AS mn, max(hr) AS mx
            FROM (SELECT hr FROM x0 UNION ALL SELECT hr FROM y0) u
        ),
        spine AS (
            SELECT {unnest_series} AS hr FROM bounds
        ),
        xs AS (
            SELECT s.hr, coalesce(x0.v, 0) AS x
            FROM spine s LEFT JOIN x0 ON s.hr = x0.hr
        ),
        ys AS (
            SELECT s.hr, coalesce(y0.v, 0) AS y
            FROM spine s LEFT JOIN y0 ON s.hr = y0.hr
        ),
        lags AS (SELECT * FROM (VALUES (-3), (-2), (-1), (0), (1), (2), (3))
                 AS t(lag)),
        paired AS (
            SELECT l.lag, xs.x, ys.y
            FROM lags l
            JOIN xs ON 1 = 1
            JOIN ys ON ys.hr = xs.hr + l.lag
        ),
        mom AS (
            SELECT lag, count(*) AS n,
                   sum(x) AS sx, sum(y) AS sy,
                   sum(CAST(x AS DECIMAL(38, 0)) * y) AS sxy,
                   sum(CAST(x AS DECIMAL(38, 0)) * x) AS sxx,
                   sum(CAST(y AS DECIMAL(38, 0)) * y) AS syy
            FROM paired GROUP BY lag
        )
        SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_hours,
               CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                          / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                             * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                    - CAST(sy AS DOUBLE)
                                      * CAST(sy AS DOUBLE)))
                          * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS xcorr
        FROM mom
        ORDER BY lag
"""


@register(
    "ts_cross_correlation_lagged",
    oracle=_XCORR_SQL.format(
        events="events",
        epoch="epoch_us",
        unnest_series="unnest(generate_series(mn, mx))",
    ),
)
def ts_cross_correlation_lagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the hourly click-value and
    purchase-value series (lags -3..+3 hours) — the lead-indicator
    probe behind 'do clicks drive purchases N hours later?'. Both
    series are zero-filled onto a dense hour spine (absence of
    activity IS a value for activity correlation), integerized at 4 dp
    so all five Pearson moments per lag accumulate EXACTLY (products
    as DECIMAL(38,0) — bigint would overflow near sf10); each
    correlation is then a fixed-order double expression rounded at
    6 dp. The lag shift is an integer-hour equi-join (hr + lag), never
    a window self-scan, so the 7 lags cost one hash join over a
    7x|spine| frame.

    Engine parity: hour indexes derive from epoch microseconds /
    3.6e9; Spark's session-TZ epoch and DuckDB's naive-UTC epoch
    differ by a constant whole-hour offset that cancels in the join
    alignment.

    Scale shape: two map-combinable hourly aggregations (calendar-
    bounded output), a generated spine, one equi-join, one 7-group
    aggregate. At production span the spine partitions by month."""
    return sql_on_tables(
        spark,
        sf_dir,
        _XCORR_SQL.format(
            events="{events}",
            epoch="unix_micros",
            unnest_series="explode(sequence(mn, mx))",
        ),
    )


# ---------------------------------------------------------------------------
# ts_rate_of_change_irregular — derivative of an irregularly-sampled series

_ROC_SQL = """
        WITH ordered AS (
            SELECT event_type,
                   CAST({epoch}(ts) AS BIGINT) AS t_us,
                   CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v_c,
                   lag(CAST({epoch}(ts) AS BIGINT)) OVER w AS t_prev,
                   lag(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) OVER w
                       AS v_prev
            FROM {events}
            WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        ),
        rates AS (
            SELECT event_type,
                   CAST(floor((CAST(v_c - v_prev AS DOUBLE) / 100.0)
                              / (CAST(t_us - t_prev AS DOUBLE) / 1000000.0)
                              * 1000000.0 + 0.5) AS BIGINT) AS rate_micro
            FROM ordered
            WHERE t_prev IS NOT NULL AND t_us > t_prev
        )
        SELECT event_type, count(*) AS n_intervals,
               CAST(floor(CAST(sum(rate_micro) AS DOUBLE) / count(*) + 0.5)
                    AS DOUBLE) / 1000000.0 AS avg_rate,
               CAST(max(rate_micro) AS DOUBLE) / 1000000.0 AS max_rate,
               CAST(min(rate_micro) AS DOUBLE) / 1000000.0 AS min_rate
        FROM rates
        GROUP BY event_type
        ORDER BY event_type
"""


@register(
    "ts_rate_of_change_irregular",
    oracle=_ROC_SQL.format(events="events", epoch="epoch_us"),
)
def ts_rate_of_change_irregular(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First derivative of an IRREGULARLY-sampled series (no resample
    step): per event-type, consecutive-observation rate
    (v - v_prev)/(t - t_prev) in value-units per second, summarized to
    per-series n/avg/max/min. The irregular-delta form is the honest
    telemetry derivative — resampling first (ts_resample_ohlc's shape)
    biases rates across quiet gaps. Values integerize at their native
    2 dp and timestamps at exact microseconds, the per-interval rate
    is one fixed double expression integerized at 6 dp, and the
    summary therefore aggregates INTEGERS — order-independent, single
    division for the mean.

    Determinism: the ordering tie-breaks on event_id (unique) so lag()
    pairs identically on both engines; zero-delta pairs (same
    microsecond) are excluded on both sides.

    Scale shape: one window per series partition (keys bound state;
    at production volume partition by (type, day) with a |days|-row
    boundary carry like ts_gapfill_locf) and one map-combinable
    summary aggregate."""
    return sql_on_tables(
        spark, sf_dir, _ROC_SQL.format(events="{events}", epoch="unix_micros")
    )


# ---------------------------------------------------------------------------
# ts_decompose_additive — trend-removed hour-of-day seasonal profile

_DECOMP_SQL = """
        WITH per_hour AS (
            SELECT date_trunc('hour', ts) AS hour_ts,
                   CAST(floor(sum(value) * 10000.0 + 0.5) AS BIGINT) AS v4
            FROM {events} GROUP BY 1
        ),
        ma AS (
            SELECT hour_ts, v4,
                   sum(v4) OVER w AS sum25,
                   count(*) OVER w AS cnt25
            FROM per_hour
            WINDOW w AS (ORDER BY hour_ts
                         ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
        ),
        detrended AS (
            SELECT CAST(hour(hour_ts) AS BIGINT) AS hour_of_day,
                   25 * v4 - sum25 AS d25
            FROM ma WHERE cnt25 = 25
        )
        SELECT hour_of_day,
               CAST(count(*) AS BIGINT) AS n_obs,
               CAST(floor(CAST(sum(d25) AS DOUBLE) / (25.0 * count(*))
                          + 0.5)
                    AS DOUBLE) / 10000.0 AS seasonal_usd
        FROM detrended
        GROUP BY hour_of_day
        ORDER BY hour_of_day
"""


@register(
    "ts_decompose_additive", oracle=_DECOMP_SQL.format(events="events")
)
def ts_decompose_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition, STL-lite: remove the trend
    with a centered 25-hour moving average (full windows only), then
    estimate the hour-of-day seasonal component as the mean detrended
    value per hour cell — the methodological step beyond
    ts_seasonal_baseline's raw cell means, which conflate trend drift
    with seasonality (a ramping metric makes evening hours look
    'seasonal' in a raw profile; detrending first isolates the true
    daily shape).

    Determinism: hourly values integerize at 4 dp; the detrended
    series works in x25 units (25*v - window_sum) so it stays EXACTLY
    integral through the moving average; each seasonal cell takes one
    final division rounded at the same 4 dp resolution.

    Scale shape: one map-combinable hourly aggregation
    (calendar-bounded output), one ordered window over that aggregate
    (720 rows/month at any SF; partition by month with boundary
    overlap at production span), one 24-row groupBy."""
    return sql_on_tables(spark, sf_dir, _DECOMP_SQL)


# ---------------------------------------------------------------------------
# ts_heartbeat_outage_intervals — gap detection on a heartbeat stream

_OUTAGE_GAP_MIN = 30

_OUTAGE_SQL = f"""
        WITH ordered AS (
            SELECT event_type,
                   CAST({{epoch}}(ts) AS BIGINT) AS t_us,
                   lag(CAST({{epoch}}(ts) AS BIGINT)) OVER (
                       PARTITION BY event_type ORDER BY ts, event_id
                   ) AS t_prev
            FROM {{events}}
        ),
        gaps AS (
            SELECT event_type, t_us - t_prev AS gap_us
            FROM ordered
            WHERE t_prev IS NOT NULL
              AND t_us - t_prev > {_OUTAGE_GAP_MIN}::BIGINT * 60000000
        )
        SELECT o.event_type,
               CAST(count(g.gap_us) AS BIGINT) AS n_outages,
               CAST(floor(CAST(coalesce(sum(g.gap_us), 0) AS DOUBLE)
                          / 60000000.0 * 10000.0 + 0.5)
                    AS DOUBLE) / 10000.0 AS total_outage_min,
               CAST(floor(CAST(coalesce(max(g.gap_us), 0) AS DOUBLE)
                          / 60000000.0 * 10000.0 + 0.5)
                    AS DOUBLE) / 10000.0 AS max_gap_min
        FROM (SELECT DISTINCT event_type FROM {{events}}) o
        LEFT JOIN gaps g ON o.event_type = g.event_type
        GROUP BY o.event_type
        ORDER BY o.event_type
"""


@register(
    "ts_heartbeat_outage_intervals",
    oracle=_OUTAGE_SQL.format(events="events", epoch="epoch_us").replace(
        "::BIGINT", "::BIGINT"
    ),
)
def ts_heartbeat_outage_intervals(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Heartbeat outage detection: treat each event type's stream as a
    liveness signal and report every silence longer than 30 minutes —
    the monitoring inverse of gap-FILLING (ts_gapfill_*): there the
    gaps get values, here the gaps ARE the signal. Per stream:
    outage count, total silent minutes, longest silence; streams with
    zero outages still appear (LEFT JOIN against the type dimension)
    because 'no outages' is the answer the dashboard wants.

    Determinism: gaps are exact microsecond integers; the two
    conversions to minutes are single divisions rounded at 4 dp; the
    consecutive ordering tie-breaks on event_id.

    Scale shape: one lag window per stream partition (same shape as
    ts_rate_of_change_irregular — partition by (type, day) with
    boundary carry at production volume), a filter that keeps only
    gap rows (tiny), one summary aggregate."""
    return sql_on_tables(
        spark,
        sf_dir,
        _OUTAGE_SQL.format(events="{events}", epoch="unix_micros").replace(
            f"{_OUTAGE_GAP_MIN}::BIGINT", f"CAST({_OUTAGE_GAP_MIN} AS BIGINT)"
        ),
    )


# ---------------------------------------------------------------------------
# ts_forecast_backtest_seasonal — holdout eval of the seasonal profile

_FCBT_SQL = """
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS hour_ts,
                   CAST(floor(sum(value) * 10000.0 + 0.5) AS BIGINT) AS v4
            FROM {events} GROUP BY 1
        ),
        labeled AS (
            SELECT hour_ts, v4,
                   {dow} AS dow,
                   CAST(hour(hour_ts) AS BIGINT) AS hod,
                   CASE WHEN hour_ts < TIMESTAMP '2024-01-22 00:00:00'
                        THEN 1 ELSE 0 END AS is_train
            FROM hourly
        ),
        model AS (
            SELECT dow, hod,
                   CAST(sum(v4) AS DOUBLE) / count(*) AS forecast_v4
            FROM labeled WHERE is_train = 1
            GROUP BY dow, hod
        ),
        persist AS (
            SELECT hour_ts, v4 AS v4_lastweek FROM labeled
        ),
        test AS (
            SELECT t.hour_ts, t.v4, m.forecast_v4, p.v4_lastweek
            FROM labeled t
            JOIN model m ON t.dow = m.dow AND t.hod = m.hod
            JOIN persist p
              ON p.hour_ts = t.hour_ts - INTERVAL 168 HOURS
            WHERE t.is_train = 0
        ),
        errs AS (
            SELECT v4,
                   CAST(floor(abs(CAST(v4 AS DOUBLE) - forecast_v4) + 0.5)
                        AS BIGINT) AS ae_model,
                   abs(v4 - v4_lastweek) AS ae_persist
            FROM test
        )
        SELECT CAST(count(*) AS BIGINT) AS n_test_hours,
               CAST(floor(CAST(sum(ae_model) AS DOUBLE) / count(*)
                          + 0.5) AS DOUBLE) / 10000.0 AS mae_model,
               CAST(floor(CAST(sum(ae_persist) AS DOUBLE) / count(*)
                          + 0.5) AS DOUBLE) / 10000.0 AS mae_persistence,
               CAST(floor(CAST(sum(ae_model) AS DOUBLE) / sum(v4)
                          * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS wape_model,
               CAST(floor(CAST(sum(ae_persist) AS DOUBLE) / sum(v4)
                          * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS wape_persistence
        FROM errs
"""


@register(
    "ts_forecast_backtest_seasonal",
    oracle=_FCBT_SQL.format(
        events="events",
        dow="CAST(isodow(hour_ts) - 1 AS BIGINT)",
    ).replace("INTERVAL 168 HOURS", "INTERVAL 168 HOUR"),
)
def ts_forecast_backtest_seasonal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Holdout backtest of the seasonal-profile forecaster: train the
    (day-of-week, hour) mean on the first three weeks, forecast the
    holdout days, and score MAE and WAPE against the honest baseline
    every forecast must beat — same-hour-last-week persistence. WAPE
    (sum|err| / sum actual) replaces MAPE because near-zero hours make
    MAPE explode. This is the governance readout for
    ts_seasonal_baseline / ts_decompose_additive: a profile that
    cannot beat persistence is not a model.

    Determinism: hourly values integerize at 4 dp; model errors round
    to integer micro-units per row before summation; persistence
    errors are exact integer diffs; each metric is one division. The
    dow parity uses Spark weekday() == DuckDB isodow()-1 (the
    ts_seasonal_baseline trap).

    Scale shape: one hourly aggregation, a broadcast 168-row model
    join, a self-join on the shifted hour key (calendar-bounded), one
    readout aggregate."""
    return sql_on_tables(
        spark,
        sf_dir,
        _FCBT_SQL.format(events="{events}", dow="CAST(weekday(hour_ts) AS BIGINT)"),
    )


# ---------------------------------------------------------------------------
# events_anomaly_burst_poisson — hour-of-week baseline burst detection

_BURST_SQL = """
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS hour_ts,
                   {dow} AS dow,
                   CAST(hour(date_trunc('hour', ts)) AS BIGINT) AS hod,
                   count(*) AS n
            FROM {events}
            GROUP BY 1, 2, 3
        ),
        baseline AS (
            SELECT dow, hod,
                   CAST(sum(n) AS DOUBLE) / count(*) AS lam,
                   count(*) AS n_cells
            FROM hourly GROUP BY dow, hod
        ),
        scored AS (
            SELECT h.hour_ts, h.n, b.lam,
                   (CAST(h.n AS DOUBLE) - b.lam) / sqrt(b.lam) AS z
            FROM hourly h
            JOIN baseline b ON h.dow = b.dow AND h.hod = b.hod
        )
        SELECT hour_ts,
               CAST(n AS BIGINT) AS n_events,
               CAST(floor(lam * 10000.0 + 0.5) AS DOUBLE) / 10000.0
                   AS expected,
               CAST(floor(z * 10000.0 + 0.5) AS DOUBLE) / 10000.0
                   AS poisson_z
        FROM scored
        WHERE z > 3.0
        ORDER BY hour_ts
"""


@register(
    "events_anomaly_burst_poisson",
    oracle=_BURST_SQL.format(
        events="events", dow="CAST(isodow(date_trunc('hour', ts)) - 1 AS BIGINT)"
    ),
)
def events_anomaly_burst_poisson(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Traffic burst detection against an hour-of-week Poisson
    baseline: each hour's event COUNT is scored z = (n - lam)/sqrt(lam)
    against its (day-of-week, hour) cell mean — the count-side anomaly
    detector that complements the value-side z-score/MAD ops (a
    retry storm changes VOLUME long before it moves value
    distributions; under Poisson the variance IS the mean, hence the
    sqrt(lam) denominator). Hours more than 3 sigma above baseline are
    emitted.

    Determinism: hourly counts are integers; lam is one division;
    z is a fixed-order expression rounded at 4 dp; the dow parity uses
    Spark weekday() == DuckDB isodow()-1 (the ts_seasonal_baseline
    trap).

    Scale shape: one hourly count (calendar-bounded), a 168-row
    baseline aggregate broadcast back, a filter — the always-on
    monitoring query shape."""
    return sql_on_tables(
        spark,
        sf_dir,
        _BURST_SQL.format(
            events="{events}",
            dow="CAST(weekday(date_trunc('hour', ts)) AS BIGINT)",
        ),
    )


# ---------------------------------------------------------------------------
# ts_peak_detection_local_maxima — windowed peaks with height gate

_PEAK_SQL = """
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS hour_ts,
                   CAST(floor(sum(value) * 10000.0 + 0.5) AS BIGINT) AS v4
            FROM {events} GROUP BY 1, 2
        ),
        winfo AS (
            SELECT event_type, hour_ts, v4,
                   max(v4) OVER w AS wmax,
                   count(*) OVER w AS wcnt
            FROM hourly
            WINDOW w AS (PARTITION BY event_type ORDER BY hour_ts
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        ),
        ranked AS (
            SELECT event_type, hour_ts, v4, wmax, wcnt,
                   row_number() OVER (
                       PARTITION BY event_type, wmax ORDER BY hour_ts
                   ) AS dup_rank
            FROM winfo
        ),
        med AS (
            SELECT event_type,
                   CAST(2.0 * median(v4) AS BIGINT) AS med2
            FROM hourly GROUP BY event_type
        )
        SELECT r.event_type, r.hour_ts,
               CAST(r.v4 AS DOUBLE) / 10000.0 AS peak_value,
               CAST(floor(CAST(2 * r.v4 AS DOUBLE) / m.med2 * 10000.0
                          + 0.5)
                    AS DOUBLE) / 10000.0 AS vs_median
        FROM ranked r
        JOIN med m ON r.event_type = m.event_type
        WHERE r.v4 = r.wmax AND r.dup_rank = 1 AND r.wcnt = 7
          AND 2 * r.v4 >= 3 * m.med2
        ORDER BY r.event_type, r.hour_ts
"""


@register(
    "ts_peak_detection_local_maxima",
    oracle=_PEAK_SQL.format(events="events"),
)
def ts_peak_detection_local_maxima(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Peak detection on the hourly value series: a peak is the
    maximum of its +-3h window (full windows only, so edges never
    fake peaks), equal-height candidates collapse to the earliest
    hour per series (this conservatively merges flat tops; two
    DISTANT spikes with bit-identical 4-dp heights would also merge —
    accepted and deterministic), and gated at >= 1.5x the series
    median — the spike-mining pass that
    complements the deviation detectors (z-score/MAD flag outliers
    from a model; peaks are the shape-based event the on-call
    timeline shows). The 1.5x-median height gate uses the half-unit
    trick (2*v >= 3*(2*median)/2 rearranged to integer terms:
    2*v >= 3*med2 with med2 = 2*median exactly integral).

    Determinism: hourly values integerize at 4 dp; the window max,
    flat-top dedup rank, and height comparisons are all integer; the
    vs_median ratio is one division rounded at 4 dp.

    Scale shape: one hourly aggregation, one +-3-row window per
    series over the calendar-bounded aggregate, a |series|-row
    median broadcast."""
    return sql_on_tables(spark, sf_dir, _PEAK_SQL)
