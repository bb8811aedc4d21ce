"""Statistical analytics: distribution tests, concentration metrics,
and activity-pattern mining.

All are single-pass or two-level aggregates — the shapes that matter
for fleet-scale data auditing (fraud screens, class-balance checks,
engagement analysis). Every query here keeps the heavy reduction
map-combinable (groupBy partial aggregation) so the shuffle carries
group cardinality, never raw rows; the final scalar assembly operates
on tiny aggregate frames. Oracle determinism follows SURVEY §7.3:
ratios of sums rounded at the end, explicit tie-break orderings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_playground_spark.operators.distrank import (
    global_rank,
    global_running_agg,
)
from parquet_playground_spark.registry import register, track_persist
from parquet_playground_spark.tables import load_table, sql_on_tables


@register(
    "stat_benford_digits",
    oracle="""
        WITH d AS (
            SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                          1, 1) AS first_digit
            FROM orders
            WHERE o_totalprice >= 1
        ),
        c AS (
            SELECT first_digit, count(*) AS n_obs FROM d GROUP BY first_digit
        )
        SELECT first_digit,
               n_obs,
               round(CAST(n_obs AS DOUBLE) / sum(n_obs) OVER (), 4)
                   AS obs_share,
               round(log10(1.0 + 1.0 / CAST(first_digit AS DOUBLE)), 4)
                   AS benford_share
        FROM c
    """,
)
def stat_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screen over order totals: observed
    leading-digit shares vs the log10(1+1/d) expectation. The fraud /
    synthetic-data smoke test auditors run first. One map-combinable
    groupBy of 9 groups; the share normalization is a window over the
    9-row aggregate, so the scan dominates and the plan is flat at any
    scale."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") >= 1)
    counts = (
        o.select(
            F.substring(
                F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
            ).alias("first_digit")
        )
        .groupBy("first_digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    total = Window.partitionBy()
    return counts.select(
        "first_digit",
        "n_obs",
        F.round(F.col("n_obs") / F.sum("n_obs").over(total), 4).alias(
            "obs_share"
        ),
        F.round(
            F.log10(F.lit(1.0) + F.lit(1.0) / F.col("first_digit").cast("double")),
            4,
        ).alias("benford_share"),
    )


@register(
    "stat_entropy_gini",
    oracle="""
        WITH c AS (
            SELECT event_type, CAST(count(*) AS DOUBLE) AS n
            FROM events GROUP BY event_type
        ),
        t AS (SELECT sum(n) AS total FROM c)
        SELECT count(*) AS n_classes,
               round(-sum((n / total) * log2(n / total)), 4) AS entropy_bits,
               round(1.0 - sum((n / total) * (n / total)), 4) AS gini_impurity
        FROM c CROSS JOIN t
    """,
)
def stat_entropy_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (bits) + Gini impurity of the event-type
    distribution — the class-balance diagnostics a training-data
    pipeline checks before sampling (a skewed label mix shows up here
    before it shows up in model metrics). Two-level aggregate: the
    per-class count is the only shuffle (map-side combined); entropy
    assembly runs over |classes| rows."""
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    t = c.agg(F.sum("n").alias("total"))
    p = F.col("n") / F.col("total")
    return (
        c.crossJoin(F.broadcast(t))
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.round(-F.sum(p * F.log2(p)), 4).alias("entropy_bits"),
            F.round(F.lit(1.0) - F.sum(p * p), 4).alias("gini_impurity"),
        )
    )


@register(
    "stat_chi_square",
    oracle="""
        WITH obs AS (
            SELECT event_type, user_id % 2 AS cohort,
                   CAST(count(*) AS DOUBLE) AS o
            FROM events GROUP BY event_type, user_id % 2
        ),
        grid AS (
            SELECT r.event_type, c.cohort, coalesce(o.o, 0.0) AS o
            FROM (SELECT DISTINCT event_type FROM obs) r
            CROSS JOIN (SELECT DISTINCT cohort FROM obs) c
            LEFT JOIN obs o USING (event_type, cohort)
        ),
        tot AS (
            SELECT g.*,
                   sum(o) OVER (PARTITION BY event_type) AS row_tot,
                   sum(o) OVER (PARTITION BY cohort) AS col_tot,
                   sum(o) OVER () AS n
            FROM grid g
        )
        SELECT count(DISTINCT event_type) AS n_rows_dim,
               count(DISTINCT cohort) AS n_cols_dim,
               (count(DISTINCT event_type) - 1)
                   * (count(DISTINCT cohort) - 1) AS dof,
               round(sum(pow(o - row_tot * col_tot / n, 2)
                         / (row_tot * col_tot / n)), 4) AS chi2
        FROM tot
    """,
)
def stat_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence statistic for event_type ×
    user-cohort — the A/B segmentation sanity check. The contingency
    table is ONE map-combinable groupBy (|types|·|cohorts| cells); the
    full dense grid (so empty cells contribute their expectation) and
    the marginals are windows over that tiny aggregate, never over raw
    rows. Scales as a single scan regardless of N."""
    e = load_table(spark, sf_dir, "events")
    obs = (
        e.select("event_type", (F.col("user_id") % 2).alias("cohort"))
        .groupBy("event_type", "cohort")
        .agg(F.count(F.lit(1)).cast("double").alias("o"))
    )
    grid = (
        obs.select("event_type").distinct()
        .crossJoin(obs.select("cohort").distinct())
        .join(obs, ["event_type", "cohort"], "left")
        .na.fill({"o": 0.0})
    )
    tot = grid.select(
        "event_type",
        "cohort",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("row_tot"),
        F.sum("o").over(Window.partitionBy("cohort")).alias("col_tot"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    exp = F.col("row_tot") * F.col("col_tot") / F.col("n")
    return tot.agg(
        F.countDistinct("event_type").alias("n_rows_dim"),
        F.countDistinct("cohort").alias("n_cols_dim"),
        (
            (F.countDistinct("event_type") - 1)
            * (F.countDistinct("cohort") - 1)
        ).alias("dof"),
        F.round(F.sum(F.pow(F.col("o") - exp, 2) / exp), 4).alias("chi2"),
    )


@register(
    "stat_gini_concentration",
    oracle="""
        WITH rev AS (
            SELECT o_custkey, sum(o_totalprice) AS revenue
            FROM orders GROUP BY o_custkey
        ),
        ranked AS (
            SELECT revenue,
                   row_number() OVER (ORDER BY revenue, o_custkey) AS i
            FROM rev
        )
        SELECT count(*) AS n_customers,
               round(sum(CAST(floor(revenue * 100.0 + 0.5) AS BIGINT))
                     / 100.0, 2) AS total_revenue,
               round(2.0 * sum(i * revenue) / (count(*) * sum(revenue))
                     - (count(*) + 1.0) / count(*), 4) AS gini
        FROM ranked
    """,
)
def stat_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue concentration across customers
    (Lorenz-curve rank formula G = 2·Σi·x_i/(n·Σx) − (n+1)/n over
    ascending revenue). The "do 1% of customers drive 50% of revenue"
    audit. Per-customer revenue is the only raw-row shuffle. The rank
    i is EXACT but computed without a single-partition sort (r5
    VERDICT wrong-shape #2): the bucket two-pass in
    ``operators/distrank.py`` gives each customer its global
    row_number via within-bucket windows + broadcast bucket offsets;
    n and Σx fold in the final map-combinable aggregate instead of
    global windows. Ties rank arbitrarily within equal revenue but
    Σi·x_i is tie-invariant (x constant across the tie run), so the
    custkey tie-break is belt-and-braces for the oracle hash, not a
    correctness need."""
    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("revenue"))
    ranked = global_rank(rev, "revenue", ["o_custkey"], rank_col="i")
    n = F.count(F.lit(1))
    total = F.sum("revenue")
    # total_revenue sums EXACT integer cents (floor(x*100+0.5) is the
    # bit-identical rule-1b round): a float global sum flips the 2nd
    # decimal at sf1 magnitudes (~4e11) under reassociation. gini's
    # own sums stay float — it divides two same-magnitude sums, so
    # reassociation cancels to ~1e-13 against the 4-dp round.
    total_cents = F.sum(
        F.floor(F.col("revenue") * 100.0 + F.lit(0.5)).cast("bigint")
    )
    return ranked.agg(
        n.alias("n_customers"),
        F.round(total_cents / 100.0, 2).alias("total_revenue"),
        F.round(
            F.lit(2.0) * F.sum(F.col("i") * F.col("revenue")) / (n * total)
            - (n + F.lit(1.0)) / n,
            4,
        ).alias("gini"),
    )


@register(
    "events_user_streaks",
    oracle="""
        WITH days AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ),
        grp AS (
            SELECT user_id, day,
                   day - CAST(row_number() OVER (
                       PARTITION BY user_id ORDER BY day) AS INTEGER)
                       AS anchor
            FROM days
        ),
        streaks AS (
            SELECT user_id, anchor, count(*) AS streak_len
            FROM grp GROUP BY user_id, anchor
        )
        SELECT user_id,
               CAST(sum(streak_len) AS BIGINT) AS n_active_days,
               max(streak_len) AS longest_streak,
               count(*) AS n_streaks
        FROM streaks GROUP BY user_id
    """,
)
def events_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: longest consecutive-active-day streak per user
    (the engagement/retention metric). Classic anchor trick — day minus
    its per-user row_number is constant within a consecutive run — so
    the whole computation is distinct + window + two groupBys, all
    partitioned by user_id: one logical shuffle key end-to-end, no
    self-join, no iteration. At 100 TB the distinct collapses raw
    events to |user×day| first, which is the small cardinality."""
    e = load_table(spark, sf_dir, "events")
    days = e.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grp = days.withColumn(
        "anchor", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    streaks = grp.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("streak_len")
    )
    return streaks.groupBy("user_id").agg(
        F.sum("streak_len").alias("n_active_days"),
        F.max("streak_len").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


@register(
    "ts_time_weighted_avg",
    oracle="""
        WITH seg AS (
            SELECT event_type, value,
                   lead(epoch_us(ts)) OVER (
                       PARTITION BY event_type
                       ORDER BY epoch_us(ts), event_id)
                   - epoch_us(ts) AS dur_us
            FROM events
        )
        SELECT event_type,
               count(*) AS n_segments,
               round(sum(value * dur_us) / sum(dur_us), 4) AS twap,
               round(sum(value) / count(*), 4) AS simple_avg
        FROM seg
        WHERE dur_us IS NOT NULL
        GROUP BY event_type
    """,
)
def ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP-style): each reading holds until the
    next one, so its weight is the microsecond gap to the successor —
    vs the naive per-row mean, which over-weights bursty periods. One
    window (lead over the series key) + one groupBy on the same key:
    a single shuffle by event_type, linear in rows. The µs-epoch
    ordering with event_id tie-break makes lead() engine-deterministic
    even on timestamp collisions."""
    e = load_table(spark, sf_dir, "events")
    ts_us = F.unix_micros("ts")
    w = Window.partitionBy("event_type").orderBy(ts_us, "event_id")
    seg = e.select(
        "event_type",
        "value",
        (F.lead(ts_us).over(w) - ts_us).alias("dur_us"),
    ).where(F.col("dur_us").isNotNull())
    return seg.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.round(
            F.sum(F.col("value") * F.col("dur_us")) / F.sum("dur_us"), 4
        ).alias("twap"),
        F.round(F.sum("value") / F.count(F.lit(1)), 4).alias("simple_avg"),
    )


@register(
    "geo_nearest_hub",
    oracle="""
        WITH pts AS (
            SELECT c_custkey,
                   CAST(c_custkey % 179 AS DOUBLE) - 89.0 + 0.5 AS lat,
                   CAST(c_custkey % 359 AS DOUBLE) - 179.0 + 0.5 AS lon
            FROM customer
        ),
        hubs AS (
            SELECT r_regionkey AS hub_id, r_name AS hub_name,
                   CAST(r_regionkey * 30 - 60 AS DOUBLE) AS hlat,
                   CAST(r_regionkey * 60 - 120 AS DOUBLE) AS hlon
            FROM region
        ),
        dist AS (
            SELECT c_custkey, hub_id, hub_name,
                   round(2 * 6371.0 * asin(sqrt(
                       pow(sin(radians(hlat - lat) / 2), 2)
                       + cos(radians(lat)) * cos(radians(hlat))
                         * pow(sin(radians(hlon - lon) / 2), 2)
                   )), 4) AS d_km
            FROM pts CROSS JOIN hubs
        ),
        nearest AS (
            SELECT c_custkey, hub_id, hub_name, d_km,
                   row_number() OVER (PARTITION BY c_custkey
                                      ORDER BY d_km, hub_id) AS rn
            FROM dist
        )
        SELECT hub_name,
               count(*) AS n_customers,
               round(sum(d_km), 2) AS total_km,
               round(min(d_km), 4) AS closest_km
        FROM nearest WHERE rn = 1
        GROUP BY hub_name
    """,
)
def geo_nearest_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-facility assignment: every customer (synthetic
    deterministic lat/lon from its key) is assigned to the closest of 5
    regional hubs by haversine distance — the logistics/geo-sharding
    primitive. Broadcast the tiny hub table, compute the great-circle
    distance JVM-side, take the per-customer argmin with a window:
    |customers| × |hubs| narrow rows, never a customer×customer join,
    so it scales linearly with the fleet. Distances round to 4 before
    the argmin so float drift can't flip the hub choice between
    engines (hub_id is the tie-break)."""
    c = load_table(spark, sf_dir, "customer")
    r = load_table(spark, sf_dir, "region")
    pts = c.select(
        "c_custkey",
        ((F.col("c_custkey") % 179).cast("double") - 89.0 + 0.5).alias("lat"),
        ((F.col("c_custkey") % 359).cast("double") - 179.0 + 0.5).alias("lon"),
    )
    hubs = r.select(
        F.col("r_regionkey").alias("hub_id"),
        F.col("r_name").alias("hub_name"),
        (F.col("r_regionkey") * 30 - 60).cast("double").alias("hlat"),
        (F.col("r_regionkey") * 60 - 120).cast("double").alias("hlon"),
    )
    half_lat = F.radians(F.col("hlat") - F.col("lat")) / 2
    half_lon = F.radians(F.col("hlon") - F.col("lon")) / 2
    hav = (
        F.pow(F.sin(half_lat), 2)
        + F.cos(F.radians("lat")) * F.cos(F.radians("hlat"))
        * F.pow(F.sin(half_lon), 2)
    )
    dist = pts.crossJoin(F.broadcast(hubs)).select(
        "c_custkey",
        "hub_id",
        "hub_name",
        F.round(2 * 6371.0 * F.asin(F.sqrt(hav)), 4).alias("d_km"),
    )
    w = Window.partitionBy("c_custkey").orderBy("d_km", "hub_id")
    nearest = dist.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    return nearest.groupBy("hub_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("d_km"), 2).alias("total_km"),
        F.round(F.min("d_km"), 4).alias("closest_km"),
    )


@register(
    "stat_mahalanobis_outliers",
    oracle="""
        WITH feat AS (
            SELECT c.c_custkey,
                   CAST(c.c_acctbal AS DOUBLE) AS x,
                   sum(o.o_totalprice) AS y
            FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
            GROUP BY c.c_custkey, c.c_acctbal
        ),
        s AS (
            SELECT CAST(count(*) AS DOUBLE) AS n,
                   sum(x) AS sx, sum(x * x) AS sxx,
                   sum(y) AS sy, sum(y * y) AS syy,
                   sum(x * y) AS sxy
            FROM feat
        ),
        params AS (
            SELECT n, sx / n AS mx, sy / n AS my,
                   sxx / n - (sx / n) * (sx / n) AS vx,
                   syy / n - (sy / n) * (sy / n) AS vy,
                   sxy / n - (sx / n) * (sy / n) AS cxy
            FROM s
        )
        SELECT c_custkey,
               round((pow(x - mx, 2) * vy
                      - 2 * (x - mx) * (y - my) * cxy
                      + pow(y - my, 2) * vx)
                     / (vx * vy - cxy * cxy), 4) AS d2
        FROM feat CROSS JOIN params
        WHERE (pow(x - mx, 2) * vy
               - 2 * (x - mx) * (y - my) * cxy
               + pow(y - my, 2) * vx)
              / (vx * vy - cxy * cxy) > 9.21
    """,
)
def stat_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate outlier screen: squared Mahalanobis distance on
    (account balance, total revenue) per customer, flagging d² above
    the χ²(2 dof, 99%) cut of 9.21 — catches points that are normal in
    each dimension but jointly improbable, which per-column z-scores
    (ts_anomaly_zscore) can't see. The 2×2 covariance comes from ONE
    pass of raw-moment sums (map-combinable; no second scan), the
    inverse is closed-form, and scoring is a broadcast of 6 scalars —
    so the whole thing is two scans of aggregates regardless of N."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    feat = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey", "c_acctbal")
        .agg(F.sum("o_totalprice").alias("y"))
        .select(
            "c_custkey", F.col("c_acctbal").cast("double").alias("x"), "y"
        )
    )
    s = feat.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    params = s.select(
        (F.col("sx") / F.col("n")).alias("mx"),
        (F.col("sy") / F.col("n")).alias("my"),
        (F.col("sxx") / F.col("n") - F.pow(F.col("sx") / F.col("n"), 2)).alias("vx"),
        (F.col("syy") / F.col("n") - F.pow(F.col("sy") / F.col("n"), 2)).alias("vy"),
        (
            F.col("sxy") / F.col("n")
            - (F.col("sx") / F.col("n")) * (F.col("sy") / F.col("n"))
        ).alias("cxy"),
    )
    scored = feat.crossJoin(F.broadcast(params))
    d2 = (
        F.pow(F.col("x") - F.col("mx"), 2) * F.col("vy")
        - 2 * (F.col("x") - F.col("mx")) * (F.col("y") - F.col("my")) * F.col("cxy")
        + F.pow(F.col("y") - F.col("my"), 2) * F.col("vx")
    ) / (F.col("vx") * F.col("vy") - F.col("cxy") * F.col("cxy"))
    return scored.where(d2 > 9.21).select(
        "c_custkey", F.round(d2, 4).alias("d2")
    )


@register(
    "stat_ks_test",
    oracle="""
        WITH s AS (
            SELECT c.c_mktsegment AS seg, o.o_totalprice AS v
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
        ),
        pts AS (
            SELECT v,
                   sum(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END) AS n1,
                   sum(CASE WHEN seg = 'MACHINERY' THEN 1 ELSE 0 END) AS n2
            FROM s GROUP BY v
        ),
        tot AS (SELECT sum(n1) AS t1, sum(n2) AS t2 FROM pts),
        ecdf AS (
            SELECT sum(n1) OVER (ORDER BY v) AS c1,
                   sum(n2) OVER (ORDER BY v) AS c2
            FROM pts
        )
        SELECT CAST(t1 AS BIGINT) AS n_building,
               CAST(t2 AS BIGINT) AS n_machinery,
               round(max(abs(CAST(c1 AS DOUBLE) / t1
                             - CAST(c2 AS DOUBLE) / t2)), 6) AS ks_d
        FROM ecdf CROSS JOIN tot
        GROUP BY t1, t2
    """,
)
def stat_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D statistic: BUILDING-segment vs
    MACHINERY-segment order totals — the distribution-drift test a
    data pipeline runs between refreshes (did this batch's price
    distribution shift?).

    Shape: the raw rows collapse to per-distinct-value counts first
    (map-combinable groupBy, shuffle carries |distinct prices| not
    |orders|), then both ECDF cumulatives come from the distrank
    bucket two-pass — prices are near-continuous, so the
    distinct-value frame is order-scaled and the textbook
    single-partition KS window would serialize it. D-statistic
    extraction is a scalar aggregate. Counts are integers so the ECDF
    is exact; only the final ratio is floating (rounded at 6dp)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    )
    s = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"), F.col("o_totalprice").alias("v")
    )
    pts = s.groupBy("v").agg(
        F.sum(F.when(F.col("seg") == "BUILDING", 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("seg") == "MACHINERY", 1).otherwise(0)).alias("n2"),
    )
    # both ECDF cumulative counts via the distrank bucket two-pass —
    # o_totalprice is near-continuous, so the distinct-value frame is
    # order-scaled and a single-partition window would serialize it;
    # the sums are exact integers, so the decomposition is exact
    ecdf = global_running_agg(
        global_running_agg(
            pts, "v", [], F.col("n1"), agg="sum", out_col="c1"
        ),
        "v",
        [],
        F.col("n2"),
        agg="sum",
        out_col="c2",
    ).select("c1", "c2")
    tot = pts.agg(F.sum("n1").alias("t1"), F.sum("n2").alias("t2"))
    return (
        ecdf.crossJoin(F.broadcast(tot))
        .groupBy("t1", "t2")
        .agg(
            F.round(
                F.max(
                    F.abs(
                        F.col("c1").cast("double") / F.col("t1")
                        - F.col("c2").cast("double") / F.col("t2")
                    )
                ),
                6,
            ).alias("ks_d")
        )
        .select(
            F.col("t1").alias("n_building"),
            F.col("t2").alias("n_machinery"),
            "ks_d",
        )
    )


@register(
    "ml_logistic_gradient_steps",
    oracle="""
        WITH feat AS (
            SELECT o.o_totalprice / 100000.0 AS x1,
                   li.n / 10.0 AS x2,
                   CASE WHEN o.o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS y
            FROM orders o
            JOIN (SELECT l_orderkey, CAST(count(*) AS DOUBLE) AS n
                  FROM lineitem GROUP BY l_orderkey) li
              ON o.o_orderkey = li.l_orderkey
        ),
        g1 AS (
            SELECT avg(0.5 - y) AS gb,
                   avg((0.5 - y) * x1) AS gx1,
                   avg((0.5 - y) * x2) AS gx2
            FROM feat
        ),
        s1 AS (SELECT -gb AS b, -gx1 AS w1, -gx2 AS w2 FROM g1),
        g2 AS (
            SELECT avg(1.0 / (1.0 + exp(-(w.b + w.w1 * f.x1 + w.w2 * f.x2)))
                       - f.y) AS gb,
                   avg((1.0 / (1.0 + exp(-(w.b + w.w1 * f.x1 + w.w2 * f.x2)))
                        - f.y) * f.x1) AS gx1,
                   avg((1.0 / (1.0 + exp(-(w.b + w.w1 * f.x1 + w.w2 * f.x2)))
                        - f.y) * f.x2) AS gx2
            FROM feat f CROSS JOIN s1 w
        ),
        s2 AS (
            SELECT w.b - g.gb AS b, w.w1 - g.gx1 AS w1, w.w2 - g.gx2 AS w2
            FROM s1 w CROSS JOIN g2 g
        ),
        loss AS (
            SELECT avg(-(y * ln(p) + (1.0 - y) * ln(1.0 - p))) AS ll
            FROM (
                SELECT f.y,
                       1.0 / (1.0 + exp(-(w.b + w.w1 * f.x1 + w.w2 * f.x2)))
                           AS p
                FROM feat f CROSS JOIN s2 w
            )
        )
        SELECT round(s2.b, 6) AS bias,
               round(s2.w1, 6) AS w_price,
               round(s2.w2, 6) AS w_items,
               round(loss.ll, 6) AS log_loss
        FROM s2 CROSS JOIN loss
    """,
)
def ml_logistic_gradient_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression trained by two full-batch gradient-descent
    steps (lr=1), predicting order status F from scaled price and
    line-count features — the distributed-ML kernel shape on Spark:
    each step is one map-combinable gradient aggregate (the shuffle
    carries 3 running sums, never rows) and the weight vector stays a
    broadcast 1-row frame between steps, exactly like the kmeans /
    pagerank / PCA loops elsewhere in the engine. No .collect(): the
    whole 2-step recurrence plus the final log-loss is one lazy plan,
    and the oracle unrolls the identical recurrence in CTEs. Fixed
    step count keeps it engine-portable; weights and loss round at
    6dp (double accumulation noise is ~1e-12 of magnitude)."""
    o = load_table(spark, sf_dir, "orders")
    licnt = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count("*").cast("double").alias("n"))
    )
    feat = track_persist(
        o.join(licnt, o.o_orderkey == licnt.l_orderkey).select(
            (F.col("o_totalprice") / 100000.0).alias("x1"),
            (F.col("n") / 10.0).alias("x2"),
            F.when(F.col("o_orderstatus") == "F", 1.0)
            .otherwise(0.0)
            .alias("y"),
        )
    )

    def grad(wdf):
        f = feat.crossJoin(F.broadcast(wdf))
        p = 1.0 / (1.0 + F.exp(-(F.col("b") + F.col("w1") * F.col("x1")
                                 + F.col("w2") * F.col("x2"))))
        return f.agg(
            F.avg(p - F.col("y")).alias("gb"),
            F.avg((p - F.col("y")) * F.col("x1")).alias("gx1"),
            F.avg((p - F.col("y")) * F.col("x2")).alias("gx2"),
        )

    w = spark.range(1).select(
        F.lit(0.0).alias("b"), F.lit(0.0).alias("w1"), F.lit(0.0).alias("w2")
    )
    for _ in range(2):
        g = grad(w)
        w = w.crossJoin(F.broadcast(g)).select(
            (F.col("b") - F.col("gb")).alias("b"),
            (F.col("w1") - F.col("gx1")).alias("w1"),
            (F.col("w2") - F.col("gx2")).alias("w2"),
        )
    scored = feat.crossJoin(F.broadcast(w))
    p = 1.0 / (1.0 + F.exp(-(F.col("b") + F.col("w1") * F.col("x1")
                             + F.col("w2") * F.col("x2"))))
    loss = scored.agg(
        F.avg(-(F.col("y") * F.log(p) + (1.0 - F.col("y")) * F.log(1.0 - p))
              ).alias("ll")
    )
    return w.crossJoin(F.broadcast(loss)).select(
        F.round("b", 6).alias("bias"),
        F.round("w1", 6).alias("w_price"),
        F.round("w2", 6).alias("w_items"),
        F.round("ll", 6).alias("log_loss"),
    )


_NORMAL_EQ_SQL = """
        WITH stats AS (
            -- Each sufficient statistic is accumulated as INTEGER
            -- hundredths (per-term floor(x*100+0.5), identical on both
            -- engines) so the sums are order-independent EXACT integer
            -- adds; the /100.0 recovers the double the solve consumes.
            SELECT CAST(count(*) AS DOUBLE) AS n,
                   CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5)
                            AS BIGINT)) AS DOUBLE) / 100.0 AS sx1,
                   CAST(sum(CAST(floor(l_discount * 100000.0 + 0.5)
                            AS BIGINT)) AS DOUBLE) / 100000.0 AS sx2,
                   CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5)
                            AS BIGINT)) AS DOUBLE) / 100.0 AS sy,
                   CAST(sum(CAST(floor(l_quantity * l_quantity * 100.0 + 0.5)
                            AS BIGINT)) AS DOUBLE) / 100.0 AS sx11,
                   CAST(sum(CAST(floor(l_quantity * l_discount * 100000.0 + 0.5)
                            AS BIGINT)) AS DOUBLE) / 100000.0 AS sx12,
                   CAST(sum(CAST(floor(l_discount * l_discount * 1000000.0 + 0.5)
                            AS BIGINT)) AS DOUBLE) / 1000000.0 AS sx22,
                   CAST(sum(CAST(floor(l_quantity * l_extendedprice * 100.0 + 0.5)
                            AS BIGINT)) AS DOUBLE) / 100.0 AS sx1y,
                   CAST(sum(CAST(floor(l_discount * l_extendedprice * 10000.0 + 0.5)
                            AS BIGINT)) AS DOUBLE) / 10000.0 AS sx2y
            FROM {lineitem}
        ),
        solved AS (
            SELECT
                n * (sx11 * sx22 - sx12 * sx12)
                - sx1 * (sx1 * sx22 - sx12 * sx2)
                + sx2 * (sx1 * sx12 - sx11 * sx2) AS det,
                sy * (sx11 * sx22 - sx12 * sx12)
                - sx1 * (sx1y * sx22 - sx12 * sx2y)
                + sx2 * (sx1y * sx12 - sx11 * sx2y) AS det_b,
                n * (sx1y * sx22 - sx12 * sx2y)
                - sy * (sx1 * sx22 - sx12 * sx2)
                + sx2 * (sx1 * sx2y - sx1y * sx2) AS det_w1,
                n * (sx11 * sx2y - sx1y * sx12)
                - sx1 * (sx1 * sx2y - sx1y * sx2)
                + sy * (sx1 * sx12 - sx11 * sx2) AS det_w2
            FROM stats
        ),
        coef AS (
            SELECT det_b / det AS b, det_w1 / det AS w1, det_w2 / det AS w2
            FROM solved
        )
        SELECT round(c.b, 6)  AS bias,
               round(c.w1, 6) AS w_quantity,
               round(c.w2, 6) AS w_discount,
               round(sqrt(sum(
                   (l.l_extendedprice
                    - (c.b + c.w1 * l.l_quantity + c.w2 * l.l_discount))
                   * (l.l_extendedprice
                      - (c.b + c.w1 * l.l_quantity + c.w2 * l.l_discount)))
                   / max(s.n)), 4) AS rmse
        FROM {lineitem} l CROSS JOIN coef c CROSS JOIN stats s
        GROUP BY c.b, c.w1, c.w2
"""


@register(
    "ml_linear_normal_equation",
    oracle=_NORMAL_EQ_SQL.format(lineitem="lineitem"),
)
def ml_linear_normal_equation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-feature linear regression solved in CLOSED FORM by the
    normal equations: one scan aggregates the 9 sufficient statistics
    (the Gram matrix X'X and X'y), the 3x3 system is solved inline via
    Cramer's rule, and a second scan scores RMSE. This is the canonical
    100 TB supervised-fit pattern — the data crosses the network as 9
    doubles, never as rows; the "solve" is O(1) and the two scans are
    shuffle-free map-side reductions. (The iterative sibling is
    ml_logistic_gradient_steps; this is the one-pass exact path.)

    Determinism: every sufficient statistic is accumulated as scaled
    INTEGERS (per-term floor-rounding, identical on both engines), so
    the sums are order-independent exact adds — float summation order
    differs between engines at the 1e-5 absolute level on these
    1e11-magnitude sums, enough to flip a rounded decimal. The
    recovered doubles are identical, so Cramer arithmetic is
    bit-identical. The residual sum's own order drift dies under
    sqrt(SS/n) at 4 dp."""
    return sql_on_tables(spark, sf_dir, _NORMAL_EQ_SQL)


_BOOT_B = 32


@register(
    "stat_bootstrap_ci",
    oracle=f"""
        WITH base AS (
            SELECT event_id,
                   CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v_c
            FROM events
            WHERE event_type = 'purchase'
        ),
        reps AS (
            SELECT b.b, e.event_id, e.v_c,
                   (CAST(concat('0x', substr(md5(concat(
                        CAST(e.event_id AS VARCHAR), '_',
                        CAST(b.b AS VARCHAR))), 1, 8)) AS BIGINT)
                    % 1000000 + 0.5) / 1000000.0 AS u
            FROM base e
            CROSS JOIN (SELECT unnest(range(0, {_BOOT_B})) AS b) b
        ),
        weighted AS (
            SELECT b, v_c,
                   CASE WHEN u < 0.367879 THEN 0
                        WHEN u < 0.735759 THEN 1
                        WHEN u < 0.919699 THEN 2
                        WHEN u < 0.981012 THEN 3
                        ELSE 4 END AS w
            FROM reps
        ),
        boot AS (
            SELECT b,
                   CAST(floor(CAST(sum(w * v_c) AS DOUBLE)
                              / (100.0 * sum(w)) * 1000000.0 + 0.5)
                        AS BIGINT) AS m_u
            FROM weighted GROUP BY b
        )
        SELECT (SELECT count(*) FROM base) AS n_rows,
               (SELECT floor(CAST(sum(v_c) AS DOUBLE) / count(*)
                             * 100.0 + 0.5) / 10000.0
                FROM base) AS point_mean,
               floor(CAST(sum(m_u) AS DOUBLE) / count(*) / 100.0 + 0.5)
                   / 10000.0 AS boot_mean,
               floor(sqrt((CAST(sum(m_u * m_u) AS DOUBLE)
                           - CAST(sum(m_u) AS DOUBLE) * sum(m_u)
                             / count(*))
                          / (count(*) - 1)) / 100.0 + 0.5)
                   / 10000.0 AS boot_se,
               floor(quantile_cont(m_u, 0.025) / 100.0 + 0.5)
                   / 10000.0 AS ci_lo,
               floor(quantile_cont(m_u, 0.975) / 100.0 + 0.5)
                   / 10000.0 AS ci_hi
        FROM boot
    """,
)
def stat_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for a mean WITHOUT an RNG: the
    Poisson bootstrap (each row enters replicate b with weight ~
    Poisson(1), here drawn through the inverse CDF from a deterministic
    md5(u) per (row, replicate)) — the form that streams: no resample
    materialization, no sequential draw, every row scored independently
    so the whole thing is one explode + one groupBy(replicate). The
    same rows land in the same replicates on every engine, run, and
    retry. Output: point mean, bootstrap mean/SE, and the 2.5/97.5
    percentile CI over B={_BOOT_B} replicate means. At 100 TB the
    B-fold row expansion is the only cost knob; replicate means are a
    B-row aggregate.

    Determinism (exact-cents, q1/q19 pattern — r7 VERDICT item 6):
    every multi-row float accumulation is replaced by an exact
    integer sum. value is 2 dp -> exact cents v_c, so sum(w*v_c) and
    sum(v_c) are order-independent integer adds; each replicate mean
    is then ONE identical IEEE division, quantized to integer
    micro-units m_u (value is generator-bounded ~1e3, so m_u <= ~1e9
    and sum(m_u^2) <= ~3e19/32 fits a 64-bit sum). boot mean / SE /
    CI are scalar double expressions over those exact integers
    (variance via the sum-of-squares identity, not engine
    stddev_samp, whose internal accumulation order differs), with
    portable floor rounding instead of engine round()."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    base = e.select(
        "event_id",
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("v_c"),
    )
    reps = base.select(
        "event_id",
        "v_c",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    )
    from parquet_playground_spark.operators.scale import _portable_bucket

    u = (
        _portable_bucket(
            F.concat(
                F.col("event_id").cast("string"),
                F.lit("_"),
                F.col("b").cast("string"),
            ),
            1000000,
        )
        + 0.5
    ) / 1000000.0
    w = (
        F.when(u < 0.367879, 0)
        .when(u < 0.735759, 1)
        .when(u < 0.919699, 2)
        .when(u < 0.981012, 3)
        .otherwise(4)
    )
    boot = (
        reps.select("b", "v_c", w.alias("w"))
        .groupBy("b")
        .agg(
            F.floor(
                F.sum(F.col("w") * F.col("v_c")).cast("double")
                / (100.0 * F.sum("w"))
                * 1000000.0
                + 0.5
            )
            .cast("long")
            .alias("m_u")
        )
    )
    point = base.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (
            F.floor(
                F.sum("v_c").cast("double") / F.count(F.lit(1)) * 100.0
                + 0.5
            )
            / 10000.0
        ).alias("point_mean"),
    )
    n_b = F.count(F.lit(1))
    return boot.agg(
        (
            F.floor(F.sum("m_u").cast("double") / n_b / 100.0 + 0.5)
            / 10000.0
        ).alias("boot_mean"),
        (
            F.floor(
                F.sqrt(
                    (
                        F.sum(F.col("m_u") * F.col("m_u")).cast("double")
                        - F.sum("m_u").cast("double") * F.sum("m_u") / n_b
                    )
                    / (n_b - 1)
                )
                / 100.0
                + 0.5
            )
            / 10000.0
        ).alias("boot_se"),
        (
            F.floor(F.percentile("m_u", F.lit(0.025)) / 100.0 + 0.5)
            / 10000.0
        ).alias("ci_lo"),
        (
            F.floor(F.percentile("m_u", F.lit(0.975)) / 100.0 + 0.5)
            / 10000.0
        ).alias("ci_hi"),
    ).crossJoin(F.broadcast(point)).select(
        "n_rows", "point_mean", "boot_mean", "boot_se", "ci_lo", "ci_hi"
    )


_KM_SQL = """
        WITH life AS (
            SELECT user_id, horizon, lifetime FROM {src}
        ),
        obs AS (
            -- a user "dies" at their last purchase day unless still
            -- purchasing in the corpus's final day (right-censored)
            SELECT user_id, lifetime,
                   CASE WHEN horizon - lifetime <= 1 THEN 0 ELSE 1 END
                       AS event_observed
            FROM life
        ),
        counts AS (
            SELECT lifetime AS t,
                   count(*) AS all_c,
                   CAST(sum(event_observed) AS BIGINT) AS d
            FROM obs GROUP BY lifetime
        ),
        risk AS (
            -- at-risk at t = users whose lifetime >= t: suffix-cumulative
            -- count over descending t (declarative; Spark rejects the
            -- correlated count inside the grouped select)
            SELECT t, CAST(d AS DOUBLE) AS d,
                   CAST(sum(all_c) OVER (
                       ORDER BY t DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS DOUBLE) AS n
            FROM counts
        ),
        km AS (
            -- d = n (everyone at risk churns) would be ln(0): DuckDB
            -- raises, Spark NULLs and silently skips the term. Guard
            -- the log at 1 and force S = 0 from that day on instead.
            SELECT t, d, n,
                   CASE WHEN min(1.0 - d / n) OVER (
                            ORDER BY t
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) <= 0.0
                        THEN 0.0
                        ELSE exp(sum(ln(CASE WHEN 1.0 - d / n <= 0.0
                                             THEN 1.0
                                             ELSE 1.0 - d / n END)) OVER (
                            ORDER BY t
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW))
                   END AS s
            FROM risk
            WHERE d > 0
        )
        SELECT CAST(t AS BIGINT) AS day,
               CAST(d AS BIGINT) AS n_churned,
               CAST(n AS BIGINT) AS n_at_risk,
               round(s, 4) AS survival
        FROM km
        ORDER BY day
"""


@register(
    "stat_cohort_survival_km",
    oracle="""
        WITH agg AS (
            SELECT user_id,
                   min(CAST(date_trunc('day', ts) AS DATE)) AS first_d,
                   max(CAST(date_trunc('day', ts) AS DATE)) AS last_d,
                   (SELECT max(CAST(date_trunc('day', ts) AS DATE))
                    FROM events) AS max_all
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id
        ),
        src AS (
            SELECT user_id,
                   CAST(max_all - first_d AS BIGINT) AS horizon,
                   CAST(last_d - first_d AS BIGINT) AS lifetime
            FROM agg
        )"""
    + _KM_SQL.format(src="src").replace("WITH life AS", ", life AS", 1),
)
def stat_cohort_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve over purchasing lifetimes: lifetime
    = days between a user's first and last purchase; users still
    purchasing within a day of corpus end are right-CENSORED (the
    estimator's whole point — a naive churn rate throws them away or
    miscounts them). S(t) is the
    product over churn days of (1 - d/n), computed as exp of an
    ORDERED cumulative sum of logs — the sequential window makes the
    float fold deterministic. The at-risk counts are integers from a
    user-level aggregate; the curve table is |distinct lifetimes| rows.
    One user_id groupBy is the only fact shuffle at any scale."""
    e = load_table(spark, sf_dir, "events")
    per_user = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.min(F.date_trunc("day", "ts").cast("date")).alias("first_d"),
            F.max(F.date_trunc("day", "ts").cast("date")).alias("last_d"),
        )
    )
    max_all = e.agg(
        F.max(F.date_trunc("day", "ts").cast("date")).alias("max_all")
    )
    src = per_user.crossJoin(F.broadcast(max_all)).select(
        "user_id",
        F.datediff("max_all", "first_d").cast("bigint").alias("horizon"),
        F.datediff("last_d", "first_d").cast("bigint").alias("lifetime"),
    )
    return spark.sql(_KM_SQL, src=src)


_KFOLD_SQL = """
        WITH folded AS (
            SELECT l_quantity AS x1, l_discount AS x2,
                   l_extendedprice AS y,
                   {fold_expr} AS fold
            FROM {lineitem}
        ),
        fold_stats AS (
            SELECT fold,
                   count(*) AS n,
                   sum(CAST(floor(x1 * 100.0 + 0.5) AS BIGINT)) AS sx1,
                   sum(CAST(floor(x2 * 100000.0 + 0.5) AS BIGINT)) AS sx2,
                   sum(CAST(floor(y * 100.0 + 0.5) AS BIGINT)) AS sy,
                   sum(CAST(floor(x1 * x1 * 100.0 + 0.5) AS BIGINT)) AS sx11,
                   sum(CAST(floor(x1 * x2 * 100000.0 + 0.5) AS BIGINT))
                       AS sx12,
                   sum(CAST(floor(x2 * x2 * 1000000.0 + 0.5) AS BIGINT))
                       AS sx22,
                   sum(CAST(floor(x1 * y * 100.0 + 0.5) AS BIGINT)) AS sx1y,
                   sum(CAST(floor(x2 * y * 10000.0 + 0.5) AS BIGINT)) AS sx2y
            FROM folded GROUP BY fold
        ),
        total AS (
            SELECT sum(n) AS n, sum(sx1) AS sx1, sum(sx2) AS sx2,
                   sum(sy) AS sy, sum(sx11) AS sx11, sum(sx12) AS sx12,
                   sum(sx22) AS sx22, sum(sx1y) AS sx1y, sum(sx2y) AS sx2y
            FROM fold_stats
        ),
        train AS (
            -- train stats for fold f = total - fold_f: sufficient
            -- statistics SUBTRACT, so k models cost one scan, not k
            SELECT f.fold,
                   CAST(t.n - f.n AS DOUBLE) AS n,
                   CAST(t.sx1 - f.sx1 AS DOUBLE) / 100.0 AS sx1,
                   CAST(t.sx2 - f.sx2 AS DOUBLE) / 100000.0 AS sx2,
                   CAST(t.sy - f.sy AS DOUBLE) / 100.0 AS sy,
                   CAST(t.sx11 - f.sx11 AS DOUBLE) / 100.0 AS sx11,
                   CAST(t.sx12 - f.sx12 AS DOUBLE) / 100000.0 AS sx12,
                   CAST(t.sx22 - f.sx22 AS DOUBLE) / 1000000.0 AS sx22,
                   CAST(t.sx1y - f.sx1y AS DOUBLE) / 100.0 AS sx1y,
                   CAST(t.sx2y - f.sx2y AS DOUBLE) / 10000.0 AS sx2y
            FROM fold_stats f CROSS JOIN total t
        ),
        coef AS (
            SELECT fold,
                   (sy * (sx11 * sx22 - sx12 * sx12)
                    - sx1 * (sx1y * sx22 - sx12 * sx2y)
                    + sx2 * (sx1y * sx12 - sx11 * sx2y))
                   / (n * (sx11 * sx22 - sx12 * sx12)
                      - sx1 * (sx1 * sx22 - sx12 * sx2)
                      + sx2 * (sx1 * sx12 - sx11 * sx2)) AS b,
                   (n * (sx1y * sx22 - sx12 * sx2y)
                    - sy * (sx1 * sx22 - sx12 * sx2)
                    + sx2 * (sx1 * sx2y - sx1y * sx2))
                   / (n * (sx11 * sx22 - sx12 * sx12)
                      - sx1 * (sx1 * sx22 - sx12 * sx2)
                      + sx2 * (sx1 * sx12 - sx11 * sx2)) AS w1,
                   (n * (sx11 * sx2y - sx1y * sx12)
                    - sx1 * (sx1 * sx2y - sx1y * sx2)
                    + sy * (sx1 * sx12 - sx11 * sx2))
                   / (n * (sx11 * sx22 - sx12 * sx12)
                      - sx1 * (sx1 * sx22 - sx12 * sx2)
                      + sx2 * (sx1 * sx12 - sx11 * sx2)) AS w2
            FROM train
        )
        SELECT fo.fold,
               count(*) AS n_test,
               round(c.b, 6) AS bias,
               round(c.w1, 6) AS w_quantity,
               round(c.w2, 6) AS w_discount,
               round(sqrt(sum(
                   (fo.y - (c.b + c.w1 * fo.x1 + c.w2 * fo.x2))
                   * (fo.y - (c.b + c.w1 * fo.x1 + c.w2 * fo.x2)))
                   / count(*)), 4) AS rmse
        FROM folded fo JOIN coef c ON c.fold = fo.fold
        GROUP BY fo.fold, c.b, c.w1, c.w2
        ORDER BY fo.fold
"""

_KFOLD_DUCK_HASH = (
    "CAST(concat('0x', substr(md5(CAST(l_orderkey * 10 + l_linenumber "
    "AS VARCHAR)), 1, 8)) AS BIGINT) % 4"
)
_KFOLD_SPARK_HASH = (
    "CAST(conv(substr(md5(CAST(l_orderkey * 10 + l_linenumber "
    "AS STRING)), 1, 8), 16, 10) AS BIGINT) % 4"
)


@register(
    "ml_kfold_cross_validation",
    oracle=_KFOLD_SQL.format(lineitem="lineitem", fold_expr=_KFOLD_DUCK_HASH),
)
def ml_kfold_cross_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed 4-fold cross-validation of the normal-equation
    linear model in ONE training scan: rows get a deterministic md5
    fold, per-fold Gram statistics are aggregated once, and each fold's
    training stats are the TOTAL minus its own — sufficient statistics
    subtract, so k leave-fold-out models cost one map-combinable
    groupBy instead of k scans (the trick that makes CV viable at
    100 TB). Each fold's 3x3 system solves inline via Cramer; a second
    scan scores held-out RMSE per fold through a 4-row broadcast of
    coefficients. Statistics accumulate as scaled integers (exact,
    order-independent — see ml_linear_normal_equation), so fold
    subtraction and the solves are bit-identical cross-engine."""
    return sql_on_tables(
        spark,
        sf_dir,
        _KFOLD_SQL.format(lineitem="{lineitem}", fold_expr=_KFOLD_SPARK_HASH),
    )


_MWU_SQL = """
        WITH samples AS (
            SELECT CASE WHEN event_type = 'purchase' THEN 'a' ELSE 'b' END
                       AS grp,
                   value
            FROM {events}
            WHERE event_type IN ('purchase', 'click')
        ),
        ranked AS (
            -- average ranks (ties share the mean of their rank span):
            -- rank() gives the span start; count within value closes it
            SELECT grp, value,
                   rank() OVER (ORDER BY value) AS r_lo,
                   count(*) OVER (PARTITION BY value) AS n_tied
            FROM samples
        ),
        avg_ranked AS (
            SELECT grp,
                   r_lo + (n_tied - 1) / 2.0 AS r_avg
            FROM ranked
        ),
        sums AS (
            SELECT
                sum(CASE WHEN grp = 'a' THEN r_avg END) AS ra,
                sum(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS na,
                sum(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS nb
            FROM avg_ranked
        )
        SELECT CAST(na AS BIGINT) AS n_a,
               CAST(nb AS BIGINT) AS n_b,
               round(CAST(na AS DOUBLE) * nb
                     + na * (na + 1.0) / 2.0 - ra, 4) AS u_stat,
               round((CAST(na AS DOUBLE) * nb
                      + na * (na + 1.0) / 2.0 - ra
                      - CAST(na AS DOUBLE) * nb / 2.0)
                     / sqrt(CAST(na AS DOUBLE) * nb * (na + nb + 1.0)
                            / 12.0), 4) AS z_approx
        FROM sums
"""


@register(
    "stat_mann_whitney_u",
    oracle=_MWU_SQL.format(events="events"),
)
def stat_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test between purchase and click value
    distributions — the nonparametric two-sample test used when
    revenue-like metrics are too heavy-tailed for a t-test (rank-based,
    so one whale cannot move it; complements stat_ks_test's
    distribution-shape D). Average ranks for ties come from rank() (the
    tie span's start) plus half the span — deterministic halves, no
    float ranking. One global sort window (the value column is one
    partition at test scale; a production run pre-buckets values and
    computes ranks by prefix-sums per bucket), then a 1-row readout
    with the normal approximation z."""
    return sql_on_tables(spark, sf_dir, _MWU_SQL)


# ---------------------------------------------------------------------------
# ml_decision_stump — exact 1-split CART stump via cumulative counts

_STUMP_SQL = """
        WITH feat AS (
            SELECT 'quantity' AS feature,
                   CAST(l_quantity AS BIGINT) AS v,
                   CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
                        AS BIGINT) AS y
            FROM {lineitem}
            UNION ALL
            SELECT 'discount_pct',
                   CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT),
                   CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
                        AS BIGINT)
            FROM {lineitem}
            UNION ALL
            SELECT 'price_10k',
                   CAST(floor(l_extendedprice / 10000.0) AS BIGINT),
                   CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
                        AS BIGINT)
            FROM {lineitem}
        ),
        pv AS (
            SELECT feature, v, count(*) AS cnt, sum(y) AS pos
            FROM feat GROUP BY feature, v
        ),
        cum AS (
            SELECT feature, v,
                   sum(cnt) OVER w AS nl,
                   sum(pos) OVER w AS posl,
                   sum(cnt) OVER (PARTITION BY feature) AS n,
                   sum(pos) OVER (PARTITION BY feature) AS pos_tot
            FROM pv
            WINDOW w AS (PARTITION BY feature ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        scored AS (
            SELECT feature, v AS threshold, nl, posl,
                   n - nl AS nr, pos_tot - posl AS posr,
                   CAST(posl * (nl - posl) AS DOUBLE) / nl
                   + CAST((pos_tot - posl) * ((n - nl) - (pos_tot - posl))
                          AS DOUBLE) / (n - nl) AS g
            FROM cum WHERE nl > 0 AND n - nl > 0
        )
        SELECT CAST(rnk AS BIGINT) AS rnk, feature, threshold,
               CAST(floor(g * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0
                   AS weighted_gini_x_n,
               CAST(nl AS BIGINT) AS n_left, CAST(posl AS BIGINT) AS pos_left,
               CAST(nr AS BIGINT) AS n_right,
               CAST(posr AS BIGINT) AS pos_right
        FROM (
            SELECT *, row_number() OVER (
                ORDER BY g, feature, threshold) AS rnk
            FROM scored)
        WHERE rnk <= 3
        ORDER BY rnk
"""


@register("ml_decision_stump", oracle=_STUMP_SQL.format(lineitem="lineitem"))
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact CART decision-stump training: find the (feature,
    threshold) split minimizing weighted Gini impurity for predicting
    returns (l_returnflag = 'R'), over three integerized features
    (quantity, discount in pct points, price in 10k buckets). The
    classic trick makes it one pass per feature: group by distinct
    value, then a cumulative window turns every candidate threshold's
    left/right class counts into prefix sums — no per-threshold
    rescan, which is also exactly how distributed GBDT frameworks
    (XGBoost/LightGBM histogram mode) evaluate splits at scale.

    Determinism: class counts are integers; the Gini score is
    assembled from exact-integer products cast to double with one
    division per side — identical IEEE doubles on both engines — and
    the argmin tie-breaks on (gini, feature, threshold). Output: the
    top-3 candidate splits with their full contingency counts.

    Scale shape: one map-combinable groupBy per feature (the
    'histogram'), a per-feature window over the few-hundred-row
    histogram table, and a global top-3 — the fact table is scanned
    once; nothing pairwise, nothing iterative."""
    return sql_on_tables(spark, sf_dir, _STUMP_SQL)


# ---------------------------------------------------------------------------
# ml_auc_roc — exact ROC AUC via the tie-corrected rank formula

_AUC_SQL = """
        WITH scored AS (
            SELECT CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) * 100
                   + CAST(l_quantity AS BIGINT) AS score,
                   CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
                        AS BIGINT) AS y
            FROM {lineitem}
        ),
        hist AS (
            SELECT score, count(*) AS cnt, sum(y) AS pos
            FROM scored GROUP BY score
        ),
        cum AS (
            SELECT score, cnt, pos, cnt - pos AS neg,
                   coalesce(sum(cnt - pos) OVER (
                       ORDER BY score
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS neg_below
            FROM hist
        ),
        tot AS (
            SELECT sum(pos) AS n_pos, sum(neg) AS n_neg,
                   sum(2 * neg_below * pos + neg * pos) AS num2
            FROM cum
        )
        SELECT CAST(n_pos AS BIGINT) AS n_pos,
               CAST(n_neg AS BIGINT) AS n_neg,
               CAST(floor(CAST(num2 AS DOUBLE)
                          / (2.0 * n_pos * n_neg) * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS auc,
               CAST(floor((CAST(num2 AS DOUBLE)
                           / (CAST(n_pos AS DOUBLE) * n_neg) - 1.0)
                          * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS gini
        FROM tot
"""


@register("ml_auc_roc", oracle=_AUC_SQL.format(lineitem="lineitem"))
def ml_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC (and Gini = 2*AUC-1) of a deterministic linear
    score (discount pct * 100 + quantity) predicting returns
    (l_returnflag = 'R'), via the tie-corrected Mann-Whitney rank
    identity: AUC = P(score_pos > score_neg) + 0.5*P(tie). Grouping by
    distinct score first turns the pairwise definition into a
    histogram walk — per score value the contribution is
    negatives_below*positives_here + ties/2, accumulated with a
    cumulative window over the (tiny) score histogram.

    Determinism: the doubled numerator (2*neg_below*pos + neg*pos) is
    an exact integer sum, so the single final division produces the
    same IEEE double on both engines; outputs round at 6 dp.

    Scale shape: one map-combinable groupBy over the fact table (the
    histogram carries |distinct scores| rows, ~1.1k here and bounded
    by score design at any SF), then a window over that aggregate —
    the classic distributed-AUC evaluation shape used for CTR models,
    never materializing pos x neg pairs."""
    return sql_on_tables(spark, sf_dir, _AUC_SQL)


# ---------------------------------------------------------------------------
# ml_confusion_matrix_metrics — threshold sweep over a histogram

_CONF_SQL = """
        WITH lab AS (
            SELECT CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)
                       AS disc_pct,
                   CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
                        AS BIGINT) AS y
            FROM {lineitem}
        ),
        hist AS (
            SELECT disc_pct, count(*) AS cnt, sum(y) AS pos
            FROM lab GROUP BY disc_pct
        ),
        thr AS (SELECT * FROM (VALUES (3), (5), (8)) AS t(thr)),
        conf AS (
            SELECT thr,
                   sum(CASE WHEN disc_pct >= thr THEN pos ELSE 0 END) AS tp,
                   sum(CASE WHEN disc_pct >= thr THEN cnt - pos ELSE 0 END)
                       AS fp,
                   sum(CASE WHEN disc_pct < thr THEN pos ELSE 0 END)
                       AS fneg,
                   sum(CASE WHEN disc_pct < thr THEN cnt - pos ELSE 0 END)
                       AS tneg
            FROM hist CROSS JOIN thr GROUP BY thr
        )
        SELECT CAST(thr AS BIGINT) AS thr,
               CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
               CAST(fneg AS BIGINT) AS fneg, CAST(tneg AS BIGINT) AS tneg,
               CAST(floor(CAST(tp AS DOUBLE) / (tp + fp) * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS prec,
               CAST(floor(CAST(tp AS DOUBLE) / (tp + fneg) * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS recall,
               CAST(floor(2.0 * tp / (2.0 * tp + fp + fneg) * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS f1,
               CAST(floor(CAST(tp + tneg AS DOUBLE)
                          / (tp + fp + fneg + tneg) * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS accuracy
        FROM conf
        ORDER BY thr
"""


@register(
    "ml_confusion_matrix_metrics", oracle=_CONF_SQL.format(lineitem="lineitem")
)
def ml_confusion_matrix_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrices and threshold metrics (precision / recall /
    F1 / accuracy) for the discount-threshold classifier predicting
    returns, swept over three operating points. The fact table is
    reduced ONCE to an 11-row (disc_pct, cnt, pos) histogram; the
    threshold sweep is an 11x3 cross join over that aggregate — the
    standard way to evaluate K thresholds in one pass at scale
    instead of K scans of the fact table.

    Determinism: all four cells are exact integer sums; each metric is
    a single integer-ratio division rounded at 6 dp. F1 is computed
    directly as 2tp/(2tp+fp+fn) — one division, no compounding of
    pre-rounded precision/recall."""
    return sql_on_tables(spark, sf_dir, _CONF_SQL)


# ---------------------------------------------------------------------------
# ml_target_encoding_kfold — leakage-free out-of-fold target encoding

_TE_SQL = """
        WITH lab AS (
            SELECT p.p_brand, CAST(l.l_orderkey % 5 AS BIGINT) AS fold,
                   CAST(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END
                        AS BIGINT) AS y
            FROM {lineitem} l JOIN {part} p ON l.l_partkey = p.p_partkey
        ),
        cell AS (
            SELECT p_brand, fold, count(*) AS cnt, sum(y) AS pos
            FROM lab GROUP BY p_brand, fold
        ),
        tot AS (
            SELECT p_brand, sum(cnt) AS cnt_tot, sum(pos) AS pos_tot
            FROM cell GROUP BY p_brand
        ),
        gl AS (
            SELECT CAST(sum(pos) AS DOUBLE) / sum(cnt) AS prior FROM cell
        )
        SELECT c.p_brand AS brand, c.fold,
               CAST(c.cnt AS BIGINT) AS n_in_fold,
               CAST(t.cnt_tot - c.cnt AS BIGINT) AS n_oof,
               CAST(floor((CAST(t.pos_tot - c.pos AS DOUBLE) + 20.0 * g.prior)
                          / (CAST(t.cnt_tot - c.cnt AS DOUBLE) + 20.0)
                          * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS te_oof
        FROM cell c
        JOIN tot t ON c.p_brand = t.p_brand
        CROSS JOIN gl g
        ORDER BY brand, fold
"""


@register(
    "ml_target_encoding_kfold",
    oracle=_TE_SQL.format(lineitem="lineitem", part="part"),
)
def ml_target_encoding_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold out-of-fold target encoding of the part brand against
    the return label — the leakage-free categorical encoding used in
    production feature pipelines: each (category, fold) cell is
    encoded with the smoothed target mean of the OTHER four folds
    ((pos_tot - pos_fold + m*prior) / (cnt_tot - cnt_fold + m), m=20),
    so a row never sees its own fold's labels. The complement-sum
    trick means K folds cost ONE aggregation pass (per-cell counts)
    plus arithmetic on the |categories| x K cell table — not K
    training-set scans.

    Determinism: folds hash from l_orderkey (engine-stable), all
    sums are exact integers, the prior and encoding are single
    divisions rounded at 6 dp.

    Scale shape: the dimension join is broadcast (part is the small
    side per-key; at real scale the brand column would be denormalized
    onto the fact anyway), then one map-combinable groupBy (25 brands
    x 5 folds = 125 cells at any SF), a 25-row join, a 1-row broadcast
    prior. The encoded table is broadcast-joinable back onto the fact
    table for free downstream."""
    return sql_on_tables(spark, sf_dir, _TE_SQL)


# ---------------------------------------------------------------------------
# ml_calibration_bins — reliability diagram + ECE + Brier, integer-exact

_CALIB_SQL = """
        WITH lab AS (
            SELECT CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS b,
                   CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
                        AS BIGINT) AS y
            FROM {lineitem}
        ),
        binned AS (
            SELECT b, count(*) AS n, sum(y) AS pos,
                   sum(b * b) AS sbb, sum(b * y) AS sby
            FROM lab GROUP BY b
        ),
        per_bin AS (
            SELECT b, n, pos,
                   sbb - 20 * sby + 100 * pos AS sq_err_x100,
                   CAST(floor(abs(CAST(b AS DOUBLE) / 10.0
                                  - CAST(pos AS DOUBLE) / n)
                              * 1000000.0 + 0.5) AS BIGINT) AS gap_micro
            FROM binned
        ),
        tot AS (
            SELECT sum(n) AS n_tot, sum(n * gap_micro) AS ece_micro_n,
                   sum(sq_err_x100) AS brier_x100_n
            FROM per_bin
        )
        SELECT p.b AS bin, CAST(p.n AS BIGINT) AS n,
               CAST(p.b AS DOUBLE) / 10.0 AS mean_pred,
               CAST(floor(CAST(p.pos AS DOUBLE) / p.n * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS obs_rate,
               CAST(p.gap_micro AS DOUBLE) / 1000000.0 AS abs_gap,
               CAST(floor(CAST(t.ece_micro_n AS DOUBLE) / t.n_tot + 0.5)
                    AS DOUBLE) / 1000000.0 AS ece,
               CAST(floor(CAST(t.brier_x100_n AS DOUBLE) / t.n_tot
                          * 10000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS brier
        FROM per_bin p CROSS JOIN tot t
        ORDER BY bin
"""


@register("ml_calibration_bins", oracle=_CALIB_SQL.format(lineitem="lineitem"))
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the discount-as-probability predictor
    (p_hat = disc_pct/10): per-bin predicted vs observed return rate,
    plus the two standard scalar calibration summaries on every row —
    ECE (expected calibration error, the n-weighted mean |gap|) and
    the Brier score. The Brier sum uses the algebraic identity
    (b/10 - y)^2 = (b - 10y)^2 / 100, so the per-bin contribution
    (b^2*n - 20*b*pos + 100*pos) is an EXACT integer — no float
    accumulation anywhere; ECE likewise sums integer micro-units
    (n * round(|gap|*1e6)) so the cross-bin total is
    order-independent. Both scalars take exactly one final division.

    Scale shape: one map-combinable groupBy to an 11-row bin table;
    everything after operates on that aggregate. This is the
    distributed model-monitoring shape: calibration of a trillion
    predictions costs one histogram pass."""
    return sql_on_tables(spark, sf_dir, _CALIB_SQL)


# ---------------------------------------------------------------------------
# stat_welch_ttest — Welch's unequal-variance t from integer moments

_WELCH_SQL = """
        WITH obs AS (
            SELECT l_returnflag AS grp,
                   CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                       AS cents
            FROM {lineitem} WHERE l_returnflag IN ('R', 'N')
        ),
        mom AS (
            SELECT grp, count(*) AS n, sum(cents) AS s1,
                   sum(CAST(cents AS DECIMAL(38, 0))
                       * CAST(cents AS DECIMAL(38, 0))) AS s2
            FROM obs GROUP BY grp
        ),
        stats AS (
            SELECT grp, n,
                   CAST(s1 AS DOUBLE) / n / 100.0 AS mean_usd,
                   (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                       / (n - 1) / 10000.0 AS var_usd
            FROM mom
        ),
        pair AS (
            SELECT max(CASE WHEN grp = 'R' THEN n END) AS n_r,
                   max(CASE WHEN grp = 'N' THEN n END) AS n_n,
                   max(CASE WHEN grp = 'R' THEN mean_usd END) AS mean_r,
                   max(CASE WHEN grp = 'N' THEN mean_usd END) AS mean_n,
                   max(CASE WHEN grp = 'R' THEN var_usd / n END)
                   + max(CASE WHEN grp = 'N' THEN var_usd / n END) AS se2,
                   max(CASE WHEN grp = 'R' THEN var_usd / n END) AS ra,
                   max(CASE WHEN grp = 'N' THEN var_usd / n END) AS rb,
                   max(CASE WHEN grp = 'R' THEN n END) - 1 AS dfa,
                   max(CASE WHEN grp = 'N' THEN n END) - 1 AS dfb
            FROM stats
        )
        SELECT CAST(n_r AS BIGINT) AS n_r, CAST(n_n AS BIGINT) AS n_n,
               CAST(floor(mean_r * 10000.0 + 0.5) AS DOUBLE) / 10000.0
                   AS mean_r,
               CAST(floor(mean_n * 10000.0 + 0.5) AS DOUBLE) / 10000.0
                   AS mean_n,
               CAST(floor((mean_r - mean_n) / sqrt(se2) * 10000.0 + 0.5)
                    AS DOUBLE) / 10000.0 AS t_stat,
               CAST(floor(se2 * se2 / (ra * ra / dfa + rb * rb / dfb)
                          * 100.0 + 0.5)
                    AS DOUBLE) / 100.0 AS welch_df
        FROM pair
"""


@register("stat_welch_ttest", oracle=_WELCH_SQL.format(lineitem="lineitem"))
def stat_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test (returned vs
    non-returned line price), with the Welch-Satterthwaite effective
    degrees of freedom. Each group reduces to three exact moments —
    n (bigint), sum of cents (bigint), sum of squared cents as
    DECIMAL(38,0) so the ~1e19-magnitude total is exact, not a
    float accumulation whose value depends on partition merge order.
    Mean/variance/t/df are then assembled driver-side from the 2-row
    moment table with a fixed arithmetic sequence, rounded at 4 dp
    (2 dp for df).

    Scale shape: the entire test is ONE map-combinable aggregation —
    the canonical distributed A/B readout: any number of groups and
    any data size costs one pass and a |groups|-row shuffle. The
    heavy-tail caveat (use stat_mann_whitney_u for revenue-like
    metrics) is documented there; this is the parametric sibling."""
    return sql_on_tables(spark, sf_dir, _WELCH_SQL)


# ---------------------------------------------------------------------------
# stat_anova_oneway — one-way ANOVA F from exact integer moments

_ANOVA_SQL = """
        WITH mom AS (
            SELECT l_returnflag AS grp, count(*) AS n,
                   sum(CAST(l_quantity AS BIGINT)) AS s1,
                   sum(CAST(l_quantity AS BIGINT)
                       * CAST(l_quantity AS BIGINT)) AS s2
            FROM {lineitem} GROUP BY l_returnflag
        ),
        piv AS (
            SELECT max(CASE WHEN grp = 'A' THEN n END) AS na,
                   max(CASE WHEN grp = 'N' THEN n END) AS nn,
                   max(CASE WHEN grp = 'R' THEN n END) AS nr,
                   max(CASE WHEN grp = 'A' THEN s1 END) AS s1a,
                   max(CASE WHEN grp = 'N' THEN s1 END) AS s1n,
                   max(CASE WHEN grp = 'R' THEN s1 END) AS s1r,
                   max(CASE WHEN grp = 'A' THEN s2 END) AS s2a,
                   max(CASE WHEN grp = 'N' THEN s2 END) AS s2n,
                   max(CASE WHEN grp = 'R' THEN s2 END) AS s2r
            FROM mom
        ),
        terms AS (
            SELECT CAST(na + nn + nr AS BIGINT) AS n_tot,
                   CAST(s1a + s1n + s1r AS BIGINT) AS s1_tot,
                   CAST(s2a + s2n + s2r AS DOUBLE) AS s2_tot,
                   CAST(s1a AS DOUBLE) * s1a / na
                   + CAST(s1n AS DOUBLE) * s1n / nn
                   + CAST(s1r AS DOUBLE) * s1r / nr AS sb_raw
            FROM piv
        ),
        ss AS (
            SELECT n_tot,
                   sb_raw - CAST(s1_tot AS DOUBLE) * s1_tot / n_tot AS ssb,
                   s2_tot - sb_raw AS ssw,
                   s2_tot - CAST(s1_tot AS DOUBLE) * s1_tot / n_tot AS sst
            FROM terms
        )
        SELECT CAST(3 AS BIGINT) AS n_groups,
               CAST(n_tot AS BIGINT) AS n_total,
               CAST(floor(ssb * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS ssb,
               CAST(floor(ssw * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS ssw,
               CAST(floor((ssb / 2.0) / (ssw / (n_tot - 3)) * 1000000.0
                          + 0.5)
                    AS DOUBLE) / 1000000.0 AS f_stat,
               CAST(floor(ssb / sst * 1000000.0 + 0.5) AS DOUBLE)
                   / 1000000.0 AS eta_sq
        FROM ss
"""


@register("stat_anova_oneway", oracle=_ANOVA_SQL.format(lineitem="lineitem"))
def stat_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-test of line quantity across the three return
    flags. Each group reduces to exact integer moments (n, sum,
    sum-of-squares — quantity <= 50, so sums stay well inside bigint);
    the 3-row moment table is pivoted into ONE row with max(CASE) so
    every subsequent double operation is a FIXED-ORDER scalar
    expression — there is no float summation whose result could depend
    on partition merge order. SSbetween = sum(s1_g^2/n_g) - s1^2/N via
    the standard computational identity; F = (SSb/(k-1))/(SSw/(N-k));
    eta^2 = SSb/SStot as the effect size.

    Scale shape: ONE map-combinable aggregation pass over the fact
    table, then arithmetic on a 1-row frame — the same distributed
    readout shape as stat_welch_ttest (its 2-group sibling). The
    s1_g^2 products stay under 2^53 through sf1; above that the
    moments should accumulate as DECIMAL(38,0) like Welch's sumsq."""
    return sql_on_tables(spark, sf_dir, _ANOVA_SQL)


# ---------------------------------------------------------------------------
# stat_levene_brown_forsythe — equal-variance test via |x - median|

_BF_SQL = """
        WITH med AS (
            SELECT l_returnflag AS grp,
                   CAST(2.0 * median(l_quantity) AS BIGINT) AS med2
            FROM {lineitem} GROUP BY l_returnflag
        ),
        z AS (
            SELECT m.grp,
                   abs(2 * CAST(l.l_quantity AS BIGINT) - m.med2) AS w
            FROM {lineitem} l JOIN med m ON l.l_returnflag = m.grp
        ),
        mom AS (
            SELECT grp, count(*) AS n, sum(w) AS s1, sum(w * w) AS s2
            FROM z GROUP BY grp
        ),
        piv AS (
            SELECT max(CASE WHEN grp = 'A' THEN n END) AS na,
                   max(CASE WHEN grp = 'N' THEN n END) AS nn,
                   max(CASE WHEN grp = 'R' THEN n END) AS nr,
                   max(CASE WHEN grp = 'A' THEN s1 END) AS s1a,
                   max(CASE WHEN grp = 'N' THEN s1 END) AS s1n,
                   max(CASE WHEN grp = 'R' THEN s1 END) AS s1r,
                   max(CASE WHEN grp = 'A' THEN s2 END) AS s2a,
                   max(CASE WHEN grp = 'N' THEN s2 END) AS s2n,
                   max(CASE WHEN grp = 'R' THEN s2 END) AS s2r
            FROM mom
        ),
        terms AS (
            SELECT CAST(na + nn + nr AS BIGINT) AS n_tot,
                   CAST(s1a + s1n + s1r AS BIGINT) AS s1_tot,
                   CAST(s2a + s2n + s2r AS DOUBLE) AS s2_tot,
                   CAST(s1a AS DOUBLE) * s1a / na
                   + CAST(s1n AS DOUBLE) * s1n / nn
                   + CAST(s1r AS DOUBLE) * s1r / nr AS sb_raw
            FROM piv
        )
        SELECT CAST(3 AS BIGINT) AS n_groups,
               CAST(n_tot AS BIGINT) AS n_total,
               CAST(floor(((sb_raw - CAST(s1_tot AS DOUBLE) * s1_tot / n_tot)
                           / 2.0)
                          / ((s2_tot - sb_raw) / (n_tot - 3))
                          * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS bf_stat
        FROM terms
"""


@register(
    "stat_levene_brown_forsythe", oracle=_BF_SQL.format(lineitem="lineitem")
)
def stat_levene_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe (median-centered Levene) test for equality of
    variances across the three return-flag groups — the
    heteroscedasticity gate one runs BEFORE trusting a pooled-variance
    test, and the robust-to-non-normality variant (medians, not
    means). The spread scores w = |x - median_g| are kept EXACTLY
    integral by working in half-units: the interpolated median of
    integers is always k or k+0.5, so 2*median is an exact integer and
    w = |2x - 2median| is too — the test statistic (a one-way ANOVA F
    on w, which is scale-invariant, so half-units change nothing) is
    then assembled from exact integer moments via the same
    fixed-order pivot as stat_anova_oneway.

    Scale shape: one exact-median aggregation (group-local sort; at
    100 TB swap to approx_percentile's KLL sketch), a broadcast 3-row
    join of medians back onto the fact, and one moment aggregation —
    two fact passes total, both map-combinable."""
    return sql_on_tables(spark, sf_dir, _BF_SQL)


# ---------------------------------------------------------------------------
# ml_gbdt_residual_boost — 2 boosting rounds of regression stumps

_GBDT_SQL = """
        WITH base AS (
            SELECT CAST(l_quantity AS BIGINT) AS qty,
                   CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS disc,
                   CAST(floor(l_extendedprice / 10000.0) AS BIGINT) AS pb,
                   CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                       AS y_c
            FROM {lineitem}
        ),
        long1 AS (
            SELECT 'quantity' AS feature, qty AS v, y_c FROM base
            UNION ALL SELECT 'discount_pct', disc, y_c FROM base
            UNION ALL SELECT 'price_10k', pb, y_c FROM base
        ),
        h1 AS (
            SELECT feature, v, count(*) AS cnt, sum(y_c) AS sy
            FROM long1 GROUP BY feature, v
        ),
        c1 AS (
            SELECT feature, v,
                   sum(cnt) OVER w AS nl, sum(sy) OVER w AS syl,
                   sum(cnt) OVER (PARTITION BY feature) AS n,
                   sum(sy) OVER (PARTITION BY feature) AS sy_tot
            FROM h1
            WINDOW w AS (PARTITION BY feature ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        g1 AS (
            SELECT feature, v AS thr,
                   CAST(nl AS BIGINT) AS nl, CAST(n - nl AS BIGINT) AS nr,
                   CAST(syl AS BIGINT) AS syl,
                   CAST(sy_tot - syl AS BIGINT) AS syr,
                   CAST(syl AS DOUBLE) * syl / nl
                   + CAST(sy_tot - syl AS DOUBLE) * (sy_tot - syl) / (n - nl)
                   - CAST(sy_tot AS DOUBLE) * sy_tot / n AS gain
            FROM c1 WHERE nl > 0 AND n - nl > 0
        ),
        best1 AS (
            SELECT * FROM (
                SELECT *, row_number() OVER (
                    ORDER BY gain DESC, feature, thr) AS rn
                FROM g1) t
            WHERE rn = 1
        ),
        res AS (
            SELECT b.qty, b.disc, b.pb,
                   b.y_c
                   - (CASE WHEN (CASE t.feature
                                 WHEN 'quantity' THEN b.qty
                                 WHEN 'discount_pct' THEN b.disc
                                 ELSE b.pb END) <= t.thr
                      THEN t.syl {idiv} t.nl
                      ELSE t.syr {idiv} t.nr END) AS r_c
            FROM base b CROSS JOIN best1 t
        ),
        long2 AS (
            SELECT 'quantity' AS feature, qty AS v, r_c FROM res
            UNION ALL SELECT 'discount_pct', disc, r_c FROM res
            UNION ALL SELECT 'price_10k', pb, r_c FROM res
        ),
        h2 AS (
            SELECT feature, v, count(*) AS cnt, sum(r_c) AS sy
            FROM long2 GROUP BY feature, v
        ),
        c2 AS (
            SELECT feature, v,
                   sum(cnt) OVER w AS nl, sum(sy) OVER w AS syl,
                   sum(cnt) OVER (PARTITION BY feature) AS n,
                   sum(sy) OVER (PARTITION BY feature) AS sy_tot
            FROM h2
            WINDOW w AS (PARTITION BY feature ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        g2 AS (
            SELECT feature, v AS thr,
                   CAST(nl AS BIGINT) AS nl, CAST(n - nl AS BIGINT) AS nr,
                   CAST(syl AS BIGINT) AS syl,
                   CAST(sy_tot - syl AS BIGINT) AS syr,
                   CAST(syl AS DOUBLE) * syl / nl
                   + CAST(sy_tot - syl AS DOUBLE) * (sy_tot - syl) / (n - nl)
                   - CAST(sy_tot AS DOUBLE) * sy_tot / n AS gain
            FROM c2 WHERE nl > 0 AND n - nl > 0
        ),
        best2 AS (
            SELECT * FROM (
                SELECT *, row_number() OVER (
                    ORDER BY gain DESC, feature, thr) AS rn
                FROM g2) t
            WHERE rn = 1
        )
        SELECT CAST(1 AS BIGINT) AS boost_round, feature, thr AS threshold,
               nl AS n_left, nr AS n_right,
               CAST(syl {idiv} nl AS DOUBLE) / 100.0 AS pred_left_usd,
               CAST(syr {idiv} nr AS DOUBLE) / 100.0 AS pred_right_usd,
               CAST(floor(gain / 10000.0 + 0.5) AS DOUBLE) AS gain_usd2
        FROM best1
        UNION ALL
        SELECT CAST(2 AS BIGINT), feature, thr, nl, nr,
               CAST(syl {idiv} nl AS DOUBLE) / 100.0,
               CAST(syr {idiv} nr AS DOUBLE) / 100.0,
               CAST(floor(gain / 10000.0 + 0.5) AS DOUBLE)
        FROM best2
        ORDER BY boost_round
"""


@register(
    "ml_gbdt_residual_boost",
    oracle=_GBDT_SQL.format(lineitem="lineitem", idiv="//"),
)
def ml_gbdt_residual_boost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two rounds of gradient boosting with regression stumps
    (squared loss, learning rate 1) predicting line price from
    integerized features — the exact histogram-mode split search that
    distributed GBDT frameworks (XGBoost/LightGBM) run per boosting
    round, extended from ml_decision_stump's single classification
    split to the full fit -> residual -> refit loop. Round 1 finds
    argmax variance-reduction gain (S1l^2/nl + S1r^2/nr - S1^2/N —
    only first-moment prefix sums needed, the standard identity);
    residuals subtract the leaf mean computed by exact INTEGER
    division in cents, so round 2's target is again exactly integral;
    round 2 repeats the identical search on residual cents.

    Determinism: every histogram moment is an exact integer (cents;
    residual sums stay under 2^53 beyond sf1); gains are fixed-order
    double expressions from those integers, ranked with (gain desc,
    feature, threshold) tie-breaks; leaf predictions use truncating
    integer division identically on both engines ('//' vs 'div'
    spelling; both truncate toward zero, verified on negative
    operands — residual sums can be negative).

    Scale shape: each round is one union-arm scan per feature ->
    map-combinable (feature, value) histogram -> prefix-sum window
    over the tiny histogram -> global argmax; the residual pass is
    one broadcast of the 1-row model against the base table. K
    boosting rounds cost K+1 linear passes — no per-split rescans,
    no driver-side data."""
    return sql_on_tables(
        spark, sf_dir, _GBDT_SQL.format(lineitem="{lineitem}", idiv="div")
    )


# ---------------------------------------------------------------------------
# stat_permutation_test — RNG-free randomization test for a mean difference

_PERM_B = 32


@register(
    "stat_permutation_test",
    oracle=f"""
        WITH base AS (
            SELECT event_id, event_type,
                   CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v_c
            FROM events WHERE event_type IN ('click', 'view')
        ),
        obs AS (
            SELECT sum(CASE WHEN event_type = 'click' THEN v_c END) AS sa,
                   sum(CASE WHEN event_type = 'click' THEN 1 END) AS na,
                   sum(CASE WHEN event_type = 'view' THEN v_c END) AS sb,
                   sum(CASE WHEN event_type = 'view' THEN 1 END) AS nb
            FROM base
        ),
        reps AS (
            SELECT b.b, e.v_c,
                   CAST(concat('0x', substr(md5(concat(
                        CAST(e.event_id AS VARCHAR), '_',
                        CAST(b.b AS VARCHAR))), 1, 8)) AS BIGINT) % 2 AS g
            FROM base e
            CROSS JOIN (SELECT unnest(range(0, {_PERM_B})) AS b) b
        ),
        perm AS (
            SELECT b,
                   CAST(sum(CASE WHEN g = 0 THEN v_c END) AS DOUBLE)
                   / sum(CASE WHEN g = 0 THEN 1 END)
                   - CAST(sum(CASE WHEN g = 1 THEN v_c END) AS DOUBLE)
                     / sum(CASE WHEN g = 1 THEN 1 END) AS d
            FROM reps GROUP BY b
        ),
        readout AS (
            SELECT o.na, o.nb,
                   CAST(o.sa AS DOUBLE) / o.na
                   - CAST(o.sb AS DOUBLE) / o.nb AS obs_d,
                   (SELECT count(*) FROM perm p, obs o2
                    WHERE abs(p.d) >= abs(CAST(o2.sa AS DOUBLE) / o2.na
                                          - CAST(o2.sb AS DOUBLE) / o2.nb))
                       AS n_extreme
            FROM obs o
        )
        SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
               CAST(floor(obs_d / 100.0 * 10000.0 + 0.5) AS DOUBLE)
                   / 10000.0 AS obs_diff_usd,
               CAST({_PERM_B} AS BIGINT) AS n_perms,
               CAST(n_extreme AS BIGINT) AS n_extreme,
               CAST(floor(CAST(1 + n_extreme AS DOUBLE)
                          / ({_PERM_B} + 1) * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS p_value
        FROM readout
    """,
)
def stat_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomization (approximate permutation) test for the
    click-vs-view mean value difference WITHOUT an RNG: each of B=32
    relabelings assigns every row a pseudo-group by md5(event_id, b)
    parity — the same rows flip on every engine, run, and retry (the
    stat_bootstrap_ci discipline applied to hypothesis testing). The
    p-value is the standard add-one estimate (1 + #extreme)/(B+1)
    against |observed|. Random relabeling approximates the exact
    permutation null (which would fix group sizes); at these n the
    distinction is far below the B=32 resolution, and exactness of
    the PROCEDURE across engines is what the oracle pins.

    Determinism: group sums are integer cents; every mean difference
    is a fixed-order double expression from those integers, so the
    |d| >= |obs| comparisons resolve identically on both engines.

    Scale shape: one B-fold explode + one groupBy(b) — identical cost
    envelope to the Poisson bootstrap; the readout is a B-row frame.
    B scales the resolution, not the shuffle width."""
    base = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .select(
            "event_id",
            "event_type",
            F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("v_c"),
        )
    )
    obs = base.agg(
        F.sum(F.when(F.col("event_type") == "click", F.col("v_c"))).alias(
            "sa"
        ),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("na"),
        F.sum(F.when(F.col("event_type") == "view", F.col("v_c"))).alias(
            "sb"
        ),
        F.count(F.when(F.col("event_type") == "view", 1)).alias("nb"),
    )
    reps = base.select(
        "v_c",
        F.explode(F.sequence(F.lit(0), F.lit(_PERM_B - 1))).alias("b"),
        F.col("event_id"),
    ).select(
        "b",
        "v_c",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("event_id").cast("string"),
                            F.lit("_"),
                            F.col("b").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 2
        ).alias("g"),
    )
    perm = reps.groupBy("b").agg(
        (
            F.sum(F.when(F.col("g") == 0, F.col("v_c"))).cast("double")
            / F.count(F.when(F.col("g") == 0, 1))
            - F.sum(F.when(F.col("g") == 1, F.col("v_c"))).cast("double")
            / F.count(F.when(F.col("g") == 1, 1))
        ).alias("d")
    )
    obs_d = (
        F.col("sa").cast("double") / F.col("na")
        - F.col("sb").cast("double") / F.col("nb")
    )
    extreme = (
        perm.crossJoin(F.broadcast(obs))
        .filter(F.abs(F.col("d")) >= F.abs(obs_d))
        .agg(F.count(F.lit(1)).alias("n_extreme"))
    )
    return (
        obs.crossJoin(F.broadcast(extreme))
        .select(
            F.col("na").cast("bigint").alias("n_a"),
            F.col("nb").cast("bigint").alias("n_b"),
            (
                F.floor(obs_d / 100.0 * 10000.0 + 0.5).cast("double")
                / 10000.0
            ).alias("obs_diff_usd"),
            F.lit(_PERM_B).cast("bigint").alias("n_perms"),
            F.col("n_extreme").cast("bigint").alias("n_extreme"),
            (
                F.floor(
                    (1 + F.col("n_extreme")).cast("double")
                    / (_PERM_B + 1)
                    * 1000000.0
                    + 0.5
                ).cast("double")
                / 1000000.0
            ).alias("p_value"),
        )
    )


# ---------------------------------------------------------------------------
# ml_pr_curve_ap — precision-recall curve + average precision

_PR_SQL = """
        WITH lab AS (
            SELECT CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)
                       AS score,
                   CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
                        AS BIGINT) AS y
            FROM {lineitem}
        ),
        hist AS (
            SELECT score, count(*) AS cnt, sum(y) AS pos
            FROM lab GROUP BY score
        ),
        cum AS (
            SELECT score,
                   sum(pos) OVER w AS tp,
                   sum(cnt - pos) OVER w AS fp,
                   sum(pos) OVER w
                   - coalesce(sum(pos) OVER w2, 0) AS d_tp,
                   sum(sum(pos)) OVER () AS p_tot
            FROM hist
            GROUP BY score, pos, cnt
            WINDOW w AS (ORDER BY score DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   w2 AS (ORDER BY score DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        ),
        terms AS (
            SELECT score, tp, fp, p_tot,
                   (CAST(d_tp AS {bigint}) * tp * 1000000)
                       {idiv} (tp + fp) AS term_micro
            FROM cum
        )
        SELECT CAST(score AS BIGINT) AS thr,
               CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
               CAST(floor(CAST(tp AS DOUBLE) / (tp + fp) * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS prec,
               CAST(floor(CAST(tp AS DOUBLE) / p_tot * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS recall,
               CAST(floor(CAST(sum(term_micro) OVER () AS DOUBLE)
                          / p_tot + 0.5)
                    AS DOUBLE) / 1000000.0 AS avg_precision
        FROM terms
        ORDER BY thr DESC
"""


@register(
    "ml_pr_curve_ap",
    oracle=_PR_SQL.format(lineitem="lineitem", idiv="//", bigint="HUGEINT"),
)
def ml_pr_curve_ap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full precision-recall curve (one operating point per distinct
    score, descending — the ranked-retrieval view of the discount
    classifier) plus step-wise average precision AP = sum over points
    of delta_recall * precision — the PR-side complement of
    ml_auc_roc, and the metric that matters under class imbalance.
    The curve derives from ONE score histogram with a cumulative
    window (exactly the AUC shape); AP's per-point term
    (d_tp * tp * 1e6) // (tp+fp) is EXACT integer division, so the
    cross-point sum is an integer and AP takes one final division —
    no float accumulation over curve points.

    Determinism: integer counts, integer AP terms, single divisions
    rounded at 6 dp. The term PRODUCT is accumulated wide on both
    engines — DECIMAL(38,0) on Spark, HUGEINT on DuckDB — because
    d_tp*tp*1e6 passes 2^63 around sf10-positive counts and BIGINT
    would wrap silently on the Spark side only (r5 ADVICE #1); the
    integral-division QUOTIENT is ≤ d_tp*1e6 so it and the cross-point
    sum stay comfortably in BIGINT range at any realistic SF.

    Scale shape: one map-combinable aggregation + windows over the
    |distinct scores| histogram (11 rows here, bounded by score
    design at any SF)."""
    return sql_on_tables(
        spark,
        sf_dir,
        _PR_SQL.format(lineitem="{lineitem}", idiv="div", bigint="DECIMAL(38,0)"),
    )


# ---------------------------------------------------------------------------
# ml_cumulative_gains_lift — gains/lift chart by score threshold

_LIFT_SQL = """
        WITH lab AS (
            SELECT CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)
                       AS score,
                   CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
                        AS BIGINT) AS y
            FROM {lineitem}
        ),
        hist AS (
            SELECT score, count(*) AS cnt, sum(y) AS pos
            FROM lab GROUP BY score
        ),
        cum AS (
            SELECT score,
                   sum(cnt) OVER w AS n_sel, sum(pos) OVER w AS tp,
                   sum(sum(cnt)) OVER () AS n_tot,
                   sum(sum(pos)) OVER () AS p_tot
            FROM hist
            GROUP BY score, cnt, pos
            WINDOW w AS (ORDER BY score DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT CAST(score AS BIGINT) AS thr,
               CAST(n_sel AS BIGINT) AS n_selected,
               CAST(tp AS BIGINT) AS tp,
               CAST(floor(CAST(n_sel AS DOUBLE) / n_tot * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS support_share,
               CAST(floor(CAST(tp AS DOUBLE) / p_tot * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS capture_rate,
               CAST(floor((CAST(tp AS DOUBLE) * n_tot)
                          / (CAST(n_sel AS DOUBLE) * p_tot)
                          * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS lift
        FROM cum
        ORDER BY thr DESC
"""


@register(
    "ml_cumulative_gains_lift", oracle=_LIFT_SQL.format(lineitem="lineitem")
)
def ml_cumulative_gains_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains and lift chart by score threshold — the
    campaign-targeting readout ('mail the top X% by score, capture Y%
    of responders at Z-times random') that completes the eval suite
    beside ROC (ml_auc_roc), PR (ml_pr_curve_ap), calibration, and the
    confusion sweep. One operating point per distinct score,
    descending: selected share, positive capture rate, and lift =
    precision / base-rate, all from the SAME cumulative-histogram
    shape as the other eval ops.

    Determinism: integer counts from one histogram; each metric is a
    fixed-order expression with a single rounding at 6 dp.

    Scale shape: one map-combinable aggregation; windows run over the
    |distinct scores| aggregate (11 rows at any SF)."""
    return sql_on_tables(spark, sf_dir, _LIFT_SQL)


# ---------------------------------------------------------------------------
# stat_spearman_corr — Spearman rank correlation via tie-averaged ranks

_SPEARMAN_SQL = """
        WITH base AS (
            SELECT CAST(l_quantity AS BIGINT) AS x,
                   CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                       AS y
            FROM {lineitem}
        ),
        hx AS (
            SELECT x, count(*) AS cnt,
                   coalesce(sum(count(*)) OVER (
                       ORDER BY x
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS below
            FROM base GROUP BY x
        ),
        hy AS (
            SELECT y, count(*) AS cnt,
                   coalesce(sum(count(*)) OVER (
                       ORDER BY y
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS below
            FROM base GROUP BY y
        ),
        ranked AS (
            SELECT 2 * hx.below + hx.cnt + 1 AS rx2,
                   2 * hy.below + hy.cnt + 1 AS ry2
            FROM base b
            JOIN hx ON b.x = hx.x
            JOIN hy ON b.y = hy.y
        ),
        mom AS (
            SELECT count(*) AS n,
                   sum(rx2) AS sx, sum(ry2) AS sy,
                   sum(CAST(rx2 AS DECIMAL(38, 0)) * ry2) AS sxy,
                   sum(CAST(rx2 AS DECIMAL(38, 0)) * rx2) AS sxx,
                   sum(CAST(ry2 AS DECIMAL(38, 0)) * ry2) AS syy
            FROM ranked
        )
        SELECT CAST(n AS BIGINT) AS n,
               CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                          / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                             * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                    - CAST(sy AS DOUBLE)
                                      * CAST(sy AS DOUBLE)))
                          * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS spearman_rho
        FROM mom
"""


@register("stat_spearman_corr", oracle=_SPEARMAN_SQL.format(lineitem="lineitem"))
def stat_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and price — the
    monotonic-association measure that survives outliers and
    nonlinearity where Pearson (agg_regression's corr) does not.
    Tie-averaged ranks come from each variable's value HISTOGRAM, not
    a row sort: rank_avg = rows_below + (ties+1)/2, kept exactly
    integral in doubled units (2r = 2*below + cnt + 1, the
    stat_mann_whitney_u halves trick), then joined back by value and
    fed into the Pearson identity on exact integer moments (products
    as DECIMAL(38,0) — doubled ranks square past 2^63 by sf1).
    Doubling both rank vectors leaves the correlation unchanged.

    Scale shape: two histogram aggregates (|distinct values| rows),
    two value-keyed joins back onto the fact (broadcastable for the
    bounded-cardinality side; AQE decides for the price side), one
    moment aggregate — no global row sort, which is what makes
    Spearman feasible at 100 TB."""
    return sql_on_tables(spark, sf_dir, _SPEARMAN_SQL)


# ---------------------------------------------------------------------------
# stat_kendall_tau_b — Kendall's tau-b from the bounded contingency table

_KENDALL_SQL = """
        WITH base AS (
            SELECT CAST(l_quantity AS BIGINT) AS x,
                   CAST(floor(l_extendedprice / 10000.0) AS BIGINT) AS y
            FROM {lineitem}
        ),
        cells AS (
            SELECT x, y, count(*) AS nij FROM base GROUP BY x, y
        ),
        pairs AS (
            SELECT sum(CASE WHEN b.x > a.x AND b.y > a.y
                            THEN a.nij * b.nij ELSE 0 END) AS conc,
                   sum(CASE WHEN b.x > a.x AND b.y < a.y
                            THEN a.nij * b.nij ELSE 0 END) AS disc
            FROM cells a JOIN cells b
              ON b.x > a.x OR (b.x = a.x AND b.y > a.y)
        ),
        ties AS (
            SELECT sum(CAST(nij AS DECIMAL(38, 0))
                       * (nij - 1)) / 2 AS t_cell,
                   (SELECT sum(CAST(cx AS DECIMAL(38, 0)) * (cx - 1)) / 2
                    FROM (SELECT sum(nij) AS cx FROM cells GROUP BY x) tx)
                       AS t_x,
                   (SELECT sum(CAST(cy AS DECIMAL(38, 0)) * (cy - 1)) / 2
                    FROM (SELECT sum(nij) AS cy FROM cells GROUP BY y) ty)
                       AS t_y,
                   (SELECT CAST(sum(nij) AS DECIMAL(38, 0)) FROM cells)
                       AS n
            FROM cells
        )
        SELECT CAST(t.n AS BIGINT) AS n,
               CAST(p.conc AS BIGINT) AS concordant,
               CAST(p.disc AS BIGINT) AS discordant,
               CAST(floor((CAST(p.conc AS DOUBLE) - CAST(p.disc AS DOUBLE))
                          / sqrt((CAST(t.n AS DOUBLE) * (CAST(t.n AS DOUBLE)
                                                         - 1) / 2.0
                                  - CAST(t.t_x AS DOUBLE))
                                 * (CAST(t.n AS DOUBLE)
                                    * (CAST(t.n AS DOUBLE) - 1) / 2.0
                                    - CAST(t.t_y AS DOUBLE)))
                          * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS kendall_tau_b
        FROM pairs p CROSS JOIN ties t
"""


@register("stat_kendall_tau_b", oracle=_KENDALL_SQL.format(lineitem="lineitem"))
def stat_kendall_tau_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b between quantity and price bucket — the
    concordance-based rank correlation (more robust than Spearman to
    a few large rank displacements, and the one with the clean
    probabilistic reading P(concordant) - P(discordant)). The naive
    definition is O(n^2) row pairs; over DISCRETE variables it
    collapses to the CONTINGENCY TABLE: concordant/discordant counts
    are sums of nij * nkl over cell pairs, so the quadratic term is
    |cells|^2 (50 quantities x ~11 price buckets = bounded at ANY
    scale), never row pairs. Tie corrections t_x/t_y come from the
    marginals; tau-b = (C-D)/sqrt((n(n-1)/2 - t_x)(n(n-1)/2 - t_y)).

    Determinism: all pair and tie counts are exact integers (DECIMAL
    where n(n-1)/2 passes 2^63); one fixed-order final expression
    rounded at 6 dp.

    Scale shape: one map-combinable cell aggregation, one
    bounded-size cell self-join, two marginal aggregates — the
    canonical trick for rank statistics over low-cardinality columns
    at fleet scale."""
    return sql_on_tables(spark, sf_dir, _KENDALL_SQL)


# ---------------------------------------------------------------------------
# stat_power_analysis_mde — experiment sizing from pilot moments

_MDE_SQL = """
        WITH obs AS (
            SELECT event_type,
                   CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
            FROM {events} WHERE event_type IN ('click', 'view')
        ),
        mom AS (
            SELECT event_type AS grp, count(*) AS n, sum(cents) AS s1,
                   sum(CAST(cents AS DECIMAL(38, 0))
                       * CAST(cents AS DECIMAL(38, 0))) AS s2
            FROM obs GROUP BY event_type
        ),
        piv AS (
            SELECT max(CASE WHEN grp = 'click' THEN n END) AS na,
                   max(CASE WHEN grp = 'view' THEN n END) AS nb,
                   max(CASE WHEN grp = 'click' THEN
                       CAST(s1 AS DOUBLE) / n END) AS ma,
                   max(CASE WHEN grp = 'click' THEN
                       (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                       / (n - 1) END) AS va,
                   max(CASE WHEN grp = 'view' THEN
                       (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                       / (n - 1) END) AS vb
            FROM mom
        )
        SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
               CAST(floor(ma / 100.0 * 10000.0 + 0.5) AS DOUBLE)
                   / 10000.0 AS mean_a_usd,
               CAST(floor((2.801585 * sqrt(va / na + vb / nb)) / 100.0
                          * 10000.0 + 0.5)
                    AS DOUBLE) / 10000.0 AS mde_abs_usd,
               CAST(floor((2.801585 * sqrt(va / na + vb / nb)) / ma
                          * 100.0 * 10000.0 + 0.5)
                    AS DOUBLE) / 10000.0 AS mde_rel_pct,
               CAST(ceil(2.801585 * 2.801585 * (va + vb)
                         / ((0.01 * ma) * (0.01 * ma)))
                    AS BIGINT) AS n_per_group_for_1pct
        FROM piv
"""


@register("stat_power_analysis_mde", oracle=_MDE_SQL.format(events="events"))
def stat_power_analysis_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power analysis from pilot data: the minimum
    detectable effect at the CURRENT sample sizes and the required
    per-group n to detect a 1% relative lift, for a two-sample test at
    alpha=.05 (two-sided) and 80% power — z_{.975} + z_{.80} =
    1.959964 + 0.841621 = 2.801585, folded into one literal so both
    engines evaluate the same constant. Variances come from the same
    exact integer-cents moments as stat_welch_ttest (sumsq as
    DECIMAL(38,0)); every output is a fixed-order expression rounded
    at 4 dp. This is the sizing readout an experimentation platform
    computes BEFORE launching what events_ab_test_lift later reads
    out, closing the A/B loop (size -> run -> test -> CUPED adjust).

    Scale shape: one map-combinable moment aggregation, a 1-row
    pivot, scalar arithmetic — the cheapest query in the stats suite
    regardless of data volume."""
    return sql_on_tables(spark, sf_dir, _MDE_SQL)


# ---------------------------------------------------------------------------
# ml_feature_correlation_matrix — all pairwise correlations, one pass

_CORRMAT_SQL = """
        WITH base AS (
            SELECT CAST(l_quantity AS BIGINT) AS f1,
                   CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS f2,
                   CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                       AS f3,
                   CAST(floor(l_tax * 100.0 + 0.5) AS BIGINT) AS f4
            FROM {lineitem}
        ),
        mom AS (
            SELECT count(*) AS n,
                   sum(f1) AS s1, sum(f2) AS s2, sum(f3) AS s3,
                   sum(f4) AS s4,
                   sum(CAST(f1 AS DECIMAL(38, 0)) * f1) AS s11,
                   sum(CAST(f2 AS DECIMAL(38, 0)) * f2) AS s22,
                   sum(CAST(f3 AS DECIMAL(38, 0)) * f3) AS s33,
                   sum(CAST(f4 AS DECIMAL(38, 0)) * f4) AS s44,
                   sum(CAST(f1 AS DECIMAL(38, 0)) * f2) AS s12,
                   sum(CAST(f1 AS DECIMAL(38, 0)) * f3) AS s13,
                   sum(CAST(f1 AS DECIMAL(38, 0)) * f4) AS s14,
                   sum(CAST(f2 AS DECIMAL(38, 0)) * f3) AS s23,
                   sum(CAST(f2 AS DECIMAL(38, 0)) * f4) AS s24,
                   sum(CAST(f3 AS DECIMAL(38, 0)) * f4) AS s34
            FROM base
        ),
        pairs AS (
            SELECT 'quantity' AS fa, 'discount_pct' AS fb,
                   CAST(s12 AS DOUBLE) AS sab, CAST(s1 AS DOUBLE) AS sa,
                   CAST(s2 AS DOUBLE) AS sb, CAST(s11 AS DOUBLE) AS saa,
                   CAST(s22 AS DOUBLE) AS sbb, CAST(n AS DOUBLE) AS n
            FROM mom
            UNION ALL
            SELECT 'quantity', 'price_cents', CAST(s13 AS DOUBLE),
                   CAST(s1 AS DOUBLE), CAST(s3 AS DOUBLE),
                   CAST(s11 AS DOUBLE), CAST(s33 AS DOUBLE),
                   CAST(n AS DOUBLE)
            FROM mom
            UNION ALL
            SELECT 'quantity', 'tax_pct', CAST(s14 AS DOUBLE),
                   CAST(s1 AS DOUBLE), CAST(s4 AS DOUBLE),
                   CAST(s11 AS DOUBLE), CAST(s44 AS DOUBLE),
                   CAST(n AS DOUBLE)
            FROM mom
            UNION ALL
            SELECT 'discount_pct', 'price_cents', CAST(s23 AS DOUBLE),
                   CAST(s2 AS DOUBLE), CAST(s3 AS DOUBLE),
                   CAST(s22 AS DOUBLE), CAST(s33 AS DOUBLE),
                   CAST(n AS DOUBLE)
            FROM mom
            UNION ALL
            SELECT 'discount_pct', 'tax_pct', CAST(s24 AS DOUBLE),
                   CAST(s2 AS DOUBLE), CAST(s4 AS DOUBLE),
                   CAST(s22 AS DOUBLE), CAST(s44 AS DOUBLE),
                   CAST(n AS DOUBLE)
            FROM mom
            UNION ALL
            SELECT 'price_cents', 'tax_pct', CAST(s34 AS DOUBLE),
                   CAST(s3 AS DOUBLE), CAST(s4 AS DOUBLE),
                   CAST(s33 AS DOUBLE), CAST(s44 AS DOUBLE),
                   CAST(n AS DOUBLE)
            FROM mom
        )
        SELECT fa AS feature_a, fb AS feature_b,
               CAST(floor((n * sab - sa * sb)
                          / (sqrt(n * saa - sa * sa)
                             * sqrt(n * sbb - sb * sb))
                          * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS pearson_r
        FROM pairs
        ORDER BY feature_a, feature_b
"""


@register(
    "ml_feature_correlation_matrix",
    oracle=_CORRMAT_SQL.format(lineitem="lineitem"),
)
def ml_feature_correlation_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Full pairwise Pearson correlation matrix over four integerized
    numeric features in ONE aggregation pass — the feature-screening
    matrix (drop one of any collinear pair) computed the way a
    distributed feature store does it: k features need k + k(k+1)/2
    moment sums in a single map-combinable aggregate (here 14), and
    every correlation is then scalar arithmetic on the 1-row moment
    frame; k passes or a row-pair shuffle never happen. Cross products
    accumulate as DECIMAL(38,0) (cents x cents crosses 2^63 above
    sf0.1), means are never materialized (the n*Sxy - Sx*Sy identity).

    Determinism: exact integer/decimal moments, fixed-order double
    assembly per pair, rounded at 6 dp, output keyed by the feature
    pair.

    Plan note: the oracle spells the pair fan-out as UNION ALL arms
    over the moment CTE, which Spark would inline into 6 fact scans
    (caught by the plan pin); the Spark side instead explodes an
    array of pair structs FROM the single 1-row aggregate, so the
    plan has exactly one scan and one aggregation."""
    prefix = _CORRMAT_SQL[: _CORRMAT_SQL.index("        pairs AS (")]

    def _pair(fa: str, fb: str, ia: int, ib: int) -> str:
        return (
            f"named_struct('fa', '{fa}', 'fb', '{fb}', "
            f"'sab', CAST(s{min(ia, ib)}{max(ia, ib)} AS DOUBLE), "
            f"'sa', CAST(s{ia} AS DOUBLE), 'sb', CAST(s{ib} AS DOUBLE), "
            f"'saa', CAST(s{ia}{ia} AS DOUBLE), "
            f"'sbb', CAST(s{ib}{ib} AS DOUBLE))"
        )

    feats = [
        ("quantity", 1),
        ("discount_pct", 2),
        ("price_cents", 3),
        ("tax_pct", 4),
    ]
    structs = ",\n                ".join(
        _pair(fa, fb, ia, ib)
        for idx, (fa, ia) in enumerate(feats)
        for fb, ib in feats[idx + 1 :]
    )
    return sql_on_tables(
        spark,
        sf_dir,
        prefix
        + f"""
        expanded AS (
            SELECT CAST(n AS DOUBLE) AS nd, p
            FROM mom
            LATERAL VIEW explode(array(
                {structs}
            )) t AS p
        )
        SELECT p.fa AS feature_a, p.fb AS feature_b,
               CAST(floor((nd * p.sab - p.sa * p.sb)
                          / (sqrt(nd * p.saa - p.sa * p.sa)
                             * sqrt(nd * p.sbb - p.sb * p.sb))
                          * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS pearson_r
        FROM expanded
        ORDER BY feature_a, feature_b
        """,
    )


# ---------------------------------------------------------------------------
# stat_two_proportion_ztest — conversion-rate z-test from pure counts

_PROP_SQL = """
        WITH assign AS (
            SELECT user_id,
                   {hex_head}substr(md5(concat(
                        CAST(user_id AS STRING), '_prop')), 1, 8){hex_tail}
                   % 2 AS variant,
                   max(CASE WHEN event_type = 'purchase'
                                 AND value >= 400.0
                            THEN 1 ELSE 0 END) AS converted
            FROM {events}
            GROUP BY user_id
        ),
        cnt AS (
            SELECT sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS n0,
                   sum(CASE WHEN variant = 0 THEN converted ELSE 0 END)
                       AS c0,
                   sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS n1,
                   sum(CASE WHEN variant = 1 THEN converted ELSE 0 END)
                       AS c1
            FROM assign
        )
        SELECT CAST(n0 AS BIGINT) AS n_control,
               CAST(c0 AS BIGINT) AS conv_control,
               CAST(n1 AS BIGINT) AS n_treat,
               CAST(c1 AS BIGINT) AS conv_treat,
               CAST(floor(CAST(c0 AS DOUBLE) / n0 * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS rate_control,
               CAST(floor(CAST(c1 AS DOUBLE) / n1 * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS rate_treat,
               CAST(floor((CAST(c1 AS DOUBLE) / n1
                           - CAST(c0 AS DOUBLE) / n0)
                          / nullif(sqrt((CAST(c0 + c1 AS DOUBLE)
                                         / (n0 + n1))
                                 * (1.0 - CAST(c0 + c1 AS DOUBLE)
                                          / (n0 + n1))
                                 * (1.0 / n0 + 1.0 / n1)), 0.0)
                          * 10000.0 + 0.5)
                    AS DOUBLE) / 10000.0 AS z_stat
        FROM cnt
"""


@register(
    "stat_two_proportion_ztest",
    oracle=_PROP_SQL.format(
        events="events",
        hex_head="CAST(concat('0x', ",
        hex_tail=") AS BIGINT)",
    ).replace("AS STRING", "AS VARCHAR"),
)
def stat_two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on user conversion — the binary-outcome
    sibling of stat_welch_ttest and the single most common
    experimentation readout (did the treatment convert better?).
    Users are deterministically split by md5 parity (the
    events_ab_test_lift assignment discipline), per-user conversion is
    'made a big-ticket purchase' (value >= 400 — plain purchase is
    degenerate here: every user converts, making the pooled variance
    zero; the nullif guard returns NULL on that edge identically in
    both engines instead of Spark-ANSI-error vs DuckDB-inf), and the
    pooled-proportion z-statistic is assembled
    ENTIRELY from four integer counts — the only statistic in the
    suite with no float accumulation anywhere, making it the
    determinism gold standard: one fixed-order expression, rounded at
    4 dp.

    Scale shape: one user-keyed aggregation (the only fact shuffle),
    one 1-row count pivot, scalar arithmetic."""
    return sql_on_tables(
        spark,
        sf_dir,
        _PROP_SQL.format(
            events="{events}",
            hex_head="CAST(conv(",
            hex_tail=", 16, 10) AS BIGINT)",
        ),
    )


# ---------------------------------------------------------------------------
# stat_binomial_ci_wilson — Wilson score intervals for segment rates

_WILSON_SQL = """
        WITH seg AS (
            SELECT event_type,
                   count(*) AS n,
                   sum(CASE WHEN value >= 400.0 THEN 1 ELSE 0 END) AS k
            FROM {events}
            GROUP BY event_type
        )
        SELECT event_type, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
               CAST(floor(CAST(k AS DOUBLE) / n * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS rate,
               CAST(floor(((CAST(k AS DOUBLE) / n
                            + 1.9208 / n
                            - 1.959964 * sqrt((CAST(k AS DOUBLE) / n)
                                              * (1.0 - CAST(k AS DOUBLE)
                                                       / n) / n
                                              + 0.96036889 / (n * n)))
                           / (1.0 + 3.8414589 / n))
                          * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS wilson_lo,
               CAST(floor(((CAST(k AS DOUBLE) / n
                            + 1.9208 / n
                            + 1.959964 * sqrt((CAST(k AS DOUBLE) / n)
                                              * (1.0 - CAST(k AS DOUBLE)
                                                       / n) / n
                                              + 0.96036889 / (n * n)))
                           / (1.0 + 3.8414589 / n))
                          * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS wilson_hi
        FROM seg
        ORDER BY event_type
"""


@register("stat_binomial_ci_wilson", oracle=_WILSON_SQL.format(events="events"))
def stat_binomial_ci_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% Wilson score interval for each segment's high-value rate —
    the proportion CI that behaves at the extremes where the normal
    (Wald) interval collapses (k=0 or k=n give a degenerate
    zero-width Wald CI; Wilson stays honest), and the interval behind
    'sort by lower confidence bound' ranking. The z constants are
    pre-folded literals (z=1.959964, z^2=3.8414589, z^2/2=1.9208,
    z^4/4=0.96036889) so both engines evaluate identical arithmetic;
    inputs are two integer counts per segment.

    Scale shape: one map-combinable count aggregation (|segments|
    rows), then scalar arithmetic — nothing scales past the first
    pass."""
    return sql_on_tables(spark, sf_dir, _WILSON_SQL)


# ---------------------------------------------------------------------------
# ml_learning_curve_subsample — metric vs training-set size

_LC_SQL = """
        WITH pcts AS (
            SELECT * FROM (VALUES (10), (30), (100)) AS t(pct)
        ),
        sampled AS (
            SELECT p.pct,
                   CAST(l_quantity AS BIGINT) AS x,
                   CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                       AS y
            FROM {lineitem} CROSS JOIN pcts p
            WHERE {hex_head}substr(md5(concat(
                      CAST(l_orderkey AS STRING), '_',
                      CAST(l_linenumber AS STRING))), 1, 8){hex_tail}
                  % 100 < p.pct
        ),
        mom AS (
            SELECT pct, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                   sum(CAST(x AS DECIMAL(38, 0)) * y) AS sxy,
                   sum(CAST(x AS DECIMAL(38, 0)) * x) AS sxx,
                   sum(CAST(y AS DECIMAL(38, 0)) * y) AS syy
            FROM sampled GROUP BY pct
        )
        SELECT CAST(pct AS BIGINT) AS train_pct,
               CAST(n AS BIGINT) AS n_rows,
               CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                          / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                          / 100.0 * 10000.0 + 0.5)
                    AS DOUBLE) / 10000.0 AS slope_usd_per_qty,
               CAST(floor(
                   ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
                   / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                   * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS r_squared
        FROM mom
        ORDER BY train_pct
"""


@register(
    "ml_learning_curve_subsample",
    oracle=_LC_SQL.format(
        lineitem="lineitem",
        hex_head="CAST(concat('0x', ",
        hex_tail=") AS BIGINT)",
    ).replace("AS STRING", "AS VARCHAR"),
)
def ml_learning_curve_subsample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Learning curve: fit quality (slope stability + R^2 of the
    closed-form price~quantity regression) at 10% / 30% / 100%
    deterministic training subsamples — the 'is more data still
    buying accuracy?' readout that decides whether a pipeline keeps
    ingesting or starts curating. Subsamples are md5-hash NESTED by
    construction (hash%100 < 10 implies < 30 implies < 100 — the same
    rows stay in as the budget grows, the property that makes curves
    comparable), via the sample_hash_deterministic discipline.

    Determinism: integer/DECIMAL(38,0) moments per arm; slope and
    R^2 = corr^2 are fixed-order expressions, one rounding each.

    Scale shape: ONE fact scan fans out to the 3 arms via the pct
    cross join + hash filter, then a 3-group moment aggregate — K
    curve points never cost K scans, and the sampling predicate is
    scan-level (no shuffle to sample)."""
    return sql_on_tables(
        spark,
        sf_dir,
        _LC_SQL.format(
            lineitem="{lineitem}",
            hex_head="CAST(conv(",
            hex_tail=", 16, 10) AS BIGINT)",
        ),
    )
