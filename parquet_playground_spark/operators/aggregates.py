"""Category D — aggregations, plus the flagship pricing-summary query.

All hash aggregates: Catalyst plans partial (map-side) + final agg, so
shuffle volume is |groups|, not |rows| — the property that makes these
queries survive a 100 TB lineitem. Float aggregates are rounded to 4
decimals on both sides (SURVEY.md §7.3 rule 1).
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_playground_spark.operators.distrank import exact_percentiles
from parquet_playground_spark.registry import register
from parquet_playground_spark.tables import load_table, sql_on_tables

_LIMB_BITS = 20


def exact_sum(v: Column) -> Column:
    """Exact sum of a bigint-valued column, as DECIMAL(38,0).

    Same value, type and NULL result (all-NULL or empty group) as
    ``F.sum(v.cast("decimal(38,0)"))``, but the per-row work stays on
    primitive longs, which whole-stage codegen compiles: a DECIMAL sum
    buffer makes every row pay for ``java.math.BigDecimal`` arithmetic.
    q1's aggregate over sf0.1 lineitem (4-core Xeon, min of 8) took
    0.70 s with DECIMAL sums, 0.39 s with these, 0.38 s with plain
    bigint sums.

    Each value splits into two int64 limbs, ``hi = v >> 20`` (arithmetic
    shift) and ``lo = v & (2^20 - 1)``; two's complement makes
    ``v = hi * 2^20 + lo`` for every int64, negatives included. Both
    limbs are summed as bigint, and the DECIMAL recombination runs once
    per group. ANSI mode (pinned in ``session.SESSION_CONFS``) checks
    each limb sum, so the result is exact until a running ``sum(lo)``
    passes 2^63 (about 8.8e12 rows in one group) or a running
    ``sum(v >> 20)`` does; past that the query raises
    ``ARITHMETIC_OVERFLOW``, never a wrapped total. For scale: q1's
    largest per-row value, the charge in 1e-6 USD, is at most 1.1e11,
    so its hi limb is at most 1.1e5 per row.
    """
    hi = F.sum(F.shiftright(v, _LIMB_BITS))
    lo = F.sum(v.bitwiseAND((1 << _LIMB_BITS) - 1))
    return (hi * F.lit(Decimal(1 << _LIMB_BITS)) + lo).cast("decimal(38,0)")


def exact_sum_sql(expr: str) -> str:
    """``exact_sum`` as Spark SQL text, for queries written as SQL:
    the same two int64 limb sums of the bigint-valued ``expr``,
    recombined as DECIMAL(38,0) once per group, in place of a per-row
    ``sum(CAST(expr AS DECIMAL(38, 0)))``."""
    return (
        f"CAST(sum(shiftright({expr}, {_LIMB_BITS})) * {1 << _LIMB_BITS}BD"
        f" + sum(({expr}) & {(1 << _LIMB_BITS) - 1}) AS DECIMAL(38, 0))"
    )


@register(
    "q1_pricing_summary",
    oracle="""
        WITH rows_in AS (
            SELECT l_returnflag, l_linestatus,
                   CAST(l_quantity AS BIGINT) AS qty_i,
                   CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                       AS price_c,
                   CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)
                       AS disc_p,
                   CAST(floor(l_tax * 100.0 + 0.5) AS BIGINT) AS tax_p
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2024-09-01 00:00:00'
        )
        SELECT
            l_returnflag,
            l_linestatus,
            CAST(sum(qty_i) AS DOUBLE) AS sum_qty,
            CAST(sum(CAST(price_c AS DECIMAL(38, 0))) AS DOUBLE) / 100.0
                AS sum_base_price,
            CAST(sum(CAST(price_c * (100 - disc_p) AS DECIMAL(38, 0)))
                 AS DOUBLE) / 10000.0 AS sum_disc_price,
            CAST(sum(CAST(price_c * (100 - disc_p) * (100 + tax_p)
                          AS DECIMAL(38, 0))) AS DOUBLE) / 1000000.0
                AS sum_charge,
            CAST(floor(CAST(sum(qty_i) AS DOUBLE) / count(*) * 10000.0
                       + 0.5) AS DOUBLE) / 10000.0 AS avg_qty,
            CAST(floor(CAST(sum(price_c) AS DOUBLE) / count(*) / 100.0
                       * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS avg_price,
            CAST(floor(CAST(sum(disc_p) AS DOUBLE) / count(*) / 100.0
                       * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS avg_disc,
            count(*) AS count_order
        FROM rows_in
        GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H-Q1-style pricing summary.

    scan -> pushed filter -> partial/final hash agg. 4 output groups
    regardless of SF: shuffle is O(groups), the ideal scale shape.

    Money arithmetic is EXACT: quantities/cents/pct integerize per
    row (``rows_in``), and the three money sums of integer products
    (base price in cents, disc price in 1e-4 USD, charge in 1e-6 USD)
    go through exact_sum_sql: two int64 limb sums per row on the
    codegen'd primitive path, recombined into a DECIMAL(38,0) once per
    group. Each average takes one final division. The first sf1 TPC-H
    oracle sweep caught the original float-sum form diverging from
    DuckDB above the 4-dp grid at ~5e10 magnitudes (the q11 lesson
    applied to the flagship). Built as one SQL statement on
    ``sql_on_tables``: ~20 py4j round trips, where the Column API pays
    one or more per expression node (~900 for this aggregate)."""
    price_c = exact_sum_sql("price_c")
    disc_price_4 = exact_sum_sql("price_c * (100 - disc_p)")
    charge_6 = exact_sum_sql("price_c * (100 - disc_p) * (100 + tax_p)")
    return sql_on_tables(
        spark,
        sf_dir,
        f"""
        WITH rows_in AS (
            SELECT l_returnflag, l_linestatus,
                   CAST(l_quantity AS BIGINT) AS qty_i,
                   CAST(floor(l_extendedprice * 100D + 0.5D) AS BIGINT) AS price_c,
                   CAST(floor(l_discount * 100D + 0.5D) AS BIGINT) AS disc_p,
                   CAST(floor(l_tax * 100D + 0.5D) AS BIGINT) AS tax_p
            FROM {{lineitem}}
            WHERE l_shipdate <= TIMESTAMP '2024-09-01 00:00:00'
        )
        SELECT
            l_returnflag,
            l_linestatus,
            CAST(sum(qty_i) AS DOUBLE) AS sum_qty,
            CAST({price_c} AS DOUBLE) / 100D AS sum_base_price,
            CAST({disc_price_4} AS DOUBLE) / 10000D AS sum_disc_price,
            CAST({charge_6} AS DOUBLE) / 1000000D AS sum_charge,
            CAST(floor(CAST(sum(qty_i) AS DOUBLE) / count(1) * 10000D + 0.5D)
                 AS DOUBLE) / 10000D AS avg_qty,
            CAST(floor(CAST(sum(price_c) AS DOUBLE) / count(1) / 100D
                       * 10000D + 0.5D) AS DOUBLE) / 10000D AS avg_price,
            CAST(floor(CAST(sum(disc_p) AS DOUBLE) / count(1) / 100D
                       * 10000D + 0.5D) AS DOUBLE) / 10000D AS avg_disc,
            count(*) AS count_order
        FROM rows_in
        GROUP BY l_returnflag, l_linestatus
        """,
    )


@register(
    "agg_global",
    oracle="""
        SELECT count(*) AS n_rows,
               round(sum(l_quantity), 4) AS sum_qty,
               round(min(l_extendedprice), 4) AS min_price,
               round(max(l_extendedprice), 4) AS max_price,
               CAST(floor(CAST(sum(CAST(floor(l_discount * 100.0 + 0.5)
                                        AS BIGINT)) AS DOUBLE)
                          / count(*) / 100.0 * 10000.0 + 0.5) AS DOUBLE)
                   / 10000.0 AS avg_disc
        FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    # avg_disc as exact pennies (q1 avg pattern, r8 VERDICT item 2):
    # l_discount is 2dp, so the per-row pct integerizes exactly, the
    # sum is an order-independent integer add, and the average is one
    # identical IEEE division + portable floor on both engines —
    # engine round(avg(..)) was the class that split three certified
    # keys at the sf100 screen.
    li = load_table(spark, sf_dir, "lineitem")
    disc_p = F.floor(F.col("l_discount") * 100.0 + 0.5).cast("bigint")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.round(F.min("l_extendedprice"), 4).alias("min_price"),
        F.round(F.max("l_extendedprice"), 4).alias("max_price"),
        (
            F.floor(
                F.sum(disc_p).cast("double")
                / F.count(F.lit(1))
                / 100.0
                * 10000.0
                + 0.5
            ).cast("double")
            / 10000.0
        ).alias("avg_disc"),
    )


@register(
    "agg_groupby",
    oracle="""
        SELECT o_orderpriority, o_orderstatus,
               count(*) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5)
                             AS DECIMAL(38, 0))) AS DOUBLE) / 100.0
                   AS sum_price
        FROM orders
        GROUP BY o_orderpriority, o_orderstatus
    """,
)
def agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact cents accumulation (exact_sum): the per-group float
    # sum grows with SF and drifted past the 4-dp grid at sf1
    o = load_table(spark, sf_dir, "orders")
    price_c = F.floor(F.col("o_totalprice") * 100.0 + 0.5)
    return o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        (exact_sum(price_c).cast("double") / 100.0).alias("sum_price"),
    )


@register(
    "agg_distinct",
    oracle="""
        SELECT count(DISTINCT l_suppkey) AS n_supp,
               count(DISTINCT l_partkey) AS n_part,
               count(DISTINCT l_returnflag) AS n_flag
        FROM lineitem
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.countDistinct("l_returnflag").alias("n_flag"),
    )


@register(
    "agg_filtered",
    oracle="""
        SELECT l_returnflag,
               count(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
               CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5)
                             AS DECIMAL(38, 0)))
                    FILTER (WHERE l_quantity >= 25) AS DOUBLE) / 100.0
                   AS sum_bulk
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact cents (exact_sum): the filtered float sum drifted at
    # sf1's ~5e10 magnitude
    li = load_table(spark, sf_dir, "lineitem")
    price_c = F.floor(F.col("l_extendedprice") * 100.0 + 0.5)
    return li.groupBy("l_returnflag").agg(
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_discounted"),
        (
            exact_sum(F.when(F.col("l_quantity") >= 25, price_c)).cast("double")
            / 100.0
        ).alias("sum_bulk"),
    )


@register(
    "agg_stats",
    oracle="""
        SELECT l_linestatus,
               count(l_quantity) AS cnt,
               round(min(l_quantity), 4) AS min_q,
               round(max(l_quantity), 4) AS max_q,
               CAST(floor(CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE)
                          / count(l_quantity) * 10000.0 + 0.5) AS DOUBLE)
                   / 10000.0 AS mean_q,
               round(sum(l_quantity), 4) AS sum_q,
               round(var_samp(l_quantity), 4) AS var_q,
               round(stddev_samp(l_extendedprice), 4) AS std_price
        FROM lineitem
        GROUP BY l_linestatus
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max/mean/count/sum/variance — the per-field stats schema of
    nested_structs.rust.parquet (reference corpus, SURVEY §2.2).

    mean_q is exact-integer sum/count + portable floor (q1 avg
    pattern, r8 VERDICT item 2): l_quantity is integer-valued, so the
    bigint sum is exact and the average is one identical IEEE
    division on both engines where engine round(avg(..)) can split
    half-up vs half-even."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.count("l_quantity").alias("cnt"),
        F.round(F.min("l_quantity"), 4).alias("min_q"),
        F.round(F.max("l_quantity"), 4).alias("max_q"),
        (
            F.floor(
                F.sum(F.col("l_quantity").cast("bigint")).cast("double")
                / F.count("l_quantity")
                * 10000.0
                + 0.5
            ).cast("double")
            / 10000.0
        ).alias("mean_q"),
        F.round(F.sum("l_quantity"), 4).alias("sum_q"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_q"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("std_price"),
    )


@register(
    "agg_having",
    oracle="""
        SELECT l_partkey, count(*) AS n_lines
        FROM lineitem
        GROUP BY l_partkey
        HAVING count(*) > 40
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(F.count("*").alias("n_lines"))
        .filter(F.col("n_lines") > 40)
    )


@register(
    "agg_rollup",
    oracle="""
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5)
                             AS DECIMAL(38, 0))) AS DOUBLE) / 100.0
                   AS sum_price
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact cents (exact_sum) — rollup totals reach the full-table
    # magnitude where the float sum drifted at sf1
    o = load_table(spark, sf_dir, "orders")
    price_c = F.floor(F.col("o_totalprice") * 100.0 + 0.5)
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        (exact_sum(price_c).cast("double") / 100.0).alias("sum_price"),
    )


@register(
    "agg_cube",
    oracle="""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders")
    )


_GROUPING_SETS_SQL = """
        SELECT l_returnflag, l_linestatus,
               grouping(l_returnflag) AS g_flag,
               grouping(l_linestatus) AS g_status,
               count(*) AS n
        FROM {lineitem}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


@register("agg_grouping_sets", oracle=_GROUPING_SETS_SQL.format(lineitem="lineitem"))
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_on_tables(spark, sf_dir, _GROUPING_SETS_SQL)


@register(
    "agg_approx_count_distinct",
    oracle="""
        SELECT count(DISTINCT l_partkey) AS exact_parts,
               TRUE AS approx_within_5pct
        FROM lineitem
    """,
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ sketch — constant memory per group at any SF (the scale
    substitute for exact COUNT DISTINCT on high-cardinality keys).

    The sketch estimate itself is engine-specific, so the hashed output
    is the EXACT count (oracle-checkable) plus the semantic contract —
    the estimate lands within 5x the requested 1% rsd — as a boolean
    the oracle pins to TRUE. A broken sketch flips the hash. At 100 TB
    only the sketch column survives; the exact twin is the small-scale
    ground truth.

    The two aggregates run as SEPARATE single-row jobs cross-joined at
    the end: mixing approx_count_distinct with count(DISTINCT) in one
    agg triggers RewriteDistinctAggregates' Expand plan, where the
    2^14-register HLL++ buffer is MERGED once per input row instead of
    updated — ~1000x slower; the sf10 sweep found it grinding 21 min
    per task on 60M rows. Split, each is a clean 2-stage partial/final
    aggregate (HLL update per row; exact distinct via hash shuffle)."""
    li = load_table(spark, sf_dir, "lineitem")
    approx = li.agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts")
    )
    exact = li.agg(F.countDistinct("l_partkey").alias("exact_parts"))
    return exact.crossJoin(approx).select(
        "exact_parts",
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            / F.col("exact_parts")
            <= 0.05
        ).alias("approx_within_5pct"),
    )


@register(
    "agg_approx_percentile",
    oracle="""
        SELECT count(*) AS n,
               round(quantile_cont(l_extendedprice, 0.25), 4) AS q1_exact,
               round(quantile_cont(l_extendedprice, 0.50), 4) AS q2_exact,
               round(quantile_cont(l_extendedprice, 0.75), 4) AS q3_exact,
               TRUE AS approx_within_rank_band
        FROM lineitem
    """,
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx (GK sketch, mergeable, bounded memory) next to
    the exact interpolated quartiles. Hashed output: the exact
    quartiles (cross-engine checkable against quantile_cont) plus the
    sketch contract as an oracle-pinned TRUE.

    The contract is RANK-based, matching what GK actually guarantees
    (rank error <= 1/accuracy = 1e-4): each estimate must fall between
    the exact quantiles at q +/- 0.005 (50x the guarantee — slack for
    interpolation differences, still a real check). A VALUE-error pin
    (the r3 version's 1%) is not implied by the sketch: a flat-density
    region can legally turn a tiny rank error into a large value error
    at another SF, flipping the hash (ADVICE r3). At 100 TB only the
    sketch column survives; the exact path is the small-scale ground
    truth."""
    li = load_table(spark, sf_dir, "lineitem")
    delta = 0.005
    qs = [0.25, 0.5, 0.75]
    # r10: the exact quantiles come from distrank.exact_percentiles —
    # bit-identical to F.percentile (r9's single 9-fraction call) but
    # with NO single-task buffer: F.percentile funnels a map of every
    # distinct value (583k at sf0.1, unbounded at 100 TB — the guide
    # §5 scale-killer the r9 VERDICT flagged) into one final task and
    # updates it row-at-a-time interpreted; the distributed form is a
    # codegen'd value groupBy + two-pass bucket prefix sum + an
    # 18-row broadcast probe. Measured 2.11 s -> ~1.4 s for the exact
    # part at sf0.1 (isolated min-of-N), bit-equal on all 9 fractions.
    # The GK sketch and the row count keep their own single
    # map-side-combined pass (percentile_approx has no frequency
    # argument, so it cannot ride the value-count table).
    fractions = [f for q in qs for f in (q - delta, q, q + delta)]
    eq9 = exact_percentiles(li, "l_extendedprice", fractions)
    agg = li.agg(
        F.percentile_approx(
            "l_extendedprice", F.array(*[F.lit(q) for q in qs]), 10000
        ).alias("aq"),
        F.count(F.lit(1)).alias("n"),
    ).crossJoin(F.broadcast(eq9))
    within = F.lit(True)
    for i in range(1, len(qs) + 1):
        a = F.element_at("aq", i)
        within = (
            within
            & (a >= F.col(f"e{3 * i - 3}"))
            & (a <= F.col(f"e{3 * i - 1}"))
        )
    return agg.select(
        "n",
        F.round(F.col("e1"), 4).alias("q1_exact"),
        F.round(F.col("e4"), 4).alias("q2_exact"),
        F.round(F.col("e7"), 4).alias("q3_exact"),
        within.alias("approx_within_rank_band"),
    )


@register(
    "agg_collect",
    oracle="""
        SELECT n_regionkey,
               array_to_string(list_sort(list(n_name)), ',') AS nations,
               array_to_string(list_sort(list(DISTINCT substr(n_name, 1, 1))), ',')
                   AS initials
        FROM nation
        GROUP BY n_regionkey
    """,
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list/collect_set, sorted for determinism (§7.3 rule 5).

    Arrays are serialized with array_join so the harness canonicalizer
    (pandas sort/hash) never sees raw list cells."""
    n = load_table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("nations"),
        F.array_join(
            F.sort_array(F.collect_set(F.substring("n_name", 1, 1))), ","
        ).alias("initials"),
    )


@register(
    "agg_median_percentiles",
    oracle="""
        SELECT l_returnflag,
               round(median(l_quantity), 4) AS med_qty,
               round(quantile_cont(l_quantity, 0.25), 4) AS q1_qty,
               round(quantile_cont(l_quantity, 0.75), 4) AS q3_qty,
               count(*) AS n
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def agg_median_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median + interpolated quartiles per group. Spark's
    median()/percentile() and DuckDB's median()/quantile_cont() share
    linear-interpolation semantics, so the oracle matches exactly.
    Exact percentiles sort within each group — at 100 TB swap to the
    approx_percentile sketch (registered separately) unless exactness
    is contractual."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.median("l_quantity"), 4).alias("med_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.25)), 4).alias("q1_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.75)), 4).alias("q3_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_regression",
    oracle="""
        SELECT l_returnflag,
               CAST(CAST(round(regr_slope(l_extendedprice, l_quantity), 4)
                    AS DECIMAL(18,4)) AS VARCHAR) AS slope,
               CAST(CAST(round(regr_intercept(l_extendedprice, l_quantity), 4)
                    AS DECIMAL(18,4)) AS VARCHAR) AS intercept,
               CAST(CAST(round(regr_r2(l_extendedprice, l_quantity), 4)
                    AS DECIMAL(18,4)) AS VARCHAR) AS r2,
               CAST(CAST(round(corr(l_extendedprice, l_quantity), 4)
                    AS DECIMAL(18,4)) AS VARCHAR) AS correlation,
               count(*) AS n
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregate family (slope/intercept/R^2/corr of
    extendedprice vs quantity per returnflag). All are single-pass
    sum-of-products aggregates — map-side combinable, one shuffle of
    |groups| rows. Cross-engine float parity via the fixed-4-decimal
    string canon (round -> DECIMAL(18,4) -> string on both sides)."""

    def canon(c):
        return F.round(c, 4).cast("decimal(18,4)").cast("string")

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        canon(F.expr("regr_slope(l_extendedprice, l_quantity)")).alias("slope"),
        canon(F.expr("regr_intercept(l_extendedprice, l_quantity)")).alias(
            "intercept"
        ),
        canon(F.expr("regr_r2(l_extendedprice, l_quantity)")).alias("r2"),
        canon(F.corr("l_extendedprice", "l_quantity")).alias("correlation"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_approx_top_k",
    oracle="""
        SELECT o_orderpriority AS item, count(*) AS cnt
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY cnt DESC, item
        LIMIT 3
    """,
)
def agg_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitters via approx_top_k. With <= maxItemsTracked (10k)
    distinct values the sketch is exact, so the oracle is the exact
    GROUP BY top-3 (order-insensitive compare absorbs the count tie).
    At 100 TB cardinalities the same call degrades gracefully to a
    mergeable space-bounded sketch — that is the point of registering
    it alongside the exact form."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.agg(F.expr("approx_top_k(o_orderpriority, 3)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("item"),
            F.col("e.count").alias("cnt"),
        )
    )


@register(
    "sketch_hll_union",
    oracle="""
        SELECT count(*) AS total_rows,
               count(DISTINCT o_custkey) AS exact_custkeys,
               TRUE AS union_within_5pct
        FROM orders
    """,
)
def sketch_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (DataSketches HLL): one
    hll_sketch_agg per priority group, then hll_union_agg merges the
    group sketches into a global estimate — the partition-then-merge
    topology every 100 TB distinct-count runs. The sketch estimate is
    engine-specific, so the hashed output is the exact side (rows +
    exact distinct) plus the union-estimate error contract as an
    oracle-pinned TRUE boolean — a broken sketch merge flips the hash.
    At 100 TB only the sketch path survives; the exact countDistinct is
    the small-scale ground truth."""
    o = load_table(spark, sf_dir, "orders")
    per_group = o.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey").alias("sk"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    merged = per_group.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_custkeys"),
        F.sum("n_rows").alias("total_rows"),
    )
    exact = o.agg(F.countDistinct("o_custkey").alias("exact_custkeys"))
    return merged.crossJoin(F.broadcast(exact)).select(
        "total_rows",
        "exact_custkeys",
        (
            F.abs(F.col("approx_custkeys") - F.col("exact_custkeys"))
            / F.col("exact_custkeys")
            <= 0.05
        ).alias("union_within_5pct"),
    )


@register(
    "agg_boolean_bitwise",
    oracle="""
        SELECT o_orderpriority,
               count(*) FILTER (WHERE o_totalprice > 30000) AS n_big,
               bool_and(o_totalprice > 1000) AS all_over_1k,
               bool_or(o_orderstatus = 'F') AS any_finished,
               arg_max(o_orderstatus, o_orderkey) AS last_status,
               bit_and(o_orderkey) AS key_and,
               bit_or(o_orderkey) AS key_or,
               bit_xor(o_orderkey) AS key_xor
        FROM orders
        GROUP BY o_orderpriority
    """,
)
def agg_boolean_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean, conditional-count, arg-max, and bitwise aggregate
    surface. arg_max keys on the unique o_orderkey so both engines
    pick the same row; all are single-pass map-combinable aggregates
    (one shuffle of |groups| rows)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_totalprice") > 30000).alias("n_big"),
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
        F.max_by("o_orderstatus", "o_orderkey").alias("last_status"),
        F.bit_and("o_orderkey").alias("key_and"),
        F.bit_or("o_orderkey").alias("key_or"),
        F.bit_xor("o_orderkey").alias("key_xor"),
    )


@register(
    "agg_listagg",
    oracle="""
        SELECT c_nationkey,
               string_agg(c_name, ',' ORDER BY c_name) AS names_csv,
               count(*) AS n
        FROM customer
        WHERE c_custkey <= 200
        GROUP BY c_nationkey
    """,
)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (SQL:2023 LISTAGG / string_agg).
    WITHIN GROUP (ORDER BY) makes the concatenation deterministic, so
    it oracles exactly — unlike bare collect_list. Map-side partials
    hold sorted runs; one shuffle of |groups| rows."""
    return sql_on_tables(
        spark,
        sf_dir,
        """
        SELECT c_nationkey,
               listagg(c_name, ',') WITHIN GROUP (ORDER BY c_name)
                   AS names_csv,
               count(*) AS n
        FROM {customer}
        WHERE c_custkey <= 200
        GROUP BY c_nationkey
        """,
    )


@register(
    "agg_width_bucket_histogram",
    oracle="""
        SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
                         WHEN o_totalprice >= 60000 THEN 13
                         ELSE floor(o_totalprice / 5000) + 1 END AS BIGINT)
                   AS bucket,
               count(*) AS n,
               round(min(o_totalprice), 4) AS lo,
               round(max(o_totalprice), 4) AS hi
        FROM orders
        GROUP BY 1
    """,
)
def agg_width_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via width_bucket(price, 0, 60000, 12) —
    the one-pass distribution profile a pipeline runs before choosing
    partition bounds. DuckDB v1.0 has no width_bucket, so the oracle
    emulates the same bucket arithmetic (floor(x/step)+1 with under/
    overflow buckets 0 and n+1)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.expr("width_bucket(o_totalprice, 0, 60000, 12)").alias("bucket"),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 4).alias("lo"),
            F.round(F.max("o_totalprice"), 4).alias("hi"),
        )
    )


@register(
    "agg_covariance",
    oracle="""
        SELECT l_returnflag,
               round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_s,
               round(covar_pop(l_quantity, l_extendedprice), 4) AS cov_p,
               round(corr(l_quantity, l_extendedprice), 6) AS r
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def agg_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance family (sample/population) + Pearson correlation per
    group — the df.stat surface as declarative aggregates, completing
    the second-moment set next to agg_stats (variance) and
    agg_regression (regr_*). Single map-combinable aggregate; the
    co-moments merge associatively so the partial-aggregate tree is
    exactly the 100 TB plan."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("cov_s"),
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias("cov_p"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("r"),
    )


@register(
    "agg_mode_deterministic",
    oracle="""
        WITH counts AS (
            SELECT o_orderstatus, o_orderpriority, count(*) AS n
            FROM orders
            GROUP BY o_orderstatus, o_orderpriority
        )
        SELECT o_orderstatus, o_orderpriority AS modal_priority, n
        FROM (SELECT *, row_number() OVER (PARTITION BY o_orderstatus
                                           ORDER BY n DESC,
                                                    o_orderpriority ASC)
                            AS rnk
              FROM counts)
        WHERE rnk = 1
    """,
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE: the most frequent priority per status, ties
    broken by value — built as count + top-1 window instead of the
    built-in mode(), whose tie choice is undefined on BOTH engines
    (an undefined-tie aggregate can never be oracle-checked; this
    formulation can, and is the one to ship when reproducibility
    matters). Two aggregations over the tiny (status, priority)
    domain."""
    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("n").desc(), F.col("o_orderpriority").asc()
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("modal_priority"),
            "n",
        )
    )


@register(
    "incremental_variance_merge",
    oracle="""
        WITH partials AS (
            SELECT date_trunc('month', o_orderdate) AS pmonth,
                   count(*) AS n,
                   sum(o_totalprice) AS s,
                   var_pop(o_totalprice) * count(*) AS m2
            FROM orders GROUP BY 1
        ), g AS (
            SELECT sum(n) AS n_total, sum(s) / sum(n) AS gmean FROM partials
        ), merged AS (
            SELECT g.n_total,
                   (sum(p.m2) + sum(p.n * (p.s / p.n - g.gmean)
                                    * (p.s / p.n - g.gmean))) / g.n_total
                       AS var_merged
            FROM partials p CROSS JOIN g
            GROUP BY g.n_total
        )
        SELECT CAST(m.n_total AS BIGINT) AS n_total,
               round(m.var_merged, 2) AS var_merged,
               round(d.var_direct, 2) AS var_direct,
               round(m.var_merged, 2) = round(d.var_direct, 2) AS consistent
        FROM merged m
        CROSS JOIN (SELECT var_pop(o_totalprice) AS var_direct FROM orders) d
    """,
)
def incremental_variance_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable second-moment statistics (parallel variance, Chan et
    al.): per-month partials (n, sum, m2) are combined into the global
    variance WITHOUT rescanning rows — m2_total = Σm2_i + Σn_i·(mean_i
    − global_mean)², the algebra every incremental profiler /
    monitoring rollup relies on (compute today's partial, merge with
    90 stored partials, never touch old data). The query runs both
    the merged path and the direct var_pop and proves they agree —
    the re-aggregability contract itself is what's under test. At
    100 TB the partials table is the only thing read on day N."""
    o = load_table(spark, sf_dir, "orders")
    partials = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("pmonth")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_totalprice").alias("s"),
        (F.var_pop("o_totalprice") * F.count(F.lit(1))).alias("m2"),
    )
    g = partials.agg(
        F.sum("n").alias("n_total"),
        (F.sum("s") / F.sum("n")).alias("gmean"),
    )
    mean_i = F.col("s") / F.col("n")
    merged = (
        partials.crossJoin(F.broadcast(g))
        .groupBy("n_total")
        .agg(
            (
                (
                    F.sum("m2")
                    + F.sum(
                        F.col("n")
                        * (mean_i - F.col("gmean"))
                        * (mean_i - F.col("gmean"))
                    )
                )
                / F.col("n_total")
            ).alias("var_merged")
        )
    )
    direct = o.agg(F.var_pop("o_totalprice").alias("var_direct"))
    return merged.crossJoin(F.broadcast(direct)).select(
        F.col("n_total").cast("bigint").alias("n_total"),
        F.round("var_merged", 2).alias("var_merged"),
        F.round("var_direct", 2).alias("var_direct"),
        (F.round("var_merged", 2) == F.round("var_direct", 2)).alias(
            "consistent"
        ),
    )


@register(
    "stat_crosstab",
    oracle="""
        SELECT o_orderpriority AS o_orderpriority_o_orderstatus,
               count(*) FILTER (o_orderstatus = 'F') AS "F",
               count(*) FILTER (o_orderstatus = 'O') AS "O",
               count(*) FILTER (o_orderstatus = 'P') AS "P"
        FROM orders GROUP BY o_orderpriority
    """,
)
def stat_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency table via DataFrame.stat.crosstab — the pairwise
    frequency API (priority x order-status here). crosstab names the
    first column 'col1_col2' and one column per distinct value of
    col2; the oracle pins that exact contract with FILTERed counts.

    Scale shape: crosstab plans a single partial+final hash aggregate
    on (col1, col2) followed by a driver-side pivot over |distinct
    col2| columns — safe whenever col2's cardinality is small (3
    states here). Counts come back as bigint."""
    o = load_table(spark, sf_dir, "orders")
    ct = o.stat.crosstab("o_orderpriority", "o_orderstatus")
    # crosstab returns counts as long but the value columns arrive in
    # data-dependent order; project a fixed order for schema stability.
    return ct.select("o_orderpriority_o_orderstatus", "F", "O", "P")


@register(
    "agg_bitmap_distinct",
    oracle="""
        SELECT r_name, count(DISTINCT c_custkey) AS n_customers
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct count via mergeable roaring-style bitmaps
    (bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg
    / bitmap_or_agg / bitmap_count, Spark 3.5+): per (region, bucket)
    each worker builds a bitmap of the key positions it saw, bitmaps
    OR-merge associatively, and popcounts sum to the exact distinct
    count.

    This is the scale answer when approx_count_distinct isn't allowed:
    count(DISTINCT key) plans an expand+re-shuffle of every raw row,
    while the bitmap tree shuffles only fixed-size bitmap partials per
    (group, bucket) — same mergeability story as HLL but exact. The
    oracle is the plain count(DISTINCT): any bucket/position bug
    changes a count and fails the hash."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    dim = F.broadcast(
        n.join(r, n.n_regionkey == r.r_regionkey).select("n_nationkey", "r_name")
    )
    keyed = c.join(dim, c.c_nationkey == F.col("n_nationkey")).select(
        "r_name", F.col("c_custkey").cast("long").alias("k")
    )
    per_bucket = keyed.groupBy(
        "r_name", F.expr("bitmap_bucket_number(k)").alias("bucket")
    ).agg(F.expr("bitmap_construct_agg(bitmap_bit_position(k))").alias("bm"))
    merged = per_bucket.groupBy("r_name", "bucket").agg(
        F.expr("bitmap_or_agg(bm)").alias("bm")
    )
    return merged.groupBy("r_name").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_customers")
    )


@register(
    "agg_grouping_id",
    oracle="""
        SELECT o_orderpriority, o_orderstatus,
               CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_pri,
               CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_st,
               CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
               count(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                (o_orderpriority), ())
    """,
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING / GROUPING_ID disambiguation: in grouping-sets output a
    NULL can mean 'aggregated over' or 'the data really was NULL';
    grouping() flags per column and grouping_id() packs the flags into
    the level bitmask (leftmost grouping column = MSB in both Spark
    and DuckDB's multi-arg GROUPING). Downstream consumers route on
    the bitmask, not on fragile NULL checks. Same single-Expand
    single-shuffle plan as agg_grouping_sets."""
    return sql_on_tables(
        spark,
        sf_dir,
        """
        SELECT o_orderpriority, o_orderstatus,
               CAST(grouping(o_orderpriority) AS BIGINT) AS g_pri,
               CAST(grouping(o_orderstatus) AS BIGINT) AS g_st,
               grouping_id() AS gid,
               count(*) AS n
        FROM {orders}
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                (o_orderpriority), ())
        """,
    )


@register(
    "agg_percentile_within_group",
    oracle="""
        SELECT o_orderpriority,
               round(quantile_disc(o_totalprice, 0.5), 4) AS p50_disc,
               round(quantile_cont(o_totalprice, 0.5), 4) AS p50_cont,
               round(quantile_disc(o_totalprice, 0.9), 4) AS p90_disc
        FROM orders
        GROUP BY o_orderpriority
    """,
)
def agg_percentile_within_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI ordered-set aggregates: percentile_disc / percentile_cont
    WITHIN GROUP (ORDER BY ...) per group. Discrete percentiles return
    an actual data value, so they are bit-exact across engines (no
    interpolation arithmetic to drift); the continuous variant is the
    interpolating cousin, rounded at the end. Exact percentiles need
    the group's values together — one shuffle on the group key; at
    100 TB you'd reach for approx_percentile (registered separately)
    when groups no longer fit, and this stays the per-group-exact
    reference."""
    return sql_on_tables(
        spark,
        sf_dir,
        """
        SELECT o_orderpriority,
               round(percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice),
                     4) AS p50_disc,
               round(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice),
                     4) AS p50_cont,
               round(percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice),
                     4) AS p90_disc
        FROM {orders}
        GROUP BY o_orderpriority
        """,
    )


@register(
    "agg_weighted_median",
    oracle="""
        WITH cum AS (
            SELECT l_returnflag, l_extendedprice, l_quantity,
                   sum(l_quantity) OVER (
                       PARTITION BY l_returnflag
                       ORDER BY l_extendedprice, l_orderkey, l_linenumber
                       ROWS UNBOUNDED PRECEDING) AS cw,
                   sum(l_quantity) OVER (
                       PARTITION BY l_returnflag) AS total_w
            FROM lineitem
        ),
        med AS (
            SELECT l_returnflag,
                   min(l_extendedprice) AS weighted_median
            FROM cum WHERE 2 * cw >= total_w
            GROUP BY l_returnflag
        ),
        stats AS (
            SELECT l_returnflag, count(*) AS n_lines,
                   round(sum(l_quantity), 2) AS total_qty
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT s.l_returnflag, s.n_lines, s.total_qty,
               round(m.weighted_median, 2) AS weighted_median
        FROM stats s JOIN med m ON s.l_returnflag = m.l_returnflag
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median: the price at which half the QUANTITY (not half
    the rows) sits below — the robust 'typical traded price' that a
    plain median gets wrong when line sizes vary. No engine builtin
    exists; the portable construction is a per-group cumulative-weight
    window and the first value crossing half the total. One shuffle on
    the group key serves both windows and the final aggregate; ties in
    price are settled by key so the crossing row is engine-identical.
    Same shape computes any weighted percentile (swap the 2*cw >=
    total_w threshold)."""
    li = load_table(spark, sf_dir, "lineitem")
    wo = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wp = Window.partitionBy("l_returnflag")
    cum = li.select(
        "l_returnflag",
        "l_extendedprice",
        "l_quantity",
        F.sum("l_quantity").over(wo).alias("cw"),
        F.sum("l_quantity").over(wp).alias("total_w"),
    )
    med = (
        cum.where(2 * F.col("cw") >= F.col("total_w"))
        .groupBy("l_returnflag")
        .agg(F.min("l_extendedprice").alias("weighted_median"))
    )
    stats = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
    )
    return stats.join(med, "l_returnflag").select(
        "l_returnflag",
        "n_lines",
        "total_qty",
        F.round("weighted_median", 2).alias("weighted_median"),
    )


@register(
    "sketch_kll_quantiles",
    oracle="""
        SELECT count(*) AS n,
               round(quantile_cont(o_totalprice, 0.25), 4) AS q1_exact,
               round(quantile_cont(o_totalprice, 0.50), 4) AS q2_exact,
               round(quantile_cont(o_totalprice, 0.75), 4) AS q3_exact,
               TRUE AS kll_within_rank_bound
        FROM orders
    """,
)
def sketch_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable KLL quantile sketches (DataSketches, Spark 4): one
    kll_sketch_agg per priority group, kll_merge_agg combines them,
    quantile estimates read off the merged sketch — the
    partition-then-merge topology for percentiles at 100 TB, where the
    GK-based percentile_approx cannot merge across independent jobs.
    KLL guarantees a RANK error bound (not a value bound), so the
    contract boolean checks each estimate lies between the exact
    quantiles at q±0.05 — the correct acceptance region; exact
    quartiles are the hashed ground truth."""
    o = load_table(spark, sf_dir, "orders")
    per_group = o.groupBy("o_orderpriority").agg(
        F.kll_sketch_agg_double("o_totalprice").alias("sk")
    )
    merged = per_group.agg(F.kll_merge_agg_double("sk").alias("mk"))
    est = merged.select(
        *[
            F.kll_sketch_get_quantile_double("mk", F.lit(q)).alias(f"e{i}")
            for i, q in enumerate((0.25, 0.5, 0.75))
        ]
    )
    bounds = o.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.percentile("o_totalprice", F.lit(q)).alias(f"p{int(q*100)}")
            for q in (0.20, 0.25, 0.30, 0.45, 0.50, 0.55, 0.70, 0.75, 0.80)
        ],
    )
    j = est.crossJoin(F.broadcast(bounds))
    within = (
        F.col("e0").between(F.col("p20"), F.col("p30"))
        & F.col("e1").between(F.col("p45"), F.col("p55"))
        & F.col("e2").between(F.col("p70"), F.col("p80"))
    )
    return j.select(
        "n",
        F.round("p25", 4).alias("q1_exact"),
        F.round("p50", 4).alias("q2_exact"),
        F.round("p75", 4).alias("q3_exact"),
        within.alias("kll_within_rank_bound"),
    )


@register(
    "sketch_theta_setops",
    oracle="""
        WITH f AS (SELECT DISTINCT o_custkey FROM orders
                   WHERE o_orderstatus = 'F'),
             o AS (SELECT DISTINCT o_custkey FROM orders
                   WHERE o_orderstatus = 'O')
        SELECT (SELECT count(*) FROM (SELECT * FROM f UNION
                                      SELECT * FROM o)) AS exact_union,
               (SELECT count(*) FROM (SELECT * FROM f INTERSECT
                                      SELECT * FROM o)) AS exact_intersect,
               TRUE AS union_within_5pct,
               TRUE AS intersect_within_band
    """,
)
def sketch_theta_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta sketches (DataSketches, Spark 4): SET ALGEBRA on distinct
    sketches — union AND intersection estimates from two independently
    built sketches, the capability HLL lacks (HLL unions only). The
    production shape: build one sketch per segment in one pass each,
    then answer overlap questions (customers active in both states)
    without re-scanning. Hashed output: exact union/intersection
    cardinalities plus oracle-pinned within-bound booleans.

    The intersection band is ABSOLUTE, derived from the union
    cardinality (|est - exact| <= 2% of exact_union): theta
    intersection error scales with the union size, not the
    intersection size, so a relative-to-intersection pin (the r3
    version's 5%) could legally fail on a small overlap between two
    large sets (ADVICE r3)."""
    o = load_table(spark, sf_dir, "orders")
    sa = o.filter(F.col("o_orderstatus") == "F").agg(
        F.theta_sketch_agg("o_custkey").alias("sa")
    )
    sb = o.filter(F.col("o_orderstatus") == "O").agg(
        F.theta_sketch_agg("o_custkey").alias("sb")
    )
    est = sa.crossJoin(F.broadcast(sb)).select(
        F.theta_sketch_estimate(F.theta_union("sa", "sb")).alias("u_est"),
        F.theta_sketch_estimate(F.theta_intersection("sa", "sb")).alias(
            "i_est"
        ),
    )
    exact = o.filter(F.col("o_orderstatus").isin("F", "O")).agg(
        F.countDistinct("o_custkey").alias("exact_union"),
    )
    both = (
        o.filter(F.col("o_orderstatus") == "F")
        .select("o_custkey")
        .intersect(
            o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
        )
        .agg(F.count(F.lit(1)).alias("exact_intersect"))
    )
    j = est.crossJoin(F.broadcast(exact)).crossJoin(F.broadcast(both))
    return j.select(
        "exact_union",
        "exact_intersect",
        (
            F.abs(F.col("u_est") - F.col("exact_union"))
            / F.col("exact_union")
            <= 0.05
        ).alias("union_within_5pct"),
        (
            F.abs(F.col("i_est") - F.col("exact_intersect"))
            <= 0.02 * F.col("exact_union")
        ).alias("intersect_within_band"),
    )
