"""Composite analytics: pivot, subqueries, and TPC-H-shaped headline
queries.

These exercise Catalyst's heavier rewrites — pivot-to-aggregate
expansion, scalar/correlated subquery decorrelation (SURVEY §4: no
custom rules needed, the optimizer plans the decorrelated join), and
multi-join + agg + top-k pipelines in one plan. All oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_playground_spark.operators.aggregates import exact_sum, exact_sum_sql
from parquet_playground_spark.operators.distrank import (
    global_prefix_sum,
    global_rank,
    global_running_agg,
    ntile_from_rank,
)
from parquet_playground_spark.registry import (
    register,
    track_drop,
    track_persist,
    track_temp_view,
)
from parquet_playground_spark.session import scoped_confs
from parquet_playground_spark.tables import load_table, sql_on_tables


@register(
    "agg_pivot",
    oracle="""
        SELECT o_orderpriority,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS F,
               count(*) FILTER (WHERE o_orderstatus = 'O') AS O,
               count(*) FILTER (WHERE o_orderstatus = 'P') AS P
        FROM orders
        GROUP BY o_orderpriority
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot status values into columns. Catalyst expands pivot into one
    hash aggregate with conditional counts — the same plan as the
    oracle's FILTER clauses, one shuffle of |groups| rows."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


_SUBQUERY_SCALAR_SQL = """
        SELECT o_orderkey, o_totalprice
        FROM {orders}
        WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM {orders})
"""


@register("subquery_scalar", oracle=_SUBQUERY_SCALAR_SQL.format(orders="orders"))
def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: Catalyst plans the inner aggregate
    once and broadcasts the scalar — no per-row re-evaluation."""
    return sql_on_tables(spark, sf_dir, _SUBQUERY_SCALAR_SQL)


_SUBQUERY_CORRELATED_SQL = """
        SELECT c_custkey,
               (SELECT round(max(o_totalprice), 4) FROM {orders}
                WHERE o_custkey = c_custkey) AS max_order
        FROM {customer}
        WHERE c_custkey <= 500
"""


@register(
    "subquery_correlated",
    oracle=_SUBQUERY_CORRELATED_SQL.format(orders="orders", customer="customer"),
)
def subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: Catalyst decorrelates into a
    left-outer aggregate join on the correlation key — linear, one
    shuffle, never a per-row nested loop."""
    return sql_on_tables(spark, sf_dir, _SUBQUERY_CORRELATED_SQL)


@register(
    "q3_shipping_priority",
    oracle="""
        SELECT l.l_orderkey,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
               CAST(o.o_orderdate AS DATE) AS orderdate
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-06-15 00:00:00'
          AND l.l_shipdate > TIMESTAMP '1998-06-15 00:00:00'
        GROUP BY l.l_orderkey, o.o_orderdate
        ORDER BY revenue DESC, l.l_orderkey
        LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped: segment filter -> 3-way join -> revenue agg ->
    global top-10. Filters push to all three scans; the limit runs as
    TakeOrderedAndProject (no global sort materialization). Tie-break
    on l_orderkey keeps the LIMIT deterministic (§7.3 rule 4)."""
    cutoff = F.lit("1998-06-15 00:00:00").cast("timestamp")
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.col("o_orderdate").cast("date").alias("orderdate"),
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "q5_local_supplier",
    oracle="""
        SELECT n.n_name AS nation,
               CAST(sum(CAST(
                   CAST(floor(l.l_extendedprice * 100.0 + 0.5) AS BIGINT)
                   * (100 - CAST(floor(l.l_discount * 100.0 + 0.5)
                                 AS BIGINT))
               AS DECIMAL(38, 0))) AS DOUBLE) / 10000.0 AS revenue
        FROM region r
        JOIN nation n ON n.n_regionkey = r.r_regionkey
        JOIN customer c ON c.c_nationkey = n.n_nationkey
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
                       AND s.s_nationkey = c.c_nationkey
        WHERE r.r_name = 'AMERICA'
        GROUP BY n.n_name
    """,
)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped: 6-table join keeping only orders supplied from
    the customer's own nation. Never broadcast a fact-proportional
    side: region/nation broadcast (constant-size dims) into customer,
    and that set joins orders; the result, projected to (o_orderkey,
    c_nationkey, n_name), is the shuffle_hash build side for the
    lineitem join (the q18 pattern), so lineitem streams through the
    probe instead of being hash-built. Left to the planner, sf0.1 chose
    a BroadcastHashJoin that built all 600k lineitem rows in one task.
    supplier is FACT-PROPORTIONAL too (sf x 10k rows), so its join is
    shuffle_hash as well: never broadcast (the q9-class OOM at 100x),
    and hash-building the uniform supplier side skips the sort of both
    sides a merge join would need. One aggregate of |nations| rows at
    the end; revenue sums exact 1e-4-USD integers with exact_sum_sql
    (per-nation float sums grow with SF).

    One SQL statement on ``sql_on_tables``; hints carry the join pins:
    ``BROADCAST(n), BROADCAST(r)`` in the customer-orders CTE and
    ``SHUFFLE_HASH(co), SHUFFLE_HASH(s)`` on the lineitem joins."""
    rev_4 = exact_sum_sql(
        "CAST(floor(l.l_extendedprice * 100D + 0.5D) AS BIGINT)"
        " * (100 - CAST(floor(l.l_discount * 100D + 0.5D) AS BIGINT))"
    )
    return sql_on_tables(
        spark,
        sf_dir,
        f"""
        WITH cust_orders AS (
            SELECT /*+ BROADCAST(n), BROADCAST(r) */
                   o.o_orderkey, c.c_nationkey, n.n_name
            FROM {{customer}} c
            JOIN {{nation}} n ON c.c_nationkey = n.n_nationkey
            JOIN {{region}} r ON n.n_regionkey = r.r_regionkey
            JOIN {{orders}} o ON o.o_custkey = c.c_custkey
            WHERE r.r_name = 'AMERICA'
        )
        SELECT /*+ SHUFFLE_HASH(co), SHUFFLE_HASH(s) */
               co.n_name AS nation,
               CAST({rev_4} AS DOUBLE) / 10000D AS revenue
        FROM {{lineitem}} l
        JOIN cust_orders co ON l.l_orderkey = co.o_orderkey
        JOIN {{supplier}} s ON s.s_suppkey = l.l_suppkey
                           AND s.s_nationkey = co.c_nationkey
        GROUP BY co.n_name
        """,
    )


@register(
    "events_funnel",
    oracle="""
        WITH e AS (
            SELECT user_id, event_type,
                   CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
            FROM events
        ),
        v AS (
            SELECT user_id, min(sec) FILTER (WHERE event_type = 'view') AS t_view
            FROM e GROUP BY user_id
        ),
        c AS (
            SELECT e.user_id, min(sec) AS t_click
            FROM e JOIN v USING (user_id)
            WHERE event_type = 'click' AND sec > t_view
            GROUP BY e.user_id
        ),
        p AS (
            SELECT e.user_id, min(sec) AS t_purchase
            FROM e JOIN c USING (user_id)
            WHERE event_type = 'purchase' AND sec > t_click
            GROUP BY e.user_id
        )
        SELECT (SELECT count(*) FROM v WHERE t_view IS NOT NULL) AS n_viewed,
               (SELECT count(*) FROM c) AS n_clicked_after,
               (SELECT count(*) FROM p) AS n_purchased_after
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view -> click -> purchase: each stage counts users
    whose first stage-event strictly follows their previous stage's
    first event. Three aggregates chained by joins on user_id — every
    join key is the user, so at scale the whole funnel is user-
    partitioned pipeline work. The per-stage tables hold one row PER
    USER — user-cardinality grows with the corpus, so they are
    shuffle-joined on user_id (same exchange the stage aggregates
    already produce, reused), never force-broadcast (the q5/q9 defect
    class: a per-user frame at 100 TB is hundreds of millions of
    rows)."""
    from parquet_playground_spark.tables import load_table as _lt

    e = _lt(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("sec"),
    )
    v = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("sec"))).alias("t_view")
    )
    c = (
        e.join(v.hint("merge"), "user_id")
        .filter((F.col("event_type") == "click") & (F.col("sec") > F.col("t_view")))
        .groupBy("user_id")
        .agg(F.min("sec").alias("t_click"))
    )
    p = (
        e.join(c.hint("merge"), "user_id")
        .filter(
            (F.col("event_type") == "purchase") & (F.col("sec") > F.col("t_click"))
        )
        .groupBy("user_id")
        .agg(F.min("sec").alias("t_purchase"))
    )
    # single-row stage counts combined in ONE plan (no driver-side
    # counts): each agg yields one row, the cross joins are 1x1x1
    return (
        v.agg(F.count("t_view").alias("n_viewed"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_clicked_after")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchased_after")))
    )


@register(
    "events_retention",
    oracle="""
        WITH e AS (
            SELECT user_id, CAST(ts AS DATE) AS d FROM events
        ),
        cohort AS (
            SELECT user_id, min(d) AS cohort_day FROM e GROUP BY user_id
        )
        SELECT cohort_day,
               CAST(floor(date_diff('day', cohort_day, d) / 7) AS INTEGER)
                   AS week_offset,
               count(DISTINCT e.user_id) AS n_active_users
        FROM e JOIN cohort USING (user_id)
        GROUP BY cohort_day, week_offset
    """,
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity day, distinct
    active users per (cohort, week offset). cohort assignment is a
    min-aggregate on user_id; the activity join is user-keyed and the
    cohort table is one row PER USER — user-cardinality, so it
    shuffle-joins on user_id (reusing the exchange its own aggregate
    produced) rather than force-broadcasting a corpus-scaled frame
    (q5/q9 defect class). The count-distinct shuffles (cohort_day,
    week_offset, user) — at 100 TB this is the standard two-level
    distinct aggregate AQE handles."""
    from parquet_playground_spark.tables import load_table as _lt

    e = _lt(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("d")
    )
    cohort = e.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    return (
        e.join(cohort.hint("merge"), "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.floor(F.datediff(F.col("d"), F.col("cohort_day")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_day", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active_users"))
    )


_JOIN_LATERAL_TOPN_SQL = """
        SELECT o.o_orderkey, t.l_linenumber,
               round(t.l_extendedprice, 4) AS l_extendedprice
        FROM {orders} o,
        LATERAL (SELECT l_linenumber, l_extendedprice FROM {lineitem}
                 WHERE l_orderkey = o.o_orderkey
                 ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) t
        WHERE o.o_orderkey <= 1000
"""


@register(
    "join_lateral_topn",
    oracle=_JOIN_LATERAL_TOPN_SQL.format(orders="orders", lineitem="lineitem"),
)
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row LIMIT — top-2 lineitems
    per order expressed as the SQL standard writes it. Catalyst
    decorrelates the lateral into a join + per-key window (the same
    plan topk_per_group builds by hand), so the per-row subquery never
    executes row-at-a-time; deterministic tie-break on l_linenumber
    keeps both engines' top-2 identical."""
    return sql_on_tables(spark, sf_dir, _JOIN_LATERAL_TOPN_SQL)


_RECURSIVE_CTE_CHAIN_SQL = """
        WITH RECURSIVE chain AS (
            SELECT n_regionkey AS region, n_nationkey AS start_key,
                   n_nationkey AS cur_key, 0 AS depth
            FROM {nation}
            UNION ALL
            SELECT c.region, c.start_key, n.n_nationkey, c.depth + 1
            FROM chain c
            JOIN {nation} n ON n.n_regionkey = c.region
                           AND n.n_nationkey = c.cur_key + 5
        )
        SELECT region, count(*) AS paths, max(depth) AS max_chain
        FROM chain
        GROUP BY region
"""


@register(
    "recursive_cte_chain", oracle=_RECURSIVE_CTE_CHAIN_SQL.format(nation="nation")
)
def recursive_cte_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4.1 WITH RECURSIVE): transitive closure of
    the 'next nation in region' edge (keys step by 5 within a region
    in this corpus). Each iteration is one equi-join of the frontier
    against the edge table — the standard BFS-by-joins shape that
    scales as |frontier| per step, with Catalyst planning every step
    as a broadcast join against the small dimension."""
    return sql_on_tables(spark, sf_dir, _RECURSIVE_CTE_CHAIN_SQL)


@register(
    "q7_volume_shipping",
    oracle="""
        SELECT supp_nation, cust_nation, l_year,
               CAST(sum(CAST(volume_4 AS DECIMAL(38, 0))) AS DOUBLE)
                   / 10000.0 AS revenue
        FROM (
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   year(l.l_shipdate) AS l_year,
                   CAST(floor(l.l_extendedprice * 100.0 + 0.5) AS BIGINT)
                   * (100 - CAST(floor(l.l_discount * 100.0 + 0.5)
                                 AS BIGINT)) AS volume_4
            FROM supplier s
            JOIN lineitem l ON s.s_suppkey = l.l_suppkey
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
            WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
               OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        )
        GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7-shaped: bilateral trade volume between two nations by
    ship year. Both nation dims broadcast with their name filters
    pushed into the scan; the OR-of-pairs predicate prunes after the
    cheap broadcast joins, so the big lineitem⋈orders join only
    shuffles rows from the two nations."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    pair = ["NATION_1", "NATION_2"]
    n1 = F.broadcast(
        n.filter(F.col("n_name").isin(pair)).select(
            F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
        )
    )
    n2 = F.broadcast(
        n.filter(F.col("n_name").isin(pair)).select(
            F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
        )
    )
    joined = (
        s.join(n1, s.s_nationkey == n1.s_nkey)
        .join(li, s.s_suppkey == li.l_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n2, c.c_nationkey == n2.c_nkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    # exact 1e-4-USD integer volume units summed by exact_sum: the
    # per-pair-year float sum grows with SF
    volume_4 = (
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("bigint")
        * (100 - F.floor(F.col("l_discount") * 100.0 + 0.5).cast("bigint"))
    )
    return (
        joined.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            volume_4.alias("volume_4"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            (
                exact_sum(F.col("volume_4")).cast("double") / 10000.0
            ).alias("revenue")
        )
    )


@register(
    "q10_returned_items",
    oracle="""
        SELECT c.c_custkey, c.c_name,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
               n.n_name
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
          AND l.l_returnflag = 'R'
        GROUP BY c.c_custkey, c.c_name, n.n_name
        ORDER BY revenue DESC, c.c_custkey
        LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-shaped: top customers by returned-item revenue in one
    quarter. Date + returnflag filters push to the scans; nation
    broadcasts; top-20 runs as TakeOrderedAndProject with a unique
    custkey tie-break."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q18_large_orders",
    oracle="""
        SELECT c.c_custkey, o.o_orderkey,
               CAST(o.o_orderdate AS DATE) AS orderdate,
               o.o_totalprice,
               round(sum(l.l_quantity), 4) AS total_qty
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey HAVING sum(l_quantity) > 260
        )
        GROUP BY c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
        ORDER BY o.o_totalprice DESC, o.o_orderkey
        LIMIT 100
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18-shaped: customers with very large orders.

    r9 shape: the HAVING subquery's per-order quantity sum IS the
    output's total_qty (the final GROUP BY keys are functionally
    determined by o_orderkey), so lineitem is aggregated ONCE —
    map-side combined, one exchange on l_orderkey — and the survivors
    hash-build into the orders probe (shuffle_hash pin, r10: the
    survivor set is FACT-DERIVED — 100 rows at sf0.1 but linear in
    SF, ~0.07% of orders — so the r9 F.broadcast hint was the same
    never-broadcast-a-fact-proportional-side class q5/q21's pins
    exist to prevent; the shuffle_hash hint keeps the survivors as
    the build side without the planner ever putting full orders
    there, and measured 0.69 vs 0.73/0.80 s broadcast, adjacent
    min-of-5, results collect-identical). The small hit set then
    joins customer with no re-aggregation. The r8 form scanned and
    shuffled lineitem a second time through the semi-join and
    re-summed it in a final aggregate (`git show
    e3d5e8c:plans/r09/q18_large_orders_before.txt`: 4 scans, 2 fact
    exchanges + final-agg exchange); now 1 lineitem scan, no final
    aggregate. total_qty is bit-identical under
    either grouping: l_quantity is integer-valued, so the double sum
    is exact in any accumulation order. One SQL statement on
    ``sql_on_tables``; the ``SHUFFLE_HASH(big)`` hint carries the
    build-side pin."""
    return sql_on_tables(
        spark,
        sf_dir,
        """
        WITH big AS (
            SELECT l_orderkey, sum(l_quantity) AS qty
            FROM {lineitem}
            GROUP BY l_orderkey
            HAVING qty > 260
        )
        SELECT /*+ SHUFFLE_HASH(big) */
               c.c_custkey, o.o_orderkey,
               CAST(o.o_orderdate AS DATE) AS orderdate,
               o.o_totalprice,
               round(big.qty, 4) AS total_qty
        FROM {orders} o
        JOIN big ON big.l_orderkey = o.o_orderkey
        JOIN {customer} c ON c.c_custkey = o.o_custkey
        ORDER BY o.o_totalprice DESC, o.o_orderkey
        LIMIT 100
        """,
    )


_SUBQUERY_EXISTS_SQL = """
        SELECT c_custkey, c_name
        FROM {customer} c
        WHERE EXISTS (SELECT 1 FROM {orders} o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 55000)
          AND NOT EXISTS (SELECT 1 FROM {orders} o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderstatus = 'P')
"""


@register(
    "subquery_exists",
    oracle=_SUBQUERY_EXISTS_SQL.format(customer="customer", orders="orders"),
)
def subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS + NOT EXISTS predicates: Catalyst rewrites them to a
    left-semi and a left-anti join on the correlation key — two
    linear shuffles, never a per-row probe."""
    return sql_on_tables(spark, sf_dir, _SUBQUERY_EXISTS_SQL)


@register(
    "q14_promo_revenue",
    oracle="""
        WITH rows_in AS (
            SELECT CAST(floor(l.l_extendedprice * 100.0 + 0.5) AS BIGINT)
                   * (100 - CAST(floor(l.l_discount * 100.0 + 0.5)
                                 AS BIGINT)) AS rev_4,
                   p.p_type
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
              AND l.l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        )
        SELECT floor(100.0
                     * CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
                                          THEN rev_4 ELSE 0 END
                                     AS DECIMAL(38, 0))) AS DOUBLE)
                     / CAST(sum(CAST(rev_4 AS DECIMAL(38, 0))) AS DOUBLE)
                     * 10000.0 + 0.5) / 10000.0 AS promo_pct,
               count(*) AS n_items
        FROM rows_in
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14-shaped: share of one month's revenue from PROMO
    parts. The date filter pushes to the lineitem scan; one scalar
    aggregate — a single narrow pass over the filtered month.

    Both revenue sums add EXACT integer 1e-4-USD units with
    exact_sum, so the pct is one deterministic
    division of identical integers on both engines, portable-rounded
    — the float-sum form is the class the sf3 screen caught in q19."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    # part is FACT-PROPORTIONAL (sf x 200k rows): pin its join to
    # shuffle (q5/q9 defect class — a forced broadcast OOMs at 100x)
    p = load_table(spark, sf_dir, "part")
    rev_4 = (
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("bigint")
        * (100 - F.floor(F.col("l_discount") * 100.0 + 0.5).cast("bigint"))
    )
    promo_4 = F.when(F.col("p_type") == "PROMO", rev_4).otherwise(F.lit(0))
    return (
        li.join(p.hint("merge"), li.l_partkey == p.p_partkey)
        .agg(
            (
                F.floor(
                    100.0
                    * exact_sum(promo_4).cast("double")
                    / exact_sum(rev_4).cast("double")
                    * 10000.0
                    + 0.5
                )
                / 10000.0
            ).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q19_bracket_predicates",
    oracle="""
        SELECT CAST(sum(CAST(
                   CAST(floor(l.l_extendedprice * 100.0 + 0.5) AS BIGINT)
                   * (100 - CAST(floor(l.l_discount * 100.0 + 0.5)
                                 AS BIGINT))
               AS DECIMAL(38, 0))) AS DOUBLE) / 10000.0 AS revenue,
               count(*) AS n_items
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 1 AND 20)
           OR (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 25
               AND l.l_quantity BETWEEN 10 AND 30)
           OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 35
               AND l.l_quantity BETWEEN 20 AND 40)
    """,
)
def q19_bracket_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q19-shaped: disjunction of conjunctive brackets spanning
    both join sides. Catalyst extracts the common join key AND the
    per-side implied filters (brand IN (...), quantity <= 40) so the
    scans prune before the join — the OR never forces a nested loop.

    Revenue is EXACT: per-row integer cents x integer discount
    points are summed by exact_sum, one final division —
    the sf3 scale screen caught the float-sum form drifting in the
    4th decimal at ~2.2e10 magnitude (summation-order ULP)."""
    li = load_table(spark, sf_dir, "lineitem")
    # part is fact-proportional — shuffle-pinned like q5/q14
    p = load_table(spark, sf_dir, "part")
    j = li.join(p.hint("merge"), li.l_partkey == p.p_partkey)
    bracket = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 40)
        )
    )
    rev_4 = (
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("bigint")
        * (100 - F.floor(F.col("l_discount") * 100.0 + 0.5).cast("bigint"))
    )
    return j.filter(bracket).agg(
        (exact_sum(rev_4).cast("double") / 10000.0).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "events_path_trigrams",
    oracle="""
        WITH ordered AS (
            SELECT user_id, event_type,
                   lead(event_type, 1) OVER w AS t1,
                   lead(event_type, 2) OVER w AS t2
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT event_type || '>' || t1 || '>' || t2 AS path3,
               count(*) AS n
        FROM ordered
        WHERE t1 IS NOT NULL AND t2 IS NOT NULL
        GROUP BY 1
        ORDER BY n DESC, path3
        LIMIT 20
    """,
)
def events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral path mining: the top 3-step event-type sequences
    across users (lead-window n-grams over each user's ordered event
    stream). One shuffle on user_id for the window, then a
    map-combinable count — the same shape at any number of users;
    (ts, event_id) ordering makes the sequence total."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = e.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
    )
    return (
        ordered.filter(F.col("t1").isNotNull() & F.col("t2").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "t1", "t2").alias("path3")
        )
        .groupBy("path3")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "path3")
        .limit(20)
    )


@register(
    "sql_modern_parameterized",
    oracle="""
        SELECT o_orderpriority AS priority,
               count(*) AS n,
               CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5)
                             AS DECIMAL(38, 0))) AS DOUBLE) / 100.0
                   AS total
        FROM orders
        WHERE o_totalprice > 30000 AND o_orderstatus = 'O'
        GROUP BY o_orderpriority
    """,
)
def sql_modern_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern SQL-surface pin, four features in one statement:
    named parameter markers (injection-safe literals), a session
    variable (DECLARE/SET VARIABLE), the IDENTIFIER() clause (safe
    dynamic table reference), and GROUP BY ALL. Semantically identical
    to the literal oracle — the features are about how the query is
    authored, not what it computes."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("param_orders")
    track_temp_view(spark, "param_orders")
    spark.sql("DECLARE OR REPLACE VARIABLE pp_price_thr DOUBLE DEFAULT 0.0")
    track_drop(spark, "DROP TEMPORARY VARIABLE IF EXISTS pp_price_thr")
    spark.sql("SET VARIABLE pp_price_thr = 30000.0")
    total_c = exact_sum_sql("floor(o_totalprice * 100.0 + 0.5)")
    return spark.sql(
        f"""
        SELECT o_orderpriority AS priority,
               count(*) AS n,
               CAST({total_c} AS DOUBLE) / 100.0 AS total
        FROM IDENTIFIER(:tbl)
        WHERE o_totalprice > pp_price_thr AND o_orderstatus = :status
        GROUP BY ALL
        """,
        args={"tbl": "param_orders", "status": "O"},
    )


# ---------------------------------------------------------------------------
# TPC-H completion: every TPC-H query shape expressible on this schema
# (no partsupp table; no commit/receipt dates or ship modes on lineitem
# — q4/q12/q21 substitute "shipped late vs order date" for the
# commit-vs-receipt lateness predicate, same plan shape).


_Q4_SQL = """
        SELECT o_orderpriority, count(*) AS order_count
        FROM {orders} o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1996-07-01'
          AND EXISTS (SELECT 1 FROM {lineitem} l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate)
        GROUP BY o_orderpriority
"""


@register(
    "q4_order_priority", oracle=_Q4_SQL.format(orders="orders", lineitem="lineitem")
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-shaped: orders per priority in one half-year having at
    least one line shipped after the order date. Catalyst rewrites the
    EXISTS to a left-semi join — lineitem never duplicates orders rows
    and the date filter pushes into the orders scan."""
    return sql_on_tables(spark, sf_dir, _Q4_SQL)


@register(
    "q6_forecast_revenue",
    oracle="""
        SELECT CAST(sum(CAST(
                   CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                   * CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)
               AS DECIMAL(38, 0))) AS DOUBLE) / 10000.0 AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.03 AND 0.07
          AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6: pure scan-filter-aggregate revenue forecast. All three
    predicates push to the parquet scan (row-group min/max skipping on
    the date); no shuffle at all beyond the final 1-row reduce — the
    cheapest plan shape in the suite and the canonical pushdown test.
    Revenue sums exact cents x discount points with exact_sum (the
    global float sum grows with SF and drifts past
    the 4-dp grid, the class the sf3 screen caught in q19)."""
    li = load_table(spark, sf_dir, "lineitem")
    rev_4 = (
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("bigint")
        * F.floor(F.col("l_discount") * 100.0 + 0.5).cast("bigint")
    )
    return li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & F.col("l_discount").between(0.03, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        (exact_sum(rev_4).cast("double") / 10000.0).alias("revenue")
    )


@register(
    "q12_late_lines",
    oracle="""
        SELECT l.l_linestatus,
               CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
          AND l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l.l_linestatus
    """,
)
def q12_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q12-shaped: late-shipped lines (> 30 days after the order
    date) per line status, split into high/low-priority counts — the
    conditional-aggregation-over-join pattern. The year filter pushes
    to the lineitem scan; the lateness predicate is a join-time
    residual."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
        )
        .join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAY"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q13_customer_distribution",
    oracle="""
        SELECT c_count, count(*) AS custdist
        FROM (
            SELECT c.c_custkey, count(o.o_orderkey) AS c_count
            FROM customer c
            LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                              AND o.o_orderpriority <> '5-LOW'
            GROUP BY c.c_custkey
        )
        GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13: distribution of customers by order count (excluding
    one priority class via the join condition, so customers with zero
    qualifying orders still appear with c_count = 0 — the LEFT-JOIN-
    with-residual-condition pattern). Two aggregations: the first
    shuffles on custkey, the second on the (tiny) count domain."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "5-LOW"),
            "left",
        )
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q15_top_supplier",
    oracle="""
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   round(sum(l_extendedprice * (1 - l_discount)), 4)
                       AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, r.total_revenue
        FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
        WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15: the quarter's top-revenue supplier via a reused
    subplan (the revenue aggregate feeds both the row stream and the
    max scalar — same reuse shape as plan_cache_reuse). Revenue is
    rounded to 4 decimals BEFORE the max-equality compare so the
    equality is exact on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("total_revenue")
        )
    )
    revenue = track_persist(revenue)
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        s.join(revenue, s.s_suppkey == revenue.supplier_no)
        .crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q17_small_quantity",
    oracle="""
        SELECT CAST(floor(CAST(sum(CAST(floor(l.l_extendedprice * 100.0
                                         + 0.5) AS DECIMAL(38, 0)))
                               AS DOUBLE)
                          / 100.0 / 7.0 * 10000.0 + 0.5) AS DOUBLE)
                   / 10000.0 AS avg_yearly
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#2'
          AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                              FROM lineitem l2
                              WHERE l2.l_partkey = l.l_partkey)
    """,
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17: revenue lost to small-quantity orders of one brand.
    The correlated scalar subquery (per-part average quantity)
    decorrelates into an aggregate joined back on partkey; the brand
    filter broadcasts. The per-part averages are exact in double (small
    integer quantities), so the threshold compare is engine-stable.
    The revenue sum adds exact cents (``exact_sum_sql``) with one
    portable-rounded final division (q1/q19 pattern — the global
    float sum grows with SF)."""
    price_c = exact_sum_sql("floor(l.l_extendedprice * 100.0 + 0.5)")
    return sql_on_tables(
        spark,
        sf_dir,
        f"""
        SELECT CAST(floor(CAST({price_c} AS DOUBLE)
                          / 100.0 / 7.0 * 10000.0 + 0.5) AS DOUBLE)
                   / 10000.0 AS avg_yearly
        FROM {{lineitem}} l JOIN {{part}} p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#2'
          AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                              FROM {{lineitem}} l2
                              WHERE l2.l_partkey = l.l_partkey)
        """,
    )


@register(
    "q21_waiting_supplier",
    oracle="""
        SELECT s.s_name, count(*) AS numwait
        FROM supplier s
        JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        JOIN orders o ON o.o_orderkey = l1.l_orderkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE o.o_orderstatus = 'F'
          AND l1.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
          AND n.n_name = 'NATION_1'
        GROUP BY s.s_name
        ORDER BY numwait DESC, s.s_name
        LIMIT 10
    """,
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q21-shaped: suppliers who were the SOLE late shipper on a
    finished multi-supplier order (lateness = shipped > 30 days after
    the order date on this schema). The ORACLE states the spec as the
    textbook double EXISTS / NOT EXISTS; the implementation rewrites
    it to a single per-order aggregate — (distinct suppliers, late
    suppliers) per order, then "this supplier late AND n_supp >= 2 AND
    n_late = 1" — which reads lineitem TWICE-joined-once instead of
    the three co-shuffled passes Catalyst plans for the decorrelated
    semi+anti (measured ~20% faster at sf0.1, and one fewer
    fact-table shuffle at 100 TB). Supplier and nation broadcast;
    deterministic top-10 with name tie-break."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_1"
    )
    # One hash-partition by l_orderkey feeds BOTH aggregation levels
    # (HashPartitioning(okey) satisfies the clustered distribution of
    # the (okey, skey) group): per-(order, supplier) lateness, then
    # per-order (n_supp, n_late, the-late-supplier) in the same stage.
    # r9: the previous form referenced per_supp twice (filter side +
    # stats side), and Catalyst DUPLICATED the whole lineitem ⋈ orders
    # + aggregate subtree — two fact scans, two fact shuffles, plus a
    # per_supp ⋈ stats join-back (`git show
    # e3d5e8c:plans/r09/q21_waiting_supplier_before.txt`). When
    # n_late = 1 the sole late supplier is max(when(late, skey)), so
    # the join-back and the duplicate subtree both collapse into one
    # aggregation pass: 1 fact scan, 1 fact exchange, 0 self-joins.
    lo = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")
        ).alias("late"),
    )
    per_supp = (
        lo.repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("late").alias("late"))
    )
    cand = (
        per_supp.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.sum(F.col("late").cast("int")).alias("n_late"),
            F.max(F.when(F.col("late"), F.col("l_suppkey"))).alias(
                "l_suppkey"
            ),
        )
        .filter("n_supp >= 2 AND n_late = 1")
    )
    # supplier is fact-proportional (sf x 10k): its nation lookup
    # broadcasts the 25-row nation, but the supplier edge itself is
    # shuffle-pinned — cand is already reduced to the rare
    # one-late-supplier orders, so this join is small-by-small at any
    # SF while never risking a 100x supplier broadcast (q5 class).
    # r9: shuffle_hash instead of merge — same shuffle, no sort of
    # either side (guide §3.1: hash-build the uniform supplier side).
    dim = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    return (
        cand.join(
            dim.hint("shuffle_hash"), cand.l_suppkey == F.col("s_suppkey")
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


@register(
    "q22_idle_rich_customers",
    oracle="""
        SELECT c.c_mktsegment, count(*) AS numcust,
               CAST(sum(CAST(floor(c.c_acctbal * 100.0 + 0.5)
                             AS DECIMAL(38, 0))) AS DOUBLE) / 100.0
                   AS totacctbal
        FROM customer c
        WHERE c.c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                             WHERE c2.c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '1999-01-01')
        GROUP BY c.c_mktsegment
    """,
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22-shaped: above-average-balance customers with no recent
    orders, grouped by market segment (this schema has no phone
    country code, so segment stands in). The uncorrelated scalar
    average broadcasts; the NOT EXISTS becomes a left-anti join
    against the date-filtered orders scan. Balance values sit ~0.01
    apart while cross-engine average drift is ~1e-10 relative, so the
    raw-average threshold compare is stable. The balance total sums
    exact cents with ``exact_sum_sql`` (q1/q19 pattern — the per-segment
    float sum grows with customer count; floor(x*100+0.5) rounds
    half-up toward +inf identically on both engines for the negative
    balances too)."""
    bal_c = exact_sum_sql("floor(c.c_acctbal * 100.0 + 0.5)")
    return sql_on_tables(
        spark,
        sf_dir,
        f"""
        SELECT c.c_mktsegment, count(*) AS numcust,
               CAST({bal_c} AS DOUBLE) / 100.0 AS totacctbal
        FROM {{customer}} c
        WHERE c.c_acctbal > (SELECT avg(c2.c_acctbal) FROM {{customer}} c2
                             WHERE c2.c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM {{orders}} o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '1999-01-01')
        GROUP BY c.c_mktsegment
        """,
    )


@register(
    "sql_pivot_syntax",
    oracle="""
        SELECT o_orderpriority,
               count(*) FILTER (WHERE o_orderstatus = 'O') AS o,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS f,
               count(*) FILTER (WHERE o_orderstatus = 'P') AS p
        FROM orders
        GROUP BY o_orderpriority
    """,
)
def sql_pivot_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIVOT clause (parser surface, distinct from the DataFrame
    groupBy().pivot() path of agg_pivot): status values rotate into
    labeled count columns. Catalyst compiles both paths to the same
    single-shuffle conditional aggregate — pinned by the shared FILTER
    oracle."""
    return sql_on_tables(
        spark,
        sf_dir,
        """
        SELECT * FROM (
            SELECT o_orderpriority, o_orderstatus FROM {orders}
        )
        PIVOT (count(*) FOR o_orderstatus IN ('O' AS o, 'F' AS f, 'P' AS p))
        """,
    )


_COOCCUR_TOPK = 20


@register(
    "part_co_occurrence",
    oracle=f"""
        WITH per_order AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), pairs AS (
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                   count(*) AS n_orders
            FROM per_order a JOIN per_order b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
            GROUP BY a.l_partkey, b.l_partkey
        )
        SELECT part_a, part_b, n_orders, CAST(rnk AS BIGINT) AS rnk
        FROM (
            SELECT *, row_number() OVER (ORDER BY n_orders DESC,
                                         part_a ASC, part_b ASC) AS rnk
            FROM pairs
        )
        WHERE rnk <= {_COOCCUR_TOPK}
    """,
)
def part_co_occurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurrence mining ("frequently bought together"): top part
    pairs sharing an order. The self-join is WITHIN the order key, so
    fan-out per order is bounded by (lines-per-order choose 2) — a
    small constant on this schema — and the join co-shuffles both
    sides on orderkey once; it never approaches |parts|^2. This is the
    item-item co-occurrence stage of a recommender / co-click matrix
    at 100 TB scale, with the same hot-key caveat as
    dedup_ngram_jaccard (a mega-order would need the order-size cap).
    Deterministic top-{_COOCCUR_TOPK} by (count, pair)."""
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.select("l_orderkey", "l_partkey").distinct()
    a = per_order.alias("a")
    b = per_order.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    w = Window.orderBy(
        F.col("n_orders").desc(), F.col("part_a").asc(), F.col("part_b").asc()
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _COOCCUR_TOPK)
        .select("part_a", "part_b", "n_orders",
                F.col("rnk").cast("bigint").alias("rnk"))
    )


@register(
    "agg_pivot_multi",
    oracle="""
        SELECT o_orderpriority,
               count(*) FILTER (WHERE o_orderstatus = 'O') AS O_n,
               CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5)
                             AS DECIMAL(38, 0)))
                    FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) / 100.0
                   AS O_total,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS F_n,
               CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5)
                             AS DECIMAL(38, 0)))
                    FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) / 100.0
                   AS F_total
        FROM orders
        GROUP BY o_orderpriority
    """,
)
def agg_pivot_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with MULTIPLE aggregates per pivot value (count + sum
    rotate together into {value}_{agg} columns) — the general pivot
    shape agg_pivot's single-agg case doesn't cover. Catalyst still
    compiles it to one conditional aggregate over a single shuffle;
    explicit pivot values keep the plan static (no value-discovery
    pre-pass, which is the scalable form — discovery needs its own
    scan)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            # exact cents (exact_sum): per-cell float sums
            # drifted at sf1's ~2.5e10 magnitude
            (
                exact_sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5)).cast("double")
                / 100.0
            ).alias("total"),
        )
    )


@register(
    "customer_rfm_segments",
    oracle="""
        WITH base AS (
            SELECT o_custkey,
                   CAST(max(epoch(o_orderdate) // 86400) AS BIGINT)
                       AS recency_day,
                   count(*) AS frequency,
                   round(sum(o_totalprice), 2) AS monetary
            FROM orders GROUP BY o_custkey
        )
        SELECT o_custkey, recency_day, frequency, monetary,
               CAST(ntile(4) OVER (ORDER BY recency_day, o_custkey) AS BIGINT)
                   AS r_score,
               CAST(ntile(4) OVER (ORDER BY frequency, o_custkey) AS BIGINT)
                   AS f_score,
               CAST(ntile(4) OVER (ORDER BY monetary, o_custkey) AS BIGINT)
                   AS m_score
        FROM base
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency/frequency/monetary
    quartile scores — the classic lifecycle-marketing rollup. The
    heavy pass is one map-combinable aggregate of orders. The three
    quartile assignments are computed WITHOUT a single-partition ntile
    sort (r5 VERDICT wrong-shape #2): each metric gets an exact
    distributed global rank via the bucket two-pass in
    ``operators/distrank.py`` (within-bucket row_number + broadcast
    bucket offsets), and ntile(4) is re-derived arithmetically from
    (rank, n) — buckets of size ceil(n/4) first, floor(n/4) after,
    which is exactly SQL ntile's split. Every order is (metric,
    custkey) so quartile boundaries stay engine-deterministic (§7.3
    rule 4); the oracle keeps the ntile window form."""
    o = load_table(spark, sf_dir, "orders")
    base = o.groupBy("o_custkey").agg(
        F.max(
            F.floor(F.unix_timestamp(F.col("o_orderdate")) / 86400).cast(
                "bigint"
            )
        ).alias("recency_day"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    d = global_rank(base, "recency_day", ["o_custkey"], rank_col="__rk_r")
    d = global_rank(d, "frequency", ["o_custkey"], rank_col="__rk_f")
    d = global_rank(d, "monetary", ["o_custkey"], rank_col="__rk_m")
    n_df = base.agg(F.count(F.lit(1)).alias("__n"))
    d = d.crossJoin(F.broadcast(n_df))
    n = F.col("__n")
    return d.select(
        "o_custkey",
        "recency_day",
        "frequency",
        "monetary",
        ntile_from_rank(F.col("__rk_r"), n, 4).alias("r_score"),
        ntile_from_rank(F.col("__rk_f"), n, 4).alias("f_score"),
        ntile_from_rank(F.col("__rk_m"), n, 4).alias("m_score"),
    )


@register(
    "pareto_abc_classes",
    oracle="""
        WITH rev AS (
            SELECT l_partkey, round(sum(l_extendedprice), 2) AS revenue
            FROM lineitem GROUP BY l_partkey
        ), revd AS (
            SELECT l_partkey, revenue,
                   CAST(revenue AS DECIMAL(18,2)) AS rev_c
            FROM rev
        ), tot AS (SELECT sum(rev_c) AS total FROM revd),
        ranked AS (
            SELECT r.l_partkey, r.revenue,
                   round(CAST(sum(r.rev_c)
                              OVER (ORDER BY r.revenue DESC,
                                    r.l_partkey ASC
                                    ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                         / CAST(t.total AS DOUBLE), 6) AS cum_share
            FROM revd r CROSS JOIN tot t
        )
        SELECT l_partkey, revenue, cum_share,
               CASE WHEN cum_share <= 0.8 THEN 'A'
                    WHEN cum_share <= 0.95 THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM ranked
    """,
)
def pareto_abc_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC classification: parts ranked by revenue with
    cumulative share, classed A (top 80% of revenue), B (next 15%), C
    (tail) — the inventory-prioritization rollup. Revenue aggregates
    map-side. The cumulative sum is computed WITHOUT a single-partition
    window (r5 VERDICT wrong-shape #2): the bucket two-pass prefix sum
    in ``operators/distrank.py`` (within-bucket running sum + broadcast
    bucket mass offsets) in exact DECIMAL cents — exact arithmetic on
    BOTH engines makes the result independent of fold association, so
    the decomposed Spark sum hash-matches DuckDB's sequential window
    fold. Unique (revenue DESC, partkey ASC) order on both sides."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("revenue")
    )
    revd = rev.withColumn("rev_c", F.col("revenue").cast("decimal(18,2)"))
    tot = revd.agg(F.sum("rev_c").alias("total"))
    ranked = global_prefix_sum(
        revd,
        "revenue",
        ["l_partkey"],
        F.col("rev_c"),
        ascending=False,
        sum_col="__cum",
    )
    ranked = ranked.crossJoin(F.broadcast(tot)).select(
        "l_partkey",
        "revenue",
        F.round(
            F.col("__cum").cast("double") / F.col("total").cast("double"), 6
        ).alias("cum_share"),
    )
    return ranked.select(
        "l_partkey",
        "revenue",
        "cum_share",
        F.when(F.col("cum_share") <= 0.8, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


_AB_CONV_TYPE = "purchase"


@register(
    "events_ab_test_lift",
    oracle=f"""
        WITH assign AS (
            SELECT user_id,
                   CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),
                               1, 8)) AS BIGINT) % 2 AS variant,
                   max(CASE WHEN event_type = '{_AB_CONV_TYPE}'
                            THEN 1 ELSE 0 END) AS converted
            FROM events
            GROUP BY user_id
        )
        SELECT CAST(variant AS BIGINT) AS variant,
               count(*) AS n_users,
               CAST(sum(converted) AS BIGINT) AS n_converted,
               round(CAST(sum(converted) AS DOUBLE) / count(*), 6)
                   AS conversion_rate
        FROM assign
        GROUP BY variant
    """,
)
def events_ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users deterministically assigned to two
    variants by md5 hash (the same engine/run/retry-stable assignment
    rule as sample_hash_deterministic — randomized assignment that is
    still reproducible is the whole trick of online experimentation),
    then per-variant conversion to '{_AB_CONV_TYPE}'. Two
    map-combinable aggregates, both shuffling only user-level rows."""
    e = load_table(spark, sf_dir, "events")
    variant = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
        ).cast("bigint")
        % 2
    )
    assign = e.groupBy("user_id").agg(
        F.first(variant).alias("variant"),
        F.max(
            F.when(F.col("event_type") == _AB_CONV_TYPE, 1).otherwise(0)
        ).alias("converted"),
    )
    return assign.groupBy(F.col("variant").cast("bigint").alias("variant")).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_converted"),
        F.round(
            F.sum("converted").cast("double") / F.count(F.lit(1)), 6
        ).alias("conversion_rate"),
    )


@register(
    "sql_inline_values_dim",
    oracle="""
        SELECT v.label, count(*) AS n,
               CAST(sum(CAST(floor(o.o_totalprice * 100.0 + 0.5)
                             AS DECIMAL(38, 0))) AS DOUBLE) / 100.0 AS total
        FROM orders o
        JOIN (VALUES ('O', 'open'), ('F', 'finished'), ('P', 'pending'))
             AS v(code, label)
          ON o.o_orderstatus = v.code
        GROUP BY v.label
    """,
)
def sql_inline_values_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline VALUES table as a join dimension: the code→label mapping
    lives in the query text (no file, no temp table) — how small
    lookup dims ship inside production SQL. Catalyst plans the
    LocalRelation as a broadcast build side automatically; the fact
    scan is the only I/O."""
    total_c = exact_sum_sql("floor(o.o_totalprice * 100.0 + 0.5)")
    return sql_on_tables(
        spark,
        sf_dir,
        f"""
        SELECT v.label, count(*) AS n,
               CAST({total_c} AS DOUBLE) / 100.0 AS total
        FROM {{orders}} o
        JOIN VALUES ('O', 'open'), ('F', 'finished'), ('P', 'pending')
             AS v(code, label)
          ON o.o_orderstatus = v.code
        GROUP BY v.label
        """,
    )


@register(
    "graph_pagerank_power",
    oracle="""
        WITH li AS (
            SELECT DISTINCT l_orderkey AS o, l_partkey AS p
            FROM lineitem WHERE l_orderkey <= 20000
        ),
        edges AS (
            SELECT DISTINCT a.p AS src, b.p AS dst
            FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p
        ),
        deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
        n AS (SELECT count(*) AS nn FROM deg),
        r0 AS (SELECT src AS node, 1.0::DOUBLE / nn AS r
               FROM deg CROSS JOIN n),
        s1 AS (SELECT e.dst AS node, sum(r.r / d.d) AS s
               FROM edges e JOIN r0 r ON e.src = r.node
               JOIN deg d ON e.src = d.src GROUP BY e.dst),
        r1 AS (SELECT node, 0.15::DOUBLE / nn + 0.85 * s AS r
               FROM s1 CROSS JOIN n),
        s2 AS (SELECT e.dst AS node, sum(r.r / d.d) AS s
               FROM edges e JOIN r1 r ON e.src = r.node
               JOIN deg d ON e.src = d.src GROUP BY e.dst),
        r2 AS (SELECT node, 0.15::DOUBLE / nn + 0.85 * s AS r
               FROM s2 CROSS JOIN n),
        s3 AS (SELECT e.dst AS node, sum(r.r / d.d) AS s
               FROM edges e JOIN r2 r ON e.src = r.node
               JOIN deg d ON e.src = d.src GROUP BY e.dst),
        r3 AS (SELECT node, 0.15::DOUBLE / nn + 0.85 * s AS r
               FROM s3 CROSS JOIN n)
        SELECT node AS part, round(r, 6) AS rank3 FROM r3
    """,
)
def graph_pagerank_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, 3 power iterations (d=0.85) over the symmetric
    part-co-purchase graph — the canonical iterative-algorithm shape
    on Spark beyond connected components (dedup_clusters): each
    iteration is contribution-join + sum-aggregate, both keyed on the
    node, so the whole loop is co-shuffled on one key. The edge set
    (with out-degrees attached) is persisted once and reused by every
    iteration; ranks stay a |nodes|-sized dataframe. In the
    symmetrized graph every node has in- and out-edges, so the
    dangling-mass correction is identically zero and the oracle's
    unrolled three-CTE recurrence is exact. Fixed iteration count
    keeps it engine-portable (convergence thresholds would need
    driver-side floats).

    Rank magnitudes ~1/N; round(...,6) leaves ~3 significant digits
    of slack over double accumulation-order noise."""
    # r9: the distinct (order, part) projection persists — the edge
    # self-join reads it on BOTH sides, and without materialization
    # each side re-scans lineitem.
    li = track_persist(
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 20000)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") != F.col("b.p")))
        .select(F.col("a.p").alias("src"), F.col("b.p").alias("dst"))
        .distinct()
    )
    # r9: deg persists too — n (re-broadcast per iteration) and the
    # r0 init reference it, and without materialization each reference
    # re-plans the whole lineitem self-join subtree (runtime exchange
    # reuse covers much of the re-execution; the persist makes the
    # single computation a guarantee rather than a plan-matching
    # accident, at |parts|-row cost). Wall time flat at sf0.1.
    deg = track_persist(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    )
    edges_deg = track_persist(edges.join(deg, "src"))
    n = deg.agg(F.count(F.lit(1)).alias("nn"))
    ranks = deg.crossJoin(F.broadcast(n)).select(
        F.col("src").alias("node"), (F.lit(1.0) / F.col("nn")).alias("r")
    )
    for _ in range(3):
        contrib = (
            edges_deg.join(ranks, edges_deg.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.col("r") / F.col("d")).alias("s"))
        )
        ranks = contrib.crossJoin(F.broadcast(n)).select(
            F.col("dst").alias("node"),
            (F.lit(0.15) / F.col("nn") + F.lit(0.85) * F.col("s")).alias("r"),
        )
    return ranks.select(
        F.col("node").alias("part"), F.round("r", 6).alias("rank3")
    )


@register(
    "graph_triangle_count",
    oracle="""
        WITH li AS (
            SELECT DISTINCT l_orderkey AS o, l_partkey AS p
            FROM lineitem WHERE l_orderkey <= 10000
        ),
        edges AS (
            SELECT DISTINCT a.p AS src, b.p AS dst
            FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p
        ),
        deg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY src),
        oriented AS (
            SELECT e.src, e.dst, dd.d AS dst_d
            FROM edges e
            JOIN deg ds ON e.src = ds.node
            JOIN deg dd ON e.dst = dd.node
            WHERE (ds.d, e.src) < (dd.d, e.dst)
        ),
        wedges AS (
            SELECT a.dst AS y, b.dst AS z
            FROM oriented a JOIN oriented b
              ON a.src = b.src
             AND (a.dst_d, a.dst) < (b.dst_d, b.dst)
        ),
        tri AS (
            SELECT 1 FROM wedges w
            JOIN oriented c ON c.src = w.y AND c.dst = w.z
        )
        SELECT (SELECT count(*) FROM wedges) AS n_wedges,
               (SELECT count(*) FROM tri) AS n_triangles
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting with degree orientation — the trick that makes
    triangle enumeration feasible at scale: orient every undirected
    edge from its lower-(degree, id) endpoint to the higher one, so
    each triangle is generated by exactly ONE wedge at its
    lowest-degree corner and hub nodes never enumerate their O(d^2)
    neighbor pairs (out-degree under this orientation is O(sqrt(|E|))
    for any degree distribution). Wedges then close via one hash join
    back to the oriented edge list — no DISTINCT-triple dedup pass.

    The oracle runs the identical orientation in SQL; the row-value
    tuple compare is spelled as a boolean in Spark. Output is the
    global wedge/triangle census (the clustering-coefficient
    numerator)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 10000)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") != F.col("b.p")))
        .select(F.col("a.p").alias("src"), F.col("b.p").alias("dst"))
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d")).withColumnRenamed("src", "node")
    oriented = (
        edges.join(deg.withColumnsRenamed({"node": "src", "d": "src_d"}), "src")
        .join(deg.withColumnsRenamed({"node": "dst", "d": "dst_d"}), "dst")
        .filter(
            (F.col("src_d") < F.col("dst_d"))
            | ((F.col("src_d") == F.col("dst_d")) & (F.col("src") < F.col("dst")))
        )
        .select("src", "dst", "dst_d")
    )
    oriented = track_persist(oriented)
    wa, wb = oriented.alias("wa"), oriented.alias("wb")
    wedges = wa.join(
        wb,
        (F.col("wa.src") == F.col("wb.src"))
        & (
            (F.col("wa.dst_d") < F.col("wb.dst_d"))
            | (
                (F.col("wa.dst_d") == F.col("wb.dst_d"))
                & (F.col("wa.dst") < F.col("wb.dst"))
            )
        ),
    ).select(F.col("wa.dst").alias("y"), F.col("wb.dst").alias("z"))
    wedges = track_persist(wedges)
    closer = oriented.select(
        F.col("src").alias("y"), F.col("dst").alias("z")
    )
    tri = wedges.join(closer, ["y", "z"])
    return wedges.agg(F.count(F.lit(1)).alias("n_wedges")).crossJoin(
        tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    )


@register(
    "q8_market_share",
    oracle="""
        WITH flat AS (
            SELECT extract(year FROM o.o_orderdate) AS o_year,
                   CAST(floor(l.l_extendedprice * 100.0 + 0.5) AS BIGINT)
                   * (100 - CAST(floor(l.l_discount * 100.0 + 0.5)
                                 AS BIGINT)) AS volume_4,
                   n2.n_name AS supp_nation
            FROM lineitem l
            JOIN part p ON p.p_partkey = l.l_partkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
            JOIN region r ON r.r_regionkey = n1.n_regionkey
            JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
            WHERE r.r_name = 'ASIA'
              AND p.p_type = 'PROMO'
              AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
              AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        )
        SELECT o_year,
               floor(CAST(sum(CAST(CASE WHEN supp_nation = 'NATION_7'
                                        THEN volume_4 ELSE 0 END
                                   AS DECIMAL(38, 0))) AS DOUBLE)
                     / CAST(sum(CAST(volume_4 AS DECIMAL(38, 0)))
                            AS DOUBLE)
                     * 10000.0 + 0.5) / 10000.0 AS mkt_share,
               count(*) AS n_items
        FROM flat GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q8-shaped national market share: NATION_7's slice of
    PROMO-part volume sold into ASIA-region customers, per order year
    (the last partsupp-free TPC-H query; q2/q9/q11/q16/q20 need the
    partsupp table the testdata doesn't ship).

    Plan: the two selective filters (p_type, region membership) reach
    their scans; nation/region broadcast (constant 25/5 rows), but
    part, supplier and customer are FACT-PROPORTIONAL (sf x 200k /
    10k / 150k rows), so their edges are shuffle-pinned with merge
    hints (q5/q9 defect class — forced broadcasts of sf-scaled frames
    OOM at 100x); the CASE'd ratio folds into one hash aggregate by
    year."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust_region = (
        c.join(
            F.broadcast(n.withColumnsRenamed({"n_nationkey": "nk1"})),
            F.col("c_nationkey") == F.col("nk1"),
        )
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    supp_nation = s.join(
        F.broadcast(
            n.select(
                F.col("n_nationkey").alias("nk2"),
                F.col("n_name").alias("supp_nation"),
            )
        ),
        F.col("s_nationkey") == F.col("nk2"),
    ).select("s_suppkey", "supp_nation")
    # exact 1e-4-USD integer volume, exact_sum sums, one final
    # portable-rounded division
    volume_4 = (
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("bigint")
        * (100 - F.floor(F.col("l_discount") * 100.0 + 0.5).cast("bigint"))
    )
    flat = (
        li.join(p.hint("merge"), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(cust_region.hint("merge"), o.o_custkey == F.col("c_custkey"))
        .join(supp_nation.hint("merge"), li.l_suppkey == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            volume_4.alias("volume_4"),
            "supp_nation",
        )
    )
    num_4 = F.when(
        F.col("supp_nation") == "NATION_7", F.col("volume_4")
    ).otherwise(F.lit(0))
    return flat.groupBy("o_year").agg(
        (
            F.floor(
                exact_sum(num_4).cast("double")
                / exact_sum(F.col("volume_4")).cast("double")
                * 10000.0
                + 0.5
            )
            / 10000.0
        ).alias("mkt_share"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "sql_lateral_view_syntax",
    oracle="""
        WITH words AS (
            SELECT lang, unnest(string_split(text, ' ')) AS w
            FROM documents
        )
        SELECT lang, count(*) AS n_words, count(DISTINCT w) AS n_distinct
        FROM words GROUP BY lang
    """,
)
def sql_lateral_view_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL VIEW explode — the HiveQL generator syntax (parser
    path distinct from DataFrame .select(explode(...)), same Generate
    plan; the SQL-authoring twin of sql_pivot_syntax). Per-language
    token totals keep the output dimension-sized."""
    return sql_on_tables(
        spark,
        sf_dir,
        """
        SELECT lang, count(*) AS n_words, count(DISTINCT w) AS n_distinct
        FROM {documents} LATERAL VIEW explode(split(text, ' ')) t AS w
        GROUP BY lang
        """,
    )


@register(
    "sql_create_replace_view",
    oracle="""
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5)
                             AS DECIMAL(38, 0))) AS DOUBLE) / 100.0 AS total
        FROM orders WHERE o_totalprice > 200000
        GROUP BY o_orderpriority
    """,
)
def sql_create_replace_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View DDL surface: CREATE OR REPLACE TEMPORARY VIEW, twice — the
    query must see the SECOND definition (threshold 200000), pinning
    that REPLACE actually replaces. Views are unmaterialized named
    subqueries: the filter still pushes through them to the scan.
    Money sums as exact integer cents (q1/q19 pattern; the sf10 sweep
    caught the float sum drifting at ~6e11 per group)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("pp_view_src")
    track_temp_view(spark, "pp_view_src")
    spark.sql(
        """CREATE OR REPLACE TEMPORARY VIEW pp_hot_orders AS
           SELECT * FROM pp_view_src WHERE o_totalprice > 100000"""
    )
    spark.sql(
        """CREATE OR REPLACE TEMPORARY VIEW pp_hot_orders AS
           SELECT * FROM pp_view_src WHERE o_totalprice > 200000"""
    )
    track_temp_view(spark, "pp_hot_orders")
    total_c = exact_sum_sql("floor(o_totalprice * 100.0 + 0.5)")
    return spark.sql(
        f"""SELECT o_orderpriority, count(*) AS n,
                   CAST({total_c} AS DOUBLE) / 100.0 AS total
            FROM pp_hot_orders GROUP BY o_orderpriority"""
    )


@register(
    "kpi_yoy_growth",
    oracle="""
        WITH m AS (
            SELECT extract(year FROM o_orderdate) AS yr,
                   extract(month FROM o_orderdate) AS mo,
                   sum(CAST(floor(o_totalprice * 100.0 + 0.5)
                            AS DECIMAL(38, 0))) AS rev_c
            FROM orders GROUP BY 1, 2
        )
        SELECT a.yr, a.mo,
               CAST(a.rev_c AS DOUBLE) / 100.0 AS revenue,
               floor(100.0 * CAST(a.rev_c - b.rev_c AS DOUBLE)
                     / CAST(b.rev_c AS DOUBLE) * 100.0 + 0.5) / 100.0
                   AS yoy_pct
        FROM m a LEFT JOIN m b ON b.yr = a.yr - 1 AND b.mo = a.mo
    """,
)
def kpi_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year monthly revenue growth — the KPI readout every
    reporting layer runs. Computed as a self-EQUI-join of the monthly
    aggregate on (year-1, month) rather than a lag(12) global window:
    the aggregate is |months| rows, the join shuffles that tiny set,
    and months missing a prior year surface NULL growth (lag(12)
    would silently mis-align across gaps)."""
    o = load_table(spark, sf_dir, "orders")
    # exact integer cents (exact_sum — per-month sums reach ~1e11
    # at sf10, past the 2-dp double grid); the growth ratio rounds via
    # the portable floor convention (SURVEY §7.3 rule 1b)
    price_c = F.floor(F.col("o_totalprice") * 100.0 + 0.5)
    m = o.groupBy(
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
    ).agg(exact_sum(price_c).alias("rev_c"))
    a, b = m.alias("a"), m.alias("b")
    j = a.join(
        b,
        (F.col("b.yr") == F.col("a.yr") - 1) & (F.col("b.mo") == F.col("a.mo")),
        "left",
    )
    pct_raw = (
        100.0
        * (F.col("a.rev_c") - F.col("b.rev_c")).cast("double")
        / F.col("b.rev_c").cast("double")
    )
    return j.select(
        F.col("a.yr").alias("yr"),
        F.col("a.mo").alias("mo"),
        (F.col("a.rev_c").cast("double") / 100.0).alias("revenue"),
        (F.floor(pct_raw * 100.0 + 0.5) / 100.0).alias("yoy_pct"),
    )


@register(
    "customer_cohort_ltv",
    oracle="""
        WITH firsts AS (
            SELECT o_custkey,
                   min(extract(year FROM o_orderdate)) AS cohort
            FROM orders GROUP BY 1
        ),
        rev AS (
            SELECT o_custkey, extract(year FROM o_orderdate) AS yr,
                   sum(CAST(floor(o_totalprice * 100.0 + 0.5)
                            AS DECIMAL(38, 0))) AS rev_c
            FROM orders GROUP BY 1, 2
        ),
        cell AS (
            SELECT f.cohort, r.yr - f.cohort AS offset_yrs,
                   sum(r.rev_c) AS rev_c,
                   count(DISTINCT r.o_custkey) AS n_cust
            FROM rev r JOIN firsts f USING (o_custkey)
            GROUP BY 1, 2
        )
        SELECT cohort, offset_yrs,
               CAST(rev_c AS DOUBLE) / 100.0 AS revenue,
               CAST(sum(rev_c) OVER (
                   PARTITION BY cohort ORDER BY offset_yrs
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS DOUBLE) / 100.0 AS cum_revenue,
               n_cust
        FROM cell
    """,
)
def customer_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix: customers grouped by first-order
    year, revenue accumulated by years-since-acquisition — the
    revenue twin of events_retention's distinct-actives matrix. Two
    map-combinable aggregates (per customer-year, then per cohort
    cell) and a window over the |cohorts| x |offsets| matrix; the
    customer-sized first-order aggregate joins on the key both sides
    already shuffle on. Revenue accumulates as exact integer cents
    (exact_sum — the sf10 sweep caught the twice-summed float
    flipping its 2nd decimal at ~1.9e12 cumulative magnitudes)."""
    o = load_table(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    price_c = F.floor(F.col("o_totalprice") * 100.0 + 0.5)
    firsts = o.groupBy("o_custkey").agg(F.min(yr).alias("cohort"))
    rev = o.groupBy("o_custkey", yr.alias("yr")).agg(
        exact_sum(price_c).alias("rev_c")
    )
    cell = (
        rev.join(firsts, "o_custkey")
        .groupBy("cohort", (F.col("yr") - F.col("cohort")).alias("offset_yrs"))
        .agg(
            F.sum("rev_c").alias("rev_c"),
            F.count_distinct("o_custkey").alias("n_cust"),
        )
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("offset_yrs")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cell.select(
        "cohort",
        "offset_yrs",
        (F.col("rev_c").cast("double") / 100.0).alias("revenue"),
        (F.sum("rev_c").over(w).cast("double") / 100.0).alias("cum_revenue"),
        "n_cust",
    )


@register(
    "events_attribution_touch",
    oracle="""
        WITH ordered AS (
            SELECT event_type, value, epoch_us(ts) AS t,
                   last_value(CASE WHEN event_type <> 'purchase'
                                   THEN event_type END IGNORE NULLS)
                       OVER w AS touch_type,
                   last_value(CASE WHEN event_type <> 'purchase'
                                   THEN epoch_us(ts) END IGNORE NULLS)
                       OVER w AS touch_t
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        )
        SELECT CASE WHEN touch_t IS NULL
                         OR t - touch_t > 1800 * 1000000
                    THEN 'direct' ELSE touch_type END AS channel,
               count(*) AS n_purchases,
               round(sum(value), 2) AS attributed_value
        FROM ordered
        WHERE event_type = 'purchase'
        GROUP BY 1
    """,
)
def events_attribution_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase is credited to
    the user's most recent non-purchase event within a 30-minute
    lookback ('direct' when none) — the conversion-credit query every
    growth team runs. One window per user (last_value IGNORE NULLS over
    preceding rows) carries the candidate touch alongside the stream,
    so attribution is a single shuffle on user_id with no self-join —
    the same plan at 100 TB, since state per row is O(1). µs-epoch
    ordering + event_id tie-break keeps the window engine-exact."""
    e = load_table(spark, sf_dir, "events")
    t = F.unix_micros("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(t, "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    not_purchase = F.col("event_type") != "purchase"
    ordered = e.select(
        "event_type",
        "value",
        t.alias("t"),
        F.last(
            F.when(not_purchase, F.col("event_type")), ignorenulls=True
        ).over(w).alias("touch_type"),
        F.last(F.when(not_purchase, t), ignorenulls=True).over(w).alias(
            "touch_t"
        ),
    )
    channel = F.when(
        F.col("touch_t").isNull()
        | (F.col("t") - F.col("touch_t") > 1800 * 1_000_000),
        "direct",
    ).otherwise(F.col("touch_type"))
    return (
        ordered.where(F.col("event_type") == "purchase")
        .groupBy(channel.alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("attributed_value"),
        )
    )


@register(
    "events_heatmap_hour_dow",
    oracle="""
        SELECT CAST(hour(ts) AS BIGINT) AS hour_of_day,
               count(*) FILTER (WHERE isodow(ts) = 1) AS mon,
               count(*) FILTER (WHERE isodow(ts) = 2) AS tue,
               count(*) FILTER (WHERE isodow(ts) = 3) AS wed,
               count(*) FILTER (WHERE isodow(ts) = 4) AS thu,
               count(*) FILTER (WHERE isodow(ts) = 5) AS fri,
               count(*) FILTER (WHERE isodow(ts) = 6) AS sat,
               count(*) FILTER (WHERE isodow(ts) = 7) AS sun
        FROM events
        GROUP BY hour(ts)
    """,
)
def events_heatmap_hour_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day × day-of-week activity heatmap — the dashboard
    matrix behind every 'when are users active' panel. Pivot on the
    weekday with a pinned value list, so Catalyst compiles it to ONE
    hash aggregate of 24 groups with 7 conditional counts (identical
    plan to the oracle's FILTER clauses): single scan, single tiny
    shuffle at any data size. Spark weekday() (0=Mon) maps to DuckDB
    isodow() (1=Mon) via the pinned name list."""
    e = load_table(spark, sf_dir, "events")
    days = ["mon", "tue", "wed", "thu", "fri", "sat", "sun"]
    named = e.select(
        F.hour("ts").cast("bigint").alias("hour_of_day"),
        F.element_at(F.array(*[F.lit(d) for d in days]),
                     F.weekday("ts") + 1).alias("dow"),
    )
    return (
        named.groupBy("hour_of_day")
        .pivot("dow", days)
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


@register(
    "skyline_dominance",
    oracle="""
        WITH pts AS (
            SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
        ),
        scanned AS (
            SELECT o_orderkey, o_totalprice, o_orderdate,
                   max(o_orderdate) OVER (
                       ORDER BY o_totalprice DESC, o_orderdate DESC,
                                o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS best_date_so_far
            FROM pts
        )
        SELECT o_orderkey, round(o_totalprice, 2) AS totalprice, o_orderdate
        FROM scanned
        WHERE best_date_so_far IS NULL OR o_orderdate > best_date_so_far
    """,
)
def skyline_dominance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto-front) query: orders not dominated on
    (totalprice, orderdate) — maximize both; a point survives iff no
    other order has >= price AND >= date with one strict. The classic
    sort-scan algorithm as ONE window: sort by price desc and keep a
    running max of date; a point is on the skyline exactly when its
    date beats every better-priced point's date. O(n log n), computed
    WITHOUT a single-partition sort: the distrank bucket two-pass
    (within-bucket exclusive running max + broadcast per-bucket max
    offsets) — max is association-free, so the decomposition is exact,
    and the frame stays distributed at any order count. The (price
    desc, date desc, key) ordering also settles price ties identically
    in both engines."""
    o = load_table(spark, sf_dir, "orders")
    scanned = global_running_agg(
        o.select("o_orderkey", "o_totalprice", "o_orderdate"),
        "o_totalprice",
        [F.col("o_orderdate").desc(), F.col("o_orderkey").asc()],
        F.col("o_orderdate"),
        agg="max",
        ascending=False,
        inclusive=False,
        out_col="best_date_so_far",
    )
    return scanned.where(
        F.col("best_date_so_far").isNull()
        | (F.col("o_orderdate") > F.col("best_date_so_far"))
    ).select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("totalprice"),
        "o_orderdate",
    )


@register(
    "events_seq_pattern",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type, epoch_us(ts) AS t,
                   lead(event_type, 1) OVER w AS t1,
                   lead(event_type, 2) OVER w AS t2,
                   lead(epoch_us(ts), 1) OVER w AS ts1,
                   lead(epoch_us(ts), 2) OVER w AS ts2
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        )
        SELECT user_id, count(*) AS n_matches
        FROM seq
        WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
              AND ts1 - t <= CAST(86400000000 AS BIGINT)
              AND ts2 - ts1 <= CAST(86400000000 AS BIGINT)
        GROUP BY user_id
    """,
)
def events_seq_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern detection (MATCH_RECOGNIZE-lite): count
    strictly consecutive view -> click -> purchase runs per user with
    each step within a day — the conversion-path primitive. Two
    leads over one per-user window: O(1) state per row, one shuffle on
    user_id, no self-joins — the same cost as reading the stream once,
    at any scale. Spark has no MATCH_RECOGNIZE; fixed-length adjacent
    patterns compile exactly to lead() chains like this (arbitrary
    regex-over-rows would go to applyInPandas, registered separately
    as the stateful escape hatch)."""
    e = load_table(spark, sf_dir, "events")
    t = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy(t, "event_id")
    seq = e.select(
        "user_id",
        "event_type",
        t.alias("t"),
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
        F.lead(t, 1).over(w).alias("ts1"),
        F.lead(t, 2).over(w).alias("ts2"),
    )
    day_us = 86400 * 1_000_000
    return (
        seq.where(
            (F.col("event_type") == "view")
            & (F.col("t1") == "click")
            & (F.col("t2") == "purchase")
            & (F.col("ts1") - F.col("t") <= day_us)
            & (F.col("ts2") - F.col("ts1") <= day_us)
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )


@register(
    "basket_association_lift",
    oracle="""
        -- Brand-BITMASK formulation (r8 VERDICT item 5): the naive
        -- distinct-(order, brand) self-join materializes ~1.2e9
        -- intermediate pairs at sf100 and ground past a 75 GB DuckDB
        -- cap with spill still climbing at 37 GB (BENCH_local.md r8).
        -- Brand cardinality is ~25 < 64, so each order's basket
        -- collapses losslessly to one UBIGINT bit_or mask (idempotent
        -- — no DISTINCT pass needed), orders collapse to
        -- |distinct masks| rows, and the pair/support expansion runs
        -- over masks x 25 brands instead of per-order pairs. Joint,
        -- support, and order counts are provably identical; the
        -- float expressions are byte-identical to the previous
        -- oracle text.
        WITH brands AS (
            SELECT brand,
                   CAST(row_number() OVER (ORDER BY brand) - 1 AS BIGINT)
                       AS idx
            FROM (SELECT DISTINCT p_brand AS brand FROM part)
        ),
        masks AS (
            SELECT l.l_orderkey AS okey,
                   bit_or(CAST(1 AS UBIGINT) << br.idx) AS bm
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            JOIN brands br ON br.brand = p.p_brand
            GROUP BY l.l_orderkey
        ),
        mask_counts AS (
            SELECT bm, count(*) AS cnt FROM masks GROUP BY bm
        ),
        n AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n_orders
              FROM mask_counts),
        supp AS (
            SELECT b.brand, CAST(sum(mc.cnt) AS DOUBLE) AS s
            FROM mask_counts mc
            JOIN brands b ON (mc.bm >> b.idx) & 1 = 1
            GROUP BY b.brand
        ),
        pairs AS (
            SELECT ba.brand AS brand_a, bb.brand AS brand_b,
                   CAST(sum(mc.cnt) AS DOUBLE) AS joint
            FROM mask_counts mc
            JOIN brands ba ON (mc.bm >> ba.idx) & 1 = 1
            JOIN brands bb ON (mc.bm >> bb.idx) & 1 = 1
                          AND ba.brand < bb.brand
            GROUP BY ba.brand, bb.brand
            HAVING sum(mc.cnt) >= 20
        )
        SELECT brand_a, brand_b,
               CAST(joint AS BIGINT) AS n_joint,
               round(joint / sa.s, 4) AS confidence_a_to_b,
               round(joint * n.n_orders / (sa.s * sb.s), 4) AS lift
        FROM pairs
        JOIN supp sa ON pairs.brand_a = sa.brand
        JOIN supp sb ON pairs.brand_b = sb.brand
        CROSS JOIN n
    """,
)
def basket_association_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets: support, confidence and
    lift for brand pairs bought in the same order (market-basket
    analysis, the ancestor of every 'frequently bought together').
    Baskets collapse to DISTINCT (order, brand) first — the item-level
    explosion never reaches the pair join — then the pair generation is
    a self-equi-join ON the order key (co-partitioned, linear in
    Σ basket_size², with basket sizes bounded by the order, not the
    catalog). Brand cardinality ~25 keeps supports broadcast-size; the
    HAVING floor models min-support pruning, which is what bounds the
    rule lattice at scale."""
    li = load_table(spark, sf_dir, "lineitem")
    # part is fact-proportional — the brand lookup shuffle-pins
    p = load_table(spark, sf_dir, "part")
    baskets = (
        li.join(p.hint("merge"), li.l_partkey == p.p_partkey)
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    n = baskets.agg(
        F.countDistinct("okey").cast("double").alias("n_orders")
    )
    supp = baskets.groupBy("brand").agg(
        F.count(F.lit(1)).cast("double").alias("s")
    )
    a = baskets.alias("a")
    b = baskets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.okey") == F.col("b.okey"))
            & (F.col("a.brand") < F.col("b.brand")),
        )
        .groupBy(
            F.col("a.brand").alias("brand_a"), F.col("b.brand").alias("brand_b")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("joint"))
        .where(F.col("joint") >= 20)
    )
    sa = supp.select(F.col("brand").alias("brand_a"), F.col("s").alias("sa"))
    sb = supp.select(F.col("brand").alias("brand_b"), F.col("s").alias("sb"))
    return (
        pairs.join(F.broadcast(sa), "brand_a")
        .join(F.broadcast(sb), "brand_b")
        .crossJoin(F.broadcast(n))
        .select(
            "brand_a",
            "brand_b",
            F.col("joint").cast("bigint").alias("n_joint"),
            F.round(F.col("joint") / F.col("sa"), 4).alias(
                "confidence_a_to_b"
            ),
            F.round(
                F.col("joint") * F.col("n_orders") / (F.col("sa") * F.col("sb")),
                4,
            ).alias("lift"),
        )
    )


@register(
    "sql_lateral_column_alias",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               l_extendedprice * (1 - l_discount) AS discounted,
               floor(discounted * 100.0 + 0.5) / 100.0 AS discounted_r2
        FROM lineitem WHERE l_orderkey <= 500
    """,
)
def sql_lateral_column_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases (Spark 3.4+ SQL surface): a SELECT-list
    expression referencing an alias defined earlier in the same
    SELECT — the ergonomic layering every hand-written report query
    uses, resolved by Catalyst into nested projections (no recompute;
    the plan evaluates `discounted` once). DuckDB shares the same
    lateral-alias resolution, so the oracle is the same text except
    Spark's double-literal suffix (100.0D): a bare 100.0 is DECIMAL in
    Spark SQL, and BIGINT/DECIMAL division would emit DECIMAL(27,6)
    where DuckDB emits DOUBLE — the pandas-visible type skew the r4
    sweep flags."""
    return sql_on_tables(
        spark,
        sf_dir,
        """
        SELECT l_orderkey, l_linenumber,
               l_extendedprice * (1 - l_discount) AS discounted,
               floor(discounted * 100.0D + 0.5D) / 100.0D AS discounted_r2
        FROM {lineitem} WHERE l_orderkey <= 500
        """,
    )


@register(
    "sql_udf_scalar",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               floor(((l_extendedprice * (1 - l_discount)) * (1 + l_tax))
                     * 100.0 + 0.5) / 100.0 AS charge_r2,
               CASE WHEN l_quantity >= 30 THEN 'bulk' ELSE 'retail' END
                   AS order_class
        FROM lineitem WHERE l_orderkey <= 300
    """,
)
def sql_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined scalar functions (Spark 4 CREATE FUNCTION ... RETURN):
    reusable business logic declared in SQL that Catalyst INLINES into
    the calling plan — unlike Python UDFs there is no serialization
    boundary, the expression participates in codegen, pushdown, and
    constant folding exactly as if written inline (the oracle IS the
    inlined form). This is the right tool for shared scalar logic at
    100 TB; the Python UDF surface (udf_python_scalar) exists for
    logic SQL can't express."""
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION pp_charge(
            p DOUBLE, d DOUBLE, t DOUBLE
        ) RETURNS DOUBLE RETURN (p * (1 - d)) * (1 + t)
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION pp_order_class(q DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN q >= 30 THEN 'bulk' ELSE 'retail' END
        """
    )
    track_drop(spark, "DROP TEMPORARY FUNCTION IF EXISTS pp_charge")
    track_drop(spark, "DROP TEMPORARY FUNCTION IF EXISTS pp_order_class")
    return sql_on_tables(
        spark,
        sf_dir,
        """
        SELECT l_orderkey, l_linenumber,
               floor(pp_charge(l_extendedprice, l_discount, l_tax)
                     * 100.0D + 0.5D) / 100.0D AS charge_r2,
               pp_order_class(l_quantity) AS order_class
        FROM {lineitem} WHERE l_orderkey <= 300
        """,
    )


# ---------------------------------------------------------------------------
# TPC-H completions over a DERIVED partsupp. The testdata publishes no
# partsupp table, so Q2/Q9/Q11/Q16/Q20 — the five partsupp-dependent
# TPC-H queries — are expressed over the partsupp analog every engine
# can derive from the fact table itself: the distinct (l_partkey,
# l_suppkey) supply relationships, with ps_availqty = total quantity
# ever supplied (exact: integral quantities summed in double) and
# ps_supplycost = the best observed unit price (min of exact double
# divisions — order-independent, so engine-stable). The CTE is shared
# verbatim between the Spark SQL and the DuckDB oracle. At scale the
# derivation is one map-side-combinable groupBy of the fact table and
# would be materialized once as a bucketed table (see
# write_bucketed_table) rather than re-derived per query.
# ---------------------------------------------------------------------------

_PS_CTE = """
        ps AS (
            SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                   CAST(sum(l_quantity) AS BIGINT) AS ps_availqty,
                   min(l_extendedprice / l_quantity) AS ps_supplycost
            FROM {lineitem}
            GROUP BY l_partkey, l_suppkey
        )
"""

_Q2_SQL = "WITH" + _PS_CTE + """
        SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_type
        FROM {part} p
        JOIN ps ON ps.ps_partkey = p.p_partkey
        JOIN {supplier} s ON s.s_suppkey = ps.ps_suppkey
        JOIN {nation} n ON n.n_nationkey = s.s_nationkey
        JOIN {region} r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'EUROPE'
          AND p.p_size BETWEEN 10 AND 20
          AND p.p_type = 'STANDARD'
          AND ps.ps_supplycost = (
              SELECT min(ps2.ps_supplycost)
              FROM ps ps2
              JOIN {supplier} s2 ON s2.s_suppkey = ps2.ps_suppkey
              JOIN {nation} n2 ON n2.n_nationkey = s2.s_nationkey
              JOIN {region} r2 ON r2.r_regionkey = n2.n_regionkey
              WHERE ps2.ps_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
        ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
        LIMIT 100
"""


@register(
    "q2_min_cost_supplier",
    oracle=_Q2_SQL.format(
        lineitem="lineitem",
        part="part",
        supplier="supplier",
        nation="nation",
        region="region",
    ),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q2-shaped: for each STANDARD mid-size part, the European
    supplier offering the minimum derived supply cost. The correlated
    scalar subquery (per-part min cost within the region) decorrelates
    into a region-filtered aggregate joined back on partkey; region/
    nation/supplier dims broadcast; the min-cost equality compares
    exact doubles (min over identical division results on both
    engines), so the filter is engine-stable. Top-100 runs as
    TakeOrderedAndProject with a unique (acctbal, nation, supplier,
    part) tie-break."""
    return sql_on_tables(spark, sf_dir, _Q2_SQL)


_Q9_SQL = """
        WITH red_parts AS (
            SELECT p_partkey FROM {part} WHERE p_name LIKE '%red%'
        ),
        lr AS (
            -- BROADCAST is load-bearing at scale: red_parts is ~13%
            -- of part keys (2.6M / ~20 MB at sf100), which crosses
            -- the 10 MB autoBroadcast threshold — without the hint
            -- Spark sort-merges the FULL 600M-row fact against it
            -- (measured: >34 GB of sort spill before the narrowed
            -- plan even starts), exactly the shuffle this CTE exists
            -- to avoid. A key set this size broadcasts fine; DuckDB
            -- ignores the hint comment.
            SELECT /*+ BROADCAST(rp) */
                   l.l_partkey, l.l_suppkey, l.l_orderkey, l.l_quantity,
                   l.l_extendedprice, l.l_discount
            FROM {lineitem} l
            JOIN red_parts rp ON rp.p_partkey = l.l_partkey
        ),
        ps AS (
            SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                   CAST(sum(l_quantity) AS BIGINT) AS ps_availqty,
                   min(l_extendedprice / l_quantity) AS ps_supplycost
            FROM lr
            GROUP BY l_partkey, l_suppkey
        )
        SELECT /*+ MERGE(ps), MERGE(o) */ n.n_name AS nation,
               CAST(year(o.o_orderdate) AS INT) AS o_year,
               round(CAST(sum(CAST(floor((l.l_extendedprice
                                          * (1 - l.l_discount)
                                          - ps.ps_supplycost * l.l_quantity)
                                         * 100.0 + 0.5) AS BIGINT))
                          AS DOUBLE) / 100.0, 2) AS sum_profit
        FROM lr l
        JOIN ps ON ps.ps_partkey = l.l_partkey
               AND ps.ps_suppkey = l.l_suppkey
        JOIN {supplier} s ON s.s_suppkey = l.l_suppkey
        JOIN {orders} o ON o.o_orderkey = l.l_orderkey
        JOIN {nation} n ON n.n_nationkey = s.s_nationkey
        GROUP BY n.n_name, year(o.o_orderdate)
        ORDER BY nation, o_year DESC
"""


@register(
    "q9_product_type_profit",
    oracle=_Q9_SQL.format(
        lineitem="lineitem",
        part="part",
        supplier="supplier",
        orders="orders",
        nation="nation",
    ),
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q9-shaped: profit (revenue minus derived supply cost) on
    'red' parts by supplier nation and order year.

    The 'red' predicate is pushed UPSTREAM of both fact-sized stages
    (r7 VERDICT item 8): the lr CTE semi-reduces lineitem against the
    filtered part keys FIRST (p_partkey is the part PK, so the join
    cannot duplicate fact rows), and the derived-partsupp aggregate
    then runs over lr only. This is output-identical to filtering
    after the join — ps groups by (partkey, suppkey) and the
    predicate is partkey-homogeneous, so per-group sum/min over the
    red subset equal those over the full table for every surviving
    group — but the two widest shuffles (the ps aggregate and the
    ps-back-to-fact MERGE join) now carry ~12.9% of lineitem (the
    measured '%red%' selectivity) instead of 100%: the sf100 form
    needed >50 GB of spill before, and fits a laptop-class disk
    after. part/supplier/nation dims feed broadcast joins; orders
    stays a narrow (orderkey, orderdate) MERGE join. year() is CAST
    to INT on both engines (DuckDB's year() is BIGINT — driver-canon
    type alignment)."""
    return sql_on_tables(spark, sf_dir, _Q9_SQL)


_Q11_SQL = "WITH" + _PS_CTE + """
        SELECT ps.ps_partkey,
               round(CAST(sum(CAST(floor(ps.ps_supplycost * ps.ps_availqty
                                         * 100.0 + 0.5) AS BIGINT))
                          AS DOUBLE) / 100.0, 2) AS value
        FROM ps
        JOIN {supplier} s ON s.s_suppkey = ps.ps_suppkey
        JOIN {nation} n ON n.n_nationkey = s.s_nationkey
        WHERE n.n_name = 'NATION_7'
        GROUP BY ps.ps_partkey
        HAVING sum(CAST(floor(ps.ps_supplycost * ps.ps_availqty
                              * 100.0 + 0.5) AS BIGINT)) > (
            SELECT sum(CAST(floor(ps2.ps_supplycost * ps2.ps_availqty
                                  * 100.0 + 0.5) AS BIGINT)) * 0.001
            FROM ps ps2
            JOIN {supplier} s2 ON s2.s_suppkey = ps2.ps_suppkey
            JOIN {nation} n2 ON n2.n_nationkey = s2.s_nationkey
            WHERE n2.n_name = 'NATION_7')
        ORDER BY value DESC, ps.ps_partkey
"""


@register(
    "q11_important_stock",
    oracle=_Q11_SQL.format(lineitem="lineitem", supplier="supplier", nation="nation"),
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q11-shaped: parts whose derived inventory value held by
    one nation's suppliers exceeds 0.1% of that nation's total. The
    uncorrelated scalar subquery computes the threshold once (broadcast
    single row); the main branch is one groupBy over the nation-pruned
    partsupp derivation. The nation filter reaches the supplier dim
    before either join, so both sides shuffle only the ~1/25 slice."""
    return sql_on_tables(spark, sf_dir, _Q11_SQL)


_Q16_SQL = "WITH" + _PS_CTE + """
        SELECT p.p_brand, p.p_type, p.p_size,
               count(DISTINCT ps.ps_suppkey) AS supplier_cnt
        FROM ps
        JOIN {part} p ON p.p_partkey = ps.ps_partkey
        WHERE p.p_brand <> 'Brand#45'
          AND p.p_type NOT LIKE 'PROMO%'
          AND p.p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
          AND ps.ps_suppkey NOT IN (
              SELECT s_suppkey FROM {supplier} WHERE s_acctbal < 0)
        GROUP BY p.p_brand, p.p_type, p.p_size
        ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
"""


@register(
    "q16_supplier_part_counts",
    oracle=_Q16_SQL.format(lineitem="lineitem", part="part", supplier="supplier"),
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16-shaped: how many suppliers can supply each qualifying
    (brand, type, size) bucket, excluding flagged suppliers (negative
    account balance stands in for the spec's complaint-comment scan).
    The NOT IN subquery is tiny and broadcast as a null-aware anti
    join; part filters prune before the join; count(DISTINCT) runs as
    the standard two-phase expand/aggregate."""
    return sql_on_tables(spark, sf_dir, _Q16_SQL)


_Q20_SQL = """
        WITH ps AS (
            SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                   CAST(sum(l_quantity) AS BIGINT) AS ps_availqty
            FROM {lineitem}
            GROUP BY l_partkey, l_suppkey
        )
        SELECT s.s_name, s.s_acctbal
        FROM {supplier} s
        JOIN {nation} n ON n.n_nationkey = s.s_nationkey
        WHERE n.n_name = 'NATION_3'
          AND s.s_suppkey IN (
              SELECT ps.ps_suppkey
              FROM ps
              JOIN {part} p ON p.p_partkey = ps.ps_partkey
              WHERE p.p_name LIKE 'small%'
                AND ps.ps_availqty > (
                    SELECT 2 * sum(l.l_quantity)
                    FROM {lineitem} l
                    WHERE l.l_partkey = ps.ps_partkey
                      AND l.l_suppkey = ps.ps_suppkey
                      AND l.l_shipdate >= TIMESTAMP '1999-01-01'
                      AND l.l_shipdate < TIMESTAMP '2000-01-01'))
        ORDER BY s.s_name
"""


@register(
    "q20_part_promotion",
    oracle=_Q20_SQL.format(
        lineitem="lineitem", part="part", supplier="supplier", nation="nation"
    ),
)
def q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q20-shaped: suppliers in one nation holding excess derived
    stock of 'small' parts — total supplied quantity more than twice
    what they shipped in 1999. The doubly-nested correlated subquery
    decorrelates into a date-pruned per-(part,supplier) aggregate
    joined on the composite key, then the IN collapses to a left-semi
    join against the small supplier dim. Quantity sums are integral in
    double, so the 2x threshold compare is exact on both engines. The
    SQL text is shared verbatim with the oracle through _Q20_SQL (the
    alias-drift defense the other derived-partsupp queries use)."""
    return sql_on_tables(spark, sf_dir, _Q20_SQL)


@register(
    "events_uplift_cuped",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),
                               1, 8)) AS BIGINT) % 2 AS variant,
                   sum(CASE WHEN event_type = 'purchase'
                             AND ts < TIMESTAMP '2024-01-16'
                            THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
                            ELSE 0 END) AS pre_c,
                   sum(CASE WHEN event_type = 'purchase'
                             AND ts >= TIMESTAMP '2024-01-16'
                            THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
                            ELSE 0 END) AS post_c
            FROM events
            GROUP BY user_id
        ),
        gstats AS (
            -- HUGEINT (int128) accumulation: DuckDB rejects
            -- DECIMAL(38,0)*DECIMAL(38,0) (result width > 38); the
            -- Spark side uses decimal(38,0) for the same exact
            -- integers and both cast to DOUBLE only at theta.
            SELECT count(*) AS n,
                   sum(CAST(pre_c AS HUGEINT)) AS sp,
                   sum(CAST(post_c AS HUGEINT)) AS so,
                   sum(CAST(pre_c AS HUGEINT) * post_c) AS spo,
                   sum(CAST(pre_c AS HUGEINT) * pre_c) AS spp
            FROM per_user
        ),
        theta AS (
            SELECT CAST(n * spo - sp * so AS DOUBLE)
                   / CAST(n * spp - sp * sp AS DOUBLE) AS th,
                   CAST(sp AS DOUBLE) / n AS pre_mean_c
            FROM gstats
        )
        SELECT CAST(u.variant AS BIGINT) AS variant,
               count(*) AS n_users,
               CAST(floor(CAST(sum(u.post_c) AS DOUBLE) / count(*)
                          / 100.0 * 10000.0 + 0.5) AS DOUBLE) / 10000.0
                   AS mean_post,
               CAST(floor(CAST(sum(CAST(floor(
                        (u.post_c - t.th * (u.pre_c - t.pre_mean_c))
                        * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                          / count(*) / 100.0 + 0.5) AS DOUBLE) / 10000.0
                   AS mean_adjusted,
               CAST(floor(max(t.th) * 1000000.0 + 0.5) AS DOUBLE)
                   / 1000000.0 AS theta
        FROM per_user u CROSS JOIN theta t
        GROUP BY u.variant
        ORDER BY variant
    """,
)
def events_uplift_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for the A/B readout: the post-period
    purchase metric is adjusted by each user's PRE-period covariate
    (theta = cov(post,pre)/var(pre), adjusted = post − θ·(pre − mean)),
    the standard trick that cuts experiment runtime by removing
    between-user variance the treatment cannot explain. Assignment is
    the same md5-deterministic rule as events_ab_test_lift. Shape: one
    user-level aggregate (the only fact shuffle), a 1-row broadcast of
    (θ, pre-mean), then a variant-sized readout.

    Determinism (r8 VERDICT item 2 — the last round(avg) sites):
    event values are 2dp, so per-user pre/post integerize to exact
    cents, the covariance sums accumulate as exact DECIMAL(38,0)
    products, and θ is derived via the cleared-denominator form
    (n·Σxy − ΣxΣy)/(n·Σx² − (Σx)²) — one identical IEEE division on
    both engines, making θ BIT-identical, not just ~1e-15 close.
    mean_post is then exact-integer sum/count + portable floor, and
    each user's CUPED-adjusted value (an identical double on both
    engines, since θ and the cent inputs are identical) is
    floor-quantized to 1e-6-dollar units before the final sum — the
    text_bigram_lm_perplexity precedent — so the per-variant
    accumulation is an order-independent integer add."""
    from parquet_playground_spark.operators.scale import _portable_bucket

    e = load_table(spark, sf_dir, "events")
    variant = _portable_bucket(F.col("user_id").cast("string"), 2)
    is_purchase = F.col("event_type") == "purchase"
    pre_cut = F.col("ts") < "2024-01-16"
    value_c = F.floor(F.col("value") * 100.0 + 0.5).cast("bigint")
    per_user = e.groupBy("user_id").agg(
        F.first(variant).alias("variant"),
        F.sum(
            F.when(is_purchase & pre_cut, value_c).otherwise(F.lit(0))
        ).alias("pre_c"),
        F.sum(
            F.when(is_purchase & ~pre_cut, value_c).otherwise(F.lit(0))
        ).alias("post_c"),
    )
    dec = F.col("pre_c").cast("decimal(38,0)")
    glob = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum(F.col("pre_c")).alias("sp"),
        exact_sum(F.col("post_c")).alias("so"),
        F.sum(dec * F.col("post_c")).alias("spo"),
        F.sum(dec * F.col("pre_c")).alias("spp"),
    )
    theta = glob.select(
        (
            (F.col("n") * F.col("spo") - F.col("sp") * F.col("so")).cast(
                "double"
            )
            / (F.col("n") * F.col("spp") - F.col("sp") * F.col("sp")).cast(
                "double"
            )
        ).alias("th"),
        (F.col("sp").cast("double") / F.col("n")).alias("pre_mean_c"),
    )
    adj_u = F.floor(
        (
            F.col("post_c")
            - F.col("th") * (F.col("pre_c") - F.col("pre_mean_c"))
        )
        * 10000.0
        + 0.5
    ).cast("long")
    return (
        per_user.crossJoin(F.broadcast(theta))
        .groupBy(F.col("variant").cast("bigint").alias("variant"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            (
                F.floor(
                    F.sum("post_c").cast("double")
                    / F.count(F.lit(1))
                    / 100.0
                    * 10000.0
                    + 0.5
                ).cast("double")
                / 10000.0
            ).alias("mean_post"),
            (
                F.floor(
                    F.sum(adj_u).cast("double")
                    / F.count(F.lit(1))
                    / 100.0
                    + 0.5
                ).cast("double")
                / 10000.0
            ).alias("mean_adjusted"),
            (
                F.floor(F.max("th") * 1000000.0 + 0.5).cast("double")
                / 1000000.0
            ).alias("theta"),
        )
        .orderBy("variant")
    )


_LINKPRED_SQL = """
        WITH nodes AS (
            SELECT DISTINCT l_orderkey AS ord, l_partkey AS p
            FROM {lineitem}
            WHERE l_partkey < 300
        ),
        edges AS (
            SELECT DISTINCT a.p AS u, b.p AS v
            FROM nodes a JOIN nodes b ON a.ord = b.ord AND a.p < b.p
        ),
        und AS (
            SELECT u, v FROM edges
            UNION ALL
            SELECT v AS u, u AS v FROM edges
        ),
        deg AS (
            SELECT u, count(*) AS d FROM und GROUP BY u
        ),
        two_hop AS (
            SELECT e1.u AS a, e2.v AS c, count(*) AS common_neighbors
            FROM und e1 JOIN und e2 ON e1.v = e2.u AND e1.u < e2.v
            GROUP BY e1.u, e2.v
        )
        SELECT t.a, t.c, t.common_neighbors,
               round(CAST(t.common_neighbors AS DOUBLE)
                     / (da.d + dc.d - t.common_neighbors), 6) AS jaccard
        FROM two_hop t
        JOIN deg da ON da.u = t.a
        JOIN deg dc ON dc.u = t.c
        LEFT JOIN edges e ON e.u = t.a AND e.v = t.c
        WHERE e.u IS NULL
        ORDER BY t.common_neighbors DESC, jaccard DESC, t.a, t.c
        LIMIT 20
"""


@register(
    "graph_link_prediction_cn",
    oracle=_LINKPRED_SQL.format(lineitem="lineitem"),
)
def graph_link_prediction_cn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the part co-purchase graph: non-adjacent part
    pairs ranked by common-neighbor count and neighborhood Jaccard —
    the classic recommender/knowledge-graph completion primitive. The
    2-hop expansion is the quadratic hazard here, so the node set is
    DEGREE-BOUNDED up front (the same explicit-bound discipline as the
    dedup exact-twin queries: a production run prunes high-degree hub
    nodes first, which caps the per-node expansion; the bound is a key
    range at test scale). All equi-joins — the wedge join shuffles on
    the shared neighbor, the existing-edge check is a broadcast-able
    anti join, and the top-20 runs as TakeOrderedAndProject with a
    full unique tie-break."""
    return sql_on_tables(spark, sf_dir, _LINKPRED_SQL)


@register(
    "sql_scripting_control_flow",
    oracle="""
        WITH RECURSIVE it AS (
            SELECT CAST(100000.0 AS DOUBLE) AS cutoff,
                   (SELECT count(*) FROM orders
                    WHERE o_totalprice > 100000.0) AS n,
                   0 AS step
            UNION ALL
            SELECT it.cutoff * 1.5,
                   (SELECT count(*) FROM orders o
                    WHERE o.o_totalprice > it.cutoff * 1.5),
                   it.step + 1
            FROM it WHERE it.n > 2000
        )
        SELECT round(cutoff, 2) AS final_cutoff,
               CAST(n AS BIGINT) AS n_above,
               CAST(step AS INT) AS n_iterations
        FROM it ORDER BY step DESC LIMIT 1
    """,
)
def sql_scripting_control_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (SQL/PSM control flow, Spark 4): a BEGIN..END
    block with DECLAREd variables and a WHILE loop raises a price
    cutoff by 1.5x until at most 2000 orders exceed it — the
    "parameter search as a script" shape that otherwise needs driver-
    side Python around spark.sql. Each loop iteration is one catalyst-
    planned scalar-subquery count; only two scalars cross iterations.
    The oracle runs the identical fixpoint as a recursive CTE, proving
    the script's loop semantics against a declarative equivalent. The
    geometric cutoff chain is a double multiplication sequence —
    bit-identical on both engines."""
    with scoped_confs(spark, {"spark.sql.scripting.enabled": "true"}):
        return sql_on_tables(
            spark,
            sf_dir,
            """
            BEGIN
              DECLARE cutoff DOUBLE DEFAULT 100000.0;
              DECLARE n BIGINT DEFAULT 0;
              DECLARE steps INT DEFAULT 0;
              SET n = (SELECT count(*) FROM {orders}
                       WHERE o_totalprice > cutoff);
              WHILE n > 2000 DO
                SET cutoff = cutoff * 1.5;
                SET n = (SELECT count(*) FROM {orders}
                         WHERE o_totalprice > cutoff);
                SET steps = steps + 1;
              END WHILE;
              SELECT round(cutoff, 2) AS final_cutoff,
                     n AS n_above,
                     steps AS n_iterations;
            END
            """,
        )


_FUNNEL_TB_SQL = """
        WITH e AS (
            SELECT user_id, event_type, sec FROM {src}
        ),
        v AS (
            SELECT user_id, min(sec) AS t_view
            FROM e WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
            SELECT e.user_id, min(sec) AS t_click
            FROM e JOIN v USING (user_id)
            WHERE event_type = 'click'
              AND sec > t_view AND sec <= t_view + 7200
            GROUP BY e.user_id
        ),
        p AS (
            SELECT e.user_id, min(sec) AS t_purchase
            FROM e JOIN c USING (user_id)
            WHERE event_type = 'purchase'
              AND sec > t_click AND sec <= t_click + 7200
            GROUP BY e.user_id
        )
        SELECT (SELECT count(*) FROM v) AS n_viewed,
               (SELECT count(*) FROM c) AS n_clicked_2h,
               (SELECT count(*) FROM p) AS n_purchased_2h,
               (SELECT CAST(coalesce(floor(avg(p.t_purchase - v.t_view)), 0)
                            AS BIGINT)
                FROM p JOIN v USING (user_id)) AS avg_funnel_secs
"""


@register(
    "events_funnel_time_bounded",
    oracle="""
        WITH src AS (
            SELECT user_id, event_type,
                   CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
            FROM events
        )"""
    + _FUNNEL_TB_SQL.format(src="src").replace("WITH e AS", ", e AS", 1),
)
def events_funnel_time_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-BOUNDED conversion funnel: view -> click within 2h ->
    purchase within a further 2h — the attribution-window form product
    analytics actually ships (an unbounded funnel overcounts users who
    \"converted\" a week later for unrelated reasons; compare
    events_funnel). Same user-keyed chain of per-stage first-event
    aggregates, so the whole funnel remains user-partitioned pipeline
    work with tiny broadcast stage tables, plus the end-to-end mean
    latency of completed funnels (integer seconds — exact)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("sec"),
    )
    return spark.sql(_FUNNEL_TB_SQL, src=e)


@register(
    "graph_label_propagation_communities",
    oracle="""
        WITH li AS (
            SELECT DISTINCT l_orderkey AS o, l_partkey AS p
            FROM lineitem WHERE l_orderkey <= 20000
        ),
        edges AS (
            SELECT a.p AS src, b.p AS dst
            FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p
            GROUP BY a.p, b.p
        ),
        l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
        v1 AS (
            SELECT e.src AS node, l.lbl, count(*) AS c
            FROM edges e JOIN l0 l ON e.dst = l.node
            GROUP BY e.src, l.lbl
        ),
        l1 AS (
            SELECT node, lbl FROM (
                SELECT node, lbl, row_number() OVER (
                    PARTITION BY node ORDER BY c DESC, lbl) AS rn
                FROM v1) t
            WHERE rn = 1
        ),
        v2 AS (
            SELECT e.src AS node, l.lbl, count(*) AS c
            FROM edges e JOIN l1 l ON e.dst = l.node
            GROUP BY e.src, l.lbl
        ),
        l2 AS (
            SELECT node, lbl FROM (
                SELECT node, lbl, row_number() OVER (
                    PARTITION BY node ORDER BY c DESC, lbl) AS rn
                FROM v2) t
            WHERE rn = 1
        ),
        comm AS (
            SELECT lbl AS community, count(*) AS n_members
            FROM l2 GROUP BY lbl
        )
        SELECT CAST(rnk AS BIGINT) AS rnk, community,
               CAST(n_members AS BIGINT) AS n_members
        FROM (
            SELECT *, row_number() OVER (
                ORDER BY n_members DESC, community) AS rnk
            FROM comm) t
        WHERE rnk <= 20
        ORDER BY rnk
    """,
)
def graph_label_propagation_communities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007), 2 fixed iterations over the part-co-purchase graph
    (same bounded edge set as graph_pagerank_power / triangle_count):
    every node starts as its own label and repeatedly adopts the
    label held by the most neighbors, ties broken on the smaller
    label — the deterministic variant (classic async LPA is
    order-dependent; synchronous + total tie-order makes both engines
    walk identical label states). Output: the 20 largest communities
    after round 2.

    Determinism: neighbor-label counts are integers; the adoption
    argmax tie-breaks (count desc, label asc); fixed iteration count
    (convergence tests would need driver-side state).

    Scale shape: per iteration one equi-join (edges.dst = labels.node)
    + one (node,label) count + one per-node argmax window — all keyed
    on the node, so the loop is co-shuffled on one key like PageRank;
    the edge set is persisted once and reused by both iterations.
    Labels stay a |nodes|-row frame; nothing grows with iteration."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 20000)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") != F.col("b.p"))
        )
        .select(F.col("a.p").alias("src"), F.col("b.p").alias("dst"))
        .distinct()
    )
    edges = track_persist(edges)
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(2):
        votes = (
            edges.join(
                labels.select(
                    F.col("node").alias("dst"), F.col("lbl")
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("node").orderBy(F.col("c").desc(), "lbl")
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "lbl")
        )
    comm = labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).alias("n_members")
    )
    wr = Window.orderBy(F.col("n_members").desc(), "community")
    return (
        comm.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 20)
        .select(
            F.col("rnk").cast("bigint").alias("rnk"),
            "community",
            F.col("n_members").cast("bigint").alias("n_members"),
        )
        .orderBy("rnk")
    )


_MARKOV_BACKTEST_SQL = """
        WITH seq AS (
            SELECT user_id, ts, event_type,
                   lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS next_type,
                   lead(ts) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS next_ts
            FROM {events}
        ),
        train AS (
            SELECT event_type AS prev, next_type
            FROM seq
            WHERE next_type IS NOT NULL
              AND next_ts < TIMESTAMP '2024-01-24 00:00:00'
        ),
        model AS (
            SELECT prev, next_type AS pred FROM (
                SELECT prev, next_type, count(*) AS c,
                       row_number() OVER (
                           PARTITION BY prev
                           ORDER BY count(*) DESC, next_type) AS rn
                FROM train GROUP BY prev, next_type) t
            WHERE rn = 1
        ),
        base AS (
            SELECT next_type AS pred FROM (
                SELECT next_type, count(*) AS c,
                       row_number() OVER (
                           ORDER BY count(*) DESC, next_type) AS rn
                FROM train GROUP BY next_type) t
            WHERE rn = 1
        ),
        test AS (
            SELECT s.event_type AS prev, s.next_type
            FROM seq s
            WHERE s.next_type IS NOT NULL
              AND s.ts >= TIMESTAMP '2024-01-24 00:00:00'
        ),
        scored AS (
            SELECT t.next_type, m.pred AS model_pred, b.pred AS base_pred
            FROM test t
            JOIN model m ON t.prev = m.prev
            CROSS JOIN base b
        )
        SELECT CAST(count(*) AS BIGINT) AS n_test_pairs,
               CAST(floor(CAST(sum(CASE WHEN next_type = model_pred
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                          / count(*) * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS model_accuracy,
               CAST(floor(CAST(sum(CASE WHEN next_type = base_pred
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                          / count(*) * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS baseline_accuracy
        FROM scored
"""


@register(
    "events_markov_backtest", oracle=_MARKOV_BACKTEST_SQL.format(events="events")
)
def events_markov_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal backtest of the first-order Markov next-event model
    (the events_markov_transitions matrix turned into a PREDICTOR and
    evaluated honestly): train argmax-transition predictions on the
    first 23 days, score top-1 accuracy on pairs starting in the
    holdout week, against the majority-class baseline — the
    train/test-by-TIME split that is the only honest evaluation for
    sequence models (a random split leaks future behavior). Pairs
    whose successor falls before the cutoff train; pairs starting at
    or after it test.

    Determinism: transition counts are integers; both argmaxes
    tie-break on the event type; accuracies take one division each.

    Scale shape: one user-partitioned lead window (the only
    fact-sized work), two tiny model aggregates (|types|^2 and
    |types| rows, broadcast back), one count readout."""
    return sql_on_tables(spark, sf_dir, _MARKOV_BACKTEST_SQL)


_DECAY_SQL = """
        WITH anchor AS (
            SELECT max(ts) AS now_ts FROM {events}
        ),
        scored AS (
            SELECT e.user_id,
                   CAST(floor(
                       exp(-CAST({age_seconds}
                                 AS DOUBLE) / 604800.0)
                       * CAST(floor(e.value * 100.0 + 0.5) AS BIGINT)
                       * 10000.0 + 0.5) AS BIGINT) AS s_micro
            FROM {events} e CROSS JOIN anchor a
        ),
        per_user AS (
            SELECT user_id, count(*) AS n_events,
                   sum(s_micro) AS score_micro
            FROM scored GROUP BY user_id
        )
        SELECT CAST(rnk AS BIGINT) AS rnk, user_id,
               CAST(n_events AS BIGINT) AS n_events,
               CAST(score_micro AS DOUBLE) / 1000000.0 AS decay_score
        FROM (
            SELECT *, row_number() OVER (
                ORDER BY score_micro DESC, user_id) AS rnk
            FROM per_user) t
        WHERE rnk <= 20
        ORDER BY rnk
"""


@register(
    "events_decay_engagement_score",
    oracle=_DECAY_SQL.format(
        events="events", age_seconds="date_diff('second', e.ts, a.now_ts)"
    ),
)
def events_decay_engagement_score(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exponential time-decay engagement score per user (half-life ~
    one week: weight = exp(-age/604800s) on cent-value) — the standard
    recency-weighted activity feature that ranks 'currently engaged'
    above 'historically heavy' users, anchored at the corpus max
    timestamp so the score is reproducible. Top-20 leaderboard with a
    user_id tie-break.

    Determinism: event ages are exact integer seconds, values exact
    cents; each row's decayed contribution is ONE fixed-order double
    expression integerized at 1e-4-cent resolution BEFORE the
    per-user sum, so the aggregate is an exact integer sum (no float
    accumulation across rows — the same discipline as
    ts_rate_of_change_irregular).

    Scale shape: a 1-row anchor broadcast, one map-side scoring
    projection, one user-keyed aggregation, a top-20 — the shuffle
    carries |users| partial sums.

    Both dialects render from the shared _DECAY_SQL template (only the
    age-in-seconds expression differs) — r5 ADVICE #3 flagged the old
    whitespace-exact str.replace derivation as silently no-op-ing if
    the template is ever reformatted."""
    return sql_on_tables(
        spark,
        sf_dir,
        _DECAY_SQL.format(
            events="{events}",
            age_seconds="unix_timestamp(a.now_ts) - unix_timestamp(e.ts)",
        ),
    )
