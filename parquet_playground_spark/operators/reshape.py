"""Reshaping and merge operators: unpivot/melt, union-by-name schema
alignment, and CDC upsert (MERGE emulation).

Reference tie: the reference's flatten-to-key/value semantics
(ParquetFlattener.java) is itself a melt; `agg_unpivot` is the
relational form. The CDC upsert is the batch form of the reference's
Avro->Parquet refresh pipeline (LoadParquet.java:55-72) — at 100 TB
this is what a training-corpus snapshot refresh looks like without a
table format: full-outer sort-merge on the key, AQE-skew-safe. With
Delta/Iceberg it becomes MERGE INTO; the plan shape is the same.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_playground_spark.operators.aggregates import exact_sum
from parquet_playground_spark.registry import register
from parquet_playground_spark.tables import load_table


@register(
    "agg_unpivot",
    oracle="""
        WITH wide AS (
            SELECT l_returnflag,
                   round(sum(l_quantity), 4)      AS sum_qty,
                   CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5)
                                 AS DECIMAL(38, 0))) AS DOUBLE) / 100.0
                                                  AS sum_price,
                   CAST(sum(CAST(floor(l_discount * 100.0 + 0.5)
                                 AS DECIMAL(38, 0))) AS DOUBLE) / 100.0
                                                  AS sum_disc
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, measure, value
        FROM wide UNPIVOT (value FOR measure IN (sum_qty, sum_price, sum_disc))
    """,
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide aggregate -> long melt via DataFrame.unpivot (Spark's
    built-in Expand — one pass, no join, |measures| x |groups| rows).
    The expensive part (the aggregate) shuffles |groups| rows only;
    the melt is a map-side Expand and survives any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    # sum_price AND sum_disc in exact cents (exact_sum —
    # sum_price drifted at sf1; sum_disc bit at sf100, where 2e8
    # ~0.05 terms reach 1e7 and the double-sum ulp crosses the 4dp
    # round: 9981450.0 vs .0001). l_discount is 2dp so cents are
    # integer-exact; sum_qty is an integer-valued double sum, exact
    # below 2^53.
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        (
            exact_sum(F.floor(F.col("l_extendedprice") * 100.0 + 0.5)).cast("double")
            / 100.0
        ).alias("sum_price"),
        (
            exact_sum(F.floor(F.col("l_discount") * 100.0 + 0.5)).cast("double")
            / 100.0
        ).alias("sum_disc"),
    )
    return wide.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "sum_disc"], "measure", "value"
    )


@register(
    "set_union_byname",
    oracle="""
        SELECT c_name AS name, c_nationkey AS nationkey,
               c_acctbal AS acctbal, 'customer' AS side
        FROM customer WHERE c_nationkey < 3
        UNION ALL BY NAME
        SELECT s_name AS name, s_nationkey AS nationkey, 'supplier' AS side
        FROM supplier WHERE s_nationkey < 3
    """,
)
def set_union_byname(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-aligning union: unionByName(allowMissingColumns=True)
    matches columns positionally-independently and null-fills the
    missing side — the standard way to stack heterogeneous corpus
    shards without writing a projection per shard. Pure narrow op."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") < 3)
        .select(
            F.col("c_name").alias("name"),
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_acctbal").alias("acctbal"),
            F.lit("customer").alias("side"),
        )
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") < 3)
        .select(
            F.col("s_name").alias("name"),
            F.col("s_nationkey").alias("nationkey"),
            F.lit("supplier").alias("side"),
        )
    )
    return c.unionByName(s, allowMissingColumns=True)


@register(
    "cdc_upsert",
    oracle="""
        WITH delta AS (
            SELECT o_orderkey, round(o_totalprice * 1.1, 4) AS d_price,
                   'U' AS d_status
            FROM orders WHERE o_orderkey % 50 = 0
            UNION ALL
            SELECT o_orderkey + 10000000, o_totalprice, 'I'
            FROM orders WHERE o_orderkey % 500 = 0
        )
        SELECT coalesce(d.o_orderkey, b.o_orderkey) AS o_orderkey,
               round(coalesce(d.d_price, b.o_totalprice), 4) AS o_totalprice,
               coalesce(d.d_status, b.o_orderstatus) AS o_orderstatus
        FROM orders b FULL OUTER JOIN delta d ON b.o_orderkey = d.o_orderkey
    """,
)
def cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-emulation over plain parquet: base FULL OUTER JOIN delta
    on the key, delta wins via coalesce. Updates (keys % 50, +10%
    price, status U) and inserts (shifted keys, status I) are derived
    deterministically from orders so the oracle can reproduce them.

    100 TB shape: one sort-merge shuffle on the primary key; the delta
    side is typically tiny -> AQE broadcasts it. Production would use
    Delta/Iceberg MERGE INTO, which plans the same join."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.col("o_totalprice").alias("b_price"),
        F.col("o_orderstatus").alias("b_status"),
    )
    updates = o.filter(F.col("o_orderkey") % 50 == 0).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 1.1, 4).alias("d_price"),
        F.lit("U").alias("d_status"),
    )
    inserts = o.filter(F.col("o_orderkey") % 500 == 0).select(
        (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
        F.col("o_totalprice").alias("d_price"),
        F.lit("I").alias("d_status"),
    )
    delta = updates.unionByName(inserts)
    return base.join(delta, "o_orderkey", "full_outer").select(
        "o_orderkey",
        F.round(F.coalesce("d_price", "b_price"), 4).alias("o_totalprice"),
        F.coalesce("d_status", "b_status").alias("o_orderstatus"),
    )


@register(
    "df_transpose",
    oracle="""
        WITH agg AS (
            SELECT r_name,
                   CAST(count(*) AS VARCHAR) AS n_nations,
                   min(n_name) AS first_nation,
                   max(n_name) AS last_nation
            FROM nation JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        ),
        long AS (
            SELECT r_name, 'n_nations' AS key, n_nations AS v FROM agg
            UNION ALL
            SELECT r_name, 'first_nation', first_nation FROM agg
            UNION ALL
            SELECT r_name, 'last_nation', last_nation FROM agg
        )
        SELECT key,
               max(CASE WHEN r_name = 'AFRICA' THEN v END) AS "AFRICA",
               max(CASE WHEN r_name = 'AMERICA' THEN v END) AS "AMERICA",
               max(CASE WHEN r_name = 'ASIA' THEN v END) AS "ASIA",
               max(CASE WHEN r_name = 'EUROPE' THEN v END) AS "EUROPE",
               max(CASE WHEN r_name = 'MIDDLE EAST' THEN v END)
                   AS "MIDDLE EAST"
        FROM long
        GROUP BY key
    """,
)
def df_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.transpose (Spark 4.0 API): flips a small aggregate so
    the index column's values become columns and former column names
    become the `key` column — the report-shaping step after a
    reduction. Transpose must enumerate the index values to name the
    output columns (a driver-side step), so it belongs strictly AFTER
    aggregation: here 25 nations collapse to a 5-row frame first, and
    that contract (aggregate -> transpose, never raw -> transpose) is
    exactly what keeps it scale-safe. Oracle is the equivalent
    conditional-aggregation pivot."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    agg = (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).cast("string").alias("n_nations"),
            F.min("n_name").alias("first_nation"),
            F.max("n_name").alias("last_nation"),
        )
        .orderBy("r_name")
    )
    return agg.transpose()


@register(
    "api_pandas_on_spark",
    oracle="""
        SELECT o_orderpriority,
               count(*) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5)
                             AS DECIMAL(38, 0))) AS DOUBLE) / 100.0
                   AS total_price
        FROM orders
        GROUP BY o_orderpriority
    """,
)
def api_pandas_on_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas API on Spark (pyspark.pandas): the drop-in pandas surface
    compiling to the same distributed plans — read_parquet → groupby →
    named agg → to_spark, equal to the plain SQL GROUP BY. This is the
    migration path for single-node pandas pipelines: same code shape,
    Catalyst underneath (no driver materialization; the groupby is a
    normal shuffled hash aggregate).

    Money is summed as exact integer cents (q1/q19 pattern — the sf10
    sweep caught the float sum flipping the 2nd decimal at ~7.5e11 per
    group). ps lacks a decimal cast, so the cents column floors via
    float `// 1.0`; integer-valued doubles add exactly below 2^53, so
    the ps float sum stays exact through ~sf1000 (7.5e14 cents)."""
    import os

    import pyspark.pandas as ps

    psdf = ps.read_parquet(os.path.join(sf_dir, "orders.parquet"))
    psdf["price_c"] = (psdf["o_totalprice"] * 100.0 + 0.5) // 1.0
    agg = (
        psdf.groupby("o_orderpriority")
        .agg(n_orders=("o_orderkey", "count"), total=("price_c", "sum"))
        .reset_index()
    )
    return agg.to_spark().select(
        "o_orderpriority",
        F.col("n_orders").cast("long").alias("n_orders"),
        (F.col("total").cast("double") / 100.0).alias("total_price"),
    )
