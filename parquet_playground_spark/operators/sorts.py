"""Category F — sorts / limits / top-k.

Scale notes: global ORDER BY is a range-partitioned sort (sampled
boundaries) — fine once; top-k uses TakeOrderedAndProject (per-partition
heaps, no global sort materialization); per-group top-k is the
window-filter pattern (single shuffle on the group key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_playground_spark.registry import register
from parquet_playground_spark.tables import load_table, sql_on_tables


@register(
    "sort_multi_nulls",
    oracle="""
        WITH t AS (
            SELECT o_orderkey,
                   nullif(o_orderpriority, '3-MEDIUM') AS prio,
                   o_totalprice
            FROM orders
            WHERE o_orderkey <= 2000
        )
        SELECT o_orderkey, prio, o_totalprice,
               row_number() OVER (
                   ORDER BY prio ASC NULLS LAST,
                            o_totalprice DESC,
                            o_orderkey
               ) AS sort_pos
        FROM t
    """,
)
def sort_multi_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column sort with NULLS LAST, verified order-insensitively by
    projecting the sort position (§2.3 note)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    t = o.select(
        "o_orderkey",
        F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM")).alias("prio"),
        "o_totalprice",
    )
    w = Window.orderBy(
        F.col("prio").asc_nulls_last(),
        F.col("o_totalprice").desc(),
        F.col("o_orderkey"),
    )
    return t.orderBy(
        F.col("prio").asc_nulls_last(),
        F.col("o_totalprice").desc(),
        F.col("o_orderkey"),
    ).select(
        "o_orderkey", "prio", "o_totalprice", F.row_number().over(w).alias("sort_pos")
    )


@register(
    "topk_global",
    oracle="""
        SELECT o_orderkey, round(o_totalprice, 4) AS price
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 25
    """,
)
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT k -> TakeOrderedAndProject (per-partition heaps;
    never a full global sort). Unique tie-break on o_orderkey."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
        .select("o_orderkey", F.round("o_totalprice", 4).alias("price"))
    )


_TOPK_PER_GROUP_SQL = """
        SELECT c_nationkey, c_custkey, round(c_acctbal, 4) AS bal
        FROM (
            SELECT c_custkey, c_nationkey, c_acctbal,
                   row_number() OVER (
                       PARTITION BY c_nationkey
                       ORDER BY c_acctbal DESC, c_custkey
                   ) AS rn
            FROM {customer}
        )
        WHERE rn <= 3
"""


@register("topk_per_group", oracle=_TOPK_PER_GROUP_SQL.format(customer="customer"))
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k as a row_number() filter: one shuffle on the
    group key, and the rank limit reaches the window as
    WindowGroupLimit."""
    return sql_on_tables(spark, sf_dir, _TOPK_PER_GROUP_SQL)


_OFFSET_PAGINATION_SQL = """
        SELECT o_orderkey, round(o_totalprice, 2) AS price
        FROM {orders}
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 10 OFFSET 20
"""


@register(
    "topk_offset_pagination", oracle=_OFFSET_PAGINATION_SQL.format(orders="orders")
)
def topk_offset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset-free pagination: page 3 of the price ranking via
    LIMIT 10 OFFSET 20 (the SQL OFFSET clause, Spark 3.4+). The plan
    still runs as a global top-(offset+limit) — fine for shallow
    pages; the docstring caveat every engine shares is that deep
    OFFSET degrades to top-N with huge N, where keyset pagination
    (WHERE price < last_seen) is the scale answer. Unique tie-break
    keeps pages deterministic."""
    return sql_on_tables(spark, sf_dir, _OFFSET_PAGINATION_SQL)
