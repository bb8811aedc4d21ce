"""Category B — projection / filter / predicates.

All predicates here are Catalyst-native expressions: they stay inside
WholeStageCodegen and (for the comparison/IN cases) reach the parquet
scan as PushedFilters — nothing row-at-a-time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_playground_spark.registry import register
from parquet_playground_spark.tables import load_table, sql_on_tables


@register(
    "project_compute_rename",
    oracle="""
        SELECT l_orderkey AS order_id,
               l_linenumber AS line_no,
               round(l_extendedprice * (1 - l_discount), 4) AS net_price,
               CAST(l_quantity AS INTEGER) AS qty_int,
               l_returnflag || '/' || l_linestatus AS flag_status
        FROM lineitem
    """,
)
def project_compute_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_linenumber").alias("line_no"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
            "net_price"
        ),
        F.col("l_quantity").cast("int").alias("qty_int"),
        F.concat_ws("/", "l_returnflag", "l_linestatus").alias("flag_status"),
    )


@register(
    "filter_comparison",
    oracle="""
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice >= 30000
          AND o_totalprice < 32000
          AND o_orderkey BETWEEN 1000 AND 14000
    """,
)
def filter_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_totalprice") >= 30000)
        & (F.col("o_totalprice") < 32000)
        & F.col("o_orderkey").between(1000, 14000)
    ).select("o_orderkey", "o_totalprice")


@register(
    "filter_in_notin",
    oracle="""
        SELECT c_custkey, c_mktsegment, c_nationkey
        FROM customer
        WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
          AND c_nationkey NOT IN (3, 7, 11)
    """,
)
def filter_in_notin(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.filter(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
        & ~F.col("c_nationkey").isin(3, 7, 11)
    ).select("c_custkey", "c_mktsegment", "c_nationkey")


@register(
    "filter_null_semantics",
    oracle="""
        WITH t AS (
            SELECT o_orderkey,
                   nullif(o_orderstatus, 'F') AS maybe_status
            FROM orders
        )
        SELECT
            count(*) FILTER (WHERE maybe_status IS NULL) AS n_null,
            count(*) FILTER (WHERE maybe_status IS NOT NULL) AS n_not_null,
            count(*) FILTER (WHERE maybe_status IS NOT DISTINCT FROM NULL) AS n_nullsafe_null,
            count(*) FILTER (WHERE maybe_status IS NOT DISTINCT FROM 'O') AS n_nullsafe_o
        FROM t
    """,
)
def filter_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS [NOT] NULL + null-safe equality <=> (reference null handling:
    ParquetConverter.java:123-124 — absent field -> null value)."""
    o = load_table(spark, sf_dir, "orders")
    t = o.select(
        F.nullif(F.col("o_orderstatus"), F.lit("F")).alias("maybe_status")
    )
    return t.agg(
        F.count(F.when(F.col("maybe_status").isNull(), 1)).alias("n_null"),
        F.count(F.when(F.col("maybe_status").isNotNull(), 1)).alias("n_not_null"),
        F.count(F.when(F.col("maybe_status").eqNullSafe(F.lit(None)), 1)).alias(
            "n_nullsafe_null"
        ),
        F.count(F.when(F.col("maybe_status").eqNullSafe("O"), 1)).alias(
            "n_nullsafe_o"
        ),
    )


@register(
    "filter_like_regex",
    oracle="""
        SELECT p_partkey, p_name, p_type
        FROM part
        WHERE p_name LIKE '%red%'
           OR regexp_matches(p_name, '(gear|bolt)$')
    """,
)
def filter_like_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicates chosen to be non-vacuous on the synthetic part names
    ('red widget', 'blue bolt', 'hot gear', ...): several hundred rows
    match at sf0.01, so a wrong LIKE/RLIKE implementation can fail."""
    p = load_table(spark, sf_dir, "part")
    return p.filter(
        F.col("p_name").like("%red%") | F.col("p_name").rlike("(gear|bolt)$")
    ).select("p_partkey", "p_name", "p_type")


@register(
    "filter_compound",
    oracle="""
        SELECT l_orderkey, l_linenumber
        FROM lineitem
        WHERE (l_returnflag = 'R' AND NOT l_linestatus = 'F')
           OR (l_quantity > 45 AND l_discount <= 0.02)
    """,
)
def filter_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        ((F.col("l_returnflag") == "R") & ~(F.col("l_linestatus") == "F"))
        | ((F.col("l_quantity") > 45) & (F.col("l_discount") <= 0.02))
    ).select("l_orderkey", "l_linenumber")


_GROUP_ORDER_BY_ALL_SQL = """
        SELECT l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5)
                             AS BIGINT)) AS BIGINT) AS revenue_cents
        FROM {lineitem}
        GROUP BY ALL
        ORDER BY ALL
"""


@register(
    "sql_group_order_by_all", oracle=_GROUP_ORDER_BY_ALL_SQL.format(lineitem="lineitem")
)
def sql_group_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern-SQL GROUP BY ALL / ORDER BY ALL surface: both Spark 4
    and DuckDB infer the grouping keys from the non-aggregate
    projection and the ordering from the full select list — the exact
    same SQL text runs verbatim on both engines (this op's point: the
    dialect-convergence feature is part of the declared API surface,
    alongside sql_lateral_column_alias and the parameterized-query
    op). Revenue accumulates as exact integer cents.

    Scale shape: identical plan to an explicit-keys aggregate — the
    sugar resolves at analysis time."""
    return sql_on_tables(spark, sf_dir, _GROUP_ORDER_BY_ALL_SQL)
