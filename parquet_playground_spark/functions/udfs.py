"""Category J — UDF / UDAF / UDTF surface.

The hierarchy, slowest to fastest:
  * row-at-a-time Python UDF — serialization per row; registered here
    to pin the API, but NOT a pattern for hot paths;
  * Arrow-vectorized pandas_udf — batch transfer, ~10-100x faster;
  * grouped applyInPandas — per-group pandas logic (UDAF-style);
  * Python UDTF (Spark 3.5+) — one row in, many rows out.

Every deterministic one has an inlined-SQL oracle proving the UDF
computes exactly what the declarative form would.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType

from parquet_playground_spark.functions.scalars import _round_stable
from parquet_playground_spark.registry import register, track_drop
from parquet_playground_spark.tables import load_table


@register(
    "udf_python_scalar",
    oracle="""
        SELECT p_partkey,
               concat(upper(p_brand), ':', CAST(length(p_name) AS VARCHAR))
                   AS brand_tag
        FROM part
    """,
)
def udf_python_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (deterministic), oracle = the same
    function inlined in SQL."""

    @F.udf(returnType=StringType(), useArrow=False)
    def brand_tag(brand: str, name: str) -> str:
        return f"{brand.upper()}:{len(name)}"

    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey", brand_tag(F.col("p_brand"), F.col("p_name")).alias("brand_tag")
    )


@register(
    "udf_pandas_vectorized",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               floor(((l_extendedprice * (1 - l_discount)) * (1 + l_tax))
                     * 10000.0 + 0.5) / 10000.0 AS charged
        FROM lineitem
        WHERE l_orderkey <= 2000
    """,
)
def udf_pandas_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar pandas_udf: whole columns cross the
    Python boundary as Arrow batches — the only acceptable Python
    hot-path shape at 100 TB.

    The UDF returns the raw product; rounding happens JVM-side with the
    floor-convention (pandas .round is banker's half-even — 0.125→0.12 —
    while DuckDB round is half-up, so rounding inside the UDF drifted).
    Keeping the Python payload to the bare arithmetic is also the right
    scale shape. numpy and DuckDB both evaluate the same IEEE-double
    product left-to-right, so the pre-round inputs are bit-identical.
    """

    @F.pandas_udf(DoubleType())
    def charged(
        price: pd.Series, disc: pd.Series, tax: pd.Series
    ) -> pd.Series:
        return (price * (1 - disc)) * (1 + tax)

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 2000)
    raw = charged("l_extendedprice", "l_discount", "l_tax")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        _round_stable(raw, 4).alias("charged"),
    )


@register(
    "udaf_pandas_grouped",
    oracle="""
        SELECT l_returnflag,
               round((sum(l_extendedprice) - min(l_extendedprice)
                      - max(l_extendedprice))
                     / (count(*) - 2), 4) AS trimmed_mean_price
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def udaf_pandas_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped UDAF via applyInPandas: mean excluding one min and one
    max per group (SQL-expressible, so oracle-checked). Shuffles once
    on the group key; each group is a pandas frame."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )

    def trimmed(pdf: pd.DataFrame) -> pd.DataFrame:
        s = pdf["l_extendedprice"]
        tm = (s.sum() - s.min() - s.max()) / (len(s) - 2)
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "trimmed_mean_price": [round(tm, 4)],
            }
        )

    return li.groupBy("l_returnflag").applyInPandas(
        trimmed, schema="l_returnflag string, trimmed_mean_price double"
    )


@register(
    "udtf_split_rows",
    oracle="""
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS token
        FROM documents
        WHERE doc_id <= 20
    """,
)
def udtf_split_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row -> many-rows table function (Python UDTF, Spark 3.5+):
    tokenizes a document into one row per token. Arrow-optimized
    (useArrow=True, Spark 4): rows cross the JVM/Python boundary as
    Arrow batches (ArrowEvalPythonUDTF), not pickled one at a time —
    the same 10-100x batching the scalar-UDF family gets from
    pandas_udf. Falls back to explode(split(...)) if UDTFs are
    unavailable."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 20)
    try:
        from pyspark.sql.functions import udtf

        @udtf(returnType="doc_id bigint, token string", useArrow=True)
        class SplitRows:
            def eval(self, doc_id: int, text: str):  # noqa: ANN001
                for tok in text.split(" "):
                    yield doc_id, tok

        spark.udtf.register("pp_split_rows", SplitRows)
        track_drop(spark, "DROP TEMPORARY FUNCTION IF EXISTS pp_split_rows")
        return spark.sql(
            """
            SELECT s.doc_id, s.token
            FROM {src}, LATERAL pp_split_rows(doc_id, text) s
            """,
            src=d,
        )
    except Exception:
        return d.select(
            "doc_id", F.explode(F.split("text", " ")).alias("token")
        )


@register(
    "udf_arrow_map",
    oracle="""
        SELECT s_suppkey,
               floor((s_acctbal * 1.07) * 10000.0 + 0.5) / 10000.0
                   AS adjusted_bal,
               upper(s_name) AS name_uc
        FROM supplier
    """,
)
def udf_arrow_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow: the zero-copy end of the UDF hierarchy — the
    function receives pyarrow RecordBatches directly (no pandas
    conversion), the right surface for columnar libraries (numpy
    kernels, tokenizers with Arrow bindings) over wide batches. The
    batch computation uses Arrow compute kernels only; oracle = the
    same expressions declaratively."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def adjust(batches):
        for batch in batches:
            t = pa.table(
                {
                    "s_suppkey": batch.column("s_suppkey"),
                    # floor-convention round (floor(x*1e4+0.5)/1e4):
                    # pc.round's tie behavior differs from DuckDB's by
                    # an ulp at 4dp edges; these IEEE ops are
                    # bit-identical across Arrow and DuckDB.
                    "adjusted_bal": pc.divide(
                        pc.floor(
                            pc.add(
                                pc.multiply(
                                    pc.multiply(
                                        pc.cast(
                                            batch.column("s_acctbal"),
                                            pa.float64(),
                                        ),
                                        pa.scalar(1.07),
                                    ),
                                    pa.scalar(10000.0),
                                ),
                                pa.scalar(0.5),
                            )
                        ),
                        pa.scalar(10000.0),
                    ),
                    "name_uc": pc.utf8_upper(batch.column("s_name")),
                }
            )
            yield from t.to_batches()

    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_acctbal", "s_name"
    )
    return s.mapInArrow(
        adjust, "s_suppkey long, adjusted_bal double, name_uc string"
    )


@register(
    "udf_cogrouped_pandas",
    oracle="""
        SELECT c.c_custkey,
               count(o.o_orderkey) AS n_orders,
               round(coalesce(sum(o.o_totalprice), 0), 4) AS total_spend,
               round(c.c_acctbal, 4) AS acctbal
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE c.c_custkey <= 300
        GROUP BY c.c_custkey, c.c_acctbal
    """,
)
def udf_cogrouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cogroup().applyInPandas: the two-sided grouped-map surface —
    both tables shuffle once on the key, then each (customer-group,
    order-group) pair lands in one pandas callback. The callback here
    computes what a LEFT JOIN + agg would, so the SQL oracle proves
    the cogroup plumbing delivers exactly the join semantics.

    Scale: one co-partitioned shuffle per side (same as the join), and
    the pandas batch holds one key-group — bounded by the largest
    single key, not the partition. The probe-side key predicate is
    mirrored onto the orders side BEFORE the cogroup: cogroup invokes
    the Python callback once per distinct key on EITHER side, so an
    unfiltered fact side costs one interpreter crossing per fact key
    just to emit an empty frame (measured at sf100: 11.5M empty-group
    callbacks = 1138 s wall; with the mirrored filter, 8 s — flat
    from sf0.01 to sf100).
    Output-identical — order groups with no customer row return
    empty — and on a non-static probe set the same shape is a
    broadcast semi-join against the probe keys."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 300)
        .select("c_custkey", "c_acctbal")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") <= 300)
        .select("o_custkey", "o_totalprice")
    )

    def merge(cust: pd.DataFrame, orders: pd.DataFrame) -> pd.DataFrame:
        if cust.empty:
            return pd.DataFrame(
                columns=["c_custkey", "n_orders", "total_spend", "acctbal"]
            )
        return pd.DataFrame(
            {
                "c_custkey": [int(cust.c_custkey.iloc[0])],
                "n_orders": [int(len(orders))],
                "total_spend": [round(float(orders.o_totalprice.sum()), 4)],
                "acctbal": [round(float(cust.c_acctbal.iloc[0]), 4)],
            }
        )

    return (
        c.groupBy("c_custkey")
        .cogroup(o.groupBy("o_custkey"))
        .applyInPandas(
            merge,
            "c_custkey long, n_orders long, total_spend double, acctbal double",
        )
    )


@register(
    "udtf_analyze_dynamic",
    oracle="""
        SELECT o_orderkey,
               string_split(concat(o_orderstatus, '|', o_orderpriority, '|',
                                   CAST(o_custkey AS VARCHAR)), '|')[1] AS f0,
               string_split(concat(o_orderstatus, '|', o_orderpriority, '|',
                                   CAST(o_custkey AS VARCHAR)), '|')[2] AS f1,
               string_split(concat(o_orderstatus, '|', o_orderpriority, '|',
                                   CAST(o_custkey AS VARCHAR)), '|')[3] AS f2
        FROM orders
        WHERE o_orderkey <= 2000
    """,
)
def udtf_analyze_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF with a dynamic output schema: the ``analyze`` static
    method computes the column list (f0..fN) from the LITERAL width
    argument at plan time — the Spark 4 polymorphic-UDTF surface
    (SPARK-44503), which a fixed returnType UDTF (udtf_split_rows)
    can't express. The splitter itself mirrors the reference's
    flatten-to-string semantics (ParquetConverter.java:115-134):
    delimited leaf values out of one composite string. Deterministic,
    so fully oracle-checked against the SQL split. Arrow-optimized
    (useArrow=True -> ArrowEvalPythonUDTF): batch transfer instead of
    per-row pickling, composing with the dynamic analyze() schema."""
    from pyspark.sql.functions import lit, udtf
    from pyspark.sql.types import StructType

    class UnpackDelimited:
        @staticmethod
        def analyze(row_id, text, n):
            from pyspark.sql.udtf import AnalyzeResult

            schema = StructType().add("o_orderkey", "long")
            for i in range(n.value):
                schema = schema.add(f"f{i}", "string")
            return AnalyzeResult(schema=schema)

        def eval(self, row_id, text, n):
            parts = text.split("|")
            parts = (parts + [None] * n)[:n]
            yield (row_id, *parts)

    unpack = udtf(UnpackDelimited, useArrow=True)
    spark.udtf.register("pp_unpack_delimited", unpack)
    track_drop(spark, "DROP TEMPORARY FUNCTION IF EXISTS pp_unpack_delimited")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    src = o.select(
        "o_orderkey",
        F.concat_ws(
            "|", "o_orderstatus", "o_orderpriority",
            F.col("o_custkey").cast("string"),
        ).alias("line"),
    )
    return spark.sql(
        """
        SELECT t.* FROM {src},
        LATERAL pp_unpack_delimited(o_orderkey, line, 3) t
        """,
        src=src,
    )


@register(
    "udf_grouped_arrow",
    oracle="""
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 100.0 AS total,
               round(max(l_extendedprice) - min(l_extendedprice), 4)
                   AS price_range
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def udf_grouped_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map over zero-copy Arrow tables (applyInPandas's
    columnar sibling, Spark 4 `applyInArrow`): each group arrives as a
    pyarrow.Table, is reduced with Arrow compute kernels (no pandas
    materialization, no per-row Python), and returns one Arrow batch.
    The per-group reduction (count/sum/range) is SQL-expressible, so
    the oracle fully checks the group routing and kernel math. At
    100 TB the shuffle is the groupBy key exchange; inside each task
    the work stays in Arrow's columnar buffers."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def reduce_group(tbl: pa.Table) -> pa.Table:
        price = tbl.column("l_extendedprice")
        # money sums accumulate as EXACT integer cents (floor(x*100+.5)
        # per element, then int64 sum): at sf0.1 the group sum is ~1e10
        # and a float accumulation's order noise exceeds the 4-dp
        # rounding grid — the sf0.1 cross-scale oracle sweep caught
        # exactly that (Arrow pairwise sum vs DuckDB sequential sum).
        cents = pc.cast(
            pc.floor(pc.add(pc.multiply(price, 100.0), 0.5)), pa.int64()
        )
        total_cents = pc.sum(cents).as_py() or 0
        lo = pc.min(price).as_py()
        hi = pc.max(price).as_py()
        return pa.table(
            {
                "l_returnflag": [tbl.column("l_returnflag")[0].as_py()],
                "n": pa.array([tbl.num_rows], pa.int64()),
                "total": pa.array([total_cents / 100.0], pa.float64()),
                "price_range": pa.array([round(hi - lo, 4)], pa.float64()),
            }
        )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    return li.groupBy("l_returnflag").applyInArrow(
        reduce_group,
        "l_returnflag string, n long, total double, price_range double",
    )


@register(
    "udf_arrow_optimized",
    oracle="""
        SELECT o_orderkey,
               round(sqrt(o_totalprice), 4) AS root_price
        FROM orders WHERE o_orderkey <= 2000
    """,
)
def udf_arrow_optimized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python UDF (useArrow=True, Spark 3.5+): same
    row-wise author experience as udf_python_scalar but the data
    crosses in Arrow batches instead of pickled rows — the migration
    switch that removes most of the classic Python-UDF tax without
    rewriting to pandas_udf. Deterministic math, so the inline-SQL
    oracle checks it exactly."""
    import math

    root = F.udf(
        lambda x: round(math.sqrt(x), 4), "double", useArrow=True
    )
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    return o.select(
        "o_orderkey", root(F.col("o_totalprice")).alias("root_price")
    )


@register(
    "udf_pandas_iterator",
    oracle="""
        SELECT doc_id,
               CAST(length(lower(text))
                    - length(replace(lower(text), ' ', '')) + 1
                    AS BIGINT) AS n_tokens_model,
               'tok-v1' AS model_tag
        FROM documents WHERE doc_id < 200
    """,
)
def udf_pandas_iterator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-form pandas UDF (SCALAR_ITER): the function receives an
    iterator of Arrow batches and can hoist expensive one-time setup —
    loading a tokenizer/model handle — OUTSIDE the per-batch loop, once
    per Python worker instead of once per batch. That amortization is
    THE pattern for model-scoring columns in a training-data pipeline
    (an embedding model load can cost seconds; batches arrive by the
    thousand). Here the 'model' is a deterministic whitespace
    tokenizer whose load stamps a version tag, so the oracle can check
    the output exactly while the plumbing (init-once, stream batches,
    yield per batch) is the real thing."""
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def count_tokens(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # expensive init happens ONCE per worker, before the batch loop
        model = {"version": "tok-v1", "split": str.split}
        for texts in batches:
            yield texts.str.lower().map(
                lambda t: len(model["split"](t))
            ).astype("int64")

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return d.select(
        "doc_id",
        count_tokens(F.col("text")).alias("n_tokens_model"),
        F.lit("tok-v1").alias("model_tag"),
    )


@register(
    "fn_timestamp_ntz",
    oracle="""
        SELECT event_id,
               date_trunc('second', ts) AS ntz_second,
               CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS epoch_s,
               date_trunc('second', ts) + INTERVAL 90 MINUTE AS plus_90m,
               CAST(date_part('hour', ts) AS BIGINT) AS hour_of_day
        FROM events WHERE event_id < 100
    """,
)
def fn_timestamp_ntz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP_NTZ surface: Spark's session-TZ-aware TIMESTAMP vs
    the wall-clock NTZ type. DuckDB's TIMESTAMP *is* NTZ, so the
    oracle parity itself demonstrates the semantics: with the session
    pinned to UTC (SURVEY §7.3 rule 7) the NTZ cast is the identity on
    the stored instant, interval arithmetic and field extraction
    agree, and none of it would hold under a non-UTC session — which
    is exactly why the engine pins UTC. Pure projections, no
    shuffle."""
    e = load_table(spark, sf_dir, "events").where(F.col("event_id") < 100)
    ntz = F.to_timestamp_ntz(F.date_trunc("second", F.col("ts")))
    return e.select(
        "event_id",
        ntz.alias("ntz_second"),
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("epoch_s"),
        (ntz + F.expr("INTERVAL 90 MINUTES")).alias("plus_90m"),
        F.hour("ts").cast("bigint").alias("hour_of_day"),
    )
