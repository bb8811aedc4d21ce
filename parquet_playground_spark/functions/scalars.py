"""Category H — scalar functions (string/date/math/decimal/array/map/
json/conditional).

All JVM-side built-ins inside WholeStageCodegen — the fast path. The
decimal casts pin the four physical decimal precisions of the reference
corpus: (4,2) int32, (10,2) int64, (13,2)+(25,2) fixed_len_byte_array
(SURVEY §2.2, int32_decimal/int64_decimal/fixed_length_decimal*.parquet).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_playground_spark.operators.aggregates import exact_sum
from parquet_playground_spark.registry import register
from parquet_playground_spark.tables import load_table


def _round_stable(col, k: int):
    """Convention-stable rounding: floor(x * 10^k + 0.5) / 10^k.

    Spark's F.round (HALF_UP on Double.toString) and DuckDB's round
    (on the exact binary double) disagree at x..5 representation edges,
    which is systematic for exact-decimal corpus values (prices carry
    2 decimals, so rounding to 1 decimal hits the .x5 edge constantly).
    floor/multiply/add are individually exact-or-correctly-rounded IEEE
    ops, so when the oracle spells out the SAME expression both engines
    produce bit-identical doubles — no convention left to disagree on.
    """
    scale = F.lit(float(10**k))
    return F.floor(col * scale + F.lit(0.5)) / scale


@register(
    "fn_string",
    oracle="""
        SELECT p_partkey,
               upper(p_brand) AS brand_up,
               lower(p_type) AS type_lo,
               substr(p_name, 1, 8) AS name8,
               trim(concat('  ', p_brand, '  ')) AS brand_trim,
               replace(p_type, ' ', '_') AS type_us,
               length(p_name) AS name_len,
               lpad(CAST(p_size AS VARCHAR), 4, '0') AS size4,
               concat(p_brand, ':', p_type) AS brand_type
        FROM part
    """,
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String surface (reference stringifies every leaf:
    ParquetConverter.java:142,154)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_up"),
        F.lower("p_type").alias("type_lo"),
        F.substring("p_name", 1, 8).alias("name8"),
        F.trim(F.concat(F.lit("  "), F.col("p_brand"), F.lit("  "))).alias(
            "brand_trim"
        ),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_us"),
        F.length("p_name").alias("name_len"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size4"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
    )


@register(
    "fn_date",
    oracle="""
        SELECT o_orderkey,
               year(o_orderdate) AS yr,
               month(o_orderdate) AS mo,
               day(o_orderdate) AS dom,
               CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
               datediff('day', DATE '2024-01-01', CAST(o_orderdate AS DATE)) AS days_since,
               CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS due_ts,
               CAST(epoch(date_trunc('second', o_orderdate)) AS BIGINT) AS epoch_s
        FROM orders
        WHERE o_orderkey <= 3000
    """,
)
def fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time surface (reference INT96/date decode:
    ParquetConverter.java:52-60, LoadParquet.java:76)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 3000)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("2024-01-01").cast("date")).alias(
            "days_since"
        ),
        (F.col("o_orderdate").cast("date") + F.expr("INTERVAL 30 DAYS"))
        .cast("timestamp")
        .alias("due_ts"),
        F.unix_timestamp(F.date_trunc("second", F.col("o_orderdate"))).alias(
            "epoch_s"
        ),
    )


@register(
    "fn_math",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               floor(l_extendedprice * 10.0 + 0.5) / 10.0 AS price_r1,
               abs(l_discount - 0.05) AS disc_dev,
               CAST(ceil(l_quantity / 7) AS BIGINT) AS q_ceil,
               CAST(floor(l_quantity / 7) AS BIGINT) AS q_floor,
               CAST(l_quantity AS INTEGER) % 5 AS q_mod,
               floor(power(l_discount, 2) * 1000000.0 + 0.5) / 1000000.0
                   AS disc_sq,
               floor(sqrt(l_extendedprice) * 10000.0 + 0.5) / 10000.0
                   AS price_sqrt,
               floor(ln(l_extendedprice + 1) * 10000.0 + 0.5) / 10000.0
                   AS price_ln
        FROM lineitem
        WHERE l_orderkey <= 1000
    """,
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 1000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        _round_stable(F.col("l_extendedprice"), 1).alias("price_r1"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.ceil(F.col("l_quantity") / 7).alias("q_ceil"),
        F.floor(F.col("l_quantity") / 7).alias("q_floor"),
        (F.col("l_quantity").cast("int") % 5).alias("q_mod"),
        _round_stable(F.pow("l_discount", F.lit(2)), 6).alias("disc_sq"),
        _round_stable(F.sqrt("l_extendedprice"), 4).alias("price_sqrt"),
        _round_stable(F.log(F.col("l_extendedprice") + 1), 4).alias("price_ln"),
    )


@register(
    "fn_cast_decimal",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               CAST(CAST(floor(l_discount * 100.0 + 0.5) / 100.0
                         AS DECIMAL(4,2)) AS VARCHAR) AS disc_d4_2,
               CAST(CAST(floor(l_extendedprice * 100.0 + 0.5) / 100.0
                         AS DECIMAL(10,2)) AS VARCHAR) AS price_d10_2,
               CAST(CAST(floor((l_extendedprice * l_quantity) * 100.0 + 0.5)
                         / 100.0 AS DECIMAL(13,2)) AS VARCHAR) AS gross_d13_2,
               CAST(CAST(floor(l_extendedprice * 100.0 + 0.5) / 100.0
                         AS DECIMAL(25,2)) AS VARCHAR) AS price_d25_2,
               CAST(CAST(floor(l_quantity * 100.0 + 0.5) / 100.0
                         AS DECIMAL(10,2)) AS VARCHAR) AS qty_str
        FROM lineitem
        WHERE l_orderkey <= 1000
    """,
)
def fn_cast_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decimal casts at the corpus's 4 physical precisions (SURVEY §2.2).

    Each double is pre-rounded with the _round_stable convention before
    the decimal cast: Spark casts HALF_UP on Double.toString while
    DuckDB rounds the exact binary double, so a raw double→DECIMAL(p,2)
    cast flips at .xx5 representation edges. After the shared pre-round
    the value is the nearest double to an exact 2-decimal number —
    0.005 from any rounding boundary — so both conventions agree.

    Every DECIMAL column is projected as VARCHAR on BOTH sides before
    comparison: DuckDB's pandas conversion renders DECIMAL as float64
    (904.0) while Spark's toPandas keeps Decimal('904.00'), so a
    type-sensitive canon hashes identical values apart (driver r2+r3
    hash-FAIL). The fixed two-decimal string rendering is identical in
    both engines; the decimal-cast capability itself is unchanged.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 1000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        _round_stable(F.col("l_discount"), 2)
        .cast(T.DecimalType(4, 2))
        .cast("string")
        .alias("disc_d4_2"),
        _round_stable(F.col("l_extendedprice"), 2)
        .cast(T.DecimalType(10, 2))
        .cast("string")
        .alias("price_d10_2"),
        _round_stable(F.col("l_extendedprice") * F.col("l_quantity"), 2)
        .cast(T.DecimalType(13, 2))
        .cast("string")
        .alias("gross_d13_2"),
        _round_stable(F.col("l_extendedprice"), 2)
        .cast(T.DecimalType(25, 2))
        .cast("string")
        .alias("price_d25_2"),
        _round_stable(F.col("l_quantity"), 2)
        .cast(T.DecimalType(10, 2))
        .cast("string")
        .alias("qty_str"),
    )


@register(
    "fn_array",
    oracle="""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
            WHERE doc_id <= 40
        )
        SELECT doc_id,
               len(toks) AS n_toks,
               CAST(list_contains(toks, 'spark') AS BOOLEAN) AS has_spark,
               list_sort(toks)[1] AS first_tok,
               CAST(u.i - 1 AS INTEGER) AS pos,
               toks[CAST(u.i AS INTEGER)] AS tok
        FROM t CROSS JOIN unnest(range(1, len(toks) + 1)) AS u(i)
    """,
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array surface over split tokens (reference list corpus + flatten R3)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 40)
    t = d.select("doc_id", F.split("text", " ").alias("toks"))
    return t.select(
        "doc_id",
        F.size("toks").alias("n_toks"),
        F.array_contains("toks", "spark").alias("has_spark"),
        F.sort_array("toks").getItem(0).alias("first_tok"),
        F.posexplode("toks"),
    ).withColumnsRenamed({"col": "tok"})


@register(
    "fn_map",
    oracle="""
        SELECT n_nationkey,
               n_name AS name,
               'name,region' AS keys_csv,
               2 AS n_entries
        FROM nation
    """,
)
def fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map construction + lookup + keys (reference nested_maps corpus).
    Map-typed cells can't cross the pandas canonicalizer, so the
    lookup/keys/size results serialize to plain columns — the oracle
    states the expected values directly (the map here is built from
    known columns, so its contents are fully determined)."""
    n = load_table(spark, sf_dir, "nation")
    m = n.select(
        "n_nationkey",
        F.create_map(
            F.lit("name"), F.col("n_name"),
            F.lit("region"), F.col("n_regionkey").cast("string"),
        ).alias("props"),
    )
    return m.select(
        "n_nationkey",
        F.element_at("props", "name").alias("name"),
        F.array_join(F.sort_array(F.map_keys("props")), ",").alias("keys_csv"),
        F.size("props").cast("int").alias("n_entries"),
    )


@register(
    "fn_json",
    oracle="""
        SELECT event_id,
               json_extract_string(props, '$.k') AS k_str,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
               CAST(json_extract_string(props, '$.missing') AS VARCHAR) AS missing
        FROM events
        WHERE event_id <= 2000
    """,
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from events.props strings."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") <= 2000)
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("int").alias("k_int"),
        F.get_json_object("props", "$.missing").alias("missing"),
    )


@register(
    "fn_conditional",
    oracle="""
        SELECT o_orderkey,
               CASE WHEN o_totalprice > 40000 THEN 'high'
                    WHEN o_totalprice > 20000 THEN 'mid'
                    ELSE 'low' END AS price_band,
               coalesce(nullif(o_orderstatus, 'O'), 'open') AS status_or_open,
               greatest(o_totalprice, 25000.0) AS at_least_25k,
               least(CAST(o_orderkey AS DOUBLE), o_totalprice) AS smaller
        FROM orders
        WHERE o_orderkey <= 3000
    """,
)
def fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 3000)
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 40000, "high")
        .when(F.col("o_totalprice") > 20000, "mid")
        .otherwise("low")
        .alias("price_band"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("open")).alias(
            "status_or_open"
        ),
        F.greatest(F.col("o_totalprice"), F.lit(25000.0)).alias("at_least_25k"),
        F.least(F.col("o_orderkey").cast("double"), F.col("o_totalprice")).alias(
            "smaller"
        ),
    )


@register(
    "fn_variant",
    oracle="""
        SELECT event_id,
               CAST(json_extract(props, '$.k') AS INT) AS k_int,
               json_extract_string(props, '$.k') AS k_str,
               CAST(json_extract(props, '$.nope') AS INT) AS missing_int
        FROM events
        WHERE event_id <= 2000
    """,
)
def fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path over the same events.props JSON that
    fn_json reads with get_json_object: parse once into the binary
    VARIANT encoding, then typed variant_get extractions. At scale
    this beats repeated get_json_object calls (one parse, many typed
    reads) and is the engine's answer to semi-structured columns."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") <= 2000)
    v = e.select("event_id", F.parse_json("props").alias("v"))
    return v.select(
        "event_id",
        F.expr("cast(variant_get(v, '$.k', 'int') as int)").alias("k_int"),
        F.expr("variant_get(v, '$.k', 'string')").alias("k_str"),
        F.expr("try_variant_get(v, '$.nope', 'int')").alias("missing_int"),
    )


@register(
    "fn_higher_order",
    oracle="""
        WITH t AS (
            SELECT o_orderkey,
                   generate_series(1, o_orderkey % 5 + 3) AS arr
            FROM orders WHERE o_orderkey <= 2000
        )
        SELECT o_orderkey,
               array_to_string(
                   list_transform(arr, x -> CAST(x * x AS VARCHAR)), ','
               ) AS squares_csv,
               array_to_string(
                   list_transform(
                       list_filter(list_transform(arr, x -> x * x),
                                   v -> v % 2 = 0),
                       v -> CAST(v AS VARCHAR)), ','
               ) AS evens_csv,
               CAST(list_sum(list_transform(arr, x -> x * x)) AS BIGINT)
                   AS sq_sum,
               CAST(list_max(arr) AS BIGINT) AS arr_max
        FROM t
    """,
)
def fn_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions — transform/filter/aggregate over
    a per-row generated array. All lambdas run JVM-side inside
    whole-stage codegen (no Python), which is the 100 TB answer for
    per-row array compute; arrays are CSV-serialized for the pandas
    canonicalizer (same discipline as agg_collect)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    arr = F.sequence(F.lit(1).cast("long"), F.col("o_orderkey") % 5 + 3)
    squares = F.transform(arr, lambda x: x * x)
    return o.select(
        "o_orderkey",
        F.array_join(
            F.transform(squares, lambda v: v.cast("string")), ","
        ).alias("squares_csv"),
        F.array_join(
            F.transform(
                F.filter(squares, lambda v: v % 2 == 0),
                lambda v: v.cast("string"),
            ),
            ",",
        ).alias("evens_csv"),
        F.aggregate(
            squares, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("sq_sum"),
        F.array_max(arr).cast("long").alias("arr_max"),
    )


@register(
    "fn_binary_hash",
    oracle="""
        SELECT c_custkey,
               md5(c_name) AS md5_hex,
               sha256(c_name) AS sha256_hex,
               to_base64(encode(c_name)) AS name_b64,
               hex(encode(c_name)) AS name_hex,
               octet_length(encode(c_name)) AS n_bytes
        FROM customer WHERE c_custkey <= 500
    """,
)
def fn_binary_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary/crypto scalar surface: md5, sha2-256, base64, hex over
    utf8 bytes. These are the content-addressing primitives the dedup
    family builds on (functions/dedup.py uses md5 for portable
    hashing); all JVM built-ins, codegen-friendly."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 500)
    name_bin = F.col("c_name").cast("binary")
    return c.select(
        "c_custkey",
        F.md5(name_bin).alias("md5_hex"),
        F.sha2(name_bin, 256).alias("sha256_hex"),
        F.base64(name_bin).alias("name_b64"),
        F.hex(name_bin).alias("name_hex"),
        F.octet_length(name_bin).cast("long").alias("n_bytes"),
    )


@register(
    "fn_calendar",
    oracle="""
        SELECT o_orderkey,
               CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS plus_2mo,
               last_day(CAST(o_orderdate AS DATE)) AS month_end,
               dayofweek(o_orderdate) + 1 AS dow,
               weekofyear(o_orderdate) AS iso_week,
               quarter(o_orderdate) AS qtr,
               dayofyear(o_orderdate) AS doy,
               strftime(o_orderdate, '%Y-%m') AS ym
        FROM orders WHERE o_orderkey <= 3000
    """,
)
def fn_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar scalar surface beyond fn_date: month arithmetic,
    month-end, day-of-week/-year, ISO week, quarter, and format. The
    Spark/DuckDB convention gap (dayofweek is 1-based Sunday-first in
    Spark, 0-based in DuckDB) is aligned in the oracle, not hidden."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 3000)
    return o.select(
        "o_orderkey",
        F.add_months("o_orderdate", 2).alias("plus_2mo"),
        F.last_day("o_orderdate").alias("month_end"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.weekofyear("o_orderdate").alias("iso_week"),
        F.quarter("o_orderdate").alias("qtr"),
        F.dayofyear("o_orderdate").alias("doy"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
    )


@register(
    "fn_try_arithmetic",
    oracle="""
        SELECT o_orderkey,
               round(o_totalprice / nullif(o_orderkey % 7, 0), 4) AS safe_div,
               TRY_CAST(o_orderpriority AS INT) AS bad_cast,
               TRY_CAST(substr(o_orderpriority, 1, 1) AS INT) AS first_digit
        FROM orders WHERE o_orderkey <= 3000
    """,
)
def fn_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe arithmetic/casts: try_divide and try_cast return
    NULL instead of failing the job — the difference between one bad
    record poisoning a 100 TB pipeline and a null you can filter.
    Oracle mirrors with x/nullif(y,0) and TRY_CAST."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 3000)
    return o.select(
        "o_orderkey",
        F.round(
            F.try_divide(F.col("o_totalprice"), F.col("o_orderkey") % 7), 4
        ).alias("safe_div"),
        F.expr("try_cast(o_orderpriority AS INT)").alias("bad_cast"),
        F.expr(
            "try_cast(substr(o_orderpriority, 1, 1) AS INT)"
        ).alias("first_digit"),
    )


@register(
    "fn_map_hof",
    oracle="""
        SELECT o_orderkey,
               array_to_string(
                   list_transform(
                       list_sort(list_filter(
                           [struct_pack(k := 'okey',
                                        v := CAST(o_orderkey AS DOUBLE) * 2),
                            struct_pack(k := 'price', v := o_totalprice * 2)],
                           e -> e.v > 1000)),
                       e -> e.k || '=' ||
                            CAST(CAST(round(e.v, 4) AS DECIMAL(18,4))
                                 AS VARCHAR)),
                   ','
               ) AS kept_csv
        FROM orders WHERE o_orderkey <= 2000
    """,
)
def fn_map_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order functions — map_from_arrays, transform_values,
    map_filter, map_entries — all JVM-side lambdas. Entries serialize
    to a key-sorted k=v CSV (values via the fixed-decimal string
    canon) so the map surface gets a real value oracle, unlike the
    rows-only fn_map."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    m = F.map_from_arrays(
        F.array(F.lit("okey"), F.lit("price")),
        F.array(
            F.col("o_orderkey").cast("double"), F.col("o_totalprice")
        ),
    )
    doubled = F.transform_values(m, lambda k, v: v * 2)
    kept = F.map_filter(doubled, lambda k, v: v > 1000)
    return o.select(
        "o_orderkey",
        F.array_join(
            F.transform(
                F.sort_array(F.map_entries(kept)),
                lambda e: F.concat(
                    e.key,
                    F.lit("="),
                    F.round(e.value, 4)
                    .cast("decimal(18,4)")
                    .cast("string"),
                ),
            ),
            ",",
        ).alias("kept_csv"),
    )


@register(
    "fn_string_predicates",
    oracle="""
        SELECT c_custkey,
               split_part(c_name, '#', 2) AS num_part,
               strpos(c_name, '#') AS hash_pos,
               reverse(c_name) AS rev,
               ascii(c_name) AS first_code,
               left(c_name, 8) AS head8,
               right(c_name, 3) AS tail3,
               contains(c_name, '00') AS has_00,
               starts_with(c_name, 'Customer') AS is_cust,
               ends_with(c_name, '1') AS ends_1
        FROM customer WHERE c_custkey <= 800
    """,
)
def fn_string_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String predicate/slicing surface beyond fn_string: split_part,
    position, reverse, ascii, left/right, contains/starts/ends. All
    codegen built-ins with identical 1-based semantics in DuckDB."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 800)
    return c.select(
        "c_custkey",
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias("num_part"),
        F.instr(F.col("c_name"), "#").alias("hash_pos"),
        F.reverse(F.col("c_name")).alias("rev"),
        F.ascii(F.col("c_name")).alias("first_code"),
        F.expr("left(c_name, 8)").alias("head8"),
        F.expr("right(c_name, 3)").alias("tail3"),
        F.col("c_name").contains("00").alias("has_00"),
        F.col("c_name").startswith("Customer").alias("is_cust"),
        F.col("c_name").endswith("1").alias("ends_1"),
    )


@register(
    "fn_array_outer",
    oracle="""
        WITH t AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 3 = 0
                        THEN CAST([] AS BIGINT[])
                        ELSE generate_series(1, o_orderkey % 3) END AS arr
            FROM orders WHERE o_orderkey <= 1000
        )
        SELECT o_orderkey,
               unnest(CASE WHEN len(arr) = 0
                           THEN [CAST(NULL AS BIGINT)] ELSE arr END) AS x
        FROM t
    """,
)
def fn_array_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer null semantics: rows with empty arrays survive
    with a NULL element instead of disappearing — the difference
    between losing and keeping documents whose extraction produced
    nothing. Narrow op, no shuffle."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    arr = F.when(
        F.col("o_orderkey") % 3 == 0, F.array().cast("array<bigint>")
    ).otherwise(F.sequence(F.lit(1).cast("long"), F.col("o_orderkey") % 3))
    return o.select("o_orderkey", F.explode_outer(arr).alias("x"))


@register(
    "fn_array_setops",
    oracle="""
        WITH t AS (
            SELECT o_orderkey,
                   generate_series(1, o_orderkey % 4 + 2) AS a,
                   generate_series(o_orderkey % 3 + 1, o_orderkey % 3 + 4) AS b
            FROM orders WHERE o_orderkey <= 1500
        )
        SELECT o_orderkey,
               coalesce(array_to_string(
                   list_sort(list_distinct(list_cat(a, b))), ','), '')
                   AS union_csv,
               coalesce(array_to_string(
                   list_sort(list_intersect(a, b)), ','), '')
                   AS intersect_csv,
               coalesce(array_to_string(
                   list_sort(list_filter(list_distinct(a),
                                         x -> NOT list_contains(b, x))), ','),
                   '') AS except_csv,
               list_has_any(a, b) AS overlaps
        FROM t
    """,
)
def fn_array_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set algebra — union/intersect/except/overlap — all JVM
    built-ins, serialized sorted for the oracle (Spark and DuckDB
    order set results differently, so the CSV canon sorts first)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1500)
    one = F.lit(1).cast("long")
    a = F.sequence(one, F.col("o_orderkey") % 4 + 2)
    b = F.sequence(F.col("o_orderkey") % 3 + 1, F.col("o_orderkey") % 3 + 4)

    def csv(arr):
        return F.array_join(
            F.transform(F.sort_array(arr), lambda v: v.cast("string")), ","
        )

    return o.select(
        "o_orderkey",
        csv(F.array_union(a, b)).alias("union_csv"),
        csv(F.array_intersect(a, b)).alias("intersect_csv"),
        csv(F.array_except(a, b)).alias("except_csv"),
        F.arrays_overlap(a, b).alias("overlaps"),
    )


@register(
    "fn_collation",
    oracle="""
        SELECT c_nationkey,
               count(*) FILTER (WHERE upper(seg_mangled) = 'BUILDING')
                   AS n_building_ci,
               count(*) AS n_total
        FROM (
            SELECT c_nationkey,
                   CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
                        ELSE c_mktsegment END AS seg_mangled
            FROM customer
        )
        GROUP BY c_nationkey
    """,
)
def fn_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware comparison (Spark 4 collations): equality under
    UTF8_LCASE matches case-mangled values without rewriting the data
    to a canonical case — the collation is a property of the
    comparison, pushed into the scan like any predicate. Oracle
    expresses the same semantics via upper()."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.when(
            F.col("c_custkey") % 2 == 0, F.lower(F.col("c_mktsegment"))
        )
        .otherwise(F.col("c_mktsegment"))
        .alias("seg_mangled"),
    )
    ci_match = F.expr(
        "collate(seg_mangled, 'UTF8_LCASE') = collate('BUILDING', 'UTF8_LCASE')"
    )
    return c.groupBy("c_nationkey").agg(
        F.count_if(ci_match).alias("n_building_ci"),
        F.count(F.lit(1)).alias("n_total"),
    )


@register(
    "fn_regex_suite",
    oracle="""
        SELECT c_custkey,
               regexp_replace(c_name, '#0*([1-9][0-9]*)', '<\\1>') AS tagged,
               len(regexp_extract_all(c_name, '0')) AS n_zeros,
               regexp_matches(c_name, '[0-9]{3}') AS has_3digits,
               regexp_extract(c_name, '([0-9]+)$', 1) AS trailing_num
        FROM customer WHERE c_custkey <= 800
    """,
)
def fn_regex_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex surface: backreference replace (Spark `$1` vs DuckDB
    `\\1` — same semantics, dialectal syntax aligned in the oracle),
    match counting, boolean match, and anchored group extraction."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 800)
    return c.select(
        "c_custkey",
        F.regexp_replace(
            F.col("c_name"), F.lit("#0*([1-9][0-9]*)"), F.lit("<$1>")
        ).alias("tagged"),
        F.regexp_count(F.col("c_name"), F.lit("0")).alias("n_zeros"),
        F.col("c_name").rlike("[0-9]{3}").alias("has_3digits"),
        F.regexp_extract(F.col("c_name"), "([0-9]+)$", 1).alias("trailing_num"),
    )


@register(
    "fn_struct_ops",
    oracle="""
        SELECT o_orderkey,
               struct_extract(struct_pack(
                   status := o_orderstatus,
                   price := round(o_totalprice, 4)), 'status') AS status_out,
               struct_extract(struct_pack(
                   status := o_orderstatus,
                   price := round(o_totalprice, 4)), 'price') AS price_out,
               struct_pack(status := o_orderstatus,
                           price := round(o_totalprice, 4))
                   = struct_pack(status := 'F',
                                 price := round(o_totalprice, 4))
                   AS is_f_struct
        FROM orders WHERE o_orderkey <= 1500
    """,
)
def fn_struct_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct (nested record) surface: construction, field access, and
    whole-struct equality — the nested-type navigation the reference's
    flatten op consumes (ParquetConverter.java record handling). All
    columnar field extractions, no serialization."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1500)
    s = F.struct(
        F.col("o_orderstatus").alias("status"),
        F.round("o_totalprice", 4).alias("price"),
    )
    s_f = F.struct(
        F.lit("F").alias("status"), F.round("o_totalprice", 4).alias("price")
    )
    return o.select(
        "o_orderkey",
        s.getField("status").alias("status_out"),
        s.getField("price").alias("price_out"),
        (s == s_f).alias("is_f_struct"),
    )


@register(
    "fn_bitwise",
    oracle="""
        SELECT o_orderkey,
               o_orderkey << 3 AS shl3,
               o_orderkey >> 2 AS shr2,
               o_orderkey & 255 AS low_byte,
               o_orderkey | 4096 AS with_flag,
               xor(o_orderkey, 65535) AS xored,
               bit_count(o_orderkey) AS popcount
        FROM orders WHERE o_orderkey <= 2000
    """,
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar surface — shifts, masks, xor, popcount — the
    primitives the simhash/LSH family builds on, pinned directly."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        F.shiftleft(k, 3).alias("shl3"),
        F.shiftright(k, 2).alias("shr2"),
        k.bitwiseAND(F.lit(255)).alias("low_byte"),
        k.bitwiseOR(F.lit(4096)).alias("with_flag"),
        k.bitwiseXOR(F.lit(65535)).alias("xored"),
        F.bit_count(k).alias("popcount"),
    )


_URL_SQL = (
    "concat('https://', source, '.example.com/docs/', "
    "CAST(doc_id AS STRING), '?lang=', lang, '&page=2')"
)


@register(
    "fn_url_parse",
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   concat('https://', source, '.example.com/docs/',
                          CAST(doc_id AS VARCHAR), '?lang=', lang,
                          '&page=2') AS url
            FROM documents
        )
        SELECT doc_id,
               regexp_extract(url, '^([a-z]+)://', 1) AS proto,
               regexp_extract(url, '^[a-z]+://([^/?]+)', 1) AS host,
               regexp_extract(url, '^[a-z]+://[^/?]+([^?]*)', 1) AS path,
               regexp_extract(url, '\\?(.*)$', 1) AS query,
               regexp_extract(url, '[?&]lang=([^&]*)', 1) AS lang_param
        FROM t
    """,
)
def fn_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition via parse_url (protocol/host/path/query plus a
    single query parameter) — the canonical web-corpus curation scalar
    (dedup by canonical host/path, filter by domain). URLs are built
    deterministically from (source, doc_id, lang) so both engines parse
    identical strings; the oracle mirrors each component with an
    anchored regex. JVM-side, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    url = F.expr(_URL_SQL)
    return d.select(
        "doc_id",
        F.parse_url(url, F.lit("PROTOCOL")).alias("proto"),
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
    )


@register(
    "fn_format_output",
    oracle="""
        SELECT c_custkey,
               printf('%s #%05d bal %.2f hex %x',
                      c_mktsegment, c_custkey, round(c_acctbal, 2),
                      c_custkey) AS line
        FROM customer
    """,
)
def fn_format_output(spark: SparkSession, sf_dir: str) -> DataFrame:
    """printf-style row formatting (format_string): string, zero-padded
    int, fixed-decimal float, and hex conversions in one template —
    the egestion scalar for fixed-width/log-line exports (the
    reference's flatten-to-string semantics, ParquetConverter.java:142,
    generalized to formatted output). Floats are pre-rounded so Java's
    HALF_UP and C's round-to-nearest agree on every printed digit."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.format_string(
            "%s #%05d bal %.2f hex %x",
            F.col("c_mktsegment"),
            F.col("c_custkey"),
            F.round(F.col("c_acctbal"), 2),
            F.col("c_custkey"),
        ).alias("line"),
    )


_AES_KEY = "0123456789012345"  # 16-byte key, reference README.md key style


@register(
    "fn_aes_roundtrip",
    oracle="""
        SELECT o_orderkey, o_orderpriority AS decrypted, TRUE AS matches
        FROM orders WHERE o_orderkey <= 2000
    """,
)
def fn_aes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level AES encrypt/decrypt roundtrip (ECB for determinism;
    production uses GCM whose random IV is exactly why ciphertext
    can't be oracle-checked — the ROUNDTRIP is the checkable
    contract). The engine-side sibling of the corpus' Parquet modular
    encryption (reference README.md:37-50, encrypted_corpus_reads):
    there the FILE decrypts, here an individual column does, with the
    same published-key discipline. JVM-side, no shuffle."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    key = F.lit(_AES_KEY)
    mode = F.lit("ECB")
    enc = F.aes_encrypt(
        F.col("o_orderpriority").cast("binary"), key.cast("binary"), mode
    )
    dec = F.aes_decrypt(enc, key.cast("binary"), mode).cast("string")
    return o.select(
        "o_orderkey",
        dec.alias("decrypted"),
        (dec == F.col("o_orderpriority")).alias("matches"),
    )


@register(
    "fn_json_nested_roundtrip",
    oracle="""
        SELECT o_orderkey,
               o_orderstatus AS status_back,
               round(o_totalprice, 2) AS price_back,
               o_orderpriority AS tag
        FROM orders
        WHERE o_orderkey <= 2000
    """,
)
def fn_json_nested_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested JSON roundtrip: rows serialize to a nested document
    (struct + array fields via to_json), parse back with an explicit
    nested schema (from_json), and the array explodes to rows — the
    degrade-to-JSON / recover-typed cycle the reference's
    stringification fallback implies (ParquetConverter.java:300-303:
    complex values become LONGVARCHAR). The oracle checks the
    recovered values equal the originals — any serialization or
    schema-mapping drift breaks equality. JVM-side json codecs, no
    Python."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    doc = F.to_json(
        F.struct(
            F.struct(
                F.col("o_orderstatus").alias("status"),
                F.round("o_totalprice", 2).alias("price"),
            ).alias("order"),
            F.array(F.col("o_orderpriority")).alias("tags"),
        )
    )
    schema = (
        "STRUCT<order: STRUCT<status: STRING, price: DOUBLE>, "
        "tags: ARRAY<STRING>>"
    )
    parsed = o.select(
        "o_orderkey", F.from_json(doc, schema).alias("j")
    )
    return parsed.select(
        "o_orderkey",
        F.col("j.order.status").alias("status_back"),
        F.col("j.order.price").alias("price_back"),
        F.explode(F.col("j.tags")).alias("tag"),
    )


@register(
    "fn_try_datetime_parse",
    oracle="""
        WITH t AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 5 = 0 THEN 'not-a-date'
                        ELSE strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') END
                       AS raw
            FROM orders
        )
        SELECT count(*) AS n_rows,
               count(TRY_CAST(raw AS TIMESTAMP)) AS n_parsed,
               CAST(min(epoch(TRY_CAST(raw AS TIMESTAMP))) AS BIGINT)
                   AS min_epoch
        FROM t
    """,
)
def fn_try_datetime_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant timestamp parsing: a string column with injected
    garbage (every 5th row) goes through try_to_timestamp — bad rows
    become NULL instead of failing the job, the ingestion-quarantine
    discipline for datetime fields (sibling of fn_try_arithmetic and
    source_corrupt_records). Counts + min epoch pin exactly which rows
    parsed."""
    o = load_table(spark, sf_dir, "orders")
    raw = F.when(F.col("o_orderkey") % 5 == 0, F.lit("not-a-date")).otherwise(
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")
    )
    parsed = F.try_to_timestamp(raw)
    return o.select(parsed.alias("p")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("p").alias("n_parsed"),
        F.min(F.unix_timestamp(F.col("p"))).cast("bigint").alias("min_epoch"),
    )


@register(
    "fn_map_merge",
    oracle="""
        SELECT o_orderkey,
               concat('n:', CAST(o_orderkey % 7 AS VARCHAR),
                      '|p:', o_orderpriority,
                      '|s:', o_orderstatus, '+', o_orderpriority)
                   AS merged_ser
        FROM orders WHERE o_orderkey <= 2000
    """,
)
def fn_map_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map merge with conflict resolution: two maps sharing a key are
    combined via map_zip_with (concatenating both values on conflict,
    keeping the survivor otherwise) after a map_concat-free union —
    the remaining map HOF next to fn_map_hof's transform/filter. The
    result serializes to sorted k:v text (maps are unordered — §7.3
    discipline from fn_map), so the oracle states the expected
    serialization directly."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    m1 = F.create_map(
        F.lit("n"), (F.col("o_orderkey") % 7).cast("string"),
        F.lit("s"), F.col("o_orderstatus"),
    )
    m2 = F.create_map(
        F.lit("p"), F.col("o_orderpriority"),
        F.lit("s"), F.col("o_orderpriority"),
    )
    merged = F.map_zip_with(
        m1, m2, lambda k, v1, v2: F.coalesce(
            F.concat(v1, F.lit("+"), v2), v1, v2
        )
    )
    ser = F.array_join(
        F.sort_array(
            F.transform(
                F.map_entries(merged),
                lambda e: F.concat(e["key"], F.lit(":"), e["value"]),
            )
        ),
        "|",
    )
    return o.select("o_orderkey", ser.alias("merged_ser"))


@register(
    "fn_xpath_extract",
    oracle="""
        SELECT o_orderkey,
               o_orderstatus AS status_x,
               CAST(o_custkey AS VARCHAR) AS cust_x,
               o_orderpriority AS prio_x
        FROM orders WHERE o_orderkey <= 2000
    """,
)
def fn_xpath_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XPath extraction over XML-typed strings (xpath_string): rows
    serialize to a small XML doc, the xpath family pulls typed fields
    back out — the in-row XML surface complementing the file-level XML
    source (write_xml_roundtrip). Oracle states the original values:
    any serialization or path-evaluation drift breaks the roundtrip.
    JVM-side (javax.xml), no Python."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    xml = F.concat(
        F.lit("<order><status>"),
        F.col("o_orderstatus"),
        F.lit("</status><cust>"),
        F.col("o_custkey").cast("string"),
        F.lit("</cust><prio>"),
        F.col("o_orderpriority"),
        F.lit("</prio></order>"),
    )
    return o.select(
        "o_orderkey",
        F.xpath_string(xml, F.lit("/order/status")).alias("status_x"),
        F.xpath_string(xml, F.lit("/order/cust")).alias("cust_x"),
        F.xpath_string(xml, F.lit("/order/prio")).alias("prio_x"),
    )


@register(
    "fn_number_format_roundtrip",
    oracle="""
        SELECT o_orderkey,
               round(o_totalprice, 2) AS parsed_back,
               TRUE AS matches
        FROM orders WHERE o_orderkey <= 2000
    """,
)
def fn_number_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Locale-format number egestion/ingestion: to_char renders a
    decimal with an explicit picture format, to_number parses it back
    — the fixed-format export/import cycle (bank files, mainframe
    feeds) that plain casts can't express. The roundtrip must recover
    the original to the cent; the oracle states it. JVM-side."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    amount = F.round("o_totalprice", 2).cast("decimal(12,2)")
    formatted = F.to_char(amount, F.lit("999999999.99"))
    parsed = F.to_number(F.trim(formatted), F.lit("999999999.99"))
    return o.select(
        "o_orderkey",
        parsed.cast("double").alias("parsed_back"),
        (parsed == amount).alias("matches"),
    )


@register(
    "fn_uuid_deterministic",
    oracle="""
        WITH minted AS (
            SELECT c_custkey,
                   md5(concat('cust-ns:', CAST(c_custkey AS VARCHAR))) AS h
            FROM customer WHERE c_custkey <= 100
        )
        SELECT c_custkey,
               concat_ws('-', substr(h, 1, 8), substr(h, 9, 4),
                         substr(h, 13, 4), substr(h, 17, 4),
                         substr(h, 21, 12)) AS stable_uuid,
               regexp_matches(
                   concat_ws('-', substr(h, 1, 8), substr(h, 9, 4),
                             substr(h, 13, 4), substr(h, 17, 4),
                             substr(h, 21, 12)),
                   '^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$'
               ) AS is_canonical
        FROM minted
    """,
)
def fn_uuid_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic surrogate-key minting: UUIDv5-style ids derived
    from md5(namespace:business_key), formatted 8-4-4-4-12 — the
    stable-id pattern for idempotent re-ingestion (same input row ->
    same id on every run, unlike uuid(), which is nondeterministic and
    breaks retry semantics). Pure JVM expressions (md5/substr/concat),
    embarrassingly parallel, no shuffle. Probe set custkey <= 100 keeps
    the driver diff small; the expression itself is per-row at any
    scale."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") <= 100)
    h = F.md5(F.concat(F.lit("cust-ns:"), F.col("c_custkey").cast("string")))
    minted = c.select("c_custkey", h.alias("h"))
    uuid = F.concat_ws(
        "-",
        F.substring("h", 1, 8),
        F.substring("h", 9, 4),
        F.substring("h", 13, 4),
        F.substring("h", 17, 4),
        F.substring("h", 21, 12),
    )
    return minted.select(
        "c_custkey",
        uuid.alias("stable_uuid"),
        uuid.rlike(
            "^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$"
        ).alias("is_canonical"),
    )


@register(
    "fn_unicode_lengths",
    oracle="""
        WITH samples(s) AS (
            VALUES ('ascii only'), ('café'), ('naïve résumé'),
                   ('数据处理引擎'), ('Ωμέγα τεστ'), ('mix中of文both')
        )
        SELECT s,
               length(s) AS char_len,
               strlen(s) AS byte_len,
               substr(s, 1, 3) AS first3,
               reverse(s) AS reversed
        FROM samples
    """,
)
def fn_unicode_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode string semantics: character length vs UTF-8 byte
    length, character-addressed substr, and codepoint reverse over
    multi-byte text (Latin accents, CJK, Greek). Both engines index
    strings by codepoint, not byte — the property that keeps chunking
    / truncation logic (doc_chunk_overlap, seq_len_distribution)
    correct on non-English corpora, where byte-based slicing would
    split a character mid-sequence. Pure per-row expressions, no
    shuffle."""
    samples = spark.createDataFrame(
        [
            ("ascii only",),
            ("café",),
            ("naïve résumé",),
            ("数据处理引擎",),
            ("Ωμέγα τεστ",),
            ("mix中of文both",),
        ],
        ["s"],
    )
    return samples.select(
        "s",
        F.length("s").alias("char_len"),
        F.octet_length("s").alias("byte_len"),
        F.substring("s", 1, 3).alias("first3"),
        F.reverse("s").alias("reversed"),
    )


@register(
    "fn_from_csv_parse",
    oracle="""
        SELECT o_orderkey,
               o_orderkey AS k,
               o_orderstatus AS s,
               round(o_totalprice, 2) AS p,
               true AS roundtrip_ok
        FROM orders WHERE o_orderkey <= 200
    """,
)
def fn_from_csv_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedded-CSV parsing: rows are serialized to a CSV line
    (decimal-formatted so the text is canonical), then parsed back
    with from_csv against a typed schema — the pattern for CSV
    payloads embedded in message envelopes (Kafka values, log lines).
    The parse is a JVM expression (UnivocityParser under the hood),
    per-row, no shuffle; schema violations would surface as NULL
    columns rather than job failure, which is the permissive-mode
    contract (strict mode is mode=FAILFAST). The oracle computes the
    expected typed output directly — the roundtrip equality IS the
    check."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 200)
    line = F.concat_ws(
        ",",
        F.col("o_orderkey").cast("string"),
        F.col("o_orderstatus"),
        F.round("o_totalprice", 2).cast("decimal(18,2)").cast("string"),
    )
    parsed = o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.from_csv(line, "k BIGINT, s STRING, p DOUBLE").alias("r"),
    )
    return parsed.select(
        "o_orderkey",
        F.col("r.k").alias("k"),
        F.col("r.s").alias("s"),
        F.round("r.p", 2).alias("p"),
        (
            (F.col("r.k") == F.col("o_orderkey"))
            & (F.col("r.s") == F.col("o_orderstatus"))
        ).alias("roundtrip_ok"),
    )


@register(
    "fn_na_handling",
    oracle="""
        WITH base AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 7 = 0 THEN NULL
                        ELSE o_orderpriority END AS pr,
                   CASE WHEN o_orderkey % 11 = 0 THEN NULL
                        ELSE o_totalprice END AS tp
            FROM orders
        ),
        dropped AS (
            SELECT count(*) AS n_after_drop FROM base
            WHERE pr IS NOT NULL AND tp IS NOT NULL
        ),
        repl AS (
            SELECT o_orderkey,
                   CASE coalesce(pr, 'UNKNOWN')
                        WHEN '1-URGENT' THEN 'P1'
                        ELSE coalesce(pr, 'UNKNOWN') END AS pr,
                   coalesce(tp, 0.0) AS tp
            FROM base
        ),
        stats AS (
            SELECT count(*) AS n_rows,
                   CAST(sum(CASE WHEN pr = 'UNKNOWN' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_filled_pr,
                   CAST(sum(CASE WHEN pr = 'P1' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_p1,
                   CAST(sum(CAST(floor(tp * 100.0 + 0.5)
                                 AS DECIMAL(38, 0))) AS DOUBLE) / 100.0
                       AS sum_filled_tp
            FROM repl
        )
        SELECT n_rows, n_filled_pr, n_p1, sum_filled_tp, n_after_drop
        FROM stats CROSS JOIN dropped
    """,
)
def fn_na_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrameNaFunctions surface — na.drop / na.fill / na.replace,
    the missing-data triage API every ingestion notebook starts with.
    Nulls are injected deterministically (orderkey mod), then:
    na.drop(subset) row count, na.fill of both a string and a double
    column, and na.replace of a category value, all reduced to one
    auditable row. Each na.* call compiles to plain Project/Filter
    expressions (coalesce/CASE) — nothing leaves codegen, and the
    oracle states the identical relational meaning."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, None)
        .otherwise(F.col("o_orderpriority"))
        .alias("pr"),
        F.when(F.col("o_orderkey") % 11 == 0, None)
        .otherwise(F.col("o_totalprice"))
        .alias("tp"),
    )
    dropped = o.na.drop(subset=["pr", "tp"]).agg(
        F.count("*").alias("n_after_drop")
    )
    repl = o.na.fill({"pr": "UNKNOWN", "tp": 0.0}).na.replace(
        "1-URGENT", "P1", subset=["pr"]
    )
    stats = repl.agg(
        F.count("*").alias("n_rows"),
        F.sum((F.col("pr") == "UNKNOWN").cast("long")).alias("n_filled_pr"),
        F.sum((F.col("pr") == "P1").cast("long")).alias("n_p1"),
        # exact cents summed by exact_sum: the 2dp headroom argument died
        # at the sf3 screen (~1e12 magnitude drifted in the 2nd
        # decimal)
        (
            exact_sum(F.floor(F.col("tp") * 100.0 + 0.5)).cast("double")
            / 100.0
        ).alias("sum_filled_tp"),
    )
    return stats.crossJoin(F.broadcast(dropped))


@register(
    "fn_mask_redact",
    oracle="""
        SELECT c_custkey,
               regexp_replace(regexp_replace(regexp_replace(
                   c_name, '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'),
                   '[0-9]', 'n', 'g') AS masked_default,
               regexp_replace(c_name, '[0-9]', '*', 'g') AS masked_digits,
               CAST(length(c_name) AS BIGINT) AS orig_len
        FROM customer
    """,
)
def fn_mask_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in mask() redaction (Spark 3.4+): class-preserving
    masking — uppercase→X, lowercase→x, digit→n by default, with
    per-class overrides (here: digits-only masking that keeps the
    readable prefix). The shape-preserving property (length and
    character classes survive) is what makes masked columns still
    joinable/groupable for analytics while unlinkable as PII —
    complements text_pii_redaction's regex scrubbing with the
    engine-native primitive. Oracle states the same masking as
    explicit character-class regexp_replace chains."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.mask("c_name").alias("masked_default"),
        F.mask(
            "c_name",
            upperChar=F.lit(None).cast("string"),
            lowerChar=F.lit(None).cast("string"),
            digitChar=F.lit("*"),
            otherChar=F.lit(None).cast("string"),
        ).alias("masked_digits"),
        F.length("c_name").cast("bigint").alias("orig_len"),
    )


# ---------------------------------------------------------------------------
# fn_interval_arithmetic — calendar interval math with portable duals

_IVAL_CUTOFF = "1998-12-01"


@register(
    "fn_interval_arithmetic",
    oracle=f"""
        SELECT o_orderkey, o_orderdate,
               CAST(o_orderdate + INTERVAL 90 DAY AS DATE) AS due_90d,
               last_day(o_orderdate) AS eom,
               -- month-add spelled as explicit make_date arithmetic
               -- (= add_months clamp semantics): DuckDB 1.0.0 wrongly
               -- common-subexpression-folds two `col + INTERVAL`
               -- additions over a parquet scan into one, so
               -- `o_orderdate + INTERVAL 3 MONTH` here returns the
               -- +90-day result (verified: literal inputs are fine,
               -- view columns are not)
               make_date(
                   year(o_orderdate)
                   + CAST(floor((month(o_orderdate) + 2) / 12.0) AS INT),
                   ((month(o_orderdate) + 2) % 12) + 1,
                   least(day(o_orderdate),
                         day(last_day(make_date(
                             year(o_orderdate)
                             + CAST(floor((month(o_orderdate) + 2) / 12.0)
                                    AS INT),
                             ((month(o_orderdate) + 2) % 12) + 1,
                             1))))
               ) AS plus3m,
               CAST(o_orderdate
                    + CAST((7 - (isodow(o_orderdate) - 1)) || ' days'
                           AS INTERVAL) AS DATE) AS next_monday,
               CAST(datediff('day', o_orderdate, DATE '{_IVAL_CUTOFF}')
                    AS BIGINT) AS age_days,
               CAST(floor(datediff('day', o_orderdate,
                                   DATE '{_IVAL_CUTOFF}') / 7.0)
                    AS BIGINT) AS age_weeks,
               CAST((1998 - year(o_orderdate)) * 12
                    + (12 - month(o_orderdate)) AS BIGINT)
                   AS months_to_cutoff
        FROM orders
        WHERE o_orderkey % 100 = 0
        ORDER BY o_orderkey
    """,
)
def fn_interval_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar interval arithmetic surface: day/month interval
    addition (with the end-of-month clamp add_months defines),
    last-day-of-month, next-weekday alignment, day/week/month distance
    to a cutoff. Each expression is chosen to have an EXACT cross-
    engine dual: weekday alignment goes through Monday-0 weekday
    numbers (Spark weekday == DuckDB isodow-1) rather than the
    engines' incompatible dayofweek conventions, and month distance is
    explicit year/month arithmetic rather than months_between (whose
    fractional semantics differ). Narrow per-row projection — scales
    as a scan."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 100 == 0
    )
    cutoff = F.lit(_IVAL_CUTOFF).cast("date")
    wd = F.weekday("o_orderdate")  # Monday = 0
    age_days = F.datediff(cutoff, F.col("o_orderdate"))
    return o.select(
        "o_orderkey",
        "o_orderdate",
        F.date_add("o_orderdate", 90).alias("due_90d"),
        F.last_day("o_orderdate").alias("eom"),
        F.add_months("o_orderdate", 3).alias("plus3m"),
        F.date_add("o_orderdate", 7 - wd).alias("next_monday"),
        age_days.cast("bigint").alias("age_days"),
        F.floor(age_days / 7.0).cast("bigint").alias("age_weeks"),
        (
            (1998 - F.year("o_orderdate")) * 12
            + (12 - F.month("o_orderdate"))
        )
        .cast("bigint")
        .alias("months_to_cutoff"),
    ).orderBy("o_orderkey")
