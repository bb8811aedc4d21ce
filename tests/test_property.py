"""Property-based engine parity (hypothesis).

Beyond the fixed oracle queries: for randomized filter predicates and
aggregation choices over orders, the Spark DataFrame result must equal
DuckDB running the equivalent SQL. This probes the predicate/cast
surface at points no hand-written query pins — boundary thresholds,
empty results, combined conjunctions.

Examples are capped (Spark job per example) and deadline-disabled:
correctness, not latency, is under test.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from parquet_playground_spark.operators.aggregates import exact_sum, exact_sum_sql
from tests.conftest import SF_DIR

LONG_MIN, LONG_MAX = -(1 << 63), (1 << 63) - 1

STATUSES = ["F", "O", "P"]
PRIORITIES = [
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
]


def _orders(spark):
    from parquet_playground_spark.tables import load_table

    return load_table(spark, SF_DIR, "orders")


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    threshold=st.floats(
        min_value=0.0, max_value=70000.0, allow_nan=False, allow_infinity=False
    ),
    status=st.sampled_from(STATUSES),
    strict=st.booleans(),
)
def test_filter_count_parity(spark, oracle_con, threshold, status, strict):
    op = ">" if strict else ">="
    spark_n = (
        _orders(spark)
        .filter(
            (
                F.col("o_totalprice") > threshold
                if strict
                else F.col("o_totalprice") >= threshold
            )
            & (F.col("o_orderstatus") == status)
        )
        .count()
    )
    duck_n = oracle_con.sql(
        f"SELECT count(*) FROM orders "
        f"WHERE o_totalprice {op} {threshold!r} AND o_orderstatus = '{status}'"
    ).fetchone()[0]
    assert spark_n == duck_n


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lo=st.integers(min_value=1, max_value=14000),
    width=st.integers(min_value=0, max_value=2000),
    priority=st.sampled_from(PRIORITIES),
)
def test_group_sum_parity(spark, oracle_con, lo, width, priority):
    hi = lo + width
    row = (
        _orders(spark)
        .filter(
            F.col("o_orderkey").between(lo, hi)
            & (F.col("o_orderpriority") == priority)
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("s"),
        )
        .collect()[0]
    )
    duck = oracle_con.sql(
        f"SELECT count(*), round(sum(o_totalprice), 2) FROM orders "
        f"WHERE o_orderkey BETWEEN {lo} AND {hi} "
        f"AND o_orderpriority = '{priority}'"
    ).fetchone()
    assert row["n"] == duck[0]
    assert (row["s"] is None) == (duck[1] is None)
    if row["s"] is not None:
        assert abs(row["s"] - duck[1]) < 1e-6


@settings(max_examples=50, deadline=None)
@given(s=st.text(min_size=0, max_size=40))
def test_portable_md5_bucket_parity(oracle_con, s):
    """The md5-derived bucket used by every deterministic sample /
    salt / LSH bucket must agree between a pure-Python reimplementation
    and the DuckDB oracle expression for arbitrary strings — the
    portability contract both engines' query halves rely on."""
    import hashlib

    if "'" in s or "\x00" in s:  # SQL literal escaping out of scope
        return
    py = int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % 100
    duck = oracle_con.sql(
        "SELECT CAST(concat('0x', substr(md5(?), 1, 8)) AS BIGINT) % 100",
        params=[s],
    ).fetchone()[0]
    assert py == duck


@settings(max_examples=100, deadline=None)
@given(x=st.integers(0, 15), y=st.integers(0, 15))
def test_morton_interleave_is_bijective_and_monotone(x, y):
    """The Z-order interleave (zorder_morton_layout) must be a
    bijection on the 16x16 grid with the defining bit property:
    deinterleaving odd/even bits recovers (x, y)."""
    z = 0
    for i in range(4):
        z += ((x >> i) & 1) << (2 * i + 1)
        z += ((y >> i) & 1) << (2 * i)
    xr = sum(((z >> (2 * i + 1)) & 1) << i for i in range(4))
    yr = sum(((z >> (2 * i)) & 1) << i for i in range(4))
    assert (xr, yr) == (x, y)
    assert 0 <= z < 256


@settings(max_examples=30, deadline=None)
@given(
    vals=st.lists(
        st.floats(
            min_value=-1.0, max_value=1.0,
            allow_nan=False, allow_infinity=False,
        ),
        min_size=1,
        max_size=12,
    )
)
def test_ewma_fold_matches_direct_formula(vals):
    """The ordered-fold EWMA (ts_ewma_bounded) must equal the direct
    weighted-sum definition: newest weight decay^0, oldest decay^(n-1),
    normalized by the geometric sum."""
    decay = 0.7
    acc = vals[0]
    for v in vals[1:]:
        acc = acc * decay + v
    n = len(vals)
    direct = sum(v * decay ** (n - 1 - i) for i, v in enumerate(vals))
    wsum = (1 - decay**n) / (1 - decay)
    assert abs(acc - direct) < 1e-9
    assert wsum > 0


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    k=st.sampled_from([1, 2, 4, 6]),
)
def test_round_stable_is_bit_identical_across_engines(
    spark, oracle_con, seed, k
):
    """The floor-convention round (floor(x*10^k + 0.5)/10^k) must give
    bit-identical doubles in Spark and DuckDB — including the .xx5
    representation edges where the engines' native round() conventions
    systematically diverge. Values are built adversarially: exact
    multiples of 10^-(k+1) (half of which land on a rounding edge at
    scale k) plus random doubles."""
    import random

    rng = random.Random(seed)
    step = 10 ** -(k + 1)
    vals = [round(rng.randrange(0, 10**7) * step, k + 1) for _ in range(200)]
    vals += [rng.uniform(0, 10**4) for _ in range(100)]
    scale = float(10**k)

    sdf = spark.createDataFrame([(v,) for v in vals], "x double").select(
        (F.floor(F.col("x") * scale + F.lit(0.5)) / F.lit(scale)).alias("r")
    )
    spark_res = [row["r"] for row in sdf.collect()]

    # CAST each literal: DuckDB types bare decimal literals as DECIMAL,
    # which overflows at scale and rounds differently than DOUBLE
    placeholders = ", ".join(f"(CAST({v!r} AS DOUBLE))" for v in vals)
    duck_res = [
        r[0]
        for r in oracle_con.sql(
            f"SELECT floor(x * {scale} + 0.5) / {scale} AS r "
            f"FROM (VALUES {placeholders}) t(x)"
        ).fetchall()
    ]
    # bit-identical, not approximately equal (order-insensitive: Spark
    # does not guarantee collect order across partitions)
    assert sorted(v.hex() for v in spark_res) == sorted(
        v.hex() for v in duck_res
    )


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(seed=st.integers(min_value=0, max_value=2**31 - 1))
def test_preround_decimal_cast_parity(spark, oracle_con, seed):
    """The fn_cast_decimal fix class: after the shared floor-convention
    pre-round to 2 decimals, double→DECIMAL(18,2) casts must agree
    between Spark (HALF_UP on string form) and DuckDB (binary round) —
    the pre-round parks every value ~0.005 from a boundary, so the
    conventions cannot diverge. Random values include forced .xx5
    edges (the case that failed the r2 driver hash un-pre-rounded)."""
    import random

    rng = random.Random(seed)
    vals = [round(rng.randrange(0, 10**7) * 0.001, 3) for _ in range(200)]
    vals += [rng.uniform(0, 10**4) for _ in range(100)]

    sdf = spark.createDataFrame([(v,) for v in vals], "x double").select(
        (F.floor(F.col("x") * 100.0 + F.lit(0.5)) / F.lit(100.0))
        .cast("decimal(18,2)")
        .cast("string")
        .alias("d")
    )
    spark_res = sorted(row["d"] for row in sdf.collect())

    placeholders = ", ".join(f"(CAST({v!r} AS DOUBLE))" for v in vals)
    duck_res = sorted(
        r[0]
        for r in oracle_con.sql(
            "SELECT CAST(CAST(floor(x * 100.0 + 0.5) / 100.0 "
            "AS DECIMAL(18,2)) AS VARCHAR) AS d "
            f"FROM (VALUES {placeholders}) t(x)"
        ).fetchall()
    )
    assert spark_res == duck_res


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(seed=st.integers(min_value=0, max_value=2**31 - 1))
def test_distrank_equals_single_partition_windows(spark, seed):
    """The distrank bucket two-pass must equal Spark's own
    single-partition window functions on arbitrary data with heavy
    ties: global_rank == row_number, inclusive/exclusive
    global_running_agg == the corresponding framed window agg, and
    ntile_from_rank == ntile — same total order, any bucket layout."""
    import random as _random

    from pyspark.sql import Window
    from parquet_playground_spark.operators.distrank import (
        global_rank,
        global_running_agg,
        ntile_from_rank,
    )

    rng = _random.Random(seed)
    n = rng.randint(1, 60)
    rows = [
        # metric drawn from a tiny domain => many ties; unique key
        (i, rng.randint(0, 6), rng.randint(0, 100))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "k int, m int, v int")
    w = Window.orderBy("m", "k")

    expected = df.select(
        "k",
        F.row_number().over(w).alias("rn"),
        F.ntile(3).over(w).cast("bigint").alias("nt"),
        F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "cs"
        ),
        F.max("v").over(w.rowsBetween(Window.unboundedPreceding, -1)).alias(
            "pm"
        ),
    )
    got = global_rank(df, "m", ["k"], n_buckets=4, rank_col="rn")
    got = global_running_agg(
        got, "m", ["k"], F.col("v"), agg="sum", n_buckets=4, out_col="cs"
    )
    got = global_running_agg(
        got,
        "m",
        ["k"],
        F.col("v"),
        agg="max",
        inclusive=False,
        n_buckets=4,
        out_col="pm",
    )
    n_df = df.agg(F.count(F.lit(1)).alias("__n"))
    got = got.crossJoin(F.broadcast(n_df)).select(
        "k",
        F.col("rn").cast("int").alias("rn"),
        ntile_from_rank(F.col("rn"), F.col("__n"), 3).alias("nt"),
        "cs",
        "pm",
    )
    exp = {r["k"]: (r["rn"], r["nt"], r["cs"], r["pm"]) for r in expected.collect()}
    act = {r["k"]: (r["rn"], r["nt"], r["cs"], r["pm"]) for r in got.collect()}
    assert act == exp


def _py_sum(values):
    present = [v for v in values if v is not None]
    return sum(present) if present else None


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 3),
            st.one_of(
                st.none(),
                st.integers(LONG_MIN, LONG_MAX),
                st.sampled_from([LONG_MIN, LONG_MAX, 1 << 62, -(1 << 62), -1]),
            ),
        ),
        max_size=40,
    )
)
@example(rows=[])
@example(
    rows=[(0, None), (0, None), (1, LONG_MAX), (1, LONG_MAX), (2, LONG_MIN),
          (2, LONG_MIN), (3, 1 << 62), (3, -(1 << 62)), (3, None)]
)
def test_exact_sum_matches_python_and_decimal_sum(spark, rows):
    """exact_sum's int64 limbs give Python's exact integer sum, and the
    value and type of F.sum(cast decimal(38,0)) it replaces, for any
    int64 mix: negatives, the extremes, NULLs, all-NULL groups and an
    empty input (one NULL row from a global aggregate). Its SQL text
    form, exact_sum_sql, gives the same on the same rows."""
    df = spark.createDataFrame(rows, "g int, v bigint")
    new, old = exact_sum(F.col("v")), F.sum(F.col("v").cast("decimal(38,0)"))
    text = F.expr(exact_sum_sql("v"))
    grouped = df.groupBy("g").agg(new.alias("e"), old.alias("d"), text.alias("t"))
    whole = df.agg(new.alias("e"), old.alias("d"), text.alias("t"))
    for frame in (grouped, whole):
        assert frame.schema["e"].dataType == DecimalType(38, 0)
        assert frame.schema["e"].dataType == frame.schema["d"].dataType
        assert frame.schema["t"].dataType == frame.schema["d"].dataType
        assert all(r["t"] == r["e"] for r in frame.collect())

    by_group = {}
    for g, v in rows:
        by_group.setdefault(g, []).append(v)
    expected = {g: _py_sum(vs) for g, vs in by_group.items()}
    got = {r["g"]: (r["e"], r["d"]) for r in grouped.collect()}
    assert got == {g: (s, s) for g, s in expected.items()}
    (w,) = whole.collect()
    total = _py_sum([v for _, v in rows])
    assert (w["e"], w["d"]) == (total, total)


def test_exact_sum_raises_on_limb_overflow(spark):
    """2^20 rows of Long.MaxValue are the largest such sum the hi limb
    holds: exact. One more row overflows it, and ANSI mode raises
    ARITHMETIC_OVERFLOW instead of returning a wrapped total."""

    def total(n):
        one = spark.range(n).select(F.lit(LONG_MAX).alias("v"))
        return one.agg(exact_sum(F.col("v")).alias("s")).collect()[0]["s"]

    assert total(1 << 20) == (1 << 20) * LONG_MAX
    with pytest.raises(ArithmeticException, match="ARITHMETIC_OVERFLOW"):
        total((1 << 20) + 1)
