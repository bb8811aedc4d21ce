"""exact_percentiles must be BIT-identical to F.percentile.

agg_approx_percentile's rank-band check compares the GK sketch values
against the exact interpolated quantiles with >= / <= — a single-ulp
drift in the exact values could flip the boolean when a sketch value
lands exactly on a band edge, so "close" is not enough: every double
must match F.percentile's bit for bit. These cases force the
interpolation edge paths: heavy ties (the lower==higher-value
short-circuit), n=1/n=2 (position floor==ceil), negatives, nulls, and
fractions that land exactly on integer positions."""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from parquet_playground_spark.operators.distrank import exact_percentiles

FRACTIONS = [0.0, 0.245, 0.25, 0.5, 0.745, 0.75, 0.755, 0.99, 1.0]


def _bits(x):
    return None if x is None else struct.pack("<d", x)


def _check(spark, values, fractions=FRACTIONS, n_buckets=8):
    df = spark.createDataFrame(
        [(v,) for v in values], "v double"
    )
    ref = df.agg(
        F.percentile("v", F.array(*[F.lit(f) for f in fractions])).alias(
            "eq"
        )
    ).collect()[0].eq
    got_row = exact_percentiles(
        df, "v", fractions, n_buckets=n_buckets
    ).collect()[0]
    got = [got_row[f"e{i}"] for i in range(len(fractions))]
    assert len(ref) == len(got)
    for i, (a, b) in enumerate(zip(ref, got)):
        assert _bits(a) == _bits(b), (
            f"fraction {fractions[i]}: F.percentile={a!r} "
            f"exact_percentiles={b!r}"
        )


def test_interpolated_values_bit_identical(spark):
    # non-trivial spread with duplicates and negatives
    values = [3.25, -1.5, 0.0, 7.75, 3.25, 3.25, 100.125, -1.5, 42.0,
              0.0625, 9.5, 9.5, 9.5, 9.5, -273.15, 1e12, 1e-12]
    _check(spark, values)


def test_heavy_ties_short_circuit(spark):
    # one dominant value: lower/higher indices usually land inside the
    # same (value, count) run -> the v_lo == v_hi short-circuit path
    values = [5.0] * 50 + [1.0, 2.0, 3.0, 8.0, 9.0]
    _check(spark, values)


@pytest.mark.parametrize("n", [1, 2, 3])
def test_tiny_inputs(spark, n):
    values = [float(i) * 1.1 for i in range(n)]
    _check(spark, values)


def test_nulls_skipped(spark):
    df = spark.createDataFrame(
        [(1.0,), (None,), (2.0,), (None,), (3.0,), (4.0,)], "v double"
    )
    ref = df.agg(
        F.percentile("v", F.array(F.lit(0.5), F.lit(0.25))).alias("eq")
    ).collect()[0].eq
    got_row = exact_percentiles(df, "v", [0.5, 0.25], n_buckets=4).collect()[
        0
    ]
    assert _bits(ref[0]) == _bits(got_row["e0"])
    assert _bits(ref[1]) == _bits(got_row["e1"])


def test_single_distinct_value(spark):
    # span == 0: every row lands in bucket 0 (the when(span == 0) arm)
    _check(spark, [7.25] * 13, fractions=[0.0, 0.5, 1.0], n_buckets=4)


@pytest.mark.parametrize("values", [[], [None, None, None]])
def test_empty_or_all_null_gives_one_row_of_nulls(spark, values):
    """No non-NULL value: one row of NULL e_i, where F.percentile
    gives one NULL array (documented in exact_percentiles)."""
    df = spark.createDataFrame([(v,) for v in values], "v double")
    ref = df.agg(
        F.percentile("v", F.array(F.lit(0.5), F.lit(0.9))).alias("eq")
    ).collect()
    assert [r.eq for r in ref] == [None]
    got = exact_percentiles(df, "v", [0.5, 0.9], n_buckets=4).collect()
    assert [r.asDict() for r in got] == [{"e0": None, "e1": None}]
