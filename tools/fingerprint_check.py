"""Full-output FINGERPRINT check for big-output queries at high SF.

The strict tier of verify_local collects both result sets into pandas
and value-hashes them — infeasible for per-event outputs (1e8 rows at
sf100). The count-only degradation proves cardinality but not values.
This tool closes the gap with an order-insensitive, column-complete
fingerprint computed INDEPENDENTLY on both engines over the full
output, without ever collecting it:

  per column, by type —
    int / bool:    sum(CAST(col AS DECIMAL(38,0)))      (exact, no overflow)
    float/double:  sum(CAST(floor(col * 1e6) AS DECIMAL(38,0)))
                   (integer micro-units; floor of the same IEEE double
                   is engine-independent, and integer sums are exact
                   under any order — bit-identical inputs MUST match)
    decimal:       sum(col)
    date/ts:       sum(epoch seconds)
    string:        sum(first-8-hex-of-md5 as int) + sum(length)
                   (md5 is identical across engines; the sum is
                   order-insensitive and value-sensitive)
  plus count(*) and per-column null counts.

A mismatch in ANY component is a real cross-engine divergence of the
full output — the same signal class that caught
embedding_random_projection_jl's float split at sf100, but applicable
to 1e8-row outputs. This formalizes the ad-hoc fingerprints recorded
in BENCH_local.md r8 (scd2_dimension_build, ts_window_time_range,
window_rolling_median, ts_ewma_bounded, window_running_distinct).

Usage:
  SPARK_GRAFT_VERIFY_SF_DIR=.localdata/sf100 \
      python tools/fingerprint_check.py name [name ...]
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tools.verify_local import SF_DIR, oracle_connection  # noqa: E402


def spark_fp_exprs(df):
    """One aggregate expression list per fingerprint component."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    exprs = [F.count(F.lit(1)).alias("n_rows")]
    for f in df.schema.fields:
        c, t = f.name, f.dataType
        col = F.col(c)
        exprs.append(
            F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(f"nulls__{c}")
        )
        if isinstance(t, (T.ByteType, T.ShortType, T.IntegerType,
                          T.LongType)):
            exprs.append(
                F.sum(col.cast("decimal(38,0)")).alias(f"sum__{c}")
            )
        elif isinstance(t, T.BooleanType):
            exprs.append(
                F.sum(col.cast("int").cast("decimal(38,0)"))
                .alias(f"sum__{c}")
            )
        elif isinstance(t, (T.FloatType, T.DoubleType)):
            exprs.append(
                F.sum(
                    F.floor(col.cast("double") * F.lit(1000000.0))
                    .cast("decimal(38,0)")
                ).alias(f"sum__{c}")
            )
        elif isinstance(t, T.DecimalType):
            exprs.append(F.sum(col).alias(f"sum__{c}"))
        elif isinstance(t, T.DateType):
            exprs.append(
                F.sum(F.unix_date(col).cast("decimal(38,0)"))
                .alias(f"sum__{c}")
            )
        elif isinstance(t, T.TimestampType):
            exprs.append(
                F.sum(F.unix_timestamp(col).cast("decimal(38,0)"))
                .alias(f"sum__{c}")
            )
        elif isinstance(t, T.StringType):
            exprs.append(
                F.sum(
                    F.conv(F.substring(F.md5(col), 1, 8), 16, 10)
                    .cast("decimal(38,0)")
                ).alias(f"md5__{c}")
            )
            exprs.append(
                F.sum(F.length(col).cast("decimal(38,0)"))
                .alias(f"len__{c}")
            )
        # other types (arrays, maps): null-count only
    return exprs


def duck_fp_sql(con, oracle_table: str) -> dict:
    """Mirror fingerprint over the staged oracle table in DuckDB."""
    cols = con.execute(
        f"SELECT name, type FROM pragma_table_info('{oracle_table}')"
    ).fetchall()
    parts = ["count(*) AS n_rows"]
    for c, dt in cols:
        q = f'"{c}"'
        dt_u = dt.upper()
        parts.append(
            f"sum(CASE WHEN {q} IS NULL THEN 1 ELSE 0 END)"
            f' AS "nulls__{c}"'
        )
        if dt_u in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
                    "HUGEINT", "UTINYINT", "USMALLINT", "UINTEGER",
                    "UBIGINT"):
            parts.append(
                f"sum(CAST({q} AS DECIMAL(38,0))) AS \"sum__{c}\""
            )
        elif dt_u == "BOOLEAN":
            parts.append(
                f"sum(CAST(CAST({q} AS INTEGER) AS DECIMAL(38,0)))"
                f' AS "sum__{c}"'
            )
        elif dt_u in ("FLOAT", "DOUBLE", "REAL"):
            parts.append(
                f"sum(CAST(floor(CAST({q} AS DOUBLE) * 1000000.0)"
                f" AS DECIMAL(38,0))) AS \"sum__{c}\""
            )
        elif dt_u.startswith("DECIMAL"):
            parts.append(f"sum({q}) AS \"sum__{c}\"")
        elif dt_u == "DATE":
            parts.append(
                f"sum(CAST(datediff('day', DATE '1970-01-01', {q})"
                f" AS DECIMAL(38,0))) AS \"sum__{c}\""
            )
        elif dt_u.startswith("TIMESTAMP"):
            parts.append(
                f"sum(CAST(epoch({q}) AS DECIMAL(38,0)))"
                f' AS "sum__{c}"'
            )
        elif dt_u in ("VARCHAR", "TEXT"):
            parts.append(
                f"sum(CAST(concat('0x', substr(md5({q}), 1, 8))"
                f" AS BIGINT)::DECIMAL(38,0)) AS \"md5__{c}\""
            )
            parts.append(
                f"sum(CAST(length({q}) AS DECIMAL(38,0)))"
                f' AS "len__{c}"'
            )
    sql = f"SELECT {', '.join(parts)} FROM {oracle_table}"
    row = con.execute(sql).fetchone()
    names = [d[0] for d in con.description]
    return dict(zip(names, row))


def canon(v):
    if v is None:
        return "NULL"
    try:
        return str(int(v))
    except (TypeError, ValueError):
        return str(v)


def main() -> int:
    from parquet_playground_spark import registry
    from parquet_playground_spark.session import get_spark

    names = sys.argv[1:]
    registry.load_all()
    spark = get_spark("fingerprint-check")
    con = oracle_connection(SF_DIR)

    n_fail = 0
    for name in names:
        t0 = time.monotonic()
        fn = registry.QUERIES[name]
        oracle = registry.ORACLES.get(name)
        if oracle is None:
            print(f"SKIP  {name}: no oracle")
            continue
        df = fn(spark, SF_DIR)
        srow = df.agg(*spark_fp_exprs(df)).collect()[0].asDict()
        con.execute("DROP TABLE IF EXISTS __fp_oracle")
        con.execute(
            f"CREATE TEMP TABLE __fp_oracle AS ({oracle})"
        )
        drow = duck_fp_sql(con, "__fp_oracle")
        con.execute("DROP TABLE IF EXISTS __fp_oracle")
        keys = sorted(set(srow) | set(drow))
        diffs = [
            k for k in keys
            if canon(srow.get(k)) != canon(drow.get(k))
        ]
        dt = time.monotonic() - t0
        if diffs:
            n_fail += 1
            print(f"FAIL  {name}: {len(diffs)} component(s) differ "
                  f"[{dt:.1f}s]")
            for k in diffs:
                print(f"      {k}: spark={canon(srow.get(k))} "
                      f"duck={canon(drow.get(k))}")
        else:
            print(f"ok    {name}: {len(keys)} fingerprint components "
                  f"match, n_rows={canon(srow['n_rows'])} [{dt:.1f}s]")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
