"""Local mirror of the driver's correctness gate.

Runs every queries() entry at sf0.01 and compares against oracle_sql()
in DuckDB: row count, sorted column names, and an order-insensitive
value hash (rows canonicalized to strings, sorted). Rows-only queries
are executed and reported with row counts.

--strict adds driver-parity type sensitivity (VERDICT r3 item 4): both
results are round-tripped through pandas (Spark .toPandas(), DuckDB
.df()) before hashing, pandas dtype kinds must agree column-by-column,
and the canon does NOT collapse 7.0 -> 7 or Decimal -> float. The
default canon collapsed exactly those, which is why fn_math passed
locally while failing the driver hash two rounds running — a DuckDB
HUGEINT/DOUBLE result reaching pandas as float64 hashes apart from
Spark's int64 under any type-sensitive canon.

--vanilla runs the queries on a bare
`SparkSession.builder.master("local[8]").getOrCreate()` session instead
of `get_spark` — the external driver builds exactly such a session. It
lacks `get_spark`'s static confs (driver memory, the crypto classpath);
every query self-provisions the rest through
`session.ensure_session_defaults` (the same conf table and
one-partition-per-core rule `get_spark` applies, so 8 shuffle
partitions here) and `install_crypto_classloader`.
--vanilla --strict together are the closest local approximation of the
official gate.

--max-rows N guards large-output queries at high scale points (the
pair-quadratic ops: theta-range all-pairs, dedup pair listings): the
oracle is pre-counted with a COUNT(*) wrapper, and above the threshold
the check degrades to Spark-count == DuckDB-count (reported `big`)
instead of materializing tens of millions of rows into two pandas
frames. Row-count equality at scale is still a real cross-engine
signal for those ops; their value hashes are covered at lower SFs.

--names-file F reads one query name per line (chunked parallel sweeps).

Usage: python tools/verify_local.py [--strict] [--vanilla]
           [--max-rows N] [--names-file F] [names ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback
from datetime import date, datetime
from decimal import Decimal

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from parquet_playground_spark import tables  # noqa: E402

# Override with SPARK_GRAFT_VERIFY_SF_DIR to sweep the oracle suite at
# another scale point (e.g. sf0.1, or the local sf1 build) — oracle
# agreement at multiple SFs is evidence the determinism rules hold as
# data grows, not just on the driver-gate fixture.
SF_DIR = os.environ.get(
    "SPARK_GRAFT_VERIFY_SF_DIR", "/root/testdata/sf0.01"
)


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """The DuckDB oracle: an in-memory connection with one view per
    fixture table of `sf_dir`.

    Deployment settings: SPARK_GRAFT_DUCKDB_THREADS caps DuckDB's
    thread pool, so parallel chunked sweeps don't each claim every
    core (4x32 threads thrashes the host into 60%+ sys time; the sf10
    sweep is where this bit). SPARK_GRAFT_DUCKDB_MEM caps its memory
    (default 48GB, "off" for DuckDB's own 80% of RAM): with no cap, a
    big oracle intermediate (e.g. part_co_occurrence's ~1e9-pair hash
    aggregate at sf100) grows until the kernel OOM-kills the process
    instead of spilling (measured: anon-rss 101 GB on a 125 GB host).
    Spills go to SPARK_GRAFT_DUCKDB_TMP, by default this process's
    `tables.scratch_path("duckdb_tmp")`, removed at exit."""
    con = duckdb.connect()
    threads = os.environ.get("SPARK_GRAFT_DUCKDB_THREADS")
    if threads:
        con.execute(f"SET threads = {int(threads)}")
    mem = os.environ.get("SPARK_GRAFT_DUCKDB_MEM", "48GB")
    if mem and mem.lower() != "off":
        con.execute(f"SET memory_limit = '{mem}'")
    tmp = os.environ.get("SPARK_GRAFT_DUCKDB_TMP") or tables.scratch_path("duckdb_tmp")
    con.execute(f"SET temp_directory = '{tmp}'")
    for t in tables.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def canon_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        # Full shortest-round-trip repr — driver-parity strictness.
        # The old %.6g hid 4th-decimal drift on values >= 100, which let
        # three queries pass locally but FAIL the driver hash in r2.
        return repr(v)
    if isinstance(v, Decimal):
        f = float(v)
        if f == int(f) and abs(f) < 1e15:
            return str(int(f))
        return repr(f)
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, date):
        return v.strftime("%Y-%m-%d")
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_value(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def canon_rows(cols: list[str], rows: list[tuple]) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon_value(r[i]) for i in order) for r in rows)


def canon_value_strict(v) -> str:
    """Type-sensitive canon over pandas-converted cells.

    No 7.0 -> 7 collapse, no Decimal -> float: a dtype skew between the
    engines becomes a hash difference, like the driver's canon.
    """
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v)).lower()
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "nan" if math.isnan(f) else repr(f)
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, Decimal):
        return f"dec:{v}"
    if isinstance(v, (pd.Timestamp, datetime)):
        # Midnight renders date-only: DuckDB's pandas conversion widens
        # DATE to datetime64, Spark keeps datetime.date objects — an
        # engine-representation split the driver demonstrably tolerates
        # (fn_date is driver-green), not a result-type skew.
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.strftime("%Y-%m-%d")
        # Sub-second fields render when present: truncating here would
        # hide micros-level divergence the driver's hash sees (a query
        # skipping the date_trunc('second') discipline must fail HERE,
        # not officially).
        if v.microsecond:
            return v.strftime("%Y-%m-%d %H:%M:%S.%f")
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, date):
        return v.strftime("%Y-%m-%d")
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon_value_strict(x) for x in v) + "]"
    if isinstance(v, dict):
        return (
            "{"
            + ",".join(
                f"{k}:{canon_value_strict(x)}" for k, x in sorted(v.items())
            )
            + "}"
        )
    try:
        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass
    return str(v)


def _kind(series) -> str:
    """Dtype kind, with datetime-like object columns folded into 'dt'."""
    import pandas as pd

    k = series.dtype.kind
    if k == "M":
        return "dt"
    if k == "O":
        nn = series.dropna()
        if len(nn) and isinstance(
            nn.iloc[0], (date, datetime, pd.Timestamp)
        ):
            return "dt"
    return k


def canon_pdf_strict(pdf) -> tuple[list[str], dict[str, str]]:
    """Canonical rows + per-column dtype kinds for a pandas frame."""
    cols = sorted(pdf.columns)
    kinds = {c: _kind(pdf[c]) for c in pdf.columns}
    rows = sorted(
        "|".join(canon_value_strict(row[c]) for c in cols)
        for row in pdf.to_dict("records")
    )
    return rows, kinds


def main() -> int:
    import argparse

    from parquet_playground_spark import get_spark, registry

    # argparse (r6 ADVICE): the hand-rolled parser raised IndexError
    # when a flag's value was missing, and silently ate unknown flags.
    parser = argparse.ArgumentParser(
        description="Local mirror of the driver's correctness gate."
    )
    parser.add_argument("--strict", action="store_true")
    parser.add_argument("--vanilla", action="store_true")
    parser.add_argument("--max-rows", type=int, default=None)
    parser.add_argument("--names-file", default=None)
    parser.add_argument("names", nargs="*")
    ns = parser.parse_args()
    strict, vanilla, max_rows = ns.strict, ns.vanilla, ns.max_rows
    args = list(ns.names)
    if ns.names_file:
        with open(ns.names_file) as fh:
            args += [ln.strip() for ln in fh if ln.strip()]

    registry.load_all()
    if vanilla:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        spark = get_spark("verify-local")

    con = oracle_connection(SF_DIR)

    names = args or sorted(registry.QUERIES)
    n_pass = n_fail = n_rows_only = n_big = 0
    failures = []
    for name in names:
        fn = registry.QUERIES[name]
        t_start = time.monotonic()
        oracle_staged = False
        if max_rows is not None and name in registry.ORACLES:
            # Materialize the oracle ONCE into a temp table: the count
            # guard and the value comparison then share one execution
            # (heavy sf10 oracles — minhash SQL, pair joins — must not
            # run twice).
            try:
                osql = registry.ORACLES[name].rstrip().rstrip(";")
                con.execute(
                    f"CREATE OR REPLACE TEMP TABLE __oracle AS ({osql})"
                )
                n_oracle_pre = con.sql(
                    "SELECT count(*) FROM __oracle"
                ).fetchone()[0]
                oracle_staged = True
            except Exception as exc:
                print(f"FAIL  {name}: duckdb stage error: {str(exc)[:200]}")
                n_fail += 1
                failures.append(name)
                continue
            if n_oracle_pre > max_rows:
                con.execute("DROP TABLE IF EXISTS __oracle")
                try:
                    n_spark = fn(spark, SF_DIR).count()
                except Exception:
                    print(f"FAIL  {name}: spark error")
                    traceback.print_exc(limit=5)
                    n_fail += 1
                    failures.append(name)
                    continue
                dt = time.monotonic() - t_start
                if n_spark != n_oracle_pre:
                    print(
                        f"FAIL  {name}: big-output rowcount "
                        f"spark={n_spark} duckdb={n_oracle_pre} [{dt:.1f}s]"
                    )
                    n_fail += 1
                    failures.append(name)
                else:
                    print(
                        f"big   {name}: {n_spark} rows "
                        f"(count-only above --max-rows) [{dt:.1f}s]"
                    )
                    n_big += 1
                continue
        # finally-drop (r6 ADVICE): the staged __oracle used to leak on
        # the spark-error/duckdb-error continue paths — harmless only
        # because the next staging used CREATE OR REPLACE, but a leaked
        # sf10-sized temp table pins memory for the rest of the sweep.
        try:
            try:
                sdf = fn(spark, SF_DIR)
                scols = sdf.columns
                if strict:
                    spdf = sdf.toPandas()
                srows = (
                    [tuple(r) for r in sdf.collect()] if not strict else []
                )
            except Exception:
                print(f"FAIL  {name}: spark error")
                traceback.print_exc(limit=5)
                n_fail += 1
                failures.append(name)
                continue
            n_spark = len(spdf) if strict else len(srows)
            if name not in registry.ORACLES:
                print(f"rows  {name}: {n_spark} rows (rows-only)")
                n_rows_only += 1
                continue
            try:
                rel = con.sql(
                    "SELECT * FROM __oracle"
                    if oracle_staged
                    else registry.ORACLES[name]
                )
                ocols = [c for c in rel.columns]
                if strict:
                    opdf = rel.df()
                    orows = []
                else:
                    orows = rel.fetchall()
            except Exception as exc:
                print(f"FAIL  {name}: duckdb error: {str(exc)[:200]}")
                n_fail += 1
                failures.append(name)
                continue
            n_oracle = len(opdf) if strict else len(orows)
            problems = []
            if n_spark != n_oracle:
                problems.append(
                    f"rowcount spark={n_spark} duckdb={n_oracle}"
                )
            if sorted(scols) != sorted(ocols):
                problems.append(
                    f"schema spark={sorted(scols)} duckdb={sorted(ocols)}"
                )
            if not problems and strict:
                sc, skinds = canon_pdf_strict(spdf)
                oc, okinds = canon_pdf_strict(opdf)
                kind_skew = {
                    c: (skinds[c], okinds[c])
                    for c in skinds
                    if skinds[c] != okinds.get(c)
                }
                if kind_skew:
                    problems.append(f"dtype-kind skew: {kind_skew}")
                elif sc != oc:
                    diff = [(a, b) for a, b in zip(sc, oc) if a != b][:3]
                    problems.append(
                        f"strict values differ, first diffs: {diff}"
                    )
            elif not problems:
                sc, oc = canon_rows(scols, srows), canon_rows(ocols, orows)
                if sc != oc:
                    diff = [(a, b) for a, b in zip(sc, oc) if a != b][:3]
                    problems.append(f"values differ, first diffs: {diff}")
            dt = time.monotonic() - t_start
            if problems:
                print(
                    f"FAIL  {name}: {'; '.join(p[:400] for p in problems)}"
                )
                n_fail += 1
                failures.append(name)
            else:
                print(f"ok    {name}: {n_spark} rows [{dt:.1f}s]")
                n_pass += 1
        finally:
            if oracle_staged:
                con.execute("DROP TABLE IF EXISTS __oracle")
            if os.environ.get("SPARK_GRAFT_GC_EVERY"):
                # High-SF sweeps: shuffle files are only deleted when
                # the JVM GC collects their ShuffleDependency; with a
                # 28g heap that can be NEVER across a 50-query sweep,
                # and consecutive 600M-row SMJ queries accumulate
                # >50 GB of dead spill until the disk fills (measured:
                # the r8 D-category sweep died SPILL_OUT_OF_MEMORY /
                # "No space left on device" after ~40 sf100 queries).
                # An explicit System.gc() lets ContextCleaner reap
                # them between queries — milliseconds next to an sf100
                # query.
                spark.sparkContext._jvm.System.gc()
    print(
        f"\n{n_pass} oracle-pass, {n_rows_only} rows-only, "
        f"{n_big} big-count-only, {n_fail} FAIL"
        + (f": {failures}" if failures else "")
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
