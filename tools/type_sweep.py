"""Result-type skew sweep: DuckDB oracle dtypes vs Spark schemas.

The driver's value hash is result-TYPE sensitive (it converts both
sides through pandas): identical values hash apart when the engines
emit different dtypes — DuckDB HUGEINT (sum of ints) becomes float64
while Spark LONG stays int64; DuckDB DECIMAL becomes float64 while
Spark DECIMAL stays Decimal objects; DOUBLE-vs-LONG renders `7.0` vs
`7`. r2+r3 each burned two driver rounds on exactly this class
(VERDICT r3 "What's wrong" #1-#4), so this tool checks EVERY oracle
pair mechanically instead of waiting for the 50-query driver window to
find them one round at a time.

For each registered query with an oracle it builds the Spark DataFrame
(analysis only — no collect) and the DuckDB relation (lazy — no
execution), pairs columns by sorted name (the driver's compare order),
and flags any pairing whose types differ in a way the pandas
round-trip renders differently:

- HUGEINT / UHUGEINT on the DuckDB side (pandas -> float64)
- integer family vs float family
- DECIMAL on either side (pandas: DuckDB -> float64, Spark -> object)
- FLOAT (32-bit) vs DOUBLE (repr drift)
- recursively inside array elements

Integer-width differences (INTEGER vs BIGINT) render identically
through str() and are reported as info only with --verbose.

Usage: python tools/type_sweep.py [query_name ...]
"""

from __future__ import annotations

import re
import os
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tools.verify_local import SF_DIR, oracle_connection  # noqa: E402

INT_FAMILY = {
    "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
    "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
}
FLOAT_FAMILY = {"FLOAT", "DOUBLE"}


def _spark_token(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, T.ArrayType):
        return f"LIST<{_spark_token(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"MAP<{_spark_token(dt.keyType)},{_spark_token(dt.valueType)}>"
    if isinstance(dt, T.StructType):
        inner = ",".join(_spark_token(f.dataType) for f in dt.fields)
        return f"STRUCT<{inner}>"
    m = {
        "LongType": "BIGINT",
        "IntegerType": "INTEGER",
        "ShortType": "SMALLINT",
        "ByteType": "TINYINT",
        "DoubleType": "DOUBLE",
        "FloatType": "FLOAT",
        "StringType": "VARCHAR",
        "BooleanType": "BOOLEAN",
        "DateType": "DATE",
        "TimestampType": "TIMESTAMP",
        "TimestampNTZType": "TIMESTAMP",
        "BinaryType": "BLOB",
        "NullType": "NULL",
    }
    name = type(dt).__name__
    if name == "DecimalType":
        return f"DECIMAL({dt.precision},{dt.scale})"
    return m.get(name, name.upper())


def _duck_token(t) -> str:
    s = str(t).upper()
    s = s.replace("TIMESTAMP WITH TIME ZONE", "TIMESTAMP")
    s = s.replace("TIMESTAMP_NS", "TIMESTAMP").replace(
        "TIMESTAMP_MS", "TIMESTAMP"
    ).replace("TIMESTAMP_S", "TIMESTAMP")
    # normalize list syntax X[][]... -> LIST<LIST<X>> (strip all
    # trailing [] first, then wrap — wrapping inside the loop would
    # leave inner [] unconverted)
    depth = 0
    while s.endswith("[]"):
        s = s[:-2]
        depth += 1
    for _ in range(depth):
        s = f"LIST<{s}>"
    s = re.sub(r"^MAP\((.+), (.+)\)$", r"MAP<\1,\2>", s)
    return s


def _flag(spark_tok: str, duck_tok: str) -> str | None:
    """Return severity string for a (spark, duck) token pair, or None."""
    if spark_tok == duck_tok:
        if "DECIMAL" in spark_tok:  # incl. inside LIST<DECIMAL(p,s)>
            # DECIMAL-on-both-sides STILL skews through pandas:
            # DuckDB .df() -> float64, Spark toPandas -> Decimal objects
            # (fn_cast_decimal failed r2+r3 with matching DECIMAL(p,s)).
            return "MISMATCH decimal-through-pandas"
        return None
    # recurse into lists
    if spark_tok.startswith("LIST<") and duck_tok.startswith("LIST<"):
        inner = _flag(spark_tok[5:-1], duck_tok[5:-1])
        return f"list:{inner}" if inner else None
    if {"HUGEINT", "UHUGEINT"} & {duck_tok, spark_tok}:
        return "MISMATCH hugeint->float64"
    d_int, s_int = duck_tok in INT_FAMILY, spark_tok in INT_FAMILY
    d_flt, s_flt = duck_tok in FLOAT_FAMILY, spark_tok in FLOAT_FAMILY
    if d_int and s_int:
        return "info int-width"
    if (d_int and s_flt) or (d_flt and s_int):
        return "MISMATCH int-vs-float"
    if d_flt and s_flt:
        return "MISMATCH float32-vs-float64"
    if duck_tok.startswith("DECIMAL") or spark_tok.startswith("DECIMAL"):
        return "MISMATCH decimal-vs-other"
    return f"MISMATCH other ({spark_tok} vs {duck_tok})"


def main() -> int:
    from parquet_playground_spark import get_spark, registry

    verbose = "--verbose" in sys.argv
    args = [a for a in sys.argv[1:] if not a.startswith("--")]

    registry.load_all()
    spark = get_spark("type-sweep")
    con = oracle_connection(SF_DIR)

    names = args or sorted(registry.ORACLES)
    n_clean = n_flagged = n_err = 0
    flagged: dict[str, list[str]] = {}
    for name in names:
        if name not in registry.ORACLES:
            continue
        try:
            sdf = registry.QUERIES[name](spark, SF_DIR)
            sfields = {f.name: _spark_token(f.dataType) for f in sdf.schema.fields}
            rel = con.sql(registry.ORACLES[name])
            dfields = dict(zip(rel.columns, [_duck_token(t) for t in rel.types]))
        except Exception:
            print(f"ERR   {name}")
            traceback.print_exc(limit=3)
            n_err += 1
            continue
        issues = []
        for col in sorted(sfields):
            if col not in dfields:
                issues.append(f"{col}: missing in oracle")
                continue
            sev = _flag(sfields[col], dfields[col])
            if sev and (verbose or "MISMATCH" in sev or "missing" in sev):
                issues.append(
                    f"{col}: spark={sfields[col]} duck={dfields[col]} [{sev}]"
                )
        issues += [f"{c}: missing in spark" for c in dfields if c not in sfields]
        real = [i for i in issues if "info" not in i]
        if real:
            print(f"SKEW  {name}: " + "; ".join(real))
            flagged[name] = real
            n_flagged += 1
        else:
            if verbose and issues:
                print(f"info  {name}: " + "; ".join(issues))
            n_clean += 1
    print(f"\n{n_clean} clean, {n_flagged} flagged, {n_err} errors")
    if flagged:
        print("flagged:", sorted(flagged))
    return 1 if (flagged or n_err) else 0


if __name__ == "__main__":
    raise SystemExit(main())
