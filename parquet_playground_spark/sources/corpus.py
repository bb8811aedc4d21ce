"""Reference-corpus smoke reads (SURVEY §2.2 capability envelope).

The reference repo's golden Parquet corpus pins the type/encoding
envelope: every primitive, INT96, 4 decimal encodings, list^3, map^2,
struct-of-everything, data page v2, Snappy + both LZ4 framings,
dictionary edge cases, modular encryption, and deliberately malformed
files. The contract for bad files is a CLEAN error (reference:
readPage swallows IOException, ParquetConverter.java:88-91 — a bug we
do not reproduce).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from parquet_playground_spark.registry import register
from parquet_playground_spark.session import ensure_session_defaults

CORPUS_DIR = "/root/reference"

# file -> expectation: "ok" (must read), "error" (must fail cleanly),
# "encrypted" (fails without keys; readable only with parquet crypto
# factory configs, README.md:37-50)
CORPUS_FILES: dict[str, str] = {
    "alltypes_plain.parquet": "ok",
    "alltypes_plain.snappy.parquet": "ok",
    "alltypes_dictionary.parquet": "ok",
    "datapage_v2.snappy.parquet": "ok",
    "dict-page-offset-zero.parquet": "ok",
    "hadoop_lz4_compressed.parquet": "ok",
    "hadoop_lz4_compressed_larger.parquet": "ok",
    "non_hadoop_lz4_compressed.parquet": "ok",
    "nested_lists.snappy.parquet": "ok",
    "list_columns.parquet": "ok",
    "nested_maps.snappy.parquet": "ok",
    "nested_structs.rust.parquet": "ok",
    "nullable.impala.parquet": "ok",
    "nonnullable.impala.parquet": "ok",
    "repeated_no_annotation.parquet": "ok",
    "int32_decimal.parquet": "ok",
    "int64_decimal.parquet": "ok",
    "byte_array_decimal.parquet": "ok",
    "fixed_length_decimal.parquet": "ok",
    "fixed_length_decimal_legacy.parquet": "ok",
    "single_nan.parquet": "ok",
    "nulls.snappy.parquet": "ok",
    "binary.parquet": "ok",
    "yolo.parquet": "ok",
    "parquet-variety/arrays.parquet": "ok",
    "parquet-variety/custom.parquet": "ok",
    # Spark's parquet reader tolerates this file's dictionary quirk and
    # reads it successfully (verified); the clean-failure contract binds
    # only the PARQUET-1481 fuzz file below.
    "nation.dict-malformed.parquet": "ok",
    "parquet-files-testing_bad_data_PARQUET-1481.parquet": "error",
    "uniform_encryption.parquet.encrypted": "encrypted",
    "encrypt_columns_and_footer.parquet.encrypted": "encrypted",
    "encrypt_columns_plaintext_footer.parquet.encrypted": "encrypted",
}


def smoke_read_one(spark: SparkSession, rel_path: str) -> dict:
    """Read one corpus file; never raises — returns a status record."""
    path = os.path.join(CORPUS_DIR, rel_path)
    try:
        df = spark.read.parquet(path)
        # force full materialization so decode errors surface
        n = df.count()
        return {
            "file": rel_path,
            "status": "ok",
            "n_rows": n,
            "n_cols": len(df.columns),
            "error": None,
        }
    except Exception as exc:  # noqa: BLE001 — clean-failure contract
        return {
            "file": rel_path,
            "status": "error",
            "n_rows": -1,
            "n_cols": -1,
            "error": type(exc).__name__,
        }


# The corpus is immutable, so the full status table is a stated-value
# expectation: (file, expected, status, n_rows, n_cols, match). Emitting
# it as a VALUES oracle upgrades this query from rows-only to a real
# hash row — any regression in a reader path (a codec, an encoding, the
# clean-failure contract) flips a literal and fails the hash.
_EXPECTED_ROWS: list[tuple[str, str, str, int, int, bool]] = [
    ("alltypes_plain.parquet", "ok", "ok", 8, 11, True),
    ("alltypes_plain.snappy.parquet", "ok", "ok", 2, 11, True),
    ("alltypes_dictionary.parquet", "ok", "ok", 2, 11, True),
    ("datapage_v2.snappy.parquet", "ok", "ok", 5, 5, True),
    ("dict-page-offset-zero.parquet", "ok", "ok", 39, 1, True),
    ("hadoop_lz4_compressed.parquet", "ok", "ok", 4, 3, True),
    ("hadoop_lz4_compressed_larger.parquet", "ok", "ok", 10000, 1, True),
    ("non_hadoop_lz4_compressed.parquet", "ok", "ok", 4, 3, True),
    ("nested_lists.snappy.parquet", "ok", "ok", 3, 2, True),
    ("list_columns.parquet", "ok", "ok", 3, 2, True),
    ("nested_maps.snappy.parquet", "ok", "ok", 6, 3, True),
    ("nested_structs.rust.parquet", "ok", "ok", 1, 36, True),
    ("nullable.impala.parquet", "ok", "ok", 7, 6, True),
    ("nonnullable.impala.parquet", "ok", "ok", 1, 6, True),
    ("repeated_no_annotation.parquet", "ok", "ok", 6, 2, True),
    ("int32_decimal.parquet", "ok", "ok", 24, 1, True),
    ("int64_decimal.parquet", "ok", "ok", 24, 1, True),
    ("byte_array_decimal.parquet", "ok", "ok", 24, 1, True),
    ("fixed_length_decimal.parquet", "ok", "ok", 24, 1, True),
    ("fixed_length_decimal_legacy.parquet", "ok", "ok", 24, 1, True),
    ("single_nan.parquet", "ok", "ok", 1, 1, True),
    ("nulls.snappy.parquet", "ok", "ok", 8, 1, True),
    ("binary.parquet", "ok", "ok", 12, 1, True),
    ("yolo.parquet", "ok", "ok", 3, 2, True),
    ("parquet-variety/arrays.parquet", "ok", "ok", 8, 2, True),
    ("parquet-variety/custom.parquet", "ok", "ok", 75, 6, True),
    ("nation.dict-malformed.parquet", "ok", "ok", 25, 4, True),
    (
        "parquet-files-testing_bad_data_PARQUET-1481.parquet",
        "error", "error", -1, -1, True,
    ),
    ("uniform_encryption.parquet.encrypted", "encrypted", "error", -1, -1, True),
    (
        "encrypt_columns_and_footer.parquet.encrypted",
        "encrypted", "error", -1, -1, True,
    ),
    (
        "encrypt_columns_plaintext_footer.parquet.encrypted",
        "encrypted", "error", -1, -1, True,
    ),
]

_CORPUS_ORACLE = (
    "SELECT * FROM (VALUES "
    + ", ".join(
        f"('{f}', '{e}', '{s}', {nr}, {nc}, {'TRUE' if m else 'FALSE'})"
        for f, e, s, nr, nc, m in _EXPECTED_ROWS
    )
    + ") AS t(file, expected, status, n_rows, n_cols, matches_expectation)"
)


@register("corpus_smoke_reads", oracle=_CORPUS_ORACLE)
def corpus_smoke_reads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read every corpus file; emit (file, expected, status, rows, cols,
    matches_expectation). Encrypted files count as expected failures
    when no decryption keys are configured."""
    ensure_session_defaults(spark)
    records = []
    for rel, expected in CORPUS_FILES.items():
        rec = smoke_read_one(spark, rel)
        want_error = expected in ("error", "encrypted")
        rec["expected"] = expected
        rec["matches_expectation"] = (rec["status"] == "error") == want_error
        records.append(rec)
    return spark.createDataFrame(
        [
            (
                r["file"],
                r["expected"],
                r["status"],
                r["n_rows"],
                r["n_cols"],
                r["matches_expectation"],
            )
            for r in records
        ],
        "file string, expected string, status string, n_rows long, "
        "n_cols int, matches_expectation boolean",
    )
