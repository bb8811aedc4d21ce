"""Avro ingestion (reference R6: LoadParquet.java:56, 3records.1.AVRO).

The reference reads an Avro container file and converts it to Snappy
Parquet (LoadParquet.java:74-99). Spark's equivalent is
``spark.read.format('avro')`` — the spark-avro module. That jar is not
bundled in this environment and installs are not permitted, so the
source is gated: `read_avro` tries the datasource and raises a single
clear error if unavailable. `avro_to_parquet` is the R7 pipeline on
top of it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from parquet_playground_spark.registry import register
from parquet_playground_spark.sources.corpus import CORPUS_DIR
from parquet_playground_spark.tables import scratch_path

REFERENCE_AVRO = os.path.join(CORPUS_DIR, "3records.1.AVRO")


class AvroUnavailableError(RuntimeError):
    """spark-avro jar not on the classpath (and no fallback decoder)."""


def avro_available(spark: SparkSession) -> bool:
    try:
        spark.read.format("avro").load(REFERENCE_AVRO).schema
        return True
    except Exception:
        return False


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro container -> DataFrame (reference LoadParquet.java:56).

    Prefers the JVM spark-avro datasource; falls back to the bundled
    pure-Python OCF decoder (sources/avro_py.py) exposed through the
    Spark 4 Python DataSource API when the jar is absent."""
    try:
        return spark.read.format("avro").load(path)
    except Exception:
        pass
    try:
        from parquet_playground_spark.sources import avro_py

        avro_py.ensure_registered(spark)
        return spark.read.format("pyavro").option("path", path).load()
    except Exception as exc:
        raise AvroUnavailableError(
            "neither spark-avro nor the pyavro fallback could read "
            f"{path!r}"
        ) from exc


def avro_to_parquet(spark: SparkSession, avro_path: str, parquet_path: str) -> None:
    """Avro -> Snappy Parquet (reference writeAvroToParquet,
    LoadParquet.java:74-99) — executor-parallel, no heap buffering."""
    df = read_avro(spark, avro_path)
    df.write.mode("overwrite").option("compression", "snappy").parquet(parquet_path)


@register(
    "avro_ingest",
    oracle="""
        SELECT * FROM (VALUES ('1', '1'), ('2', '2'), ('3', '3'))
            AS t(id, id2_joined)
    """,
)
def avro_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's one real ETL pipeline, fully functional: read the
    Avro container (spark-avro jar when present, else the bundled
    pure-Python OCF decoder via the Spark 4 Python DataSource API —
    sources/avro_py.py), write Snappy Parquet, read it back
    (LoadParquet.java:56-99). The oracle pins the decoded CONTENT of
    3records.1.AVRO (golden fixture: ids 1-3, each with a one-element
    nullable string array), so a decoder bug — wrong zigzag, bad union
    branch, snappy CRC skipped — fails the value hash, not just a
    count."""
    from pyspark.sql import functions as F

    out = scratch_path("avro_ingest")
    avro_to_parquet(spark, REFERENCE_AVRO, out)
    back = spark.read.parquet(out)
    return back.select("id", F.array_join("id2", ",").alias("id2_joined"))
