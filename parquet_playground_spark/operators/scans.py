"""Category A — scans / sources / sinks.

Reference parity:
  * scan_parquet          <- LoadParquet.java:49-53 (readParquet)
  * scan_projection       <- MutableParquetMetadata.java:81-107 (footer
                             column pruning; here: Catalyst ColumnPruning
                             reaching the parquet reader as ReadSchema)
  * scan_filter_pushdown  <- MutableParquetMetadata.java:35-49 +
                             ParquetReaderUtility.java:304-321 (row-group
                             pruning; here: PushedFilters row-group skip)
  * write_roundtrip_snappy<- LoadParquet.java:74-99 (Snappy parquet write)
  * schema_inspect        <- ParquetConverter.java:99 (schema print)

Scale notes: every query is a single scan stage — no shuffle except the
final aggregate in the roundtrip check. Projection/filter queries are
verified (tests/test_plans.py) to show ReadSchema pruning and
PushedFilters in the physical plan, which is what keeps a 100 TB scan
from reading 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_playground_spark.operators.aggregates import exact_sum
from parquet_playground_spark.registry import register
from parquet_playground_spark.sources.corpus import CORPUS_DIR
from parquet_playground_spark.tables import load_table, scratch_path, table_path


@register(
    "scan_parquet",
    oracle="SELECT * FROM customer",
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-table Parquet scan, footer-driven schema."""
    return load_table(spark, sf_dir, "customer")


@register(
    "scan_projection",
    oracle="SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem",
)
def scan_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned scan: ReadSchema must contain only these 3 columns."""
    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@register(
    "scan_filter_pushdown",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        FROM lineitem
        WHERE l_quantity BETWEEN 10 AND 12
    """,
)
def scan_filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range predicate pushed to the reader (row-group min/max skip)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity").between(10, 12)).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


@register(
    "write_roundtrip_snappy",
    oracle="""
        SELECT count(*) AS n_rows,
               count(DISTINCT o_orderkey) AS n_keys,
               CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5)
                             AS DECIMAL(38, 0))) AS DOUBLE) / 100.0
                   AS sum_price
        FROM orders
    """,
)
def write_roundtrip_snappy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write orders as Snappy Parquet, re-read, and fingerprint.

    Matching the oracle (which reads the ORIGINAL table) proves the
    roundtrip is lossless. Executors write part-files in parallel via
    the committer — no whole-file heap buffering (the reference buffers
    the entire output in a ByteArrayOutputStream,
    InMemoryOutputFile.java:9-46, a single-node ceiling this removes).
    """
    orders = load_table(spark, sf_dir, "orders")
    out = scratch_path("roundtrip_orders")
    orders.write.mode("overwrite").option("compression", "snappy").parquet(out)
    back = spark.read.parquet(out)
    # exact cents (exact_sum — drifted at the sf3 screen)
    return back.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("o_orderkey").alias("n_keys"),
        (
            exact_sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5)).cast("double")
            / 100.0
        ).alias("sum_price"),
    )


@register(
    "schema_inspect",
    # Both engines read the same parquet footer; only the type-name
    # spelling differs. The oracle maps DuckDB's DESCRIBE names onto
    # Spark simpleString spelling (TIMESTAMP in DuckDB == unadjusted
    # micros == Spark TIMESTAMP_NTZ), so the check survives testdata
    # regeneration as long as the footer really drives both schemas.
    oracle="""
        SELECT column_name AS col_name,
               CASE column_type
                    WHEN 'BIGINT' THEN 'bigint'
                    WHEN 'INTEGER' THEN 'int'
                    WHEN 'SMALLINT' THEN 'smallint'
                    WHEN 'TINYINT' THEN 'tinyint'
                    WHEN 'DOUBLE' THEN 'double'
                    WHEN 'FLOAT' THEN 'float'
                    WHEN 'VARCHAR' THEN 'string'
                    WHEN 'BLOB' THEN 'binary'
                    WHEN 'BOOLEAN' THEN 'boolean'
                    WHEN 'DATE' THEN 'date'
                    WHEN 'TIMESTAMP' THEN 'timestamp_ntz'
                    WHEN 'TIMESTAMP WITH TIME ZONE' THEN 'timestamp'
                    ELSE lower(column_type) END AS col_type
        FROM (DESCRIBE lineitem)
    """,
)
def schema_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table -> rows of (column, type) from the footer-driven schema
    (reference: ParquetConverter.java:99 prints the MessageType on
    first pull; here the footer schema is surfaced relationally and
    pinned against the declared testdata contract)."""
    li = load_table(spark, sf_dir, "lineitem")
    rows = [(f.name, f.dataType.simpleString()) for f in li.schema.fields]
    return spark.createDataFrame(rows, "col_name string, col_type string")


@register(
    "scan_schema_evolution",
    oracle="""
        WITH unioned AS (
            SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
            FROM orders WHERE o_orderkey % 2 = 0
            UNION ALL
            SELECT o_orderkey, o_totalprice, o_orderpriority
            FROM orders WHERE o_orderkey % 2 = 1
        )
        SELECT coalesce(o_orderpriority, '<pre-evolution>') AS priority,
               count(*) AS n,
               CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5)
                             AS DECIMAL(38, 0))) AS DOUBLE) / 100.0 AS total
        FROM unioned
        GROUP BY 1
    """,
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across files: an old snapshot written without
    o_orderpriority and a new snapshot with it land in one directory;
    mergeSchema=true reconciles the footers into the union schema, and
    rows from pre-evolution files surface NULL for the added column —
    the standard additive-column upgrade path for a long-lived 100 TB
    table (per-file footers stay authoritative; no rewrite of old
    data). Even/odd orderkey halves stand in for the two snapshots."""
    o = load_table(spark, sf_dir, "orders")
    out = scratch_path("schema_evo")
    old = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    new = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    old.write.mode("overwrite").parquet(os.path.join(out, "v=1"))
    new.write.mode("overwrite").parquet(os.path.join(out, "v=2"))
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(out, "v=1"), os.path.join(out, "v=2")
    )
    return (
        back.select(
            F.coalesce("o_orderpriority", F.lit("<pre-evolution>")).alias(
                "priority"
            ),
            "o_totalprice",
        )
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # exact cents (exact_sum — drifted at sf1)
            (
                exact_sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5)).cast("double")
                / 100.0
            ).alias("total"),
        )
    )


@register(
    "scan_recursive_glob",
    oracle="""
        SELECT count(*) AS n_rows,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5)
                             AS DECIMAL(38, 0))) AS DOUBLE) / 100.0
                   AS price_sum
        FROM orders
    """,
)
def scan_recursive_glob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive lake-directory ingestion: orders staged as a
    Hive-partitioned tree (one subdir per status) plus a non-parquet
    decoy file, then read back with recursiveFileLookup +
    pathGlobFilter('*.parquet') — the pattern for sweeping a landing
    zone whose layout you don't control. The glob filter keeps the
    decoy out at FILE-LISTING time (driver-side, before any task
    launches — at 100 TB listing discipline is what keeps planning
    fast); the content checksum proves no partition dir was missed.
    Note recursiveFileLookup disables partition-column inference by
    design, so the partition column must already be materialized in
    the files (it is here: partitionBy writes it into the path, and we
    re-derive nothing from it)."""
    o = load_table(spark, sf_dir, "orders")
    root = scratch_path("lake_tree")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(root)
    # decoy the glob must skip
    with open(os.path.join(root, "manifest.json"), "w") as fh:
        fh.write('{"note": "not parquet"}')
    back = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(root)
    )
    # exact cents (exact_sum — drifted at the sf3 screen)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        (
            exact_sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5)).cast("double")
            / 100.0
        ).alias("price_sum"),
    )


_META_BUCKETS = 4


@register(
    "scan_metadata_columns",
    oracle=f"""
        SELECT count(*) AS n_rows,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        FROM orders
        GROUP BY CAST(concat('0x',
                 substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                 AS BIGINT) % {_META_BUCKETS}
    """,
)
def scan_metadata_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden file-metadata columns: orders is staged as exactly one
    file per deterministic md5-bucket, re-read, and aggregated BY
    `_metadata.file_path` — proving the reader surfaces real file
    provenance (the lineage/debugging column every incremental
    pipeline leans on) and that the physical layout follows the
    declared bucketing. The oracle groups by the same portable bucket
    expression: per-file (row count, key sum) must equal per-bucket —
    any row landing in the wrong file breaks the multiset match. The
    file name itself is run-dependent so it is grouped on, never
    projected.

    Staging shape: ONE scan, one hash shuffle on the bucket column,
    dynamic partitionBy — each bucket's rows land in exactly one task,
    so every b=i directory gets exactly one file (the contract under
    test) and all buckets write in parallel. The r8 sf100 screen
    measured the previous per-bucket loop (re-scan orders + filter +
    coalesce(1), serially per bucket) at 530 s vs 68 s for this form;
    one-file-per-bucket's floor cost is one task per bucket, but never
    B scans and never serial writes."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
        ).cast("bigint")
        % _META_BUCKETS
    )
    root = scratch_path("meta_buckets")
    with_b = o.withColumn("b", bucket)
    with_b.repartition(_META_BUCKETS, F.col("b")).write.partitionBy(
        "b"
    ).mode("overwrite").parquet(root)
    back = spark.read.option("recursiveFileLookup", "true").parquet(root)
    # group on file_path, not file_name: a dynamic-partition task that
    # writes two bucket dirs reuses its part-file name in each, so only
    # the full path is unique-per-file
    return back.groupBy(F.col("_metadata.file_path")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
    ).drop("file_path")


_GEN_N = 100000
_GEN_PRIME = 1000003


@register(
    "synthetic_data_generate",
    oracle=f"""
        WITH g AS (
            SELECT range AS id,
                   CAST(concat('0x', substr(md5(CAST(range AS VARCHAR)), 1, 8))
                        AS BIGINT) % 10 AS bucket,
                   (range * 2654435761) % {_GEN_PRIME} AS val
            FROM range(0, {_GEN_N})
        )
        SELECT bucket, count(*) AS n,
               CAST(sum(val) AS BIGINT) AS val_sum,
               CAST(min(val) AS BIGINT) AS val_min
        FROM g GROUP BY bucket
    """,
)
def synthetic_data_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator source: spark.range as a table-valued row generator
    with derived deterministic columns (md5 bucket, Knuth
    multiplicative-hash values) — how test fixtures and load-test
    datasets are synthesized WITHOUT reading storage. range() splits
    its [start, end) interval across all cores (a parallelized
    iota, no input files at all); the oracle is DuckDB's own range()
    TVF over identical arithmetic. The only shuffle is the final
    10-bucket aggregate."""
    g = spark.range(0, _GEN_N).select(
        F.col("id"),
        (
            F.conv(
                F.substring(F.md5(F.col("id").cast("string")), 1, 8), 16, 10
            ).cast("bigint")
            % 10
        ).alias("bucket"),
        ((F.col("id") * 2654435761) % _GEN_PRIME).alias("val"),
    )
    return g.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("val").cast("bigint").alias("val_sum"),
        F.min("val").cast("bigint").alias("val_min"),
    )


@register(
    "scan_ignore_corrupt_files",
    oracle="""
        SELECT count(*) AS n_rows,
               CAST(sum(n_nationkey) AS BIGINT) AS key_sum
        FROM nation
    """,
)
def scan_ignore_corrupt_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degraded-mode ingestion: a landing directory holding one good
    file and one corrupt file (the reference corpus's PARQUET-1481
    fuzz case) is scanned with ignoreCorruptFiles — the job reads
    every good row and SKIPS the unreadable file instead of dying.
    The complement of corpus_smoke_reads' clean-failure contract:
    there the error must surface, here the pipeline must survive it.
    The oracle pins that exactly the good file's content arrives.
    Reference tie: README.md:19 'fail cleanly' corpus theme,
    parquet-files-testing_bad_data_PARQUET-1481.parquet."""
    import shutil

    stage = scratch_path("corrupt_mix")
    os.makedirs(stage, exist_ok=True)
    shutil.copy(table_path(sf_dir, "nation"), os.path.join(stage, "good.parquet"))
    shutil.copy(
        os.path.join(CORPUS_DIR, "parquet-files-testing_bad_data_PARQUET-1481.parquet"),
        os.path.join(stage, "bad.parquet"),
    )
    # The fuzz file's FOOTER parses (one column, `Handle`), so schema
    # inference would adopt it; pin the expected schema — the corrupt
    # file then fails at decode time and ignoreCorruptFiles drops it.
    schema = load_table(spark, sf_dir, "nation").schema
    back = (
        spark.read.schema(schema)
        .option("ignoreCorruptFiles", "true")
        .parquet(stage)
        .select("n_nationkey")
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_nationkey").cast("bigint").alias("key_sum"),
    )


@register(
    "scan_type_widening",
    oracle="""
        SELECT CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
               round(sum(n_regionkey * CAST(1.5 AS DOUBLE)), 2)
                   AS widened_sum,
               count(*) AS n
        FROM nation
    """,
)
def scan_type_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-widening schema evolution: files written with narrow types
    (int32 keys, float weights) read through a WIDER user schema
    (bigint, double) — the upcast path a long-lived table takes when a
    column outgrows its original type. mergeSchema cannot reconcile
    int32 vs int64 file footers; a widened explicit read schema can,
    and the parquet vectorized reader upcasts per batch with no row
    penalty. The aggregate matches the source table exactly because
    int32→int64 and float32(1.5x of small ints)→float64 are lossless
    for these values."""
    n = load_table(spark, sf_dir, "nation")
    out = scratch_path("narrow_types")
    (
        n.select(
            F.col("n_nationkey").cast("int").alias("n_nationkey"),
            (F.col("n_regionkey") * 1.5).cast("float").alias("weight"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.schema("n_nationkey bigint, weight double").parquet(out)
    return back.agg(
        F.sum("n_nationkey").cast("bigint").alias("key_sum"),
        F.round(F.sum("weight"), 2).alias("widened_sum"),
        F.count(F.lit(1)).alias("n"),
    )
