"""Write paths / egestion (reference R7-R9).

The reference writes one whole Parquet file buffered in heap, then
copies to local disk and S3 (LoadParquet.java:56-71,
InMemoryOutputFile.java). Spark's committer-based writes replace all
of that: executors stream part-files in parallel; an `s3a://` output
path gives the multipart S3 upload (R9) for free. Here we exercise the
local variants: codec choice, partitioned layout, and CSV/JSON
interchange.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from parquet_playground_spark.operators.aggregates import exact_sum
from parquet_playground_spark.registry import register
from parquet_playground_spark.session import scoped_confs
from parquet_playground_spark.tables import load_table, scratch_path


def _write_read_partitioned(
    spark: SparkSession, df: DataFrame, part_col: str, out: str
) -> DataFrame:
    """Write `df` to `out` partitioned by `part_col` and read it back
    with the schema just written, the partition column last as
    partition discovery places it. Handing the schema over skips the
    footer-inference job `spark.read.parquet(out)` runs on every call
    (sf0.1 orders, 4 cores: 0.13-0.15 s, against 0.03-0.06 s)."""
    df.write.mode("overwrite").partitionBy(part_col).parquet(out)
    fields = [f for f in df.schema.fields if f.name != part_col]
    schema = StructType(fields + [df.schema[part_col]])
    return spark.read.schema(schema).parquet(out)


@register(
    "write_partitioned_parquet",
    oracle="""
        SELECT o_orderstatus, count(*) AS n,
               CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5)
                             AS DECIMAL(38, 0))) AS DOUBLE) / 100.0 AS total
        FROM orders
        GROUP BY o_orderstatus
    """,
)
def write_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned write (partitionBy status) + re-read with
    partition pruning available to downstream filters. At 100 TB,
    partition columns are the first-line data-skipping mechanism."""
    o = load_table(spark, sf_dir, "orders")
    out = scratch_path("orders_partitioned")
    back = _write_read_partitioned(spark, o, "o_orderstatus", out)
    # exact cents (exact_sum — drifted at sf1's ~1.2e11)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        (
            exact_sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5)).cast("double")
            / 100.0
        ).alias("total"),
    )


@register(
    "write_codec_matrix",
    oracle="""
        SELECT 'snappy' AS codec, count(*) AS n_rows FROM supplier
        UNION ALL SELECT 'gzip', count(*) FROM supplier
        UNION ALL SELECT 'zstd', count(*) FROM supplier
        UNION ALL SELECT 'lz4', count(*) FROM supplier
        UNION ALL SELECT 'none', count(*) FROM supplier
    """,
)
def write_codec_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write/read under every codec the corpus exercises (uncompressed,
    snappy, lz4 — reference §2.2) plus gzip/zstd."""
    s = load_table(spark, sf_dir, "supplier")
    frames = []
    for codec in ["snappy", "gzip", "zstd", "lz4", "none"]:
        out = scratch_path(f"supplier_{codec}")
        s.write.mode("overwrite").option("compression", codec).parquet(out)
        frames.append(
            spark.read.parquet(out)
            .agg(F.count("*").alias("n_rows"))
            .select(F.lit(codec).alias("codec"), "n_rows")
        )
    result = frames[0]
    for f in frames[1:]:
        result = result.unionByName(f)
    return result


def _ensure_bucketed_tables(spark: SparkSession, sf_dir: str) -> None:
    """Create bucketed copies of orders/customer (8 buckets on the join
    key, sorted in-bucket). Idempotent per (session, sf_dir)."""
    marker = f"pp_bucketed_for::{sf_dir}"
    if spark.conf.get("spark.pp.bucketed.marker", "") == marker:
        return
    # the in-memory catalog is fresh per session but the warehouse dir
    # persists on disk; clear both so saveAsTable never hits
    # LOCATION_ALREADY_EXISTS from a previous session's leftovers
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for tbl in ("pp_orders_bucketed", "pp_customer_bucketed"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(os.path.join(warehouse, tbl), ignore_errors=True)
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    (
        o.write.mode("overwrite")
        .format("parquet")
        .bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .saveAsTable("pp_orders_bucketed")
    )
    (
        c.write.mode("overwrite")
        .format("parquet")
        .bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .saveAsTable("pp_customer_bucketed")
    )
    spark.conf.set("spark.pp.bucketed.marker", marker)


@register(
    "write_bucketed_table",
    oracle="""
        SELECT count(*) AS n_rows,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        FROM orders
    """,
)
def write_bucketed_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed table write/read: pre-hash-partitioned storage is the
    standard way to make repeated big-table joins shuffle-free at
    100 TB (both sides bucketed on the join key -> co-located join, no
    Exchange). Matching the oracle over the original table proves the
    bucketed roundtrip is lossless."""
    _ensure_bucketed_tables(spark, sf_dir)
    back = spark.table("pp_orders_bucketed")
    return back.agg(
        F.count("*").alias("n_rows"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
    )


@register(
    "join_bucketed_colocated",
    oracle="""
        SELECT c_mktsegment, count(*) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5)
                             AS DECIMAL(38, 0))) AS DOUBLE) / 100.0
                   AS sum_price
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c_mktsegment
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join on matching bucketed tables: both sides are
    pre-partitioned (and pre-sorted) on the join key, so the sort-merge
    join reads buckets pairwise with NO exchange on either side — the
    only shuffle in the plan is the tiny final aggregate. This is the
    bucketing payoff SURVEY §2/§4 promises for repeated fact-fact
    joins; tests/test_plans.py pins the no-shuffle property."""
    _ensure_bucketed_tables(spark, sf_dir)
    o = spark.table("pp_orders_bucketed")
    c = spark.table("pp_customer_bucketed")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            # exact cents (exact_sum — drifted at sf1)
            (
                exact_sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5)).cast("double")
                / 100.0
            ).alias("sum_price"),
        )
    )


@register(
    "write_csv_json_roundtrip",
    oracle="""
        SELECT count(*) AS n_rows,
               count(DISTINCT n_name) AS n_names,
               CAST(sum(n_regionkey) AS BIGINT) AS sum_region
        FROM nation
    """,
)
def write_csv_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interchange formats: parquet -> CSV -> JSON -> parquet, fidelity
    checked against the original table."""
    n = load_table(spark, sf_dir, "nation")
    csv_out, json_out = scratch_path("nation_csv"), scratch_path("nation_json")
    n.write.mode("overwrite").option("header", "true").csv(csv_out)
    csv_back = spark.read.option("header", "true").schema(n.schema).csv(csv_out)
    csv_back.write.mode("overwrite").json(json_out)
    back = spark.read.schema(n.schema).json(json_out)
    return back.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("n_name").alias("n_names"),
        F.sum("n_regionkey").cast("bigint").alias("sum_region"),
    )


@register(
    "write_sorted_pruning",
    oracle="""
        SELECT count(*) AS n_rows,
               count(DISTINCT user_id) AS n_users,
               round(sum(value), 4) AS sum_value
        FROM events
        WHERE user_id BETWEEN 40 AND 49
    """,
)
def write_sorted_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-clustered layout for data skipping: rewrite events
    range-partitioned + sorted by user_id, so each output file (and
    each row group inside it) owns a narrow user_id range, then read
    back through a user_id filter. Parquet's min/max row-group stats
    turn that filter into I/O skipping — on the unsorted original the
    same predicate touches every row group; on the clustered copy it
    reads only the matching slice. This layout step is the flat-file
    cousin of Z-ordering and is the difference between scanning 100 TB
    and scanning 100 GB for selective key ranges. The oracle checks the
    roundtrip query on the original table: the rewrite must be
    content-preserving."""
    e = load_table(spark, sf_dir, "events")
    out = scratch_path("events_sorted")
    (
        e.repartitionByRange(8, "user_id")
        .sortWithinPartitions("user_id", "ts")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out).filter(F.col("user_id").between(40, 49))
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


@register(
    "write_xml_roundtrip",
    oracle="""
        SELECT n_nationkey, n_name, n_regionkey
        FROM nation
    """,
)
def write_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML interchange via Spark 4's built-in XML source (write with
    row/root tags, schema-driven read back). Completes the interchange
    matrix alongside CSV/JSON — XML remains the wire format of many
    enterprise feeds a 100 TB lake ingests."""
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    out = scratch_path("nation_xml")
    (
        n.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "nations")
        .option("rowTag", "nation")
        .save(out)
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema("n_nationkey int, n_name string, n_regionkey int")
        .load(out)
    )


@register(
    "write_partition_overwrite",
    oracle="""
        SELECT o_orderstatus,
               count(*) AS n,
               CAST(sum(CAST(floor(CASE WHEN o_orderstatus = 'F'
                                        THEN o_totalprice * 0.5
                                        ELSE o_totalprice END
                                   * 1000.0 + 0.5) AS DECIMAL(38, 0)))
                    AS DOUBLE) / 1000.0 AS total
        FROM orders
        GROUP BY o_orderstatus
    """,
)
def write_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the daily-refresh primitive: a
    full partitioned snapshot, then an INSERT OVERWRITE that replaces
    ONLY the partitions present in the incoming batch (here: status
    'F' rows at half price), leaving sibling partitions untouched.
    Requires partitionOverwriteMode=dynamic; with STATIC (the default)
    the same write would wipe the other partitions. The oracle is the
    expected post-refresh state computed directly from orders."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    path = scratch_path("part_overwrite")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    refresh = o.filter(F.col("o_orderstatus") == "F").withColumn(
        "o_totalprice", F.col("o_totalprice") * 0.5
    )
    with scoped_confs(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        refresh.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    return (
        spark.read.parquet(path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # 1e-3-USD integer units: the halved 'F' prices are exact
            # half-cents, so milli-dollars integerize both branches
            # (exact_sum — the float sum drifted at sf1)
            (
                exact_sum(F.floor(F.col("o_totalprice") * 1000.0 + 0.5)).cast("double")
                / 1000.0
            ).alias("total"),
        )
    )


@register(
    "write_orc_roundtrip",
    oracle="""
        SELECT count(*) AS n_rows,
               count(DISTINCT s_suppkey) AS n_keys,
               CAST(sum(CAST(floor(s_acctbal * 100.0 + 0.5)
                             AS DECIMAL(38, 0))) AS DOUBLE) / 100.0
                   AS sum_bal
        FROM supplier
    """,
)
def write_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write/read roundtrip — the second columnar interchange
    format next to Parquet (same committer-based parallel write, same
    predicate-pushdown/column-pruning scan path on re-read). The
    oracle checks the re-read aggregate equals the source table, so a
    lossy type mapping would surface as a hash mismatch. sum_bal is
    exact integer cents (exact_sum): the sf100 A-category sweep
    caught round(sum(s_acctbal), 4) splitting one ulp at ~4.6e9 (1M
    2dp terms — double-sum order sensitivity crosses the 4dp round)."""
    s = load_table(spark, sf_dir, "supplier")
    path = scratch_path("orc_roundtrip")
    s.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("s_suppkey").alias("n_keys"),
        (
            exact_sum(F.floor(F.col("s_acctbal") * 100.0 + 0.5)).cast("double")
            / 100.0
        ).alias("sum_bal"),
    )


@register(
    "source_corrupt_records",
    oracle="""
        SELECT count(*) AS n_total,
               count(*) FILTER (WHERE o_orderkey % 7 <> 0) AS n_good,
               count(*) FILTER (WHERE o_orderkey % 7 = 0) AS n_bad,
               round(sum(o_totalprice) FILTER (WHERE o_orderkey % 7 <> 0), 4)
                   AS sum_good_p
        FROM orders WHERE o_orderkey <= 2000
    """,
)
def source_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode ingestion of a JSONL batch where every 7th line
    is deliberately malformed (truncated JSON): bad records land in
    _corrupt_record instead of failing the job — the reference's
    robust-ingestion theme (its corpus ships malformed files; README
    'should fail cleanly') mapped to Spark's per-record quarantine.
    The corruption rule is deterministic (orderkey mod 7), so the
    good/bad split and the good-side value sum are fully
    oracle-derivable from orders."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    lines = o.select(
        F.when(
            F.col("o_orderkey") % 7 == 0,
            # truncated record: unparseable on purpose
            F.concat(F.lit('{"k": '), F.col("o_orderkey").cast("string"), F.lit(', "p": ')),
        )
        .otherwise(
            F.to_json(
                F.struct(
                    F.col("o_orderkey").alias("k"),
                    F.col("o_totalprice").alias("p"),
                )
            )
        )
        .alias("value")
    )
    path = scratch_path("corrupt_jsonl")
    lines.coalesce(1).write.mode("overwrite").text(path)
    parsed = (
        spark.read.schema("k long, p double, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    return parsed.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count("k").alias("n_good"),
        F.count("_corrupt_record").alias("n_bad"),
        F.round(F.sum("p"), 4).alias("sum_good_p"),
    )


_MAX_RECORDS = 1000


@register(
    "write_max_records_per_file",
    oracle=f"""
        WITH tot AS (SELECT count(*) AS n FROM orders)
        SELECT CAST(ceil(CAST(n AS DOUBLE) / {_MAX_RECORDS}) AS BIGINT)
                   AS n_files,
               n AS n_rows,
               (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM orders) AS key_sum
        FROM tot
    """,
)
def write_max_records_per_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-size governance on write: maxRecordsPerFile caps every
    output file at {_MAX_RECORDS} rows, so a single fat task can never
    emit a multi-GB file (the writer-side half of the small-file
    problem — compact_small_files is the reader-side half). The
    re-read counts real files via `_metadata.file_name`; with the data
    written from one task the file count is exactly
    ceil(rows/cap), which the oracle states from the row count. The
    content checksum proves the split is lossless."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    out = scratch_path("orders_capped")
    o.coalesce(1).write.mode("overwrite").option(
        "maxRecordsPerFile", _MAX_RECORDS
    ).parquet(out)
    back = spark.read.parquet(out)
    return back.agg(
        F.count_distinct(F.col("_metadata.file_name")).cast("bigint").alias(
            "n_files"
        ),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
    )


@register(
    "write_json_gzip_roundtrip",
    oracle="""
        SELECT o_orderstatus, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        FROM orders
        GROUP BY o_orderstatus
    """,
)
def write_json_gzip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed TEXT interchange: JSON-lines written with gzip codec
    and re-read through the schema'd JSON reader — the log-shipping
    format (parquet codecs are covered by write_codec_matrix; text
    formats compress per-FILE, which is why gzip json is splittable
    only at file granularity — the docstring caveat that shapes 100 TB
    ingest layouts: many medium gzip files, never one giant one). The
    re-read aggregate must equal the source."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    out = scratch_path("orders_json_gz")
    o.write.mode("overwrite").option("compression", "gzip").json(out)
    back = spark.read.schema("o_orderkey long, o_orderstatus string").json(out)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
    )


@register(
    "join_dpp_partitioned",
    oracle="""
        SELECT o_orderstatus, count(*) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5)
                             AS DECIMAL(38, 0))) AS DOUBLE) / 100.0
                   AS revenue
        FROM orders
        WHERE o_orderstatus = 'F'
        GROUP BY o_orderstatus
    """,
)
def join_dpp_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning end-to-end: the fact table lives in a
    Hive-partitioned layout (status directories), the dim carries the
    selective filter ('finished' only), and the JOIN — not any literal
    on the fact — decides which partitions get read. Catalyst injects
    a dynamicpruning subquery on the fact's partition column fed by
    the broadcast dim (pinned in tests/test_plans.py); at 100 TB this
    is what turns 'scan everything then throw most away' into 'never
    list the other directories'. Oracle states the post-pruning
    result."""
    o = load_table(spark, sf_dir, "orders")
    out = scratch_path("orders_partitioned_dpp")
    fact = _write_read_partitioned(spark, o, "o_orderstatus", out)
    dim = spark.createDataFrame(
        [("F", "finished"), ("O", "open"), ("P", "pending")],
        ["status", "label"],
    ).filter(F.col("label") == "finished")
    return (
        fact.join(F.broadcast(dim), fact.o_orderstatus == dim.status)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # exact cents (exact_sum — drifted at the sf3 screen)
            (
                exact_sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5)).cast("double")
                / 100.0
            ).alias("revenue"),
        )
    )


@register(
    "write_nested_parquet_roundtrip",
    oracle="""
        SELECT count(DISTINCT l_orderkey) AS n_orders,
               count(*) AS n_lines,
               round(sum(l_quantity), 2) AS qty_sum
        FROM lineitem
    """,
)
def write_nested_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-schema parquet WRITE path: lineitem rolled up to one row
    per order holding an array<struct<linenumber, quantity>>, written
    to parquet (3-level LIST encoding), read back, and exploded flat
    again — the checksums must survive the nest->write->read->unnest
    cycle exactly. The read twin of this capability is the corpus's
    nested_structs/nested_lists fixtures (corpus_smoke_reads);
    reference ties: ParquetConverter.java:115-170 flattening lineage.
    Collect_list order inside a group is nondeterministic, so the
    checksums are order-insensitive aggregates."""
    li = load_table(spark, sf_dir, "lineitem")
    nested = li.groupBy("l_orderkey").agg(
        F.collect_list(
            F.struct(
                F.col("l_linenumber").alias("ln"),
                F.col("l_quantity").alias("qty"),
            )
        ).alias("lines")
    )
    out = scratch_path("lineitem_nested")
    nested.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    flat = back.select(
        "l_orderkey", F.explode("lines").alias("line")
    )
    return flat.agg(
        F.count_distinct("l_orderkey").alias("n_orders"),
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum("line.qty"), 2).alias("qty_sum"),
    )


@register(
    "write_bloom_filter_prune",
    oracle="""
        SELECT count(*) AS n_match,
               TRUE AS all_files_have_bloom,
               min(p_partkey) AS min_match_key
        FROM part
        WHERE p_name = (SELECT p_name FROM part WHERE p_partkey = 100)
    """,
)
def write_bloom_filter_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet bloom-filter sidecar (the corpus ships bloom_filter.bin;
    reference has no writer for it): write `part` with a bloom filter
    on p_name (`parquet.bloom.filter.enabled#p_name`), verify via
    footer metadata that every part-file carries a bloom filter for the
    column, then run the point lookup the filter exists for. The
    all_files_have_bloom flag is hash-checked against a literal TRUE,
    so a silently dropped bloom filter fails the oracle.

    Scale: bloom filters are the row-group skipping mechanism for
    point predicates on high-cardinality UNSORTED columns — the case
    min/max stats can't prune. The footer introspection is
    driver-side over file metadata only (bytes per file, not data).
    """
    p = load_table(spark, sf_dir, "part")
    out = scratch_path("part_bloom")
    (
        p.repartition(4)
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#p_name", "true")
        .option("parquet.bloom.filter.expected.ndv#p_name", "50000")
        # a fully dictionary-encoded chunk omits its bloom filter (the
        # dictionary already serves as an exact membership structure);
        # force PLAIN on p_name so the bloom sidecar is actually written
        # — at real NDV (100 TB) the dict would overflow and PLAIN is
        # what the writer falls back to anyway
        .option("parquet.enable.dictionary#p_name", "false")
        .parquet(out)
    )

    # Footer-only check: every data file must report a bloom-filter
    # offset for p_name (ColumnChunkMetaData.getBloomFilterOffset >= 0).
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    files = [
        f for f in os.listdir(out)
        if f.endswith(".parquet") and not f.startswith("_")
    ]
    all_have = len(files) > 0
    for fname in files:
        jpath = jvm.org.apache.hadoop.fs.Path(os.path.join(out, fname))
        infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jpath, hconf
        )
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
        try:
            found = False
            for block in reader.getFooter().getBlocks():
                for col in block.getColumns():
                    if (
                        col.getPath().toDotString() == "p_name"
                        and col.getBloomFilterOffset() >= 0
                    ):
                        found = True
            all_have = all_have and found
        finally:
            reader.close()

    # The point lookup the bloom filter serves. The literal is resolved
    # driver-side (1-row lookup) so the EqualTo predicate pushes down
    # to the scan, where parquet-mr consults the bloom filter per row
    # group; the DuckDB oracle states the same lookup as a subquery.
    target = (
        p.filter(F.col("p_partkey") == 100).select("p_name").collect()[0][0]
    )
    back = spark.read.parquet(out).filter(F.col("p_name") == target)
    return back.agg(
        F.count("*").alias("n_match"),
        F.lit(all_have).alias("all_files_have_bloom"),
        F.min("p_partkey").alias("min_match_key"),
    )


# The knobs the reference hand-tunes in its S3 TransferManager upload
# (LoadParquet.java:55-72: multipart threshold/part size 16 MiB,
# 16-thread pool), re-expressed as the public s3a/committer confs a
# Spark job sets for the same behavior. On the local stand-in path the
# s3a keys are inert but ride the per-write job conf exactly as they
# would against s3a://, where the magic committer gives the
# no-rename-commit multipart upload (R9) the reference implements by
# hand.
_OBJECT_STORE_CONF: list[tuple[str, str]] = [
    ("fs.s3a.committer.name", "magic"),
    ("mapreduce.outputcommitter.factory.scheme.s3a",
     "org.apache.hadoop.fs.s3a.commit.S3ACommitterFactory"),
    ("fs.s3a.multipart.size", "16M"),
    ("fs.s3a.multipart.threshold", "16M"),
    ("fs.s3a.threads.max", "16"),
    ("fs.s3a.fast.upload", "true"),
]


@register(
    "write_object_store_committer",
    oracle="""
        SELECT 'fs.s3a.committer.name' AS setting, 'magic' AS value
        UNION ALL SELECT 'mapreduce.outputcommitter.factory.scheme.s3a',
            'org.apache.hadoop.fs.s3a.commit.S3ACommitterFactory'
        UNION ALL SELECT 'fs.s3a.multipart.size', '16M'
        UNION ALL SELECT 'fs.s3a.multipart.threshold', '16M'
        UNION ALL SELECT 'fs.s3a.threads.max', '16'
        UNION ALL SELECT 'fs.s3a.fast.upload', 'true'
        UNION ALL SELECT 'rows_roundtripped',
            CAST((SELECT count(*) FROM orders WHERE o_orderkey <= 2000)
                 AS VARCHAR)
    """,
)
def write_object_store_committer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Object-store sink analog of the reference's S3 upload pipeline
    (LoadParquet.java:55-72: TransferManager with a tuned 16 MiB
    multipart threshold and a 16-thread pool). Spark replaces all of
    that with committer configuration: the same write against an
    s3a:// path needs only these confs — executors stream part-files
    through multipart uploads in parallel and the magic committer
    finalizes without a rename pass (which S3 lacks). The write here
    rides a local stand-in path; the emitted table pins the exact conf
    set so the oracle fails if a knob drifts.

    Scale: committer choice is THE object-store bottleneck at 100 TB —
    a rename-based commit is O(data) on S3, the magic committer is
    O(files) metadata-only."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 2000)
        .select("o_orderkey", "o_totalprice", "o_orderdate")
    )
    out = scratch_path("orders_object_store")
    writer = o.write.mode("overwrite")
    for k, v in _OBJECT_STORE_CONF:
        writer = writer.option(k, v)
    writer.parquet(out)
    n = spark.read.parquet(out).count()
    rows = [(k, v) for k, v in _OBJECT_STORE_CONF]
    rows.append(("rows_roundtripped", str(n)))
    return spark.createDataFrame(rows, "setting string, value string")


_RG_ROWS = 500


@register(
    "scan_row_group_stats",
    oracle=f"""
        WITH ranked AS (
            SELECT o_orderkey,
                   row_number() OVER (ORDER BY o_orderkey) - 1 AS rk
            FROM orders WHERE o_orderkey <= 4000
        )
        SELECT CAST(min(o_orderkey) AS BIGINT) AS min_key,
               CAST(max(o_orderkey) AS BIGINT) AS max_key,
               count(*) AS n_rows
        FROM ranked
        GROUP BY rk // {_RG_ROWS}
    """,
)
def scan_row_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Footer min/max statistics surfaced as a table: write a
    sort-clustered orders slice capped at {_RG_ROWS} rows per file, read
    back ONLY the parquet footers (ColumnChunkMetaData statistics — the
    reference's row-group metadata surface, MutableParquetMetadata.java:
    35-49,109-115), and emit each file's (min,max,rows) for the sort
    key. Because the layout is written sorted from a single task, the
    per-file stats must equal the rank-bucketed min/max the oracle
    computes from the data — proving the stats row-group skipping and
    zorder_prune_selectivity rely on are actually present and tight.

    Scale: this is the metadata-only audit a lakehouse runs to check
    clustering health (stats tightness = pruning power) — footer bytes
    per file, no data I/O."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 4000)
        .select("o_orderkey", "o_totalprice")
    )
    out = scratch_path("orders_rg_stats")
    (
        o.coalesce(1)
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", _RG_ROWS)
        .parquet(out)
    )
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    records = []
    for fname in os.listdir(out):
        if not fname.endswith(".parquet") or fname.startswith("_"):
            continue
        jpath = jvm.org.apache.hadoop.fs.Path(os.path.join(out, fname))
        infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jpath, hconf
        )
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
        try:
            mn, mx, n = None, None, 0
            for block in reader.getFooter().getBlocks():
                n += block.getRowCount()
                for col in block.getColumns():
                    if col.getPath().toDotString() == "o_orderkey":
                        st = col.getStatistics()
                        lo, hi = st.genericGetMin(), st.genericGetMax()
                        mn = lo if mn is None else min(mn, lo)
                        mx = hi if mx is None else max(mx, hi)
            records.append((int(mn), int(mx), int(n)))
        finally:
            reader.close()
    return spark.createDataFrame(
        records, "min_key long, max_key long, n_rows long"
    )
