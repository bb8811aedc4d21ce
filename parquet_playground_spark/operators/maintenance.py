"""Table-maintenance operators: the housekeeping jobs that keep a
100 TB lakehouse queryable.

  * SCD2 dimension build — event log -> type-2 slowly-changing
                           dimension with validity intervals and a
                           current flag (the nightly dim refresh)
  * small-file compaction — many-small-files layout rewritten into few
                           large files with content-equality proof
                           (the compaction job every streaming sink
                           needs)
  * skew diagnosis       — hottest keys with share-of-total and
                           ratio-over-mean (the probe run before
                           choosing salting / AQE skew hints)
  * Z-order layout       — Morton-interleaved sort of two dimensions
                           so range filters on EITHER column prune
                           chunks (Delta OPTIMIZE ZORDER's core idea,
                           expressed as portable arithmetic)

All oracle-checked. Reference tie: compaction and layout rewrite are
the engine-side descendants of the reference's footer/row-group
pruning machinery (MutableParquetMetadata.java:35-115) — organize the
data so pruning has something to prune.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_playground_spark.functions.scalars import _round_stable
from parquet_playground_spark.operators.aggregates import exact_sum
from parquet_playground_spark.registry import register
from parquet_playground_spark.session import scoped_confs
from parquet_playground_spark.tables import load_table, scratch_path, sql_on_tables

_SEC = "CAST(epoch(date_trunc('second', ts)) AS BIGINT)"


@register(
    "scd2_dimension_build",
    oracle=f"""
        WITH t AS (
            SELECT user_id, event_type, event_id, {_SEC} AS sec,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev
            FROM events
        ), v AS (
            SELECT user_id, event_type, sec, event_id
            FROM t WHERE prev IS NULL OR prev <> event_type
        )
        SELECT user_id, event_type,
               sec AS valid_from,
               lead(sec) OVER w AS valid_to,
               CAST(row_number() OVER w AS BIGINT) AS version_seq,
               lead(sec) OVER w IS NULL AS is_current
        FROM v
        WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
    """,
)
def scd2_dimension_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD build from an event log: consecutive same-type events
    collapse, each type CHANGE opens a new version row with
    [valid_from, valid_to) validity and the open version flagged
    current — the standard dimension-refresh job. Two windows, both
    partitioned by user_id, so the whole build is ONE shuffle on the
    dimension key; at 100 TB the log is processed incrementally by
    unioning yesterday's open versions with today's events (same plan,
    bounded input). Timestamps are second-truncated (SURVEY §7.3)."""
    e = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp(F.date_trunc("second", F.col("ts")))
    w_scan = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "event_type",
        "event_id",
        sec.alias("sec"),
        F.lag("event_type").over(w_scan).alias("prev"),
    )
    versions = flagged.filter(
        F.col("prev").isNull() | (F.col("prev") != F.col("event_type"))
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    return versions.select(
        "user_id",
        "event_type",
        F.col("sec").alias("valid_from"),
        F.lead("sec").over(w).alias("valid_to"),
        F.row_number().over(w).cast("bigint").alias("version_seq"),
        F.lead("sec").over(w).isNull().alias("is_current"),
    )


_SMALL_FILES = 32
_COMPACTED_FILES = 4


@register(
    "compact_small_files",
    oracle=f"""
        SELECT 'small' AS phase, {_SMALL_FILES} AS n_files,
               count(*) AS n_rows,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5)
                             AS DECIMAL(38, 0))) AS DOUBLE) / 100.0
                   AS price_sum
        FROM orders
        UNION ALL
        SELECT 'compacted', {_COMPACTED_FILES}, count(*),
               CAST(sum(o_orderkey) AS BIGINT),
               CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5)
                             AS DECIMAL(38, 0))) AS DOUBLE) / 100.0
        FROM orders
    """,
)
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: a fragmented layout (32 part-files) is
    rewritten into 4 large files; both layouts are re-read and content-
    checksummed (row count, key sum, price sum) so the oracle proves
    compaction is lossless, and the per-phase file count (from the
    `_metadata.file_name` hidden column of the actual re-read) proves
    the file count really dropped 8x. The expected counts are exact:
    round-robin repartition(32) fills all 32, and coalesce(4) of one
    read split per small file merges them without shuffle. At 100 TB
    this is the nightly compaction of a streaming sink's minute-files
    — coalesce avoids the shuffle;
    repartitionByRange would additionally restore sort order for
    min/max pruning (see zorder_morton_layout)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    small_dir, big_dir = scratch_path("compact_small"), scratch_path("compact_big")
    o.repartition(_SMALL_FILES).write.mode("overwrite").parquet(small_dir)
    small = spark.read.parquet(small_dir)
    # coalesce can only merge read splits, and Spark packs small files
    # into about one split per core; one split per file keeps the
    # compacted count at _COMPACTED_FILES on any core count
    with scoped_confs(spark, {"spark.sql.files.minPartitionNum": str(_SMALL_FILES)}):
        small.coalesce(_COMPACTED_FILES).write.mode("overwrite").parquet(big_dir)

    def checksum(df: DataFrame, phase: str) -> DataFrame:
        return df.agg(
            F.count_distinct(F.col("_metadata.file_name")).cast("int").alias(
                "n_files"
            ),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
            # exact cents: a float sum drifts in the 2nd decimal at
            # ~4e11 (caught by the r6 sf1 final-HEAD sweep)
            (
                exact_sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5)).cast("double")
                / 100.0
            ).alias("price_sum"),
        ).select(F.lit(phase).alias("phase"), "n_files", "n_rows",
                 "key_sum", "price_sum")

    return checksum(small, "small").unionByName(
        checksum(spark.read.parquet(big_dir), "compacted")
    )


_TOP_KEYS = 10


@register(
    "skew_diagnose_keys",
    oracle=f"""
        WITH per_key AS (
            SELECT o_custkey, count(*) AS n
            FROM orders GROUP BY o_custkey
        ), tot AS (
            SELECT CAST(sum(n) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS n_keys
            FROM per_key
        ), ranked AS (
            SELECT o_custkey, n,
                   row_number() OVER (ORDER BY n DESC, o_custkey ASC) AS rnk
            FROM per_key
        )
        SELECT r.o_custkey, r.n, CAST(r.rnk AS BIGINT) AS rnk,
               round(CAST(r.n AS DOUBLE) / t.total, 6) AS share,
               round(CAST(r.n AS DOUBLE) * t.n_keys / t.total, 2)
                   AS x_over_mean
        FROM ranked r CROSS JOIN tot t
        WHERE r.rnk <= {_TOP_KEYS}
    """,
)
def skew_diagnose_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew probe: the {_TOP_KEYS} hottest join/agg keys with their
    share of total rows and hotness ratio over the mean key — the
    diagnostic run before deciding between broadcast, salting
    (join_skew_salted), or AQE skew hints. One map-combinable count per
    key, a top-k window over the (small) per-key aggregate, and the
    totals broadcast back — the corpus never shuffles twice. Unique
    tie-break on the key keeps the top-k deterministic (SURVEY §7.3)."""
    o = load_table(spark, sf_dir, "orders")
    per_key = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    tot = per_key.agg(
        F.sum("n").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
    )
    w = Window.orderBy(F.col("n").desc(), F.col("o_custkey").asc())
    ranked = per_key.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= _TOP_KEYS
    )
    return ranked.crossJoin(F.broadcast(tot)).select(
        "o_custkey",
        "n",
        F.col("rnk").cast("bigint").alias("rnk"),
        F.round(F.col("n").cast("double") / F.col("total"), 6).alias("share"),
        F.round(
            F.col("n").cast("double") * F.col("n_keys") / F.col("total"), 2
        ).alias("x_over_mean"),
    )


_Z_BITS = 4  # 4 bits per dimension -> 16x16 grid, 8-bit Morton code
_Z_CHUNKS = 16


def _morton_sql(x: str, y: str) -> str:
    """8-bit Morton interleave of two 4-bit bucket ids, as portable
    integer arithmetic (identical text works in Spark SQL and DuckDB)."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i})")
    return " + ".join(terms)


_ZX = "(o_custkey % 16)"
_ZY = "((CAST(year(o_orderdate) AS BIGINT) * 12 + month(o_orderdate)) % 16)"


@register(
    "zorder_morton_layout",
    oracle=f"""
        WITH z AS (
            SELECT o_orderkey, {_ZX} AS bx, {_ZY} AS by_,
                   {_morton_sql(_ZX, _ZY)} AS zcode
            FROM orders
        ), chunked AS (
            SELECT *, ntile({_Z_CHUNKS}) OVER (ORDER BY zcode, o_orderkey)
                       AS chunk
            FROM z
        )
        SELECT CAST(chunk AS BIGINT) AS chunk, count(*) AS n_rows,
               CAST(min(bx) AS BIGINT) AS min_cust_bucket,
               CAST(max(bx) AS BIGINT) AS max_cust_bucket,
               CAST(min(by_) AS BIGINT) AS min_month_bucket,
               CAST(max(by_) AS BIGINT) AS max_month_bucket,
               CAST(min(zcode) AS BIGINT) AS min_z,
               CAST(max(zcode) AS BIGINT) AS max_z
        FROM chunked
        GROUP BY chunk
    """,
)
def zorder_morton_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering: customer-bucket and order-month
    bucket are bit-interleaved into one sort key; sorting by it and
    cutting the table into {_Z_CHUNKS} chunks gives every chunk a
    NARROW min/max range on BOTH dimensions simultaneously — so a
    range filter on either column skips most chunks via footer min/max
    stats (the reference's row-group pruning,
    MutableParquetMetadata.java:35-49, is exactly the machinery this
    layout feeds). Output = per-chunk min/max envelopes, i.e. the
    pruning index itself. The portable formulation uses ntile for
    deterministic chunk ids; the production write path is
    `repartitionByRange(z).sortWithinPartitions(z)` (same plan shape as
    write_sorted_pruning) — the global window here exists only so the
    oracle can pin chunk assignment exactly."""
    o = load_table(spark, sf_dir, "orders")
    z = o.selectExpr(
        "o_orderkey",
        f"{_ZX} AS bx",
        f"{_ZY} AS by_",
        f"{_morton_sql(_ZX, _ZY)} AS zcode",
    )
    w = Window.orderBy("zcode", "o_orderkey")
    chunked = z.withColumn("chunk", F.ntile(_Z_CHUNKS).over(w))
    return chunked.groupBy(F.col("chunk").cast("bigint").alias("chunk")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("bx").cast("bigint").alias("min_cust_bucket"),
        F.max("bx").cast("bigint").alias("max_cust_bucket"),
        F.min("by_").cast("bigint").alias("min_month_bucket"),
        F.max("by_").cast("bigint").alias("max_month_bucket"),
        F.min("zcode").cast("bigint").alias("min_z"),
        F.max("zcode").cast("bigint").alias("max_z"),
    )


@register(
    "pipeline_observe_metrics",
    oracle="""
        SELECT count(*) AS n_rows,
               count(*) FILTER (WHERE o_totalprice <= 0) AS n_nonpositive,
               CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5)
                             AS DECIMAL(38, 0))) AS DOUBLE) / 100.0
                   AS total_price,
               CAST(max(o_orderkey) AS BIGINT) AS max_key
        FROM orders
    """,
)
def pipeline_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-flight data-quality metrics via the Observation API: the
    validation counters (row count, non-positive prices, total, max
    key) ride the SAME pass that computes the job's real output — no
    second scan, which is the whole point at 100 TB (a separate audit
    query would double the read). The observed metrics come back to
    the driver as one tiny row on action completion; here they ARE the
    result so the oracle can check them. Production keeps the main
    result and ships the metrics to the job monitor."""
    from pyspark.sql import Observation

    o = load_table(spark, sf_dir, "orders")
    obs = Observation("quality_gate")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias(
            "n_nonpositive"
        ),
        # exact cents (exact_sum): the global float sum drifted
        # at sf1's ~3.8e11 magnitude; one driver-side division below
        exact_sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5)).alias(
            "total_price_c"
        ),
        F.max("o_orderkey").cast("bigint").alias("max_key"),
    )
    # the job's "real" output; materializing it populates the metrics
    observed.groupBy("o_orderstatus").count().collect()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["n_nonpositive"],
                float(m["total_price_c"]) / 100.0,
                m["max_key"],
            )
        ],
        "n_rows bigint, n_nonpositive bigint, total_price double, max_key bigint",
    )


@register(
    "table_snapshot_diff",
    oracle="""
        WITH v2 AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 13 = 0
                        THEN floor((o_totalprice * 1.1) * 100.0 + 0.5) / 100.0
                        ELSE round(o_totalprice, 2) END AS price
            FROM orders WHERE o_orderkey % 17 <> 0
            UNION ALL
            SELECT o_orderkey + 1000000, round(o_totalprice, 2)
            FROM orders WHERE o_orderkey % 19 = 0
        ), v1 AS (
            SELECT o_orderkey, round(o_totalprice, 2) AS price FROM orders
        )
        SELECT coalesce(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
               CASE WHEN v1.o_orderkey IS NULL THEN 'added'
                    WHEN v2.o_orderkey IS NULL THEN 'removed'
                    ELSE 'updated' END AS change_type,
               v1.price AS old_price,
               v2.price AS new_price
        FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
        WHERE v1.o_orderkey IS NULL OR v2.o_orderkey IS NULL
           OR v1.price <> v2.price
    """,
)
def table_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff: added / removed / updated rows between two table
    versions (v2 is derived deterministically: every 17th key deleted,
    every 13th repriced +10%, every 19th re-inserted under a new key) —
    the change-data-capture audit run between lakehouse snapshots, and
    the generalization of cdc_upsert from apply to DIFF. One full-outer
    hash join on the primary key; unchanged rows are filtered before
    leaving the join, so the output is proportional to the churn, not
    the table. Prices are rounded to 2 decimals BEFORE comparison so
    the change predicate is engine-exact."""
    o = load_table(spark, sf_dir, "orders")
    v1 = o.select(
        "o_orderkey", F.round("o_totalprice", 2).alias("price")
    )
    v2 = (
        o.filter(F.col("o_orderkey") % 17 != 0)
        .select(
            "o_orderkey",
            # _round_stable on the repriced branch: price*1.1 has long
            # decimals where Spark/DuckDB round() disagree at .xx5
            # edges. Plain round() on the untouched branch is safe —
            # the input is already an exact 2-decimal value.
            F.when(
                F.col("o_orderkey") % 13 == 0,
                _round_stable(F.col("o_totalprice") * 1.1, 2),
            )
            .otherwise(F.round("o_totalprice", 2))
            .alias("price"),
        )
        .unionAll(
            o.filter(F.col("o_orderkey") % 19 == 0).select(
                (F.col("o_orderkey") + 1000000).alias("o_orderkey"),
                F.round("o_totalprice", 2).alias("price"),
            )
        )
    )
    j = v1.alias("v1").join(
        v2.alias("v2"),
        F.col("v1.o_orderkey") == F.col("v2.o_orderkey"),
        "full_outer",
    )
    return j.select(
        F.coalesce(F.col("v1.o_orderkey"), F.col("v2.o_orderkey")).alias(
            "o_orderkey"
        ),
        F.when(F.col("v1.o_orderkey").isNull(), "added")
        .when(F.col("v2.o_orderkey").isNull(), "removed")
        .otherwise("updated")
        .alias("change_type"),
        F.col("v1.price").alias("old_price"),
        F.col("v2.price").alias("new_price"),
    ).filter(
        F.col("v1.o_orderkey").isNull()
        | F.col("v2.o_orderkey").isNull()
        | (F.col("v1.price") != F.col("v2.price"))
    )


_DQ_RULES = [
    ("price_positive", "o_totalprice > 0"),
    ("status_known", "o_orderstatus IN ('O', 'F', 'P')"),
    ("key_unique_range", "o_orderkey BETWEEN 0 AND 100000000"),
    ("priority_wellformed", "o_orderpriority RLIKE '^[1-5]-'"),
    ("date_in_window",
     "o_orderdate >= TIMESTAMP '1990-01-01' "
     "AND o_orderdate < TIMESTAMP '2005-01-01'"),
]


def _dq_oracle() -> str:
    parts = []
    for name, pred in _DQ_RULES:
        duck_pred = pred.replace("RLIKE", "SIMILAR TO").replace(
            "'^[1-5]-'", "'[1-5]-.*'"
        )
        parts.append(
            f"""SELECT '{name}' AS rule_name,
                       count(*) AS n_checked,
                       count(*) FILTER (WHERE NOT ({duck_pred}))
                           AS n_violations,
                       count(*) FILTER (WHERE NOT ({duck_pred})) = 0
                           AS passed
                FROM orders"""
        )
    return " UNION ALL ".join(parts)


@register("pipeline_dq_rules", oracle=_dq_oracle())
def pipeline_dq_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality rule engine: a rule set (name, SQL
    predicate) evaluated in ONE scan — each rule becomes a conditional
    count in a single aggregate, then unpivots to per-rule rows
    (checked, violations, pass flag). The Great-Expectations-style
    contract check that gates a table promotion; at 100 TB the
    one-scan property is the difference between one audit job and one
    per rule (same single-pass shape as profile_columns). Rules are
    ordinary SQL predicates, so the rule library needs no engine
    changes to grow."""
    o = load_table(spark, sf_dir, "orders")
    aggs = []
    for name, pred in _DQ_RULES:
        viol = F.sum(F.when(~F.expr(pred), 1).otherwise(0))
        aggs += [
            F.count(F.lit(1)).alias(f"{name}__checked"),
            viol.alias(f"{name}__viol"),
        ]
    one = o.agg(*aggs)
    stack = ", ".join(
        f"'{name}', {name}__checked, {name}__viol" for name, _ in _DQ_RULES
    )
    return one.select(
        F.expr(
            f"stack({len(_DQ_RULES)}, {stack}) AS "
            "(rule_name, n_checked, n_violations)"
        )
    ).withColumn("passed", F.col("n_violations") == 0)


@register(
    "zorder_prune_selectivity",
    oracle=f"""
        WITH z AS (
            SELECT o_orderkey, {_ZX} AS bx,
                   {_morton_sql(_ZX, _ZY)} AS zcode
            FROM orders
        ), chunked AS (
            SELECT *, ntile({_Z_CHUNKS}) OVER (ORDER BY zcode, o_orderkey)
                       AS chunk
            FROM z
        )
        SELECT CAST({_Z_CHUNKS} AS BIGINT) AS n_chunks_total,
               CAST(count(DISTINCT CASE WHEN bx IN (3, 4) THEN chunk END)
                    AS BIGINT) AS n_chunks_with_matches,
               count(*) FILTER (WHERE bx IN (3, 4)) AS n_rows_matched,
               round(1.0 - CAST(count(DISTINCT CASE WHEN bx IN (3, 4)
                                                    THEN chunk END)
                                AS DOUBLE) / {_Z_CHUNKS}, 4) AS prune_pct
        FROM chunked
    """,
)
def zorder_prune_selectivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Z-order layout's PAYOFF, quantified: for a 2-of-16
    customer-bucket predicate, how many of the {_Z_CHUNKS} Morton
    chunks contain any matching row — every other chunk is skipped
    outright by file/row-group min-max stats (reference row-group
    pruning, MutableParquetMetadata.java:35-49). On a random layout
    the predicate touches ~every chunk; on the Morton layout it
    touches the few whose interleaved range covers those buckets —
    prune_pct IS the fraction of the table the query never reads.
    Companion of zorder_morton_layout (which emits the envelopes this
    one evaluates)."""
    o = load_table(spark, sf_dir, "orders")
    z = o.selectExpr(
        "o_orderkey", f"{_ZX} AS bx", f"{_morton_sql(_ZX, _ZY)} AS zcode"
    )
    w = Window.orderBy("zcode", "o_orderkey")
    chunked = z.withColumn("chunk", F.ntile(_Z_CHUNKS).over(w))
    match_chunk = F.when(F.col("bx").isin(3, 4), F.col("chunk"))
    return chunked.agg(
        F.lit(_Z_CHUNKS).cast("bigint").alias("n_chunks_total"),
        F.count_distinct(match_chunk).cast("bigint").alias(
            "n_chunks_with_matches"
        ),
        F.sum(F.col("bx").isin(3, 4).cast("long")).alias("n_rows_matched"),
        F.round(
            1.0 - F.count_distinct(match_chunk).cast("double") / _Z_CHUNKS, 4
        ).alias("prune_pct"),
    )


@register(
    "mv_incremental_refresh",
    oracle="""
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               count(*) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5)
                             AS DECIMAL(38, 0))) AS DOUBLE) / 100.0
                   AS revenue
        FROM orders GROUP BY 1
    """,
)
def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view refresh for additive aggregates:
    the 'yesterday' MV (orders before 1997-07-01, pre-aggregated per
    month) absorbs the delta batch (orders on/after the cutoff) by
    FULL OUTER merging per-month partials and ADDING — never
    re-scanning the base fact table. The oracle is the from-scratch
    recompute over all of orders, so the merge must be exactly
    lossless: months only in the base pass through, months only in
    the delta appear (new partitions), overlap months sum.

    At 100 TB this is the difference between an O(delta) nightly job
    and an O(history) one; count/sum/min/max all merge this way
    (non-additive moments need the partials pattern shown in
    incremental_variance_merge)."""
    o = load_table(spark, sf_dir, "orders")
    month = F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    cutoff = F.lit("1997-07-01").cast("timestamp")
    # partials in exact integer cents (exact_sum): the merged sum
    # must match the from-scratch oracle bit-for-bit at every SF, and
    # DECIMAL partials stay additive across the MV merge
    price_c = F.floor(F.col("o_totalprice") * 100.0 + 0.5)
    mv_old = (
        o.filter(F.col("o_orderdate") < cutoff)
        .groupBy(month)
        .agg(
            F.count(F.lit(1)).alias("cnt_b"),
            exact_sum(price_c).alias("sum_b"),
        )
    )
    delta = (
        o.filter(F.col("o_orderdate") >= cutoff)
        .groupBy(month)
        .agg(
            F.count(F.lit(1)).alias("cnt_d"),
            exact_sum(price_c).alias("sum_d"),
        )
    )
    merged = mv_old.join(delta, "month", "full_outer")
    zero_c = F.lit(0).cast("decimal(38,0)")
    return merged.select(
        "month",
        (F.coalesce("cnt_b", F.lit(0)) + F.coalesce("cnt_d", F.lit(0))).alias(
            "n_orders"
        ),
        (
            (F.coalesce("sum_b", zero_c) + F.coalesce("sum_d", zero_c)).cast(
                "double"
            )
            / 100.0
        ).alias("revenue"),
    )


@register(
    "join_point_in_time",
    oracle=f"""
        WITH t AS (
            SELECT user_id, event_type, event_id, {_SEC} AS sec,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev
            FROM events
        ), v AS (
            SELECT user_id, event_type, sec, event_id
            FROM t WHERE prev IS NULL OR prev <> event_type
        ), dim AS (
            SELECT user_id, event_type, sec AS valid_from,
                   lead(sec) OVER w AS valid_to,
                   CAST(row_number() OVER w AS BIGINT) AS version_seq
            FROM v
            WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
        ),
        dim2 AS (
            -- zero-width versions (duplicate valid_from seconds) can
            -- never match the range predicate; drop them explicitly so
            -- the ASOF join below is deterministic on ties
            SELECT * FROM dim
            QUALIFY row_number() OVER (
                PARTITION BY user_id, valid_from
                ORDER BY version_seq DESC) = 1
        ),
        spine AS (
            SELECT CAST(epoch(ts) AS BIGINT) AS probe_sec
            FROM generate_series(TIMESTAMP '2024-01-05 00:00:00',
                                 TIMESTAMP '2024-01-29 00:00:00',
                                 INTERVAL 6 HOUR) g(ts)
        ),
        probes AS (
            SELECT u.user_id, s.probe_sec
            FROM (SELECT DISTINCT user_id FROM events) u CROSS JOIN spine s
        )
        -- ASOF (greatest valid_from <= probe) == the SCD2 range
        -- predicate valid_from <= p < valid_to when versions are
        -- contiguous (valid_to = lead(valid_from)); DuckDB executes it
        -- sort-based in seconds where the declarative range join's
        -- IEJoin ground for hours at sf10 (equivalence checked both
        -- ways with EXCEPT ALL at sf0.01 and sf1)
        SELECT p.user_id, p.probe_sec,
               d.event_type AS regime, d.version_seq
        FROM probes p ASOF LEFT JOIN dim2 d
          ON d.user_id = p.user_id AND d.valid_from <= p.probe_sec
    """,
)
def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup against the SCD2 dimension (the consuming
    half of scd2_dimension_build): for each (user, 6-hourly probe
    instant), which dimension version was valid THEN? The textbook
    form is a range join on valid_from <= t < valid_to (the oracle
    states it); the scale form here is the union-tag as-of plan —
    versions and probes share one (user, time) ordering and a running
    last(ignorenulls) resolves every probe in a single user-keyed
    shuffle, because SCD2 validity ranges tile time contiguously.
    Versions sort before probes at equal seconds (valid_from is
    inclusive); among same-second versions the highest version_seq
    wins, matching the oracle's zero-length-range exclusion."""
    versions = scd2_dimension_build(spark, sf_dir).select(
        F.col("user_id"),
        F.col("valid_from").alias("at_sec"),
        F.lit(0).alias("tag"),
        F.col("event_type").alias("v_type"),
        F.col("version_seq"),
    )
    spine = spark.sql(
        """SELECT explode(sequence(timestamp'2024-01-05 00:00:00',
                                   timestamp'2024-01-29 00:00:00',
                                   interval 6 hours)) AS pts"""
    ).select(F.unix_timestamp("pts").alias("probe_sec"))
    users = load_table(spark, sf_dir, "events").select("user_id").distinct()
    probes = users.crossJoin(F.broadcast(spine)).select(
        "user_id",
        F.col("probe_sec").alias("at_sec"),
        F.lit(1).alias("tag"),
        F.lit(None).cast("string").alias("v_type"),
        F.lit(None).cast("long").alias("version_seq"),
    )
    tagged = versions.unionByName(probes)
    w = (
        Window.partitionBy("user_id")
        .orderBy("at_sec", "tag", F.coalesce("version_seq", F.lit(0)))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    resolved = (
        tagged.withColumn("regime", F.last("v_type", ignorenulls=True).over(w))
        .withColumn(
            "cur_version", F.last("version_seq", ignorenulls=True).over(w)
        )
        .filter(F.col("tag") == 1)
    )
    return resolved.select(
        "user_id",
        F.col("at_sec").alias("probe_sec"),
        "regime",
        F.col("cur_version").alias("version_seq"),
    )


@register(
    "recon_symmetric_diff",
    oracle="""
        WITH snap_a AS (
            SELECT o_orderkey AS k, o_totalprice AS price,
                   o_orderstatus AS status
            FROM orders
        ),
        snap_b AS (
            SELECT o_orderkey AS k,
                   CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1.0
                        ELSE o_totalprice END AS price,
                   o_orderstatus AS status
            FROM orders WHERE o_orderkey % 97 <> 0
            UNION ALL
            SELECT -o_orderkey AS k, o_totalprice AS price,
                   o_orderstatus AS status
            FROM orders WHERE o_orderkey % 101 = 0
        )
        SELECT CASE WHEN b.k IS NULL THEN 'missing_in_b'
                    WHEN a.k IS NULL THEN 'missing_in_a'
                    WHEN a.price <> b.price OR a.status <> b.status
                         THEN 'value_mismatch'
                    ELSE 'match' END AS recon_class,
               count(*) AS n_keys,
               round(sum(coalesce(abs(a.price - b.price), 0.0)), 2)
                   AS total_price_drift
        FROM snap_a a FULL OUTER JOIN snap_b b ON a.k = b.k
        GROUP BY 1
    """,
)
def recon_symmetric_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided snapshot reconciliation (the nightly 'did replication
    drift' audit): FULL OUTER join two versions of a table on the key
    and classify every key as match / value_mismatch / missing_in_a /
    missing_in_b, with the aggregate price drift. Snapshot B is derived
    from A by deterministic deletions (%97), mutations (%89) and
    additions (negated %101 keys), so every class is non-empty at
    sf0.01. One co-partitioned shuffle on the key; the classification
    is a projection, so the cost is the join — linear and skew-free on
    a unique key."""
    o = load_table(spark, sf_dir, "orders")
    a = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    b = (
        o.where(F.col("o_orderkey") % 97 != 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.when(
                F.col("o_orderkey") % 89 == 0, F.col("o_totalprice") + 1.0
            ).otherwise(F.col("o_totalprice")).alias("price"),
            F.col("o_orderstatus").alias("status"),
        )
        .unionAll(
            o.where(F.col("o_orderkey") % 101 == 0).select(
                (-F.col("o_orderkey")).alias("k"),
                F.col("o_totalprice").alias("price"),
                F.col("o_orderstatus").alias("status"),
            )
        )
    )
    joined = a.alias("a").join(
        b.alias("b"), F.col("a.k") == F.col("b.k"), "full_outer"
    )
    recon_class = (
        F.when(F.col("b.k").isNull(), "missing_in_b")
        .when(F.col("a.k").isNull(), "missing_in_a")
        .when(
            (F.col("a.price") != F.col("b.price"))
            | (F.col("a.status") != F.col("b.status")),
            "value_mismatch",
        )
        .otherwise("match")
    )
    return joined.groupBy(recon_class.alias("recon_class")).agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.round(
            F.sum(F.coalesce(F.abs(F.col("a.price") - F.col("b.price")), F.lit(0.0))),
            2,
        ).alias("total_price_drift"),
    )


@register(
    "dq_referential_integrity",
    oracle="""
        WITH rels AS (
            SELECT 'lineitem.l_orderkey->orders' AS relationship,
                   CAST(l_orderkey AS BIGINT) AS fk,
                   CAST(l_orderkey IN (SELECT o_orderkey FROM orders)
                        AS INTEGER) AS has_parent
            FROM (SELECT DISTINCT l_orderkey FROM lineitem
                  WHERE l_orderkey IS NOT NULL)
            UNION ALL
            SELECT 'orders.o_custkey->customer',
                   CAST(o_custkey AS BIGINT),
                   CAST(o_custkey IN (SELECT c_custkey FROM customer)
                        AS INTEGER)
            FROM (SELECT DISTINCT o_custkey FROM orders
                  WHERE o_custkey IS NOT NULL)
            UNION ALL
            SELECT 'customer.c_nationkey->nation',
                   CAST(c_nationkey AS BIGINT),
                   CAST(c_nationkey IN (SELECT n_nationkey FROM nation)
                        AS INTEGER)
            FROM (SELECT DISTINCT c_nationkey FROM customer
                  WHERE c_nationkey IS NOT NULL)
            UNION ALL
            SELECT 'events.user_id->customer',
                   CAST(user_id AS BIGINT),
                   CAST(user_id IN (SELECT c_custkey FROM customer)
                        AS INTEGER)
            FROM (SELECT DISTINCT user_id FROM events
                  WHERE user_id IS NOT NULL)
        )
        SELECT relationship,
               count(*) AS n_child_keys,
               CAST(count(*) - sum(has_parent) AS BIGINT) AS n_orphan_keys,
               min(CASE WHEN has_parent = 0 THEN fk END) AS min_orphan_key
        FROM rels
        GROUP BY relationship
    """,
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit across the star schema: for each
    declared child->parent relationship, count distinct child keys and
    how many have no parent row (events.user_id->customer is the
    deliberately broken one — user 0 has no matching custkey, so the
    audit is non-vacuous). Each relationship reduces the child to its
    DISTINCT keys BEFORE the parent lookup, so the join carries key
    cardinality, not fact-table rows; the constant-size nation parent
    broadcasts, while orders/customer parents (fact-scaled key sets)
    shuffle on the key. This is the promotion gate that runs before a
    snapshot is published downstream."""

    def _audit(child: DataFrame, fk: str, parent: DataFrame, pk: str,
               label: str, small_parent: bool = False) -> DataFrame:
        keys = (
            child.select(F.col(fk).cast("bigint").alias("fk"))
            .where(F.col("fk").isNotNull())
            .distinct()
        )
        pkeys = parent.select(F.col(pk).cast("bigint").alias("pk")).distinct()
        # only constant-size dims (nation) broadcast; fact-scaled
        # parents (orders, customer) shuffle on the key — their
        # distinct-key sets grow with SF and a forced broadcast is
        # the q5/q9 defect class
        pside = F.broadcast(pkeys) if small_parent else pkeys.hint("merge")
        flagged = keys.join(
            pside, keys.fk == pkeys.pk, "left"
        ).select(
            "fk", F.col("pk").isNotNull().cast("int").alias("has_parent")
        )
        return flagged.agg(
            F.lit(label).alias("relationship"),
            F.count(F.lit(1)).alias("n_child_keys"),
            (F.count(F.lit(1)) - F.sum("has_parent")).alias("n_orphan_keys"),
            F.min(
                F.when(F.col("has_parent") == 0, F.col("fk"))
            ).alias("min_orphan_key"),
        ).select(
            "relationship", "n_child_keys", "n_orphan_keys", "min_orphan_key"
        )

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    e = load_table(spark, sf_dir, "events")
    parts = [
        _audit(li, "l_orderkey", o, "o_orderkey",
               "lineitem.l_orderkey->orders"),
        _audit(o, "o_custkey", c, "c_custkey", "orders.o_custkey->customer"),
        _audit(c, "c_nationkey", n, "n_nationkey",
               "customer.c_nationkey->nation", small_parent=True),
        _audit(e, "user_id", c, "c_custkey", "events.user_id->customer"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@register(
    "dq_freshness_sla",
    oracle="""
        WITH feeds AS (
            SELECT event_type,
                   count(*) AS n_events,
                   CAST(epoch(date_trunc('second', max(ts))) AS BIGINT)
                       AS last_sec
            FROM events GROUP BY event_type
        ),
        now_ref AS (
            SELECT CAST(epoch(date_trunc('second', max(ts))) AS BIGINT)
                       AS now_sec
            FROM events
        )
        SELECT f.event_type, f.n_events, f.last_sec,
               CAST(floor((n.now_sec - f.last_sec) / 60.0) AS BIGINT)
                   AS lag_minutes,
               (n.now_sec - f.last_sec) <= 7200 AS within_sla
        FROM feeds f CROSS JOIN now_ref n
        ORDER BY f.event_type
    """,
)
def dq_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-freshness SLA check: each event feed's last-arrival lag
    against the pipeline reference clock (the corpus max timestamp —
    deterministic stand-in for now()), flagged against a 2-hour SLA.
    This is the first monitor every ingestion DAG grows: a feed whose
    producer died shows a growing lag while row counts look normal.
    Shape: one map-combinable per-feed aggregate + a 1-row broadcast
    reference clock — scan-bound at any scale, and the per-feed max(ts)
    needs no shuffle beyond the |feeds|-row readout."""
    e = load_table(spark, sf_dir, "events")
    last = F.unix_timestamp(F.date_trunc("second", F.max("ts"))).cast("bigint")
    feeds = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        last.alias("last_sec"),
    )
    now_ref = e.agg(last.alias("now_sec"))
    lag = F.col("now_sec") - F.col("last_sec")
    return (
        feeds.crossJoin(F.broadcast(now_ref))
        .select(
            "event_type",
            "n_events",
            "last_sec",
            F.floor(lag / 60.0).cast("bigint").alias("lag_minutes"),
            (lag <= 7200).alias("within_sla"),
        )
        .orderBy("event_type")
    )


_PSI_SQL = """
        WITH bucketed AS (
            SELECT event_type,
                   CASE WHEN ts < TIMESTAMP '2024-01-16'
                        THEN 'expected' ELSE 'actual' END AS period,
                   count(*) AS c
            FROM {events}
            GROUP BY 1, 2
        ),
        tot AS (
            SELECT period, sum(c) AS t FROM bucketed GROUP BY period
        ),
        shares AS (
            SELECT b.event_type,
                   max(CASE WHEN b.period = 'expected'
                            THEN CAST(b.c AS DOUBLE) / t.t END) AS pe,
                   max(CASE WHEN b.period = 'actual'
                            THEN CAST(b.c AS DOUBLE) / t.t END) AS pa
            FROM bucketed b JOIN tot t ON t.period = b.period
            GROUP BY b.event_type
        )
        SELECT event_type,
               round(pe, 6) AS share_expected,
               round(pa, 6) AS share_actual,
               round((pa - pe) * ln(pa / pe), 6) AS psi_term,
               round(sum((pa - pe) * ln(pa / pe)) OVER (), 6) AS psi_total
        FROM shares
        ORDER BY event_type
"""


@register(
    "dq_distribution_drift_psi",
    oracle=_PSI_SQL.format(events="events"),
)
def dq_distribution_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half of
    the event stream — the standard ML-monitoring drift gate (PSI <
    0.1 stable, 0.1-0.25 watch, > 0.25 retrain). Per category: both
    period shares, the signed PSI term (pa-pe)·ln(pa/pe), and the
    total. Shape: one map-combinable (category, period) count, 2-row
    totals joined back, |categories|-row assembly — scan-bound. Every
    category here appears in both halves; a category missing from one
    side would need the usual epsilon floor, which the bucketed CASE
    would add at the shares step. 6-dp rounding absorbs ln/division
    ulp drift on these O(1) magnitudes."""
    return sql_on_tables(spark, sf_dir, _PSI_SQL)


# ---------------------------------------------------------------------------
# dq_functional_dependency_profile — FD violation profiling

_FD_SQL = """
        WITH pairs AS (
            SELECT 'o_custkey->o_orderstatus' AS fd,
                   CAST(o_custkey AS STRING) AS a, o_orderstatus AS b
            FROM {orders}
            UNION ALL
            SELECT 'o_custkey->o_orderpriority',
                   CAST(o_custkey AS STRING), o_orderpriority
            FROM {orders}
            UNION ALL
            SELECT 'c_nationkey->c_mktsegment',
                   CAST(c_nationkey AS STRING), c_mktsegment
            FROM {customer}
            UNION ALL
            SELECT 'p_brand->p_type', p_brand, p_type FROM {part}
        ),
        cell AS (
            SELECT fd, a, b, count(*) AS cnt
            FROM pairs GROUP BY fd, a, b
        ),
        grp AS (
            SELECT fd, a, sum(cnt) AS n_rows, max(cnt) AS n_majority,
                   count(*) AS n_b_values
            FROM cell GROUP BY fd, a
        )
        SELECT fd,
               CAST(count(*) AS BIGINT) AS n_groups,
               CAST(sum(CASE WHEN n_b_values = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_clean_groups,
               CAST(sum(CASE WHEN n_b_values > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_violating_groups,
               CAST(sum(n_rows - n_majority) AS BIGINT) AS violation_rows,
               CAST(floor(CAST(sum(n_rows - n_majority) AS DOUBLE)
                          / sum(n_rows) * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS violation_share
        FROM grp
        GROUP BY fd
        ORDER BY fd
"""


@register(
    "dq_functional_dependency_profile",
    oracle=_FD_SQL.format(orders="orders", customer="customer", part="part"),
)
def dq_functional_dependency_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Functional-dependency profiling (the Metanome/data-profiling
    primitive): for each candidate FD A->B, how many determinant
    groups exist, how many are clean (a single B value), and the
    minimum-repair size — rows that would have to change for the FD
    to hold (sum over groups of group_size - majority_count). This is
    the audit a pipeline runs before declaring a column derivable or
    keying a dimension on it.

    Determinism: everything is integer counts; the single share
    division rounds at 6 dp.

    Scale shape: one union of (fd, A, B) projections, one groupBy
    (fd, A, B), one groupBy (fd, A), one 4-row readout — all
    map-combinable, shuffle carries distinct-cell cardinality, never
    raw rows twice. Profiling additional FDs appends union arms
    without new passes over any table."""
    return sql_on_tables(spark, sf_dir, _FD_SQL)


@register(
    "dq_outlier_iqr_fences",
    oracle="""
        WITH fences AS (
            SELECT event_type,
                   count(*) AS n,
                   round(quantile_cont(value, 0.25), 4) AS q1,
                   round(quantile_cont(value, 0.75), 4) AS q3
            FROM events GROUP BY event_type
        ),
        flagged AS (
            SELECT e.event_type, f.n, f.q1, f.q3,
                   CASE WHEN e.value < f.q1 - 1.5 * (f.q3 - f.q1)
                          OR e.value > f.q3 + 1.5 * (f.q3 - f.q1)
                        THEN 1 ELSE 0 END AS is_out
            FROM events e JOIN fences f ON e.event_type = f.event_type
        )
        SELECT event_type, CAST(n AS BIGINT) AS n, q1, q3,
               CAST(floor((q1 - 1.5 * (q3 - q1)) * 10000.0 + 0.5) AS DOUBLE)
                   / 10000.0 AS fence_lo,
               CAST(floor((q3 + 1.5 * (q3 - q1)) * 10000.0 + 0.5) AS DOUBLE)
                   / 10000.0 AS fence_hi,
               CAST(sum(is_out) AS BIGINT) AS n_outliers,
               CAST(floor(CAST(sum(is_out) AS DOUBLE) / n * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS outlier_share
        FROM flagged
        GROUP BY event_type, n, q1, q3
        ORDER BY event_type
    """,
)
def dq_outlier_iqr_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey IQR outlier fences per metric segment — the robust,
    distribution-free screen (1.5*IQR beyond the quartiles) that
    complements the parametric z-score (ts_anomaly_zscore) and MAD
    (ts_anomaly_mad) detectors in the DQ suite. Quartiles use
    linear interpolation (Spark percentile == DuckDB quantile_cont,
    the agg_median_percentiles parity), rounded at 4 dp BEFORE the
    fence arithmetic so both engines compare raw values against
    bit-identical fences.

    Scale shape: one exact-quantile aggregation per segment (swap to
    approx_percentile's KLL sketch at 100 TB), a broadcast of the
    |segments|-row fence table back onto the facts, one count — two
    linear passes, shuffle bounded by segment cardinality."""
    e = load_table(spark, sf_dir, "events")
    fences = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.percentile("value", F.lit(0.25)), 4).alias("q1"),
        F.round(F.percentile("value", F.lit(0.75)), 4).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    flagged = e.join(F.broadcast(fences), "event_type").select(
        "event_type",
        "n",
        "q1",
        "q3",
        F.when(
            (F.col("value") < F.col("q1") - 1.5 * iqr)
            | (F.col("value") > F.col("q3") + 1.5 * iqr),
            1,
        )
        .otherwise(0)
        .alias("is_out"),
    )
    return (
        flagged.groupBy("event_type", "n", "q1", "q3")
        .agg(F.sum("is_out").alias("n_out"))
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            "q1",
            "q3",
            (
                F.floor((F.col("q1") - 1.5 * iqr) * 10000.0 + 0.5).cast(
                    "double"
                )
                / 10000.0
            ).alias("fence_lo"),
            (
                F.floor((F.col("q3") + 1.5 * iqr) * 10000.0 + 0.5).cast(
                    "double"
                )
                / 10000.0
            ).alias("fence_hi"),
            F.col("n_out").cast("bigint").alias("n_outliers"),
            (
                F.floor(
                    F.col("n_out").cast("double") / F.col("n") * 1000000.0
                    + 0.5
                ).cast("double")
                / 1000000.0
            ).alias("outlier_share"),
        )
        .orderBy("event_type")
    )
