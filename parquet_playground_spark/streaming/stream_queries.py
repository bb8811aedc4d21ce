"""Category I — Structured Streaming over the `events` table.

Pattern: stage the static events parquet into a streaming source dir
(ordered files -> deterministic micro-batches), readStream ->
transform -> writeStream to a memory sink with Trigger.availableNow,
then return the sink table. availableNow replays the full input, so
batch SQL (the DuckDB oracle) and the stream agree exactly for
watermark-free aggregations; watermark/late-data semantics are
asserted rows-only (SURVEY §7.4).

Scale notes: these are the same plans a Kafka source would run —
windowed aggs keyed by (window, key) with state in the state store;
watermarks bound state size. File staging is test plumbing only.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_playground_spark.registry import register, track_temp_view
from parquet_playground_spark.session import ensure_session_defaults, stream_confs
from parquet_playground_spark.tables import load_table, scratch_path

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)

# Staged dirs are pure test plumbing (a Kafka source replaces them in
# production), so they're built driver-side with pyarrow — no Spark
# write jobs, no collect() — and cached per (sf_dir, kind, n_chunks)
# so the six stream queries stage at most three dirs between them.
_STAGED: dict[tuple, str] = {}
_EVENTS_ARROW: dict[str, pa.Table] = {}


def _events_arrow(sf_dir: str) -> pa.Table:
    """events.parquet as an arrow table, ts cast ns->us (truncating, the
    same discipline as load_table), sorted by event_id."""
    t = _EVENTS_ARROW.get(sf_dir)
    if t is None:
        t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
        i = t.schema.get_field_index("ts")
        t = t.set_column(
            i, "ts", t.column("ts").cast(pa.timestamp("us"), safe=False)
        )
        t = t.sort_by("event_id")
        _EVENTS_ARROW[sf_dir] = t
    return t


def _stage_events(
    spark: SparkSession, sf_dir: str, kind: str = "split", n_chunks: int = 2
) -> str:
    """Stage events into n time-ordered files so availableNow +
    maxFilesPerTrigger=1 yields deterministic multi-batch replay.

    kind: "split" (contiguous event_id slices), "late" (split + a
    straggler clone of the earliest-ts event in its OWN trailing file),
    "dup" (two identical full copies).

    The straggler gets a separate file — i.e. a separate micro-batch —
    because Spark applies the late-record filter with the watermark
    committed BEFORE the batch that delivered the data establishing it:
    a late row arriving in the very next batch can still merge into
    not-yet-evicted state (observed on Spark 4.1; watermark docs only
    guarantee best-effort dropping). One extra batch makes the drop
    deterministic.
    """
    key = (sf_dir, kind, n_chunks)
    cached = _STAGED.get(key)
    if cached and os.path.isdir(cached):
        return cached
    out = scratch_path(f"stream_{kind}{n_chunks}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    t = _events_arrow(sf_dir)
    if kind == "dup":
        chunks = [t, t]
    else:
        step = t.num_rows // n_chunks + 1
        chunks = [t.slice(i * step, step) for i in range(n_chunks)]
        if kind == "late":
            row = t.sort_by("ts").slice(0, 1).to_pylist()[0]
            row["event_id"] += 10_000_000
            row["event_type"] = "late_marker"
            chunks.append(pa.Table.from_pylist([row], schema=t.schema))
    for i, chunk in enumerate(chunks):
        dst = os.path.join(out, f"chunk{i}.parquet")
        pq.write_table(chunk, dst)
        # file-source ordering is by modification time
        mt = time.time() - (len(chunks) - i) * 10
        os.utime(dst, (mt, mt))
    _STAGED[key] = out
    return out


def _read_stream(spark: SparkSession, staged_dir: str) -> DataFrame:
    ensure_session_defaults(spark)
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged_dir)
    )


def _run_to_table(
    stream_df: DataFrame, mode: str, sink: str = "memory"
) -> DataFrame:
    """Execute with availableNow into a sink; return the result frame.

    sink="memory": the in-memory table sink — right for WINDOW-BOUNDED
    results (hourly aggregates, top-k) whose cardinality does not grow
    with the event count. sink="files": foreachBatch -> parquet
    (overwrite per batch in complete mode — each batch re-emits the
    full result — append otherwise), re-read as the result frame.
    Event-SCALED results (dedup output, per-session rows, stream-join
    matches) must use "files": a memory sink materializes the whole
    result in driver heap, which is exactly the collect()-shaped
    anti-pattern at 100 TB — the sf1 screen (6M events) OOMed a 1 GiB
    session on it. This is also how a production job ships results: a
    durable sink, never the driver.

    The run is scoped by session.stream_confs: the streaming partition
    count and the RocksDB state store, both restored afterwards."""
    spark = stream_df.sparkSession
    with stream_confs(spark):
        if sink == "files":
            out_dir = scratch_path(f"sinkout_{uuid.uuid4().hex[:12]}")
            write_mode = "overwrite" if mode == "complete" else "append"

            def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
                batch_df.write.mode(write_mode).parquet(out_dir)

            q = (
                stream_df.writeStream.foreachBatch(_write_batch)
                .outputMode(mode)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return spark.read.parquet(out_dir)
        name = f"pp_sink_{uuid.uuid4().hex[:12]}"
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = spark.table(name)  # analyzed eagerly — survives the drop
    # deregister the sink at the NEXT query's entry: back-to-back
    # streaming queries in one session otherwise stack every sink's
    # full result set in driver heap (OOMed the sf1 vanilla screen)
    track_temp_view(spark, name)
    return out


@register(
    "stream_tumbling_count",
    oracle="""
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               event_type,
               count(*) AS n_events,
               round(sum(value), 4) AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
)
def stream_tumbling_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window counts per event_type; availableNow replay
    makes the stream result equal the batch GROUP BY."""
    staged = _stage_events(spark, sf_dir)
    s = _read_stream(spark, staged)
    agg = s.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    out = _run_to_table(agg, "complete")
    return out.select(
        F.col("w.start").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


@register(
    "stream_sliding_agg",
    oracle="""
        WITH starts AS (
            SELECT CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800) AS TIMESTAMP)
                       AS window_start, value FROM events
            UNION ALL
            SELECT CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800 - 1800) AS TIMESTAMP),
                   value FROM events
        )
        SELECT window_start, count(*) AS n_events,
               round(sum(value), 4) AS sum_value
        FROM starts
        GROUP BY window_start
    """,
)
def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 minutes: each event lands in two
    windows; the oracle materializes both grid-aligned starts. sum (not
    avg): avg(value) can land exactly on a 1e-4 rounding boundary where
    Spark and DuckDB summation order disagree (§7.3 rule 1)."""
    staged = _stage_events(spark, sf_dir)
    s = _read_stream(spark, staged)
    agg = s.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w")).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    out = _run_to_table(agg, "complete")
    return out.select(
        F.col("w.start").alias("window_start"), "n_events", "sum_value"
    )


@register(
    "stream_session_window",
    oracle="""
        WITH x AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
                        THEN 1 ELSE 0 END AS brk
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        s AS (
            SELECT user_id, ts,
                   sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
            FROM x
        )
        SELECT user_id,
               CAST(date_trunc('second', min(ts)) AS TIMESTAMP) AS session_start,
               count(*) AS n_events
        FROM s
        GROUP BY user_id, sid
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (10-minute gap) per user via
    session_window; oracle = lag-gap sessionization SQL. Spark merges
    events whose [ts, ts+gap) ranges overlap, i.e. a break at
    diff >= gap — the oracle uses the same inequality."""
    staged = _stage_events(spark, sf_dir)
    s = _read_stream(spark, staged)
    agg = s.groupBy(
        F.session_window("ts", "10 minutes").alias("sw"), "user_id"
    ).agg(F.count("*").alias("n_events"))
    out = _run_to_table(agg, "complete", sink="files")
    return out.select(
        "user_id",
        F.date_trunc("second", F.col("sw.start")).alias("session_start"),
        "n_events",
    )


@register(
    "stream_watermark_late",
    oracle="""
        WITH mx AS (SELECT max(ts) AS m FROM events),
        w AS (
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP)
                       AS window_start,
                   count(*) AS n_events
            FROM events GROUP BY 1
        )
        SELECT w.window_start, w.n_events,
               FALSE AS late_event_included
        FROM w CROSS JOIN mx
        WHERE w.window_start + INTERVAL 1 HOUR <= mx.m - INTERVAL 15 MINUTE
    """,
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark drops late rows: batch 1 advances the watermark past a
    straggler that batch 2 replays; append-mode output must exclude it.

    Output: one row per (window_start, n_events) for FINALIZED windows,
    plus a marker column late_event_included that must be false.

    Oracle (upgraded from rows-only in r4): with the staged file order
    pinned, the append-mode emit set is deterministic — exactly the
    hourly windows whose end <= final watermark (global max ts - 15
    min), with original counts (the straggler clone is dropped, so no
    count moves). The batch SQL states that set directly; a watermark
    regression (late row merged, wrong finalize boundary) flips the
    hash. Replayed 3x on a vanilla session before shipping.

    Boundary convention note (ADVICE r4): the oracle pins an INCLUSIVE
    finalize boundary (window_end <= final watermark). Whether Spark
    evicts a window whose end lands EXACTLY on the watermark is an
    implementation convention we deliberately never exercise: the
    fixed testdata places no hourly window end on max(ts) - 15min
    (events max ts has non-zero minutes/seconds), and
    tests/test_correctness.py::test_watermark_boundary_not_exercised
    asserts that gap stays non-zero so a testdata regen can't silently
    start depending on the convention."""
    staged = _stage_events(spark, sf_dir, kind="late")
    s = _read_stream(spark, staged).withWatermark("ts", "15 minutes")
    agg = s.groupBy(F.window("ts", "1 hour").alias("w")).agg(
        F.count("*").alias("n_events"),
        F.max(F.when(F.col("event_type") == "late_marker", True).otherwise(False)).alias(
            "late_event_included"
        ),
    )
    result = _run_to_table(agg, "append")
    return result.select(
        F.col("w.start").alias("window_start"), "n_events", "late_event_included"
    )


@register(
    "stream_dedup",
    oracle="""
        SELECT event_id,
               CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s,
               round(value, 4) AS value
        FROM events
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate suppression within the watermark: the source replays
    every event TWICE (two identical staged batches); dropDuplicates
    on event_id must restore exactly-once — equal to DISTINCT over the
    original table."""
    staged = _stage_events(spark, sf_dir, kind="dup")
    s = _read_stream(spark, staged).withWatermark("ts", "1 day")
    deduped = s.dropDuplicates(["event_id"])
    result = _run_to_table(deduped, "append", sink="files")
    return result.select(
        "event_id",
        F.date_trunc("second", "ts").alias("ts_s"),
        F.round("value", 4).alias("value"),
    )


@register(
    "stream_static_join",
    oracle="""
        SELECT e.event_id, c.c_mktsegment,
               CAST(date_trunc('second', e.ts) AS TIMESTAMP) AS ts_s
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        WHERE e.event_id <= 3000
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: streaming events against the
    static customer table (no state store, no watermark needed — the
    standard streaming enrichment pattern). customer is
    FACT-PROPORTIONAL (sf x 150k rows), so the join strategy is left
    to the planner's size estimate per micro-batch: it broadcasts
    while the table fits the threshold and falls back to a shuffled
    join beyond it — never force-broadcast an sf-scaled side (q5
    class). availableNow replay makes the result equal the batch
    join."""
    staged = _stage_events(spark, sf_dir)
    s = _read_stream(spark, staged).filter(F.col("event_id") <= 3000)
    c = load_table(spark, sf_dir, "customer")
    joined = s.join(c, s.user_id == c.c_custkey).select(
        "event_id",
        "c_mktsegment",
        F.date_trunc("second", "ts").alias("ts_s"),
    )
    return _run_to_table(joined, "append", sink="files")


@register(
    "stream_stateful_running",
    oracle="""
        SELECT user_id, count(*) AS n_events,
               round(sum(value), 4) AS sum_value
        FROM events
        GROUP BY user_id
    """,
)
def stream_stateful_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running aggregate across micro-batches via
    applyInPandasWithState — the custom-stateful-operator surface
    (reference has no equivalent; north-star extension). State = (count,
    sum) per user, updated batch by batch; final rows = per-user totals,
    which after the 3-chunk availableNow replay must equal the plain
    batch GROUP BY over all events — the oracle states exactly that, so
    state carry-over bugs (lost chunk, double count) flip the hash."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    staged = _stage_events(spark, sf_dir, n_chunks=3)
    s = _read_stream(spark, staged)

    # r9 (guide §4.2): this function runs once PER KEY PER BATCH
    # (~30k interpreter crossings at sf0.1) — the emission dominates.
    # np.nansum over to_numpy() is pandas' own no-bottleneck fallback
    # (masked pairwise np.sum — bit-identical, 23 -> 3 us), and the
    # dict-of-np-arrays copy=False DataFrame ctor skips list->array
    # inference and the consolidation copy (131 -> 79 us measured).
    def update(key, pdf_iter, state: GroupState):
        (user_id,) = key
        cnt, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            cnt += len(pdf)
            total += float(np.nansum(pdf["value"].to_numpy()))
        state.update((cnt, total))
        yield pd.DataFrame(
            {
                "user_id": np.array([user_id], dtype=np.int64),
                "n_events": np.array([cnt], dtype=np.int64),
                "sum_value": np.array([round(total, 4)]),
            },
            copy=False,
        )

    result = s.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="cnt long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _run_to_table(result, "update")
    # update-mode emits one row per (user, batch); keep the final state
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "sum_value")
    )


@register(
    "stream_stream_join",
    oracle="""
        SELECT v.user_id AS user_id,
               v.event_id AS view_id,
               p.event_id AS purchase_id,
               CAST(epoch(date_trunc('second', p.ts))
                    - epoch(date_trunc('second', v.ts)) AS BIGINT) AS lag_sec
        FROM events v JOIN events p
          ON v.user_id = p.user_id
         AND date_trunc('second', p.ts) > date_trunc('second', v.ts)
         AND date_trunc('second', p.ts)
             <= date_trunc('second', v.ts) + INTERVAL 6 HOUR
        WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: views joined to purchases of the
    same user within 6 hours. Both sides carry event-time watermarks,
    so the state store only retains rows inside the interval bound —
    the mechanism that makes an unbounded self-join feasible on an
    infinite stream. The watermark here exceeds the replayed data's
    whole time span so availableNow replay emits every match and the
    batch oracle agrees exactly; production tightens it to the
    out-of-orderness bound and trades completeness for state size.
    Event times are second-truncated before the comparison (§7.3: never
    compare sub-second across engines)."""
    staged = _stage_events(spark, sf_dir)
    views = (
        _read_stream(spark, staged)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.date_trunc("second", "ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "40 days")
    )
    purchases = (
        _read_stream(spark, staged)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.date_trunc("second", "ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "40 days")
    )
    joined = views.join(
        purchases,
        F.expr(
            "v_user = p_user AND p_ts > v_ts "
            "AND p_ts <= v_ts + interval 6 hours"
        ),
        "inner",
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        (F.unix_timestamp("p_ts") - F.unix_timestamp("v_ts")).alias("lag_sec"),
    )
    return _run_to_table(joined, "append", sink="files")


@register(
    "stream_transform_with_state",
    oracle="""
        SELECT user_id, count(*) AS n_events,
               round(sum(value), 4) AS sum_value
        FROM events
        GROUP BY user_id
    """,
)
def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running aggregate via transformWithStateInPandas — the
    Spark 4 arbitrary-state API (typed ValueState per key, explicit
    processor lifecycle) that supersedes applyInPandasWithState. The
    processor emits its running (count, sum) every micro-batch; the
    final emission per user equals the batch aggregate, which the
    oracle checks after selecting each user's last row (running counts
    are strictly monotonic, so max(struct(n_events, sum_value)) is the
    final state).

    The v2 API's state protocol needs protobuf (and RocksDB state
    store), which this environment doesn't bundle — when absent, the
    identical processor logic runs through applyInPandasWithState (the
    v1 API), so the semantics and oracle stay exercised and the v2
    path activates wherever protobuf exists."""
    import numpy as np
    import pandas as pd

    out_schema = "user_id long, n_events long, sum_value double"
    staged = _stage_events(spark, sf_dir, n_chunks=3)
    s = _read_stream(spark, staged)

    try:
        import google.protobuf  # noqa: F401 — v2 state protocol dep

        has_v2 = True
    except ImportError:
        has_v2 = False

    if has_v2:
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor,
            StatefulProcessorHandle,
        )

        class RunningAgg(StatefulProcessor):
            def init(self, handle: StatefulProcessorHandle) -> None:
                self._state = handle.getValueState(
                    "agg", "cnt long, total double"
                )

            def handleInputRows(self, key, rows, timerValues):
                prev = self._state.get()
                cnt, total = (
                    (prev[0], prev[1]) if prev is not None else (0, 0.0)
                )
                for pdf in rows:
                    cnt += len(pdf)
                    total += float(np.nansum(pdf["value"].to_numpy()))
                self._state.update((cnt, total))
                yield pd.DataFrame(
                    {
                        "user_id": np.array([int(key[0])], dtype=np.int64),
                        "n_events": np.array([cnt], dtype=np.int64),
                        "sum_value": np.array([round(total, 4)]),
                    },
                    copy=False,
                )

            def close(self) -> None:
                pass

        result = s.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=RunningAgg(),
            outputStructType=out_schema,
            outputMode="append",
            timeMode="none",
        )
    else:
        from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

        # per-key-per-batch crossing: cheap emission ctor + numpy
        # nansum (see stream_stateful_running, guide §4.2)
        def update(key, pdf_iter, state: GroupState):
            (user_id,) = key
            cnt, total = state.get if state.exists else (0, 0.0)
            for pdf in pdf_iter:
                cnt += len(pdf)
                total += float(np.nansum(pdf["value"].to_numpy()))
            state.update((cnt, total))
            yield pd.DataFrame(
                {
                    "user_id": np.array([user_id], dtype=np.int64),
                    "n_events": np.array([cnt], dtype=np.int64),
                    "sum_value": np.array([round(total, 4)]),
                },
                copy=False,
            )

        result = s.groupBy("user_id").applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType="cnt long, total double",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    emitted = _run_to_table(result, "append", sink="files")
    final = F.max(F.struct("n_events", "sum_value")).alias("f")
    return emitted.groupBy("user_id").agg(final).select(
        "user_id", "f.n_events", "f.sum_value"
    )


@register(
    "stream_foreachbatch_upsert",
    oracle="""
        SELECT user_id, ts AS last_ts, event_type AS last_type,
               round(value, 4) AS last_value
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC
            ) AS rn
            FROM events
        ) WHERE rn = 1
    """,
)
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch idempotent upsert sink: each micro-batch reduces to
    its per-user latest event, merges with the previous state snapshot
    (full outer on user_id, larger (ts, event_id) wins), and writes a
    NEW versioned state dir — the Delta-less exactly-once merge-sink
    pattern. The merge is commutative/associative in (ts, event_id),
    so the final state is independent of batch order and replays are
    idempotent; the oracle is the plain batch latest-per-user window.

    100 TB shape: state and batch both shuffle on user_id only; a
    table format (Delta/Iceberg MERGE) replaces the versioned dirs in
    production, with the identical join plan."""
    from pyspark.sql import Window

    staged = _stage_events(spark, sf_dir)
    src = _read_stream(spark, staged)
    state_root = scratch_path("fb_state")
    shutil.rmtree(state_root, ignore_errors=True)
    version = {"n": 0}
    w_latest = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )

    def _latest(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("rn", F.row_number().over(w_latest))
            .filter(F.col("rn") == 1)
            .drop("rn")
            .select("user_id", "ts", "event_type", "value", "event_id")
        )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        merged = _latest(batch_df)
        cur = version["n"]
        if cur:
            prev = batch_df.sparkSession.read.parquet(f"{state_root}/v{cur}")
            merged = _latest(prev.unionByName(merged))
        merged.write.mode("overwrite").parquet(f"{state_root}/v{cur + 1}")
        version["n"] = cur + 1

    with stream_confs(spark):
        q = (
            src.writeStream.foreachBatch(upsert)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(f"{state_root}/v{version['n']}").select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_type"),
        F.round("value", 4).alias("last_value"),
    )


@register(
    "stream_dedup_within_watermark",
    oracle="""
        SELECT event_id,
               CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s,
               round(value, 4) AS value
        FROM events
    """,
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark: same exactly-once restoration as
    stream_dedup, but state for a key is EVICTED once the watermark
    passes it — bounded state on an unbounded stream, which is the
    only dedup that survives at 100 TB/day. The duplicate replay here
    arrives within the watermark, so the result still equals DISTINCT
    over the original table."""
    staged = _stage_events(spark, sf_dir, kind="dup")
    s = _read_stream(spark, staged).withWatermark("ts", "1 day")
    deduped = s.dropDuplicatesWithinWatermark(["event_id"])
    result = _run_to_table(deduped, "append", sink="files")
    return result.select(
        "event_id",
        F.date_trunc("second", "ts").alias("ts_s"),
        F.round("value", 4).alias("value"),
    )


@register(
    "stream_progress_metrics",
    oracle="""
        SELECT count(*) AS num_input_rows,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_purchases
        FROM events
    """,
)
def stream_progress_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OBSERVABILITY surface: run a stream to completion and
    report what the engine's own progress telemetry
    (StreamingQuery.recentProgress -> numInputRows) counted, next to a
    metric computed by the stream itself. The telemetry total must
    equal the batch count of the same source — proving no micro-batch
    was dropped or double-counted by the progress accounting (the
    number an SLA dashboard would alarm on). The batch twin of
    pipeline_observe_metrics."""
    staged = _stage_events(spark, sf_dir)
    stream = _read_stream(spark, staged)
    counted = stream.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("p"),
    )
    with stream_confs(spark):
        sink = f"pp_sink_{uuid.uuid4().hex[:12]}"
        q = (
            counted.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        track_temp_view(spark, sink)
        q.awaitTermination()
        telemetry_rows = sum(p.numInputRows for p in q.recentProgress)
    result = spark.table(sink).collect()[-1]
    assert telemetry_rows == result["n"], (telemetry_rows, result["n"])
    return spark.createDataFrame(
        [(int(telemetry_rows), int(result["p"]))],
        "num_input_rows bigint, n_purchases bigint",
    )


@register(
    "stream_checkpoint_recovery",
    oracle="""
        WITH c AS (SELECT count(*) AS n FROM events)
        SELECT n AS n_total,
               CAST(n - (n // 2 + 1) AS BIGINT) AS n_second_run_input,
               TRUE AS exactly_once
        FROM c
    """,
)
def stream_checkpoint_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once recovery across RESTARTS: run a counting stream
    over half the input with a checkpoint, stop it, land the second
    half, and restart from the SAME checkpoint. The restarted query's
    own telemetry must show it ingested ONLY the new files (the
    checkpoint's file-source log skips the committed ones), while its
    recovered state still yields the full-corpus count — together,
    no-loss and no-reprocessing, which is the whole exactly-once
    contract a production restart relies on. Oracle states the exact
    phase sizes from the deterministic split."""
    t = _events_arrow(sf_dir)
    n = t.num_rows
    step = n // 2 + 1
    src, ckpt = scratch_path("ckpt_src"), scratch_path("ckpt_cp")
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    os.makedirs(src)

    def _run(sink: str):
        stream = _read_stream(spark, src)
        counted = stream.groupBy().agg(F.count(F.lit(1)).alias("n"))
        q = (
            counted.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        track_temp_view(spark, sink)
        q.awaitTermination()
        return sum(p.numInputRows for p in q.recentProgress)

    with stream_confs(spark):
        pq.write_table(t.slice(0, step), os.path.join(src, "phase_a.parquet"))
        first_in = _run(f"pp_ckpt_a_{uuid.uuid4().hex[:8]}")
        pq.write_table(
            t.slice(step, n - step), os.path.join(src, "phase_b.parquet")
        )
        sink_b = f"pp_ckpt_b_{uuid.uuid4().hex[:8]}"
        second_in = _run(sink_b)
    final_count = spark.table(sink_b).collect()[-1]["n"]
    exactly_once = (
        first_in == step and second_in == n - step and final_count == n
    )
    return spark.createDataFrame(
        [(int(final_count), int(second_in), bool(exactly_once))],
        "n_total bigint, n_second_run_input bigint, exactly_once boolean",
    )


_SSLO_DELAY_SEC = 1800  # 30-minute watermark on both sides
_SSLO_WINDOW_SEC = 7200  # views match purchases within 2 hours


@register(
    "stream_stream_left_outer",
    oracle=f"""
        WITH v AS (
            SELECT user_id, event_id AS view_id,
                   CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS v_sec
            FROM events WHERE event_type = 'view'
        ), p AS (
            SELECT user_id, event_id AS purchase_id,
                   CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS p_sec
            FROM events WHERE event_type = 'purchase'
        ), cut AS (
            SELECT CAST(epoch(date_trunc('second', max(ts))) AS BIGINT)
                   - {2 * _SSLO_DELAY_SEC} AS c
            FROM events
        )
        SELECT j.user_id, j.view_id, j.purchase_id, j.v_sec
        FROM (
            SELECT v.user_id, v.view_id, p.purchase_id, v.v_sec
            FROM v LEFT JOIN p
              ON v.user_id = p.user_id
             AND p.p_sec > v.v_sec
             AND p.p_sec <= v.v_sec + {_SSLO_WINDOW_SEC}
        ) j CROSS JOIN cut
        WHERE j.purchase_id IS NOT NULL
           OR j.v_sec + {_SSLO_WINDOW_SEC} < cut.c
    """,
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join: views match purchases
    of the same user within 2 hours; a view with NO purchase is
    emitted with nulls once the watermark proves no future match can
    arrive — the state-EVICTION-driven null emission that makes outer
    joins possible on unbounded streams (inner: stream_stream_join).

    Delivery timing of nulls near the final watermark is micro-batch-
    boundary-dependent (Spark finalizes some boundary-band rows one
    batch late — same engine behavior stream_watermark_late pins), so
    the query post-filters to the DETERMINISTIC region: matched rows
    always; null rows only when their whole match window closed at
    least one extra watermark-delay before end-of-input. Everything
    the oracle sees is then exactly reproducible; the boundary band —
    a delivery-timing artifact, not a correctness one — is excluded on
    both sides by the same static cutoff."""
    staged = _stage_events(spark, sf_dir)
    views = (
        _read_stream(spark, staged)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.date_trunc("second", "ts").alias("v_ts"),
        )
        .withWatermark("v_ts", f"{_SSLO_DELAY_SEC} seconds")
    )
    purchases = (
        _read_stream(spark, staged)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.date_trunc("second", "ts").alias("p_ts"),
        )
        .withWatermark("p_ts", f"{_SSLO_DELAY_SEC} seconds")
    )
    joined = views.join(
        purchases,
        F.expr(
            f"v_user = p_user AND p_ts > v_ts "
            f"AND p_ts <= v_ts + interval {_SSLO_WINDOW_SEC} seconds"
        ),
        "left_outer",
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        F.unix_timestamp("v_ts").alias("v_sec"),
    )
    out = _run_to_table(joined, "append", sink="files")
    # static cutoff from the same input (driver-side scalar, staging
    # plumbing like the other stream queries)
    mx = (
        load_table(spark, sf_dir, "events")
        .agg(F.max(F.unix_timestamp(F.date_trunc("second", "ts"))))
        .collect()[0][0]
    )
    cutoff = int(mx) - 2 * _SSLO_DELAY_SEC
    return out.filter(
        F.col("purchase_id").isNotNull()
        | (F.col("v_sec") + _SSLO_WINDOW_SEC < F.lit(cutoff))
    )


@register(
    "stream_windowed_topk",
    oracle="""
        WITH wc AS (
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
                   event_type, count(*) AS n_events
            FROM events GROUP BY 1, 2
        )
        SELECT window_start, event_type, n_events,
               CAST(rnk AS BIGINT) AS rnk
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY window_start
                ORDER BY n_events DESC, event_type) AS rnk
            FROM wc)
        WHERE rnk <= 3
        ORDER BY window_start, rnk
    """,
)
def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per tumbling hour over the stream: the
    streaming half maintains the windowed counts (the only state that
    must live in the state store — bounded at |windows x types|); the
    per-window rank runs as a BATCH window over the streaming sink's
    complete-mode table, because rank-over-aggregate is not an
    incrementally-maintainable streaming operator (Spark rejects
    multiple stateful ops in update/complete chains) — the standard
    production split: stream maintains the additive aggregate,
    the serving layer ranks. Deterministic tie-break on event_type;
    availableNow replay makes the composition equal the batch SQL.

    Scale shape: state = one row per (window, type); the rank pass
    reads |windows| x |types| rows from the sink, never the stream."""
    staged = _stage_events(spark, sf_dir)
    s = _read_stream(spark, staged)
    agg = s.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count("*").alias("n_events"))
    out = _run_to_table(agg, "complete")
    from pyspark.sql import Window

    wc = out.select(
        F.col("w.start").alias("window_start"), "event_type", "n_events"
    )
    wr = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), F.col("event_type").asc()
    )
    return (
        wc.withColumn("rnk", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .orderBy("window_start", "rnk")
    )
