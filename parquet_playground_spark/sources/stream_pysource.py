"""Custom STREAMING source via the Spark 4 Python DataSource API.

Completes the Python DataSource story next to the batch ``pyavro``
reader (sources/avro_py.py): format ``pyevents`` exposes the events
parquet as a replayable stream with explicit row-range offsets —
``initialOffset -> latestOffset -> partitions(start, end) -> read`` —
the same contract a Kafka-like connector implements. Offsets are row
positions, so recovery/replay is exactly-once by construction; the
oracle is the plain batch aggregate over the same rows, proving no
batch is lost or duplicated across the offset protocol.

Scale shape: ``partitions()`` splits each micro-batch's row range into
fixed-size chunks, one executor task each; a production connector
swaps the pyarrow row-slice for a broker fetch with the identical
offset algebra.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_playground_spark.registry import register, track_temp_view
from parquet_playground_spark.session import ensure_session_defaults, stream_confs

ROWS_PER_PARTITION = 2000
# cap on partitions per micro-batch: availableNow replays the whole
# file in one batch, and a fixed 2000-row chunk at 10M rows means 5000
# Python-worker tasks of pure overhead. A production connector sizes
# fetches to the broker; here the chunk grows with the batch so task
# count stays bounded while small batches keep the multi-partition
# offset algebra exercised.
MAX_PARTITIONS_PER_BATCH = 64


def make_stream_datasource():
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    class _RangePartition(InputPartition):
        def __init__(self, path: str, start: int, end: int):
            self.path = path
            self.start = start
            self.end = end

    class EventsStreamReader(DataSourceStreamReader):
        """Row-offset stream over one parquet file."""

        def __init__(self, path: str):
            self._path = path
            self._n_rows: int | None = None

        def _total(self) -> int:
            if self._n_rows is None:
                import pyarrow.parquet as pq

                self._n_rows = pq.ParquetFile(self._path).metadata.num_rows
            return self._n_rows

        def initialOffset(self) -> dict:
            return {"row": 0}

        def latestOffset(self) -> dict:
            return {"row": self._total()}

        def partitions(self, start: dict, end: dict):
            lo, hi = start["row"], end["row"]
            chunk = max(
                ROWS_PER_PARTITION,
                -(-(hi - lo) // MAX_PARTITIONS_PER_BATCH),
            )
            return [
                _RangePartition(self._path, s, min(s + chunk, hi))
                for s in range(lo, hi, chunk)
            ] or [_RangePartition(self._path, lo, lo)]

        def read(self, partition):
            import pyarrow as pa
            import pyarrow.parquet as pq

            # Read ONLY the row groups covering [start, end): the first
            # form of this reader read the WHOLE file per partition and
            # sliced, which is O(n^2 / chunk) total I/O across a batch —
            # the sf10 streaming screen measured it superlinear (24x
            # wall for 10x rows). Row-group pruning is what the offset
            # algebra is FOR: a broker connector fetches only its range,
            # and the parquet twin must too.
            pf = pq.ParquetFile(partition.path)
            md = pf.metadata
            groups, first_row = [], 0
            for g in range(md.num_row_groups):
                n = md.row_group(g).num_rows
                if first_row + n > partition.start and first_row < partition.end:
                    if not groups:
                        groups_base = first_row
                    groups.append(g)
                first_row += n
            if not groups:
                return
            tbl = pf.read_row_groups(
                groups,
                columns=["event_id", "ts", "user_id", "event_type", "value"],
            ).slice(
                partition.start - groups_base,
                partition.end - partition.start,
            )
            # the file stores timestamp[ns] naive; Spark's Arrow bridge
            # needs tz-aware micros for a session-UTC timestamp column
            i = tbl.schema.get_field_index("ts")
            tbl = tbl.set_column(
                i,
                pa.field("ts", pa.timestamp("us", tz="UTC")),
                tbl.column("ts").cast(pa.timestamp("us", tz="UTC"), safe=False),
            )
            # yield arrow RecordBatches (the API's vectorized path) —
            # per-row Python tuples cost ~100x more interpreter time at
            # event scale and carry no extra fidelity for this source
            yield from tbl.to_batches()

        def commit(self, end: dict) -> None:
            pass

    class EventsStreamDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "pyevents"

        def schema(self) -> str:
            return (
                "event_id long, ts timestamp, user_id long, "
                "event_type string, value double"
            )

        def streamReader(self, schema) -> DataSourceStreamReader:
            path = self.options.get("path")
            if not path:
                raise ValueError("pyevents: option 'path' is required")
            return EventsStreamReader(path)

    return EventsStreamDataSource


_REGISTERED: set[int] = set()


def ensure_registered(spark: SparkSession) -> None:
    key = id(spark)
    if key in _REGISTERED:
        return
    spark.dataSource.register(make_stream_datasource())
    _REGISTERED.add(key)


@register(
    "stream_python_source",
    oracle="""
        SELECT event_type,
               count(*) AS n_events,
               round(sum(value), 4) AS sum_value,
               min(event_id) AS min_id,
               max(event_id) AS max_id
        FROM events
        GROUP BY event_type
    """,
)
def stream_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream from the custom ``pyevents`` Python DataSource,
    aggregated per event_type in complete mode. The min/max event_id
    columns make offset bugs visible: a dropped or doubled row range
    breaks the count AND the id bounds against the batch oracle."""
    import os
    import uuid

    ensure_session_defaults(spark)
    ensure_registered(spark)
    path = os.path.join(sf_dir, "events.parquet")
    src = spark.readStream.format("pyevents").option("path", path).load()
    agg = src.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )
    with stream_confs(spark):
        sink = f"pp_pysrc_{uuid.uuid4().hex[:12]}"
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        track_temp_view(spark, sink)
        q.awaitTermination()
    return spark.table(sink)


# ---------------------------------------------------------------------------
# Batch WRITER half of the Python DataSource API: format "pysink"


def make_sink_datasource():
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    class _PartResult(WriterCommitMessage):
        def __init__(self, path: str, n_rows: int):
            self.path = path
            self.n_rows = n_rows

    class JsonlWriter(DataSourceWriter):
        """Per-task JSON-lines writer with a commit protocol: tasks
        write part files and return commit messages; commit() writes
        the manifest LAST, so readers listing via the manifest never
        see a partial job — the same two-phase contract Spark's file
        committers implement."""

        def __init__(self, options):
            self._dir = options["path"]

        def write(self, iterator):
            import json
            import os
            import uuid

            os.makedirs(self._dir, exist_ok=True)
            part = os.path.join(self._dir, f"part-{uuid.uuid4().hex}.jsonl")
            n = 0
            with open(part, "w") as fh:
                for row in iterator:
                    fh.write(json.dumps(row.asDict()) + "\n")
                    n += 1
            return _PartResult(part, n)

        def commit(self, messages):
            import json
            import os

            manifest = {
                "files": sorted(
                    os.path.basename(m.path) for m in messages if m.n_rows
                ),
                "n_rows": sum(m.n_rows for m in messages),
            }
            with open(os.path.join(self._dir, "_MANIFEST.json"), "w") as fh:
                json.dump(manifest, fh)

        def abort(self, messages):
            import os

            for m in messages:
                if os.path.exists(m.path):
                    os.remove(m.path)

    class JsonlSink(DataSource):
        @classmethod
        def name(cls):
            return "pysink"

        def writer(self, schema, overwrite):
            return JsonlWriter(self.options)

    return JsonlSink


@register(
    "sink_python_datasource",
    oracle="""
        SELECT o_orderstatus, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        FROM orders
        GROUP BY o_orderstatus
    """,
)
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom batch SINK via the Spark 4 Python DataSource writer API —
    the write half of the connector story next to the pyavro reader
    and pyevents stream source. Executors write JSON-lines part files
    in parallel and return commit messages; the driver's commit()
    publishes a manifest only after every task succeeded (two-phase,
    so a failed job leaves no visible output — abort() removes parts).
    The staged files are read back through Spark's JSON reader and
    re-aggregated; matching the direct oracle proves no row was lost
    or duplicated across the task/commit protocol."""
    import glob
    import json as _json
    import os
    import shutil

    from parquet_playground_spark.tables import load_table, scratch_path

    ensure_session_defaults(spark)
    spark.dataSource.register(make_sink_datasource())
    out = scratch_path("pysink")
    shutil.rmtree(out, ignore_errors=True)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    o.write.format("pysink").mode("append").option("path", out).save()
    # the manifest is the committed source of truth
    with open(os.path.join(out, "_MANIFEST.json")) as fh:
        manifest = _json.load(fh)
    files = [os.path.join(out, f) for f in manifest["files"]]
    assert files and len(files) == len(glob.glob(os.path.join(out, "part-*")))
    back = spark.read.schema("o_orderkey long, o_orderstatus string").json(
        files
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
    )
