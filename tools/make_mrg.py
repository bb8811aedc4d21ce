"""Build .localdata/sf0.1mrg — a content-identical, multi-FILE copy of
the driver's sf0.1 fixture, for measurement only.

Why (r9 VERDICT item 1): every sf0.1 parquet the driver ships is a
single file with a single row group, so every scan stage runs as ONE
task locally — per-query floors measure single-core scan + AQE latency
and the driver's 8c/32c scaling ratios are meaningless. The driver's
fixtures themselves are read-only and regenerated by the driver
(TESTDATA.md: "do NOT regenerate or modify"), so the fix lands as a
LOCAL copy: same rows, same order, same schema, split into contiguous
per-table file shards sized so Spark's split packing (openCostInBytes
4 MB, minPartitionNum = defaultParallelism) actually parallelizes the
scans. Nothing in the bench protocol changes; this directory is only
ever passed to `tools/time_queries.py --sf .localdata/sf0.1mrg` to
check that a plan claim (parallel scan, AQE coalesce, skew split) holds
when scans have real task parallelism.

Row order is preserved (contiguous slices), so the copy is
row-for-row identical to the source — verified by a full-table
equality check after the write.

Usage: python tools/make_mrg.py
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DST = os.path.join(ROOT, ".localdata", "sf0.1mrg")

# files per table: big facts get ~32 shards (one per local core),
# mid-size tables fewer, tiny dims stay single-file.
SHARDS = {
    "lineitem": 32,
    "orders": 16,
    "events": 8,
    "documents": 8,
    "embeddings": 4,
    "customer": 4,
    "part": 2,
    "supplier": 1,
    "nation": 1,
    "region": 1,
}


def main() -> int:
    for table, n in SHARDS.items():
        src = os.path.join(SRC, f"{table}.parquet")
        t = pq.read_table(src)
        rows = t.num_rows
        if n == 1:
            outdir = DST
            os.makedirs(outdir, exist_ok=True)
            pq.write_table(t, os.path.join(outdir, f"{table}.parquet"))
            print(f"{table}: {rows} rows -> 1 file")
            continue
        outdir = os.path.join(DST, f"{table}.parquet")
        os.makedirs(outdir, exist_ok=True)
        per = (rows + n - 1) // n
        for i in range(n):
            sl = t.slice(i * per, per)
            if sl.num_rows == 0:
                break
            pq.write_table(
                sl, os.path.join(outdir, f"part-{i:05d}.parquet")
            )
        print(f"{table}: {rows} rows -> {n} files of ~{per}")
        # verify: re-read the directory and compare to the source
        back = pq.read_table(outdir)
        assert back.num_rows == rows, (table, back.num_rows, rows)
        assert back.equals(t.combine_chunks()) or back.combine_chunks().equals(
            t.combine_chunks()
        ), f"{table}: content drift after shard"
    print(f"done -> {DST}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
