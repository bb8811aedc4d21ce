"""The benchmark's workloads: named lists of registered queries.

The benchmark seed only shuffles the order of a list within each pass;
the engine sees nothing but the query names and the data directory.
See README.md for why each workload exists and what each should move.
"""

from __future__ import annotations

import random

WORKLOADS: dict[str, tuple[str, ...]] = {
    # Batch SQL with no Python workers: footer inference in `tables`,
    # Catalyst, scan, exchange, aggregate, join and window top-k.
    "analytic_sql": (
        "q1_pricing_summary",
        "q5_local_supplier",
        "q18_large_orders",
        "topk_per_group",
    ),
    # Pandas and Arrow UDFs that cross into Python workers, next to
    # Parquet writes and a micro-batch stream.
    "curation_ingest": (
        "udf_pandas_vectorized",
        "udf_arrow_map",
        "write_partitioned_parquet",
        "stream_tumbling_count",
    ),
}


def pass_order(workload: str, seed: int, pass_index: int) -> list[str]:
    """The query order of one pass: a permutation fixed by (seed, pass)."""
    names = list(WORKLOADS[workload])
    random.Random(f"{workload}/{seed}/{pass_index}").shuffle(names)
    return names
