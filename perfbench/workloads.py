"""What each workload calls, at which table scale, and how its outputs are
checked.

A workload is a fixed list of calls into the engine's public surface: the
registered queries of ``__spark_entry__.queries()`` or the composed pipeline
functions. The seed only orders the calls (``inputs.call_order``); the list
itself is fixed, so runs with different seeds do the same work.

The lists are short so that one run stays under about 50 s on a 4-core box,
because a comparison takes ten or more runs per workload and side, and one
run's fixed costs there (JVM start, session, warm-up call, oracle check,
shutdown) are already 25-35 s. Each workload measures about 5-20 s of calls.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pyarrow.parquet as pq


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    #: table scale for ``inputs.ensure_tables`` (1.0 = the sf0.1 row counts)
    scale: float
    #: registered query names, or pipeline call names for ``pipelines``
    calls: tuple[str, ...]
    #: the call made once before timing: the first call in a fresh JVM is
    #: about twice as slow, so set-up makes one on the workload's own path
    #: (and, where the workload uses Python workers, one that starts them)
    warmup: str
    #: seconds one measured pass over ``calls`` takes on a 4-core box; a run
    #: makes ``round(--seconds / pass_s)`` passes, at least one
    pass_s: float
    #: rows in the seeded Price-Paid CSV (pipelines only)
    csv_rows: int = 0


# One query per operator kind of the relational families: scan-filter
# aggregate, multi-way join with top-k, anti join, EXISTS subquery, window
# top-k, set operation, CDC merge and snapshot diff. Every run compares each
# output with the oracle, so queries whose outputs run to hundreds of
# thousands of rows are left out, except the two CDC queries: their outputs
# are known to differ from the oracle at this scale, and they are in so that
# the difference is measured and reported on every run.
RELATIONAL = (
    "cdc_merge_upsert",
    "cdc_snapshot_diff",
    "join_left_anti",
    "q3_shipping_priority",
    "q6_revenue_filter",
    "set_union_distinct",
    "sql_exists_subquery",
    "window_topk_per_group",
)

#: Queries whose output is known to differ from the oracle by value, with the
#: reason. They are checked and counted in ``oracle_mismatches`` on every run
#: like any other; ``correct`` stays true for these differences only.
KNOWN_MISMATCHES = {
    "cdc_merge_upsert": "amounts differ from DuckDB by one cent on some rows",
    "cdc_snapshot_diff": "amounts differ from DuckDB by one cent on some rows",
}

# Three kinds of streaming state: watermarked dedup, applyInPandasWithState
# (Python workers) and a windowed aggregation. Each stream query costs 1-3 s
# of micro-batch overhead at this scale, whatever its data.
STREAMING = (
    "stream_dedup_within_watermark",
    "stream_stateful_user_stats",
    "stream_tumbling_window",
)

# The CSV ingest, the only path that parses and publishes a file, and the
# training-data export, the cheapest composed pipeline that reads the
# substrate store. The RAG index, eval and monitoring pipelines take 10-22 s
# each on a 4-core box, which the run budget has no room for.
PIPELINES = (
    "ingest",
    "training_export",
)

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "relational",
            "JVM-only sub-second queries whose time is fixed per-query "
            "overhead; bypasses Python workers, the substrate store and streaming",
            scale=1.0,
            calls=RELATIONAL,
            warmup="q1_pricing_summary",
            pass_s=8.0,
        ),
        Workload(
            "streaming",
            "stream queries run to completion in their builders: micro-batch, "
            "state-store and applyInPandasWithState costs",
            scale=0.1,
            calls=STREAMING,
            # applyInPandasWithState: starts the Python pool as well
            warmup="stream_user_topk",
            pass_s=5.0,
        ),
        Workload(
            "pipelines",
            "the write paths: seeded CSV ingest (parse, partitioned parquet publish, "
            "metadata row) and the training-data export over a cold substrate store",
            scale=0.1,
            calls=PIPELINES,
            warmup="q1_pricing_summary",
            pass_s=20.0,
            csv_rows=50_000,
        ),
    )
}


def parquet_rows(path: str) -> int:
    """Row count of a parquet file or directory tree, read from footers."""
    if os.path.isfile(path):
        return pq.ParquetFile(path).metadata.num_rows
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
    return total


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)
