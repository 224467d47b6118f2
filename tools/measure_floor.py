#!/usr/bin/env python3
"""Isolated per-query floor measurement under the PINNED r9 methodology
(bench.py): fresh session, q1 warmup, python pools warmed, all persisted
RDDs/cached tables cleared before every timed run, noop sink, min of N
passes (default 3 — isolated runs afford one more pass than the full
bench).  Use this — never an in-suite timing — when adjudicating whether
a bench uptick is code or session ambience.

Usage: python tools/measure_floor.py [-n PASSES] [--sf DIR] query [query...]
Prints one JSON line {query: floor_sec} and the per-pass detail to stderr.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("-n", type=int, default=3)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--force", action="store_true",
        help="measure even under ambient load (numbers will be inflated)",
    )
    args = ap.parse_args()

    # Ambient guard (r11): the sandbox VM sees host CPU steal windows
    # (load average ~20 with zero local processes); floors taken inside
    # one are garbage.  Refuse rather than record them.
    import os
    load1 = os.getloadavg()[0]
    if load1 > 4.0 and not args.force:
        raise SystemExit(
            f"ambient load {load1:.1f} > 4.0 — a steal window is active; "
            "wait for quiet or pass --force"
        )

    import bench
    import __spark_entry__ as entry_mod
    from simple_land_registry_data_ingestion_spark.session import get_spark

    spark = get_spark(
        app_name="floor-measure",
        extra_conf={"spark.driver.memory": bench._driver_memory()},
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()
    unknown = [q for q in args.queries if q not in queries]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    queries["q1_pricing_summary"](spark, args.sf).write.format("noop").mode(
        "overwrite"
    ).save()
    bench._warm_python_pools(spark)

    detail: dict[str, list[float]] = {q: [] for q in args.queries}
    for _ in range(args.n):
        for name in args.queries:
            bench._clear_persisted(spark)
            start = time.monotonic()
            queries[name](spark, args.sf).write.format("noop").mode(
                "overwrite"
            ).save()
            detail[name].append(round(time.monotonic() - start, 3))
    # mid-run storm retry (r13): the start-of-run load guard cannot see a
    # steal window opening between passes; a query whose passes disagree
    # > 2.5x on byte-identical work gets one extra draw — min over all
    # passes can only remove ambient noise (draw counts printed so
    # comparisons can be made like-for-like, the bench.py ADVICE rule)
    for name, t in detail.items():
        if len(t) >= 2 and max(t) > 2.5 * min(t):
            bench._clear_persisted(spark)
            start = time.monotonic()
            queries[name](spark, args.sf).write.format("noop").mode(
                "overwrite"
            ).save()
            t.append(round(time.monotonic() - start, 3))
    print(json.dumps(detail), file=sys.stderr)
    print(json.dumps({q: min(t) for q, t in detail.items()}))
    spark.stop()


if __name__ == "__main__":
    main()
