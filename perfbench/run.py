#!/usr/bin/env python3
"""The repository's benchmark: run one workload, check its outputs, print
its metrics.

Usage, from the repository root::

    python3 perfbench/run.py --workload relational --seed 1 --seconds 12 --trace 0

Workloads are defined in ``workloads.py``; ``BENCHMARK.json`` lists them with
the metrics and their bounds. The load is a closed loop: one client makes
one call at a time (a registered query, or a composed pipeline function),
the way a harness calls ``queries()``, on ``local[<cores>]`` in this process.
The inputs are generated under ``.perfbench/`` in the repository root: the
query tables once per checkout, the seeded Price-Paid CSV per run.

Every line before the last names one setting or one metric with its unit.
The last line is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The full record (settings, every call's
latency, check results, spans) goes to ``--out``.

End-to-end metrics are measured with tracing off; a traced run adds the
listeners, job groups and REST reads of ``probe.py``, and reports its
overhead against the untraced result of the same workload and seed when
that result is in the results directory.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import threading
import time
import traceback

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import stats  # noqa: E402
from probe import PER_LAYER  # noqa: E402
from workloads import KNOWN_MISMATCHES, WORKLOADS, parquet_rows  # noqa: E402

PACKAGE = "simple_land_registry_data_ingestion_spark"
#: End-to-end metrics every workload reports with ``--trace 0``.
END_TO_END = {"setup_s": "s", "wall_s": "s"}
#: End-to-end metrics printed on the workloads they apply to. They are not in
#: ``BENCHMARK.json``: a run makes 2-16 calls, too few for a percentile that
#: holds still from run to run, and the rest apply to one workload each.
REPORTED = {
    "query_p50_s": "s",
    "peak_rss_mb": "MB",
    "error_rate": "ratio",
    "oracle_mismatches": "count",
    "query_tail_s": "s",
    "ingest_rows_per_s": "rows/s",
    "training_export_s": "s",
    "trace_overhead_s": "s",
}
#: A call still running after this many seconds is cancelled and counted failed.
CALL_TIMEOUT_S = 60


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", help="results file (default .perfbench/results/...)")
    return p.parse_args(argv)


def host_settings(run_dir: str) -> dict:
    """Session settings sized from this host, all inside ``run_dir``."""
    with open("/proc/meminfo") as fh:
        mem_kib = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return {
        "cores": len(os.sched_getaffinity(0)),  # what nproc prints
        "driver_memory_mb": max(1024, mem_kib // 1024 // 4),
        "local_dir": os.path.join(run_dir, "local"),
        "store_dir": os.path.join(run_dir, "store"),
        "tmp_dir": os.path.join(run_dir, "tmp"),
        "warehouse_dir": os.path.join(run_dir, "warehouse"),
        "console_progress": False,
        "python_path": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    }


def apply_env(s: dict) -> None:
    """Environment the engine and its workers read; set before pyspark loads."""
    for d in (s["local_dir"], s["tmp_dir"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(s["cores"]),
            "SPARK_GRAFT_GRAPH_STORE": s["store_dir"],
            "SPARK_LOCAL_DIRS": s["local_dir"],
            "TMPDIR": s["tmp_dir"],
            # no JVM perf-data file under /tmp, for the launcher JVM either
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            # Python workers import the package from here, whatever the
            # launch directory.
            "PYTHONPATH": s["python_path"],
        }
    )
    sys.path.insert(0, ROOT)


def start_session(s: dict):
    from simple_land_registry_data_ingestion_spark.session import get_spark

    retained = "1000000"
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{s['cores']}]",
        extra_conf={
            "spark.driver.memory": f"{s['driver_memory_mb']}m",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={s['tmp_dir']} -XX:-UsePerfData",
            "spark.local.dir": s["local_dir"],
            "spark.sql.warehouse.dir": s["warehouse_dir"],
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": retained,
            "spark.ui.retainedStages": retained,
            "spark.sql.ui.retainedExecutions": retained,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM, which exits when its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def clear_persisted(spark) -> None:
    """Drop blocks and cached tables left by the previous call, so each call
    starts from the same storage state."""
    for _rdd_id, rdd in spark.sparkContext._jsc.getPersistentRDDs().items():
        rdd.unpersist(True)  # blocking, so no block removal overlaps the next call
    spark.catalog.clearCache()


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def query_calls(entry, spark, tables: str) -> dict:
    """Registered queries as (build, execute) pairs."""
    registry = entry.queries()
    return {
        name: (lambda fn=fn: fn(spark, tables), noop_write)
        for name, fn in registry.items()
    }


def pipeline_calls(spark, tables: str, run_dir: str, csv_path: str) -> dict:
    from simple_land_registry_data_ingestion_spark.pipeline import run_ingest
    from simple_land_registry_data_ingestion_spark.pipeline_training import (
        run_training_export,
    )

    out = os.path.join(run_dir, "out")
    return {
        "ingest": (
            lambda: run_ingest(spark, csv_path, f"{out}/pp_complete",
                               metadata_path=f"{out}/pp_complete_metadata"),
            lambda meta: meta,
        ),
        "training_export": (
            lambda: run_training_export(spark, tables, f"{out}/training"),
            lambda df: df.collect(),
        ),
    }


def pipeline_invariants(results: dict, run_dir: str, planted: dict, ingest_calls: int) -> list[str]:
    """Output invariants of the pipelines workload; returns the failed ones."""
    import pyarrow.parquet as pq

    out = os.path.join(run_dir, "out")
    table = f"{out}/pp_complete"
    meta_dir = f"{out}/pp_complete_metadata"
    meta = results.get("ingest")
    train = results.get("training_export")
    checks = {
        "ingest row count": lambda: meta.row_count == planted["rows"],
        "ingest auto_date": lambda: meta.auto_date == planted["max_date"],
        "published rows": lambda: parquet_rows(table) == planted["rows"],
        "\\N read back as NULL": lambda: pq.read_table(table, columns=["ppd_cat"])
        .column("ppd_cat").null_count == planted["null_ppd_cat"],
        "metadata rows": lambda: parquet_rows(meta_dir) == ingest_calls,
        "training manifest rows": lambda: sum(r["n_docs"] for r in train)
        == parquet_rows(f"{out}/training"),
    }
    failed = []
    for what, check in checks.items():
        try:
            ok = check()
        except Exception:  # noqa: BLE001  (a missing output fails its check)
            ok = False
        if not ok:
            failed.append(what)
    return failed


class Watchdog:
    """Cancels the running call's jobs and streams after ``CALL_TIMEOUT_S``."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.fired = False
        self._timer: threading.Timer | None = None

    def _fire(self) -> None:
        self.fired = True
        for q in self.spark.streams.active:
            q.stop()
        self.spark.sparkContext.cancelAllJobs()

    def __enter__(self):
        self.fired = False
        self._timer = threading.Timer(CALL_TIMEOUT_S, self._fire)
        self._timer.daemon = True
        self._timer.start()
        return self

    def __exit__(self, *exc) -> None:
        self._timer.cancel()


def peak_rss_mb(spark) -> float:
    """The driver JVM's VmHWM plus this process's maximum RSS."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        jvm_kib = next(int(l.split()[1]) for l in fh if l.startswith("VmHWM:"))
    py_kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kib + py_kib) / 1024.0


def run(args, wl, settings: dict, run_dir: str) -> dict:
    t_gen = time.perf_counter()
    tables = inputs.ensure_tables(os.path.join(ROOT, ".perfbench", "tables"), wl.scale)
    planted = None
    csv_path = os.path.join(run_dir, "pp_complete.csv")
    if wl.csv_rows:
        planted = inputs.write_pp_csv(csv_path, args.seed, wl.csv_rows)
    # input generation is not part of set-up
    gen_s = time.perf_counter() - t_gen

    import __spark_entry__ as entry

    from compare import compare_query, duckdb_connect
    from probe import Spans, Tracer

    spans = Spans()
    run_span = spans.add("run", spans.now(), 0.0, None)
    with spans.span("session.start", run_span) as start_span:
        spark = start_session(settings)
    try:
        with spans.span("session.warmup", run_span) as warm_span:
            queries = query_calls(entry, spark, tables)
            build, execute = queries[wl.warmup]
            execute(build())
        setup_s = time.perf_counter() - T_PROCESS - gen_s
        duration = lambda sid: spans.spans[sid]["end"] - spans.spans[sid]["start"]  # noqa: E731

        pipelines = wl.name == "pipelines"
        if pipelines:
            calls = pipeline_calls(spark, tables, run_dir, csv_path)
        else:
            calls = {n: queries[n] for n in wl.calls}
        order = inputs.call_order(list(wl.calls), args.seed)
        passes = max(1, round(args.seconds / wl.pass_s))
        watchdog = Watchdog(spark)
        errors: list[dict] = []
        attempted = 0

        def invoke(name: str, parent: int, label: str, tracer=None, build_only=False):
            """One call: build, then execute unless ``build_only``. Returns
            (ok, built, executed, seconds); a failure is recorded, not raised."""
            nonlocal attempted
            attempted += 1
            clear_persisted(spark)
            build, execute = calls[name]
            phases, obj, res, ok = {}, None, None, False
            with spans.span("call", parent, call=name, label=label) as sid:
                idx = tracer.begin_call() if tracer else None
                t0 = time.perf_counter()
                try:
                    with watchdog:
                        for phase in ("build",) if build_only else ("build", "execute"):
                            with spans.span(phase, sid) as phases[phase]:
                                if tracer:
                                    tracer.phase(idx, phase)
                                if phase == "build":
                                    obj = build()
                                else:
                                    res = execute(obj)
                    ok = not watchdog.fired
                    if not ok:
                        errors.append({"call": name, "label": label, "error": "timeout"})
                except Exception as exc:  # noqa: BLE001  (counted, and the loop goes on)
                    errors.append({"call": name, "label": label, "error": repr(exc)[:500],
                                   "trace": traceback.format_exc()[-2000:]})
                elapsed = time.perf_counter() - t0
                if tracer:
                    tracer.end_call(idx, phases, obj if ok else None)
            if tracer and ok:
                win = tracer.plan_window(idx)
                if win:
                    spans.add("plan", win[0], win[1], phases["execute"])
            return ok, obj, res, elapsed

        # Query workloads are checked against the oracle before timing
        # starts: each query is built once and its collected output compared,
        # which also loads and compiles every code path the measured pass takes.
        # The pipelines run measured first, because their first call must
        # meet the cold substrate store, and their outputs are checked after.
        mismatches: dict[str, str] = {}
        check_s: dict[str, float] = {}
        if not pipelines:
            con = duckdb_connect(tables)
            oracle = entry.oracle_sql()
            check_span = spans.add("check", spans.now(), 0.0, run_span)
            for name in order:
                ok, df, _, _ = invoke(name, check_span, "check", build_only=True)
                with spans.span("compare", check_span, call=name) as c:
                    try:
                        if ok:
                            compare_query(df, con, oracle[name])
                    except Exception as exc:  # noqa: BLE001  (mismatch or failed check)
                        mismatches[name] = repr(exc)[:500]
                check_s[name] = duration(c)
            spans.spans[check_span]["end"] = spans.now()
            con.close()

        tracer = Tracer(spark, spans, settings["store_dir"], settings["cores"]) if args.trace else None
        samples: dict[str, list[float]] = {n: [] for n in order}
        last: dict = {}
        pass_walls: list[float] = []
        wl_span = spans.add("workload", spans.now(), 0.0, run_span, workload=wl.name)
        for p in range(passes):
            pass_s = 0.0
            for name in order:
                ok, obj, res, elapsed = invoke(name, wl_span, f"pass {p}", tracer)
                pass_s += elapsed
                if not ok:
                    continue
                samples[name].append(elapsed)
                last[name] = res
                if name == "ingest" and tracer:
                    tracer.record_ingest(res, planted["bytes"], f"{run_dir}/out/pp_complete")
            pass_walls.append(pass_s)
        spans.spans[wl_span]["end"] = spans.now()

        invariant_failures = []
        if pipelines:
            invariant_failures = pipeline_invariants(
                last, run_dir, planted, ingest_calls=len(samples["ingest"]))
        all_lat = [x for v in samples.values() for x in v]
        failed = len(errors)
        e2e = {"setup_s": setup_s, "wall_s": statistics.median(pass_walls)}
        extra = {
            "query_p50_s": statistics.median(all_lat),
            "peak_rss_mb": peak_rss_mb(spark),
            "error_rate": failed / attempted,
            "oracle_mismatches": float(len(mismatches) + len(invariant_failures)),
        }
        tail = stats.tail(all_lat)
        if tail:
            extra["query_tail_s"] = tail[0]
        if pipelines:
            if samples["ingest"]:
                extra["ingest_rows_per_s"] = planted["rows"] / statistics.median(samples["ingest"])
            if samples["training_export"]:
                extra["training_export_s"] = statistics.median(samples["training_export"])
        layer = {}
        if tracer:
            layer = tracer.metrics(sum(pass_walls))
            layer["session.start_s"] = duration(start_span)
            layer["session.warmup_s"] = duration(warm_span)
            tracer.close()
        spans.spans[run_span]["end"] = spans.now()
        return {
            "workload": wl.name,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "passes": passes,
            "order": order,
            "settings": {**settings, "master": f"local[{settings['cores']}]",
                         "tables": tables, "table_scale": wl.scale,
                         "csv_rows": wl.csv_rows, "input_generation_s": gen_s},
            "samples": samples,
            "pass_walls": pass_walls,
            "tail": {"percentile": tail[1], "n": tail[2]} if tail else None,
            "errors": errors,
            "mismatches": mismatches,
            "check_s": check_s,
            "invariant_failures": invariant_failures,
            "attempted": attempted,
            "failed": failed,
            "end_to_end": e2e,
            "extra": extra,
            "per_layer": {k: layer[k] for k in PER_LAYER} if layer else {},
            "spans": spans,
        }
    finally:
        stop_session(spark)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    missing = [p for p in ("__spark_entry__.py", PACKAGE, "tests/compare.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the program is missing from {ROOT}: {missing}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    settings = host_settings(run_dir)
    apply_env(settings)
    sys.path.insert(0, os.path.join(ROOT, "tests"))
    try:
        r = run(args, wl, settings, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    out = args.out or os.path.join(
        work, "results", f"{wl.name}-seed{args.seed}-trace{args.trace}.json")
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    spans = r.pop("spans")
    if args.trace:
        spans_path = out[: -len(".json")] + "-spans.json" if out.endswith(".json") else out + "-spans.json"
        with open(spans_path, "w") as fh:
            json.dump({"spans": spans.spans, "self_s": spans.self_times()}, fh, indent=1)
        r["spans_path"] = spans_path
        base = os.path.join(os.path.dirname(os.path.abspath(out)),
                            f"{wl.name}-seed{args.seed}-trace0.json")
        if os.path.exists(base):
            with open(base) as fh:
                untraced = json.load(fh)["end_to_end"]["wall_s"]
            r["extra"]["trace_overhead_s"] = r["end_to_end"]["wall_s"] - untraced
    r["results_path"] = os.path.abspath(out)
    with open(out, "w") as fh:
        json.dump(r, fh, indent=1, default=str)

    for k, v in r["settings"].items():
        print(f"setting {k} = {v}")
    for k, v in r["end_to_end"].items():
        print(f"metric {wl.name} {k} = {v:.6g} {END_TO_END[k]}")
    for k, v in r["extra"].items():
        print(f"metric {wl.name} {k} = {v:.6g} {REPORTED[k]}")
    n_calls = sum(len(v) for v in r["samples"].values())
    if r["tail"]:
        print(f"note query_tail_s is p{r['tail']['percentile']} of n={n_calls} calls")
    else:
        print(f"note query_tail_s not reported: n={n_calls} calls leave no percentile "
              f"with {stats.TAIL_BEYOND} samples beyond it")
    for k, v in r["per_layer"].items():
        print(f"metric {wl.name} {k} = {v:.6g} {PER_LAYER[k]}")
    for name, msg in r["mismatches"].items():
        known = f" (known: {KNOWN_MISMATCHES[name]})" if name in KNOWN_MISMATCHES else ""
        print(f"mismatch {name}{known}: {msg[:200]}")
    for what in r["invariant_failures"]:
        print(f"invariant failed: {what}")
    for e in r["errors"]:
        print(f"error {e['call']}: {e['error'][:200]}")
    print(f"results {r['results_path']}")

    metrics = r["per_layer"] if args.trace else r["end_to_end"]
    units = PER_LAYER if args.trace else END_TO_END
    unexpected = [n for n, msg in r["mismatches"].items()
                  if n not in KNOWN_MISMATCHES or "value mismatch" not in msg]
    print(json.dumps({
        "correct": not unexpected and not r["invariant_failures"],
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
