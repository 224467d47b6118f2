"""Traced-run instruments: spans recorded around calls into each layer, and
Spark's own status read from outside the program.

Nothing here changes how the engine runs. The sources are:

- spans the benchmark records around its own calls (run, workload, call,
  and the call's build / plan / execute phases);
- a ``QueryExecutionListener`` (Catalyst phase times from each query
  execution's ``tracker()``) and a ``StreamingQueryListener`` (micro-batch
  progress), both attached by the benchmark;
- the Spark status REST API on localhost (jobs, stages, SQL executions);
- listings of the substrate store directory taken around each call.

Spark counters are attributed to a call through the job group the benchmark
sets before each phase of the call. Jobs that carry another group (a
streaming query's micro-batches run under the query's own group) are
attributed by submission time, which is exact because the closed loop runs
one call at a time.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

from workloads import parquet_files, tree_bytes

MB = 1024 * 1024

#: Every per-layer metric with its unit, in the order printed.
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.core_idle_frac": "ratio",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.offcpu_frac": "ratio",
    "executor.shuffle_read_mb": "MB",
    "executor.shuffle_write_mb": "MB",
    "executor.spill_mb": "MB",
    "executor.input_mb": "MB",
    "executor.output_mb": "MB",
    "python.bytes_sent_mb": "MB",
    "python.bytes_returned_mb": "MB",
    "python.rows_returned": "count",
    "substrate.hits": "count",
    "substrate.misses": "count",
    "substrate.hit_ratio": "ratio",
    "substrate.store_mb": "MB",
    "streaming.batches": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "ingest.scan_s": "s",
    "ingest.write_s": "s",
    "ingest.bytes_out_per_byte_in": "ratio",
    "ingest.files_written": "count",
}


class Spans:
    """Spans kept in memory: name, start, end (epoch seconds) and parent."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._epoch0 = time.time() - time.perf_counter()

    def now(self) -> float:
        return self._epoch0 + time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        self.spans.append(
            {"id": len(self.spans), "parent": parent, "name": name,
             "start": start, "end": end, **attrs}
        )
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Record a span around the block; yields the span's id, whose end
        is filled in when the block exits."""
        sid = self.add(name, self.now(), 0.0, parent, **attrs)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = self.now()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span's duration minus its children's."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)


class _QueryListener:
    """Python side of a ``QueryExecutionListener`` (called through py4j)."""

    def __init__(self) -> None:
        self.events: list[dict] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java name)
        phases = qe.tracker().phases()
        ev = {"func": func_name}
        for p in ("analysis", "optimization", "planning"):
            if phases.contains(p):
                summary = phases.apply(p)
                ev[p] = (summary.startTimeMs() / 1000.0, summary.endTimeMs() / 1000.0)
        self.events.append(ev)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.onSuccess(func_name, qe, 0)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class _StreamListener(StreamingQueryListener):
    def __init__(self) -> None:
        self.events: list[dict] = []

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        self.events.append(
            {
                "query": str(p.id),
                "durations_ms": dict(p.durationMs),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            }
        )

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


_SIZE = {"B": 1, "KiB": 1024, "MiB": MB, "GiB": 1024 * MB, "TiB": 1024 * 1024 * MB}


def sql_metric_value(text: str) -> float:
    """A SQL UI metric as a number: sizes in bytes, counts as counts.

    Values look like ``"1,000"``, ``"8.1 KiB"`` or, for per-task metrics,
    ``"total (min, med, max (stageId: taskId))\\n8.1 KiB (4.0 KiB, ...)"``.
    """
    total = text.split("\n")[-1].split(" (")[0].strip()
    parts = total.split()
    number = float(parts[0].replace(",", ""))
    return number * _SIZE.get(parts[1], 1) if len(parts) > 1 else number


def _rest_time(text: str) -> float:
    """REST API timestamps (``2026-10-17T03:29:37.912GMT``) as epoch seconds."""
    return (
        dt.datetime.strptime(text, "%Y-%m-%dT%H:%M:%S.%fGMT")
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
    )


class Tracer:
    """Collects the per-layer metrics of one traced run."""

    def __init__(self, spark, spans: Spans, store_dir: str, cores: int) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        self.spans = spans
        self.store_dir = store_dir
        self.cores = cores
        self.calls: list[dict] = []
        self._qe = _QueryListener()
        self._stream = _StreamListener()
        ensure_callback_server_started(self.sc._gateway)
        spark._jsparkSession.listenerManager().register(self._qe)
        spark.streams.addListener(self._stream)
        self.ingest: list[dict] = []

    # -- per call -----------------------------------------------------------

    def _store_keys(self) -> set[str]:
        if not os.path.isdir(self.store_dir):
            return set()
        return {k for k in os.listdir(self.store_dir) if not k.startswith(".")}

    def begin_call(self) -> int:
        self._drain()
        self.calls.append({"store_before": self._store_keys(), "windows": {}})
        return len(self.calls) - 1

    def phase(self, call: int, phase: str) -> None:
        """Tag the jobs the next statements start as ``phase`` of ``call``."""
        self.sc.setJobGroup(f"pb:{call}:{phase}", phase)

    def end_call(self, call: int, phase_spans: dict[str, int], df=None) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        rec = self.calls[call]
        for phase, sid in phase_spans.items():
            s = self.spans.spans[sid]
            rec["windows"][phase] = (s["start"], s["end"])
        rec["qe"] = self._qe.events[:]
        rec["stream"] = self._stream.events[:]
        self._drain()
        if df is not None and hasattr(df, "_jdf"):
            phases = df._jdf.queryExecution().tracker().phases()
            if phases.contains("analysis"):
                a = phases.apply("analysis")
                rec["qe"].append(
                    {"analysis": (a.startTimeMs() / 1000.0, a.endTimeMs() / 1000.0)}
                )
        rec["store_after"] = self._store_keys()
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _drain(self) -> None:
        self._qe.events.clear()
        self._stream.events.clear()

    def plan_window(self, call: int) -> tuple[float, float] | None:
        """Optimization start to planning end of the query executions that
        ran inside the call's execute phase."""
        win = self.calls[call]["windows"].get("execute")
        if win is None:
            return None
        inside = [
            e for e in self.calls[call]["qe"]
            if "optimization" in e and "planning" in e
            and win[0] - 0.01 <= e["planning"][1] <= win[1] + 0.01
        ]
        if not inside:
            return None
        return (min(e["optimization"][0] for e in inside),
                max(e["planning"][1] for e in inside))

    def record_ingest(self, meta, csv_bytes: int, output_dir: str) -> None:
        self.ingest.append(
            {"scan_s": meta.read_duration_s, "write_s": meta.write_duration_s,
             "bytes_in": csv_bytes, "bytes_out": tree_bytes(output_dir),
             "files": parquet_files(output_dir)}
        )

    # -- after the measured region -----------------------------------------

    def _rest(self, path: str):
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=60) as resp:
            return json.load(resp)

    def _owner(self, group: str | None, submitted: float) -> tuple[int, str] | None:
        m = re.fullmatch(r"pb:(\d+):(\w+)", group or "")
        if m:
            return int(m.group(1)), m.group(2)
        for i, rec in enumerate(self.calls):
            for phase, (a, b) in rec["windows"].items():
                if a <= submitted <= b:
                    return i, phase
        return None

    def metrics(self, wall_s: float) -> dict[str, float]:
        """Every per-layer metric, summed over the measured calls."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        m = {k: 0.0 for k in PER_LAYER}
        jobs = self._rest("jobs")
        job_owner = {}
        for j in jobs:
            owner = self._owner(j.get("jobGroup"), _rest_time(j["submissionTime"]))
            if owner is None:
                continue
            job_owner[j["jobId"]] = owner
            m["scheduler.jobs"] += 1
            if owner[1] == "build":
                m["registry.build_jobs"] += 1
        stage_owned = {s for j in jobs if j["jobId"] in job_owner for s in j["stageIds"]}
        for s in self._rest("stages"):
            if s["stageId"] not in stage_owned or s["status"] != "COMPLETE":
                continue
            m["scheduler.stages"] += 1
            m["scheduler.tasks"] += s["numCompleteTasks"]
            m["executor.run_s"] += s["executorRunTime"] / 1000.0
            m["executor.cpu_s"] += s["executorCpuTime"] / 1e9
            m["executor.gc_s"] += s["jvmGcTime"] / 1000.0
            m["executor.shuffle_read_mb"] += s["shuffleReadBytes"] / MB
            m["executor.shuffle_write_mb"] += s["shuffleWriteBytes"] / MB
            m["executor.spill_mb"] += (s["memoryBytesSpilled"] + s["diskBytesSpilled"]) / MB
            m["executor.input_mb"] += s["inputBytes"] / MB
            m["executor.output_mb"] += s["outputBytes"] / MB
        if m["executor.run_s"]:
            m["executor.offcpu_frac"] = 1 - m["executor.cpu_s"] / m["executor.run_s"]
        m["scheduler.core_idle_frac"] = 1 - m["executor.run_s"] / (self.cores * wall_s)

        scanned: dict[int, set[str]] = defaultdict(set)
        for ex in self._rest("sql?details=true&planDescription=true&length=100000"):
            ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
            owners = [job_owner[j] for j in ids if j in job_owner]
            if not owners:
                o = self._owner(None, _rest_time(ex["submissionTime"]))
                owners = [o] if o else []
            if not owners:
                continue
            call = owners[0][0]
            for key in self.calls[call]["store_before"]:
                if key in ex.get("planDescription", ""):
                    scanned[call].add(key)
            for node in ex.get("nodes", []):
                vals = {x["name"]: x["value"] for x in node.get("metrics", [])}
                if "data returned from Python workers" not in vals:
                    continue
                m["python.bytes_sent_mb"] += sql_metric_value(vals.get("data sent to Python workers", "0")) / MB
                m["python.bytes_returned_mb"] += sql_metric_value(vals["data returned from Python workers"]) / MB
                m["python.rows_returned"] += sql_metric_value(vals.get("number of output rows", "0"))

        for i, rec in enumerate(self.calls):
            m["substrate.misses"] += len(rec["store_after"] - rec["store_before"])
            m["substrate.hits"] += len(scanned[i])
            for e in rec["qe"]:
                for p in ("analysis", "optimization", "planning"):
                    if p in e:
                        m[f"catalyst.{p}_s"] += e[p][1] - e[p][0]
            last_state: dict[str, tuple[int, int]] = {}
            for e in rec["stream"]:
                d = e["durations_ms"]
                m["streaming.batches"] += 1
                m["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1000.0
                m["streaming.add_batch_s"] += d.get("addBatch", 0) / 1000.0
                m["streaming.wal_commit_s"] += d.get("walCommit", 0) / 1000.0
                m["streaming.query_planning_s"] += d.get("queryPlanning", 0) / 1000.0
                last_state[e["query"]] = (e["state_rows"], e["state_bytes"])
            m["streaming.state_rows"] += sum(r for r, _ in last_state.values())
            m["streaming.state_mb"] += sum(b for _, b in last_state.values()) / MB
            if "build" in rec["windows"]:
                a, b = rec["windows"]["build"]
                m["registry.build_s"] += b - a
        looked_up = m["substrate.hits"] + m["substrate.misses"]
        if looked_up:
            m["substrate.hit_ratio"] = m["substrate.hits"] / looked_up
        m["substrate.store_mb"] = tree_bytes(self.store_dir) / MB if os.path.isdir(self.store_dir) else 0.0

        if self.ingest:
            m["ingest.scan_s"] = sum(r["scan_s"] for r in self.ingest)
            m["ingest.write_s"] = sum(r["write_s"] for r in self.ingest)
            m["ingest.bytes_out_per_byte_in"] = (
                sum(r["bytes_out"] for r in self.ingest) / sum(r["bytes_in"] for r in self.ingest)
            )
            m["ingest.files_written"] = sum(r["files"] for r in self.ingest)
        return m

    def close(self) -> None:
        self.spark.streams.removeListener(self._stream)
        self.spark._jsparkSession.listenerManager().unregister(self._qe)
