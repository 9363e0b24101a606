"""Per-layer tracing, used only by a traced run (``--trace 1``).

Everything here is read from outside the engine, around calls into its
public functions:

- ``Rest``: the Spark UI's REST API on localhost (``/jobs``, ``/stages``,
  ``/sql``, ``/storage/rdd``), read after every operation, because the
  UI keeps only the last 1000 jobs and a run submits more;
- ``StreamRecorder``: a ``StreamingQueryListener`` the benchmark
  registers, because micro-batch jobs run on the stream thread under the
  stream's run id, not under the operation's job group;
- ``plan_counts``: node counts from the plans the operation executed, as
  the SQL status store holds them after adaptive re-planning;
- ``Tracer``: spans (name, start, end, parent) and counts kept in
  memory and written as one JSON file when the run ends.
"""

from __future__ import annotations

import datetime as _dt
import json
import re
import threading
import time
import urllib.error
import urllib.request

from pyspark.sql.streaming import StreamingQueryListener

MB = 1e6


def epoch(ts: str | None) -> float | None:
    """Epoch seconds of a Spark UTC timestamp: REST writes
    ``2026-01-01T10:00:00.123GMT``, stream progress ``...00.123Z``."""
    if not ts:
        return None
    t = _dt.datetime.strptime(ts.rstrip("GMTZ"), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=_dt.timezone.utc).timestamp()


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    busy, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if s > end:
            busy += e - s
        elif e > end:
            busy += e - end
        end = max(end, e)
    return busy


class Rest:
    """Reader for the application's REST endpoints on localhost."""

    def __init__(self, sc) -> None:
        port = re.search(r":(\d+)$", sc.uiWebUrl).group(1)
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.seen_job = -1
        self.seen_sql = -1

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.loads(r.read())

    def new_jobs(self, groups: set[str], min_count: int, wait_s: float = 5.0) -> list[dict]:
        """Jobs submitted since the last call whose group is in
        ``groups``, once all of them have finished in the status store
        (the store is filled asynchronously by the listener bus)."""
        deadline = time.monotonic() + wait_s
        while True:
            jobs = [j for j in self.get("/jobs") if j["jobId"] > self.seen_job]
            mine = [j for j in jobs if j.get("jobGroup") in groups]
            done = all(j["status"] != "RUNNING" for j in jobs)
            if (done and len(mine) >= min_count) or time.monotonic() > deadline:
                break
            time.sleep(0.02)
        if jobs:
            self.seen_job = max(j["jobId"] for j in jobs)
        return mine

    def stages(self, ids: set[int]) -> list[dict]:
        return [
            s for s in self.get("/stages")
            if s["stageId"] in ids and s["status"] in ("COMPLETE", "FAILED")
        ]

    def executions(self, lo: float, hi: float, wait_s: float = 5.0) -> list[dict]:
        """SQL executions started since the last call and submitted
        within ``[lo, hi]`` (epoch seconds), each with its plan graph
        once it has finished. Execution ids are dense, so ids are read
        in turn until the status store does not know one."""
        out = []
        while True:
            path = f"/sql/{self.seen_sql + 1}?details=true&planDescription=false"
            deadline = time.monotonic() + wait_s
            try:
                ex = self.get(path)
                while ex["status"] == "RUNNING" and time.monotonic() < deadline:
                    time.sleep(0.02)
                    ex = self.get(path)
            except urllib.error.HTTPError as err:
                if err.code == 404:
                    return out
                raise
            self.seen_sql += 1
            if lo <= epoch(ex["submissionTime"]) <= hi:
                out.append(ex)

    def storage(self) -> dict[str, float]:
        rdds = self.get("/storage/rdd")
        parts = sum(r["numPartitions"] for r in rdds)
        return {
            "cached_mb": sum(r["memoryUsed"] + r["diskUsed"] for r in rdds) / MB,
            "cached_fraction": (
                sum(r["numCachedPartitions"] for r in rdds) / parts if parts else 0.0
            ),
        }


def job_layers(jobs: list[dict], stages: list[dict], t0: float, t1: float,
               t_split: float) -> dict[str, float]:
    """Fold one operation's jobs and stages into layer numbers.
    ``[t0, t1]`` is the operation's wall interval (epoch seconds) and
    ``t_split`` the end of its construct phase."""
    iv = [(epoch(j["submissionTime"]), epoch(j.get("completionTime")) or t1)
          for j in jobs if j.get("submissionTime")]
    # not clipped to [t0, t1]: the job intervals come from the scheduler,
    # the wall time from the benchmark's clock; a negative gap would
    # show that they disagree
    busy = union_seconds(iv)
    scan = [s for s in stages if s.get("inputBytes", 0) > 0]
    return {
        "jobs.count": len(jobs),
        "jobs.tasks": sum(s["numTasks"] for s in stages),
        "jobs.busy_s": busy,
        "jobs.driver_gap_s": (t1 - t0) - busy,
        "jobs.executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "jobs.executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "jobs.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "jobs.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / MB,
        "jobs.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / MB,
        "jobs.shuffle_write_records": sum(s["shuffleWriteRecords"] for s in stages),
        "jobs.spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages) / MB,
        "sources.scan_tasks": sum(s["numTasks"] for s in scan),
        "sources.input_mb": sum(s["inputBytes"] for s in scan) / MB,
        "sources.scan_run_s": sum(s["executorRunTime"] for s in scan) / 1e3,
        "queries.construct_jobs": sum(1 for s, _ in iv if s is not None and s <= t_split),
    }


class StreamRecorder(StreamingQueryListener):
    """Collects micro-batch progress per stream run id. Callbacks arrive
    on the py4j callback thread, hence the lock."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.started: list[str] = []
        self.ended: set[str] = set()
        self.progress: dict[str, list[dict]] = {}

    def onQueryStarted(self, event) -> None:
        with self.lock:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "batch": p.batchId,
            "start": epoch(p.timestamp),
            "duration_ms": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "input_rows": p.numInputRows,
        }
        with self.lock:
            self.progress.setdefault(str(p.runId), []).append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self.lock:
            self.ended.add(str(event.runId))

    def take(self, wait_s: float = 5.0) -> dict[str, list[dict]]:
        """Progress of every run started since the last call, after
        their termination events have arrived."""
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            with self.lock:
                if all(r in self.ended for r in self.started):
                    break
            time.sleep(0.02)
        with self.lock:
            runs = {r: self.progress.pop(r, []) for r in self.started}
            self.started = []
        return runs


def stream_layers(runs: dict[str, list[dict]], replay_wall: float) -> dict[str, float]:
    batches = [b for bs in runs.values() for b in bs]

    def dur(key: str) -> float:
        return sum(b["duration_ms"].get(key, 0) for b in batches) / 1e3

    trigger = dur("triggerExecution")
    return {
        "streaming.batches": len(batches),
        "streaming.trigger_s": trigger,
        "streaming.add_batch_s": dur("addBatch"),
        "streaming.planning_s": dur("queryPlanning"),
        "streaming.wal_commit_s": dur("walCommit"),
        "streaming.state_rows": sum(bs[-1]["state_rows"] for bs in runs.values() if bs),
        "streaming.start_stop_s": (replay_wall - trigger) if runs else 0.0,
    }


_PLAN_NODES = {
    "plan.exchanges": ("Exchange", "ShuffleExchange", "BroadcastExchange"),
    "plan.sorts": ("Sort",),
    "plan.windows": ("Window", "WindowGroupLimit"),
    "plan.scans": ("Scan", "BatchScan", "MicroBatchScan", "LocalTableScan"),
    "plan.python_nodes": ("ArrowEvalPython", "MapInPandas", "BatchEvalPython",
                          "FlatMapGroupsInPandas", "MapInArrow", "PythonMapInArrow",
                          "FlatMapCoGroupsInPandas", "AggregateInPandas",
                          "WindowInPandas", "ArrowWindowPython"),
    "plan.cached_scans": ("InMemoryTableScan",),
}


def plan_counts(executions: list[dict]) -> dict[str, int]:
    """Count physical operators in executed plan graphs: the SQL REST
    API's ``nodes`` and child-to-parent ``edges``, which hold the final
    plan after adaptive re-planning. Nodes below an ``InMemoryTableScan``
    are the plan its cached relation was built from and are not counted:
    reading a cache is one ``InMemoryTableScan``."""
    counts = dict.fromkeys(_PLAN_NODES, 0)
    for ex in executions:
        children: dict[int, list[int]] = {}
        for e in ex["edges"]:
            children.setdefault(e["toId"], []).append(e["fromId"])
        kinds = {n["nodeId"]: n["nodeName"].split(" ", 1)[0] for n in ex["nodes"]}
        cached_plan: set[int] = set()
        todo = [c for i, k in kinds.items() if k == "InMemoryTableScan"
                for c in children.get(i, ())]
        while todo:
            i = todo.pop()
            if i not in cached_plan:
                cached_plan.add(i)
                todo.extend(children.get(i, ()))
        for i, k in kinds.items():
            if i in cached_plan:
                continue
            for metric, names in _PLAN_NODES.items():
                if k in names:
                    counts[metric] += 1
    return counts


class Tracer:
    """In-memory spans; written once when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    def span(self, name: str, start: float, end: float, parent: int | None = None,
             **counts) -> int:
        self.spans.append({"id": len(self.spans), "parent": parent, "name": name,
                           "start": start, "end": end, **counts})
        return len(self.spans) - 1

    def write(self, path: str, header: dict) -> None:
        with open(path, "w") as f:
            json.dump({**header, "spans": self.spans}, f)
