"""Session set-up, the closed measurement loop and metric folding.

One client, closed loop: the next operation starts only after the
previous one completed. An operation is one construct-plus-execute
call: ``construct`` calls the engine's public function that builds the
DataFrame (a registered query's ``fn(spark, sf_dir)``, ``word_count``,
a memo build), ``execute`` forces it (noop sink, or the engine's own
sink). Between operations, outside the timed region, the loop applies
the same hygiene as the engine's suite bench: drained stream sinks are
dropped, terminated streams forgotten, and Python garbage collected.
"""

from __future__ import annotations

import gc
import os
import statistics
import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

from layers import (MB, Rest, StreamRecorder, Tracer, epoch, job_layers, plan_counts,
                    stream_layers)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Op:
    """One operation: ``construct()`` returns a DataFrame, ``execute``
    forces it. ``kind`` groups operations for workload metrics."""

    name: str
    construct: Callable
    execute: Callable = noop
    kind: str = "query"
    info: dict = field(default_factory=dict)
    #: called with the record and DataFrame after the operation ran,
    #: outside the timed region
    after: Callable | None = None


def session_settings(work: str, tables: str) -> tuple[dict, dict]:
    """The pinned session: every ``SPARK_GRAFT_*`` variable the engine's
    ``session.py``, ``sources`` and streaming replays read, plus the
    Spark confs that decide parallelism, memory and where files go."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    # below the engine's 8g default: the benchmark shares its host's
    # memory, and its inputs are small enough for a 1 GiB heap
    mem = "1g"
    env = {
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_MASTER": f"local[{nproc}]",
        "SPARK_GRAFT_DRIVER_MEM": mem,
        "SPARK_GRAFT_REPLAY_PARTITIONS": "2",
        "SPARK_GRAFT_SF_DIR": tables,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
    }
    conf = {
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.checkpointLocation": os.path.join(work, "checkpoints"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.enabled": "true",
        "spark.ui.retainedJobs": "1000",
    }
    return env, conf


def start_session(env: dict, conf: dict, warm_parquet: str):
    """Import the engine, start its session and run the generic
    warm-ups (parquet scan, Arrow Python worker, streaming engine).
    Returns the session and ``session.start_s`` / ``session.warmup_s``."""
    os.environ.update(env)
    for d in (env["TMPDIR"], env["SPARK_LOCAL_DIRS"]):
        os.makedirs(d, exist_ok=True)
    t0 = time.perf_counter()
    from mapreducecf_spark import get_spark
    from mapreducecf_spark import registry  # noqa: F401 (imports every query module)

    extra = {k: v for k, v in conf.items() if k != "spark.sql.shuffle.partitions"}
    spark = get_spark(
        app_name="perfbench",
        shuffle_partitions=int(conf["spark.sql.shuffle.partitions"]),
        extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    from pyspark.sql import functions as F

    noop(spark.read.parquet(warm_parquet))
    noop(spark.range(32).mapInPandas(lambda it: it, "id long"))
    # a stateful stream with two state stores, the engine's replay setting
    spark.conf.set("spark.sql.shuffle.partitions", env["SPARK_GRAFT_REPLAY_PARTITIONS"])
    q = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        .groupBy((F.col("value") % 8).alias("k")).agg(F.count("*").alias("n"))
        .writeStream.format("memory").queryName("perfbench_warmup")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    spark.conf.set("spark.sql.shuffle.partitions", conf["spark.sql.shuffle.partitions"])
    spark.catalog.dropTempView("perfbench_warmup")
    t2 = time.perf_counter()
    return spark, {"session.start_s": t1 - t0, "session.warmup_s": t2 - t1}


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM (and with it every Python
    worker it forked) has exited."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        q.stop()
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort: never leave it running
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / MB
    raise RuntimeError("VmHWM not found")


def jvm_heap_mb(spark) -> dict[str, float]:
    """``heap_peak_mb``: the sum of the heap pools' peak use since the
    JVM started; ``heap_live_mb``: heap in use right after a full
    collection, which is what the session keeps (cached blocks,
    broadcasts, plans) rather than garbage waiting to be collected."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    peak = sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
               if p.getType().toString() == "Heap memory")
    jvm.java.lang.System.gc()
    live = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    return {"heap_peak_mb": peak / MB, "heap_live_mb": live / MB}


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant: the JVM and the Python workers it forks."""
    root = root or os.getpid()
    stats = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited while we looked
            continue
        stats[int(pid)] = (int(fields[1]), int(fields[11]) + int(fields[12]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def jvm_gc_s(spark) -> float:
    """Total JVM garbage-collection time so far (all collectors)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3


def host_cpu() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine from ``/proc/stat``:
    steal is time the hypervisor ran someone else on our CPUs."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


def hygiene(spark) -> None:
    for t in spark.catalog.listTables():
        if t.name.startswith("graded_stream_"):
            spark.catalog.dropTempView(t.name)
    spark.streams.resetTerminated()
    gc.collect()


class Probe:
    """The traced run's per-operation hooks. Time spent here is outside
    every timed region and is reported as ``trace.hook_s``."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.rest = Rest(self.sc)
        self.streams = StreamRecorder()
        spark.streams.addListener(self.streams)
        self.tracer = Tracer()
        self.hook_s = 0.0
        self.seq = 0

    def before(self, op: Op) -> str:
        self.seq += 1
        group = f"perfbench-{self.seq}"
        self.sc.setJobGroup(group, op.name)
        return group

    def after(self, op: Op, group: str, e0: float, e1: float, e2: float) -> dict:
        h0 = time.perf_counter()
        runs = self.streams.take()
        groups = {group, *runs}
        n_group = len(self.sc.statusTracker().getJobIdsForGroup(group))
        jobs = self.rest.new_jobs(groups, n_group)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = self.rest.stages(stage_ids)
        lay = job_layers(jobs, stages, e0, e2, e1)
        lay.update(stream_layers(runs, e1 - e0))
        # REST timestamps are truncated to the millisecond
        lay.update(plan_counts(self.rest.executions(e0 - 1e-3, e2)))
        if op.kind in ("build", "consumer"):
            lay.update({f"memo.{k}": v for k, v in self.rest.storage().items()})
        root = self.tracer.span(f"op:{op.name}", e0, e2, None, kind=op.kind)
        self.tracer.span("construct", e0, e1, root)
        self.tracer.span("execute", e1, e2, root)
        for j in jobs:
            self.tracer.span(f"job:{j['jobId']}", epoch(j.get("submissionTime")),
                             epoch(j.get("completionTime")), root,
                             group=j.get("jobGroup"), stages=j["stageIds"])
        for run, batches in runs.items():
            for b in batches:
                end = b["start"] + b["duration_ms"].get("triggerExecution", 0) / 1e3
                self.tracer.span(f"batch:{run}:{b['batch']}", b["start"], end, root,
                                 duration_ms=b["duration_ms"],
                                 state_rows=b["state_rows"])
        self.tracer.spans[root].update(layers=lay)
        self.hook_s += time.perf_counter() - h0
        return lay


def run_op(spark, op: Op, pass_no: int, probe: Probe | None) -> dict:
    group = probe.before(op) if probe else None
    c0 = tree_cpu_s()
    e0 = time.time()
    t0 = time.perf_counter()
    df, t1, ok = None, None, True
    try:
        df = op.construct()
        t1 = time.perf_counter()
        op.execute(df)
    except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
        traceback.print_exc(file=sys.stderr)
        ok = False
    t2 = time.perf_counter()
    cpu = tree_cpu_s() - c0
    t1 = t1 or t2
    rec = {"name": op.name, "kind": op.kind, "pass": pass_no, "ok": ok,
           "construct_s": t1 - t0, "execute_s": t2 - t1, "wall_s": t2 - t0,
           "cpu_s": cpu, **op.info}
    if probe is not None:
        rec["layers"] = probe.after(op, group, e0, e0 + (t1 - t0), e0 + (t2 - t0))
    if ok and op.after is not None:
        op.after(rec, df)
    hygiene(spark)
    return rec


def measure(spark, pass_ops: Callable[[int], list[Op]], seconds: float,
            min_warm: int, probe: Probe | None) -> list[dict]:
    """Run passes until ``seconds`` have elapsed and at least
    ``min_warm`` warm passes follow the cold one."""
    records: list[dict] = []
    start = time.perf_counter()
    k = 0
    while k <= min_warm or time.perf_counter() - start < seconds:
        for op in pass_ops(k):
            records.append(run_op(spark, op, k, probe))
        k += 1
    return records


def pass_totals(records: list[dict], key: str = "wall_s") -> dict[int, float]:
    out: dict[int, float] = {}
    for r in records:
        out[r["pass"]] = out.get(r["pass"], 0.0) + r[key]
    return out


def end_to_end(records: list[dict]) -> dict[str, float]:
    walls, cpus = pass_totals(records), pass_totals(records, "cpu_s")
    warm_ops = [r["wall_s"] for r in records if r["pass"] > 0]
    return {
        "cold_pass_s": walls[0],
        "pass_s": statistics.median(w for p, w in walls.items() if p > 0),
        "op_p50_s": statistics.median(warm_ops),
        "cold_pass_cpu_s": cpus[0],
        "pass_cpu_s": statistics.median(c for p, c in cpus.items() if p > 0),
    }


def op_p90(records: list[dict]) -> tuple[float | None, int]:
    """p90 of warm operation latency, only when at least ten samples lie
    beyond it (100 samples); returns (value or None, sample count)."""
    warm = [r["wall_s"] for r in records if r["pass"] > 0]
    if len(warm) < 100:
        return None, len(warm)
    return statistics.quantiles(warm, n=10)[-1], len(warm)


#: per-layer values summed over a pass (the rest are ratios or per-run)
_SUMMED = (
    "jobs.count", "jobs.tasks", "jobs.busy_s", "jobs.driver_gap_s",
    "jobs.executor_run_s", "jobs.executor_cpu_s", "jobs.gc_s",
    "jobs.shuffle_read_mb", "jobs.shuffle_write_mb", "jobs.spill_mb",
    "sources.scan_tasks", "sources.input_mb", "sources.scan_run_s",
    "queries.construct_jobs",
    "plan.exchanges", "plan.sorts", "plan.windows", "plan.scans",
    "plan.python_nodes", "plan.cached_scans",
    "streaming.batches", "streaming.state_rows",
)
_SHARES = {
    "streaming.trigger_share": "streaming.trigger_s",
    "streaming.add_batch_share": "streaming.add_batch_s",
    "streaming.planning_share": "streaming.planning_s",
    "streaming.wal_commit_share": "streaming.wal_commit_s",
    "streaming.start_stop_share": "streaming.start_stop_s",
}


def per_pass_layers(records: list[dict]) -> dict[str, float]:
    """Mean over warm passes of each summed layer value, plus the
    streaming times as shares of the warm operations' wall time."""
    warm = [r for r in records if r["pass"] > 0 and "layers" in r]
    n_pass = len({r["pass"] for r in warm}) or 1
    wall = sum(r["wall_s"] for r in warm)
    out = {k: sum(r["layers"].get(k, 0) for r in warm) / n_pass for k in _SUMMED}
    out["queries.construct_s"] = sum(r["construct_s"] for r in warm) / n_pass
    out["queries.execute_s"] = sum(r["execute_s"] for r in warm) / n_pass
    for share, key in _SHARES.items():
        out[share] = sum(r["layers"].get(key, 0) for r in warm) / wall
    return out
