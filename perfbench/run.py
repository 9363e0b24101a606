"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N      # every workload

Run from the root of a source tree. One process per workload: it starts
the engine's session (timed as ``setup_s``), makes the workload's
inputs from the seed, runs the closed measurement loop for ``--seconds``
seconds, checks every output outside the timed region, stops the JVM
and prints, as its last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``. The line before it is a full report: pinned settings,
input sizes, every end-to-end metric (including workload-specific
ones), sample counts and any failure. A traced run also writes its
spans to ``.perfbench_out/``. Exits non-zero on any wrong result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
#: units of every end-to-end number in the report line; BENCHMARK.json
#: lists the subset that every workload reports and that has a bound
REPORT_UNITS = {
    "setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "op_p50_s": "s", "op_p90_s": "s",
    "cold_pass_cpu_s": "s", "pass_cpu_s": "s",
    "peak_rss_mb": "MB", "heap_peak_mb": "MB", "heap_live_mb": "MB",
    "mb_per_s": "MB/s", "write_mb_per_s": "MB/s", "build_s": "s", "error_rate": "ratio",
}
#: files of the program under test the benchmark needs
ENGINE_FILES = ("mapreducecf_spark/__init__.py", "mapreducecf_spark/registry.py",
                "tools/check_parity.py")


def ensure_tables(sf: float) -> str:
    """Generated engine tables, made once per checkout (fixed seed, so
    every run reads the same tables) and reused by later runs."""
    import gen

    final = os.path.join(WORK, f"tables-sf{sf}-v1")
    if not os.path.isdir(final):
        tmp = f"{final}.tmp{os.getpid()}"
        gen.make_tables(tmp, sf)
        os.replace(tmp, final)
    return final


def run_one(spec: dict, workload: str, seed: int, seconds: float, trace: bool) -> int:
    from loop import (Probe, end_to_end, host_cpu, jvm_gc_s, jvm_heap_mb, jvm_peak_rss_mb,
                      measure, op_p90, pass_totals, per_pass_layers, session_settings,
                      start_session, stop_session)
    from workloads import TABLES_SF, WORKLOADS

    tables = ensure_tables(TABLES_SF)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    env, conf = session_settings(run_dir, tables)
    spark = None
    try:
        spark, session_layers = start_session(env, conf, os.path.join(tables, "region.parquet"))
        setup_s = sum(session_layers.values())
        wl = WORKLOADS[workload](spark, seed, tables, run_dir)
        inputs = wl.prepare()
        probe = Probe(spark) if trace else None
        t0, gc0, cpu0 = time.perf_counter(), jvm_gc_s(spark), host_cpu()
        records = measure(spark, wl.pass_ops, seconds, wl.min_warm, probe)
        window_s = time.perf_counter() - t0
        cpu1 = host_cpu()
        health = {"jvm_gc_s": jvm_gc_s(spark) - gc0,
                  "host_steal_share": (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1])}
        memory = {"peak_rss_mb": jvm_peak_rss_mb(spark), **jvm_heap_mb(spark)}
        failures = [f"{r['name']} (pass {r['pass']}): raised" for r in records if not r["ok"]]
        failures += wl.check(records)
        if probe is not None:
            os.makedirs(OUT, exist_ok=True)
            probe.tracer.write(os.path.join(OUT, f"trace-{workload}-seed{seed}.json"),
                               {"workload": workload, "seed": seed, "inputs": inputs,
                                "records": records})
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = len(records) + wl.n_checks
    failed = len(failures)
    e2e = {"setup_s": setup_s, **end_to_end(records)}
    p90, n = op_p90(records)
    report_e2e = {**e2e, **memory, **wl.extra(records), "op_p90_s": p90,
                  "error_rate": failed / attempted}
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if trace:
        values = {**session_layers, **per_pass_layers(records), **wl.layers(records),
                  "trace.pass_s": e2e["pass_s"], "trace.hook_s": probe.hook_s}
        names = [m["name"] for m in spec["per_layer"]]
    else:
        values = report_e2e
        names = [m["name"] for m in spec["end_to_end"]]
    report = {
        "workload": workload, "seed": seed, "trace": int(trace),
        "settings": {"env": env, "conf": conf, "python": sys.version.split()[0]},
        "inputs": {**inputs, "tables_sf": TABLES_SF},
        "window_s": window_s, "pass_walls": list(pass_totals(records).values()),
        **health,
        "operations": len(records), "op_p90_samples": n,
        "end_to_end": {k: {"value": v, "unit": REPORT_UNITS[k]} for k, v in report_e2e.items()},
        "failures": failures,
    }
    result = {
        "correct": not failures, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values.get(k, 0), "unit": units[k]} for k in names},
    }
    print(json.dumps(report), flush=True)
    print(json.dumps(result), flush=True)
    for f in failures:
        print(f"perfbench: {f}", file=sys.stderr)
    return 0 if not failures else 1


def run_all(seed: int, seconds: float, trace: bool, names: list[str]) -> int:
    """Each workload in its own process (each needs a fresh session).
    With ``trace``, each workload also runs untraced first, and the
    merged line adds ``<workload>.trace.overhead_s``: the traced run's
    median warm pass minus the untraced one's."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    code = 0
    for name in names:
        untraced_pass = None
        for t in (False, True) if trace else (False,):
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", name,
                 "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(t))],
                cwd=ROOT, stdout=subprocess.PIPE, text=True, check=False)
            sys.stdout.write(p.stdout)
            code = code or p.returncode
            lines = p.stdout.strip().splitlines()
            if len(lines) < 2:
                merged["correct"] = False
                continue
            report, res = json.loads(lines[-2]), json.loads(lines[-1])
            merged["correct"] &= res["correct"]
            merged["attempted"] += res["attempted"]
            merged["failed"] += res["failed"]
            merged["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
            if not t:
                untraced_pass = report["end_to_end"]["pass_s"]["value"]
            elif untraced_pass is not None:
                merged["metrics"][f"{name}.trace.overhead_s"] = {
                    "value": res["metrics"]["trace.pass_s"]["value"] - untraced_pass,
                    "unit": "s"}
    print(json.dumps(merged), flush=True)
    return code


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [f for f in ENGINE_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: program sources missing next to perfbench/: {missing}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds if args.seconds is not None else spec["run_seconds"]
    names = [w["name"] for w in spec["workloads"]]
    if args.workload == "all":
        return run_all(args.seed, seconds, bool(args.trace), names)
    if args.workload not in names:
        ap.error(f"--workload must be one of {names} or 'all'")
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    return run_one(spec, args.workload, args.seed, seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
