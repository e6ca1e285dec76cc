#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds its inputs from the seed inside
the checkout (under `.perfbench_work/`, removed on exit), runs the
workload on `local[nproc]`, checks every output and prints as its last
line one JSON object: `correct`, `attempted`, `failed` and `metrics`.
With `--trace 0` the metrics are the end-to-end ones of BENCHMARK.json;
with `--trace 1` the per-layer ones. The line before it, prefixed
`detail:`, carries the workload-specific figures, and the same record
with every span goes to `.perfbench_out/<workload>-seed<n>-trace<t>.json`.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

LAYERS = ("streaming", "operators", "views", "dedup", "text", "similarity")
UNITS = {
    "calls": "count", "busy_s": "s", "self_s": "s", "driver_s": "s", "jobs": "count",
    "stages": "count", "tasks": "count", "executor_run_s": "s", "executor_cpu_s": "s",
    "gc_s": "s", "shuffle_write_bytes": "B", "shuffle_read_bytes": "B",
    "spill_bytes": "B", "failed": "count",
}
STREAMING_EXTRA = {
    "batches": "count", "add_batch_s": "s", "offset_s": "s", "commit_s": "s",
    "rows_fetched": "count", "rows_inserted": "count", "quarantined": "count",
    "dedup_ratio": "ratio", "state_bytes": "B",
}
# The driver heap. session.get_spark defaults to an 8g cap, sized for
# sf1 and up; at the benchmark's input sizes 2g is ample and keeps a run
# small on a host it shares. The heap's size is fixed (-Xms = -Xmx) and
# so is the young generation's (-Xmn), so neither is resized on pause
# times, which wander with the host; collections then follow the bytes
# allocated. The heap is not touched at start, so peak_rss_mb counts
# the heap regions a workload really uses: the young generation plus
# what survives into the old one.
DRIVER_MEMORY = "2g"
YOUNG_GEN = "512m"
E2E_UNITS = {"setup_s": "s", "pass_cpu_s": "s", "ok_ratio": "ratio", "peak_rss_mb": "MB"}


def per_layer_units() -> dict:
    units = {f"{layer}.{m}": u for layer in LAYERS for m, u in UNITS.items()}
    units.update({f"streaming.{m}": u for m, u in STREAMING_EXTRA.items()})
    units["trace.overhead_ratio"] = "ratio"
    return units


def _env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and run Spark
    on all the CPUs this process may use."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TZ"] = "UTC"  # collected timestamps compare with DuckDB's
    time.tzset()


def _session(work: str):
    from data_ingestion_system_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN}"
                # JIT compiler threads live as long as the JVM, so their
                # CPU time can be read and left out (workloads.cpu_now)
                " -XX:-UseDynamicNumberOfCompilerThreads"
            ),
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._jvm
    # AQE-cancelled tasks that finish after their accumulators were
    # collected log a benign stack trace per task; results are unaffected
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.scheduler.DAGScheduler", jvm.org.apache.logging.log4j.Level.FATAL
    )
    return spark


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(jvm_pid: int) -> float:
    """High-water RSS of the driver JVM plus this Python process."""
    return _vm_hwm_mb(jvm_pid) + _vm_hwm_mb("self")


def per_layer(wl, tracer) -> dict:
    """Per-layer figures over the traced passes, as means per pass."""
    from perfbench.trace import COUNTERS, union_length

    traced = [p for p in wl.passes if p.traced]
    n = len(traced)
    out = {k: 0.0 for k in per_layer_units()}
    unit_ids = {tracer.spans.index(p.span) for p in traced}
    for i, s in enumerate(tracer.spans):
        if s.kind != "call" or s.parent not in unit_ids:
            continue
        L = s.layer
        out[f"{L}.calls"] += 1
        out[f"{L}.busy_s"] += s.seconds
        out[f"{L}.self_s"] += tracer.self_seconds(i)
        out[f"{L}.driver_s"] += s.seconds - union_length(s.stage_windows, s.start, s.end)
        out[f"{L}.failed"] += s.failed + s.counters.get("failed_jobs", 0)
        for c in COUNTERS:
            out[f"{L}.{c}"] += s.counters.get(c, 0)
        for b in tracer.children(i):
            out["streaming.batches"] += 1
            for c in ("add_batch_s", "offset_s", "commit_s"):
                out[f"streaming.{c}"] += b.counters[c]
    audits = [p.facts["audit"] for p in traced if "audit" in p.facts]
    for p in traced:
        out["streaming.state_bytes"] += p.facts.get("state_bytes", 0)
    for a in audits:
        out["streaming.rows_fetched"] += a["fetched"]
        out["streaming.rows_inserted"] += a["inserted"]
        out["streaming.quarantined"] += a["quarantined"]
    out = {k: v / n for k, v in out.items()}
    fetched = sum(a["fetched"] for a in audits)
    out["streaming.dedup_ratio"] = sum(a["skipped"] for a in audits) / fetched if fetched else 0.0
    # the first pass is left out: without a warm-up pass in set-up it is cold
    plain = [p.seconds for p in wl.passes[1:] if not p.traced]
    out["trace.overhead_ratio"] = (
        statistics.median(p.seconds for p in traced) / statistics.median(plain) - 1
    )
    return out


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _env(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _session(work)
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark, with_counters=bool(args.trace))
        wl = WORKLOADS[args.workload](spark, tracer, work, args.seed)
        with tracer.span(args.workload, "run"):
            wl.prepare()
            wl.measure(args.seconds, bool(args.trace))
        rss = peak_rss_mb(wl.jvm_pid)
        if args.trace:
            values = per_layer(wl, tracer)
            units = per_layer_units()
        else:
            values = wl.end_to_end(rss)
            units = E2E_UNITS
        detail = wl.detail()
        detail.update({"workload": args.workload, "seed": args.seed, "errors": wl.errors[:20],
                       "session_s": session_s, "peak_rss_mb": rss,
                       "setup_wall_s": session_s + sum(wl.setup_parts.values())})
        result = {
            "correct": wl.failed == 0,
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
        }
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
                  "w") as f:
            json.dump({"result": result, "detail": detail,
                       "spans": tracer.dump()}, f, indent=1, default=str)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still be using it
            os.rmdir(os.path.dirname(work))
    print("detail: " + json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
