#!/usr/bin/env python3
"""The repository benchmark: one workload per run, cold, in a fresh process.

    python3 perfbench/run.py --workload bootstrap --seed 0 --seconds 5 --trace 0

Run from the repository root. The workload's inputs are generated from
``--seed``; the run measures for about ``--seconds`` seconds (every
workload also has a minimum amount of work), checks every output, and
prints as its last stdout line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are BENCHMARK.json's ``end_to_end`` list;
with ``--trace 1`` the engine's entry points are wrapped in spans
(perfbench/trace.py) and the metrics are its ``per_layer`` list, and the
spans are written to ``.perfbench_work/trace-<workload>-<seed>.jsonl``.
A human-readable summary line precedes the JSON line.

Everything the run writes lives under ``.perfbench_work/`` in the
repository root and is removed when the run ends (the trace file stays).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_hwm_mb(root_pid: int) -> float:
    """Sum of the resident-set high-water marks (VmHWM) of the live
    process tree: driver Python, the JVM and its Python workers."""
    total_kb = 0
    for pid in process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    # fields: user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user
    return ticks[7], sum(ticks[:8])


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait for every pid to exit; SIGKILL what is left at the deadline."""
    deadline = time.time() + timeout
    while True:
        alive = []
        for pid in pids:
            try:
                os.kill(pid, 0)
                alive.append(pid)
            except ProcessLookupError:
                pass
        for pid in alive:
            try:  # reap our own children; others are reaped by init
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        if not alive:
            return
        if time.time() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.1)


def load_declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
        "workloads": [w["name"] for w in spec["workloads"]],
    }


def parse_args(argv, workloads):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, "npm_search_spark")):
        print("perfbench: the engine package npm_search_spark is not next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    declared = load_declared()
    args = parse_args(argv, declared["workloads"])

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers import the engine and this package from the checkout;
    # every scratch file (Spark local dirs, JVM and Python temp files)
    # stays inside the work directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)

    from perfbench import trace as TR
    from perfbench import workloads as WL

    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if args.trace:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    peak = [0.0]

    def sample_rss():
        peak[0] = max(peak[0], tree_hwm_mb(os.getpid()))

    t0 = time.perf_counter()
    from npm_search_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    jvm = getattr(spark.sparkContext._gateway, "proc", None)

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tracer = TR.Tracer(spark.sparkContext, run_id) if args.trace else TR.NullTracer()
    undo = TR.install(tracer) if args.trace else (lambda: None)
    ctx = WL.Ctx(spark, work, args.seed, args.seconds, tracer, sample_rss)
    ticks0 = cpu_ticks()
    t_run = time.perf_counter()
    try:
        out = WL.WORKLOADS[args.workload](ctx)
    except Exception as exc:  # noqa: BLE001 — report the failed run, then exit cleanly
        import traceback

        traceback.print_exc()
        out = WL.Outcome(attempted=1, failed=1, problems=[f"{type(exc).__name__}: {exc}"])
    measured_s = time.perf_counter() - t_run
    ticks1 = cpu_ticks()
    sample_rss()

    if args.trace:
        undo()
        executions = tracer.resolve()
        layer = TR.layer_metrics(tracer, executions, measured_s)
        layer["process.peak_rss_mb"] = peak[0]
        tracer.write_jsonl(os.path.join(base, f"trace-{args.workload}-{args.seed}.jsonl"))
    children = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    if jvm is not None:
        # the gateway JVM exits when its stdin closes; its Python workers
        # exit with it
        jvm.stdin.close()
    wait_gone(children, timeout=60)
    shutil.rmtree(work, ignore_errors=True)

    attempted = max(out.attempted, 1)
    failed = min(out.failed, attempted)
    if args.trace:
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                   for k, u in declared["per_layer"].items()}
    else:
        e2e = {
            "setup_s": session_s + out.setup_s,
            "docs_per_s": out.docs / out.docs_s if out.docs_s else 0.0,
        }
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in declared["end_to_end"].items()}
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "session_s": round(session_s, 3),
        "error_ratio": failed / attempted, "peak_rss_mb": round(peak[0], 1),
        "measured_s": round(measured_s, 3),
        # CPU time the hypervisor gave to other guests while this run
        # measured: a run with a high share was slowed by its neighbours
        "cpu_steal_share": round((ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1), 3),
        "problems": out.problems, **out.info,
    }
    if args.trace:
        summary["trace_overhead_ratio"] = layer["trace.overhead_ratio"]
    print("perfbench summary: " + json.dumps(summary), flush=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
