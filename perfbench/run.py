#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 8 --trace 0

Run from the root of a checkout; the package is imported from there and
every file the run writes stays under ``perfbench/_work/``.

``--trace 0`` measures the end-to-end metrics with tracing off:

0. inputs: each (seed, size, dim) entry is generated once and cached, by
   ``inputs.py`` in a child process that starts no JVM and has ended before
   the measured session starts.  Not timed.
1. set-up (timed as ``setup_s``): Spark session start, input fixture
   presence check, for ``serve`` the model fit, and the workload's
   ``warmup_passes`` untimed passes.
2. timed passes until ``--seconds`` of pass time is spent (at least one).
   Each pass is timed from the call to the completed sink, with the CPU
   seconds and peak RSS of the whole process tree (driver, JVM, Python
   workers) read from /proc.
3. each pass's output is checked outside its timed window; a pass that
   raises or fails its check counts in ``failed``.

``--trace 1`` gives the per-layer metrics instead: set-up, the workload's
prefix floors, one untraced pass, then one traced pass with a span around
every call into a layer and the Spark event log tying each job to its span.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it, prefixed ``perfbench-info``, records the input size and
the pinned settings.  The exit code is 0 only if every pass was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "_work")

#: settings every run pins, whatever the caller's environment says
MASTER = "local[4]"
PINNED_ENV = {
    "SPARK_DRIVER_MEMORY": "2g",
    "SPARK_GRAFT_COALESCE": "true",   # AQE post-shuffle coalesce (default)
    "SPARK_GRAFT_SHUFFLE": "32",      # spark.sql.shuffle.partitions (default)
    "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
    "TMPDIR": os.path.join(WORK, "tmp"),
}

END_TO_END = {
    "turns_per_s": "turns/s",
    "cpu_s_per_mturn": "s/Mturn",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "sink_bytes_per_turn": "B/turn",
}

PER_LAYER = {
    "session.start_s": "s",
    "sources.scan.self_s": "s",
    "sources.scan.records_read_per_turn": "ratio",
    "operators.self_s": "s",
    "operators.cpu_s": "s",
    "operators.shuffle_write_bytes": "B",
    "operators.spill_bytes": "B",
    "operators.gc_s": "s",
    "functions.moments.self_s": "s",
    "functions.moments.cpu_s": "s",
    "functions.moments.python_run_s": "s",
    "functions.moments.python_sent_bytes": "B",
    "functions.moments.result_bytes": "B",
    "functions.pca.fit_s": "s",
    "functions.pca.project_self_s": "s",
    "functions.pca.project_cpu_s": "s",
    "functions.pca.python_run_s": "s",
    "functions.pca.python_start_s": "s",
    "functions.pca.python_sent_bytes": "B",
    "functions.pca.python_returned_bytes": "B",
    "plans.windowed_pca.fit_self_s": "s",
    "plans.windowed_pca.project_self_s": "s",
    "plans.windowed_pca.shuffle_write_bytes": "B",
    "plans.checkpoint.self_s": "s",
    "plans.checkpoint.spark_jobs": "count",
    "sources.sink.self_s": "s",
    "sources.sink.bytes_written": "B",
    "sources.sink.files_written": "count",
    "spark_jobs": "count",
    "spark_tasks": "count",
    "traced_wall_s": "s",
    "unattributed_s": "s",
    "tracing_overhead_s": "s",
}

#: event-log counters kept per floor (besides wall_s and cpu_s)
COUNTERS = ("jobs", "tasks", "executor_cpu_s", "gc_s", "result_bytes",
            "spill_bytes", "shuffle_write_bytes", "records_read",
            "python_run_ms", "python_start_ms", "python_sent_bytes",
            "python_returned_bytes")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["flagship", "serve"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full",
                   help="input size; 'tiny' is the smoke-test size")
    return p.parse_args(argv)


def pin_env() -> None:
    os.environ.update(PINNED_ENV)
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(os.environ[key], exist_ok=True)
    tempfile.tempdir = os.environ["TMPDIR"]
    heap = PINNED_ENV["SPARK_DRIVER_MEMORY"]
    # session.py's default driver options plus a JVM temp dir in the work dir
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-Xms{heap} -XX:+AlwaysPreTouch "
        f"-Djava.io.tmpdir={os.environ['TMPDIR']}")
    # Python workers are forked by the JVM: a sys.path entry in this process
    # never reaches them, the environment does
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def start_session(app: str, event_dir: str | None):
    from featureextraction_jl_spark.session import get_spark

    confs = {"spark.ui.showConsoleProgress": "false",
             "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse")}
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": event_dir,
                      "spark.eventLog.compress": "false"})
    return get_spark(app, master=MASTER, extra_confs=confs)


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until no process we started is left."""
    from pyspark import SparkContext

    from perfbench.procstat import tree_pids

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    me = os.getpid()
    deadline = time.monotonic() + 30
    while True:
        left = [p for p in tree_pids(me) if p != me]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def timed_pass(wl, out_dir: str) -> dict:
    """One pass from call to completed sink, then its output check."""
    from perfbench.inputs import data_bytes
    from perfbench.procstat import PeakMemory, host_cpu_ticks, tree_cpu_s

    me = os.getpid()
    rec = {"ok": False}
    start = time.perf_counter()
    try:
        cpu0, (steal0, ticks0) = tree_cpu_s(me), host_cpu_ticks()
        with PeakMemory(me) as rss:
            t0 = time.perf_counter()
            wl.run_pass(out_dir)
            rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = tree_cpu_s(me) - cpu0 - rss.cpu_s
        steal1, ticks1 = host_cpu_ticks()
        rec["steal_frac"] = (steal1 - steal0) / max(1, ticks1 - ticks0)
        rec["peak_rss"] = rss.peak
        rec["sink_files"], rec["sink_bytes"] = data_bytes(out_dir)
        rec["problems"] = wl.check(out_dir)
        rec["ok"] = not rec["problems"]
    except Exception as e:  # a raising pass is a failed attempt
        traceback.print_exc()
        rec["problems"] = [f"{type(e).__name__}: {e}"]
    rec["elapsed_s"] = time.perf_counter() - start
    for p in rec["problems"]:
        print(f"perfbench: {wl.name} pass failed: {p}", file=sys.stderr)
    return rec


def end_to_end(wl, passes: list[dict], setup_s: float) -> dict:
    good = [p for p in passes if p["ok"]]
    if not good:
        return {}
    turns, med = wl.turns, statistics.median
    return {
        "turns_per_s": med([turns / p["wall_s"] for p in good]),
        "cpu_s_per_mturn": med([p["cpu_s"] / turns * 1e6 for p in good]),
        "setup_s": setup_s,
        "peak_rss_mb": max(p["peak_rss"] for p in good) / 2**20,
        "sink_bytes_per_turn": med([p["sink_bytes"] / turns for p in good]),
    }


def floor_metrics(tracer, counters, span, cpu_s) -> dict:
    from perfbench.tracing import sum_groups

    got = sum_groups(counters, [s["id"] for s in tracer.descendants(span["id"])])
    return {"wall_s": span["end"] - span["start"], "cpu_s": cpu_s,
            **{k: got.get(k, 0.0) for k in COUNTERS}}


def per_layer(wl, session_s: float, untraced: dict, traced: dict,
              fold: dict, covered_s: float) -> dict:
    """Every PER_LAYER metric.  A layer the workload does not use reads 0,
    and the overhead and remainder are differences that can be negative."""
    m = {k: 0.0 for k in PER_LAYER}
    m.update(fold)
    m.update({
        "session.start_s": session_s,
        "sources.scan.records_read_per_turn":
            traced["counters"].get("records_read", 0) / wl.turns,
        "sources.sink.bytes_written": traced["sink_bytes"],
        "sources.sink.files_written": traced["sink_files"],
        "spark_jobs": traced["counters"].get("jobs", 0),
        "spark_tasks": traced["counters"].get("tasks", 0),
        "traced_wall_s": traced["wall_s"],
        "unattributed_s": traced["wall_s"] - covered_s,
        "tracing_overhead_s": traced["wall_s"] - untraced["wall_s"],
    })
    return m


def traced_run(wl, spark, run_id: str, run_dir: str, event_dir: str,
               session_s: float) -> tuple[list[dict], dict]:
    """Floors, then an untraced and a traced pass back to back (so JIT
    warm-up drifts little between the two); returns (passes, per-layer)."""
    from perfbench.inputs import data_bytes
    from perfbench.procstat import tree_cpu_s
    from perfbench.tracing import Tracer, patched, read_event_log, sum_groups

    me = os.getpid()
    tracer = Tracer(spark.sparkContext, run_id)
    floor_spans, floor_cpu = {}, {}
    with patched(tracer):
        for name, fn in wl.floors():
            floor_out = os.path.join(run_dir, f"floor_{name}")
            cpu0 = tree_cpu_s(me)
            with tracer.span(f"floor:{name}") as span:
                fn(floor_out)
            floor_cpu[name] = tree_cpu_s(me) - cpu0
            floor_spans[name] = span
            shutil.rmtree(floor_out, ignore_errors=True)

    untraced = timed_pass(wl, os.path.join(run_dir, "untraced"))
    shutil.rmtree(os.path.join(run_dir, "untraced"), ignore_errors=True)
    traced_out = os.path.join(run_dir, "traced")
    with patched(tracer):
        root = wl.traced_pass(tracer, traced_out)
    try:
        problems = wl.check(traced_out)
    except Exception as e:  # a failed check, reported like timed_pass does
        traceback.print_exc()
        problems = [f"{type(e).__name__}: {e}"]
    for p in problems:
        print(f"perfbench: traced pass failed: {p}", file=sys.stderr)
    traced = {"ok": not problems, "problems": problems,
              "wall_s": root["end"] - root["start"],
              "spans": tracer.descendants(root["id"])}
    traced["sink_files"], traced["sink_bytes"] = data_bytes(traced_out)
    shutil.rmtree(traced_out, ignore_errors=True)

    stop_session(spark)  # flushes and closes the event log
    counters = read_event_log(event_dir)
    traced["counters"] = sum_groups(counters, [s["id"] for s in traced["spans"]])
    f = {name: floor_metrics(tracer, counters, span, floor_cpu[name])
         for name, span in floor_spans.items()}
    traced["floor_spans"] = {name: tracer.descendants(span["id"])
                             for name, span in floor_spans.items()}
    fold, covered_s = wl.fold(f, traced)
    with open(os.path.join(WORK, "traces", f"{run_id}.json"), "w") as fh:
        json.dump({"spans": tracer.spans, "job_groups": counters,
                   "floors": f}, fh)
    shutil.rmtree(event_dir, ignore_errors=True)
    layers = per_layer(wl, session_s, untraced, traced, fold, covered_s) \
        if untraced["ok"] else {}
    return [untraced, traced], layers


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import featureextraction_jl_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from perfbench.inputs import ensure_inputs
    from perfbench.workloads import WORKLOADS

    pin_env()
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", run_id)
    event_dir = os.path.join(WORK, "eventlog", run_id) if args.trace else None
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)

    wl = WORKLOADS[args.workload](args.seed)
    t0 = time.perf_counter()
    tables, generated = ensure_inputs(os.path.join(WORK, "cache"), wl.needs(),
                                      args.size)
    prepare_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = start_session(f"perfbench-{args.workload}", event_dir)
    session_s = time.perf_counter() - t0
    stopped = False
    try:
        wl.attach(spark, tables)
        t0 = time.perf_counter()
        wl.setup(os.path.join(run_dir, "warmup"))
        setup_s = session_s + time.perf_counter() - t0

        if args.trace:
            passes, metrics = traced_run(wl, spark, run_id, run_dir,
                                         event_dir, session_s)
            stopped = True
            units = PER_LAYER
        else:
            passes = []
            # pass time counts toward --seconds; a pass that raised before
            # finishing counts its elapsed time, so failures cannot spin
            while not passes or sum(p.get("wall_s", p["elapsed_s"])
                                    for p in passes) < args.seconds:
                out_dir = os.path.join(run_dir, f"pass{len(passes)}")
                passes.append(timed_pass(wl, out_dir))
                shutil.rmtree(out_dir, ignore_errors=True)
            metrics = end_to_end(wl, passes, setup_s)
            units = END_TO_END
    finally:
        if not stopped:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = sum(1 for p in passes if not p["ok"])
    data = wl.data
    info = {"workload": args.workload, "seed": args.seed,
            "turns": data["turns"], "conversations": data["conversations"],
            "mega_turns": data["mega_turns"], "snap_dim": data["snap_dim"],
            "input_bytes": data["input_bytes"],
            "inputs_generated": generated,
            "prepare_s": round(prepare_s, 3), "session_s": round(session_s, 3),
            "master": MASTER,
            "driver_memory": PINNED_ENV["SPARK_DRIVER_MEMORY"],
            "aqe_coalesce": PINNED_ENV["SPARK_GRAFT_COALESCE"],
            "shuffle_partitions": PINNED_ENV["SPARK_GRAFT_SHUFFLE"],
            "pass_wall_s": [round(p["wall_s"], 3) for p in passes
                            if "wall_s" in p],
            "pass_cpu_s": [round(p["cpu_s"], 2) for p in passes
                           if "cpu_s" in p],
            "pass_steal_frac": [round(p["steal_frac"], 3) for p in passes
                                if "steal_frac" in p],
            **wl.info}
    print("perfbench-info " + json.dumps(info))
    print(json.dumps({
        "correct": failed == 0 and bool(metrics),
        "attempted": len(passes),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units if k in metrics},
    }))
    return 0 if failed == 0 and metrics else 1


if __name__ == "__main__":
    sys.exit(main())
