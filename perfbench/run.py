"""Benchmark of the medallion DAG and the query registry.

Usage, from the repository root:

    python3 perfbench/run.py --workload dag --seed 1 --seconds 5 --trace 0

Each run is one fresh Python process with one Spark session on
``local[--cpus]``, driven by a single closed-loop client: the next
operation starts when the previous one has returned. The first operation
of a run is its cold operation; the warm ones after it run until
``--seconds`` have passed since the cold one ended. ``setup_s`` is the
time from process start to the first operation, plus any untimed
preparation a workload does between its operations. The last line
of standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The exit code is 1 when an
output check fails or an operation raised.

Everything the run writes (Spark local dirs, warehouse, event log, the
pipeline's lake) goes to ``.bench_work/`` under the repository root and
is removed at the end, except the span file of a traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["dag", "query_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--cpus", type=int, default=4)
    p.add_argument("--driver-memory", default="2g")
    return p.parse_args(argv)


def set_environment(args, work: str) -> None:
    """The explicit environment of every run: Python workers import the
    package from the repository root, Spark gets a fixed core count,
    driver memory, local dirs and an empty conf dir, and the confs that
    ``get_spark`` does not set go through PYSPARK_SUBMIT_ARGS."""
    conf_dir = os.path.join(work, "conf")
    os.makedirs(conf_dir)
    os.environ.pop("SPARK_MASTER", None)
    os.environ.update(
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(args.cpus),
        SPARK_DRIVER_MEMORY=args.driver_memory,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_CONF_DIR=conf_dir,
        SPARK_UI="false",
    )
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if args.trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            # Spark 4.1 writes the log zstd-compressed by default
            "spark.eventLog.compress": "false",
            # the status tracker answers getJobIdsForGroup from these
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in conf.items()
    ) + " pyspark-shell"


class Runner:
    """Times operations; counts attempted and failed ones. An operation
    of phase ``setup`` is untimed preparation that a workload does
    between its timed operations; it counts towards ``setup_s``."""

    def __init__(self, tracer, after_op=None):
        self.tracer = tracer
        self.after_op = after_op
        self.ops: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.first_start: float | None = None

    def __call__(self, name: str, phase: str, fn, units: int = 1) -> bool:
        self.tracer.begin_op(len(self.ops), phase)
        t0 = time.perf_counter()
        if self.first_start is None:
            self.first_start = t0
        try:
            fn()
            ok = True
        except Exception:  # reported as a failed operation, run continues to the report
            traceback.print_exc()
            ok = False
        seconds = time.perf_counter() - t0
        self.attempted += units
        self.failed += 0 if ok else units
        op = {"name": name, "phase": phase, "seconds": seconds, "ok": ok}
        if self.after_op is not None:
            op.update(self.after_op())
        self.ops.append(op)
        print(f"op {name}: {seconds:.3f} s{'' if ok else ' FAILED'}", flush=True)
        return ok

    def seconds(self, phase: str) -> list[float]:
        return [o["seconds"] for o in self.ops if o["phase"] == phase and o["ok"]]

    def setup_s(self) -> float:
        """Process start to the first timed operation, plus the setup
        operations after it."""
        return self.first_start - T_START + sum(self.seconds("setup"))


def parquet_files(path: str | None) -> int:
    if path is None:
        return 0
    return sum(n.endswith(".parquet") for _, _, names in os.walk(path) for n in names)


def jvm_peak_rss_mb(sc) -> float:
    pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM (it exits when its
    stdin closes) and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit, in report order. Both
    workloads report all of them; a layer a workload does not use reads 0."""
    from perfbench import dag, query_mix, trace as tr

    def unit(name: str) -> str:
        return "s" if name.endswith("_s") else "bytes" if name.endswith("_bytes") else "count"

    names = ["session.start_s"] + tr.layer_metric_names()
    names += [f"cold.tier.{t}_s" for t in dag.COLD_TIERS]
    names += [f"warm.tier.{t}_s" for t in dag.WARM_TIERS]
    names += ["cold.files_written", "warm.files_written",
              "cold.ingest.rows", "warm.ingest.rows",
              "cold.transform.build_s", "cold.transform.exec_s",
              "incremental.bootstrap_s", "warm.incremental.build_s",
              "warm.incremental.exec_s", "warm.incremental.trailing_s",
              "incremental.state_rows"]
    for q in query_mix.MIX:
        names += [f"queries.{q}.cold_build_s", f"queries.{q}.cold_exec_s",
                  f"queries.{q}.warm_s"]
    names += ["trace.cold_s", "trace.warm_p50_s", "trace.bookkeeping_s"]
    units = {n: unit(n) for n in names}
    units["session.jvm_peak_rss_mb"] = "MB"
    return units


def per_layer(workload, inputs, runner, tracer, session_s, peak_rss, event_files):
    from perfbench import trace as tr

    units = per_layer_units()
    m = dict.fromkeys(units, 0.0)
    m.update(tr.layer_metrics(tracer.spans, tr.read_event_log(event_files)))
    m["session.start_s"] = session_s
    m["session.jvm_peak_rss_mb"] = peak_rss
    for phase in tr.PHASES:
        m[f"{phase}.files_written"] = statistics.median(
            o["files_added"] for o in runner.ops if o["phase"] == phase)
    m.update(workload.layer_extra(inputs, runner, tracer))
    m["trace.cold_s"] = runner.seconds("cold")[0]
    m["trace.warm_p50_s"] = statistics.median(runner.seconds("warm"))
    m["trace.bookkeeping_s"] = tracer.bookkeeping_s
    undeclared = set(m) - set(units)
    if undeclared:
        raise KeyError(f"per-layer metrics not declared: {sorted(undeclared)}")
    return {k: {"value": m[k], "unit": u} for k, u in units.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # importing the workloads imports the package and pyspark: without
    # them the run fails here, before it writes anything
    from perfbench import dag, query_mix

    workload = {"dag": dag, "query_mix": query_mix}[args.workload]
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    bench_dir = os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench_dir, run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    set_environment(args, work)
    os.chdir(work)
    try:
        return run(args, workload, run_id, work, bench_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def run(args, workload, run_id, work, bench_dir) -> int:
    from defimap_data_pipelines_spark.session import get_spark
    from perfbench.trace import Tracer

    # set-up: one session (the JVM launch with it) and the inputs
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - T_START
    inputs = workload.prepare(spark, args.seed, work)
    tracer = Tracer(run_id, spark.sparkContext if args.trace else None)
    after_op = None
    if args.trace:
        lake, seen = workload.lake(inputs), [0]

        def after_op():
            n = parquet_files(lake)
            added, seen[0] = n - seen[0], n
            return {"files_added": added}

    runner = Runner(tracer, after_op)
    try:
        workload.measure(inputs, tracer, args.seconds, runner)
        fails, facts = ["an operation raised"], {}
        if runner.failed == 0:
            t0 = time.perf_counter()
            fails, facts = workload.check(inputs)
            print(f"checks: {time.perf_counter() - t0:.3f} s", flush=True)
    except Exception:  # a check that raises is a failed check
        traceback.print_exc()
        fails, facts = ["output check raised"], {}
    finally:
        peak_rss = jvm_peak_rss_mb(spark.sparkContext)
        app_id = spark.sparkContext.applicationId
        stop_spark(spark)

    cold, warm = runner.seconds("cold"), runner.seconds("warm")
    correct = not fails and runner.failed == 0 and bool(cold) and bool(warm)
    setup_s = runner.setup_s() if runner.first_start is not None else 0.0
    for f in fails:
        print(f"CHECK FAILED: {f}", flush=True)
    for k, v in facts.items():
        print(f"check {k}: {v}")
    cold_name, warm_name = workload.ALIASES
    print(f"setup_s {setup_s:.4f} s (1 sample; session start with the JVM "
          f"launch: {session_s:.3f} s)")
    if cold:
        print(f"{cold_name} {cold[0]:.4f} s (1 sample)")
    if warm:
        print(f"{warm_name} {statistics.median(warm):.4f} s ({len(warm)} samples)")
    print(f"failed_ratio {runner.failed}/{runner.attempted}")

    metrics = {}
    if correct and not args.trace:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "cold_s": {"value": cold[0], "unit": "s"},
            "warm_p50_s": {"value": statistics.median(warm), "unit": "s"},
        }
    elif correct:
        from perfbench import trace as tr

        traces = os.path.join(bench_dir, "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.write(os.path.join(traces, f"{run_id}.spans.jsonl"))
        metrics = per_layer(workload, inputs, runner, tracer, session_s, peak_rss,
                            tr.event_log_files(os.path.join(work, "events"), app_id))
        print("self time per layer (summed over the run):")
        for phase, layer, s, n in tr.self_time_table(tracer.spans):
            print(f"  {phase:9s} {layer:12s} {s:9.3f} s  {n:5d} spans")
    print(json.dumps({
        "correct": correct,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
