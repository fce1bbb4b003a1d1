#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,analytics} \
        --seed N --seconds S --trace {0,1} [--corrupt] [--sf SF]

Run from the repository root.  Generates the workload's inputs from the
seed, starts the engine's default SparkSession (``get_spark``) and warms
it up untimed, runs the timed phase for S seconds (and on to the
workload's next boundary) as one closed-loop client, checks the outputs
against DuckDB, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` also records spans and streaming
progress, and reports the per-layer metrics and the tracing overhead.
Full results (context included) and spans go to perfbench/out/.
``--corrupt`` damages one output before the check, to show that the
check fails the run; ``--sf`` shrinks the inputs for smoke tests.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC_PATH = os.path.join(ROOT, "BENCHMARK.json")
CORES = 4
TAIL_BEYOND = 10


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true")
    ap.add_argument("--sf", type=float, default=None,
                    help="override the workload's fixture scale (smoke tests)")
    return ap.parse_args(argv)


def tail(latencies: list[float]) -> tuple[float, int]:
    """The highest percentile with at least TAIL_BEYOND samples beyond it,
    when that percentile is at or above the median; with fewer samples
    (under 2 * TAIL_BEYOND + 1) no such percentile exists and the
    maximum is reported.  Returns (value, samples beyond it)."""
    xs = sorted(latencies)
    n = len(xs)
    if n >= 2 * TAIL_BEYOND + 1:
        return xs[n - 1 - TAIL_BEYOND], TAIL_BEYOND
    return xs[-1], 0


def git_commit() -> str:
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


class Bench:
    """Process-wide state of one benchmark run: work dirs, the live
    SparkSession, the tracer."""

    def __init__(self, args) -> None:
        self.seed = args.seed
        self.run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        self.work = os.path.join(HERE, ".work", self.run_id)
        self.out = os.path.join(HERE, "out")
        self.warehouse = os.path.join(self.work, "warehouse")
        self.tmp = os.path.join(self.work, "tmp")
        for d in (self.work, self.tmp, self.out):
            os.makedirs(d, exist_ok=True)
        # every file of the engine, Python and JVM side, stays here
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        # get_spark builds its own SparkSession.Builder, so the benchmark's
        # static confs reach the JVM through spark-submit
        confs = {
            "spark.sql.warehouse.dir": self.warehouse,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
        ) + " pyspark-shell"
        from tracing import Tracer

        self.tracer = Tracer(self.run_id, enabled=False)
        self.spark = None

    def start_session(self) -> float:
        from data_lake_staging_engine_spark.session import (
            fixture_split_bytes,
            get_spark,
        )

        t = time.perf_counter()
        self.spark = get_spark(
            cores=CORES, shuffle_partitions=CORES,
            max_partition_bytes=fixture_split_bytes(),
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t

    def close(self) -> None:
        """Stop the session and the JVM, and wait until the JVM has ended
        (it exits when its stdin, held by this process, closes)."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.ProcessHandle.current().pid())

    def written_bytes(self) -> int:
        from tracing import proc_field

        return sum(proc_field(p, "io", "write_bytes") for p in (os.getpid(), self.jvm_pid()))

    def peak_rss_mb(self) -> tuple[float, float]:
        """VmHWM of the Python driver and of the JVM, in MB."""
        from tracing import proc_field

        return tuple(proc_field(p, "status", "VmHWM") / 1024.0 for p in (os.getpid(), self.jvm_pid()))


def run_phase(bench: Bench, ops_iter, workload, seconds: float, traced: bool):
    """Execute ops until ``seconds`` have passed and the workload is at a
    boundary.  Returns (ops, phase start, phase end, streaming events);
    when traced, a StreamingQueryListener collects the progress events."""
    from tracing import progress_listener

    bench.tracer.enabled = traced
    events: list[dict] = []
    listener = None
    if traced:
        listener = progress_listener(events)
        bench.spark.streams.addListener(listener)
    ops = []
    t0 = time.time()
    deadline = time.perf_counter() + seconds
    try:
        for op in ops_iter:
            with bench.tracer.span(f"op.{op.name}"):
                op.start = time.time()
                try:
                    op.fn()
                except Exception as exc:  # an op that raises counts as failed
                    op.error = f"{type(exc).__name__}: {exc}"
                    traceback.print_exc(file=sys.stderr)
                op.end = time.time()
            ops.append(op)
            if time.perf_counter() >= deadline and workload.done():
                break
    finally:
        if listener is not None:
            bench.spark.streams.removeListener(listener)
        bench.tracer.enabled = False
    return ops, t0, time.time(), events


def e2e_metrics(ops, t0, t1, written: float, setup_s: float) -> dict:
    ok = [o for o in ops if o.error is None]
    lat = [o.wall for o in ok if o.latency] or [float("nan")]
    tail_v, beyond = tail(lat)
    in_bytes = sum(o.in_bytes for o in ok)
    return {
        "setup_s": setup_s,
        "op_gmean_s": statistics.geometric_mean(lat),
        "op_tail_s": tail_v,
        "work_per_s": sum(o.units for o in ok) / (t1 - t0),
        "write_amp": written / in_bytes if in_bytes else float("nan"),
        "_op_samples": len(lat),
        "_tail_beyond": beyond,
    }


def layer_metrics(bench, workload, ops, t0, t1, events, session_start_s) -> dict:
    from tracing import PROGRESS_KEYS, SPARK_SUMS, attribute, status_snapshot

    jobs, stages = status_snapshot(bench.spark)
    per_op, attributed, total = attribute(
        jobs, stages, [(o.start, o.end) for o in ops], t0, t1
    )
    n = max(len(ops), 1)
    wall = sum(o.wall for o in ops)
    out = {
        "session.start_s": session_start_s,
        "spark.jobs": sum(r["jobs"] for r in per_op) / n,
        "spark.stages": sum(r["stages"] for r in per_op) / n,
        "spark.parallelism": sum(r["executor_run_s"] for r in per_op) / wall if wall else 0.0,
        "spark.driver_gap_s": sum(o.wall - r["job_covered_s"] for o, r in zip(ops, per_op)) / n,
        "spark.spill_mb": sum(r["spill_mb"] for r in per_op) / n,
        "spark.attributed_pct": 100.0 * attributed / total if total else 100.0,
        "trace.overhead_s": (bench.tracer.cost + sum(e["cost"] for e in events)) / n,
    }
    for k in SPARK_SUMS:
        out[f"spark.{k}"] = sum(r[k] for r in per_op) / n
    out["streaming.batches"] = float(len(events))
    for k in (*PROGRESS_KEYS, "state_rows"):
        out[f"streaming.{k}"] = (
            statistics.mean(e[k] for e in events) if events else 0.0
        )
    for op, rec in zip(ops, per_op):
        op.spark = rec
    out.update(workload.layers())
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    if HERE not in sys.path:
        sys.path.insert(0, HERE)
    with open(SPEC_PATH) as f:
        spec = json.load(f)
    import workloads
    from tracing import HostSampler

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    host = HostSampler()
    bench = Bench(args)
    wl = workloads.WORKLOADS[args.workload](bench, args.sf)
    t_import = time.perf_counter() - T_PROCESS
    try:
        t = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t

        session_start_s = bench.start_session()
        wl.setup()
        t = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t

        host.sample()
        traced = bool(args.trace)
        w0 = bench.written_bytes()
        # set-up: process start, imports, inputs, JVM and session start,
        # engine set-up and warm-up, up to the first timed op
        setup_s = time.perf_counter() - T_PROCESS
        ops, t0, t1, events = run_phase(bench, wl.ops(), wl, args.seconds, traced)
        written = bench.written_bytes() - w0
        host.sample()
        peak = bench.peak_rss_mb()
        e2e = e2e_metrics(ops, t0, t1, written, setup_s)
        layers = None
        if traced:
            layers = layer_metrics(bench, wl, ops, t0, t1, events, session_start_s)
            layers["process.peak_rss_mb"] = sum(peak)
            bench.tracer.dump(os.path.join(bench.out, f"spans-{bench.run_id}.json"))
        if args.corrupt:
            wl.corrupt()
        t = time.perf_counter()
        errors = wl.check()
        check_s = time.perf_counter() - t
        attempted = len(ops)
        failed = sum(1 for o in ops if o.error is not None)
        context = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "spark.master": bench.spark.sparkContext.master,
            "defaultParallelism": bench.spark.sparkContext.defaultParallelism,
            "nproc": len(os.sched_getaffinity(0)), "sf": wl.sf,
            "git_commit": git_commit(), "import_s": t_import, "gen_s": gen_s,
            "session_start_s": session_start_s, "warmup_s": warmup_s,
            "timed_s": t1 - t0, "check_s": check_s,
            "peak_rss_python_mb": peak[0], "peak_rss_jvm_mb": peak[1],
            "fail_ratio": failed / attempted if attempted else 0.0,
            **host.summary(),
        }
    finally:
        bench.close()
        shutil.rmtree(bench.work, ignore_errors=True)

    if args.trace:
        # a layer the workload bypasses reads 0
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    correct = not errors and failed == 0
    record = {
        "context": context, "errors": errors,
        "end_to_end": e2e,
        "per_layer": layers,
        "ops": [
            {"name": o.name, "start": o.start, "end": o.end, "error": o.error,
             **({"spark": o.spark} if o.spark else {})}
            for o in ops
        ],
    }
    with open(os.path.join(bench.out, f"result-{bench.run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for e in errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
