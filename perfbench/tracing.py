"""Measurement from outside the engine: spans, Spark's status store,
streaming progress events and /proc readings.

Nothing here reaches into the engine.  Spans are recorded by the
benchmark around its own calls into the engine's modules; job and stage
facts come from Spark's status store (populated with the UI disabled),
read once at the end of the run and attributed to ops by time window;
streaming facts come from a ``StreamingQueryListener``.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


# -- /proc -------------------------------------------------------------------


def proc_field(pid: int, path: str, key: str) -> int:
    """Integer field ``key`` of /proc/<pid>/<path> (status: kB values)."""
    with open(f"/proc/{pid}/{path}") as f:
        for line in f:
            if line.startswith(key):
                return int(line.split(":", 1)[1].split()[0])
    raise KeyError(f"{key} not in /proc/{pid}/{path}")


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies of the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7]


class HostSampler:
    """Steal share and 1-minute load across an interval."""

    def __init__(self) -> None:
        self.j0 = cpu_jiffies()
        self.loads = [os.getloadavg()[0]]

    def sample(self) -> None:
        self.loads.append(os.getloadavg()[0])

    def summary(self) -> dict:
        total, steal = cpu_jiffies()
        dt = total - self.j0[0]
        self.sample()
        return {
            "cpu_steal_pct": round(100.0 * (steal - self.j0[1]) / dt, 3) if dt else 0.0,
            "load1_start": round(self.loads[0], 2),
            "load1_max": round(max(self.loads), 2),
            "load1_end": round(self.loads[-1], 2),
        }


# -- spans -------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.  Disabled, ``span`` costs one branch.
    ``cost`` accumulates the time spent in the recorder itself."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.cost = 0.0
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        c0 = time.perf_counter()
        sp = Span(name, time.time(), parent=self._stack[-1] if self._stack else None,
                  run_id=self.run_id)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        self.cost += time.perf_counter() - c0
        try:
            yield sp
        finally:
            sp.end = time.time()
            c1 = time.perf_counter()
            self._stack.pop()
            self.cost += time.perf_counter() - c1

    def total(self, name: str) -> float:
        return sum(s.dur for s in self.spans if s.name == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                [
                    {"id": i, "name": s.name, "start": s.start, "end": s.end,
                     "parent": s.parent, "run_id": s.run_id}
                    for i, s in enumerate(self.spans)
                ],
                f,
            )


# -- Spark status store --------------------------------------------------------


def _mapper(spark):
    jvm = spark._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_mod, "MODULE$"))
    return mapper


def status_snapshot(spark) -> tuple[list[dict], list[dict]]:
    """(jobs, stages) of the live application, as JSON dicts, in two
    gateway round trips."""
    store = spark.sparkContext._jsc.sc().statusStore()
    mapper = _mapper(spark)
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    no_quantiles = spark.sparkContext._gateway.new_array(spark._jvm.double, 0)
    stages = store.stageList(
        None, False, False, no_quantiles, spark._jvm.java.util.ArrayList()
    )
    return jobs, json.loads(mapper.writeValueAsString(stages))


MB = 1024.0 * 1024.0

#: per-op Spark facts, summed over the stages of the jobs an op ran
SPARK_SUMS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_mb": ("shuffleReadBytes", 1 / MB),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / MB),
    "input_mb": ("inputBytes", 1 / MB),
    "output_mb": ("outputBytes", 1 / MB),
    "failed_tasks": ("numFailedTasks", 1),
    "tasks": ("numTasks", 1),
}


def attribute(
    jobs: list[dict],
    stages: list[dict],
    windows: list[tuple[float, float]],
    lo: float,
    hi: float,
):
    """Assign each job to the op window its submission falls in.

    Returns (per_op, attributed_run_ms, total_run_ms) where ``per_op`` is
    a list (one dict per window) of jobs, stages, the SPARK_SUMS facts
    and ``job_covered_s`` (op wall covered by at least one job), and the
    two totals cover every job submitted inside [lo, hi] (epoch seconds)
    — the share attributed to a named op is their ratio.  Jobs of stream
    threads that drop job groups are caught too: attribution is by time.
    """
    by_stage = {s["stageId"]: s for s in stages if s.get("status") in ("COMPLETE", "FAILED")}
    per_op = [
        {"jobs": 0, "stages": 0, "spill_mb": 0.0, "job_covered_s": 0.0,
         **{k: 0.0 for k in SPARK_SUMS}, "_iv": []}
        for _ in windows
    ]
    lo, hi = lo * 1000, hi * 1000
    seen: set[int] = set()
    attributed = total = 0.0
    for job in jobs:
        sub = job.get("submissionTime")
        if sub is None:
            continue
        idx = next(
            (i for i, (a, b) in enumerate(windows) if a * 1000 - 1 <= sub <= b * 1000 + 1),
            None,
        )
        run_ms = 0.0
        for sid in job.get("stageIds", ()):
            st = by_stage.get(sid)
            if st is None or sid in seen:
                continue
            seen.add(sid)
            run_ms += st.get("executorRunTime", 0)
            if idx is not None:
                rec = per_op[idx]
                rec["stages"] += 1
                for k, (src, scale) in SPARK_SUMS.items():
                    rec[k] += st.get(src, 0) * scale
                rec["spill_mb"] += (st.get("memoryBytesSpilled", 0)
                                    + st.get("diskBytesSpilled", 0)) / MB
        if lo - 1 <= sub <= hi + 1:
            total += run_ms
            if idx is not None:
                attributed += run_ms
        if idx is not None:
            rec = per_op[idx]
            rec["jobs"] += 1
            end = job.get("completionTime") or windows[idx][1] * 1000
            rec["_iv"].append((sub / 1000, end / 1000))
    for (a, b), rec in zip(windows, per_op):
        rec["job_covered_s"] = _covered(rec.pop("_iv"), a, b)
    return per_op, attributed, total


def _covered(intervals, a: float, b: float) -> float:
    """Length of the union of ``intervals`` clipped to [a, b]."""
    out, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, a), min(e, b)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                out += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        out += cur_e - cur_s
    return out


# -- streaming progress ----------------------------------------------------------

PROGRESS_KEYS = {
    "trigger_ms": "triggerExecution",
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "latest_offset_ms": "latestOffset",
}


def progress_listener(sink: list):
    """A StreamingQueryListener appending one dict per micro-batch
    progress event to ``sink``, with the time the callback itself took."""
    from pyspark.sql.streaming import StreamingQueryListener

    lock = threading.Lock()

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            c0 = time.perf_counter()
            p = event.progress
            rec = {k: float(p.durationMs.get(v, 0)) for k, v in PROGRESS_KEYS.items()}
            rec["state_rows"] = float(sum(s.numRowsTotal for s in p.stateOperators))
            rec["input_rows"] = float(p.numInputRows)
            rec["at"] = time.time()
            rec["cost"] = time.perf_counter() - c0
            with lock:
                sink.append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()
