"""Traced run plumbing: sketch families that time their own calls, the
Spark event-log parser, and the per-layer attribution of op wall time.

Spans come from three places and share the op id (the Spark job group):

* the op itself, timed by the runner (the root span);
* jobs, stages and tasks, read back from Spark's event log;
* kernel calls inside tasks, timed by the ``Traced*`` families below and
  shipped back through a dict accumulator keyed by task attempt id.

Nothing here changes library code: the families subclass the library's
own and only wrap each call with a clock.
"""

from __future__ import annotations

import json
import os
import time

import pandas as pd
from pyspark.accumulators import AccumulatorParam

from zetasketch_spark.sketches.base import HllFamily, SketchFamily
from zetasketch_spark.sketches.countmin import CountMinFamily
from zetasketch_spark.sketches.ddsketch import DDSketchFamily

#: physical-plan nodes that hand rows to a Python worker
PYTHON_NODES = frozenset({
    "MapInArrow", "MapInPandas", "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas", "ArrowEvalPython", "BatchEvalPython",
    "ArrowAggregatePython", "AggregateInPandas", "ArrowWindowPython",
    "WindowInPandas",
})


class DictSum(AccumulatorParam):
    """Accumulates ``{key: (ns, calls, rows, bytes)}`` by element-wise sum."""

    def zero(self, value):
        return {}

    def addInPlace(self, acc, other):
        for k, v in other.items():
            cur = acc.get(k)
            acc[k] = v if cur is None else tuple(a + b for a, b in zip(cur, v))
        return acc


def _task_id() -> int:
    from pyspark import TaskContext

    ctx = TaskContext.get()
    return ctx.taskAttemptId() if ctx is not None else -1


def _rows(x) -> int:
    try:
        return len(x)
    except TypeError:
        return 0


class TracedMixin:
    """Times every SketchFamily call into a dict accumulator.

    Keys are ``(task attempt id, family name, call)``; values are
    ``(ns, calls, rows, bytes)``. The accumulator is an underscore
    attribute so ``SketchTable``'s family identity ignores it."""

    def __init__(self, trace, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self._trace = trace

    def _note(self, call: str, t0: int, rows: int = 0, nbytes: int = 0):
        ns = time.perf_counter_ns() - t0
        self._trace.add({(_task_id(), self.name, call): (ns, 1, rows, nbytes)})

    def prepare_arrow(self, arr):
        t0 = time.perf_counter_ns()
        out = super().prepare_arrow(arr)
        self._note("prepare", t0, len(arr))
        return out

    def update_prepared(self, state, prepared_slice):
        if type(self)._generic_update_prepared():
            # the base class routes to self.update, which is timed below
            return super().update_prepared(state, prepared_slice)
        t0 = time.perf_counter_ns()
        out = super().update_prepared(state, prepared_slice)
        self._note("update", t0, _rows(prepared_slice))
        return out

    @classmethod
    def _generic_update_prepared(cls) -> bool:
        for base in cls.__mro__[1:]:
            if base is TracedMixin:
                continue
            if "update_prepared" in vars(base):
                return base is SketchFamily
        return True

    def update(self, state, values):
        t0 = time.perf_counter_ns()
        out = super().update(state, values)
        self._note("update", t0, _rows(values))
        return out

    def serialize(self, state):
        t0 = time.perf_counter_ns()
        out = super().serialize(state)
        self._note("serialize", t0, nbytes=len(out))
        return out

    def deserialize(self, data):
        t0 = time.perf_counter_ns()
        out = super().deserialize(data)
        self._note("deserialize", t0, nbytes=len(data))
        return out

    def merge(self, a, b):
        t0 = time.perf_counter_ns()
        out = super().merge(a, b)
        self._note("merge", t0)
        return out

    def result(self, state):
        t0 = time.perf_counter_ns()
        out = super().result(state)
        self._note("result", t0)
        return out


class TracedHll(TracedMixin, HllFamily):
    pass


class CountMinPoints(CountMinFamily):
    """The library's Count-Min family, whose result also gives the point
    estimate of every key in ``points`` (a JSON list in ``points``
    order), so the estimates can be checked and not only the total."""

    result_fields = [*CountMinFamily.result_fields, ("points", "string")]

    def __init__(self, points, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.points = list(points)

    def result(self, state):
        est = state.point_query_series(pd.Series(self.points, dtype=object))
        return (*super().result(state), json.dumps([int(x) for x in est]))


class TracedCountMin(TracedMixin, CountMinPoints):
    pass


class TracedDDSketch(TracedMixin, DDSketchFamily):
    pass


class Families:
    """Builds the families an op uses: the library's own, or the traced
    subclasses feeding ``trace`` when it is set."""

    def __init__(self, trace=None):
        self.trace = trace

    @property
    def traced(self) -> bool:
        return self.trace is not None

    def hll(self, precision: int) -> HllFamily:
        if self.trace is None:
            return HllFamily(precision=precision)
        return TracedHll(self.trace, precision=precision)

    def countmin(self, width: int, depth: int, points) -> CountMinPoints:
        if self.trace is None:
            return CountMinPoints(points, width=width, depth=depth)
        return TracedCountMin(self.trace, points, width=width, depth=depth)

    def ddsketch(self, alpha: float) -> DDSketchFamily:
        if self.trace is None:
            return DDSketchFamily(alpha=alpha)
        return TracedDDSketch(self.trace, alpha=alpha)


# -- event log -----------------------------------------------------------


class EventLog:
    """Jobs, stages, tasks and SQL plans of one Spark application."""

    def __init__(self):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        #: execution id -> node names of its last (final) physical plan
        self.plans: dict[int, list[str]] = {}
        self.exec_group: dict[int, str] = {}


def _plan_nodes(info: dict) -> list[str]:
    out, todo = [], [info]
    while todo:
        node = todo.pop()
        out.append(node.get("nodeName", ""))
        todo.extend(node.get("children", []))
    return out


def parse_event_log(path: str) -> EventLog:
    """Parse one uncompressed, non-rolling event log file."""
    log = EventLog()
    with open(path) as f:
        for line in f:
            _apply(log, json.loads(line))
    return log


def _apply(log: EventLog, e: dict) -> None:
    kind = e["Event"].rsplit(".", 1)[-1]
    if kind == "SparkListenerJobStart":
        props = e.get("Properties") or {}
        jid = e["Job ID"]
        log.jobs[jid] = {"start": e["Submission Time"], "end": None,
                         "group": props.get("spark.jobGroup.id"),
                         "exec": int(props["spark.sql.execution.id"])
                         if "spark.sql.execution.id" in props else None,
                         "ok": None}
        for sid in e.get("Stage IDs", []):
            log.stage_job.setdefault(sid, jid)
    elif kind == "SparkListenerJobEnd":
        job = log.jobs.get(e["Job ID"])
        if job is not None:
            job["end"] = e["Completion Time"]
            job["ok"] = e["Job Result"]["Result"] == "JobSucceeded"
    elif kind == "SparkListenerTaskEnd":
        info = e["Task Info"]
        m = e.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        log.tasks.append({
            "id": info["Task ID"], "stage": e["Stage ID"],
            "launch": info["Launch Time"], "finish": info["Finish Time"],
            "failed": bool(info.get("Failed")) or bool(info.get("Killed")),
            "run_ms": m.get("Executor Run Time", 0),
            "cpu_ns": m.get("Executor CPU Time", 0),
            "deser_ms": m.get("Executor Deserialize Time", 0),
            "result_ser_ms": m.get("Result Serialization Time", 0),
            "getting_ms": info.get("Getting Result Time", 0),
            "sw_bytes": sw.get("Shuffle Bytes Written", 0),
            "sw_ns": sw.get("Shuffle Write Time", 0),
            "sr_bytes": sr.get("Remote Bytes Read", 0)
            + sr.get("Local Bytes Read", 0),
            "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
        })
    elif kind in ("SparkListenerSQLExecutionStart",
                  "SparkListenerSQLAdaptiveExecutionUpdate"):
        if "sparkPlanInfo" in e:
            log.plans[e["executionId"]] = _plan_nodes(e["sparkPlanInfo"])
        if kind == "SparkListenerSQLExecutionStart" and e.get("jobGroupId"):
            log.exec_group[e["executionId"]] = e["jobGroupId"]


def find_app_log(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if app_id in name and not name.endswith(".inprogress"):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no finished event log for {app_id} in {log_dir}")


# -- attribution ---------------------------------------------------------


def _union_ms(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def op_layers(op: dict, log: EventLog, kernel: dict, cores: int) -> dict:
    """Spark counters and slot-second self times of one op.

    ``op`` has ``id``, ``start`` and ``end`` (epoch seconds) and
    ``gc_ms``, the JVM's garbage-collection time during it. ``kernel``
    maps ``(task id, family, call)`` to ``(ns, calls, rows, bytes)``.
    The op holds ``wall * cores`` slot-seconds; they split exactly into

    * ``driver``: wall time no job covers, times the cores it leaves idle;
    * ``spark``: slots idle inside jobs, plus task time outside the
      executor's run time (deserialize, scheduler delay, result send);
    * ``hashing`` and ``sketches.<family>``: the traced kernel calls;
    * ``unattributed``: the rest of the tasks' run time (parquet decode,
      grouping, Python worker I/O, JVM operators).
    """
    lo_ms, hi_ms = op["start"] * 1000, op["end"] * 1000
    wall = op["end"] - op["start"]
    job_ids = {jid for jid, j in log.jobs.items() if j["group"] == op["id"]}
    jobs = [log.jobs[jid] for jid in job_ids]
    covered = _union_ms(
        (max(lo_ms, j["start"]), min(hi_ms, j["end"] if j["end"] else hi_ms))
        for j in jobs if j["start"] < hi_ms) / 1000
    covered = min(covered, wall)
    stages = {sid for sid, jid in log.stage_job.items() if jid in job_ids}
    tasks = [t for t in log.tasks if t["stage"] in stages]
    task_ids = {t["id"] for t in tasks}
    out = {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.failed_tasks": sum(t["failed"] for t in tasks),
        "spark.task_run_s": sum(t["run_ms"] for t in tasks) / 1000,
        "spark.task_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "spark.task_deser_s": sum(t["deser_ms"] for t in tasks) / 1000,
        "spark.sched_delay_s": sum(_sched_delay_ms(t) for t in tasks) / 1000,
        "spark.gc_s": op.get("gc_ms", 0) / 1000,
        "spark.shuffle_write_bytes": sum(t["sw_bytes"] for t in tasks),
        "spark.shuffle_read_bytes": sum(t["sr_bytes"] for t in tasks),
        "spark.shuffle_io_s": sum(t["sw_ns"] for t in tasks) / 1e9
        + sum(t["fetch_wait_ms"] for t in tasks) / 1000,
        "spark.driver_gap_s": wall - covered,
    }
    out["spark.slot_busy_frac"] = out["spark.task_run_s"] / (wall * cores)
    execs = {j["exec"] for j in jobs if j["exec"] is not None}
    execs |= {x for x, g in log.exec_group.items() if g == op["id"]}
    nodes = [n for x in execs for n in log.plans.get(x, [])]
    out["agg.python_crossings"] = sum(n in PYTHON_NODES for n in nodes)
    out["agg.exchanges"] = sum(n == "Exchange" for n in nodes)

    calls: dict[str, list] = {}
    for (tid, fam, call), (ns, n, rows, nbytes) in kernel.items():
        if tid in task_ids:
            acc = calls.setdefault(f"{fam}.{call}", [0, 0, 0, 0])
            for i, v in enumerate((ns, n, rows, nbytes)):
                acc[i] += v
    out["kernel"] = calls
    task_s = sum(t["finish"] - t["launch"] for t in tasks) / 1000
    run_s = out["spark.task_run_s"]
    hashing = sum(v[0] for k, v in calls.items() if k.endswith(".prepare")) / 1e9
    fam_self: dict[str, float] = {}
    for k, v in calls.items():
        fam, call = k.split(".")
        if call != "prepare":
            fam_self[f"sketches.{fam}"] = fam_self.get(f"sketches.{fam}", 0.0) \
                + v[0] / 1e9
    kernel_s = hashing + sum(fam_self.values())
    self_s = {
        "driver": (wall - covered) * cores,
        "spark": max(0.0, covered * cores - task_s) + max(0.0, task_s - run_s),
        "hashing": hashing,
        **fam_self,
        "unattributed": max(0.0, run_s - kernel_s),
    }
    out["self_s"] = self_s
    out["slot_s"] = wall * cores
    return out


def _sched_delay_ms(t: dict) -> float:
    """The Spark UI's scheduler delay: task duration not spent running,
    deserializing, serializing the result or fetching it."""
    return max(0, (t["finish"] - t["launch"]) - t["run_ms"] - t["deser_ms"]
               - t["result_ser_ms"] - t["getting_ms"])
