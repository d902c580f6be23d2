"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload rollup_scan --seed 42 --seconds 8 --trace 0

Run from the root of a checkout. The runner builds (or reuses) the seeded
transcripts table and its exact answers, sets up the Spark session twice,
each time on a freshly launched JVM, runs two warm-up cycles of the
workload, then issues the workload's ops in a closed loop for
``--seconds`` seconds. Every answer is checked.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` measures for
half the time untraced, then on a fresh JVM with Spark's event log on runs
traced cycles for the other half, and prints the per-layer metrics. The
last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. A fuller record of each run, spans included,
goes to ``perfbench/results/<workload>/``.
"""

from __future__ import annotations

import argparse
import hashlib
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: set-ups per run, each on a freshly launched JVM (about 7 s each on a
#: 4-core VM: three would not fit the runs into the benchmark's time)
SETUPS = 2
MIN_CYCLES = 2
#: unmeasured cycles before the measured ones: on a fresh JVM the first
#: cycle took 2.5 times as long as later ones and the second about 10 %
#: longer; from the third on, cycle times stayed within the run-to-run
#: noise over 45 s of cycles
WARM_CYCLES = 2

END_TO_END = {
    "setup_s": "s",
    "turns_per_s": "1/s",
    "query_p50_s": "s",
    "peak_rss_mb": "MB",
}

_FAMILIES = ("hll", "countmin", "ddsketch")
PER_LAYER = {
    "session.start_s": "s",
    "fastscan.plan_splits_s": "s",
    "fastscan.splits": "count",
    "fastscan.decode_ns_per_row": "ns",
    "hashing.prepare_s": "s",
    "hashing.prepare_calls": "count",
    "hashing.ns_per_row": "ns",
    "hashing.memcpy_ns_per_row": "ns",
    "grouping.ns_per_row": "ns",
    "grouping.groups": "count",
    "sketches.update_s": "s",
    "sketches.update_calls": "count",
    "sketches.serialize_s": "s",
    "sketches.serialize_calls": "count",
    "sketches.state_bytes": "bytes",
    "sketches.deserialize_s": "s",
    "sketches.deserialize_calls": "count",
    "sketches.merge_calls": "count",
    "sketches.result_s": "s",
    "sketches.result_calls": "count",
    **{f"{f}.{m}": u for f in _FAMILIES for m, u in (
        ("update_ns_per_row", "ns"), ("update_ns_per_call", "ns"),
        ("serialize_ns_per_call", "ns"), ("deserialize_ns_per_call", "ns"),
        ("merge_ns_per_call", "ns"), ("result_ns_per_call", "ns"),
        ("state_bytes", "bytes"))},
    "countmin.prepare_ns_per_row": "ns",
    "ddsketch.prepare_ns_per_row": "ns",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.task_deser_s": "s",
    "spark.sched_delay_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_io_s": "s",
    "spark.slot_busy_frac": "ratio",
    "spark.driver_gap_s": "s",
    "agg.python_crossings": "count",
    "agg.exchanges": "count",
    "incremental.versions": "count",
    "incremental.version_bytes": "bytes",
    "incremental.log_bytes": "bytes",
    "trace.cycles": "count",
    "trace.unattributed_frac": "ratio",
    "trace.overhead_frac": "ratio",
    "verify.max_rel_error": "ratio",
}
#: per-layer metrics summed over a traced cycle's ops
_PER_CYCLE = [k for k in PER_LAYER if k.startswith(("spark.", "agg."))
              and k != "spark.slot_busy_frac"]


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=8)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _digest(answer) -> str:
    if isinstance(answer, list):
        answer = sorted(answer, key=repr)
    return hashlib.sha1(repr(answer).encode()).hexdigest()


def _warm(spark, inputs) -> None:
    """Import the library in every Python worker and read the whole table
    once, one task per file."""
    def read_all(files):
        import pyarrow.parquet as pq

        import zetasketch_spark.operators.agg  # noqa: F401
        import zetasketch_spark.operators.fastscan  # noqa: F401
        import zetasketch_spark.operators.grouping  # noqa: F401

        for f in files:
            yield pq.ParquetFile(f).read(use_threads=False).num_rows

    files = inputs.files()
    n = sum(spark.sparkContext.parallelize(files, len(files))
            .mapPartitions(read_all).collect())
    if n != inputs.n_turns:
        raise RuntimeError(f"warm-up read {n} turns, expected {inputs.n_turns}")


def _stop_jvm() -> None:
    """Stop the gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Session:
    """One Spark session at a time, each on a JVM of its own, so every
    set-up pays the JVM launch a user's first ``get_spark`` pays."""

    def __init__(self, inputs, cores: int):
        self.inputs = inputs
        self.cores = cores
        self.spark = None

    def launch(self, event_log_dir: str | None = None) -> tuple[float, float]:
        """Stop the current session and its JVM, then set up anew:
        ``get_spark`` and the warm-up. Returns the seconds ``get_spark``
        took and the seconds the whole set-up took."""
        from zetasketch_spark.session import get_spark

        self.stop()
        # spark-submit reads the event-log settings when it launches the
        # JVM; get_spark takes no extra config
        submit = []
        if event_log_dir is not None:
            submit += [
                "--conf spark.eventLog.enabled=true",
                "--conf " + shlex.quote(f"spark.eventLog.dir=file://{event_log_dir}"),
                "--conf spark.eventLog.compress=false",
                "--conf spark.eventLog.rolling.enabled=false"]
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
        t0 = time.perf_counter()
        self.spark = get_spark(cpus=self.cores)
        t1 = time.perf_counter()
        _warm(self.spark, self.inputs)
        return t1 - t0, time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        _stop_jvm()


class Loop:
    """The closed-loop client: runs cycles, times and checks every op."""

    def __init__(self):
        self.wl = self.sc = None
        self.traced_run = False
        self.ops: list[dict] = []
        self.answers: dict[tuple, str] = {}
        self.failures: list[str] = []
        self.max_rel_error = 0.0
        self.attempted = 0
        self.failed = 0
        self.mismatches = 0
        self.cycles: dict[str, int] = {}

    def phase(self, workload, spark, traced_run: bool) -> None:
        """Issue the next ops to ``workload`` on ``spark``; answers are
        still compared with the earlier phases' answers."""
        self.wl = workload
        self.sc = spark.sparkContext
        #: the traced phase sets one job group per op and reads JVM GC time
        self.traced_run = traced_run

    def cycle(self, stream: str, fams, measured: bool) -> None:
        from perfbench.checks import Checker

        self.cycles[stream] = self.cycles.get(stream, 0) + 1
        for op in self.wl.cycle(stream, fams):
            op_id = f"op-{len(self.ops)}"
            if self.traced_run:
                self.sc.setJobGroup(op_id, op.kind)
            chk = Checker()
            gc0 = self._gc_ms()
            start = time.time()
            t0 = time.perf_counter()
            try:
                answer = op.run()
            except Exception:
                answer = None
                chk.fail(f"{op.kind} raised:\n{traceback.format_exc()}")
            wall = time.perf_counter() - t0
            end = time.time()
            gc_ms = self._gc_ms() - gc0
            if answer is not None:
                op.check(answer, chk)
                digest = _digest(answer)
                seen = self.answers.setdefault(op.key, digest)
                if seen != digest:
                    self.mismatches += 1
                    chk.fail(f"{op.kind} {op.key}: answer differs from the "
                             f"same op's earlier answer in this run")
            self.attempted += 1
            self.failed += bool(chk.failures)
            self.failures += chk.failures[:10]
            self.max_rel_error = max(self.max_rel_error, chk.max_rel_error)
            self.ops.append({"id": op_id, "kind": op.kind, "stream": stream,
                             "measured": measured, "start": start, "end": end,
                             "wall": wall, "turns": op.turns,
                             "folded": op.folded, "gc_ms": gc_ms,
                             "ok": not chk.failures})

    def _gc_ms(self) -> int:
        """Collection time of the JVM's garbage collectors so far (the
        driver JVM runs the executor too), read only in traced runs."""
        if not self.traced_run:
            return 0
        beans = self.sc._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans)


def _e2e(loop, workload, streams, setup_times, cycle_peaks) -> dict:
    from perfbench import stats

    ops = [o for o in loop.ops if o["measured"] and o["stream"] in streams]
    samples = {k: [o["wall"] for o in ops if o["kind"] == k]
               for k in workload.query_kinds}
    # one median cycle: the median turns and the median wall of each
    # scanning op kind
    scans = {k: [o for o in ops if o["kind"] == k] for k in workload.scan_kinds}
    out = {
        "setup_s": statistics.median(setup_times),
        "turns_per_s": stats.turns_per_s(
            sum(statistics.median(o["turns"] for o in v) for v in scans.values()),
            sum(statistics.median(o["wall"] for o in v) for v in scans.values())),
        "query_p50_s": stats.kind_median(samples),
    }
    if cycle_peaks:
        # the median cycle's peak: the JVM's heap grows at moments that
        # vary from run to run, so the run's single highest sample does not
        # repeat
        out["peak_rss_mb"] = statistics.median(cycle_peaks) / 1e6
    return out


def _kind_medians(ops, stream) -> dict:
    kinds: dict[str, list] = {}
    for o in ops:
        if o["measured"] and o["stream"] == stream:
            kinds.setdefault(o["kind"], []).append(o["wall"])
    return {k: statistics.median(v) for k, v in kinds.items()}


def _per_layer(loop, log, kernel, cores, session_start_s, replayed):
    from perfbench.tracing import op_layers

    traced = [o for o in loop.ops if o["stream"] == "traced"]
    n_cycles = loop.cycles["traced"]
    layers = [op_layers(o, log, kernel, cores) for o in traced]
    out = {k: sum(lay[k] for lay in layers) / n_cycles for k in _PER_CYCLE}
    out["spark.slot_busy_frac"] = (sum(lay["spark.task_run_s"] for lay in layers)
                                   / sum(lay["slot_s"] for lay in layers))
    calls: dict[str, list] = {}
    for lay in layers:
        for k, v in lay["kernel"].items():
            acc = calls.setdefault(k.split(".")[1], [0, 0, 0, 0])
            for i, x in enumerate(v):
                acc[i] += x
    zero = [0, 0, 0, 0]
    prep = calls.get("prepare", zero)
    out["hashing.prepare_s"] = prep[0] / 1e9 / n_cycles
    out["hashing.prepare_calls"] = prep[1] / n_cycles
    for call in ("update", "serialize", "deserialize", "result"):
        c = calls.get(call, zero)
        out[f"sketches.{call}_s"] = c[0] / 1e9 / n_cycles
        out[f"sketches.{call}_calls"] = c[1] / n_cycles
    ser = calls.get("serialize", zero)
    out["sketches.state_bytes"] = ser[3] / ser[1] if ser[1] else 0.0
    out["sketches.merge_calls"] = calls.get("merge", zero)[1] / n_cycles
    self_s: dict[str, float] = {}
    for lay in layers:
        for k, v in lay["self_s"].items():
            self_s[k] = self_s.get(k, 0.0) + v
    slot_s = sum(lay["slot_s"] for lay in layers)
    out["trace.unattributed_frac"] = self_s.get("unattributed", 0.0) / slot_s
    out["trace.cycles"] = n_cycles
    out["session.start_s"] = session_start_s
    out.update(replayed)
    plain = _kind_medians(loop.ops, "plain")
    traced_med = _kind_medians(loop.ops, "traced")
    out["trace.overhead_frac"] = (sum(traced_med.values())
                                  / sum(plain[k] for k in traced_med) - 1)
    out["verify.max_rel_error"] = loop.max_rel_error
    shares = {k: v / slot_s for k, v in self_s.items()}
    return out, shares, layers


def _pooled_tails(results_dir, workload) -> dict:
    """Median and tail of each query kind's op time over every recorded
    untraced run of this workload on the same table size."""
    from perfbench import inputs, stats

    pooled: dict[str, list] = {}
    for name in os.listdir(results_dir):
        try:
            with open(os.path.join(results_dir, name)) as f:
                rec = json.load(f)
        except (OSError, ValueError):
            continue
        if rec.get("trace") != 0 or rec.get("n_turns") != inputs.N_TURNS:
            continue
        for o in rec.get("ops", []):
            if o["measured"] and o["kind"] in workload.query_kinds:
                pooled.setdefault(o["kind"], []).append(o["wall"])
    out = {}
    for k, v in pooled.items():
        t = stats.tail(v)
        out[k] = {"n": len(v), "p50_s": statistics.median(v),
                  "tail": None if t is None else {"p": t[0], "s": t[1]}}
    return out


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, "zetasketch_spark")):
        print(f"no zetasketch_spark package next to {HERE}; run from the "
              f"root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from perfbench import box, inputs

    args = parse_args(argv)
    t_start = time.perf_counter()
    cores = box.nproc()
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    work_dir = os.path.join(HERE, ".work", f"{os.getpid()}-{stamp}")
    results_dir = os.path.join(HERE, "results", args.workload)
    os.makedirs(work_dir)
    os.makedirs(results_dir, exist_ok=True)
    # keep every temporary file of this run (Python, DuckDB, the JVM,
    # Spark's shuffle and block files) inside the run's work directory;
    # -XX:-UsePerfData: a JVM writes its perf counters under /tmp otherwise
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = shlex.join(
        [f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"])

    solo = box.solo()
    cache = os.path.join(HERE, ".cache")
    made = subprocess.run(
        [sys.executable, "-m", "perfbench.inputs", cache, str(args.seed)],
        cwd=ROOT, check=True, capture_output=True, text=True, timeout=170)
    prep = json.loads(made.stdout.strip().splitlines()[-1])
    inp, _ = inputs.prepare(cache, args.seed)
    timeline = {"prepare_s": time.perf_counter() - t_start}

    session = Session(inp, cores)
    try:
        starts, setups = [], []
        for _ in range(SETUPS):
            start_s, setup_s = session.launch()
            starts.append(start_s)
            setups.append(setup_s)
        timeline["setups_s"] = sum(setups)
        result = _measure(args, session, inp, cores, starts, setups, work_dir,
                          results_dir, prep, solo, stamp, timeline)
    finally:
        t_stop = time.perf_counter()
        session.stop()
        shutil.rmtree(work_dir, ignore_errors=True)
    print(f"# stop {time.perf_counter() - t_stop:.1f} s, whole run "
          f"{time.perf_counter() - t_start:.1f} s")
    print(json.dumps(result))
    return 0


def _closed_loop(loop, workload, spark, stream, fams, seconds, timeline,
                 traced_run=False):
    """Warm up on ``workload``, then run whole ``stream`` cycles for about
    ``seconds``; returns the RSS sampler of the measured cycles."""
    from perfbench import box
    from perfbench.tracing import Families

    loop.phase(workload, spark, traced_run)
    t0 = time.perf_counter()
    for _ in range(WARM_CYCLES):
        loop.cycle("warm", Families(), measured=False)
    timeline[f"{stream}_warmup_s"] = time.perf_counter() - t0
    # a full collection lets the JVM return the heap set-up and warm-up
    # grew, so the measured cycles' RSS reflects their own allocations
    spark.sparkContext._jvm.System.gc()
    t0 = time.perf_counter()
    n = 0
    with box.TreeSampler() as sampler:
        # whole cycles only, as many as fit the measuring time best: one
        # more while it would end less than half a cycle past it
        while True:
            t_cycle = time.perf_counter()
            loop.cycle(stream, fams, measured=True)
            sampler.mark()
            n += 1
            now = time.perf_counter()
            if n >= MIN_CYCLES and now + (now - t_cycle) / 2 - t0 > seconds:
                break
    timeline[f"{stream}_measured_s"] = time.perf_counter() - t0
    return sampler


def _measure(args, session, inp, cores, starts, setups, work_dir,
             results_dir, prep, solo, stamp, timeline) -> dict:
    from perfbench import box, tracing
    from perfbench.workloads import WORKLOADS

    loop = Loop()
    # untraced: the run's last set-up session, no event log
    seconds = args.seconds / 2 if args.trace else args.seconds
    workload = WORKLOADS[args.workload](session.spark, inp, work_dir)
    sampler = _closed_loop(loop, workload, session.spark, "plain",
                           tracing.Families(), seconds, timeline)
    workload.close()
    solo = solo and sampler.solo and box.solo()
    e2e = _e2e(loop, workload, {"plain"}, setups, sampler.window_peaks)

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "stamp": stamp, "n_turns": inp.n_turns,
        "table_bytes": inp.table_bytes, "table_files": len(inp.files()),
        "nproc": cores, "versions": box.versions(), "contended": not solo,
        "prep": prep, "setup_s": setups, "session_start_s": starts,
        "timeline": timeline, "rss_samples": sampler.samples,
        "peak_rss": sampler.peak_rss, "peak_rss_parts": sampler.peak_parts,
        "cycle_peak_rss": sampler.window_peaks, "end_to_end": e2e,
    }
    if args.trace:
        # traced: a fresh session with the event log on, traced families
        # and one job group per op
        log_dir = os.path.join(work_dir, "eventlog")
        os.makedirs(log_dir)
        session.launch(event_log_dir=log_dir)
        workload = WORKLOADS[args.workload](session.spark, inp, work_dir)
        traced = tracing.Families(
            session.spark.sparkContext.accumulator({}, tracing.DictSum()))
        sampler = _closed_loop(loop, workload, session.spark, "traced",
                               traced, seconds, timeline, traced_run=True)
        tables = workload.table_bytes("traced")
        workload.close()
        record["contended"] |= not (sampler.solo and box.solo())
        t0 = time.perf_counter()
        metrics = _trace_report(loop, session, inp, workload, cores, starts,
                                setups, e2e, traced, log_dir, tables, record)
        timeline["trace_post_s"] = time.perf_counter() - t0
        report = [(k, metrics[k], PER_LAYER[k]) for k in PER_LAYER]
        result_metrics = {k: {"value": metrics[k], "unit": PER_LAYER[k]}
                          for k in PER_LAYER}
    else:
        record["ops"] = loop.ops
        report = [(k, e2e[k], u) for k, u in END_TO_END.items()]
        report += workload.op_class_report(
            [o for o in loop.ops if o["measured"] and o["stream"] == "plain"])
        report += [("max_rel_error", loop.max_rel_error, "ratio"),
                   ("failed_ops_frac", loop.failed / loop.attempted, "ratio")]
        result_metrics = {k: {"value": e2e[k], "unit": u}
                          for k, u in END_TO_END.items()}
    record.update({"attempted": loop.attempted, "failed": loop.failed,
                   "failures": loop.failures[:50],
                   "max_rel_error": loop.max_rel_error})

    path = os.path.join(results_dir,
                        f"{stamp}-s{args.seed}-t{args.trace}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump(record, f, default=str)
    print(f"# workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{inp.n_turns} turns, {inp.table_bytes / 2**20:.1f} MiB, "
          f"nproc {cores}, contended {record['contended']}, "
          f"{loop.attempted} ops ({loop.failed} failed), "
          + ", ".join(f"{k} {v:.3g}" for k, v in timeline.items()))
    for name, value, unit in report:
        print(f"{name:<32} {value:>16.6g} {unit}")
    for k, t in sorted(_pooled_tails(results_dir, workload).items()):
        tail = (f"p{t['tail']['p']} {t['tail']['s']:.4f} s" if t["tail"]
                else "no tail yet (<11 samples)")
        print(f"# pooled {k}: n={t['n']} p50 {t['p50_s']:.4f} s, {tail}")
    for fail in loop.failures[:5]:
        print(f"# FAILED: {fail.splitlines()[0]}")
    print(f"# record: {os.path.relpath(path, ROOT)}")
    return {"correct": loop.failed == 0, "attempted": loop.attempted,
            "failed": loop.failed, "metrics": result_metrics}


def _trace_report(loop, session, inp, workload, cores, starts, setups, e2e,
                  traced, log_dir, tables, record) -> dict:
    """Stop the session, read its event log back, replay the kernels, and
    attribute every traced op; prints the summary and fills ``record``."""
    from perfbench import replay, tracing

    kernel = dict(traced.trace.value)
    app_id = session.spark.sparkContext.applicationId
    session.stop()  # flushes the event log
    log = tracing.parse_event_log(tracing.find_app_log(log_dir, app_id))
    replayed = replay.replay(inp.table, workload.replay_keys,
                             workload.replay_col, workload.replay_p)
    metrics, shares, layers = _per_layer(
        loop, log, kernel, cores, statistics.median(starts), replayed)
    metrics.update(tables)
    attributed = {k: v for k, v in shares.items() if k != "unattributed"}
    top = max(attributed, key=attributed.get)
    traced_e2e = _e2e(loop, workload, {"traced"}, setups, None)
    record.update({
        "per_layer": metrics, "self_time_shares": shares, "top_layer": top,
        "trace_answer_mismatches": loop.mismatches,
        "traced_end_to_end": traced_e2e,
        "spans": {"ops": loop.ops, "layers": layers,
                  "kernel": [[*k, *v] for k, v in kernel.items()]},
    })
    print(f"# traced run: {metrics['trace.cycles']:g} traced cycles, "
          f"{loop.mismatches} answers differing from the same op's earlier "
          f"answer (untraced phase included)")
    print(f"# most self time: {top} ({shares[top]:.1%} of op slot time); "
          f"unattributed {shares.get('unattributed', 0):.1%}")
    for k, v in sorted(shares.items(), key=lambda kv: -kv[1]):
        print(f"#   self {k:<20} {v:7.1%}")
    for k in ("query_p50_s", "turns_per_s"):
        print(f"# tracing overhead {k}: traced {traced_e2e[k]:.4f} vs "
              f"untraced {e2e[k]:.4f} ({traced_e2e[k] / e2e[k] - 1:+.1%})")
    return metrics


if __name__ == "__main__":
    sys.exit(main())
