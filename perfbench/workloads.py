"""The three closed-loop workloads: each op calls a public entry point of
the library, collects the answer, and knows how to check it.

One client issues ops in a fixed cyclic order; the next op starts only
after the previous one returned and was checked.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
from typing import Callable, NamedTuple

import pyspark.sql.functions as F

from perfbench import stats
from perfbench.checks import Checker

HLL_P = 15
CONV_HLL_P = 12
CM_WIDTH, CM_DEPTH = 4096, 5
DD_ALPHA = 0.01


class Op(NamedTuple):
    kind: str
    #: runs the op and returns its collected answer
    run: Callable[[], object]
    #: checks an answer against the exact answers
    check: Callable[[object, Checker], None]
    #: answers of ops with the same key must be identical within a run
    key: tuple
    #: input turns the op reads (counted by turns_per_s)
    turns: int
    #: turns an update folds into a table
    folded: int = 0


def _iso(v) -> str:
    return v.isoformat() if isinstance(v, (dt.date, dt.datetime)) else str(v)


def _check_keys(chk: Checker, what: str, got: set, want: set) -> None:
    if got != want:
        chk.fail(f"{what}: {len(got ^ want)} keys differ "
                 f"(e.g. {sorted(got ^ want, key=str)[:3]})")


class Workload:
    #: op kinds that count towards query_p50_s
    query_kinds: tuple[str, ...] = ()
    #: op kinds whose turns and time make turns_per_s
    scan_kinds: tuple[str, ...] = ()
    #: the replay microbenchmark's grouping and HLL value column
    replay_keys: tuple[str, ...] = ()
    replay_col = ""
    replay_p = HLL_P

    def __init__(self, spark, inputs, work_dir: str):
        self.spark = spark
        self.inputs = inputs
        self.oracle = inputs.oracle
        self.work_dir = work_dir
        self.df = spark.read.parquet(inputs.table)

    def cycle(self, stream: str, fams) -> list[Op]:
        """The next cycle's ops on ``stream`` (the traced run keeps one
        stream per family kind, so each compares with its twin)."""
        raise NotImplementedError

    def op_class_report(self, ops: list[dict]) -> list:
        """Extra ``(name, value, unit)`` report lines for measured ops."""
        return []

    def table_bytes(self, stream: str) -> dict:
        """Versions, version bytes and log bytes of the tables ``stream``
        wrote."""
        return {"incremental.versions": 0, "incremental.version_bytes": 0,
                "incremental.log_bytes": 0}

    def close(self) -> None:
        pass


class RollupScan(Workload):
    """Few keys over wide values: decode, hashing and update dominate."""

    query_kinds = scan_kinds = ("hll_role_day", "hll_text", "multi_role")
    replay_keys = ("role",)
    replay_col = "text"

    def cycle(self, stream, fams):
        from zetasketch_spark.operators.agg import hll_count_distinct, sketch_agg
        from zetasketch_spark.operators.fastscan import (
            multi_sketch_agg_rdd, sketch_agg_rdd)

        o, path, n = self.oracle, self.inputs.table, self.oracle["n_turns"]

        def role_day():
            return sketch_agg_rdd(
                self.spark, path, ["role", "day"], "conv_id", fams.hll(HLL_P),
                derived_keys={"day": ("to_date", "ts")}).collect()

        def check_role_day(rows, chk):
            _check_keys(chk, "role_day", {f"{r.role}|{_iso(r.day)}" for r in rows},
                        set(o["role_day"]))
            for r in rows:
                want = o["role_day"].get(f"{r.role}|{_iso(r.day)}")
                if want:
                    chk.hll(f"({r.role}, {r.day})", r.estimate, want[0], HLL_P)
                    chk.exact(f"({r.role}, {r.day}) rows", r.rows_seen, want[1])

        def text():
            if fams.traced:
                # hll_count_distinct is sketch_agg over an HllFamily plus
                # a rename; the traced family goes through the same call
                return sketch_agg(self.df, ["role"], "text", fams.hll(HLL_P)) \
                    .withColumnRenamed("estimate", "approx_distinct").collect()
            return hll_count_distinct(self.df, ["role"], "text", HLL_P).collect()

        def check_text(rows, chk):
            _check_keys(chk, "text", {r.role for r in rows}, set(o["role"]))
            for r in rows:
                if r.role in o["role"]:
                    u, x, _, rows_n = o["role"][r.role]
                    chk.hll(f"text {r.role}", r.approx_distinct, x, HLL_P)
                    chk.exact(f"text {r.role} rows", r.rows_seen, rows_n)

        def multi():
            return multi_sketch_agg_rdd(self.spark, path, ["role"], {
                "users": ("conv_id", fams.hll(HLL_P)),
                "tools": ("tool", fams.countmin(CM_WIDTH, CM_DEPTH, o["tools"])),
                "len": (("length", "text"), fams.ddsketch(DD_ALPHA)),
            }).collect()

        def check_multi(rows, chk):
            _check_keys(chk, "multi", {r.role for r in rows}, set(o["role"]))
            for r in rows:
                if r.role not in o["role"]:
                    continue
                u, _, tools, rows_n = o["role"][r.role]
                chk.exact(f"multi {r.role} rows", r.rows_seen, rows_n)
                chk.hll(f"users {r.role}", r.users_estimate, u, HLL_P)
                chk.exact(f"tools {r.role} total", r.tools_total, tools)
                counts = o["role_tool"].get(r.role, {})
                points = json.loads(r.tools_points)
                chk.exact(f"tools {r.role} points", len(points), len(o["tools"]))
                for tool, est in zip(o["tools"], points):
                    chk.countmin(f"tool {tool!r} in {r.role}", est,
                                 counts.get(tool, 0), tools, CM_WIDTH)
                chk.ddsketch(f"len {r.role}", [r.len_q50, r.len_q90, r.len_q99],
                             r.len_n, o["role_len"][r.role], (0.5, 0.9, 0.99),
                             DD_ALPHA)

        return [Op("hll_role_day", role_day, check_role_day, ("hll_role_day",), n),
                Op("hll_text", text, check_text, ("hll_text",), n),
                Op("multi_role", multi, check_multi, ("multi_role",), n)]


class PerConvKeys(Workload):
    """Many keys over a narrow, mostly-null column: grouping, per-group
    state work, shuffle and result extraction dominate."""

    query_kinds = scan_kinds = ("rdd", "dataframe")
    replay_keys = ("conv_id",)
    replay_col = "tool"
    replay_p = CONV_HLL_P

    def cycle(self, stream, fams):
        from zetasketch_spark.operators.agg import hll_count_distinct, sketch_agg
        from zetasketch_spark.operators.fastscan import sketch_agg_rdd

        o, n = self.oracle, self.oracle["n_turns"]

        def rdd():
            return [(r.conv_id, r.rows_seen, r.estimate) for r in sketch_agg_rdd(
                self.spark, self.inputs.table, ["conv_id"], "tool",
                fams.hll(CONV_HLL_P)).collect()]

        def frame():
            if fams.traced:
                out = sketch_agg(self.df, ["conv_id"], "tool",
                                 fams.hll(CONV_HLL_P))
            else:
                out = hll_count_distinct(self.df, ["conv_id"], "tool",
                                         CONV_HLL_P).withColumnRenamed(
                                             "approx_distinct", "estimate")
            return [(r.conv_id, r.rows_seen, r.estimate) for r in out.collect()]

        def check(rows, chk):
            _check_keys(chk, "conv", {r[0] for r in rows}, set(o["conv_tools"]))
            for conv, rows_seen, est in rows:
                want = o["conv_tools"].get(conv)
                if want:
                    chk.hll(f"tools of {conv}", est, want[0], CONV_HLL_P)
                    chk.exact(f"{conv} rows", rows_seen, want[1])

        return [Op("rdd", rdd, check, ("rdd",), n),
                Op("dataframe", frame, check, ("dataframe",), n)]


class SketchTableWorkload(Workload):
    """A SketchTable folded day by day while it is read: JVM<->Python
    crossings, job scheduling, driver gaps and state writes dominate."""

    query_kinds = ("results", "rollup", "rollup_7d", "sql_merge", "adhoc")
    #: both read the whole table: the day filter is applied after the
    #: parquet decode, so a delta costs a full scan
    scan_kinds = ("update", "adhoc")
    replay_keys = ("role", "day")
    replay_col = "conv_id"

    def __init__(self, spark, inputs, work_dir):
        super().__init__(spark, inputs, work_dir)
        from zetasketch_spark.functions.sketch_udfs import register_sql

        register_sql(spark)
        self.by_day = self.df.withColumn("day", F.to_date("ts"))
        self.tables: dict[str, object] = {}
        self.folded: dict[str, int] = {}
        #: (stream, path) of every table opened
        self.opened: list[tuple[str, str]] = []

    def _table(self, stream, fams):
        from zetasketch_spark.operators.incremental import SketchTable

        days = self.oracle["update_days"]
        if stream not in self.tables or self.folded[stream] == len(days):
            path = os.path.join(self.work_dir, f"table-{len(self.opened)}")
            self.opened.append((stream, path))
            self.tables[stream] = SketchTable(path, ["role", "day"], "conv_id",
                                              fams.hll(HLL_P))
            self.folded[stream] = 0
        return self.tables[stream]

    def cycle(self, stream, fams):
        o, spark = self.oracle, self.spark
        st = self._table(stream, fams)
        k = self.folded[stream]
        self.folded[stream] = k + 1
        days = o["update_days"]
        day = dt.date.fromisoformat(days[k])
        folded = set(days[:k + 1])
        delta = self.by_day.filter(F.col("day") == F.lit(day))
        want_keys = {rd for rd in o["role_day"] if rd.split("|")[1] in folded}
        window = o["windows"][str(k + 1)]

        def update():
            res = st.update(spark, delta)
            return (res["applied"], res["n_keys"])

        def check_update(ans, chk):
            chk.exact(f"update day {days[k]}", ans, (True, len(want_keys)))

        def results():
            return [(r.role, _iso(r.day), r.rows_seen, r.estimate)
                    for r in st.results(spark).collect()]

        def check_results(rows, chk):
            _check_keys(chk, "results", {f"{r}|{d}" for r, d, _, _ in rows},
                        want_keys)
            for role, d, rows_seen, est in rows:
                want = o["role_day"].get(f"{role}|{d}")
                if want:
                    chk.hll(f"({role}, {d})", est, want[0], HLL_P)
                    chk.exact(f"({role}, {d}) rows", rows_seen, want[1])

        def rollup():
            return [(r.role, r.estimate)
                    for r in st.rollup(spark, ["role"]).collect()]

        def rollup_7d():
            since = day - dt.timedelta(days=6)
            return [(r.role, r.estimate) for r in st.rollup(
                spark, ["role"], where=F.col("day") >= F.lit(since)).collect()]

        def sql_merge():
            st.read(spark).createOrReplaceTempView("bench_snapshot")
            return [(r.role, r.u) for r in spark.sql(
                "SELECT role, hll_estimate(hll_merge_agg(sketch)) AS u "
                "FROM bench_snapshot GROUP BY role").collect()]

        def adhoc():
            delta.createOrReplaceTempView("bench_delta")
            return [(r.role, r.u) for r in spark.sql(
                "SELECT role, hll_estimate(hll_init_agg(conv_id, 15, "
                "typeof(conv_id))) AS u FROM bench_delta GROUP BY role"
            ).collect()]

        def by_role(what, column):
            def check(rows, chk):
                _check_keys(chk, what, {r for r, _ in rows}, set(window))
                for role, est in rows:
                    if role in window:
                        chk.hll(f"{what} {role}", est, window[role][column], HLL_P)
            return check

        def check_adhoc(rows, chk):
            want = {rd.split("|")[0]: v[0] for rd, v in o["role_day"].items()
                    if rd.split("|")[1] == days[k]}
            _check_keys(chk, "adhoc", {r for r, _ in rows}, set(want))
            for role, est in rows:
                if role in want:
                    chk.hll(f"adhoc {role}", est, want[role], HLL_P)

        n = o["n_turns"]
        return [
            Op("update", update, check_update, ("update", k), n,
               folded=o["day_turns"][days[k]]),
            Op("results", results, check_results, ("results", k), 0),
            Op("rollup", rollup, by_role("rollup", 0), ("rollup", k), 0),
            Op("rollup_7d", rollup_7d, by_role("rollup_7d", 1), ("rollup_7d", k), 0),
            Op("sql_merge", sql_merge, by_role("sql_merge", 0), ("sql_merge", k), 0),
            Op("adhoc", adhoc, check_adhoc, ("adhoc", k), n),
        ]

    def op_class_report(self, ops):
        def med(kinds):
            return stats.kind_median({k: [o["wall"] for o in ops
                                          if o["kind"] == k] for k in kinds})

        updates = [o for o in ops if o["kind"] == "update"]
        return [("update_p50_s", med(["update"]), "s"),
                ("delta_turns_per_s", sum(o["folded"] for o in updates)
                 / sum(o["wall"] for o in updates), "1/s"),
                ("read_p50_s", med(self.query_kinds[:-1]), "s"),
                ("adhoc_p50_s", med(["adhoc"]), "s")]

    def table_bytes(self, stream):
        versions = version_bytes = log_bytes = 0
        for _, path in (t for t in self.opened if t[0] == stream):
            for name in os.listdir(path):
                full = os.path.join(path, name)
                if name == "snapshots.jsonl":
                    log_bytes += os.path.getsize(full)
                elif os.path.isdir(full) and name.startswith("v"):
                    versions += 1
                    for dirpath, _, files in os.walk(full):
                        version_bytes += sum(
                            os.path.getsize(os.path.join(dirpath, f))
                            for f in files if f.endswith(".parquet"))
        return {"incremental.versions": versions,
                "incremental.version_bytes": version_bytes,
                "incremental.log_bytes": log_bytes}

    def close(self) -> None:
        for _, path in self.opened:
            shutil.rmtree(path, ignore_errors=True)


WORKLOADS = {
    "rollup_scan": RollupScan,
    "per_conv_keys": PerConvKeys,
    "sketch_table": SketchTableWorkload,
}
