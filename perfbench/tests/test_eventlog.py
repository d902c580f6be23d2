"""The event-log parser and the per-op attribution, against a trimmed
event log recorded from a local[4] session that ran three ops under job
groups: op-1 an RDD-fabric ``sketch_agg_rdd``, op-2 a ``SketchTable``
update (mapInArrow + applyInPandas, then a count), op-3 a rollup."""

import os

import pytest

from perfbench.tracing import op_layers, parse_event_log

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog.jsonl")


@pytest.fixture(scope="module")
def log():
    return parse_event_log(FIXTURE)


def _op(log, group, pad_ms=100):
    jobs = [j for j in log.jobs.values() if j["group"] == group]
    return {"id": group, "start": (min(j["start"] for j in jobs) - pad_ms) / 1000,
            "end": (max(j["end"] for j in jobs) + pad_ms) / 1000, "gc_ms": 7}


def test_jobs_groups_and_sql_links(log):
    groups = [j["group"] for _, j in sorted(log.jobs.items())]
    assert groups == ["op-1"] + ["op-2"] * 6 + ["op-3"] * 3
    assert all(j["ok"] for j in log.jobs.values())
    assert log.exec_group == {0: "op-1", 1: "op-2", 2: "op-2", 3: "op-3"}
    assert len(log.tasks) == 20


def test_python_crossings_and_exchanges(log):
    per_op = {g: op_layers(_op(log, g), log, {}, cores=4)
              for g in ("op-1", "op-2", "op-3")}
    # the RDD fabric plans no Python node; the update crosses twice
    # (MapInArrow, FlatMapGroupsInPandas), the rollup twice
    # (FlatMapGroupsInPandas, ArrowEvalPython)
    assert [per_op[g]["agg.python_crossings"] for g in ("op-1", "op-2", "op-3")] \
        == [0, 2, 2]
    assert [per_op[g]["agg.exchanges"] for g in ("op-1", "op-2", "op-3")] \
        == [0, 2, 1]
    assert [per_op[g]["spark.jobs"] for g in ("op-1", "op-2", "op-3")] == [1, 6, 3]


def test_driver_gap_is_wall_not_covered_by_jobs(log):
    op = _op(log, "op-1", pad_ms=250)
    lay = op_layers(op, log, {}, cores=4)
    assert lay["spark.driver_gap_s"] == pytest.approx(0.5)
    assert lay["spark.gc_s"] == pytest.approx(0.007)


def test_self_times_split_the_op_slot_time(log):
    op = _op(log, "op-1")
    stage_tasks = [t for t in log.tasks if t["stage"] in (0, 1)]
    kernel = {(stage_tasks[0]["id"], "hll", "prepare"): (200_000_000, 1, 100, 0),
              (stage_tasks[0]["id"], "hll", "update"): (300_000_000, 3, 100, 0),
              (10_000, "hll", "update"): (999, 1, 1, 0)}  # another op's task
    lay = op_layers(op, log, kernel, cores=4)
    assert lay["kernel"] == {"hll.prepare": [200_000_000, 1, 100, 0],
                             "hll.update": [300_000_000, 3, 100, 0]}
    assert lay["self_s"]["hashing"] == pytest.approx(0.2)
    assert lay["self_s"]["sketches.hll"] == pytest.approx(0.3)
    assert sum(lay["self_s"].values()) == pytest.approx(lay["slot_s"])
    assert lay["spark.tasks"] == len(stage_tasks)
    assert 0 < lay["spark.slot_busy_frac"] <= 1
