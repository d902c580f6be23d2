"""Kernel replay: the per-split work of the scan fabrics, timed layer by
layer, single-threaded in the driver.

It replays one split that ``fastscan.plan_splits`` planned over the
table: the pyarrow decode, ``prepare_arrow`` (hashing for HLL),
``grouping.arrow_group_indices``, and per group ``update_prepared``,
``serialize``, ``deserialize``, ``merge`` and ``result`` for each family.
A numpy copy of the same value bytes is the memory-bandwidth ceiling.
Each figure is the median over ``reps`` replays.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

FAMILY_COLUMNS = {"countmin": "tool", "ddsketch": ("length", "text")}


def _value(tbl, col):
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(col, tuple):  # ("length", src), as fastscan spells it
        return pc.cast(pc.utf8_length(tbl[col[1]]), pa.float64()).combine_chunks()
    return tbl[col].combine_chunks()


def _keys(tbl, keys):
    import pyarrow as pa
    import pyarrow.compute as pc

    out = {}
    for k in keys:
        if k == "day":
            out[k] = pc.cast(pc.floor_temporal(tbl["ts"], unit="day"), pa.date32())
        else:
            out[k] = tbl[k]
    return out


def _timed(fn, *args):
    t0 = time.perf_counter_ns()
    out = fn(*args)
    return out, time.perf_counter_ns() - t0


def replay_once(table: str, keys, hll_col, families: dict) -> dict:
    import pyarrow.parquet as pq

    from zetasketch_spark.operators import fastscan, grouping

    out = {}
    splits, ns = _timed(fastscan.plan_splits, table)
    out["fastscan.plan_splits_s"] = ns / 1e9
    out["fastscan.splits"] = len(splits)
    f, rgs = splits[0]
    cols = sorted({*(("ts",) if "day" in keys else ()),
                   *(k for k in keys if k != "day"), "text", "tool", hll_col})
    tbl, ns = _timed(lambda: pq.ParquetFile(f).read_row_groups(
        rgs, columns=cols, use_threads=False).combine_chunks())
    rows = tbl.num_rows
    out["fastscan.decode_ns_per_row"] = ns / rows
    karrs = _keys(tbl, keys)
    groups, ns = _timed(grouping.arrow_group_indices, karrs)
    out["grouping.ns_per_row"] = ns / rows
    out["grouping.groups"] = len(groups)

    hll_val = _value(tbl, hll_col)
    data = np.frombuffer(hll_val.buffers()[-1], dtype=np.uint8)
    _, ns = _timed(np.copy, data)
    out["hashing.memcpy_ns_per_row"] = ns / rows

    for name, fam in families.items():
        val = hll_val if name == "hll" else _value(tbl, FAMILY_COLUMNS[name])
        prepared, ns = _timed(fam.prepare_arrow, val)
        if name == "hll":
            out["hashing.ns_per_row"] = ns / rows
        else:
            out[f"{name}.prepare_ns_per_row"] = ns / rows
        states = []
        t_update = 0
        for idx in groups.values():
            state = fam.make()
            _, ns = _timed(fam.update_prepared, state, prepared[idx])
            t_update += ns
            states.append(state)
        blobs, t_ser = [], 0
        for s in states:
            b, ns = _timed(fam.serialize, s)
            t_ser += ns
            blobs.append(b)
        t_de = t_merge = t_res = 0
        for b in blobs:
            a, ns = _timed(fam.deserialize, b)
            t_de += ns
            m, ns = _timed(fam.merge, a, fam.deserialize(b))
            t_merge += ns
            _, ns = _timed(fam.result, m)
            t_res += ns
        n = len(states)
        out[f"{name}.update_ns_per_row"] = t_update / rows
        out[f"{name}.update_ns_per_call"] = t_update / n
        out[f"{name}.serialize_ns_per_call"] = t_ser / n
        out[f"{name}.deserialize_ns_per_call"] = t_de / n
        out[f"{name}.merge_ns_per_call"] = t_merge / n
        out[f"{name}.result_ns_per_call"] = t_res / n
        out[f"{name}.state_bytes"] = sum(len(b) for b in blobs) / n
    return out


def replay(table: str, keys, hll_col, hll_p: int, reps: int = 3) -> dict:
    from zetasketch_spark.sketches.base import HllFamily
    from zetasketch_spark.sketches.countmin import CountMinFamily
    from zetasketch_spark.sketches.ddsketch import DDSketchFamily

    from perfbench.workloads import CM_DEPTH, CM_WIDTH, DD_ALPHA

    runs = [replay_once(table, keys, hll_col, {
        "hll": HllFamily(precision=hll_p),
        "countmin": CountMinFamily(width=CM_WIDTH, depth=CM_DEPTH),
        "ddsketch": DDSketchFamily(alpha=DD_ALPHA)}) for _ in range(reps)]
    return {k: statistics.median(r[k] for r in runs) for k in runs[0]}
