"""Seeded transcripts table and its exact answers (untimed preparation).

The table is built with the library's own generator,
``zetasketch_spark.sources.transcripts.generate_transcripts``, one parquet
file at a time inside this process (no worker pool). Each file gets a
disjoint ``conv_offset`` so conversation ids never repeat across files.

The exact answers come from DuckDB reading the same parquet files, so the
checks in ``checks.py`` never depend on library code. Both are cached per
seed under ``perfbench/.cache``; only the most recent few seeds are kept.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import time

N_TURNS = 400_000
N_FILES = 4
ROW_GROUP_ROWS = 128 * 1024
#: conversations per file, the generator's own default for the file size
CONVS_PER_FILE = max(64, (N_TURNS // N_FILES) // 100)
#: the sketch_table workload folds day 1..UPDATE_DAYS in order
UPDATE_DAYS = 30
#: cached seeds (about 150 MiB each): sets of ten or more seeds run on
#: each workload in turn reuse every seed's table
KEEP_SEEDS = 16

_ORACLE_VERSION = 2


class Inputs:
    """Paths, size and exact answers of one seed's table."""

    def __init__(self, root: str, seed: int, oracle: dict):
        self.root = root
        self.seed = seed
        self.table = os.path.join(root, "table")
        self.oracle = oracle

    @property
    def n_turns(self) -> int:
        return self.oracle["n_turns"]

    @property
    def table_bytes(self) -> int:
        return self.oracle["table_bytes"]

    def files(self) -> list[str]:
        return sorted(os.path.join(self.table, f)
                      for f in os.listdir(self.table) if f.endswith(".parquet"))


def file_seed(seed: int, part: int) -> int:
    """Generator seed of one file; distinct across (seed, part) pairs."""
    return seed * 16 + part


def prepare(cache_dir: str, seed: int) -> tuple[Inputs, dict]:
    """The seed's table and answers, generated on a cache miss.

    Returns the inputs and ``{"gen_s", "oracle_s", "cached"}`` timings."""
    root = os.path.join(cache_dir, f"t{N_TURNS}-f{N_FILES}-s{seed}")
    oracle_path = os.path.join(root, "oracle.json")
    timing = {"gen_s": 0.0, "oracle_s": 0.0, "cached": True}
    if os.path.exists(oracle_path):
        with open(oracle_path) as f:
            oracle = json.load(f)
        if oracle.get("version") == _ORACLE_VERSION:
            os.utime(root)
            return Inputs(root, seed, oracle), timing
    timing["cached"] = False
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(cache_dir, exist_ok=True)
    _evict(cache_dir, keep=KEEP_SEEDS - 1)
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    table = os.path.join(tmp, "table")
    os.makedirs(table)
    t0 = time.perf_counter()
    write_table(table, seed)
    timing["gen_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    oracle = exact_answers(table)
    timing["oracle_s"] = time.perf_counter() - t0
    with open(os.path.join(tmp, "oracle.json"), "w") as f:
        json.dump(oracle, f)
    os.replace(tmp, root)
    return Inputs(root, seed, oracle), timing


def _evict(cache_dir: str, keep: int) -> None:
    entries = [os.path.join(cache_dir, d) for d in os.listdir(cache_dir)]
    entries = sorted((e for e in entries if os.path.isdir(e)),
                     key=os.path.getmtime, reverse=True)
    for old in entries[keep:]:
        shutil.rmtree(old, ignore_errors=True)


def write_table(path: str, seed: int) -> None:
    import pyarrow.parquet as pq

    from zetasketch_spark.sources.transcripts import generate_transcripts

    per_file = N_TURNS // N_FILES
    for part in range(N_FILES):
        tbl = generate_transcripts(per_file, seed=file_seed(seed, part),
                                   n_convs=CONVS_PER_FILE,
                                   conv_offset=part * CONVS_PER_FILE)
        pq.write_table(tbl, os.path.join(path, f"part-{part:05d}.parquet"),
                       row_group_size=ROW_GROUP_ROWS, compression="snappy")


def exact_answers(table_dir: str) -> dict:
    """Every exact answer the checks need, computed by DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        glob = os.path.join(table_dir, "*.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW t AS SELECT conv_id, role, text, tool, "
                    f"CAST(ts AS DATE) AS day FROM read_parquet('{glob}')")

        def rows(sql):
            return con.execute(sql).fetchall()

        first_day = rows("SELECT min(day) FROM t")[0][0]
        days = [first_day + dt.timedelta(days=k) for k in range(UPDATE_DAYS)]
        con.execute("CREATE TEMP TABLE w AS SELECT k, "
                    f"DATE '{first_day.isoformat()}' + CAST(k - 1 AS INTEGER)"
                    f" AS hi FROM range(1, {UPDATE_DAYS + 1}) r(k)")
        out = {
            "version": _ORACLE_VERSION,
            "n_turns": rows("SELECT count(*) FROM t")[0][0],
            "table_bytes": sum(os.path.getsize(os.path.join(table_dir, f))
                               for f in os.listdir(table_dir)),
            "update_days": [d.isoformat() for d in days],
            # distinct conv_id and turns per (role, day)
            "role_day": {f"{r}|{d.isoformat()}": [u, n] for r, d, u, n in rows(
                "SELECT role, day, count(DISTINCT conv_id), count(*) "
                "FROM t GROUP BY ALL")},
            # distinct conv_id, distinct text, non-null tools, turns per role
            "role": {r: [u, x, c, n] for r, u, x, c, n in rows(
                "SELECT role, count(DISTINCT conv_id), count(DISTINCT text), "
                "count(tool), count(*) FROM t GROUP BY ALL")},
            # turn-length histogram per role (for rank-exact quantiles)
            "role_len": {},
            # every tool name in the table, and its count per role
            "tools": [t for t, in rows(
                "SELECT DISTINCT tool FROM t WHERE tool IS NOT NULL "
                "ORDER BY 1")],
            "role_tool": {},
            # distinct tools per conversation, and its turns
            "conv_tools": {c: [u, n] for c, u, n in rows(
                "SELECT conv_id, count(DISTINCT tool), count(*) "
                "FROM t GROUP BY ALL")},
            "day_turns": {d.isoformat(): n for d, n in rows(
                "SELECT day, count(*) FROM t GROUP BY ALL")},
            # per update k (day 1..k folded): distinct conv_id per role over
            # all folded days and over the last seven of them
            "windows": {},
        }
        for r, length, n in rows("SELECT role, length(text), count(*) "
                                 "FROM t GROUP BY ALL ORDER BY 1, 2"):
            out["role_len"].setdefault(r, []).append([length, n])
        for r, tool, n in rows("SELECT role, tool, count(*) FROM t "
                               "WHERE tool IS NOT NULL GROUP BY ALL"):
            out["role_tool"].setdefault(r, {})[tool] = n
        for k, r, cum, last7 in rows(
                "WITH d AS (SELECT DISTINCT role, day, conv_id FROM t) "
                "SELECT k, role, "
                "count(DISTINCT conv_id), "
                "count(DISTINCT conv_id) FILTER (WHERE d.day > w.hi - 7) "
                "FROM w JOIN d ON d.day <= w.hi GROUP BY ALL"):
            out["windows"].setdefault(str(k), {})[r] = [cum, last7]
        return out
    finally:
        con.close()


if __name__ == "__main__":
    # ``python3 -m perfbench.inputs <cache dir> <seed>``: prepare a seed in
    # its own process (the runner does, so generation memory never counts
    # towards its peak RSS) and print the preparation timings
    import sys

    print(json.dumps(prepare(sys.argv[1], int(sys.argv[2]))[1]))
