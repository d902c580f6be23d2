"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload sketch_table --seeds 1 2 3 4 5

Runs the benchmark command untraced for BENCHMARK.json's
``run_seconds``, once per seed and one run at a time, and prints, per
metric, the median and the distance between the first and third
quartile as a share of the median, next to the metric's bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.stats import iqr_share  # noqa: E402


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    args = p.parse_args(argv)
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values: dict[str, list] = {}
    for seed in args.seeds:
        cmd = [*bench["command"], "--workload", args.workload, "--seed",
               str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        out = subprocess.run(cmd, cwd=root, capture_output=True, text=True,
                             timeout=600)
        if out.returncode != 0:
            print(out.stderr[-2000:], file=sys.stderr)
            return out.returncode
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={res['correct']} attempted="
              f"{res['attempted']} failed={res['failed']} " + " ".join(
                  f"{k}={v['value']:.6g}" for k, v in res["metrics"].items()),
              flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    if len(args.seeds) < 2:
        return 0
    for k, vs in values.items():
        med = statistics.median(vs)
        print(f"{k:<28} median {med:<14.6g} iqr/median {iqr_share(vs):7.2%}"
              f"  bound {bounds.get(k)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
