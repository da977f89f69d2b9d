"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/steady.py --workload ml_train --seeds 1-10

Runs ``run.py`` once per seed, in sequence, from the repository root, for
the ``run_seconds`` of BENCHMARK.json. Then it prints, per metric, the
median and the distance between the first and third quartile as a share of
the median — the figure that must stay well below each metric's bound in
BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def quartile_spread(values) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        start = time.time()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        )
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: {time.time() - start:.1f} s exit {out.returncode} correct {res['correct']} "
              + " ".join(f"{k}={v['value']:.4f}" for k, v in res["metrics"].items()),
              flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        spread = quartile_spread(vs)
        print(f"{k:14s} median {statistics.median(vs):10.4f} spread {spread:.4f} "
              f"bound {bounds.get(k)} ok(<bound/3) {spread < bounds.get(k, 0) / 3}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
