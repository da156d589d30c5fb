"""Steadiness check: run one workload once per seed, one run at a time,
and print each metric's median and quartile spread (the distance
between the first and third quartile as a share of the median).

    python3 perfbench/spread.py --workload pin_etl --seeds 1-10 --seconds 12 --save a.json
    python3 perfbench/spread.py --workload pin_etl --seeds 11-20 --seconds 12 --against a.json

Compare each spread with the metric's ``bound`` in BENCHMARK.json; a
steady benchmark keeps it under a third of the bound. ``--save`` keeps
a set's values; ``--against`` sets this set's medians against a saved
set's and says whether each metric got worse by more than its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path.append(CHECKOUT)

from perfbench.stats import quartile_spread  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    p.add_argument("--seconds", default="10")
    p.add_argument("--trace", default="0")
    p.add_argument("--save", help="write this set's values per metric to this JSON file")
    p.add_argument("--against", help="a file written by --save to compare medians with")
    args = p.parse_args()
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace]
        out = subprocess.run(cmd, cwd=CHECKOUT, capture_output=True, text=True, timeout=900)
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']} " + " ".join(
            f"{k}={v['value']:.4f}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"{'metric':34} {'median':>12} {'spread':>8} {'bound/3':>8}")
    for k, xs in values.items():
        bound = bounds.get(k)
        spread = quartile_spread(xs) if len(xs) >= 2 and statistics.median(xs) else float("nan")
        third = f"{bound / 3:8.4f}" if bound else "       -"
        print(f"{k:34} {statistics.median(xs):12.4f} {spread:8.4f} {third}")
    if args.save:
        with open(args.save, "w") as fh:
            json.dump(values, fh, indent=1)
    if args.against:
        with open(args.against) as fh:
            earlier = json.load(fh)
        print(f"{'metric':34} {'earlier':>12} {'now':>12} {'worse_by':>8} {'bound':>6}")
        for k, xs in values.items():
            if k not in earlier:
                continue
            m0, m1 = statistics.median(earlier[k]), statistics.median(xs)
            worse = (m1 - m0) / m0 if better.get(k, "lower") == "lower" else (m0 - m1) / m0
            bound = bounds.get(k)
            verdict = "" if bound is None else ("within" if worse <= bound else "OUTSIDE")
            print(f"{k:34} {m0:12.4f} {m1:12.4f} {worse:8.4f} {bound or '-':>6} {verdict}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
