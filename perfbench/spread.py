"""Runs one workload on several seeds and reports each end-to-end metric's
median and quartile spread against its bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload registry --seeds 1-10 [--trace 1]

Run from the checkout root, like run.py. A spread above a third of the
bound means the benchmark is not steady enough on this host.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5", help="first-last, inclusive")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    first, last = map(int, a.seeds.split("-"))
    values, failed = {}, 0
    for seed in range(first, last + 1):
        out = subprocess.run(bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                                 "--seconds", str(bench["run_seconds"]),
                                                 "--trace", str(a.trace)],
                             capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            failed += 1
            continue
        r = json.loads(lines[-1])
        failed += not r["correct"]
        print(f"seed {seed}: correct={r['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for k, xs in values.items():
        if len(xs) < 2:
            continue
        spread = stats.quartile_spread(xs)
        b = bounds.get(k)
        verdict = "" if b is None else ("ok" if spread < b / 3 else
                                        "WITHIN BOUND" if spread <= b else "OVER BOUND")
        print(f"{k:32s} median {statistics.median(xs):12.5g}  spread {spread:6.3f}"
              + (f"  bound {b}  {verdict}" if b is not None else ""))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
