"""Steadiness check: rerun the same code with several seeds and show,
per workload and end-to-end metric, the median, the quartiles and the
spread (interquartile range as a share of the median) against the
metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --runs 10

Every workload runs with seeds 1 to ``--runs``, sequentially, one
process each, from the root of the checkout. A spread under a third of
its bound is steady; a spread over its bound, an incorrect run or a
failed share that differs between runs makes the command exit 1.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(spec: dict, workload: str, seed: int) -> dict:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", "0",
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed}: exit {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ok = True
    for wl in [w["name"] for w in spec["workloads"]]:
        results = []
        for seed in range(1, args.runs + 1):
            r = run_once(spec, wl, seed)
            results.append(r)
            vals = {k: round(v["value"], 4) for k, v in r["metrics"].items()}
            print(f"{wl} seed {seed}: correct={r['correct']} "
                  f"attempted={r['attempted']} failed={r['failed']} {vals}", flush=True)
        shares = {r["failed"] / r["attempted"] for r in results}
        if len(shares) != 1 or not all(r["correct"] for r in results):
            ok = False
            print(f"{wl}: failed shares {sorted(shares)}, all correct: "
                  f"{all(r['correct'] for r in results)}")
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in results]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            verdict = "steady" if spread < m["bound"] / 3 else (
                "within bound" if spread <= m["bound"] else "TOO WIDE")
            if spread > m["bound"]:
                ok = False
            print(f"{wl:12s} {m['name']:11s} median {med:10.4f} {m['unit']:7s} "
                  f"q1 {q1:10.4f} q3 {q3:10.4f} spread {spread:6.3f} "
                  f"bound {m['bound']:.2f} {verdict}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
