#!/usr/bin/env python3
"""Steadiness check: run the benchmark once per seed and report, for each
metric, the median and the spread (interquartile range over median, from
`statistics.quantiles(values, n=4)`) across seeds.

Usage, from the root of a checkout:

    python3 perfbench/steady.py --workload export_fresh --seeds 1-10 \
        [--seconds 10] [--trace 0] [--out steady.json]
"""

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics as mx  # noqa: E402


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    args = ap.parse_args()
    runs = []
    run_py = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    for seed in args.seeds:
        t0 = time.time()
        proc = subprocess.run([sys.executable, run_py, "--workload", args.workload,
                               "--seed", str(seed), "--seconds", args.seconds,
                               "--trace", args.trace],
                              capture_output=True, text=True)
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
        res = json.loads(last) if last.startswith("{") else {}
        res.update(seed=seed, wall_s=time.time() - t0, exit=proc.returncode)
        art = os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                           f"last-{args.workload}-trace{args.trace}.json")
        if os.path.exists(art):
            with open(art) as f:
                art = json.load(f)
            res["diag"] = art["report"]["diag"]
            res["units"] = [{"cold": u["cold"], "traced": u["traced"], "wall_s": u["wall_s"],
                             "modules": {m: v["s"] for m, v in u["modules"].items()}}
                            for u in art["iterations"]]
        runs.append(res)
        print(f"seed {seed}: exit={proc.returncode} correct={res.get('correct')} "
              f"wall={res['wall_s']:.1f}s", file=sys.stderr)
    names = sorted({k for r in runs for k in r.get("metrics", {})})
    summary = {}
    for name in names:
        vals = [r["metrics"][name]["value"] for r in runs
                if r.get("metrics", {}).get(name, {}).get("value") is not None]
        if len(vals) >= 2:
            summary[name] = {"median": mx.median(vals), "spread": mx.spread(vals),
                             "n": len(vals)}
    for name, s in summary.items():
        print(f"{name:36s} median={s['median']:.4f} spread={s['spread']:.4f} n={s['n']}")
    print(f"all correct: {all(r.get('correct') for r in runs)}; "
          f"max wall {max(r['wall_s'] for r in runs):.1f}s")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "runs": runs, "summary": summary}, f,
                      indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
