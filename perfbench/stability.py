#!/usr/bin/env python3
"""Run workloads on several seeds and report each end-to-end metric's
run-to-run spread: (third quartile - first quartile) / median, with the
quartiles of statistics.quantiles(values, n=4).

    python3 perfbench/stability.py --seeds 1-10 [--workloads a,b] [--out FILE]

Seeds are a range "a-b" or a comma list. Each run is
`run.py --workload W --seed S --seconds <run_seconds> --trace 0`, in series.
Spreads are compared with the bounds in BENCHMARK.json. Each workload's
detail figures (the `[perfbench] detail` lines on stderr) are summarised
too, without a bound. --out writes every run's result line and the summary
as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--workloads")
    ap.add_argument("--out")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    runs = {}
    for w in names:
        for s in seeds(a.seeds):
            t0 = time.time()
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                               cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            wall = time.time() - t0
            if r.returncode != 0:
                sys.exit(f"{w} seed {s}: exit {r.returncode}")
            res = json.loads(r.stdout.strip().splitlines()[-1])
            res["wall_s"] = round(wall, 1)
            res["details"] = {}
            for line in r.stderr.splitlines():
                f = line.split()
                if len(f) == 5 and f[:2] == ["[perfbench]", "detail"]:
                    res["details"][f[2]] = {"value": float(f[3]), "unit": f[4]}
            runs.setdefault(w, []).append(res)
            print(f"{w} seed {s}: {wall:.0f}s correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}", file=sys.stderr)
    summary = {}
    for w, rs in runs.items():
        print(f"\n{w}  ({len(rs)} runs, mean wall {statistics.mean(r['wall_s'] for r in rs):.1f} s)")
        summary[w] = {}
        figures = [(m, "metrics") for m in rs[0]["metrics"]] + [(m, "details") for m in rs[0]["details"]]
        for m, kind in figures:
            vals = [r[kind][m]["value"] for r in rs]
            sp = spread(vals)
            b = bounds.get(m) if kind == "metrics" else None
            summary[w][m] = {"median": statistics.median(vals), "spread": sp, "bound": b}
            flag = "" if b is None else ("ok" if sp <= b / 3 else ("WITHIN BOUND" if sp <= b else "OVER BOUND"))
            print(f"  {m:22s} median {statistics.median(vals):12.4f}  spread {sp:7.4f}  bound {b}  {flag}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"runs": runs, "summary": summary}, f, indent=1)


if __name__ == "__main__":
    main()
