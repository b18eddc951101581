#!/usr/bin/env python3
"""Steadiness check: run sets of every workload on the same code, each run
with its own seed, and print each end-to-end metric's spread next to its
bound.

    python3 perfbench/steady.py                      # 2 sets x 10 runs, all workloads
    python3 perfbench/steady.py --runs 5 --sets 1 --workloads spatial_join

Spread is the distance between the first and third quartile of a set's
values (statistics.quantiles, n=4) as a share of their median; drift is how
much worse the second set's median is than the first's. A metric is steady
when every spread stays within its bound (setup_s is exempt from the spread
rule) and the drift does too. Runs with a failed or incorrect result are
reported and make the workload unsteady. Raw results go to
perfbench/out/steady-<time>.json.
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


def cpu_ticks():
    """(steal, total) jiffies of the host's vCPUs, where Linux reports them:
    a virtual machine's host taking back CPU shows as steal and slows
    every timing of a run by about its share."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 0


def run_once(spec, workload, seed):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    t = time.time()
    s0, t0 = cpu_ticks()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    s1, t1 = cpu_ticks()
    wall = time.time() - t
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        res = None
    return {"workload": workload, "seed": seed, "exit": p.returncode, "wall_s": wall,
            "steal_share": (s1 - s0) / max(1, t1 - t0), "report": lines[:-1], "result": res}


def spread(vals):
    q1, _, q3 = statistics.quantiles(vals, n=4)
    return (q3 - q1) / statistics.median(vals)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2, choices=(1, 2))
    ap.add_argument("--workloads", default="")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    raw = []
    unsteady = []
    for w in workloads:
        sets = []
        for k in range(a.sets):
            runs = []
            for i in range(a.runs):
                seed = 1 + k * a.runs + i
                r = run_once(spec, w, seed)
                raw.append(r)
                res = r["result"]
                ok = r["exit"] == 0 and res is not None and res["correct"] and res["failed"] == 0
                print(f"{w} set {k + 1} seed {seed}: {'ok' if ok else 'FAILED'} "
                      f"wall {r['wall_s']:.1f} s steal {r['steal_share']:.1%}",
                      file=sys.stderr, flush=True)
                if ok:
                    runs.append(res["metrics"])
                else:
                    unsteady.append(f"{w} seed {seed}: failed run ({r['exit']}, {res})")
            sets.append(runs)
        print(f"\n{w}: {' / '.join(str(len(s)) for s in sets)} good runs")
        print(f"  {'metric':<14} {'bound':>6} " +
              " ".join(f"{'median' + str(k + 1):>12} {'spread' + str(k + 1):>8}"
                       for k in range(len(sets))) + f" {'drift':>7}  verdict")
        for m, bound in bounds.items():
            cols, meds, ok = [], [], True
            for runs in sets:
                vals = [r[m]["value"] for r in runs if m in r]
                if len(vals) < 4:
                    cols.append(f"{'-':>12} {'-':>8}")
                    ok = False
                    continue
                s = spread(vals)
                meds.append(statistics.median(vals))
                cols.append(f"{meds[-1]:>12.4f} {s:>8.3f}")
                if m != "setup_s" and s > bound:
                    ok = False
            drift = meds[1] / meds[0] - 1 if len(meds) == 2 else 0.0
            if drift > bound:
                ok = False
            verdict = "ok" if ok else "UNSTEADY"
            if not ok:
                unsteady.append(f"{w} {m}")
            print(f"  {m:<14} {bound:>6.3f} {' '.join(cols)} {drift:>+7.3f}  {verdict}")
    walls = [r["wall_s"] for r in raw]
    n_runs = 4 + 22 * len(spec["workloads"])
    print(f"\nmean run wall {statistics.mean(walls):.1f} s: at this pace {n_runs} runs "
          f"(4 + 22 per workload) take about {n_runs * statistics.mean(walls):.0f} s")
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    path = os.path.join(HERE, "out", f"steady-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump(raw, f, indent=1)
    print(f"\nraw results: {path}")
    if unsteady:
        print("unsteady: " + "; ".join(unsteady))
        sys.exit(1)


if __name__ == "__main__":
    main()
