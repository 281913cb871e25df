"""Steadiness self-check: two sets of runs of the same build.

    python3 perfbench/steady.py [--runs 10] [--workloads a,b] [--seed0 1000]

Runs every chosen workload ``--runs`` times in each of two sets, each run
with its own seed (the second set uses fresh seeds), and prints for each
workload and end-to-end metric both sets' medians and quartiles, the
quartile spread as a share of the median, and whether the two sets agree
within the metric's bound in BENCHMARK.json: each set's spread within the
bound, and the two medians apart by no more than the bound, either way.
Exits 1 if any metric does not agree.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

SETS = 2


def one_run(spec, workload, seed):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    r = subprocess.run(cmd, cwd=os.path.dirname(HERE), stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True, timeout=900)
    last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
    if r.returncode != 0 or not last.startswith("{"):
        raise SystemExit(f"{workload} seed {seed}: exit {r.returncode}")
    out = json.loads(last)
    print(json.dumps({"workload": workload, "seed": seed, **out}), file=sys.stderr, flush=True)
    if not out["correct"]:
        print(f"  {workload} seed {seed}: {out['failed']} of {out['attempted']} failed")
    return {k: v["value"] for k, v in out["metrics"].items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--seed0", type=int, default=1000)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    sets = []
    for s in range(SETS):
        runs = {w: [] for w in workloads}
        for i in range(a.runs):
            for w in workloads:
                runs[w].append(one_run(spec, w, a.seed0 + s * a.runs + i))
        sets.append(runs)
    ok = True
    for w in workloads:
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            row = []
            for runs in sets:
                q1, q2, q3, spread = stats.quartile_spread([r[name] for r in runs[w]])
                row.append((q1, q2, q3, spread))
            drift = row[1][1] / row[0][1] - 1.0
            agree = abs(drift) <= bound and all(r[3] <= bound for r in row)
            ok = ok and agree
            cells = "  ".join(f"med {r[1]:.4g} [{r[0]:.4g}, {r[2]:.4g}] spread {r[3]:.3f}"
                              for r in row)
            print(f"{w:<13} {name:<12} {cells}  drift {drift:+.3f}  bound {bound}  "
                  f"{'ok' if agree else 'NOT STEADY'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
