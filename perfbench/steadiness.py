#!/usr/bin/env python3
"""Steadiness check: runs every workload in two sets of ten runs of the
same checkout, each run with its own seed, and reports, for every
end-to-end metric of every workload,

  - the spread of each set: the distance between the first and third
    quartile (statistics.quantiles, n=4) as a share of the median;
  - the drift: how much worse the second set's median is than the
    first's, as a share of the first.

A metric passes when both spreads and the drift stay within the bound
BENCHMARK.json fixes for it.

    python3 perfbench/steadiness.py

Raw results go to .bench_build/steadiness.json; exits 1 if any metric
fails.
"""
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
SETS, RUNS, SEED_BASE = 2, 10, 1000


def run_once(workload, seed):
    r = subprocess.run([sys.executable, str(ROOT / "perfbench" / "run.py"),
                        "--workload", workload, "--seed", str(seed), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    if r.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: run.py exited {r.returncode}")
    res = json.loads(r.stdout.strip().splitlines()[-1])
    if not res["correct"] or res["failed"]:
        raise SystemExit(f"{workload} seed {seed}: outputs wrong: {res}")
    return {k: v["value"] for k, v in res["metrics"].items()}


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def main():
    workloads = [w["name"] for w in SPEC["workloads"]]
    sets = {w: [] for w in workloads}
    for s in range(SETS):
        for w in workloads:
            runs = []
            for i in range(RUNS):
                seed = SEED_BASE + 100 * s + i
                runs.append(run_once(w, seed))
                print(f"set {s + 1} {w} seed {seed}: " + ", ".join(
                    f"{k}={v:.4g}" for k, v in sorted(runs[-1].items())), flush=True)
            sets[w].append(runs)
    out = ROOT / ".bench_build" / "steadiness.json"
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps(sets, indent=1))

    ok = True
    print(f"\n{'workload':14} {'metric':12} {'bound':>6} "
          + " ".join(f"{'spread' + str(i + 1):>8} {'median' + str(i + 1):>10}"
                     for i in range(SETS)) + f" {'drift':>7}  verdict")
    for w in workloads:
        for m in SPEC["end_to_end"]:
            name, bound = m["name"], m["bound"]
            cols, meds, verdict = [], [], "ok"
            for runs in sets[w]:
                vals = [r[name] for r in runs]
                sp, med = spread(vals), statistics.median(vals)
                meds.append(med)
                cols.append(f"{sp:8.3f} {med:10.4g}")
                if sp > bound:
                    verdict = "SPREAD"
            worse = meds[1] - meds[0] if m["better"] == "lower" else meds[0] - meds[1]
            drift = worse / meds[0]
            if drift > bound:
                verdict = "DRIFT"
            ok &= verdict == "ok"
            print(f"{w:14} {name:12} {bound:6.2f} " + " ".join(cols)
                  + f" {drift:7.3f}  {verdict}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
