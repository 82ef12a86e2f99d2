"""Steadiness check: two alternating sets of runs of the same code.

    python3 perfbench/steady.py --runs 5

For run i of every workload in BENCHMARK.json, set A runs seed 2i+1 and
set B seed 2i+2, A first on even i and B first on odd i. Runs go one at a
time. Prints, per workload, metric and set, the median and quartiles, the
spread (interquartile distance over the median, over both sets together),
and whether the two set medians agree within the bound in BENCHMARK.json.
Every metric's spread is judged against its bound except that of
``setup_s``: its one JVM start per run cannot be repeated inside the run
to take a median, so only its set medians are judged (perfbench/README.md).
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


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    done = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if done.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {done.returncode}: {done.stderr[-2000:]}")
    lines = done.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    diag = next((json.loads(x[len("diagnostics "):]) for x in lines if x.startswith("diagnostics ")), {})
    return {"workload": workload, "seed": seed, "result": result, "diagnostics": diag}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=5, help="runs per set and workload")
    a = ap.parse_args()
    workloads = [w["name"] for w in bench["workloads"]]
    runs: list[dict] = []
    for i in range(a.runs):
        order = ("A", "B") if i % 2 == 0 else ("B", "A")
        for w in workloads:
            for s in order:
                r = one_run(w, 2 * i + (1 if s == "A" else 2), bench["run_seconds"])
                r["set"] = s
                runs.append(r)
                m = {k: round(v["value"], 4) for k, v in r["result"]["metrics"].items()}
                print(f"{w} set {s} seed {r['seed']}: correct={r['result']['correct']} "
                      f"failed={r['result']['failed']}/{r['result']['attempted']} {m}", flush=True)
    ok = True
    for w in workloads:
        print(f"\n{w}")
        for metric in bench["end_to_end"]:
            name, bound = metric["name"], metric["bound"]
            by_set = {
                s: [r["result"]["metrics"][name]["value"] for r in runs if r["workload"] == w and r["set"] == s]
                for s in ("A", "B")
            }
            both = by_set["A"] + by_set["B"]
            q1, med, q3 = quartiles(both)
            spread = (q3 - q1) / med
            meds = {s: statistics.median(v) for s, v in by_set.items()}
            drift = max(meds["B"] / meds["A"], meds["A"] / meds["B"]) - 1
            agree = drift <= bound and (name == "setup_s" or spread <= bound)
            ok &= agree
            sets = "  ".join(
                f"{s}: median {statistics.median(v):.4f} q1 {quartiles(v)[0]:.4f} q3 {quartiles(v)[2]:.4f}"
                for s, v in by_set.items()
            )
            print(f"  {name:12s} {sets}  spread {spread:.3f} (bound {bound})  set drift {drift:.3f}  "
                  f"{'agree' if agree else 'DISAGREE'}")
        fail_share = {
            s: sum(r["result"]["failed"] for r in runs if r["workload"] == w and r["set"] == s)
            / sum(r["result"]["attempted"] for r in runs if r["workload"] == w and r["set"] == s)
            for s in ("A", "B")
        }
        print(f"  failed share A {fail_share['A']:.4f} B {fail_share['B']:.4f}")
        ok &= fail_share["A"] == fail_share["B"]
    print("\nsteady" if ok else "\nNOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
