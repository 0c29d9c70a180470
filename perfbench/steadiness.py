"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/steadiness.py --runs 10 --out runs.jsonl tx_agg ops_dedup
    python3 perfbench/steadiness.py --trace --runs 2 --out traced.jsonl
    python3 perfbench/steadiness.py --report set1.jsonl set2.jsonl

Each run is a fresh ``perfbench/run.py`` process with its own seed (the
seeds are 1..N). With ``--trace`` every run is a traced run on seed 1, so
the per-layer counts of one input can be seen to repeat from run to run.
Runs go one after another, never in parallel, so they do not disturb each
other's timings. Spread is (Q3 - Q1) / median with the
quartiles of ``statistics.quantiles(values, n=4)``, the rule the bounds in
BENCHMARK.json are checked against.
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
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    return {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "exit": proc.returncode,
        "total_s": time.time() - t0,
        "result": json.loads(lines[-1]) if lines else None,
    }


def report(sets: dict[str, list[dict]], spec: dict) -> None:
    """Print, per workload, a markdown table of each metric's median,
    quartiles and spread in every set (leaving out metrics that read 0 in
    every run), then each set's runs and how far its medians moved from the
    previous set's, in the direction of ``better``."""
    metrics = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    workloads = dict.fromkeys(r["workload"] for recs in sets.values() for r in recs)
    for wl in workloads:
        print(f"### `{wl}`\n")
        print("| metric | bound | set | median | Q1 | Q3 | spread | spread / bound |")
        print("|---|---|---|---|---|---|---|---|")
        runs = {name: [r for r in recs if r["workload"] == wl] for name, recs in sets.items()}
        ok = {name: [r["result"] for r in rr if r["result"] and r["result"]["correct"]]
              for name, rr in runs.items()}
        names = [n for n in sets if ok[n]]
        medians: dict[str, list[float]] = {}
        for m in ok[names[0]][0]["metrics"] if names else []:
            if not any(res["metrics"][m]["value"] for n in names for res in ok[n]):
                continue  # a layer metric of a layer this workload does not use
            bound = metrics.get(m, {}).get("bound")
            for name in names:
                vals = [res["metrics"][m]["value"] for res in ok[name]]
                q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else vals * 3
                spread = (q3 - q1) / med if med else 0.0
                medians.setdefault(m, []).append(med)
                share = "" if bound is None else f"{spread / bound:.2f}"
                print(f"| `{m}` | {'' if bound is None else bound} | {name} | {med:.5g} | "
                      f"{q1:.5g} | {q3:.5g} | {spread:.3f} | {share} |")
        print()
        for name, rr in runs.items():
            totals = [r["total_s"] for r in rr]
            seeds = sorted({r["seed"] for r in rr})
            print(f"- {name}: {len(rr)} runs (seeds {seeds[0]}–{seeds[-1]}), {len(ok[name])} correct, "
                  f"attempted passes {sum(r['result']['attempted'] for r in rr if r['result'])}, "
                  f"failed {sum(r['result']['failed'] for r in rr if r['result'])}, "
                  f"run wall {min(totals):.0f}–{max(totals):.0f} s")
        for j in range(1, len(names)):
            moved = []
            for m, meds in medians.items():
                a, b = meds[j - 1], meds[j]
                lower = metrics.get(m, {}).get("better", "lower") == "lower"
                moved.append(f"`{m}` {((b - a) if lower else (a - b)) / a if a else 0.0:+.3f}")
            print(f"- {names[j]} against {names[j - 1]}, share worse (negative = better): "
                  + ", ".join(moved))
        print()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("workloads", nargs="*")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--trace", action="store_true", help="traced runs, all on seed 1")
    ap.add_argument("--out", help="append each run as a JSON line to this file")
    ap.add_argument("--report", nargs="+", help="only report on earlier --out files, one set each")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.report:
        sets = {}
        for path in args.report:
            with open(path) as f:
                sets[os.path.splitext(os.path.basename(path))[0]] = [json.loads(line) for line in f]
        report(sets, spec)
        return
    records = []
    for wl in args.workloads or [w["name"] for w in spec["workloads"]]:
        for i in range(1, args.runs + 1):
            seed = 1 if args.trace else i
            rec = run_once(wl, seed, spec["run_seconds"], int(args.trace))
            records.append(rec)
            print(json.dumps(rec), file=sys.stderr, flush=True)
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps(rec) + "\n")
    report({"this set": records}, spec)


if __name__ == "__main__":
    main()
