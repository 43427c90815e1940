#!/usr/bin/env python3
"""Steadiness report: runs each workload repeatedly and prints, for every
end-to-end metric, the median, the quartiles and (Q3-Q1)/median.

    python3 benchmark/steadiness.py                      # seeds 1-10 per workload
    python3 benchmark/steadiness.py --runs 5 --workloads recordings
    python3 benchmark/steadiness.py --runs 5 --seed 1009   # one held-out seed, repeated

Run it from the root of a checkout. The run length is BENCHMARK.json's
run_seconds. A spread above a third of a metric's bound is flagged, since
two sets of runs must agree within the bound. Raw results go to --out.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workloads", nargs="+", default=names, choices=names)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, help="repeat this one seed instead of seeds 1, 2, ...")
    ap.add_argument("--out", default=os.path.join(HERE, ".runs", "steadiness.jsonl"))
    a = ap.parse_args()
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)

    ok = True
    for w in a.workloads:
        results = []
        for i in range(a.runs):
            seed = a.seed if a.seed is not None else 1 + i
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            if p.returncode != 0:
                print(f"{w} seed {seed}: run failed (exit {p.returncode})", flush=True)
                ok = False
                continue
            r = json.loads(p.stdout.strip().splitlines()[-1])
            results.append(r)
            with open(a.out, "a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, "result": r}) + "\n")
            print(f"{w} seed {seed}: correct={r['correct']} calls={r['attempted']} failed={r['failed']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
            ok &= r["correct"] and r["failed"] == 0
        if len(results) < 2:
            continue
        print(f"\n{w}: {len(results)} runs")
        print(f"  {'metric':<24}{'unit':>8}{'median':>14}{'Q1':>14}{'Q3':>14}{'IQR/med':>10}{'bound':>8}")
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in results]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            flag = "" if m["name"] == "setup_s" or spread <= m["bound"] / 3 else "  > bound/3"
            print(f"  {m['name']:<24}{m['unit']:>8}{med:>14.6g}{q1:>14.6g}{q3:>14.6g}{spread:>10.4f}"
                  f"{m['bound']:>8}{flag}")
        print(flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
