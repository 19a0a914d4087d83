#!/usr/bin/env python3
"""Steadiness check: do two sets of runs of one commit agree?

    python3 perfbench/steady.py [--workloads a,b] [--runs 10] [--sets 2]

Runs ``run.py`` ``--runs`` times per workload and set, seeds
``--seed0 .. --seed0+runs-1`` (the same seeds in every set). For each
workload and end-to-end metric it prints each set's median, quartiles
and spread (interquartile distance over the median, as
``statistics.quantiles(values, n=4)`` gives the quartiles), and whether
the sets agree: every set's spread within the metric's bound in
``BENCHMARK.json``, and every set's median within the bound of the
first set's, in either direction. It also reports, per operation, whether
the Spark job, stage, task and shuffle-byte counts repeated exactly in
every pass of every run and across the sets' runs of the same seed.
Exits 0 when everything agrees.
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
ROOT = os.getcwd()


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=900)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise SystemExit(f"{' '.join(cmd)} failed:\n{out.stderr[-3000:]}")
    full = next(json.loads(ln.split(" ", 1)[1]) for ln in lines
                if ln.startswith("perfbench-result "))
    final = json.loads(lines[-1])
    m = final["metrics"]
    print(f"  {workload} seed={seed} {time.time() - t0:.1f}s "
          f"correct={final['correct']} failed={final['failed']}/"
          f"{final['attempted']} "
          + " ".join(f"{k}={v['value']:.4g}" for k, v in m.items())
          + f" steal={full['meta']['host_steal_s']:.1f}s", flush=True)
    return {"final": final, "full": full}


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    runs: dict[str, list[list[dict]]] = {}
    for s in range(args.sets):
        print(f"set {s + 1}", flush=True)
        for w in args.workloads.split(","):
            runs.setdefault(w, []).append(
                [run_once(w, args.seed0 + i, args.seconds, 0)
                 for i in range(args.runs)])

    ok = True
    summary: dict = {}
    for w, sets in runs.items():
        print(f"\n{w}")
        print(f"  {'metric':<12} " + "  ".join(
            f"{'set' + str(i + 1) + ' median [q1, q3] spread':<38}"
            for i in range(len(sets))) + "  shift   bound  agree")
        for metric, bound in bounds.items():
            stats = [spread([r["final"]["metrics"][metric]["value"]
                             for r in rs]) for rs in sets]
            # Signed change of the median farthest from set 1's.
            shift = max(((st[0] - stats[0][0]) / stats[0][0] for st in stats),
                        key=abs)
            agree = abs(shift) <= bound and all(st[3] <= bound for st in stats)
            ok &= agree
            unit = sets[0][0]["final"]["metrics"][metric]["unit"]
            cells = "  ".join(
                f"{st[0]:9.4g} [{st[1]:.4g}, {st[2]:.4g}] {st[3]:6.3f}".ljust(38)
                for st in stats)
            print(f"  {metric:<12} {cells}  {shift:+.3f}  {bound:.2f}  "
                  f"{'yes' if agree else 'NO'}   ({unit})")
            summary.setdefault(w, {})[metric] = {
                "sets": [dict(zip(("median", "q1", "q3", "spread"), st))
                         for st in stats],
                "shift": shift, "bound": bound, "agree": agree}
        failed = sum(r["final"]["failed"] for rs in sets for r in rs)
        ok &= failed == 0
        # Counter exactness: within runs (every pass) and across sets.
        ops = sets[0][0]["full"]["exact_counters"]
        print(f"  failed operations: {failed}")
        print("  exact counters (within every run / same seed across sets):")
        exact = {}
        for op in ops:
            within = {f: all(r["full"]["exact_counters"].get(op, {}).get(f)
                             for rs in sets for r in rs)
                      for f in ops[op]}
            across = all(
                len({json.dumps(rs[i]["full"]["counter_signature"].get(op))
                     for rs in sets}) == 1 for i in range(len(sets[0])))
            exact[op] = {"within_runs": within, "across_sets": across}
            flags = " ".join(f"{f}={'exact' if v else 'varies'}"
                             for f, v in within.items())
            print(f"    {op:<28} {flags}  across={'exact' if across else 'varies'}")
        summary.setdefault(w, {})["exact_counters"] = exact

    out_dir = os.path.join(ROOT, ".perfbench")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"steady-{time.strftime('%Y%m%dT%H%M%S')}.json")
    with open(path, "w") as f:
        json.dump(summary, f, indent=1)
    print(f"\n{'STEADY' if ok else 'NOT STEADY'} (details: {path})")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
