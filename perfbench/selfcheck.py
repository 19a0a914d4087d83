#!/usr/bin/env python3
"""Harness self-check: a broken operation must show as a failure.

    python3 perfbench/selfcheck.py [--workloads a,b] [--seed 1]

For each workload, runs ``run.py`` twice through its fault hook: once
dropping a row from one output (``--fault drop_row``), once making
operations raise (``--fault raise``). Each run must finish, report
``correct: false`` and a ``failed`` count above zero. Exits 0 when the
harness caught every fault.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=2)
    args = ap.parse_args()
    ok = True
    for w in args.workloads.split(","):
        for fault in ("drop_row", "raise"):
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(args.seed), "--seconds", str(args.seconds),
                 "--trace", "0", "--fault", fault],
                capture_output=True, text=True, timeout=600)
            lines = out.stdout.strip().splitlines()
            final = json.loads(lines[-1]) if out.returncode == 0 and lines else None
            caught = bool(final) and not final["correct"] and final["failed"] > 0
            ok &= caught
            detail = (f"failed {final['failed']}/{final['attempted']}"
                      if final else f"no result (exit {out.returncode})")
            print(f"{w:<20} fault={fault:<9} {detail:<22} "
                  f"{'caught' if caught else 'MISSED'}", flush=True)
    print("SELF-CHECK " + ("PASSED" if ok else "FAILED"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
