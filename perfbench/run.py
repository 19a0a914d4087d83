#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Generates the workload's inputs from the
seed (cached under ``.perfbench/inputs``), computes their references,
then measures the workload in a fresh process (``worker.py``) and
prints a report. The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``). The
full result, with run metadata and per-operation counter exactness, is
written to ``.perfbench/results/`` and printed on the line before it.

Exits non-zero without a result line when the package under test is
missing or the measured process fails.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from workloads import SIZES, WORKLOADS  # noqa: E402

END_TO_END = ("setup_s", "wall_s", "cpu_s", "op_p50_s", "shuffle_mb")
# Reported on the report lines and as per-layer metrics, not as bounded
# end-to-end metrics: stored_mb and failed_share are 0 on some workloads
# (read-only workloads store nothing; a correct run fails nothing; the
# final line's ``failed``/``attempted`` carry the share), and the JVM's
# heap growth makes peak RSS differ by up to half between runs.
REPORT_ONLY = ("stored_mb", "failed_share", "peak_rss_mb")
WORKER_TIMEOUT_S = 170


def source_sha(root: str) -> str:
    """sha256 over the package sources; the checkout may not be a git
    repository, so this stands in for the commit id."""
    h = hashlib.sha256()
    files = [os.path.join(root, "__spark_entry__.py")]
    for d, _, names in os.walk(os.path.join(root, "hive_exporter_spark")):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for path in sorted(files):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, n))
               for d, _, names in os.walk(path) for n in names)


def _duckdb_refs(sf_dir: str, names, tables, ref_dir: str) -> dict:
    """Each registry query's DuckDB twin, run on the generated tables."""
    import duckdb

    import __spark_entry__ as entry

    oracle = entry.oracle_sql()
    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    refs = {}
    for name in names:
        if name in oracle:
            path = os.path.join(ref_dir, f"{name}.parquet")
            con.sql(oracle[name]).df().to_parquet(path)
            refs[name] = path
    con.close()
    return refs


def prepare(workload: str, seed: int, cache: str) -> dict:
    """Generate inputs and references once per (workload, seed, sizes)."""
    sizes = SIZES[workload]
    key = hashlib.sha256(json.dumps([workload, seed, sizes, 1],
                                    sort_keys=True).encode()).hexdigest()[:12]
    d = os.path.join(cache, f"{workload}-s{seed}-{key}")
    manifest_path = os.path.join(d, "inputs.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)
    shutil.rmtree(d, ignore_errors=True)
    data, refs_dir = os.path.join(d, "data"), os.path.join(d, "refs")
    os.makedirs(refs_dir)
    inputs: dict = {"dir": data}
    refs: dict = {}
    if workload == "warehouse_queries":
        inputs["rows"] = gen.tpch(data, seed, sizes["scale"])
        refs = _duckdb_refs(data, WORKLOADS[workload].ops, inputs["rows"],
                            refs_dir)
    elif workload == "etl_ingest":
        truth = gen.ingest(data, seed, sizes["base_rows"], sizes["batches"],
                           sizes["batch_rows"])
        inputs.update(truth)
        # Log rows the merge consolidation rereads per delta row: the
        # log holds every delta so far, and each merge rereads all of it.
        deltas = [truth["batches"][0]["source_rows"]] + [
            b["inserted"] + b["updated"] + b["deleted"]
            for b in truth["batches"][1:]]
        reread = [sum(deltas[:i + 1]) for i in range(len(deltas))]
        inputs["log_rows_per_delta_row"] = sum(reread) / sum(deltas)
        inputs["rows"] = {"base": truth["base_rows"],
                          "snapshots": [b["source_rows"] for b in truth["batches"]]}
    elif workload == "stream_near_dedup":
        truth = gen.stream(data, seed, sizes["batches"], sizes["batch_docs"],
                           sizes["dup_share"])
        inputs.update(truth)
        inputs["rows"] = {"docs": truth["docs"],
                          "admitted": len(truth["admitted"])}
    inputs["bytes"] = _dir_bytes(data)
    manifest = {"workload": workload, "seed": seed, "sizes": sizes,
                "inputs": inputs, "refs": refs}
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, manifest_path)
    return manifest


def _pgid_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            if os.getpgid(int(pid)) == pgid:
                return True
        except ProcessLookupError:
            continue
    return False


def _become_subreaper() -> None:
    """Have orphaned descendants (the JVM, Python workers) reparented to
    this process instead of init, so ``_stop_group`` reaps them at once
    rather than waiting for init to."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the measured process group (the JVM and its
    Python workers outlive the driver by seconds of shutdown hooks whose
    only work, deleting temporary files, ``measure`` does itself) and
    wait until every process in it has ended."""
    pgid = proc.pid
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    while True:
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            break
    deadline = time.time() + 30
    while _pgid_alive(pgid) and time.time() < deadline:
        time.sleep(0.05)


def measure(manifest: dict, root: str, state: str, seconds: float,
            trace: int, fault: str | None) -> dict | None:
    run_id = f"{manifest['workload']}-s{manifest['seed']}-t{trace}-{os.getpid()}"
    work = os.path.join(state, "work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    manifest = dict(manifest, work_dir=work, source_sha=source_sha(root))
    manifest_path = os.path.join(work, "manifest.json")
    with open(manifest_path, "w") as f:
        json.dump(manifest, f)
    result_path = os.path.join(work, "result.json")
    env = dict(os.environ)
    # Python workers are started by the JVM, not by this interpreter:
    # they find the package only through PYTHONPATH.
    env["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p])
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--manifest", manifest_path, "--seconds", str(seconds),
           "--trace", str(trace), "--result", result_path]
    if fault:
        cmd += ["--fault", fault]
    _become_subreaper()
    t0 = time.time()
    proc = subprocess.Popen(cmd + ["--t0", repr(t0)], cwd=root, env=env,
                            stdout=sys.stderr, start_new_session=True)
    try:
        proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"measured process exceeded {WORKER_TIMEOUT_S} s", file=sys.stderr)
    finally:
        _stop_group(proc)
    result = None
    if proc.returncode == 0 and os.path.exists(result_path):
        with open(result_path) as f:
            result = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fault", choices=("drop_row", "raise"), default=None,
                    help="harness self-check: corrupt or fail one operation")
    args = ap.parse_args(argv)

    root = os.getcwd()
    missing = [p for p in ("__spark_entry__.py", "hive_exporter_spark")
               if not os.path.exists(os.path.join(root, p))]
    if missing:
        print(f"not a checkout of the package: missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    state = os.path.join(root, ".perfbench")
    manifest = prepare(args.workload, args.seed, os.path.join(state, "inputs"))
    result = measure(manifest, root, state, args.seconds, args.trace, args.fault)
    if result is None:
        print("measured process failed; no result", file=sys.stderr)
        return 1

    results_dir = os.path.join(state, "results")
    os.makedirs(results_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(results_dir, f"{args.workload}-s{args.seed}"
                           f"-t{args.trace}-{stamp}.json"), "w") as f:
        json.dump(result, f, indent=1)

    e2e = result["end_to_end"]
    for k in END_TO_END + REPORT_ONLY:
        print(f"{args.workload} {k} = {e2e[k]['value']:.6g} {e2e[k]['unit']}")
    print(f"{args.workload} setup_s is the median of set-ups "
          + ", ".join(f"{s:.3f}" for s in result["setups_s"]) + " s; "
          f"op_p50_s of {result['op_samples']} operations")
    for err in result["errors"]:
        print(f"{args.workload} FAILED {err}")
    if args.trace:
        for k, v in result["per_layer"].items():
            print(f"{args.workload} {k} = {v['value']:.6g} {v['unit']}")
    print("perfbench-result " + json.dumps(result))
    if args.trace:
        metrics = result["per_layer"]
    else:
        metrics = {k: e2e[k] for k in END_TO_END}
    print(json.dumps({"correct": result["correct"],
                      "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
