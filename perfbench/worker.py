"""The measured process: one workload in a fresh Python process.

Started by ``run.py`` with a manifest of already generated inputs, so
input generation counts in neither ``setup_s`` nor ``wall_s``.

Phases:

1. the cold set-up: from the process's start through imports,
   ``session.build_session``, input registration and one warm pass of
   the workload, which also checks every output against its reference
   and records the output hashes later passes must reproduce.
2. timed: ``Workload.timed_passes(--seconds)`` passes on the same
   session, a number fixed by ``--seconds`` alone, so that every run
   and every commit times the same passes: passes keep getting a
   little faster as the JIT compiles more, and a count that depended
   on the time taken would move the median along that slope. Each
   pass runs the same operations on the same inputs. Per-pass metrics
   are medians over the timed passes. Between passes the process
   tree's CPU is read from ``/proc``; Spark's status store is read
   once, after the last pass.
3. ``SETUPS - 1`` further set-ups, each stopping the session and
   repeating ``build_session`` and input registration on a fresh
   session in the same process; the JVM is warm by then, so they need
   no warm pass. ``setup_s`` is the median of all set-ups; the cold one
   alone is kept as ``setup.cold_s``.

The JVM compiles with C1 only (``JIT_OPTS``). On a 4-CPU virtual
machine, with the default tiered C2 compiler pass times kept falling
through the whole timed phase (warehouse CPU per pass 6.3 s, then 5.4,
4.1, 4.6, 3.8 s) and C2's compiler threads competed with the tasks for
the cores; with C1, after three warm passes, it held at 3.6, 3.6, 3.5,
3.5, 3.5 s. After the single warm pass a run makes now, C1 still lowers
pass times by a few percent per pass, hence the fixed pass count.

With ``--trace 1`` the timed passes alternate untraced and traced. A
traced pass records spans around every call into the package and
reads the status store after every operation; the untraced passes of
the same run give the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import sysstat  # noqa: E402
from spans import Tracer  # noqa: E402

# Set-ups per run; setup_s is their median.
SETUPS = 5
# Client-compiler JIT only, compiling at a quarter of the default
# invocation counts; see the module docstring. C1 alone reserves a 48 MB
# code cache, which filled during a traced stream run and turned the
# compiler off; the tiered default is 240 MB.
JIT_OPTS = ("-XX:TieredStopAtLevel=1 -XX:CompileThresholdScaling=0.25 "
            "-XX:ReservedCodeCacheSize=256m")


class Runner:
    """Times operations, attributes their Spark jobs, counts failures.

    An operation fails when it raises or its check fails; either way
    the failure is recorded and the pass goes on, so one broken
    operation (for example a Python worker that cannot import the
    package) shows in ``failed_share`` instead of aborting the run.
    """

    def __init__(self, spark, tracer: Tracer, fault: str | None):
        self.attach(spark)
        self.tracer = tracer
        self.fault = fault
        self.records: list[dict] = []
        self.pass_idx = 0
        self.timed = False
        # Checked operations outside the timed passes (a traced run's
        # extra measurements): they count as attempted, not as latency.
        self.extra = False
        self.traced_counters: dict[str, object] = {}

    def attach(self, spark) -> None:
        """Read the status store of ``spark`` from now on."""
        import sparkstat

        self.store = sparkstat.StatusStore(spark)

    def op(self, name: str, fn):
        group = f"{self.pass_idx}:{name}"
        self.store.set_group(group)
        self.tracer.op_id = group
        err = None
        t0 = time.perf_counter()
        try:
            with self.tracer.span("harness.op"):
                if self.fault == "raise" and self.timed and not any(
                        r["op"] == name and r["timed"] for r in self.records):
                    raise RuntimeError("fault hook: injected failure")
                fn()
        except Exception as exc:  # one failed operation must not end the run
            err = f"{type(exc).__name__}: {str(exc).strip()[:400]}"
            if not isinstance(exc, AssertionError):
                traceback.print_exc(limit=3, file=sys.stderr)
        t1 = time.perf_counter()
        self.records.append({"pass": self.pass_idx, "op": name, "group": group,
                             "timed": self.timed, "extra": self.extra,
                             "traced": self.tracer.enabled,
                             "start": t0, "s": t1 - t0, "error": err})
        if self.tracer.enabled:
            self.traced_counters.update(self.store.by_group())


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--result", required=True)
    ap.add_argument("--t0", type=float, required=True,
                    help="wall-clock time just before this process was spawned")
    ap.add_argument("--fault", choices=["drop_row", "raise"], default=None)
    args = ap.parse_args()
    with open(args.manifest) as f:
        manifest = json.load(f)
    work = manifest["work_dir"]

    import workloads

    nproc = len(os.sched_getaffinity(0))
    # Before the JVM starts, so it and the Python workers inherit it.
    cpus = workloads.pin_cpus()
    tracer = Tracer(enabled=False)
    from hive_exporter_spark.session import build_session
    import sparkstat

    cores = len(cpus)
    conf = dict(sparkstat.STORE_CONF)
    conf.update({
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'derby')} " + JIT_OPTS,
    })

    def session():
        return build_session(f"perfbench-{manifest['workload']}",
                             master=f"local[{cores}]", extra_conf=conf,
                             log_level="ERROR")

    t_session = time.perf_counter()
    spark = session()
    session_build_s = time.perf_counter() - t_session

    wl = workloads.make(manifest, spark, tracer)
    if args.trace:
        workloads.instrument(tracer)
    runner = Runner(spark, tracer, args.fault)
    wl.fault = args.fault
    me = os.getpid()
    try:
        wl.setup()
        wl.register()
        wl.before_pass(0)
        wl.run_pass(0, runner)
        wl.end_pass(0)
        setups = [time.time() - args.t0]

        runner.timed = True
        passes = []
        t_start = time.perf_counter()
        steal0 = sysstat.host_steal_s()
        n_timed = wl.timed_passes(args.seconds)
        p = 1
        while True:
            k = p - 1
            tracer.enabled = bool(args.trace) and k % 2 == 1
            runner.pass_idx = p
            wl.traced = tracer.enabled
            wl.before_pass(p)
            if tracer.enabled:
                runner.store.skip_done_jobs()
            cpu0 = sysstat.tree_cpu_rss(me)[0]
            with sysstat.RssSampler(me) as rss:
                t0 = time.perf_counter()
                wl.run_pass(p, runner)
                t1 = time.perf_counter()
            cpu1 = sysstat.tree_cpu_rss(me)[0]
            passes.append({"pass": p, "traced": tracer.enabled,
                           "wall_s": t1 - t0, "cpu_s": cpu1 - cpu0,
                           "peak_rss_bytes": rss.peak, **wl.end_pass(p)})
            p += 1
            n_plain = sum(not x["traced"] for x in passes)
            if n_plain >= n_timed and len(passes) - n_plain >= (
                    n_timed if args.trace else 0):
                break
        timed_wall = time.perf_counter() - t_start
        steal = sysstat.host_steal_s() - steal0
        tracer.enabled = False
        if args.trace:
            runner.extra = True
            wl.traced = False
            wl.extra_trace_ops(p, runner)
        timed_groups = {r["group"] for r in runner.records if r["timed"]}
        counters = runner.store.by_group(new_only=False,
                                         keep=timed_groups.__contains__)
        # The further set-ups come after the timed phase, which so runs
        # on the session the warm pass ran on: a pass on a fresh session
        # was up to 1.5x slower than the next one.
        for _ in range(1, SETUPS):
            t0 = time.perf_counter()
            spark.stop()
            spark = wl.spark = session()
            wl.register()
            setups.append(time.perf_counter() - t0)
        result = summarize(manifest, spark, runner, wl, passes, counters,
                           setups, session_build_s, timed_wall, cores,
                           bool(args.trace))
        result["meta"].update(nproc=nproc, cpus=cpus, host_steal_s=steal)
        if args.trace:
            result["spans"] = tracer.spans
    except BaseException:
        spark.stop()
        raise
    with open(args.result, "w") as f:
        json.dump(result, f)
    # Skip the session's and the interpreter's shutdown: run.py kills
    # the JVM and the Python workers and removes their files.
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(0)


def _median(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else default


def summarize(manifest, spark, runner, wl, passes, counters, setups,
              session_build_s, timed_wall, cores, traced_run):
    import sparkstat

    mb = sparkstat.MB
    plain = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    timed_ops = [r for r in runner.records if r["timed"]]
    plain_ops = [r for r in timed_ops if not r["traced"] and not r["extra"]]
    attempted = len(timed_ops)
    failed = sum(r["error"] is not None for r in timed_ops)
    lat = sorted(r["s"] for r in plain_ops)

    # Counters of the untraced timed passes, read once at the end.
    plain_passes = {p["pass"] for p in plain}
    agg = sparkstat.Counters()
    per_op: dict[str, list] = {}
    for r in timed_ops:
        c = counters.get(r["group"], sparkstat.Counters())
        per_op.setdefault(r["op"], []).append(c.exact_key())
        if r["pass"] in plain_passes:
            agg.add(c)
    n_plain = len(plain)
    end_to_end = {
        "setup_s": (statistics.median(setups), "s"),
        "wall_s": (_median([p["wall_s"] for p in plain]), "s"),
        "cpu_s": (_median([p["cpu_s"] for p in plain]), "s"),
        "peak_rss_mb": (max(p["peak_rss_bytes"] for p in plain) / mb, "MB"),
        "op_p50_s": (_median(lat), "s"),
        "shuffle_mb": ((agg.shuffle_read_bytes + agg.shuffle_write_bytes)
                       / mb / n_plain, "MB"),
        "stored_mb": (_median([p.get("stored_bytes", 0) for p in plain]) / mb,
                      "MB"),
        "failed_share": (failed / attempted if attempted else 1.0, "ratio"),
    }
    exact = {
        op: {field: len({k[i] for k in keys}) == 1
             for i, field in enumerate(("jobs", "stages", "tasks",
                                        "shuffle_bytes"))}
        for op, keys in per_op.items()}
    signature = {op: list(keys[0]) for op, keys in per_op.items()}

    result = {
        "workload": manifest["workload"],
        "seed": manifest["seed"],
        "attempted": attempted,
        "failed": failed,
        "correct": failed == 0 and attempted > 0,
        "errors": sorted({f"{r['op']}: {r['error']}" for r in timed_ops
                          if r["error"]})[:20],
        "end_to_end": {k: {"value": v, "unit": u}
                       for k, (v, u) in end_to_end.items()},
        "op_samples": len(lat),
        "setups_s": setups,
        "passes": passes,
        "ops": [{k: r[k] for k in ("pass", "op", "traced", "s", "error")}
                for r in timed_ops],
        "timed_wall_s": timed_wall,
        "exact_counters": exact,
        "counter_signature": signature,
        "meta": run_metadata(manifest, spark, cores),
    }
    if traced_run:
        layers = wl.per_layer(runner, passes, traced, session_build_s)
        layers["setup.cold_s"] = {"value": setups[0], "unit": "s"}
        layers["trace.overhead_s"] = {
            "value": _median([p["wall_s"] for p in traced])
            - _median([p["wall_s"] for p in plain]), "unit": "s"}
        for k in ("peak_rss_mb", "stored_mb", "failed_share"):
            layers[k] = result["end_to_end"][k]
        result["per_layer"] = layers
    return result


def run_metadata(manifest, spark, cores) -> dict:
    import platform

    import pyspark

    return {
        "master": spark.sparkContext.master,
        "cores_used": cores,
        "defaultParallelism": spark.sparkContext.defaultParallelism,
        "spark_version": spark.version,
        "pyspark_version": pyspark.__version__,
        "python_version": platform.python_version(),
        "source_sha": manifest["source_sha"],
        "seed": manifest["seed"],
        "inputs": {k: manifest["inputs"][k] for k in ("rows", "bytes")},
    }


if __name__ == "__main__":
    sys.exit(main())
