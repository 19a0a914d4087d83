"""The three workloads and their per-layer metrics.

Every workload runs a fixed list of operations per pass, on inputs that
the pass does not change (passes that write start from empty tables and
state), so passes are repeatable and their counts comparable.

- ``etl_ingest``: the reference's three ingestion strategies, export,
  import and a metadata snapshot. Data-bound and write-heavy.
- ``warehouse_queries``: registry queries from ``relational``, ``joins``,
  ``asof``, ``sessions`` and ``sketches``. Read-only; driver planning
  and scheduling set the cost.
- ``stream_near_dedup``: micro-batches through
  ``streaming.near_dedup_state_step`` against state that starts empty
  and grows during the run.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import pandas as pd

from check import CheckFailed, compare_frames, hash_frame, md5_pair_sum

# Memory guard for large hosts: each core adds a Python worker.
MAX_CORES = 8


def pin_cpus() -> list[int]:
    """Confine this process and everything it starts to the upper half
    of the CPUs it may use (at most ``MAX_CORES``) and return them;
    Spark runs one task thread per CPU. On a 4-CPU virtual machine of
    a shared host, using all four made the hypervisor take 1-4 s of
    CPU from the machine in a 15 s timed phase (``host_steal_s``) and
    pass times spread 16-20% over five seeds; on two pinned CPUs it
    took 0.1-0.6 s and pass times spread 8%."""
    allowed = sorted(os.sched_getaffinity(0))
    use = allowed[len(allowed) // 2:][:MAX_CORES]
    os.sched_setaffinity(0, use)
    return use


# Sizes are fixed per workload, so a seed changes contents, not volume.
SIZES = {
    "etl_ingest": {"base_rows": 10_000, "batches": 1, "batch_rows": 1_000},
    "warehouse_queries": {"scale": 0.005},
    # Batch 0 builds the state every timed pass starts from, batch 1 is
    # the timed pass; a traced run also steps through all of them.
    "stream_near_dedup": {"batches": 5, "batch_docs": 100, "dup_share": 0.2},
}

WAREHOUSE_OPS = (
    "q1_pricing_summary",          # relational
    "customers_without_orders",    # joins (anti join)
    "asof_last_purchase",          # asof
    "sessionize",                  # sessions
    "hll_distinct_users",          # sketches
)

# Per-layer metrics: name -> unit. Every traced run reports all of them;
# a layer a workload does not run reports 0.
PER_LAYER_UNITS = {
    "session.build_s": "s",
    "sources.read_table_s": "s",
    "catalog.snapshot_metadata_s": "s",
    "ingest.full_refresh_s": "s",
    "ingest.incremental_append_s": "s",
    "ingest.incremental_merge_s": "s",
    "ingest.jobs": "count",
    "ingest.log_rows_per_delta_row": "ratio",
    "sinks.export_tables_s": "s",
    "sinks.import_tables_s": "s",
    "sinks.files_written": "count",
    "sinks.bytes_written": "B",
    "query.build_s": "s",
    "query.plan_s": "s",
    "query.exec_s": "s",
    "query.rows_out": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.driver_cpu_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "stream.step_s": "s",
    "stream.admitted": "count",
    "stream.rejected": "count",
    "stream.latency_growth": "ratio",
    "state.bytes_total": "B",
    "state.bytes_eligible": "B",
    "state.rows_materialized": "count",
    "state.parts_touched": "count",
    "stream.bloom_fill": "ratio",
}
# Span names whose self time is reported as self.<name>_s.
SELF_SPANS = (
    "harness.op", "sources.read_table", "query.build", "query.plan",
    "query.exec", "ingest.full_refresh", "ingest.incremental_append",
    "ingest.incremental_merge", "sinks.write", "catalog.ddl",
    "sinks.export_tables", "sinks.import_tables",
    "catalog.snapshot_metadata", "stream.step",
)
# Whole-run figures the traced run reports next to the layers.
RUN_UNITS = {"setup.cold_s": "s", "trace.overhead_s": "s", "peak_rss_mb": "MB",
             "stored_mb": "MB", "failed_share": "ratio"}


def per_layer_units() -> dict[str, str]:
    """Every metric a traced run reports, with its unit."""
    units = dict(PER_LAYER_UNITS)
    units.update({f"self.{n}_s": "s" for n in SELF_SPANS})
    units.update(RUN_UNITS)
    return units


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``; Spark's checksum files excluded."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".crc"):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def _instrument_fn(tracer, fn, span):
    def wrapped(*args, **kwargs):
        with tracer.span(span):
            return fn(*args, **kwargs)
    wrapped.__wrapped__ = fn
    return wrapped


def instrument(tracer) -> None:
    """Wrap the package functions that workloads reach only indirectly,
    so traced passes split their time by layer. Untraced runs never
    call this."""
    import sys

    from hive_exporter_spark.operators import ingest
    from hive_exporter_spark.sources import files

    for name in ("write_partitioned", "insert_by_name", "safe_overwrite"):
        setattr(ingest, name, _instrument_fn(tracer, getattr(ingest, name),
                                             "sinks.write"))
    for name in ("create_database", "drop_table", "clone_schema",
                 "table_exists"):
        setattr(ingest, name, _instrument_fn(tracer, getattr(ingest, name),
                                             "catalog.ddl"))
    original = files.read_table
    traced = _instrument_fn(tracer, original, "sources.read_table")
    for mod in list(sys.modules.values()):
        if getattr(mod, "read_table", None) is original:
            mod.read_table = traced


class Workload:
    name = ""
    # Timed passes a run makes at least, however long they take.
    min_timed_passes = 3
    # About how long a pass takes on two CPUs; sets how many passes fit
    # in --seconds.
    pass_s = 1.0

    def __init__(self, manifest: dict, spark, tracer):
        self.m = manifest
        self.spark = spark
        self.tracer = tracer
        self.work = manifest["work_dir"]
        self.fault = None
        self.traced = False

    def setup(self) -> None:
        """Once per run: state that outlives the run's sessions."""

    def register(self) -> None:
        """Once per session: input registration. Every set-up of the
        run calls it on a fresh session."""

    def timed_passes(self, seconds: float) -> int:
        return max(self.min_timed_passes, round(seconds / self.pass_s))

    def before_pass(self, p: int) -> None:
        """Untimed preparation of pass ``p``."""

    def run_pass(self, p: int, run) -> None:
        raise NotImplementedError

    def end_pass(self, p: int) -> dict:
        return {}

    def extra_trace_ops(self, p: int, run) -> None:
        """Checked, untraced operations a traced run makes after its
        timed passes, for per-layer metrics the passes cannot give."""

    def read_input(self, path: str):
        """Read a generated parquet input through the package's file
        source, as a user would read a dataset."""
        from hive_exporter_spark.sources import files

        folder, name = os.path.split(path)
        return files.read_table(self.spark, folder, name.removesuffix(".parquet"))

    # -- per-layer ------------------------------------------------------
    def per_layer(self, runner, passes, traced_passes, session_build_s):
        traced_ids = {p["pass"] for p in traced_passes}
        spans = [s for s in self.tracer.spans
                 if s["op"] and int(s["op"].split(":")[0]) in traced_ids]
        n = max(1, len(traced_ids))
        out = {k: 0.0 for k in PER_LAYER_UNITS}
        out["session.build_s"] = session_build_s

        def per_pass(name):
            return sum(s["end"] - s["start"] for s in spans
                       if s["name"] == name) / n

        for span, metric in (
                ("sources.read_table", "sources.read_table_s"),
                ("catalog.snapshot_metadata", "catalog.snapshot_metadata_s"),
                ("ingest.full_refresh", "ingest.full_refresh_s"),
                ("ingest.incremental_append", "ingest.incremental_append_s"),
                ("ingest.incremental_merge", "ingest.incremental_merge_s"),
                ("sinks.export_tables", "sinks.export_tables_s"),
                ("sinks.import_tables", "sinks.import_tables_s"),
                ("query.build", "query.build_s"),
                ("query.plan", "query.plan_s"),
                ("query.exec", "query.exec_s")):
            out[metric] = per_pass(span)

        import sparkstat
        ops = [r for r in runner.records if r["pass"] in traced_ids]
        counters = [runner.traced_counters.get(r["group"], sparkstat.Counters())
                    for r in ops]
        total = sparkstat.Counters()
        for c in counters:
            total.add(c)
        n_ops = max(1, len(ops))
        out["spark.jobs"] = total.jobs / n_ops
        out["spark.stages"] = total.stages / n_ops
        out["spark.tasks"] = total.tasks / n_ops
        out["spark.executor_cpu_s"] = total.executor_cpu_s / n
        out["spark.gc_s"] = total.gc_s / n
        cpu = statistics.median(p["cpu_s"] for p in traced_passes)
        out["spark.driver_cpu_s"] = cpu - total.executor_cpu_s / n
        out["spark.shuffle_read_mb"] = total.shuffle_read_bytes / sparkstat.MB / n
        out["spark.shuffle_write_mb"] = total.shuffle_write_bytes / sparkstat.MB / n
        out["spark.spill_mb"] = total.spill_bytes / sparkstat.MB / n

        self_times = self.tracer.self_times(
            lambda s: s["op"] and int(s["op"].split(":")[0]) in traced_ids)
        for name in SELF_SPANS:
            out[f"self.{name}_s"] = self_times.get(name, 0.0) / n
        self.layer_extras(out, runner, ops, counters, passes, traced_passes)
        units = per_layer_units()
        return {k: {"value": float(v), "unit": units[k]} for k, v in out.items()}

    def layer_extras(self, out, runner, ops, counters, passes, traced):
        pass


# ---------------------------------------------------------------------------
# warehouse_queries
# ---------------------------------------------------------------------------

class WarehouseQueries(Workload):
    name = "warehouse_queries"
    pass_s = 2.8
    ops = WAREHOUSE_OPS
    tables = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events")

    def setup(self) -> None:
        import __spark_entry__ as entry

        self.q = entry.queries()
        self.sf = self.m["inputs"]["dir"]
        self.ref_hash: dict[str, tuple] = {}
        self.valid: set[str] = set()
        self.rows_out: dict[tuple, int] = {}

    def register(self) -> None:
        from hive_exporter_spark.sources.files import read_table

        # Resolve every table's files and schema.
        for t in self.tables:
            read_table(self.spark, self.sf, t).schema

    def run_pass(self, p, run):
        for name in self.ops:
            run.op(name, lambda name=name: self._op(name, p))

    def _op(self, name: str, p: int) -> None:
        tr = self.tracer
        with tr.span("query.build"):
            df = self.q[name](self.spark, self.sf)
        if p == 0:
            pdf = df.toPandas()
            self.check_values(name, pdf)
            self.valid.add(name)
        if self.fault == "drop_row" and name == self.ops[0] and p >= 1:
            df = df.offset(1)
        h = hash_frame(df)
        if tr.enabled:
            with tr.span("query.plan"):
                h._jdf.queryExecution().executedPlan()
        with tr.span("query.exec"):
            row = h.collect()[0]
        got = (row["n"], row["lo"], row["hi"])
        self.rows_out[(p, name)] = row["n"]
        if name not in self.valid:
            raise CheckFailed(f"{name}: no validated reference")
        ref = self.ref_hash.setdefault(name, got)
        if got != ref:
            raise CheckFailed(f"{name}: output hash {got} != reference {ref}")

    def check_values(self, name: str, pdf: pd.DataFrame) -> None:
        ref_path = self.m["refs"].get(name)
        if ref_path is None:
            raise CheckFailed(f"{name}: no reference")
        ref = pd.read_parquet(ref_path)
        problems = compare_frames(pdf, ref)
        if problems:
            raise CheckFailed(f"{name}: " + "; ".join(problems[:3]))

    def layer_extras(self, out, runner, ops, counters, passes, traced):
        traced_ids = {p["pass"] for p in traced}
        out["query.rows_out"] = sum(v for (p, _), v in self.rows_out.items()
                                    if p in traced_ids) / max(1, len(traced))


# ---------------------------------------------------------------------------
# etl_ingest
# ---------------------------------------------------------------------------

class EtlIngest(Workload):
    name = "etl_ingest"
    pass_s = 6.5

    def setup(self):
        from hive_exporter_spark import catalog, sinks
        from hive_exporter_spark.operators import ingest

        self.catalog, self.sinks, self.ingest = catalog, sinks, ingest
        self.inp = self.m["inputs"]
        self.stats: dict[int, dict] = {}

    def _names(self, p):
        T = self.catalog.TableName
        db = f"etl_p{p}"
        return db, T(db, "full"), T(db, "log"), T(db, "merged")

    def run_pass(self, p, run):
        spark, tr, inp = self.spark, self.tracer, self.inp
        ingest = self.ingest
        db, full, log, merged = self._names(p)
        batches = inp["batches"]
        read = self.read_input

        def expect(cond, msg):
            if not cond:
                raise CheckFailed(msg)

        def full_refresh():
            with tr.span("ingest.full_refresh"):
                rep = ingest.full_refresh(spark, read(inp["base"]), full,
                                          "20260101T000000", drop_first=True)
            expect(rep.reconciled and rep.destination_count == inp["base_rows"],
                   f"full_refresh {rep}")
        run.op("full_refresh", full_refresh)

        for b, path in enumerate(inp["snapshots"]):
            def append(b=b, path=path):
                with tr.span("ingest.incremental_append"):
                    rep = ingest.incremental_append(
                        spark, read(path), log, "id", f"20260102T{b:06d}")
                expect(rep.reconciled and rep.destination_count
                       == batches[b]["source_rows"], f"append {b}: {rep}")
            run.op(f"append{b}", append)

        for b, path in enumerate(inp["snapshots"]):
            def merge(b=b, path=path):
                with tr.span("ingest.incremental_merge"):
                    rep = ingest.incremental_merge(
                        spark, read(path), merged, ["id"], "last_modified",
                        "id", f"20260103T{b:06d}", deleted_column="deleted",
                        scratch_db=f"etl_scratch_p{p}")
                expect(rep.destination_count == batches[b]["live_rows"],
                       f"merge {b}: {rep}, expected "
                       f"{batches[b]['live_rows']} live rows")
                if b == len(batches) - 1:
                    df = spark.table(str(merged))
                    if self.fault == "drop_row" and p >= 1:
                        df = df.offset(1)
                    row = md5_pair_sum(df, "id", "value").collect()[0]
                    expect((row["n"], row["s"]) == (inp["final_live_rows"],
                                                    inp["final_live_hash"]),
                           "merged table differs from the expected final table")
            run.op(f"merge{b}", merge)

        export_dir = os.path.join(self.work, f"export_p{p}")
        tables = [str(full), str(log), str(merged)]
        paths: dict = {}

        def export():
            with tr.span("sinks.export_tables"):
                paths.update(self.sinks.export_tables(spark, tables, export_dir))
            expect(sorted(paths) == sorted(tables), f"export {paths}")
        run.op("export_tables", export)

        imp_db = f"etl_import_p{p}"

        def import_():
            with tr.span("sinks.import_tables"):
                created = self.sinks.import_tables(spark, list(paths.values()),
                                                   imp_db)
            expect(len(created) == 3, f"import {created}")
            counts = [spark.table(t).count() for t in created]
            expect(counts == [inp["base_rows"], inp["append_rows"],
                              inp["final_live_rows"]],
                   f"imported row counts {counts}")
        run.op("import_tables", import_)

        def snapshot():
            with tr.span("catalog.snapshot_metadata"):
                rows = self.catalog.snapshot_metadata(
                    spark, [db, imp_db], extract_ts=0).collect()
            expect(len(rows) == 7 and all("CREATE" in r["createstmt"]
                                          for r in rows),
                   f"snapshot of {len(rows)} tables")
        run.op("snapshot_metadata", snapshot)

    def end_pass(self, p):
        db, *_ = self._names(p)
        wh = os.path.join(self.work, "warehouse")
        dirs = [os.path.join(wh, f"{d}.db") for d in
                (db, f"etl_import_p{p}", f"etl_scratch_p{p}")]
        dirs.append(os.path.join(self.work, f"export_p{p}"))
        files = size = 0
        for d in dirs:
            f, s = dir_stats(d)
            files += f
            size += s
        self.stats[p] = {"files": files, "bytes": size}
        for d in (db, f"etl_import_p{p}", f"etl_scratch_p{p}"):
            self.spark.sql(f"DROP DATABASE IF EXISTS {d} CASCADE")
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)
        return {"stored_bytes": size}

    def layer_extras(self, out, runner, ops, counters, passes, traced):
        ingest_ops = [c for r, c in zip(ops, counters)
                      if r["op"].startswith(("full_refresh", "append", "merge"))]
        out["ingest.jobs"] = sum(c.jobs for c in ingest_ops) / max(1, len(ingest_ops))
        out["ingest.log_rows_per_delta_row"] = self.inp["log_rows_per_delta_row"]
        ids = [p["pass"] for p in traced]
        out["sinks.files_written"] = statistics.median(
            self.stats[i]["files"] for i in ids)
        out["sinks.bytes_written"] = statistics.median(
            self.stats[i]["bytes"] for i in ids)


# ---------------------------------------------------------------------------
# stream_near_dedup
# ---------------------------------------------------------------------------

class StreamNearDedup(Workload):
    """One pass is one micro-batch: batch 1 against the state batch 0
    left. Registration builds that state from empty once per run and
    copies it; every pass starts from the copy, so every pass does the
    same work on the same state, and grows it by one batch. A traced
    run then also steps through every batch in order, for the latency
    growth with state size."""

    name = "stream_near_dedup"
    pass_s = 4.0

    def setup(self):
        from hive_exporter_spark.streaming import streams

        self.streams = streams
        self.inp = self.m["inputs"]
        self.admitted = set(self.inp["admitted"])
        self.root = os.path.join(self.work, "stream")
        self.base = os.path.join(self.work, "stream_base")
        self.step_stats: dict[int, dict] = {}
        self.counts: dict[int, tuple] = {}
        self.growth: list[float] = []

    def register(self) -> None:
        # The first set-up ingests batch 0 into empty state; later ones
        # find the copy on disk.
        if os.path.exists(self.base):
            return
        shutil.rmtree(self.root, ignore_errors=True)
        self._step(-1, self.inp["batches"][0], stats=False)
        shutil.copytree(self.root, self.base)

    def before_pass(self, p):
        shutil.rmtree(self.root, ignore_errors=True)
        shutil.copytree(self.base, self.root)

    def run_pass(self, p, run):
        path = self.inp["batches"][1]
        run.op("step", lambda: self._step(p, path, self.traced))

    def extra_trace_ops(self, p, run):
        self.before_pass(p)
        for b, path in enumerate(self.inp["batches"][1:], start=1):
            run.pass_idx = p + b
            t0 = time.perf_counter()
            run.op(f"grow{b}",
                   lambda b=b, path=path: self._step(p + b, path, False))
            self.growth.append(time.perf_counter() - t0)

    def _step(self, p, path, stats):
        batch = self.read_input(path)
        with self.tracer.span("stream.step"):
            adm, st = self.streams.near_dedup_state_step(
                batch, os.path.join(self.root, "state"),
                os.path.join(self.root, "out"), collect_stats=stats)
            got = {r["doc_id"] for r in adm.select("doc_id").collect()}
        if st:
            self.step_stats[p] = st
        ids = set(pd.read_parquet(path, columns=["doc_id"])["doc_id"])
        want = ids & self.admitted
        if self.fault == "drop_row" and p >= 1:
            got = set(sorted(got)[1:])
        self.counts[p] = (len(got), len(ids) - len(got))
        if got != want:
            raise CheckFailed(
                f"pass {p}: admitted {len(got)}, expected {len(want)}"
                f" ({len(got - want)} wrongly admitted, "
                f"{len(want - got)} wrongly rejected)")

    def end_pass(self, p):
        return {"stored_bytes": dir_stats(self.root)[1]}

    def layer_extras(self, out, runner, ops, counters, passes, traced):
        ids = [p["pass"] for p in traced]
        steps = [s["end"] - s["start"] for s in self.tracer.spans
                 if s["name"] == "stream.step"
                 and int(s["op"].split(":")[0]) in ids]
        out["stream.step_s"] = statistics.median(steps)
        # From the untraced walk through every batch: traced steps also
        # run collect_stats' count() jobs.
        q = max(1, len(self.growth) // 4)
        out["stream.latency_growth"] = (statistics.median(self.growth[-q:])
                                        / statistics.median(self.growth[:q]))
        out["stream.admitted"] = sum(self.counts[i][0] for i in ids) / len(ids)
        out["stream.rejected"] = sum(self.counts[i][1] for i in ids) / len(ids)
        st = [self.step_stats[i] for i in ids if i in self.step_stats]
        if st:
            out["state.bytes_total"] = st[-1]["state_bytes_total"]
            out["state.bytes_eligible"] = statistics.mean(
                s["state_bytes_eligible"] for s in st)
            out["state.rows_materialized"] = statistics.mean(
                s["state_rows_materialized"] for s in st)
            out["state.parts_touched"] = statistics.mean(
                s["n_parts_touched"] or 0 for s in st)
            fills = [s.get("band_bloom_fill") or s.get("digest_bloom_fill")
                     for s in st]
            out["stream.bloom_fill"] = fills[-1] or 0.0


WORKLOADS = {w.name: w for w in (EtlIngest, WarehouseQueries, StreamNearDedup)}


def make(manifest, spark, tracer) -> Workload:
    return WORKLOADS[manifest["workload"]](manifest, spark, tracer)
