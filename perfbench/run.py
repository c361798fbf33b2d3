"""Warehouse benchmark: the reference pipeline ODS → DWD → DWM → DWS → ADS,
run end to end through the package's public functions.

    python3 perfbench/run.py --workload batch_replay --seed 1 --seconds 2 --trace 0

Run it from the repository root. Workloads:

- ``batch_replay``: the ten apps in batch mode, one after another, each
  reading the previous layer's parquet output; then a closed-loop ADS
  phase (2 clients, the ``plans.ads`` endpoints round-robin over dates,
  a fixed number of rounds so every run makes the same calls).
- ``stream_catchup``: the same ODS records as a fixed backlog of files,
  drained by eight ``availableNow`` streaming queries with a fixed
  files-per-trigger; then the same ADS phase over the DWS tables the
  stream committed.

With ``--trace 0`` the last stdout line carries the end-to-end metrics,
with ``--trace 1`` the per-layer metrics of a traced run (Spark event log
on, one job group per span). Every run checks the pipeline's outputs; a
failed check prints ``"correct": false`` and exits 1.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "gmall_flink_210726_spark"

SETUP_REPS = 3          # set-ups per run; setup_s is their median
BACKLOG_FILES = 2       # ODS files per topic in the streaming backlog
FILES_PER_TRIGGER = 1
ADS_CLIENTS = 2
ADS_ROUND_S = 1.5       # one ADS round (endpoints x dates) on 4 cores; sets the rounds --seconds buys

END_TO_END = {  # name → unit
    "setup_s": "s", "replay_s": "s", "drain_events_per_s": "events/s", "error_rate": "ratio",
}
APPS = ("dwd.base_log_app", "dwd.base_db_app", "dwm.unique_visit_app", "dwm.user_jump_detail_app",
        "dwm.order_wide_app", "dwm.payment_wide_app", "dws.visitor_stats_app", "dws.product_stats_app",
        "dws.province_stats_app", "dws.keyword_stats_app")
APP_OUTPUTS = {"dwd.base_log_app": ("page", "start", "display", "dirty"),
               "dwd.base_db_app": ("dwd_order_info", "dwd_order_detail", "dwd_payment_info"),
               "dwm.unique_visit_app": ("unique_visit",), "dwm.user_jump_detail_app": ("user_jump",),
               "dwm.order_wide_app": ("order_wide",), "dwm.payment_wide_app": ("payment_wide",),
               "dws.visitor_stats_app": ("visitor_stats",), "dws.product_stats_app": ("product_stats",),
               "dws.province_stats_app": ("province_stats",), "dws.keyword_stats_app": ("keyword_stats",)}
LAYERS = ("ods", "dwd", "dwm", "dws", "ads")
STATEFUL = ("base_log", "unique_visit", "user_jump", "order_wide", "visitor_stats", "keyword_stats",
            "product_stats")
# Share of a traced run's measured wall time that may fall outside every
# layer span (the benchmark's own loop, building the next streaming
# stage); more means a layer call runs unmeasured.
UNCOVERED_TOLERANCE = 0.05


def _prepare_env() -> None:
    """Keep every file the run writes inside the checkout."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # spark-submit first runs a launcher JVM, which would write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, HERE]


def _conf(event_log: str | None) -> dict:
    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tempfile.tempdir} -XX:-UsePerfData",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"})
    return conf


class Run:
    def __init__(self, args):
        from gmall_flink_210726_spark import session

        import checks
        import gen
        import pipeline
        import tracing

        self.args = args
        self.session, self.gen, self.pl, self.tracing, self.checks = session, gen, pipeline, tracing, checks
        self.spark = None
        self.event_log = os.path.join(WORK, "trace", "eventlog") if args.trace else None
        self.layer = {}      # per-layer metrics
        self.attempted = 0
        self.failed = 0

    # ------------------------------------------------------------ set-up
    def start_session(self) -> float:
        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = self.session.get_spark("perfbench", extra_conf=_conf(self.event_log))
        self.session.ship_package(self.spark)
        return time.perf_counter() - t0

    def setup(self) -> float:
        """Session start and package shipping, input generation and the
        dim tables, done ``SETUP_REPS`` times; returns the median. The
        first set-up launches the JVM, the later ones restart the session
        in it. Nothing else is warmed up: both workloads time a fresh
        pass, the way a replay job or a restarted stream meets its
        backlog."""
        reps = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            start_s = self.start_session()
            t1 = time.perf_counter()
            self.ods = self.gen.derive_ods(self.gen.source_tables(self.args.seed), self.args.seed)
            ods_root = os.path.join(WORK, "ods")
            shutil.rmtree(ods_root, ignore_errors=True)
            self.paths = self.gen.write_ods(self.ods, ods_root, BACKLOG_FILES)
            t2 = time.perf_counter()
            self.dims_root = os.path.join(WORK, "dims")
            shutil.rmtree(self.dims_root, ignore_errors=True)
            upsert_s = self.pl.write_dims(self.spark, self.ods, self.dims_root)
            t3 = time.perf_counter()
            reps.append({"setup_s": t3 - t0, "session.start_s": start_s, "gen.ods_s": t2 - t1,
                         "sinks.upsert_dim_table_ms": 1000 * upsert_s})
            log("setup: " + ", ".join(f"{k} {v:.2f}" for k, v in reps[-1].items()))
        for k in ("session.start_s", "gen.ods_s", "sinks.upsert_dim_table_ms"):
            self.layer[k] = statistics.median(r[k] for r in reps)
        return statistics.median(r["setup_s"] for r in reps)

    @property
    def ods_records(self) -> int:
        return self.ods.counts["log_lines"] + self.ods.counts["cdc_lines"]

    # ------------------------------------------------------------ phases
    def pipeline(self, tr):
        """One replay pass or one drain of the whole backlog. Returns
        (seconds, PassResult or DrainResult)."""
        if self.args.workload == "batch_replay":
            out = os.path.join(WORK, "batch")
            self.pl.reset(out)
            with tr.span("replay", "bench") as s:
                res = self.pl.batch_pass(self.spark, tr, self.paths, self.dims_root, out)
            self.attempted += len(APPS)
            self.dws_out = out
        else:
            out = os.path.join(WORK, "stream")
            self.pl.reset(out)
            with tr.span("drain", "bench") as s:
                res = self.pl.stream_drain(self.spark, tr, self.paths, self.dims_root, out, FILES_PER_TRIGGER)
            self.attempted += sum(len(p) for p in res.progress.values())
            self.failed += len(res.failed)
            self.dws_out = os.path.join(out, "dws")
        self.out = out
        log(f"{self.args.workload}: pipeline {s.duration:.1f} s")
        return s.duration, res

    def check(self, res) -> None:
        if self.args.workload == "batch_replay":
            self.check_batch(res, self.out)
        else:
            self.check_stream(res, self.out)

    def check_batch(self, res, out: str) -> None:
        res.rows.update({k: self.checks.count_rows(os.path.join(out, k)) for k in self.pl.BATCH_TABLES})
        res.rows["payment_wide.payments"] = self.checks.count_distinct(os.path.join(out, "payment_wide"),
                                                                       "payment_id")
        log(f"rows: {json.dumps(res.rows, sort_keys=True)}")
        self.checks.check_rows(self.args.seed, res.rows, self.ods.counts)
        self.checks.check_oracle(out, self.paths, self.ods.dims)

    def check_stream(self, res, out: str) -> None:
        self.checks.expect(not res.failed, f"streaming queries failed: {res.failed}")
        res.rows.update({k: self.checks.count_rows(os.path.join(out, v)) for k, v in self.pl.STREAM_TABLES.items()})
        log(f"rows: {json.dumps(res.rows, sort_keys=True)}")
        self.checks.check_stream_rows(self.args.seed, res.rows, self.ods.counts)
        self.checks.check_stream_oracle(os.path.join(out, "dws"), self.paths)

    def ads(self, tr, seconds: float):
        rd = self.spark.read.parquet
        tables = {n: rd(os.path.join(self.dws_out, n)) for n in
                  ("visitor_stats", "keyword_stats", "product_stats", "province_stats")
                  if os.path.isdir(os.path.join(self.dws_out, n))}
        dates = self.pl.ads_dates(self.dws_out, tables)
        self.checks.expect(len(dates) == self.gen.SPAN_DAYS, f"DWS tables cover dates {dates}")
        with tr.span("ads", "bench"):
            res = self.pl.ads_phase(tr, tables, dates, max(1, round(seconds / ADS_ROUND_S)), ADS_CLIENTS)
        self.attempted += res.attempted
        self.failed += res.failures
        log(f"ads: {res.attempted} queries, {res.failures} failed, {res.seconds:.1f} s")
        return res

    # ------------------------------------------------------------ metrics
    def end_to_end(self, setup_s: float, pipeline_s: float) -> dict:
        return {
            "setup_s": setup_s,
            "replay_s": pipeline_s,
            "drain_events_per_s": self.ods_records / pipeline_s,
            "error_rate": self.failed / self.attempted,
        }


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _median_or_zero(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def per_layer(run: Run, tr, groups: dict, res, ads, traced_s: float) -> dict:
    """Per-layer metrics of a traced run. Layers the workload does not
    exercise report 0."""
    pl, tracing = run.pl, run.tracing
    m = dict(run.layer)
    rows = res.rows
    lines = run.ods.counts["log_lines"]
    for app in APPS:
        m[f"{app}.s"] = _median_or_zero(s.duration for s in tr.spans if s.name == app)
        m[f"{app}.rows_out"] = sum(rows.get(t, 0) for t in APP_OUTPUTS[app]) if m[f"{app}.s"] else 0
    sentinel = 0 if "dirty" in rows else 1  # the stream backlog carries one sentinel page event
    dirty = rows.get("dirty", lines + sentinel - rows["page"] - rows["start"])
    m["ods.dirty_ratio"] = dirty / lines
    m["dwm.order_wide_app.join_hit_ratio"] = (rows["order_wide"] - sentinel) / (rows["dwd_order_detail"] - sentinel)
    m["dwm.payment_wide_app.match_ratio"] = rows.get("payment_wide.payments", 0) / rows["dwd_payment_info"]
    # execution per warehouse layer, from the event log; pipeline layers
    # are per pass (one per run), ADS per query
    for L in LAYERS:
        items = [(s, groups.get(s.attrs.get("run_id") or tracing.group_id(s.id))) for s in tr.spans
                 if s.layer == L]
        gs = [g for _, g in items if g is not None]
        norm = max(ads.attempted, 1) if L == "ads" else 1
        driver = sum(s.duration * 1000 - 1000 * tracing.union_length(g.jobs if g else [], s.start, s.end)
                     for s, g in items)
        m[f"{L}.driver_ms"] = driver / norm
        m[f"{L}.executor_run_ms"] = sum(g.executor_run_ms for g in gs) / norm
        m[f"{L}.executor_cpu_ms"] = sum(g.executor_cpu_ms for g in gs) / norm
        m[f"{L}.gc_ms"] = sum(g.gc_ms for g in gs) / norm
        m[f"{L}.shuffle_write_bytes"] = sum(g.shuffle_write_bytes for g in gs) / norm
        m[f"{L}.spill_bytes"] = sum(g.spill_bytes for g in gs) / norm
    for name, _ in pl.ENDPOINTS:
        m[f"ads.{name}.p50_ms"] = 1000 * _median_or_zero(ads.ok.get(name, []))
    # each working endpoint's median, averaged: the pooled median of
    # endpoints with different latencies jumps with the mix a run completed
    m["ads.p50_ms"] = statistics.mean(1000 * statistics.median(v) for v in ads.ok.values() if v)
    m["ads.qps"] = sum(map(len, ads.ok.values())) / ads.seconds
    m["ads.failed"] = ads.failures
    progress = getattr(res, "progress", {})
    trig = []
    for q in pl.STREAM_QUERIES:
        prog = progress.get(q, [])
        for k in ("addBatch", "walCommit", "commitOffsets", "queryPlanning"):
            m[f"stream.{q}.{k}_ms"] = _median_or_zero(p["durationMs"].get(k, 0) for p in prog)
        m[f"stream.{q}.input_rows"] = sum(p["numInputRows"] for p in prog)
        if q in STATEFUL:
            m[f"stream.{q}.state_rows"] = max((sum(o["numRowsTotal"] for o in p["stateOperators"])
                                               for p in prog), default=0)
            m[f"stream.{q}.state_bytes"] = max((sum(o["memoryUsedBytes"] for o in p["stateOperators"])
                                                for p in prog), default=0)
        trig += [p["durationMs"]["triggerExecution"] for p in prog]
    m["stream.microbatches"] = len(trig)
    # 21 micro-batches per drain by construction (2 files, 1 per trigger,
    # plus the watermark flush), just enough for a median with ten beyond
    m["stream.microbatch_p50_ms"] = tracing.percentile(trig, 0.5) if trig else 0.0
    m["sinks.append_stats_exactly_once.p50_ms"] = 1000 * _median_or_zero(getattr(res, "append_s", []))
    m["sinks.read_dim_table.p50_ms"] = 1000 * _median_or_zero(getattr(res, "read_dim_s", []))
    # the traced pass; repeat.py divides it by the untraced run's
    # replay_s of the same seed for trace.overhead_ratio
    m["trace.replay_s"] = traced_s
    return m


def _stop_jvm() -> None:
    """End the JVM that pyspark launched and wait for it, so no process
    of the run outlives it. The JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


UNITS = {"_ms": "ms", "_s": "s", ".s": "s", "rows_out": "rows", "_ratio": "ratio", "_rows": "rows",
         "_bytes": "bytes", "failed": "count", "microbatches": "count", ".qps": "queries/s"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    raise KeyError(name)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("batch_replay", "stream_catchup"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found under {ROOT}: run from the repository root", file=sys.stderr)
        return 2
    _prepare_env()
    import pyspark

    run = Run(args)
    checks = run.checks
    try:
        setup_s = run.setup()
        tr = run.tracing.Tracer(run.spark if args.trace else None)
        with tr.span("measure", "bench") as root:
            pipeline_s, res = run.pipeline(tr)
            ads = run.ads(tr, args.seconds)
        run.check(res)
        if args.trace:
            run.spark.stop()
            groups = {}
            for f in sorted(os.listdir(run.event_log)):  # one log per set-up's session
                groups.update(run.tracing.rollup_event_log(os.path.join(run.event_log, f)))
            metrics = per_layer(run, tr, groups, res, ads, pipeline_s)
            shares = tr.attribute(root)
            checks.expect(shares.get("bench", 0.0) <= UNCOVERED_TOLERANCE * root.duration,
                          f"{shares.get('bench', 0.0):.2f} s of {root.duration:.2f} s lies outside "
                          f"every layer span (tolerance {UNCOVERED_TOLERANCE:.0%}): {shares}")
            tr.dump(os.path.join(WORK, "trace", "spans.json"))
            print(json.dumps({"layer_wall_s": shares, "wall_s": root.duration}))
            out = {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}
        else:
            metrics = run.end_to_end(setup_s, pipeline_s)
            out = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
        correct = True
    except checks.CheckFailed as e:
        log(f"check failed: {e}")
        correct, out = False, {}
    finally:
        if run.spark is not None:
            run.spark.stop()
        _stop_jvm()
    print(json.dumps({"context": {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"), "nproc": os.cpu_count(),
        "scale": dataclasses.asdict(run.gen.Scale()),
        "pyspark": pyspark.__version__, "ods_records": run.ods_records if hasattr(run, "ods") else None}}))
    print(json.dumps({"correct": correct, "attempted": max(run.attempted, 1), "failed": run.failed,
                      "metrics": out}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
