"""The repository benchmark: one workload, one SparkSession, one client.

Usage:
    python3 perfbench/run.py --workload {etl_medallion,query_floor,query_heavy}
        --seed N --seconds S --trace {0,1} [--scale {sf0.01,sf0.001}]
        [--expected PATH]

The run starts a single SparkSession at ``local[nproc]``, imports the query
registry, runs one untimed warm-up pass that also checks every output, then
drives timed passes in a closed loop with one client until at least
``--seconds`` have passed and at least three passes are done. Each end-to-end
metric is printed on its own line with its unit and sample count; the last
line is one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 1`` the same passes run under the span recorder
(``tracer.py``) and the JSON carries the per-layer metrics instead.

Everything the run writes stays in the checkout: temporary files under
``.perfbench/run-<pid>/`` (removed at exit) and records under
``.perfbench/records/``. See ``perfbench/README.md`` for the metric
definitions and the layer map.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402


def _process_age() -> float:
    """Seconds since this process started (kernel start time, 10 ms ticks)."""
    with open("/proc/self/stat", encoding="ascii") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


AGE0 = _process_age()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import tracer as tracing  # noqa: E402
import workloads as wl  # noqa: E402

WORKLOADS = ("etl_medallion", "query_floor", "query_heavy")
# Three passes take longer than the 8 s run length in BENCHMARK.json on every
# workload, so the pass count, and with it the positions of the quantiles,
# do not change with the speed of the machine from one run to the next.
MIN_TIMED_PASSES = 3
JVM_HEAP = "1g"
JOB_DATE = "20240201"

END_TO_END_UNITS = {
    "setup_s": "s",
    "sweep_s": "s",
    "query_geomean_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "dag_s": "s",
    "increment_p50_s": "s",
    "increment_p90_s": "s",
    "etl_rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}

LAYER_UNITS = {
    "session.get_spark_s": "s",
    "registry.import_s": "s",
    "setup.warm_pass_s": "s",
    "catalog.load_table_calls": "count",
    "catalog.load_table_s": "s",
    "catalog.load_table_jobs": "count",
    "builder.s": "s",
    "builder.self_s": "s",
    "builder.jobs": "count",
    "plan.s": "s",
    "codegen.compiles": "count",
    "codegen.compile_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.empty_task_ratio": "ratio",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.run_minus_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "ingest.write_s": "s",
    "ingest.read_s": "s",
    "ingest.bytes_written": "bytes",
    "ingest.files_written": "count",
    "ingest.bytes_written_per_input_byte": "ratio",
    "plans.preprocess_s": "s",
    "quality.report_s": "s",
    "quality.report_jobs": "count",
    "streaming.call_s": "s",
    "streaming.start_stop_s": "s",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.input_rows": "rows",
    "orchestrate.overhead_s": "s",
    "trace.overhead_s": "s",
    "trace.pass_wall_s": "s",
}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=wl.SCALES, default=wl.SCALES[0])
    ap.add_argument("--expected", default=wl.EXPECTED_PATH, help="pinned oracle hashes")
    return ap.parse_args(argv)


def configure_env(run_dir: str, nproc: int, trace: bool) -> None:
    """Keep every file Spark and Python write inside ``run_dir``; turn the
    event log on for the traced run only."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    # A pre-touched heap of fixed size keeps the JVM's peak RSS from
    # depending on when G1 decides to grow the heap.
    java_opts = f"-Xms{JVM_HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    args = ["--driver-java-options", java_opts, "--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        args += ["--conf", "spark.eventLog.enabled=true", "--conf", "spark.eventLog.compress=false"]
        args += ["--conf", f"spark.eventLog.dir=file://{log_dir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


class Run:
    """State of one benchmark run: its tracer, every op and every timed pass."""

    def __init__(self, args: argparse.Namespace, run_dir: str, nproc: int):
        self.args = args
        self.run_dir = run_dir
        self.nproc = nproc
        self.tracer = tracing.Tracer(bool(args.trace))
        self.ops: list[dict] = []
        self.passes: list[dict] = []
        self.layers: dict[str, float] = {}
        self.extra: dict = {}

    # -- one op -------------------------------------------------------------
    def op(self, name: str, pass_no: int, body) -> dict:
        """Run ``body(rec)`` as one op; an exception or a failed check marks
        the op failed and the loop goes on."""
        tag = "warm" if pass_no < 0 else f"p{pass_no}"
        rec = {"name": name, "pass": pass_no, "trace": f"{self.args.workload}/{tag}/{name}#{len(self.ops)}"}
        self.tracer.trace_id = rec["trace"]
        cg0 = self.tracer.codegen()
        t = time.perf_counter()
        try:
            with self.tracer.span("op", group=True):
                err = body(rec)
        except Exception as e:  # the loop must survive one failing op
            err = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
            traceback.print_exc(file=sys.stderr)
        rec["wall"] = time.perf_counter() - t
        cg1 = self.tracer.codegen()
        rec["compiles"], rec["compile_s"] = cg1[0] - cg0[0], cg1[1] - cg0[1]
        rec["ok"] = err is None
        if err is not None:
            rec["error"] = err
            print(f"FAILED {rec['trace']}: {err}", file=sys.stderr, flush=True)
        self.ops.append(rec)
        return rec

    def timed_loop(self, one_pass) -> None:
        start = time.perf_counter()
        self.bookkeeping0 = self.tracer.bookkeeping_s
        p = 0
        while p < MIN_TIMED_PASSES or time.perf_counter() - start < self.args.seconds:
            t = time.perf_counter()
            one_pass(p)
            self.passes.append({"pass": p, "wall": time.perf_counter() - t})
            p += 1
        self.timed_wall = time.perf_counter() - start


# ---------------------------------------------------------------------------
# query workloads
# ---------------------------------------------------------------------------


def run_queries(run: Run, spark, registry, names) -> None:
    from etl_jlp_spark.ingest import maintenance
    from tools import parity

    parity.STRICT = True
    args = run.args
    sf_dir = wl.data_dir(args.scale)
    expected = wl.load_expected(args.expected, args.scale, names)
    # Persisted-store policy: the stores keyed to the input tables are
    # removed here, so the warm-up pass builds them from empty on every run.
    stores = maintenance.live_store_paths([sf_dir])
    for path in stores:
        shutil.rmtree(path, ignore_errors=True)
    run.extra["stores"] = sorted(os.path.basename(p) for p in stores)

    def checked(name):
        def body(rec):
            sig = wl.result_signature(parity, registry.QUERIES[name](spark, sf_dir))
            if sig != expected[name]:
                return f"output mismatch: got {sig[:2]}, expected {expected[name][:2]}"
            return None

        return body

    def timed(name):
        def body(rec):
            tr = run.tracer
            with tr.span("builder", group=True):
                df = registry.QUERIES[name](spark, sf_dir)
            if tr.enabled:
                with tr.span("plan"):
                    df._jdf.queryExecution().executedPlan()
            with tr.span("exec", group=True):
                df.write.mode("overwrite").format("noop").save()
            rec["rows"] = expected[name][0]
            return None

        return body

    t = time.perf_counter()
    for name in names:
        run.op(name, -1, checked(name))
    run.layers["setup.warm_pass_s"] = time.perf_counter() - t
    run.setup_done = time.perf_counter()
    order = wl.query_order(names, args.seed)

    def one_pass(p):
        for name in order:
            run.op(name, p, timed(name))

    run.timed_loop(one_pass)
    for path in stores:
        shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------------
# etl_medallion
# ---------------------------------------------------------------------------


def run_etl(run: Run, spark) -> None:
    from etl_jlp_spark import catalog
    from etl_jlp_spark.ingest import readers, writers
    from etl_jlp_spark.orchestrate import Pipeline
    from etl_jlp_spark.plans.pipeline import preprocess_events
    from etl_jlp_spark.quality.report import QualityReport
    from etl_jlp_spark.streaming.pipeline import EVENTS_SCHEMA, incremental_to_bronze

    args, tr = run.args, run.tracer
    inputs = wl.EtlInputs(run.run_dir, args.scale, args.seed)
    expected_rows = inputs.expected_bronze_rows(run.nproc)
    lake = os.path.join(run.run_dir, "lake")
    bronze_path = os.path.join(lake, "02bronze", "events")
    stream_bronze = os.path.join(lake, "02bronze", "events_stream")
    checkpoint = os.path.join(run.run_dir, "checkpoints", "events_stream")
    input_bytes = os.path.getsize(inputs.batch_path)
    state: dict = {}

    pipeline = Pipeline("etl_medallion")

    @pipeline.step("ingest")
    def ingest(upstream):
        events = catalog.load_table(spark, inputs.sf_dir, "events")
        written = []
        with tr.span("ingest.write_entity", group=True):
            written.append(
                writers.write_entity(events, lake, "01landzone", "events", "jsonline", JOB_DATE)
            )
        with tr.span("ingest.archive_parquet", group=True):
            written.append(writers.archive_parquet(events, lake, "01landzone", "events", JOB_DATE))
        state["written"] = written

    @pipeline.step("read", depends_on=("ingest",))
    def read(upstream):
        with tr.span("ingest.read_entity", group=True):
            return readers.read_entity(spark, lake, "01landzone", "events", JOB_DATE, schema=EVENTS_SCHEMA)

    @pipeline.step("bronze", depends_on=("read",))
    def bronze(upstream):
        with tr.span("plans.preprocess", group=True):
            out = preprocess_events(upstream["read"])
            out.write.mode("overwrite").parquet(bronze_path)
        state["bronze_schema"] = out.schema

    @pipeline.step("quality", depends_on=("bronze",))
    def quality(upstream):
        with tr.span("quality.report", group=True):
            df = spark.read.schema(state["bronze_schema"]).parquet(bronze_path)
            state["report"] = (
                QualityReport(df, "events_bronze")
                .check_nulls(["event_id", "user_id", "ts"])
                .check_duplicates(["event_id"])
                .generate()
            )

    def dag(rec):
        with tr.span("orchestrate.run"):
            report = pipeline.run()
        rec["rows"] = inputs.n_batch
        if report["status"] != "success":
            return f"pipeline failed: {report['errors']}"
        read_rows = next(s["rows"] for s in report["steps"] if s["name"] == "read")
        q = state["report"]
        got = (read_rows, q["num_rows"], q["duplicate_rows"], q["nulls_event_id"])
        want = (inputs.n_batch, expected_rows, 0, 0)
        if got != want:
            return f"batch leg check (read rows, bronze rows, dup ids, null ids): got {got}, expected {want}"
        if tr.enabled:
            files = [
                os.path.join(r, f)
                for d in state["written"]
                for r, _, fs in os.walk(d)
                for f in fs
                if not f.startswith((".", "_"))
            ]
            rec["files_written"] = len(files)
            rec["bytes_written"] = sum(os.path.getsize(f) for f in files)
        return None

    def increment(rec):
        j, staged, landing = inputs.stage_increment()
        rec["increment"] = j
        t_land = time.perf_counter()
        os.rename(staged, landing)  # the file lands atomically
        with tr.span("streaming.incremental_to_bronze") as sp:
            q = incremental_to_bronze(spark, inputs.landing, stream_bronze, checkpoint)
            q.awaitTermination()
        rec["latency"] = time.perf_counter() - t_land
        rec["rows"] = inputs.n_inc
        if q.exception() is not None:
            return f"stream failed: {q.exception()}"
        if tr.enabled:
            progress = [p for p in q.recentProgress if p.numInputRows or p.durationMs.get("addBatch")]
            sp["stream_group"] = str(q.runId)
            sp["input_rows"] = sum(p.numInputRows for p in progress)
            for key in ("triggerExecution", "addBatch", "queryPlanning", "walCommit", "commitOffsets"):
                sp[key] = sum(p.durationMs.get(key, 0) for p in progress)
        return None

    def one_pass(p):
        run.op("dag", p, dag)
        for _ in range(inputs.incs_per_pass):
            run.op("increment", p, increment)

    t = time.perf_counter()
    one_pass(-1)
    run.layers["setup.warm_pass_s"] = time.perf_counter() - t
    run.setup_done = time.perf_counter()
    run.timed_loop(one_pass)

    # Every landed increment's rows must be in the streamed bronze exactly once.
    from pyspark.sql import functions as F

    id0 = inputs.n_batch
    counts = {
        r["inc"]: (r["n"], r["ids"])
        for r in spark.read.parquet(stream_bronze)
        .groupBy(((F.col("event_id") - id0) / inputs.n_inc).cast("long").alias("inc"))
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("event_id").alias("ids"))
        .collect()
    }
    for rec in run.ops:
        if rec["name"] != "increment" or not rec["ok"]:
            continue
        got = counts.get(rec["increment"])
        if got != (inputs.n_inc, inputs.n_inc):
            rec["ok"] = False
            rec["error"] = f"increment {rec['increment']} in bronze (rows, ids): {got}"
            print(f"FAILED {rec['trace']}: {rec['error']}", file=sys.stderr, flush=True)
    run.extra["input_bytes"] = input_bytes
    run.extra["expected_bronze_rows"] = expected_rows


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def _quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (inclusive method) of a non-empty list."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def end_to_end(run: Run, setup_s: float, rss_mb: float) -> tuple[dict, dict]:
    """(metric → value, metric → sample count) over the timed ops."""
    timed = [o for o in run.ops if o["pass"] >= 0 and o["ok"]]
    if not timed:
        raise SystemExit("no timed op succeeded")
    by_name: dict[str, list[float]] = {}
    for o in timed:
        by_name.setdefault(o["name"], []).append(o["wall"])
    medians = {n: statistics.median(v) for n, v in by_name.items()}
    per_pass = {n: len(v) / len(run.passes) for n, v in by_name.items()}
    walls = [o["wall"] for o in timed]
    if run.args.workload == "etl_medallion":
        dags = [o["wall"] for o in timed if o["name"] == "dag"]
        incs = [o["latency"] for o in timed if o["name"] == "increment"]
    else:
        dags = [p["wall"] for p in run.passes]
        incs = walls
    m = {
        "setup_s": setup_s,
        "sweep_s": sum(medians[n] * per_pass[n] for n in medians),
        "query_geomean_s": math.exp(statistics.fmean(math.log(v) for v in medians.values())),
        "query_p50_s": statistics.median(walls),
        "query_p90_s": _quantile(walls, 0.9),
        "dag_s": statistics.median(dags),
        "increment_p50_s": statistics.median(incs),
        "increment_p90_s": _quantile(incs, 0.9),
        "etl_rows_per_s": sum(o["rows"] for o in timed) / sum(walls),
        "peak_rss_mb": rss_mb,
    }
    n = {
        "setup_s": 1,
        "sweep_s": len(walls),
        "query_geomean_s": len(walls),
        "query_p50_s": len(walls),
        "query_p90_s": len(walls),
        "dag_s": len(dags),
        "increment_p50_s": len(incs),
        "increment_p90_s": len(incs),
        "etl_rows_per_s": len(walls),
        "peak_rss_mb": 1,
    }
    run.extra["op_medians_s"] = medians
    return m, n


def per_layer(run: Run, events: dict[str, dict]) -> dict:
    """Per-layer metrics from the spans of the timed passes, per pass
    (streaming.* per increment)."""
    spans = run.tracer.spans
    timed_traces = {o["trace"] for o in run.ops if o["pass"] >= 0}
    timed = [s for s in spans if s["trace"] in timed_traces]
    by_id = {s["id"]: s for s in spans}
    npass = len(run.passes)
    dur = tracing.duration

    def total(name, key=None):
        sel = [s for s in timed if s["name"] == name]
        return sum((s.get(key, 0) if key else dur(s)) for s in sel), len(sel)

    def inside(s, name):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
            if s["name"] == name:
                return True
        return False

    L = dict(run.layers)
    cat_s, cat_n = total("catalog.load_table")
    L["catalog.load_table_calls"] = cat_n / npass
    L["catalog.load_table_s"] = cat_s / npass
    L["catalog.load_table_jobs"] = total("catalog.load_table", "jobs")[0] / npass
    b_s = total("builder")[0]
    cat_in_builder = sum(dur(s) for s in timed if s["name"] == "catalog.load_table" and inside(s, "builder"))
    L["builder.s"] = b_s / npass
    L["builder.self_s"] = (b_s - cat_in_builder) / npass
    L["builder.jobs"] = total("builder", "jobs")[0] / npass
    L["plan.s"] = total("plan")[0] / npass
    timed_ops = [o for o in run.ops if o["pass"] >= 0]
    L["codegen.compiles"] = sum(o["compiles"] for o in timed_ops) / npass
    L["codegen.compile_s"] = sum(o["compile_s"] for o in timed_ops) / npass

    if run.args.workload == "etl_medallion":
        L["exec.s"] = sum(o["wall"] for o in timed_ops) / npass
        exec_groups = {s["group"] for s in timed if s["group"]}
        exec_groups |= {s["stream_group"] for s in timed if "stream_group" in s}
    else:
        L["exec.s"] = total("exec")[0] / npass
        exec_groups = {s["group"] for s in timed if s["name"] == "exec"}
    ex: dict[str, float] = {f: 0.0 for f in tracing.TASK_FIELDS + ("jobs", "stages")}
    for g in exec_groups:
        for f, v in events.get(g, {}).items():
            ex[f] += v
    L["exec.jobs"] = ex["jobs"] / npass
    L["exec.stages"] = ex["stages"] / npass
    L["exec.tasks"] = ex["tasks"] / npass
    L["exec.empty_task_ratio"] = ex["empty_tasks"] / ex["tasks"] if ex["tasks"] else 0.0
    L["exec.executor_run_s"] = ex["run_s"] / npass
    L["exec.executor_cpu_s"] = ex["cpu_s"] / npass
    L["exec.run_minus_cpu_s"] = (ex["run_s"] - ex["cpu_s"]) / npass
    L["exec.gc_s"] = ex["gc_s"] / npass
    L["exec.shuffle_read_bytes"] = ex["shuffle_read_bytes"] / npass
    L["exec.shuffle_write_bytes"] = ex["shuffle_write_bytes"] / npass
    L["exec.spill_bytes"] = ex["spill_bytes"] / npass

    dags = [o for o in timed_ops if o["name"] == "dag"]
    L["ingest.write_s"] = (total("ingest.write_entity")[0] + total("ingest.archive_parquet")[0]) / npass
    L["ingest.read_s"] = total("ingest.read_entity")[0] / npass
    written = sum(o.get("bytes_written", 0) for o in dags)
    L["ingest.bytes_written"] = written / npass
    L["ingest.files_written"] = sum(o.get("files_written", 0) for o in dags) / npass
    in_bytes = run.extra.get("input_bytes", 0) * len(dags)
    L["ingest.bytes_written_per_input_byte"] = written / in_bytes if in_bytes else 0.0
    L["plans.preprocess_s"] = total("plans.preprocess")[0] / npass
    L["quality.report_s"] = total("quality.report")[0] / npass
    L["quality.report_jobs"] = total("quality.report", "jobs")[0] / npass

    streams = [s for s in timed if s["name"] == "streaming.incremental_to_bronze"]
    k = max(len(streams), 1)

    def mean_ms(key):
        return sum(s.get(key, 0) for s in streams) / k

    L["streaming.call_s"] = sum(dur(s) for s in streams) / k
    L["streaming.start_stop_s"] = L["streaming.call_s"] - mean_ms("triggerExecution") / 1e3
    L["streaming.trigger_ms"] = mean_ms("triggerExecution")
    L["streaming.add_batch_ms"] = mean_ms("addBatch")
    L["streaming.query_planning_ms"] = mean_ms("queryPlanning")
    L["streaming.wal_commit_ms"] = mean_ms("walCommit")
    L["streaming.commit_offsets_ms"] = mean_ms("commitOffsets")
    L["streaming.input_rows"] = mean_ms("input_rows")

    overhead = 0.0
    for s in timed:
        if s["name"] == "orchestrate.run":
            kids = sum(dur(c) for c in timed if c["parent"] == s["id"])
            overhead += dur(s) - kids
    L["orchestrate.overhead_s"] = overhead / npass
    L["trace.overhead_s"] = (run.tracer.bookkeeping_s - run.bookkeeping0) / npass
    L["trace.pass_wall_s"] = run.timed_wall / npass
    return L


def query_breakdown(run: Run) -> dict:
    """Per traced query op: wall and its builder/plan/exec spans."""
    spans = run.tracer.spans
    out = {}
    for o in run.ops:
        if o["pass"] < 0:
            continue
        parts = {
            s["name"]: tracing.duration(s)
            for s in spans
            if s["trace"] == o["trace"] and s["name"] in ("builder", "plan", "exec")
        }
        if parts:
            parts["wall"] = o["wall"]
            parts["unaccounted"] = o["wall"] - sum(v for k, v in parts.items() if k != "wall")
            out[o["trace"]] = parts
    return out


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from the JVM's /proc status")


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def execute(args: argparse.Namespace, run_dir: str, records: str, nproc: int) -> tuple[dict, Run]:
    sys.path.insert(0, ROOT)
    run = Run(args, run_dir, nproc)
    if args.trace:
        # Bind the wrapper before the registry import: modules bind
        # ``load_table`` by name when they are imported.
        from etl_jlp_spark import catalog

        catalog.load_table = run.tracer.wrap(catalog.load_table, "catalog.load_table")
    from etl_jlp_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{nproc}]")
    run.layers["session.get_spark_s"] = time.perf_counter() - t
    try:
        spark.sparkContext.setLogLevel("ERROR")
        if args.trace:
            run.tracer.bind(spark)
        t = time.perf_counter()
        import __spark_entry__  # noqa: F401  (populates the registry)
        from etl_jlp_spark import registry

        run.layers["registry.import_s"] = time.perf_counter() - t
        if args.workload == "etl_medallion":
            run_etl(run, spark)
        else:
            names = wl.QUERY_WORKLOADS[args.workload]
            wl.check_registry(registry, names)
            run_queries(run, spark, registry, names)
        jvm_rss = jvm_peak_rss_mb(spark)
    finally:
        stop_spark(spark)
    py_rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    run.extra["rss_mb"] = {"jvm_hwm": jvm_rss, "python_max": py_rss}
    setup_s = AGE0 + (run.setup_done - T0)
    metrics, counts = end_to_end(run, setup_s, jvm_rss + py_rss)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "scale": args.scale,
        "trace": args.trace,
        "nproc": nproc,
        "passes": run.passes,
        "metrics": metrics,
        "samples": counts,
        "ops": run.ops,
        **run.extra,
    }
    if args.trace:
        events = tracing.read_event_log(os.path.join(run_dir, "eventlog"))
        record["per_layer"] = per_layer(run, events)
        record["query_breakdown"] = query_breakdown(run)
    stem = os.path.join(records, f"{args.workload}-{args.scale}-seed{args.seed}-trace{args.trace}")
    os.makedirs(records, exist_ok=True)
    with open(stem + ".json", "w", encoding="utf-8") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        run.tracer.dump(stem + "-spans.json")
    record["path"] = stem + ".json"
    return record, run


def main(argv=None) -> int:
    args = parse_args(argv)
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    configure_env(run_dir, nproc, bool(args.trace))
    try:
        record, run = execute(args, run_dir, os.path.join(work, "records"), nproc)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    attempted = len(run.ops)
    failed = sum(not o["ok"] for o in run.ops)
    for name, value in record["metrics"].items():
        print(f"{name} {value:.6g} {END_TO_END_UNITS[name]} n={record['samples'][name]}")
    print(f"error_rate {failed / attempted:.6g} ratio n={attempted}")
    if args.trace:
        out = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in record["per_layer"].items()}
        for k, v in record["per_layer"].items():
            print(f"{k} {v:.6g} {LAYER_UNITS[k]}")
    else:
        out = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in record["metrics"].items()}
    print(f"record {os.path.relpath(record['path'], ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0




if __name__ == "__main__":
    sys.exit(main())
