"""Repository benchmark: interactive SQL and a batch pipeline with event
ingest, measured end to end, with a separate traced run per layer.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload sql_interactive --seed 1 \\
        --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics from spans and Spark's job/stage accounting.  ``--smoke`` runs
the same code at scale factor 0.001 in a few seconds of work.  The last
line of stdout is one JSON object ``{correct, attempted, failed,
metrics}``; the line before it is a fuller report (host stamp, session
conf, the per-workload figures by name, failures).  perfbench/README.md
describes the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("sql_interactive", "pipeline_ingest")
# set-ups per run; setup_s is their median.  Repeated set-ups get faster
# for the first eight or so (the JVM compiles the session code), so the
# median of 15 sits where they have about levelled off.
SETUPS = 15
SF, SMOKE_SF = 0.01, 0.001
# replicated events for the ingest streams: rows per copy, copies,
# files per micro-batch
INGEST = (100_000, 3, 1)
SMOKE_INGEST = (2_000, 2, 1)

E2E_UNITS = {
    "setup_s": "s", "pass_s": "s", "op_p50_ms": "ms", "op_tail_ms": "ms",
}
OPERATOR_LAYERS = (
    "operators.similarity", "operators.dedup", "operators.search",
    "operators.stats", "operators.basket", "operators.graph_rank",
    "operators.text", "plans.graph",
)
SELF_LAYERS = (
    "session", "catalog", "client", "engine", "engine.gate",
    "engine.analyze", "engine.collect", "sources.csv_tool",
    "queries.pipeline", "operators", "sink", "streaming.events",
    "streaming.upsert",
)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def tail_quantile(n: int) -> float:
    """p90, or the highest percentile with at least ten samples beyond
    it when there are fewer than 100; never below the median."""
    return max(0.5, min(0.9, 1.0 - 10.0 / n)) if n else 0.5


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (0 for no samples)."""
    if not values:
        return 0.0
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# ------------------------------------------------------------- host --


def _cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals)


def _status_kb(pid: int | str, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _jvm_pid(root_pid: int) -> int | None:
    """The java process at or below ``root_pid`` (the launcher may exec
    java or spawn it)."""
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
            with open(f"/proc/{pid}/task/{pid}/children") as f:
                todo += [int(c) for c in f.read().split()]
        except OSError:
            continue
    return None


def host_stamp(spark) -> dict:
    import duckdb
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    conf = spark.sparkContext.getConf()
    return {
        "nproc": os.cpu_count(),
        "mem_total_mb": round(mem_kb / 1024),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "session": {
            k: conf.get(k, None) for k in (
                "spark.master", "spark.sql.shuffle.partitions",
                "spark.driver.memory", "spark.memory.offHeap.enabled",
                "spark.memory.offHeap.size",
            )
        },
    }


# ----------------------------------------------------------- set-up --


def prepare_env(tmp: str) -> None:
    """Confine every file the run writes to ``tmp`` and size the session
    to this host; every other session default stays as the program
    ships it."""
    import tempfile

    os.makedirs(os.path.join(tmp, "local"), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.chdir(tmp)  # spark-warehouse, derby.log and the like land here
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def set_up(sf_dir: str, tracer) -> tuple[object, list[float]]:
    """Build the session and catalog ``SETUPS`` times, each up to the
    first usable call; the first launches the JVM, the rest start a new
    session on it.  Returns the live session and every set-up time."""
    from adenhq_hive_spark.engine import Engine
    from adenhq_hive_spark.session import get_spark

    times = []
    spark = None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        with tracer.span("get_spark", "session", f"setup{i}", counters=False):
            spark = get_spark("perfbench")
        with tracer.span("Engine", "catalog", f"setup{i}", counters=False):
            engine = Engine(spark, sf_dir)
        with tracer.span("first call", "engine", f"setup{i}", counters=False):
            env = engine.sql("SELECT 1 AS one")
        times.append(time.perf_counter() - t0)
        if not env.success:
            raise RuntimeError(f"first call failed: {env.error}")
    return spark, times


def stop_spark(spark) -> None:
    """Stop the session and the JVM and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # do not leave it running
            proc.kill()
            proc.wait(timeout=30)


# --------------------------------------------------------- workloads --


def run(workload: str, seed: int, seconds: float, trace: bool,
        smoke: bool, tmp: str) -> dict:
    import duckdb
    import numpy as np

    import datagen
    import workloads as W
    from tracing import Tracer

    sf = SMOKE_SF if smoke else SF
    sf_dir = os.path.join(tmp, "data")
    t0 = time.perf_counter()
    datagen.write_dataset(sf_dir, sf, seed)
    csv_path = os.path.join(tmp, "orders.csv")
    duckdb.execute(
        f"COPY (SELECT * FROM read_parquet('{sf_dir}/orders.parquet')) "
        f"TO '{csv_path}' (HEADER)"
    )
    rng = np.random.default_rng([seed, 1])
    ingest_dir = os.path.join(tmp, "events_stream")
    rows, copies, per_trigger = SMOKE_INGEST if smoke else INGEST
    if workload == "pipeline_ingest":
        base = datagen.events_table(rng, rows, max(15, rows // 66))
        datagen.write_event_replicas(ingest_dir, base, copies, seed)
    names, csv_names, entries = (
        list(W.sql_statements()), list(W.CSV_STATEMENTS), list(W.PIPELINE)
    )
    if smoke:  # a cross-section of the statements and entries
        names, csv_names, entries = names[::10], csv_names[:3], entries[::2]
    log(f"inputs ready in {time.perf_counter() - t0:.1f}s (sf {sf}, seed {seed})")

    tracer = Tracer(enabled=trace)
    spark, setups = set_up(sf_dir, tracer)
    try:
        log(f"set-ups: {', '.join(f'{x:.2f}' for x in setups)} s")
        tracer.spark = spark
        t_warm = time.perf_counter()
        if workload == "sql_interactive":
            W.warm_up(spark, csv_path=csv_path)
        else:
            W.warm_up(spark, python_workers=True)
        warm_up_s = time.perf_counter() - t_warm
        log(f"warm-up: {warm_up_s:.2f} s")
        stamp = host_stamp(spark)
        stamp["load_1m_start"] = round(os.getloadavg()[0], 2)
        steal0, total0 = _cpu_ticks()
        t_run = time.perf_counter()
        if workload == "sql_interactive":
            res = W.run_sql_interactive(spark, sf_dir, csv_path, rng, seconds,
                                        tracer, trace, names, csv_names)
        else:
            res = W.WorkloadResult()
            p = 0
            while p == 0 or time.perf_counter() - t_run < seconds:
                t_pass = time.perf_counter()
                res.ops += W.run_pipeline(spark, sf_dir, os.path.join(tmp, f"out{p}"),
                                          tracer, entries)
                pipe_s = time.perf_counter() - t_pass
                work_dir = os.path.join(tmp, f"ingest{p}")
                stream = W.run_ingest(spark, ingest_dir, work_dir, per_trigger, tracer)
                res.pass_s.append(time.perf_counter() - t_pass)
                res.stream = dict(stream, pipeline_pass_s=pipe_s)
                p += 1
        measured_s = time.perf_counter() - t_run
        steal1, total1 = _cpu_ticks()
        log(f"measured {measured_s:.1f}s over {len(res.pass_s)} pass(es), "
            f"{len(res.ops)} ops")
        stamp["load_1m_end"] = round(os.getloadavg()[0], 2)
        stamp["steal_pct"] = round(
            100.0 * (steal1 - steal0) / max(1, total1 - total0), 2
        )
        jvm = _jvm_pid(spark.sparkContext._gateway.proc.pid)
        rss_kb = _status_kb("self", "VmHWM") + (_status_kb(jvm, "VmHWM") if jvm else 0)
        rss_mb = rss_kb / 1024.0
        layers = per_layer(tracer, res, setups, rss_mb) if trace else {}

        # output checks, outside the timed region
        t_check = time.perf_counter()
        if workload == "sql_interactive":
            W.check_sql(res, sf_dir, csv_path)
        else:
            W.check_pipeline(res, spark, sf_dir)
            W.check_ingest(res, spark, ingest_dir, work_dir)
        log(f"checked {res.attempted} outputs, {len(res.failures)} failed "
            f"({time.perf_counter() - t_check:.1f}s)")
    finally:
        stop_spark(spark)

    lat = [o.latency_s * 1000 for o in res.ops]
    q_tail = tail_quantile(len(lat))
    e2e = {
        "setup_s": p50(setups),
        "pass_s": p50(res.pass_s),
        "op_p50_ms": p50(lat),
        "op_tail_ms": pct(lat, q_tail) if q_tail > 0.5 else p50(lat),
    }
    return {
        "workload": workload, "seed": seed, "sf": sf,
        "setups_s": [round(s, 4) for s in setups],
        "warm_up_s": round(warm_up_s, 3),
        "measured_s": round(measured_s, 3),
        "passes": len(res.pass_s),
        "ops": len(lat),
        "tail_quantile": round(q_tail, 4),
        "op_ms": [[o.name, round(o.latency_s * 1000, 1)] for o in res.ops],
        "left_out": W.LEFT_OUT if workload == "sql_interactive" else {},
        "e2e": e2e,
        "named": named_metrics(workload, res, e2e, setups, rss_mb),
        "attempted": res.attempted,
        "failures": res.failures,
        "stamp": stamp,
        "per_layer": layers,
        "spans": [
            [sp.span_id, sp.parent, sp.name, sp.layer, sp.request_id,
             round(sp.start - t_run, 4), round(sp.wall, 4), sp.counters]
            for sp in tracer.spans
        ],
    }


def named_metrics(workload: str, res, e2e: dict, setups: list[float],
                  rss_mb: float) -> dict:
    """The figures a reader of this workload looks for, by name."""
    out = {"setup_s": e2e["setup_s"], "cold_start_s": setups[0],
           "peak_rss_mb": rss_mb,
           "failed_op_share": len(res.failures) / max(1, res.attempted)}
    if workload == "sql_interactive":
        sql = [o.latency_s * 1000 for o in res.ops if o.kind == "engine"]
        out.update(
            sql_p50_ms=p50(sql),
            sql_p90_ms=pct(sql, tail_quantile(len(sql))),
            sql_qps=len(res.ops) / sum(res.pass_s),
            csv_sql_p50_ms=p50([o.latency_s * 1000 for o in res.ops
                                if o.kind == "csv"]),
        )
    else:
        s = res.stream
        out.update(
            pipeline_pass_s=s["pipeline_pass_s"],
            stream_agg_rows_per_s=s["stream_agg.rows"] / s["stream_agg.wall_s"],
            upsert_rows_per_s=s["upsert.rows"] / s["upsert.wall_s"],
        )
    return out


# --------------------------------------------------------- per layer --


def per_layer(tracer, res, setups, rss_mb) -> dict:
    """Every per-layer metric from the spans (zero where the workload
    does not call the layer)."""
    from tracing import layer_totals, nesting_violations, self_times

    nproc = os.cpu_count()
    spans = tracer.spans
    passes = max(1, len(res.pass_s))
    mb = 1024.0 * 1024.0

    def walls(name, layer=None):
        return [s.wall * 1000 for s in spans
                if s.name == name and (layer is None or s.layer == layer)]

    def of(name, layer):
        return [s for s in spans if s.name == name and s.layer == layer]

    def tot(ss, key):
        return sum(s.counters.get(key, 0.0) for s in ss)

    def busy(ss):
        wall = sum(s.wall for s in ss)
        return tot(ss, "executor_cpu_ms") / 1000.0 / (wall * nproc) if wall else 0.0

    m: dict[str, float] = {}
    first = [s for s in spans if s.request_id == "setup0"]
    m["session.get_spark_s"] = sum(s.wall for s in first if s.layer == "session")
    m["catalog.register_views_s"] = sum(s.wall for s in first if s.layer == "catalog")
    m["session.warm_setup_s"] = p50(setups[1:])
    m["process.peak_rss_mb"] = rss_mb

    sql = of("Engine.sql", "engine")
    n_sql = max(1, len(sql))
    sql_ms = [s.wall * 1000 for s in sql]
    m["engine.sql_p50_ms"] = p50(sql_ms)
    m["engine.sql_p90_ms"] = pct(sql_ms, tail_quantile(len(sql_ms)))
    m["engine.assert_read_only_ms"] = p50(walls("assert_read_only"))
    m["engine.df_ms"] = p50(walls("Engine.df"))
    coll = walls("collect", "engine.collect")
    m["engine.collect_ms"] = p50(coll)
    m["engine.collect_p90_ms"] = pct(coll, tail_quantile(len(coll)))
    m["engine.jobs_per_stmt"] = tot(sql, "jobs") / n_sql
    m["engine.stages_per_stmt"] = tot(sql, "stages") / n_sql
    m["engine.tasks_per_stmt"] = tot(sql, "tasks") / n_sql
    m["engine.shuffle_write_mb"] = tot(sql, "shuffle_write_bytes") / mb / passes
    m["engine.executor_cpu_s"] = tot(sql, "executor_cpu_ms") / 1000 / passes
    m["engine.gc_s"] = tot(sql, "gc_ms") / 1000 / passes
    m["engine.cpu_busy_share"] = busy(sql)
    csv = of("csv_sql", "sources.csv_tool")
    calls = sum(s.wall for s in sql + csv)
    m["client.stmt_per_s"] = len(sql + csv) / calls if calls else 0.0
    n_csv = max(1, len(csv))
    m["sources.csv_tool.call_p50_ms"] = p50([s.wall * 1000 for s in csv])
    m["sources.csv_tool.jobs_per_call"] = tot(csv, "jobs") / n_csv
    m["sources.csv_tool.input_mb_per_call"] = tot(csv, "input_bytes") / mb / n_csv

    build = of("QuerySpec.run", "queries.pipeline")
    entries = [s for s in spans if s.layer in OPERATOR_LAYERS and s.parent is None]
    m["queries.pipeline.pass_s"] = sum(s.wall for s in entries) / passes
    m["queries.pipeline.build_s"] = sum(s.wall for s in build) / passes
    m["queries.pipeline.build_jobs"] = tot(build, "jobs") / passes
    pipe_spans = [s for s in spans if s.layer == "queries.pipeline"
                  or s.layer.endswith(".sink")]
    cpu = tot(pipe_spans, "executor_cpu_ms") / 1000.0
    pipe_wall = sum(s.wall for s in entries)
    m["queries.pipeline.cpu_busy_share"] = cpu / (pipe_wall * nproc) if pipe_wall else 0.0
    for layer in OPERATOR_LAYERS:
        t = layer_totals(spans, layer)
        m[f"{layer}.wall_s"] = t["wall_s"] / passes
        m[f"{layer}.jobs"] = t["jobs"] / passes
        m[f"{layer}.shuffle_write_mb"] = t["shuffle_write_bytes"] / mb / passes
        m[f"{layer}.spill_mb"] = t["spill_bytes"] / mb / passes
        m[f"{layer}.executor_cpu_s"] = t["executor_cpu_ms"] / 1000 / passes
        m[f"{layer}.gc_s"] = t["gc_ms"] / 1000 / passes

    m.update(stream_layers(res, spans, nproc))

    probe = sum(s.wall for s in spans if s.layer == "trace.probe")
    measured = sum(res.pass_s)
    m["trace.spans"] = len(spans)
    m["trace.nesting_violations"] = len(nesting_violations(spans))
    m["trace.bookkeeping_s"] = tracer.overhead_s
    m["trace.probe_s"] = probe
    m["trace.overhead_share"] = (tracer.overhead_s + probe) / measured if measured else 0.0
    selfs = self_times(spans)
    for layer in SELF_LAYERS:
        m[f"self_s.{layer}"] = sum(
            v for k, v in selfs.items()
            if k == layer
            or (layer == "operators" and k in OPERATOR_LAYERS)
            or (layer == "sink" and k.endswith(".sink"))
        )
    return m


def stream_layers(res, spans, nproc) -> dict:
    m = {}
    mb = 1024.0 * 1024.0
    s = res.stream
    for kind, layer in (("stream_agg", "streaming.events"),
                        ("upsert", "streaming.upsert")):
        prog = s.get(f"{kind}.progress", [])
        dur = lambda key: [p["durationMs"].get(key, 0) for p in prog]  # noqa: E731
        wall = s.get(f"{kind}.wall_s", 0.0)
        m[f"{layer}.batches"] = len(prog)
        m[f"{layer}.rows_per_s"] = s.get(f"{kind}.rows", 0) / wall if wall else 0.0
        m[f"{layer}.trigger_ms_p50"] = p50(dur("triggerExecution"))
        m[f"{layer}.add_batch_ms_p50"] = p50(dur("addBatch"))
        if kind == "stream_agg":
            state = prog[-1].get("stateOperators", [{}]) if prog else [{}]
            m[f"{layer}.wal_commit_ms_p50"] = p50(dur("walCommit"))
            m[f"{layer}.state_rows"] = sum(o.get("numRowsTotal", 0) for o in state)
            m[f"{layer}.state_mb"] = sum(o.get("memoryUsedBytes", 0) for o in state) / mb
        else:
            m[f"{layer}.add_batch_ms_last"] = dur("addBatch")[-1] if prog else 0.0
            m[f"{layer}.store_rows"] = s.get("upsert.store_rows", 0)
            m[f"{layer}.bytes_written_per_input_byte"] = s.get("upsert.write_ratio", 0.0)
    drains = [sp for sp in spans if sp.name == "drain"]
    wall = sum(sp.wall for sp in drains)
    m["streaming.shuffle_write_mb"] = sum(
        sp.counters.get("shuffle_write_bytes", 0.0) for sp in drains) / mb
    m["streaming.gc_s"] = sum(sp.counters.get("gc_ms", 0.0) for sp in drains) / 1000
    m["streaming.cpu_busy_share"] = sum(
        sp.counters.get("executor_cpu_ms", 0.0) for sp in drains
    ) / 1000 / (wall * nproc) if wall else 0.0
    return m


# -------------------------------------------------------------- main --


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "adenhq_hive_spark", "__init__.py")):
        log(f"program sources not found under {ROOT}; run from a full checkout")
        return 2
    sys.path.insert(0, HERE)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cwd = os.getcwd()
    tmp_base = os.path.join(ROOT, ".perfbench_tmp")
    tmp = os.path.join(tmp_base, f"run-{os.getpid()}")
    try:
        prepare_env(tmp)
        report = run(args.workload, args.seed, args.seconds, bool(args.trace),
                     args.smoke, tmp)
    finally:
        os.chdir(cwd)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(tmp_base)
        except OSError:
            pass
    failed = len(report["failures"])
    for f in report["failures"][:20]:
        log(f"FAILED {f}")
    if args.trace:
        metrics = {k: {"value": v, "unit": per_layer_unit(k)}
                   for k, v in report["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in report["e2e"].items()}
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": report["attempted"],
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def per_layer_unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("per_s"):
        return "rows/s" if leaf.startswith("rows") else "1/s"
    if name.startswith("self_s.") or leaf.endswith("_s"):
        return "s"
    if "_ms" in leaf:
        return "ms"
    if "_mb" in leaf:
        return "MB"
    if leaf.endswith("share") or leaf.startswith("bytes_written"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
