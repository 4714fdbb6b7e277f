"""The benchmark's workloads and their output checks.

Each workload drives the program only through its public functions and
returns the latency of every operation it issued, the wall time of each
pass, and the outputs it needs checked.  Checks run after the timed
passes: every output is compared with a DuckDB computation over the
same input files, hashed with ``normalize.result_hash``.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import duckdb

from adenhq_hive_spark.catalog import SCHEMAS, TABLES
from adenhq_hive_spark.engine import Engine
from adenhq_hive_spark.normalize import result_hash
from adenhq_hive_spark.operators.dedup import release_persisted
from adenhq_hive_spark.queries import all_queries
from adenhq_hive_spark.sources.csv_tool import csv_sql
from adenhq_hive_spark.streaming.events import tumbling_counts
from adenhq_hive_spark.streaming.upsert import upsert_stream

MAX_ROWS = 1000

# The statements the reference's csv_sql docstring promises: filter,
# GROUP BY, ORDER BY ... LIMIT, LIKE and COUNT DISTINCT over table `data`.
CSV_STATEMENTS = {
    "csv_filter": "SELECT o_orderkey, o_custkey, o_totalprice FROM data "
                  "WHERE o_totalprice > 450000 AND o_orderstatus = 'F'",
    "csv_group": "SELECT o_orderpriority, COUNT(*) AS n, "
                 "MAX(o_totalprice) AS top FROM data GROUP BY o_orderpriority",
    "csv_topk": "SELECT o_orderkey, o_totalprice FROM data "
                "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    "csv_like": "SELECT COUNT(*) AS n FROM data "
                "WHERE o_orderpriority LIKE '%URGENT%'",
    "csv_count_distinct": "SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS "
                          "customers FROM data GROUP BY o_orderstatus",
}

# The batch pipeline: one registry entry per operator module, keyed to
# the layer (module) whose operator it runs.
PIPELINE = {
    "pl_cosine_dedup": "operators.similarity",
    "pl_editdist": "operators.dedup",
    "pl_winnow_pairs": "operators.search",
    "pl_bootstrap_ci_arrow": "operators.stats",
    "pl_copurchase_lift": "operators.basket",
    "pl_pagerank": "operators.graph_rank",
    "pl_tfidf": "operators.text",
    "pl_graph_agent_loop": "plans.graph",
}


# Generic statements (aggregate, join, distinct, window, timestamp
# functions) run before the timed pass, so the JVM's class loading and
# code generation for the common operators is done when the first timed
# statement arrives.  None of them is a registry statement.
WARM_UP_SQL = (
    "SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS q FROM lineitem "
    "GROUP BY l_returnflag ORDER BY l_returnflag",
    "SELECT o.o_orderpriority, COUNT(DISTINCT c.c_nationkey) AS k FROM orders o "
    "JOIN customer c ON o.o_custkey = c.c_custkey GROUP BY o.o_orderpriority",
    "SELECT c_custkey FROM (SELECT c_custkey, ROW_NUMBER() OVER (PARTITION BY "
    "c_nationkey ORDER BY c_acctbal DESC) AS rn FROM customer) t WHERE rn <= 2",
    "SELECT event_type, date_trunc('HOUR', ts) AS h, COUNT(*) AS n FROM events "
    "GROUP BY event_type, date_trunc('HOUR', ts)",
)


def warm_up(spark, csv_path=None, python_workers=False):
    """Untimed lazy set-up before the timed pass: the generic statements,
    one ``csv_sql`` call when the workload uses it, and the Python worker
    processes (with pandas, pyarrow and numpy imported) when the
    workload's operators run Python."""
    for sql in WARM_UP_SQL:
        spark.sql(sql).collect()
    if csv_path is not None:
        csv_sql(spark, csv_path, "SELECT COUNT(*) AS n FROM data")
    if python_workers:
        def touch(batches):
            import numpy  # noqa: F401  (imported by the operators' UDFs)

            yield from batches

        n = spark.sparkContext.defaultParallelism
        spark.range(0, 8 * n, numPartitions=n).mapInPandas(touch, "id long").collect()


@dataclass
class Op:
    """One operation the client waited on."""
    kind: str            # "engine", "csv" or "pipeline"
    name: str
    latency_s: float
    output: object = None  # what the check needs; dropped after checking


@dataclass
class WorkloadResult:
    ops: list[Op] = field(default_factory=list)
    pass_s: list[float] = field(default_factory=list)
    stream: dict = field(default_factory=dict)
    failures: list[str] = field(default_factory=list)
    attempted: int = 0


# Registry statements sql_interactive does not issue, and why.  q86 is
# left out for time; the other five are program defects: on some seeds
# their result is not fixed by their inputs, so a correct run can differ
# from the DuckDB oracle under the strict hash.  They come back into the
# workload once the registry declares them deterministically.
LEFT_OUT = {
    "q86": "WITH RECURSIVE over a 60-day calendar: 60 sequential Spark jobs, "
           "10-16 s from a fresh JVM on a 4-core host, a quarter of a pass",
    "q51": "ORDER BY l_orderkey, l_linenumber LIMIT 200 is not a total order "
           "(the pair repeats, as in the shipped testdata): engines keep "
           "different tied rows",
    "q16": "ROUND(CORR(...), 4) of a correlation in (-5e-5, 0): Spark 0.0, "
           "DuckDB -0.0",
    "q66": "ROUND of an embedding value in (-5e-5, 0): Spark 0.0, DuckDB -0.0",
    "q54": "ROUND(AVG(embedding[1]), 4) of a label group in (-5e-5, 0): "
           "Spark 0.0, DuckDB -0.0",
    "q92": "ROUND of an embedding's component sum in (-5e-5, 0): Spark 0.0, "
           "DuckDB -0.0",
}


def sql_statements() -> dict[str, object]:
    """The SQL-form relational registry entries (``q*`` with a SQL
    string; the builder-only ``q25`` has none), without ``LEFT_OUT``."""
    specs = all_queries()
    return {
        n: s for n, s in sorted(specs.items())
        if n.startswith("q") and s.engine_sql is not None and n not in LEFT_OUT
    }


def _rows(columns: list[str], dict_rows: list[dict]) -> list[tuple]:
    return [tuple(r[c] for c in columns) for r in dict_rows]


# --------------------------------------------------------------- sql --


def run_sql_interactive(spark, sf_dir, csv_path, rng, seconds, tracer, trace,
                        names, csv_names):
    """Closed loop, one client: every pass issues each named SQL registry
    statement through ``Engine.sql`` and each named csv statement
    through ``csv_sql`` in a seeded order, waiting for every reply.
    Passes repeat until ``seconds`` have elapsed (at least one pass)."""
    engine = Engine(spark, sf_dir)
    stmts = sql_statements()
    items = [("engine", n, stmts[n].engine_sql) for n in names]
    items += [("csv", n, CSV_STATEMENTS[n]) for n in csv_names]
    res = WorkloadResult()
    t_start = time.perf_counter()
    p = 0
    while p == 0 or time.perf_counter() - t_start < seconds:
        order = rng.permutation(len(items))
        t_pass = time.perf_counter()
        for i in order:
            kind, name, sql = items[i]
            rid = f"p{p}:{name}"
            with tracer.span("request", "client", rid, counters=False):
                if kind == "engine":
                    with tracer.span("Engine.sql", "engine", rid):
                        t0 = time.perf_counter()
                        out = engine.sql(sql, max_rows=MAX_ROWS, use_cache=False)
                        lat = time.perf_counter() - t0
                else:
                    with tracer.span("csv_sql", "sources.csv_tool", rid):
                        t0 = time.perf_counter()
                        out = csv_sql(spark, csv_path, sql, max_rows=MAX_ROWS)
                        lat = time.perf_counter() - t0
                if trace and kind == "engine":
                    _probe_engine(engine, sql, tracer, rid)
            res.ops.append(Op(kind, name, lat, out))
        res.pass_s.append(time.perf_counter() - t_pass)
        p += 1
    return res


def _probe_engine(engine, sql, tracer, rid):
    """Traced runs only: split one statement into the gate, parse and
    analysis, and the capped collect that ``Engine.sql`` performs."""
    from adenhq_hive_spark.engine import assert_read_only

    with tracer.span("probe", "trace.probe", rid, counters=False):
        with tracer.span("assert_read_only", "engine.gate", rid, counters=False):
            assert_read_only(engine.spark, sql)
        with tracer.span("Engine.df", "engine.analyze", rid, counters=False):
            df = engine.df(sql)
        with tracer.span("collect", "engine.collect", rid):
            df.limit(MAX_ROWS + 1).collect()


def check_sql(res, sf_dir, csv_path):
    """Compare every envelope with DuckDB: row count and truncation
    against the oracle's count, plus the hash when not truncated."""
    stmts = sql_statements()
    con = _duck_views(duckdb.connect(), sf_dir)
    con.execute(
        f"CREATE VIEW data AS SELECT * FROM read_csv_auto('{csv_path}', header=true)"
    )
    expected: dict[str, tuple[int, str | None]] = {}
    for op in res.ops:
        res.attempted += 1
        env = op.output
        op.output = None
        if op.kind == "engine":
            ok, cols, rows = env.success, env.columns, env.rows
            truncated, err = env.truncated, env.error
        else:
            ok, cols, rows = env.get("success"), env.get("columns"), env.get("rows")
            truncated, err = env.get("query_truncated"), env.get("error")
        if not ok:
            res.failures.append(f"{op.name}: error {str(err)[:200]}")
            continue
        if op.name not in expected:
            sql = stmts[op.name].oracle if op.kind == "engine" else CSV_STATEMENTS[op.name]
            expected[op.name] = expected_result(con, sql)
        n, digest = expected[op.name]
        if n > MAX_ROWS:
            good = truncated and len(rows) == MAX_ROWS
        else:
            good = (not truncated and len(rows) == n
                    and result_hash(cols, _rows(cols, rows), strict=True) == digest)
        if not good:
            res.failures.append(
                f"{op.name}: {len(rows)} rows (truncated={truncated}) vs oracle {n}"
            )
    con.close()


def expected_result(con, sql: str) -> tuple[int, str]:
    """Row count and strict hash of the DuckDB oracle for ``sql``."""
    rel = con.execute(sql)
    cols = [d[0] for d in rel.description]
    rows = rel.fetchall()
    return len(rows), result_hash(cols, rows, strict=True)


def _duck_views(con, sf_dir):
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


# ---------------------------------------------------------- pipeline --


def run_pipeline(spark, sf_dir, out_dir, tracer, names):
    """One pass of the batch pipeline over the named entries: each
    entry's plan is built with ``QuerySpec.run`` and written to parquet
    (the batch job's sink); persisted relations are released after each
    entry."""
    specs = all_queries()
    ops = []
    for name in names:
        layer = PIPELINE[name]
        path = os.path.join(out_dir, name)
        with tracer.span(name, layer, name, counters=False):
            t0 = time.perf_counter()
            try:
                with tracer.span("QuerySpec.run", "queries.pipeline", name):
                    df = specs[name].run(spark, sf_dir)
                with tracer.span("sink.write", f"{layer}.sink", name):
                    df.write.mode("overwrite").parquet(path)
            except Exception as exc:  # counted as a failed operation by the check
                path = exc
            finally:
                release_persisted()
            ops.append(Op("pipeline", name, time.perf_counter() - t0, path))
    return ops


def _oracle_results(sf_dir, oracles: dict[str, str]) -> dict[str, tuple[int, str]]:
    con = _duck_views(duckdb.connect(), sf_dir)
    try:
        return {name: expected_result(con, sql) for name, sql in oracles.items()}
    finally:
        con.close()


def check_pipeline(res, spark, sf_dir):
    """Hash each written result against the entry's DuckDB oracle;
    entries without an oracle must return rows.  The oracles run in a
    second thread while Spark reads the outputs back."""
    specs = all_queries()
    ops = [o for o in res.ops if o.kind == "pipeline"]
    oracles = {o.name: specs[o.name].oracle for o in ops
               if specs[o.name].oracle is not None}
    got = {}
    with ThreadPoolExecutor(max_workers=1) as pool:
        pending = pool.submit(_oracle_results, sf_dir, oracles)
        for op in ops:
            path, op.output = op.output, None
            if isinstance(path, Exception):
                got[op.name] = f"error {str(path)[:200]}"
                continue
            try:
                df = spark.read.parquet(path)
                got[op.name] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception as exc:  # a missing or unreadable output is a failure
                got[op.name] = f"output unreadable: {str(exc)[:200]}"
        expected = pending.result()
    for op in ops:
        res.attempted += 1
        out = got[op.name]
        if isinstance(out, str):
            res.failures.append(f"{op.name}: {out}")
        elif op.name not in expected:
            if not out[1]:
                res.failures.append(f"{op.name}: no rows")
        else:
            cols, rows = out
            n, digest = expected[op.name]
            if len(rows) != n or result_hash(cols, rows, strict=True) != digest:
                res.failures.append(f"{op.name}: {len(rows)} rows vs oracle {n}")


# ------------------------------------------------------------ ingest --


def _event_stream(spark, data_dir, files_per_trigger):
    return (
        spark.readStream.schema(SCHEMAS["events"])
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(data_dir)
    )


def _drain(query, tracer, layer):
    """Wait until the query has consumed every file, then stop it."""
    try:
        with tracer.span("drain", layer) as sp:
            query.processAllAvailable()
        tracer.add_counters(sp, str(query.runId))
        return list(query.recentProgress)
    finally:
        query.stop()


def run_ingest(spark, data_dir, work_dir, files_per_trigger, tracer):
    """Drain the replicated events with two streams, one after the
    other: per-type tumbling counts (stateful aggregation, complete
    mode) and a keyed upsert store on ``event_id``.  Returns each
    stream's input rows, wall time and micro-batch progress."""
    stream = {}
    for kind, layer in (("stream_agg", "streaming.events"),
                        ("upsert", "streaming.upsert")):
        ck = os.path.join(work_dir, f"ck_{kind}")
        src = _event_stream(spark, data_dir, files_per_trigger)
        t0 = time.perf_counter()
        with tracer.span(f"stream:{kind}", layer, kind, counters=False):
            with tracer.span("start", layer, counters=False):
                if kind == "stream_agg":
                    writer = (tumbling_counts(src).writeStream
                              .outputMode("complete").format("memory")
                              .queryName("perfbench_tumbling"))
                else:
                    writer = upsert_stream(
                        src, os.path.join(work_dir, "store"),
                        key_col="event_id", seq_col="ts",
                    )
                query = writer.option("checkpointLocation", ck).start()
            progress = _drain(query, tracer, layer)
        wall = time.perf_counter() - t0
        if kind == "upsert":
            stream.update(_store_stats(work_dir, data_dir))
        batches = [p for p in progress if p["numInputRows"] > 0]
        rows = sum(p["numInputRows"] for p in batches)
        stream[f"{kind}.rows"] = rows
        stream[f"{kind}.wall_s"] = wall
        stream[f"{kind}.progress"] = batches
    return stream


def _store_stats(work_dir, data_dir) -> dict:
    """Rows in the current store version, and bytes the store wrote
    over all versions per byte of input read."""
    import pyarrow.parquet as pq

    def files(d):
        return [os.path.join(r, f) for r, _, fs in os.walk(d)
                for f in fs if f.endswith(".parquet")]

    store = os.path.join(work_dir, "store")
    with open(os.path.join(store, "_CURRENT"), encoding="utf-8") as f:
        current = os.path.join(store, f.read().strip())
    written = sum(os.path.getsize(p) for p in files(store))
    read = sum(os.path.getsize(p) for p in files(data_dir))
    return {
        "upsert.store_rows": sum(pq.read_metadata(p).num_rows for p in files(current)),
        "upsert.write_ratio": written / read if read else 0.0,
    }


def check_ingest(res, spark, data_dir, work_dir):
    """The tumbling counts and the final store against a DuckDB batch
    image of the same replicated files: the counts by hash, the store
    row for row inside DuckDB (it holds every key)."""
    con = duckdb.connect()
    files = f"read_parquet('{data_dir}/*.parquet')"
    res.attempted += 1
    try:
        df = spark.table("perfbench_tumbling")
        cols, rows = df.columns, [tuple(r) for r in df.collect()]
        n, digest = expected_result(con, (
            f"SELECT time_bucket(INTERVAL 1 HOUR, ts) AS hour, event_type, "
            f"COUNT(*) AS n, ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) "
            f"AS DOUBLE), 4) AS total FROM {files} GROUP BY ALL"))
        if len(rows) != n or result_hash(cols, rows, strict=True) != digest:
            res.failures.append(f"stream_agg: {len(rows)} rows vs oracle {n}")
    except Exception as exc:  # a stream that produced nothing fails here
        res.failures.append(f"stream_agg: output unreadable: {str(exc)[:200]}")
    res.attempted += 1
    try:
        store = os.path.join(work_dir, "store")
        with open(os.path.join(store, "_CURRENT"), encoding="utf-8") as f:
            current = os.path.join(store, f.read().strip())
        cols = ", ".join(SCHEMAS["events"].fieldNames())
        got, want, extra, missing = con.execute(f"""
            WITH store AS (SELECT {cols} FROM read_parquet('{current}/*.parquet')),
            image AS (SELECT {cols} FROM (SELECT *, row_number() OVER
                (PARTITION BY event_id ORDER BY ts DESC) AS rn FROM {files})
                WHERE rn = 1)
            SELECT (SELECT COUNT(*) FROM store), (SELECT COUNT(*) FROM image),
              (SELECT COUNT(*) FROM (SELECT * FROM store EXCEPT ALL SELECT * FROM image)),
              (SELECT COUNT(*) FROM (SELECT * FROM image EXCEPT ALL SELECT * FROM store))
        """).fetchone()
        if got != want or extra or missing:
            res.failures.append(
                f"upsert: {got} rows vs oracle {want}, {extra} extra, {missing} missing"
            )
    except Exception as exc:  # no store version written
        res.failures.append(f"upsert: output unreadable: {str(exc)[:200]}")
    con.close()
