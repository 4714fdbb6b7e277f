"""Tests of the benchmark itself.

Run from the root of a checkout:

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark (about half a minute each); the rest are fast.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import datagen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _smoke(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "0", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def test_datagen_is_seeded(tmp_path):
    a = datagen.make_tables(0.001, 7)
    b = datagen.make_tables(0.001, 7)
    c = datagen.make_tables(0.001, 8)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    ev = a["events"].to_pandas()
    assert ev["ts"].is_monotonic_increasing
    assert (ev["event_id"].diff().dropna() == 1).all()


def test_event_replicas_do_not_overlap(tmp_path):
    base = datagen.events_table(__import__("numpy").random.default_rng(1), 500, 15)
    paths = datagen.write_event_replicas(str(tmp_path), base, 3, seed=1)
    import pyarrow.parquet as pq

    spans = [pq.read_table(p).column("ts").to_pandas() for p in paths]
    for earlier, later in zip(spans, spans[1:]):
        assert earlier.max() < later.min()
    mtimes = [os.path.getmtime(p) for p in paths]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)


def test_tail_quantile_keeps_ten_samples_beyond():
    assert run.tail_quantile(100) == pytest.approx(0.9)
    assert run.tail_quantile(40) == pytest.approx(0.75)
    assert run.tail_quantile(13) == 0.5
    vals = list(range(1, 101))
    assert run.pct(vals, 0.9) == 90
    assert run.pct(vals, 0.5) == 50


def test_self_times_and_nesting():
    S = tracing.Span
    spans = [
        S(1, "request", "client", "r", None, 0.0, 10.0),
        S(2, "Engine.sql", "engine", "r", 1, 1.0, 7.0),
        S(3, "probe", "trace.probe", "r", 1, 7.0, 9.0),
    ]
    st = tracing.self_times(spans)
    assert st == {"client": pytest.approx(2.0), "engine": pytest.approx(6.0),
                  "trace.probe": pytest.approx(2.0)}
    assert tracing.nesting_violations(spans) == []
    spans.append(S(4, "late", "engine", "r", 1, 9.5, 11.0))
    assert tracing.nesting_violations(spans) == ["late outside request"]


def test_bare_directory_fails_without_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "sql_interactive",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""


@pytest.mark.parametrize("workload", run.WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_emits_every_metric_with_unit(workload, trace):
    spec = _spec()
    report, result = _smoke(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    want = spec["per_layer"] if trace else spec["end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))
    if trace:
        assert result["metrics"]["trace.nesting_violations"]["value"] == 0
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    assert report["named"]["failed_op_share"] == 0.0
    assert report["stamp"]["nproc"] == os.cpu_count()


def test_corrupted_expected_hash_is_a_failed_operation(monkeypatch, capsys):
    import workloads

    real = workloads.expected_result

    def corrupt(con, sql):
        n, digest = real(con, sql)
        if "450000" in sql:  # the csv filter statement
            digest = "0" * 64
        return n, digest

    monkeypatch.setattr(workloads, "expected_result", corrupt)
    env = dict(os.environ)
    cwd = os.getcwd()
    try:
        assert run.main(["--workload", "sql_interactive", "--seed", "3",
                         "--seconds", "0", "--smoke"]) == 0
    finally:
        os.environ.clear()
        os.environ.update(env)
        os.chdir(cwd)
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert result["failed"] == 1
    assert result["correct"] is False
