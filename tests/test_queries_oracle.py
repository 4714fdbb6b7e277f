"""The Q-set oracle harness: every declared query runs on Spark AND on the
DuckDB oracle at sf0.001; normalized results must hash-match exactly
(SURVEY §5.4).  This mirrors the driver's CORRECTNESS gate at sf0.01.
"""

from __future__ import annotations

import pytest

from adenhq_hive_spark.normalize import normalize
from adenhq_hive_spark.queries import all_queries

from .conftest import SF_SMOKE

QUERIES = all_queries()
ORACLE_CHECKED = sorted(n for n, s in QUERIES.items() if s.oracle is not None)
ROWS_ONLY = sorted(n for n, s in QUERIES.items() if s.oracle is None)


# Entries whose plan still ends in a global sort: each returns an
# operator as-is whose own unit tests read its rows by position.
KEEPS_FINAL_SORT = {
    "pl_bootstrap_ci": "poisson_bootstrap_ci: test_stats compares row lists",
    "pl_bootstrap_ci_arrow": "poisson_bootstrap_ci: JVM/Arrow row-list parity",
    "pl_cms_estimate": "cms_point_estimates: test_sketch reads row 0",
    "pl_cms_estimate_xxh": "cms_point_estimates: test_sketch reads row 0",
    "pl_curriculum": "curriculum_order: row lists vs the NTILE form",
    "pl_cusum": "cusum_changepoints: rows zipped with a reference",
    "pl_dp_counts": "dp_counts: test_privacy compares two runs' row lists",
    "pl_heavy_hitters": "heavy_hitters: test_sketch asserts the row list",
    "pl_interleave": "interleave_order: test_curation reads rows in order",
    "pl_kanon": "k_anonymity: test_privacy asserts sorted rows",
    "pl_knn_purity": "knn_label_purity: test_similarity asserts row lists",
    "pl_label_kl": "label_kl: test_profile asserts the row list",
    "pl_scd2": "scd2_intervals: test_scd asserts the row list",
    "pl_sessionize": "sessionize: test_sessions asserts the row list",
    "pl_shard_manifest": "export.shard_manifest: test_export asserts order",
    "pl_srm": "srm_check: test_stats compares two runs' row lists",
    "pl_srm_xxh": "srm_check: test_stats compares two runs' row lists",
    "pl_trigram_search": "trigram_search: test_search compares id lists",
    "pl_weighted_sample": "quality_weighted_sample: two runs' row lists",
}


def _assert_ends_unordered(name, df):
    """Registry pipeline plans return their rows unordered: the checks
    are order-insensitive, and a final global sort costs a range-bound
    sampling job that re-runs its child. Order stays only where a LIMIT,
    top-k or window depends on it, i.e. below the plan's root. Relational
    q* SQL keeps its declared ORDER BY (shared with the oracle)."""
    if not name.startswith("pl_") or name in KEEPS_FINAL_SORT:
        return
    node = df._jdf.queryExecution().optimizedPlan()
    while node.getClass().getSimpleName() in ("Project", "Filter"):
        node = node.children().apply(0)
    assert not (
        node.getClass().getSimpleName() == "Sort"
        and getattr(node, "global")()
    ), f"{name}: plan ends in a global sort with no LIMIT above it"


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_oracle_match(spark, ducks, name):
    spec = QUERIES[name]
    df = spec.run(spark, SF_SMOKE)
    _assert_ends_unordered(name, df)
    spark_cols = df.columns
    spark_rows = [tuple(r) for r in df.collect()]

    rel = ducks.execute(spec.oracle)
    duck_cols = [d[0] for d in rel.description]
    duck_rows = rel.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column names differ: {spark_cols} vs {duck_cols}"
    )
    # strict: -0.0 stays distinct — the driver's hash does not collapse
    # signed zeros (r7 pl_jl_project), so the local gate must not either
    s_norm = normalize(spark_cols, spark_rows, strict=True)
    d_norm = normalize(duck_cols, duck_rows, strict=True)
    if s_norm != d_norm:
        s_lines, d_lines = s_norm.splitlines(), d_norm.splitlines()
        diffs = [
            f"  spark: {a!r}\n  duck : {b!r}"
            for a, b in zip(s_lines, d_lines)
            if a != b
        ][:5]
        pytest.fail(
            f"{name}: result mismatch ({len(s_lines) - 1} vs "
            f"{len(d_lines) - 1} rows)\n" + "\n".join(diffs)
        )


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(spark, name):
    spec = QUERIES[name]
    df = spec.run(spark, SF_SMOKE)
    _assert_ends_unordered(name, df)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_fast_money_sign_safe(spark):
    """The scaled-BIGINT money-sum rewrite must match the portable
    decimal form for NEGATIVE values too (sign-aware round-half-up) —
    the contract columns happen to be non-negative, but the rewrite
    applies to every _QM call site, so it must not be a silent trap."""
    from adenhq_hive_spark.queries.relational import _fast_money

    vals = [
        -1.00005, -0.99995, -123.45675, -0.00005, 0.0, 0.00005,
        123.45675, 0.99995, 1.00005, -7e8, 7e8, -0.12345, 0.12345,
    ]
    spark.createDataFrame(
        [(i % 3, v) for i, v in enumerate(vals)], "g int, x double"
    ).createOrReplaceTempView("fm_probe")
    decimal_sql = (
        "SELECT g, CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE) AS s "
        "FROM fm_probe GROUP BY g"
    )
    fast_sql = _fast_money(decimal_sql)
    assert fast_sql != decimal_sql, "rewrite did not fire"
    dec = {r.g: r.s for r in spark.sql(decimal_sql).collect()}
    fast = {r.g: r.s for r in spark.sql(fast_sql).collect()}
    assert fast == dec, f"{fast} != {dec}"


def _probe_tables():
    """Minimal tables whose rounded outputs fall in (-5e-5, 0): x and y
    below correlate at about -3.4e-5; one embedding component is -1e-5."""
    xs, ys = [1.0, 2.0, 3.0, 4.0], [1.0, -1.0, -1.0, 0.9999]
    return {
        "customer": ("c_acctbal double", [(1.0,), (2.0,)]),
        "lineitem": ("l_quantity double, l_extendedprice double",
                     list(zip(xs, ys))),
        "embeddings": ("vec_id bigint, embedding array<float>, label int",
                       [(0, [-1e-5], 0)]),
    }


@pytest.mark.parametrize("name,col", [
    ("q16", "corr_qp"), ("q54", "avg_c1"), ("q66", "val"), ("q92", "vec_sum"),
])
def test_rounded_small_negative_is_not_negative_zero(spark, name, col):
    """ROUND of a value in (-5e-5, 0) is zero; neither engine may return
    it as -0.0, which the strict hash keeps apart from 0.0."""
    import math

    import duckdb

    spec = QUERIES[name]
    tables = _probe_tables()
    con = duckdb.connect()
    probe = spark.newSession()  # own temp views; the shared ones stay
    for t, (schema, rows) in tables.items():
        probe.createDataFrame(rows, schema).createOrReplaceTempView(t)
        ddl = schema.replace("array<float>", "FLOAT[]")
        con.execute(f"CREATE TABLE {t} ({ddl})")
        con.executemany(
            f"INSERT INTO {t} VALUES ({', '.join('?' * len(rows[0]))})", rows
        )
    rel = con.execute(spec.oracle)
    i = [d[0] for d in rel.description].index(col)
    duck_vals = [r[i] for r in rel.fetchall() if r[i] is not None]
    con.close()
    spark_vals = [
        r[col] for r in probe.sql(spec.engine_sql).collect()
        if r[col] is not None
    ]
    for engine, vals in (("duckdb", duck_vals), ("spark", spark_vals)):
        assert vals, f"{name}/{engine}: no {col} value"
        for v in vals:
            if v == 0.0:
                assert math.copysign(1.0, v) > 0, (
                    f"{name}/{engine}: {col} is -0.0"
                )
    assert 0.0 in duck_vals and 0.0 in spark_vals
