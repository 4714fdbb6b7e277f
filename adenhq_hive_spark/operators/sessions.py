"""Batch gap-based sessionization over event logs.

The batch complement to the streaming session window (streaming/events.py
session tier, q58): replayed history gets the SAME session boundaries a
live session_window would assign, so backfill and online features agree.
Reference behavior: the event/funnel analytics the reference exposes over
its conversation/event stores (conversation threading by inactivity gap);
re-expressed as the classic lag-diff → boundary-flag → running-sum plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Assign gap-based sessions per user and roll them up.

    A new session starts when the time since the user's previous event
    exceeds ``gap_minutes`` (strictly greater, matching Spark's
    session_window semantics where an event landing exactly on the gap
    boundary extends the session).  Emits one row per session:
    (user, session_n, n_events, start_ts, end_ts, duration_s) with
    session_n numbered 1.. per user in time order.

    Determinism: events ordered by (ts, id) — the same tiebreak as the
    SCD2/seq_motif event operators — so duplicate timestamps cannot
    flap boundaries; gap tests and durations run on MICROSECOND-exact
    integers (unix_micros ≡ DuckDB epoch_us — second-truncating
    functions disagree across engines on sub-second gaps), duration
    floor-divided to whole seconds.

    Scale: ONE shuffle on the user key serves both windows (lag and the
    running boundary sum share the (user) x (ts, id) ordering — same
    exchange-reuse shape as scd2_intervals), then the session rollup
    groups on (user, session_n) — a key that subdivides the user
    partition, so AQE coalesces it without a second wide exchange.
    Per-user state is bounded by that user's events; a pathological
    single user dominating the corpus is the same skew class as any
    user-keyed window (salt upstream if one key is >> a partition).
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    gap_us = gap_minutes * 60 * 1_000_000
    flagged = df.select(
        user_col,
        ts_col,
        id_col,
        F.when(
            (
                F.unix_micros(F.col(ts_col))
                - F.unix_micros(F.lag(ts_col).over(w))
            )
            > gap_us,
            1,
        )
        .otherwise(0)
        .alias("_new"),
    )
    w_run = (
        Window.partitionBy(user_col)
        .orderBy(ts_col, id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = flagged.withColumn(
        "session_n", (F.sum("_new").over(w_run) + 1).cast("long")
    )
    return (
        sess.groupBy(user_col, "session_n")
        .agg(
            F.count("*").alias("n_events"),
            F.min(ts_col).alias("start_ts"),
            F.max(ts_col).alias("end_ts"),
        )
        .withColumn(
            "duration_s",
            F.expr(
                "(unix_micros(end_ts) - unix_micros(start_ts))"
                " div 1000000"
            ).cast("long"),
        )
        .orderBy(user_col, "session_n")
    )


def retention_matrix(
    df: DataFrame,
    unit_col: str,
    ts_col: str,
) -> DataFrame:
    """Weekly cohort retention triangle — THE product-analytics view
    (cohort = the Monday week of a unit's first event; cell (cohort,
    offset) = fraction of the cohort active in week cohort+offset).

    Exact BIGINT counts end-to-end, one ROUND-6 division per cell with
    the signed-zero guard; weeks come from date_trunc('week', ts)
    (ISO Monday on both engines) and the offset from an exact day
    difference DIV 7, so the triangle hashes cross-engine.

    Emits (cohort_week, week_offset, cohort_n, active_n, retention_r6),
    unordered — offset 0 is 1.0 by construction (the cohort's own week).

    Scale: one (unit, week) distinct rollup (data-sized, keyed by
    unit), a broadcast-joined first-week relation, then an O(cohorts x
    offsets) aggregation — the triangle is metadata-sized at any
    corpus size.
    """
    uw = (
        df.select(
            F.col(unit_col).alias("u"),
            F.date_trunc("week", F.col(ts_col)).alias("wk"),
        )
        .distinct()
    )
    first = uw.groupBy("u").agg(F.min("wk").alias("cohort"))
    cohort_n = first.groupBy("cohort").agg(
        F.count("*").alias("cohort_n")
    )
    joined = uw.join(first, "u").select(
        "cohort",
        (F.datediff(F.col("wk"), F.col("cohort")) / 7)
        .cast("long")
        .alias("week_offset"),
    )
    active = joined.groupBy("cohort", "week_offset").agg(
        F.count("*").alias("active_n")
    )
    return (
        active.join(F.broadcast(cohort_n), "cohort")
        .select(
            F.col("cohort").alias("cohort_week"),
            F.col("week_offset").cast("int").alias("week_offset"),
            F.col("cohort_n").cast("long").alias("cohort_n"),
            F.col("active_n").cast("long").alias("active_n"),
            (
                F.round(
                    F.col("active_n").cast("double")
                    / F.col("cohort_n").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("retention_r6"),
        )
    )


def kaplan_meier(
    df: DataFrame,
    unit_col: str,
    ts_col: str,
    group_col: str,
    censor_days: int = 7,
) -> DataFrame:
    """Kaplan-Meier survival curve over unit lifetimes (Kaplan & Meier
    1958) — "how long do users stay active?", the retention question
    with censoring handled correctly: a unit whose last event falls
    within ``censor_days`` of the corpus end may still be alive, so it
    leaves the risk set without counting as a death.

    Lifetime = whole days between a unit's first and last event; a
    death is OBSERVED when the last event predates the global corpus
    max by more than ``censor_days``.  The product-limit estimator

      S(t) = prod_{t_i <= t} (1 - d_i / n_i)

    is computed as exp of an ordered prefix sum of ln(1 - d/n) terms
    QUANTIZED to 1e-6 BIGINTs (the CUSUM discipline — the windowed
    accumulation is exact on both engines; ln/exp are the bit-portable
    libm calls the logprob tiers rely on).  A step where every at-risk
    unit dies pins S to 0.0 from that point on (never ln(0)).

    Emits one row per (group, lifetime-with-deaths): (group_col,
    t_days, n_risk, deaths, surv_r6), unordered.

    Scale: one (group, unit) rollup (data-sized, keyed by unit), then
    O(groups x distinct lifetimes) rows through two windows — lifetimes
    are bounded by the observation window in days, so the curve stage
    is metadata-sized at any corpus size.
    """
    if censor_days < 0:
        raise ValueError("censor_days must be >= 0")
    per_unit = df.groupBy(
        F.col(group_col).alias("grp"), F.col(unit_col).alias("u")
    ).agg(
        F.min(F.col(ts_col)).alias("first_ts"),
        F.max(F.col(ts_col)).alias("last_ts"),
    )
    gmax = df.agg(F.max(F.col(ts_col)).alias("gmax"))
    units = per_unit.crossJoin(F.broadcast(gmax)).select(
        "grp",
        F.datediff(F.col("last_ts"), F.col("first_ts")).alias("t"),
        (
            F.col("last_ts")
            < F.col("gmax") - F.expr(f"INTERVAL {int(censor_days)} DAYS")
        )
        .cast("long")
        .alias("observed"),
    )
    by_t = units.groupBy("grp", "t").agg(
        F.count("*").alias("c_all"),
        F.sum("observed").alias("deaths"),
    )
    w_desc = (
        Window.partitionBy("grp")
        .orderBy(F.col("t").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = by_t.withColumn("n_risk", F.sum("c_all").over(w_desc))
    term6 = F.when(
        F.col("deaths") == 0, F.lit(0)
    ).when(
        F.col("deaths") < F.col("n_risk"),
        F.round(
            F.log(
                F.lit(1.0)
                - F.col("deaths").cast("double")
                / F.col("n_risk").cast("double")
            )
            * 1e6
        ).cast("long"),
    )  # NULL marks a full-wipe step (deaths == n_risk)
    w_asc = (
        Window.partitionBy("grp")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    stepped = (
        risk.withColumn("term6", term6)
        .withColumn(
            "wiped",
            F.max((F.col("term6").isNull()).cast("int")).over(w_asc),
        )
        .withColumn("lnsum6", F.sum("term6").over(w_asc))
    )
    surv = F.when(F.col("wiped") == 1, F.lit(0.0)).otherwise(
        F.round(F.exp(F.col("lnsum6").cast("double") / 1e6), 6)
    )
    return (
        stepped.filter(F.col("deaths") > 0)
        .select(
            F.col("grp").alias(group_col),
            F.col("t").cast("int").alias("t_days"),
            F.col("n_risk").cast("long").alias("n_risk"),
            F.col("deaths").cast("long").alias("deaths"),
            (surv + F.lit(0.0)).alias("surv_r6"),
        )
    )
