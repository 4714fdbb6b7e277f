"""Volume-anomaly detection over event streams — the data-quality
sentinel a 100 TB ingest pipeline runs before training data is trusted
(a day of duplicated or dropped events shows up as a count spike/crater
long before any content-level check fires).

Public-knowledge formulation: the classic z-score outlier test, made
ENGINE-PORTABLE by never computing a floating z at all. |z| >= k over a
group's daily counts is equivalent to the exact integer inequality

    (n*x - S1)^2 * (n - 1) >= k^2 * n * (n*S2 - S1^2)

where S1 = sum(x), S2 = sum(x^2) over the group's n days: var_samp =
(n*S2 - S1^2) / (n*(n-1)) and z^2 = (x - S1/n)^2 / var, cleared of
denominators. Both sides are exact integer products of day-counts, so
Spark and any SQL oracle agree bit-for-bit — there is no stddev/sqrt
double whose last-ulp could flip a flag.

The decision products are evaluated in DECIMAL(38,0) (Spark) /
HUGEINT via explicit cast (DuckDB): dev^2*(n-1) reaches ~1e19 already
at ~1e5 events/day over ~1e3 days, past the 2^63 BIGINT ceiling where
non-ANSI arithmetic would wrap silently. The 38-digit envelope holds
to ~1e9 events/day over ~1e4 days per key — beyond any real per-key
daily volume. (The streaming twin keeps Python ints: arbitrary
precision, no cast needed.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import frac4


def daily_count_anomalies(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    k: int = 3,
) -> DataFrame:
    """Per-key daily event counts flagged where the count sits >= ``k``
    sample standard deviations from the key's own mean — in exact
    integer arithmetic (module docstring).

    Shape: one grouped aggregation to (key, day, count) — map-side
    partial, the only shuffle of the raw data — then two window
    aggregates over the tiny (key, day) table sharing one partitioning
    by key. Keys are few (event types), days are bounded: the window
    input is kilobytes even at petabyte event volume.

    Output: (key_col, day, n_events, n_days, mean_events, is_anomaly),
    unordered. ``mean_events`` is round(S1/n, 4) via exact integer
    division; groups with a single day or zero variance are never
    flagged (var == 0 => only a count differing from the constant mean
    could flag, but then var wouldn't be 0 — vacuous, kept explicit).
    """
    daily = (
        df.select(F.col(key_col).alias("key"), F.to_date(ts_col).alias("day"))
        .groupBy("key", "day")
        .agg(F.count("*").alias("n_events"))
    )
    w = Window.partitionBy("key")
    x = F.col("n_events")
    n, s1, s2 = F.count("*").over(w), F.sum(x).over(w), F.sum(x * x).over(w)
    dec = "decimal(38,0)"
    # cast the OPERANDS, not the results: s1*s1 alone passes 2^63 at
    # ~1e13 total events per key, wrapping before any outer cast
    nd, xd = n.cast(dec), x.cast(dec)
    s1d, s2d = s1.cast(dec), s2.cast(dec)
    dev = nd * xd - s1d              # n * (x - mean), exact integer
    varnum = nd * s2d - s1d * s1d    # n^2 var_pop = n(n-1) var_samp
    return (
        daily.select(
            F.col("key").alias(key_col),
            "day",
            "n_events",
            n.alias("n_days"),
            frac4(s1, n).alias("mean_events"),
            (
                (n > 1)
                & (varnum > 0)
                & (
                    dev * dev * (nd - 1)
                    >= F.lit(k * k).cast(dec) * nd * varnum
                )
            ).alias("is_anomaly"),
        )
    )
