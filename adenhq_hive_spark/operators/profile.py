"""Table profiling: the describe/summary surface a warehouse engine
exposes before any curation decision (reference parallel: its
describe_dataset / csv_info / excel_info metadata tools, e.g.
tools/src/aden_tools/tools/file_system_toolkits/ — re-expressed as a
single distributed aggregation instead of per-file metadata probes).

Shape: ONE scan, ONE aggregation computing every column's stats
side-by-side, then an unpivot of the single result row — no per-column
jobs, no driver-side loops. Multiple exact COUNT(DISTINCT) in one agg
is Catalyst's Expand rewrite (data multiplied by n_cols in the map
stage, still one shuffle); at 100 TB pass ``exact=False`` to switch to
approx_count_distinct (HLL, no Expand) — the oracle-exact tier is the
correctness gate, the HLL tier is the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_table(
    df: DataFrame,
    columns: list[str] | None = None,
    max_str: int = 24,
    exact: bool = True,
) -> DataFrame:
    """Per-column profile: (col_name, n_rows, n_nulls, n_distinct,
    min_s, max_s) — min/max cast to string AFTER the typed aggregation
    (numeric order, not lexicographic) and truncated to ``max_str``
    chars so wide text columns stay envelope-sized.
    """
    cols = columns if columns is not None else df.columns
    nd = F.count_distinct if exact else F.approx_count_distinct
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"__nn_{c}"),
            nd(F.col(c)).alias(f"__nd_{c}"),
            F.substring(F.min(F.col(c)).cast("string"), 1, max_str).alias(
                f"__mn_{c}"
            ),
            F.substring(F.max(F.col(c)).cast("string"), 1, max_str).alias(
                f"__mx_{c}"
            ),
        ]
    row = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                (F.col("__n") - F.col(f"__nn_{c}")).alias("n_nulls"),
                F.col(f"__nd_{c}").alias("n_distinct"),
                F.col(f"__mn_{c}").alias("min_s"),
                F.col(f"__mx_{c}").alias("max_s"),
            )
            for c in cols
        ]
    )
    return (
        row.select(F.col("__n").alias("n_rows"), F.explode(entries).alias("e"))
        .select(
            "e.col_name",
            "n_rows",
            "e.n_nulls",
            "e.n_distinct",
            "e.min_s",
            "e.max_s",
        )
    )


def approx_quantiles_gate(
    df: DataFrame,
    col: str,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9, 0.99),
    accuracy: int = 10_000,
    slack: float = 0.002,
) -> DataFrame:
    """Sketch-quantile tier with an in-engine rank-error gate — the
    numeric-profiling analog of pl_lsh_recall/pl_ivf_recall: the
    operator under test is ``percentile_approx`` (GK sketch, mergeable
    partial aggregation — the only quantile that scales to 100 TB), and
    the gate verifies its published guarantee (rank error <= 1/accuracy)
    against the data itself rather than trusting it.

    Pass 1 computes the sketch values; pass 2 computes each value's true
    rank fraction (one broadcast of a single sketch row + one scan).
    Emits one row (n_checked, within_tol) for a constant oracle: the
    VALUES aren't portable across engines (DuckDB's approx_quantile is
    t-digest, Spark's is GK — different sketches, both correct), the
    rank-error BOUND is.
    """
    c = F.col(col)
    apx = df.agg(
        F.percentile_approx(c, F.array(*[F.lit(p) for p in probs]), accuracy)
        .alias("apx"),
        F.count(c).alias("n"),
    )
    joined = df.crossJoin(F.broadcast(apx))
    rank_cols = [
        F.avg((c <= F.col("apx")[i]).cast("int")).alias(f"r_{i}")
        for i in range(len(probs))
    ]
    ranks = joined.groupBy("n").agg(*rank_cols)
    tol = F.lit(1.0 / accuracy + slack) + F.lit(1.0) / F.col("n")
    ok = F.lit(True)
    for i, p in enumerate(probs):
        ok = ok & (F.abs(F.col(f"r_{i}") - F.lit(p)) <= tol)
    return ranks.select(
        F.lit(len(probs)).alias("n_checked"), ok.alias("within_tol")
    )


def ks_drift(
    df: "DataFrame",
    value_col: str = "n_chars",
    group_col: str = "source",
) -> "DataFrame":
    """Two-sample Kolmogorov-Smirnov distance of each group's value
    distribution against the REST of the corpus — the distribution-drift
    detector curation recipes run per source/shard (a crawler config
    change shows up as a length-CDF shift long before quality averages
    move).

    Exact integer formulation: KS = max_x |F_g(x) - F_rest(x)| compares
    as the cleared numerator |cum_g(x)·n_rest − cum_rest(x)·n_g| over
    the constant denominator n_g·n_rest, so the maximum is decided in
    integer arithmetic (DECIMAL(38,0) products — BIGINT wraps once
    corpus-level cum·n products pass ~9.2e18, i.e. ~3e9 docs) and only
    the final reported fraction rounds (frac4, half-up, portable).

    Scale shape: per-(group, value) counts → dense (group × pooled
    value) grid via cross join with the distinct-value list → per-group
    cumulative windows (PARTITIONED by group, never global) → corpus
    cumulative recovered as the SUM of per-group cums at each value
    (one keyed shuffle — no single-partition window over the value
    grid). Grid size = |groups| · |distinct values|, metadata-sized
    for any realistic value column (doc lengths, scores).

    Emits (group_col, n_docs, ks), unordered.
    """
    from pyspark.sql import Window

    from .text import frac4

    counts = (
        df.groupBy(group_col, value_col)
        .agg(F.count("*").alias("c"))
    )
    groups = counts.select(group_col).distinct()
    values = counts.select(value_col).distinct()
    grid = groups.crossJoin(values)
    dense = grid.join(counts, [group_col, value_col], "left").select(
        group_col,
        value_col,
        F.coalesce("c", F.lit(0)).alias("c"),
    )
    wg = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cums = dense.withColumn("cum_g", F.sum("c").over(wg))
    corpus = cums.groupBy(value_col).agg(F.sum("cum_g").alias("cum_all"))
    totals = df.groupBy(group_col).agg(F.count("*").alias("n_g"))
    n_total = df.count()
    dec = "decimal(38,0)"
    joined = (
        cums.join(corpus, value_col)
        .join(totals, group_col)
        .withColumn("n_rest", F.lit(n_total) - F.col("n_g"))
        .withColumn(
            "ks_num",
            F.abs(
                F.col("cum_g").cast(dec) * F.col("n_rest").cast(dec)
                - (F.col("cum_all") - F.col("cum_g")).cast(dec)
                * F.col("n_g").cast(dec)
            ),
        )
    )
    return (
        joined.groupBy(group_col)
        .agg(
            F.first("n_g").alias("n_docs"),
            F.max("ks_num").alias("ks_num"),
            F.first(F.col("n_g").cast(dec) * F.col("n_rest").cast(dec)).alias(
                "den"
            ),
        )
        .select(
            group_col,
            F.col("n_docs").cast("long").alias("n_docs"),
            # a single-group corpus has no "rest": den = n_g*0 = 0 and
            # the KS distance is undefined — report NULL, never divide
            F.when(F.col("den") == 0, F.lit(None)).otherwise(
                frac4(F.col("ks_num"), F.col("den"))
            ).alias("ks"),
        )
    )


def psi_drift(
    df: "DataFrame",
    value_col: str = "n_chars",
    group_col: str = "source",
    n_buckets: int = 10,
) -> "DataFrame":
    """Population Stability Index of each group's value distribution
    against the rest of the corpus — the industry-standard model-
    monitoring drift score (PSI < 0.1 stable, 0.1-0.25 moderate shift,
    > 0.25 action; complements :func:`ks_drift`, which is
    rank-sensitive where PSI is mass-sensitive).

    ``PSI_g = Σ_b (p_b − q_b)·ln(p_b/q_b)`` over ``n_buckets``
    equal-width buckets of the GLOBAL [min, max] range, with add-one
    smoothing on both sides so empty buckets contribute finitely
    (deterministic — no clamping heuristics). Bucketing is exact
    integer arithmetic: ``(v − vmin)·B DIV (vmax − vmin + 1)``; only
    p, q and ln run in doubles, then frac-rounded (the
    pl_unigram_logprob precedent: ln is bit-portable across engines).

    Scale shape: one (group, bucket) count aggregation, densified over
    the B-bucket grid (metadata-sized), one bucket-total rollup —
    no windows at all. Emits (group_col, n_docs, psi), unordered.
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    spark = df.sparkSession
    bounds = df.agg(
        F.min(value_col).alias("vmin"), F.max(value_col).alias("vmax")
    )
    bucketed = df.crossJoin(F.broadcast(bounds)).select(
        group_col,
        F.expr(
            f"CAST(({value_col} - vmin) * {n_buckets} AS BIGINT)"
            " DIV (vmax - vmin + 1)"
        ).alias("bucket"),
    )
    counts = bucketed.groupBy(group_col, "bucket").agg(
        F.count("*").alias("c")
    )
    groups = counts.select(group_col).distinct()
    buckets = spark.range(n_buckets).select(F.col("id").alias("bucket"))
    dense = (
        groups.crossJoin(F.broadcast(buckets))
        .join(counts, [group_col, "bucket"], "left")
        .select(
            group_col, "bucket",
            F.coalesce("c", F.lit(0)).cast("long").alias("c"),
        )
    )
    bucket_tot = dense.groupBy("bucket").agg(
        F.sum("c").alias("c_all")
    )
    totals = df.groupBy(group_col).agg(F.count("*").alias("n_g"))
    n_total = df.count()
    j = (
        dense.join(bucket_tot, "bucket")
        .join(totals, group_col)
        .withColumn("n_rest", F.lit(n_total) - F.col("n_g"))
        .withColumn(
            "p",
            (F.col("c") + 1).cast("double")
            / (F.col("n_g") + n_buckets).cast("double"),
        )
        .withColumn(
            "q",
            (F.col("c_all") - F.col("c") + 1).cast("double")
            / (F.col("n_rest") + n_buckets).cast("double"),
        )
    )
    terms = j.select(
        group_col, "bucket", "n_g",
        ((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q")))
        .alias("term"),
    )
    # order-fixed in-row fold (bucket order), not F.sum: a distributed
    # double sum is partial-aggregation-order dependent, which would
    # break the oracle hash (the jl_project discipline)
    return (
        terms.groupBy(group_col)
        .agg(
            F.first("n_g").alias("n_docs"),
            F.round(
                F.aggregate(
                    F.array_sort(
                        F.collect_list(F.struct("bucket", "term"))
                    ),
                    F.lit(0.0),
                    lambda acc, s: acc + s["term"],
                ),
                4,
            ).alias("psi"),
        )
    )


def label_kl(
    df: DataFrame,
    label_col: str,
    group_col: str = "source",
) -> DataFrame:
    """Per-group label-mix skew: KL(p(label | group) ‖ p(label)) in
    nats — the confounding audit for labeled corpora ("does this
    source's label distribution deviate from the corpus?"; the
    group-size-weighted sum of these IS the mutual information
    I(group; label), so MI falls out of the same relation).

    All counts exact BIGINT; each term is the fixed-shape double
    expression (c_gl/n_g)·ln((c_gl/n_g)/(c_l/n)), summed with the
    order-fixed in-row fold over labels (the psi_drift/jl_project
    discipline — a distributed double sum is partial-agg-order
    dependent and would break the oracle hash).  Absent (group, label)
    cells contribute 0 (the KL limit), so no smoothing is needed.

    Scale: one (group, label) count shuffle; marginals and terms are
    metadata-sized rollups of it.  Emits (group, n_docs, kl_r6)
    ordered by group.
    """
    cnt = df.groupBy(
        F.col(group_col).alias("grp"), F.col(label_col).alias("lbl")
    ).agg(F.count("*").alias("c_gl"))
    n_g = cnt.groupBy("grp").agg(F.sum("c_gl").alias("n_g"))
    c_l = cnt.groupBy("lbl").agg(F.sum("c_gl").alias("c_l"))
    n = cnt.agg(F.sum("c_gl").alias("n"))
    terms = (
        cnt.join(F.broadcast(n_g), "grp")
        .join(F.broadcast(c_l), "lbl")
        .crossJoin(F.broadcast(n))
        .select(
            "grp",
            "lbl",
            "n_g",
            (
                (F.col("c_gl").cast("double") / F.col("n_g"))
                * F.log(
                    (F.col("c_gl").cast("double") / F.col("n_g"))
                    / (F.col("c_l").cast("double") / F.col("n"))
                )
            ).alias("term"),
        )
    )
    return (
        terms.groupBy("grp")
        .agg(
            F.first("n_g").alias("n_docs"),
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("lbl", "term"))),
                    F.lit(0.0),
                    lambda acc, s: acc + s["term"],
                ),
                6,
            ).alias("kl_r6"),
        )
        .select(
            F.col("grp").alias(group_col),
            F.col("n_docs").cast("long").alias("n_docs"),
            "kl_r6",
        )
        .orderBy(group_col)
    )


def label_agreement(
    df: DataFrame,
    col_a: str,
    col_b: str,
    group_col: str | None = None,
) -> DataFrame:
    """Cohen's kappa inter-rater agreement between two categorical label
    columns — the labeled-data QC primitive (annotator pairs,
    model-vs-human labels, declared-vs-predicted metadata; Cohen 1960).

    kappa = (po - pe) / (1 - pe) with
      po = observed agreement  = sum_c n_cc / n
      pe = chance agreement    = sum_c marg_a(c) * marg_b(c) / n^2

    Determinism contract: the confusion matrix and both marginals are
    exact BIGINT counts; po and pe are then formed by SINGLE IEEE double
    divisions over exact integers (pe as (s_ab / n) / n so no integer
    product ever exceeds BIGINT even at n ~ 10^9 rows) — unlike a
    floating accumulation there is no order dependence, so kappa hashes
    across engines with ROUND(.., 6).  Degenerate pe = 1 (both raters
    constant on the same class) forces po = 1 and kappa is pinned 1.0.

    Scale: ONE corpus scan and three shuffles, no joins — the
    confusion groupBy on the class-pair key, then each cell EXPLODES
    into its truth-side and pred-side per-class contributions
    (cls = a: +c to marg_a, +c to agree when a = b; cls = b: +c to
    marg_b), so one (group, cls) aggregation yields both marginals AND
    the diagonal, and one final group aggregation folds
    n / agree / sum(marg_a * marg_b) without ever joining the marginal
    rollups (a branch-and-join shape re-scans the corpus per branch —
    the plan this replaces read the parquet twice).  Emits
    (group?, n, agree, po_r6, pe_r6, kappa_r6), unordered.
    """
    g = [group_col] if group_col else []
    z = F.lit(0).cast("long")
    cnt = (
        df.groupBy(*g, F.col(col_a).alias("la"), F.col(col_b).alias("lb"))
        .agg(F.count("*").alias("c"))
    )
    sides = cnt.select(
        *g,
        F.explode(
            F.array(
                F.struct(
                    F.col("la").alias("cls"),
                    F.col("c").alias("ca"),
                    z.alias("cb"),
                    F.when(F.col("la") == F.col("lb"), F.col("c"))
                    .otherwise(z)
                    .alias("diag"),
                ),
                F.struct(
                    F.col("lb").alias("cls"),
                    z.alias("ca"),
                    F.col("c").alias("cb"),
                    z.alias("diag"),
                ),
            )
        ).alias("e"),
    ).select(*g, "e.*")
    marg = sides.groupBy(*g, "cls").agg(
        F.sum("ca").alias("na"),
        F.sum("cb").alias("nb"),
        F.sum("diag").alias("agree_c"),
    )
    tot = marg.groupBy(*g).agg(
        F.sum("na").alias("n"),
        F.sum("agree_c").alias("agree"),
        F.sum(F.col("na") * F.col("nb")).alias("s_ab"),
    )
    po = F.col("agree").cast("double") / F.col("n")
    pe = (F.col("s_ab").cast("double") / F.col("n")) / F.col("n")
    out = tot.select(
        *g,
        "n",
        "agree",
        F.round(po, 6).alias("po_r6"),
        F.round(pe, 6).alias("pe_r6"),
        F.round(
            F.when(pe == 1.0, F.lit(1.0)).otherwise(
                (po - pe) / (F.lit(1.0) - pe)
            ),
            6,
        ).alias("kappa_r6"),
    )
    return out


def kripp_alpha(
    df: DataFrame,
    col_a: str,
    col_b: str,
    group_col: str | None = None,
) -> DataFrame:
    """Krippendorff's alpha (nominal metric, two raters, no missing
    data) between two categorical label columns — the agreement
    coefficient that generalizes :func:`label_agreement`'s kappa by
    correcting chance with the POOLED value distribution instead of
    per-rater marginals (Krippendorff 2004), which is the right null
    when the two columns are interchangeable annotators rather than
    truth-vs-prediction.

    With two raters and units u holding values (a_u, b_u):
      observed disagreement  Do = D / n          with D = 2·#{a_u ≠ b_u}
      expected disagreement  De = (n² − S) / (n(n−1))
      alpha = 1 − Do/De = 1 − D·(n−1) / (n² − S)
    where n = 2·#units (total pooled values), n_c the pooled count of
    class c, S = Σ_c n_c².  Every quantity up to the final division is
    an exact BIGINT (documented bound: S and n² stay under int64 for
    n ≤ ~3·10⁹ pooled values — same envelope as kappa's s_ab), the
    final alpha is one double division, so the result hashes across
    engines with ROUND(.., 6).  Degenerate De = 0 (every value
    identical) pins alpha = 1.0.

    Scale: one corpus scan into a (group, class-pair) groupBy — the
    state is |groups|·|classes|² rows; everything after is
    metadata-sized.  Emits (group?, n_units, disagree, alpha_r6),
    unordered.
    """
    g = [group_col] if group_col else []
    cnt = (
        df.groupBy(*g, F.col(col_a).alias("la"), F.col(col_b).alias("lb"))
        .agg(F.count("*").alias("c"))
    )
    pooled = cnt.select(
        *g,
        "c",
        F.when(F.col("la") != F.col("lb"), F.col("c"))
        .otherwise(F.lit(0))
        .alias("dis"),
        F.explode(F.array(F.col("la"), F.col("lb"))).alias("cls"),
    )
    # one exploded row per rater side: a (la, lb) unit lands c on cls=la
    # and c on cls=lb, so sum(c) by cls IS the pooled per-class count
    # (an agreeing unit's two rows share the class and correctly sum to
    # 2c); dis rides both rows, so sum(dis) = 2·#disagreeing-units = D
    n_c = pooled.groupBy(*g, "cls").agg(
        F.sum("c").alias("n_c"),
        F.sum("dis").alias("dis2"),
    )
    tot = n_c.groupBy(*g).agg(
        F.sum("n_c").alias("n"),
        F.sum(F.col("n_c") * F.col("n_c")).alias("s"),
        F.sum("dis2").alias("d2"),
    )
    d = F.col("d2")
    n = F.col("n")
    de_num = n * n - F.col("s")
    alpha = F.when(de_num == 0, F.lit(1.0)).otherwise(
        F.lit(1.0) - (d.cast("double") * (n - 1)) / de_num
    )
    out = tot.select(
        *g,
        (n / 2).cast("long").alias("n_units"),
        (d / 2).cast("long").alias("disagree"),
        F.round(alpha, 6).alias("alpha_r6"),
    )
    return out


def classification_report(
    df: DataFrame,
    truth_col: str,
    pred_col: str,
) -> DataFrame:
    """Per-class precision / recall / F1 from a (truth, pred) pair —
    the model-evaluation-over-tables primitive that pairs with
    :func:`label_agreement` (kappa answers "better than chance?", this
    answers "where does it fail?").

    Exactness contract: tp / n_pred / n_truth are exact BIGINTs;
    precision = tp/n_pred and recall = tp/n_truth are single IEEE
    divisions; F1 = 2*tp / (n_pred + n_truth) is computed from the
    INTEGER identity (not from p*r/(p+r), which would compound three
    rounded doubles) — one division, deterministic, hashes at
    ROUND(.., 6).  Classes appearing only in truth or only in pred
    still get a row (full outer over the marginals) with zero-division
    pinned to 0.0, sklearn's zero_division=0 convention.

    Scale: ONE corpus scan, two shuffles, no joins — the confusion
    groupBy on the (truth, pred) pair key, then each cell explodes into
    its truth-side and pred-side per-class contributions and one class
    aggregation yields n_truth / n_pred / tp together (the
    full-outer-join-of-marginals shape this replaces re-scanned the
    corpus per branch; truth-only and pred-only classes surface
    naturally because each side emits its own cls row).
    """
    z = F.lit(0).cast("long")
    cnt = (
        df.groupBy(
            F.col(truth_col).alias("t"), F.col(pred_col).alias("p")
        ).agg(F.count("*").alias("c"))
    )
    m = (
        cnt.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("t").alias("cls"),
                        F.col("c").alias("ct"),
                        z.alias("cp"),
                        F.when(F.col("t") == F.col("p"), F.col("c"))
                        .otherwise(z)
                        .alias("diag"),
                    ),
                    F.struct(
                        F.col("p").alias("cls"),
                        z.alias("ct"),
                        F.col("c").alias("cp"),
                        z.alias("diag"),
                    ),
                )
            ).alias("e")
        )
        .select("e.*")
        .groupBy("cls")
        .agg(
            F.sum("ct").alias("n_truth"),
            F.sum("cp").alias("n_pred"),
            F.sum("diag").alias("tp"),
        )
    )
    tp_d = F.col("tp").cast("double")
    return m.select(
        "cls",
        F.col("n_truth").cast("long").alias("n_truth"),
        F.col("n_pred").cast("long").alias("n_pred"),
        F.col("tp").cast("long").alias("tp"),
        F.round(
            F.when(F.col("n_pred") == 0, F.lit(0.0)).otherwise(
                tp_d / F.col("n_pred")
            ),
            6,
        ).alias("precision_r6"),
        F.round(
            F.when(F.col("n_truth") == 0, F.lit(0.0)).otherwise(
                tp_d / F.col("n_truth")
            ),
            6,
        ).alias("recall_r6"),
        F.round(
            F.when(
                F.col("n_pred") + F.col("n_truth") == 0, F.lit(0.0)
            ).otherwise(
                (F.lit(2.0) * tp_d)
                / (F.col("n_pred") + F.col("n_truth"))
            ),
            6,
        ).alias("f1_r6"),
    )


def cramers_v(
    df: "DataFrame",
    col_a: str,
    col_b: str,
) -> "DataFrame":
    """Cramér's V association between two categorical columns — the
    [0, 1]-normalized chi-square (Cramér 1946), the audit next to
    :func:`label_kl`: KL says HOW a group's mix deviates, V says how
    strongly two labelings are coupled overall.

      chi2 = sum_ij (o_ij - e_ij)^2 / e_ij,  e_ij = r_i * c_j / n
      V    = sqrt(chi2 / (n * (min(R, C) - 1)))

    Exact integer contingency counts; each cell's term is the
    fixed-shape double  ((o*n - r*c)^2 as DECIMAL(38,0) -> double) /
    (n*r*c as double)  — no rational e_ij ever materializes — and the
    cell terms fold in fixed (a, b) order via the order-fixed in-row
    fold (the label_kl/psi discipline).  Single-category degenerate
    tables (min(R, C) = 1) emit V = NULL.

    Emits ONE row: (n, rows_a, cols_b, chi2_r6, v_r6).

    Scale: one (a, b) contingency aggregation; marginals and the fold
    are rollups of it — O(R x C) everything after the scan.
    """
    raw = df.groupBy(
        F.col(col_a).alias("a"), F.col(col_b).alias("b")
    ).agg(F.count("*").alias("o"))
    ra = raw.groupBy("a").agg(F.sum("o").alias("r"))
    cb = raw.groupBy("b").agg(F.sum("o").alias("c"))
    nn = raw.agg(F.sum("o").alias("n"))
    # densify: UNOBSERVED (a, b) cells still contribute (e_ij)^2/e_ij
    # = e_ij to chi2 — a sparse fold understates association (the
    # psi_drift grid discipline)
    grid = ra.select("a").crossJoin(cb.select("b"))
    cnt = grid.join(raw, ["a", "b"], "left").select(
        "a", "b", F.coalesce("o", F.lit(0)).alias("o")
    )
    dec = "decimal(38,0)"
    # dev stays exact in DECIMAL(38,0); squaring happens AFTER the
    # double cast (a 38x38 decimal product overflows both engines'
    # precision caps, and dev -> double rounds identically on both)
    dev = (
        F.col("o").cast(dec) * F.col("n").cast(dec)
        - F.col("r").cast(dec) * F.col("c").cast(dec)
    ).cast("double")
    term = (dev * dev) / (
        F.col("n").cast("double")
        * F.col("r").cast("double")
        * F.col("c").cast("double")
    )
    cells = (
        cnt.join(F.broadcast(ra), "a")
        .join(F.broadcast(cb), "b")
        .crossJoin(F.broadcast(nn))
        .select("a", "b", "n", term.alias("term"))
    )
    folded = cells.groupBy("n").agg(
        F.count("*").alias("n_cells"),
        F.count_distinct("a").alias("rows_a"),
        F.count_distinct("b").alias("cols_b"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("a", "b", "term"))),
            F.lit(0.0),
            lambda acc, s: acc + s["term"],
        ).alias("chi2"),
    )
    dof = F.least(F.col("rows_a"), F.col("cols_b")) - 1
    v = F.when(
        dof > 0,
        F.sqrt(
            F.col("chi2") / (F.col("n").cast("double") * dof.cast("double"))
        ),
    )
    return folded.select(
        F.col("n").cast("long").alias("n"),
        F.col("rows_a").cast("long").alias("rows_a"),
        F.col("cols_b").cast("long").alias("cols_b"),
        (F.round(F.col("chi2"), 6) + F.lit(0.0)).alias("chi2_r6"),
        (F.round(v, 6) + F.lit(0.0)).alias("v_r6"),
    )
