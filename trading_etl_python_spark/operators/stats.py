"""Hypothesis tests + model-evaluation statistics (capability
extensions beyond the reference's indicator surface, SURVEY.md §2.3 —
the reference computes descriptive statistics only; these add the
inferential layer a data-quality / experimentation pipeline needs:
Welch's t, Mann-Whitney U (tie-corrected), chi-square independence,
and a precision/recall threshold sweep).

Parity design (a3e8e3f:PLANS.md §51): every test statistic is a SHORT, FIXED
chain of double operations applied to EXACT integer aggregates
(quantized sums, counts, rank sums) — the engines' aggregation trees
can only differ in how they combine the integers, which is exact, so
the final doubles are bit-identical before the 6dp display rounding.
No raw-float ranking anywhere (the q_spearman lesson): rank keys are
integer quantities or micro-quantized values.

Scale notes: all four are single-aggregation plans over bounded key
spaces (year×flag, year×quantity, type×cohort, 19 thresholds)
with map-side partial aggregation; nothing is pairwise, nothing
collects. Σx² accumulates integer DOLLARS (not cents) so it stays
inside int64 through the sf1 sweep (~3e15 per group; DuckDB widens to
HUGEINT, Spark stays int64 — the coarser unit keeps both exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _nz(e):
    """NULL where ``e`` is 0, so ``x / _nz(e)`` is NULL there, as x / 0
    is in the DuckDB oracle (ANSI Spark raises DIVIDE_BY_ZERO instead)."""
    return F.nullif(e, F.lit(0.0))


def welch_ttest(
    lineitem: DataFrame,
    group_col: str = "l_linestatus",
    flag_col: str = "l_returnflag",
    a: str = "A",
    b: str = "R",
    value_col: str = "l_extendedprice",
) -> DataFrame:
    """Welch's unequal-variance t-test of ``value_col`` between the two
    ``flag_col`` populations, one test per ``group_col`` value.

    ONE conditional aggregation (map-side combinable) produces the six
    exact integer moments (n, Σx, Σx² per side, x in whole dollars);
    mean/variance/t/df are then a fixed scalar double chain — written
    operator-for-operator identically in the DuckDB oracle.
    """
    d = F.round(F.col(value_col), 0).cast("long")
    is_a, is_b = F.col(flag_col) == a, F.col(flag_col) == b

    def side(cond, tag):
        v = F.col("_d")
        return [
            F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0))).alias(f"n{tag}"),
            F.sum(F.when(cond, v).otherwise(F.lit(0))).alias(f"s{tag}"),
            F.sum(F.when(cond, v * v).otherwise(F.lit(0))).alias(f"ss{tag}"),
        ]

    g = (
        lineitem.filter(is_a | is_b)
        .select(F.col(group_col).alias("grp"), flag_col, d.alias("_d"))
        .groupBy("grp")
        .agg(*side(is_a, "x"), *side(is_b, "y"))
    )

    def dbl(c):
        return F.col(c).cast("double")

    mx = dbl("sx") / _nz(dbl("nx"))
    my = dbl("sy") / _nz(dbl("ny"))
    vx = (dbl("ssx") - dbl("sx") * dbl("sx") / _nz(dbl("nx"))) / _nz(dbl("nx") - F.lit(1.0))
    vy = (dbl("ssy") - dbl("sy") * dbl("sy") / _nz(dbl("ny"))) / _nz(dbl("ny") - F.lit(1.0))
    ux = vx / _nz(dbl("nx"))
    uy = vy / _nz(dbl("ny"))
    t = (mx - my) / _nz(F.sqrt(ux + uy))
    dfw = (ux + uy) * (ux + uy) / _nz(
        ux * ux / _nz(dbl("nx") - F.lit(1.0)) + uy * uy / _nz(dbl("ny") - F.lit(1.0))
    )
    return g.select(
        "grp",
        F.col("nx").cast("long").alias("n_a"),
        F.col("ny").cast("long").alias("n_b"),
        F.round(mx, 6).alias("mean_a"),
        F.round(my, 6).alias("mean_b"),
        F.round(t, 6).alias("t_stat"),
        F.round(dfw, 6).alias("df_welch"),
    )


def mann_whitney(
    lineitem: DataFrame,
    group_col: str = "l_linestatus",
    flag_col: str = "l_returnflag",
    a: str = "A",
    b: str = "R",
    value_col: str = "l_quantity",
) -> DataFrame:
    """Tie-corrected Mann-Whitney U (rank-sum) test of ``value_col``
    between two populations, per ``group_col``.

    The rank axis is the EXACT integer quantity, so pooled average
    ranks come from a distinct-value aggregation (≤50 rows per group),
    never a per-row window: for each distinct value, the doubled
    average rank ``2·min_rank + cnt − 1`` is an exact integer, and
    ``2U = Σ cnt_a·avg2 − n_a(n_a+1)`` stays integer to the end.  The
    normal approximation applies the standard tie correction
    Σ(t³−t).  AUC = U/(n_a·n_b) is the common-language effect size.
    """
    is_a, is_b = F.col(flag_col) == a, F.col(flag_col) == b
    per_val = (
        lineitem.filter(is_a | is_b)
        .select(
            F.col(group_col).alias("grp"),
            F.col(value_col).cast("long").alias("v"),
            F.when(is_a, F.lit(1)).otherwise(F.lit(0)).alias("in_a"),
        )
        .groupBy("grp", "v")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("in_a").alias("cnt_a"),
        )
    )
    w = Window.partitionBy("grp").orderBy("v")
    ranked = per_val.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "avg2", F.lit(2) * (F.col("cum") - F.col("cnt") + F.lit(1)) + F.col("cnt") - F.lit(1)
    )
    g = ranked.groupBy("grp").agg(
        F.sum("cnt_a").alias("na"),
        F.sum(F.col("cnt") - F.col("cnt_a")).alias("nb"),
        F.sum(F.col("cnt_a") * F.col("avg2")).alias("r2a"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")).alias("ties"),
    )

    def dbl(c):
        return F.col(c).cast("double")

    u2 = F.col("r2a") - F.col("na") * (F.col("na") + F.lit(1))  # exact 2U
    u = u2.cast("double") / F.lit(2.0)
    n = F.col("na") + F.col("nb")
    mu = dbl("na") * dbl("nb") / F.lit(2.0)
    tie_term = F.col("ties").cast("double") / _nz(
        n.cast("double") * (n.cast("double") - F.lit(1.0))
    )
    sig2 = dbl("na") * dbl("nb") / F.lit(12.0) * ((n.cast("double") + F.lit(1.0)) - tie_term)
    z = (u - mu) / _nz(F.sqrt(sig2))
    auc = u / _nz(dbl("na") * dbl("nb"))
    return g.select(
        "grp",
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(u, 1).alias("u_stat"),
        F.round(z, 6).alias("z_stat"),
        F.round(auc, 6).alias("auc"),
    )


def chi2_independence(
    events: DataFrame,
    row_col: str = "event_type",
    n_cohorts: int = 3,
) -> DataFrame:
    """Chi-square independence test on the ``row_col`` × user-cohort
    contingency table (cohort = user_id mod ``n_cohorts``).

    Observed counts are exact; expected counts and per-cell
    contributions are single double chains; the chi2 TOTAL re-sums the
    contributions through integer micro-units (the VWAP pattern) so
    the cross-cell summation order cannot split engines.
    """
    g = (
        events.select(
            F.col(row_col).alias("r"),
            (F.col("user_id") % n_cohorts).cast("long").alias("cohort"),
        )
        .groupBy("r", "cohort")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wr = Window.partitionBy("r")
    wc = Window.partitionBy("cohort")
    wg = Window.partitionBy()
    rt = F.sum("n").over(wr).cast("double")
    ct = F.sum("n").over(wc).cast("double")
    gt = F.sum("n").over(wg).cast("double")
    e = rt * ct / gt
    contrib = (F.col("n").cast("double") - e) * (F.col("n").cast("double") - e) / e
    cells = g.select(
        "r",
        "cohort",
        "n",
        F.round(e, 6).alias("expected"),
        F.round(contrib, 6).alias("contrib"),
        F.round(contrib * F.lit(1e6), 0).cast("long").alias("_cmicro"),
    )
    chi2 = F.sum("_cmicro").over(Window.partitionBy()).cast("double") / F.lit(1e6)
    return cells.select(
        "r", "cohort", "n", "expected", "contrib", chi2.alias("chi2_total")
    )


def pr_curve(
    events: DataFrame,
    positive_type: str = "purchase",
    n_thresholds: int = 20,
) -> DataFrame:
    """Precision/recall/F1 threshold sweep for ``value`` as a score
    predicting ``event_type == positive_type``.

    Thresholds are an exact-integer grid over the micro-quantized score
    range (min + i·(max−min) div n), so the sweep is deterministic; each
    threshold's confusion counts are exact integers from ONE broadcast
    cross-join pass (19 thresholds × map-side combine — a single scan
    regardless of corpus size).
    """
    scored = events.select(
        F.round(F.col("value") * F.lit(1e6), 0).cast("long").alias("vmicro"),
        F.when(F.col("event_type") == positive_type, F.lit(1))
        .otherwise(F.lit(0))
        .alias("label"),
    )
    rng = scored.agg(
        F.min("vmicro").alias("vmin"), F.max("vmicro").alias("vmax")
    )
    thresholds = (
        rng.crossJoin(
            scored.sparkSession.range(1, n_thresholds).withColumnRenamed("id", "i")
        )
        .select(
            F.col("i").cast("long").alias("i"),
            # nonneg numerator -> trunc (Spark div) == floor (DuckDB //)
            (
                F.col("vmin")
                + F.expr(f"i * (vmax - vmin) div {n_thresholds}")
            ).alias("thr"),
        )
    )
    joined = scored.crossJoin(F.broadcast(thresholds))
    g = joined.groupBy("i", "thr").agg(
        F.sum(
            F.when((F.col("vmicro") >= F.col("thr")) & (F.col("label") == 1), 1).otherwise(0)
        ).alias("tp"),
        F.sum(F.when(F.col("vmicro") >= F.col("thr"), 1).otherwise(0)).alias("pp"),
        F.sum("label").alias("np"),
    )

    def dbl(c):
        return F.col(c).cast("double")

    prec = F.when(F.col("pp") > 0, dbl("tp") / dbl("pp"))
    rec = F.when(F.col("np") > 0, dbl("tp") / dbl("np"))
    f1 = F.when(
        (F.col("pp") > 0) & (F.col("np") > 0) & (F.col("tp") > 0),
        F.lit(2.0) * (dbl("tp") / dbl("pp")) * (dbl("tp") / dbl("np"))
        / (dbl("tp") / dbl("pp") + dbl("tp") / dbl("np")),
    ).otherwise(F.lit(0.0))
    return g.select(
        "i",
        (F.col("thr").cast("double") / F.lit(1e6)).alias("threshold"),
        F.col("tp").cast("long").alias("tp"),
        F.col("pp").cast("long").alias("predicted_pos"),
        F.col("np").cast("long").alias("actual_pos"),
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )
