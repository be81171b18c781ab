"""Portfolio/risk analytics over the indicator engine's bar streams —
log returns, rolling volatility, drawdown, cross-symbol correlation.

These extend the reference's per-symbol indicator suite (SURVEY.md §2.1
W1-W11, `trading-etl-python/src/db/backfill.py:12-64`) with the
cross-sectional statistics a trading analytics stack needs next; all are
window/aggregate-native (no UDFs, whole-stage codegen end-to-end).

Scale notes (100 TB posture):

- returns / volatility / drawdown are per-key window expressions: one
  hash(symbol) exchange, frame state O(lookback), same scale envelope as
  the indicator table (ARCHITECTURE.md §2).
- correlation matrices are inherently quadratic in the number of series,
  so `basket_correlation` correlates a *chosen basket* (deterministic
  key predicate), aligned on calendar day. The daily-aggregated basket
  series is tiny (|basket| x |days|) regardless of tick volume — the
  heavy lineage is the day-level pre-aggregation, which is one
  hash(symbol, day) exchange over the full stream; the pair join runs on
  the reduced table and Catalyst broadcasts it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import windows as W


def with_log_return(df: DataFrame, col: str = "close", out: str = "log_ret") -> DataFrame:
    """ln(close_t / close_{t-1}) per symbol; NULL on each symbol's first
    row and wherever either close is non-positive (a zero tick would be a
    DIVIDE_BY_ZERO under ANSI mode and -inf math otherwise — the guard is
    mirrored verbatim in the oracles)."""
    w = W.by_key()
    prev = F.lag(col, 1).over(w)
    ret = F.when(
        (prev > 0) & (F.col(col) > 0), F.round(F.log(F.col(col) / prev), 6)
    )
    return df.withColumn(out, ret)


def with_rolling_vol(df: DataFrame, n: int = 20, ret_col: str = "log_ret") -> DataFrame:
    """Rolling sample stddev of log returns over the last ``n`` returns;
    NULL until ``n`` non-NULL returns exist (min_periods semantics,
    mirroring the reference's SMA warmup discipline)."""
    w = W.by_key().rowsBetween(-(n - 1), Window.currentRow)
    vol = F.when(
        F.count(ret_col).over(w) >= n, F.round(F.stddev_samp(ret_col).over(w), 6)
    )
    return df.withColumn(f"vol_{n}", vol)


def with_drawdown(df: DataFrame, col: str = "close") -> DataFrame:
    """Running peak and drawdown-from-peak (<= 0) per symbol."""
    w = W.by_key().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    peak = F.max(col).over(w)
    return df.withColumn("peak", F.round(peak, 4)).withColumn(
        "drawdown", F.round(F.col(col) / F.nullif(peak, F.lit(0.0)) - 1.0, 6)
    )


def max_drawdown(df: DataFrame, col: str = "close") -> DataFrame:
    """Per-symbol maximum drawdown (most negative peak-to-trough)."""
    dd = with_drawdown(df, col)
    return dd.groupBy("symbol").agg(
        F.min("drawdown").alias("max_drawdown"),
        F.round(F.max("peak"), 4).alias("peak_close"),
        F.count(F.lit(1)).alias("n_bars"),
    )


def daily_close(df: DataFrame, col: str = "close") -> DataFrame:
    """Mean close per (symbol, calendar day) — the alignment grid for
    cross-symbol statistics. One hash(symbol, day) exchange."""
    return df.groupBy("symbol", F.to_date("time").alias("day")).agg(
        F.avg(col).alias("close_d")
    )


def basket_correlation(
    df: DataFrame, basket_max_symbol: int = 50, min_days: int = 15
) -> DataFrame:
    """Pearson correlation of day-aligned close series for every pair in
    a deterministic basket (symbol < ``basket_max_symbol``). Pairs with
    fewer than ``min_days`` shared days are dropped (corr over a handful
    of points is noise)."""
    d = daily_close(df.filter(F.col("symbol") < basket_max_symbol))
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(b, (F.col("a.day") == F.col("b.day")) & (F.col("a.symbol") < F.col("b.symbol")))
        .groupBy(
            F.col("a.symbol").alias("symbol_a"),
            F.col("b.symbol").alias("symbol_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(F.corr("a.close_d", "b.close_d"), 4).alias("corr_close"),
        )
        .filter(F.col("n_days") >= min_days)
    )


def basket_beta(
    df: DataFrame, basket_max_symbol: int = 50, min_days: int = 15
) -> DataFrame:
    """CAPM beta of each basket symbol against the equal-weight basket
    "market": beta_i = covar_samp(r_i, r_m) / var_samp(r_m) over
    day-aligned daily log returns.

    Same scale shape as ``basket_correlation``: all heavy lineage is the
    one hash(symbol, day) pre-aggregation; returns, the per-day market
    average, and the final per-symbol moments all run on the tiny
    |basket| x |days| grid."""
    d = daily_close(df.filter(F.col("symbol") < basket_max_symbol))
    wd = Window.partitionBy("symbol").orderBy("day")
    prev_d = F.lag("close_d", 1).over(wd)
    r = d.withColumn(
        "r",
        F.when(
            (prev_d > 0) & (F.col("close_d") > 0),
            F.round(F.log(F.col("close_d") / prev_d), 6),
        ),
    ).filter(F.col("r").isNotNull())
    mkt = r.groupBy("day").agg(F.round(F.avg("r"), 6).alias("r_mkt"))
    return (
        r.join(mkt, "day")
        .groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(
                F.covar_samp("r", "r_mkt") / F.nullif(F.var_samp("r_mkt"), F.lit(0.0)), 4
            ).alias("beta"),
        )
        .filter(F.col("n_days") >= min_days)
    )


def twap(df: DataFrame, col: str = "close") -> DataFrame:
    """Time-weighted average price per (symbol, day): each tick is weighted
    by its holding time — microseconds until the next tick of the same day
    (the last tick carries no weight, TimescaleDB ``time_weight('LOCF')``
    within-bucket semantics).  One window (lead) + one hash aggregate,
    both on the symbol distribution; weights stay integral (micros) so
    only the final division needs rounding."""
    day = F.date_trunc("day", "time").alias("day")
    w = Window.partitionBy("symbol", F.to_date("time")).orderBy("time", "event_id")
    nxt = F.lead(F.col("time").cast("timestamp")).over(w)
    dt_us = F.unix_micros(nxt) - F.unix_micros(F.col("time").cast("timestamp"))
    wsum = df.select("symbol", day, F.col(col).alias("px"), dt_us.alias("dt_us"))
    return wsum.groupBy("symbol", "day").agg(
        F.round(
            F.sum(F.col("px") * F.col("dt_us")) / F.nullif(F.sum("dt_us"), F.lit(0)),
            6,
        ).alias("twap"),
        F.count(F.lit(1)).alias("n_ticks"),
    )


def winsorize(
    df: DataFrame, col: str = "close", lo: float = 0.05, hi: float = 0.95
) -> DataFrame:
    """Per-symbol winsorization: clip ``col`` to its own [p_lo, p_hi]
    interpolated percentiles (outlier taming before risk stats).  The
    percentiles are unbounded-frame window aggregates — one hash exchange
    on symbol, no sort (no ORDER BY in the spec), values computed once
    per partition and broadcast to every row by the window operator."""
    w = Window.partitionBy("symbol")
    plo = F.expr(f"percentile({col}, {lo})").over(w)
    phi = F.expr(f"percentile({col}, {hi})").over(w)
    return (
        df.withColumn("p_lo", F.round(plo, 4))
        .withColumn("p_hi", F.round(phi, 4))
        .withColumn(
            f"{col}_wins",
            F.round(F.least(F.greatest(F.col(col), plo), phi), 4),
        )
    )


def rolling_market_corr(
    df: DataFrame, basket_max_symbol: int = 50, n: int = 10
) -> DataFrame:
    """Rolling n-day Pearson correlation of each basket symbol's daily
    log return against the equal-weight basket return.  All heavy lineage
    is the one hash(symbol, day) pre-aggregation; the windowed corr runs
    on the tiny |basket| x |days| grid (same posture as basket_beta)."""
    d = daily_close(df.filter(F.col("symbol") < basket_max_symbol))
    wd = Window.partitionBy("symbol").orderBy("day")
    prev_d = F.lag("close_d", 1).over(wd)
    r = d.withColumn(
        "r",
        F.when(
            (prev_d > 0) & (F.col("close_d") > 0),
            F.round(F.log(F.col("close_d") / prev_d), 6),
        ),
    ).filter(F.col("r").isNotNull())
    mkt = r.groupBy("day").agg(F.round(F.avg("r"), 6).alias("r_mkt"))
    j = r.join(mkt, "day").select("symbol", "day", "r", "r_mkt")
    w = Window.partitionBy("symbol").orderBy("day").rowsBetween(-(n - 1), 0)
    corr = F.when(F.count(F.lit(1)).over(w) >= n, F.round(F.corr("r", "r_mkt").over(w), 4))
    return j.select(
        "symbol", F.col("day").cast("timestamp").alias("day"), corr.alias(f"corr_{n}")
    )


def mad_outliers(df: DataFrame, col: str = "close", k: float = 3.0) -> DataFrame:
    """Robust outlier detection per symbol: flag ticks whose deviation
    from the symbol's median exceeds ``k`` x MAD (median absolute
    deviation).  Two stacked unbounded-frame window aggregates over the
    SAME hash(symbol) distribution — the median pass and the MAD pass
    share one exchange; no joins.  The deviation ratio is rounded before
    the threshold compare so the flag is engine-portable."""
    w = Window.partitionBy("symbol")
    med = F.expr(f"percentile({col}, 0.5)").over(w)
    step = df.withColumn("_med", med)
    mad = F.expr("percentile(abs(close - _med), 0.5)").over(w)
    step = step.withColumn("_mad", mad)
    ratio = F.round(
        F.abs(F.col(col) - F.col("_med")) / F.nullif(F.col("_mad"), F.lit(0.0)), 6
    )
    return (
        step.withColumn("dev_ratio", ratio)
        .filter(F.col("dev_ratio") > k)
        .select(
            "symbol", "time", "event_id", col,
            F.round("_med", 4).alias("med"),
            F.round("_mad", 4).alias("mad"),
            "dev_ratio",
        )
    )


def basket_spearman(
    df: DataFrame, basket_max_symbol: int = 50, min_days: int = 15
) -> DataFrame:
    """Spearman rank correlation for every basket pair — the robust
    companion to ``basket_correlation``: Pearson over AVERAGE ranks of
    the day-aligned closes (rank + (ties-1)/2, the standard fractional
    rank, expressed identically on both engines), insensitive to
    monotone transformations and far less outlier-driven than raw-price
    Pearson.

    Ranks are computed WITHIN each pair's shared-day sample (the
    classical paired definition — ranking each full series first gives
    a different statistic whenever two symbols' day coverage differs),
    so the rank windows partition by (symbol_a, symbol_b) and ride the
    hash(pair) distribution the corr aggregation needs anyway.

    Scale shape: the windows and aggregation all run on the
    |basket|² x |days| pair table built from the same |basket| x |days|
    pre-aggregate as ``basket_correlation`` — the basket bound keeps
    the square small; corr itself is one map-side-combinable agg.

    Parity note (two layers, each fixing one driver flake class).
    First, the rank input is ROUNDED to 6dp (the module parity rule,
    suite/analytics.py:5-7): RANK over a raw float aggregate is
    order-fragile — a 1-ulp difference in AVG accumulation order can
    tie/untie two closes and shift the fractional ranks (the r5 driver
    flake).  Second, the statistic itself is the closed-form Pearson
    ratio of EXACT INTEGER rank moments: the doubled fractional rank
    ``2*rank + ties - 1`` is an exact BIGINT, so n, Σx, Σy, Σxy, Σx²,
    Σy² are order-invariant integer aggregates, and

        spearman = (nΣxy − ΣxΣy) / sqrt((nΣx²−Σx²ᵗᵉʳᵐ)(nΣy²−Σy²ᵗᵉʳᵐ))

    is ONE fixed sequence of correctly-rounded IEEE ops (two exact
    int→double casts, multiply, sqrt, divide) — bit-identical on both
    engines with NO final ROUND.  ``ROUND(CORR(ra, rb), 4)`` (the r6
    form) forked engines whenever CORR's partition-order-dependent
    accumulation landed a 4dp boundary — the r5/r6 repeat red.
    Doubling by 2 is scale-invariant for correlation.  Overflow: each
    moment term is ≤ 4·n_days⁴, int64-safe to n_days ≈ 6900 trading
    days (~27 years) and double-exact (< 2^53) to n_days ≈ 1200; the
    gate grids are hundreds of days."""
    from pyspark.sql import Window

    d = daily_close(df.filter(F.col("symbol") < basket_max_symbol))
    a, b = d.alias("a"), d.alias("b")
    pairs = a.join(
        b,
        (F.col("a.day") == F.col("b.day"))
        & (F.col("a.symbol") < F.col("b.symbol")),
    ).select(
        F.col("a.symbol").alias("symbol_a"),
        F.col("b.symbol").alias("symbol_b"),
        F.round(F.col("a.close_d"), 6).alias("ca"),
        F.round(F.col("b.close_d"), 6).alias("cb"),
    )
    pw = ["symbol_a", "symbol_b"]
    # doubled fractional rank = 2*rank + (#ties - 1): exact BIGINT.
    x = (
        F.lit(2) * F.rank().over(Window.partitionBy(*pw).orderBy("ca"))
        + F.count(F.lit(1)).over(Window.partitionBy(*pw, "ca"))
        - F.lit(1)
    ).cast("long")
    y = (
        F.lit(2) * F.rank().over(Window.partitionBy(*pw).orderBy("cb"))
        + F.count(F.lit(1)).over(Window.partitionBy(*pw, "cb"))
        - F.lit(1)
    ).cast("long")
    m = (
        pairs.withColumn("_x", x)
        .withColumn("_y", y)
        .groupBy("symbol_a", "symbol_b")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("_x").alias("_sx"),
            F.sum("_y").alias("_sy"),
            F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
            F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
            F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
        )
        .filter(F.col("n_days") >= min_days)
    )
    n = F.col("n_days")
    num = (n * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
    fa = (n * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double")
    fb = (n * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast("double")
    den = F.sqrt(fa * fb)
    return m.select(
        "symbol_a",
        "symbol_b",
        "n_days",
        (num / F.nullif(den, F.lit(0.0))).alias("spearman"),
    )


def symbol_sharpe(df: DataFrame, min_days: int = 15, periods: int = 252) -> DataFrame:
    """Annualized Sharpe ratio per symbol over day-aligned daily log
    returns: mean(r) / stddev_samp(r) * sqrt(periods) (risk-free rate
    0 — the standard screening form), plus the annualized volatility.
    Symbols with fewer than ``min_days`` returns are dropped (moments
    over a handful of days are noise, same rule as the basket stats).

    Scale shape: identical to ``basket_beta`` minus the market join —
    the one hash(symbol, day) pre-aggregation is the only heavy
    lineage; returns and the per-symbol moments run on the tiny
    |symbols| x |days| grid."""
    d = daily_close(df)
    wd = Window.partitionBy("symbol").orderBy("day")
    prev_d = F.lag("close_d", 1).over(wd)
    r = d.withColumn(
        "r",
        F.when(
            (prev_d > 0) & (F.col("close_d") > 0),
            F.round(F.log(F.col("close_d") / prev_d), 6),
        ),
    ).filter(F.col("r").isNotNull())
    ann = float(periods) ** 0.5
    return (
        r.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(
                F.avg("r") / F.nullif(F.stddev_samp("r"), F.lit(0.0)) * ann, 4
            ).alias("sharpe"),
            F.round(F.stddev_samp("r") * ann, 6).alias("ann_vol"),
        )
        .filter(F.col("n_days") >= min_days)
    )


def ichimoku(
    df: DataFrame, tenkan: int = 9, kijun: int = 26, senkou: int = 52
) -> DataFrame:
    """Ichimoku baseline lines per bar: tenkan/kijun/senkou-B are the
    midpoint (max(high)+min(low))/2 over their row lookbacks, senkou-A
    the mean of tenkan and kijun (the standard definitions; the chart's
    26-bar forward displacement is a rendering offset, not a
    computation, so values are emitted at their source row).  Each line
    is NULL until its full lookback exists (the reference's SMA warmup
    discipline, SURVEY.md W12).

    Scale shape: four fixed-frame window aggregates over ONE
    hash(symbol) exchange — identical envelope to the indicator table
    (ARCHITECTURE.md §2); max/min midpoints are exact float arithmetic, so
    the lines are emitted UNROUNDED: every input is selected (max/min)
    then combined with fixed IEEE ops in identical order on both
    engines, so the doubles are bit-equal — rounding would only
    INTRODUCE parity risk at decimal boundaries (engines round
    differently on .xxxx5 representations)."""
    kw = W.by_key()
    rn = F.row_number().over(kw)

    def mid(n: int):
        w = kw.rowsBetween(-(n - 1), Window.currentRow)
        return (F.max("high").over(w) + F.min("low").over(w)) / 2.0

    t, k, s = mid(tenkan), mid(kijun), mid(senkou)
    return (
        df.withColumn("_rn", rn)
        .withColumn("tenkan", F.when(F.col("_rn") >= tenkan, t))
        .withColumn("kijun", F.when(F.col("_rn") >= kijun, k))
        .withColumn(
            "senkou_a",
            F.when(F.col("_rn") >= max(tenkan, kijun), (t + k) / 2.0),
        )
        .withColumn("senkou_b", F.when(F.col("_rn") >= senkou, s))
        .drop("_rn")
    )


def pivot_points(df: DataFrame) -> DataFrame:
    """Classic floor-trader pivot levels for each (symbol, day) from the
    PRIOR day's high/low/close: P=(H+L+C)/3, R1=2P-L, S1=2P-H,
    R2=P+(H-L), S2=P-(H-L).  Days without a prior session are dropped
    (no levels to trade).  Levels are UNROUNDED: selection (max/min/
    last-row) plus fixed-order IEEE arithmetic is bit-equal across
    engines, while decimal rounding of these near-boundary dyadic
    values is not (ichimoku rationale).

    The daily H/L/C reduce is one hash(symbol, day) exchange (the same
    grid every cross-sectional query rides); C is the last tick by the
    deterministic (time, event_id) order, picked by row_number — no
    engine-specific last_value frame semantics."""
    b = df.withColumn("day", F.to_date("time"))
    # groupBy, not whole-partition windows: the daily reduce partial-
    # aggregates MAP-SIDE, so only one row per (symbol, day) crosses
    # the exchange — the window form shuffled every tick unreduced.
    # max_by on the unique (time, event_id) struct is the deterministic
    # last-tick pick (the pairs_spread house pattern).
    daily = b.groupBy("symbol", "day").agg(
        F.max("high").alias("h"),
        F.min("low").alias("l"),
        F.max_by("close", F.struct("time", "event_id")).alias("c"),
    )
    ws = Window.partitionBy("symbol").orderBy("day")
    ph, pl, pc = (F.lag(c, 1).over(ws) for c in ("h", "l", "c"))
    p = (ph + pl + pc) / 3.0
    return (
        daily.select(
            "symbol",
            F.col("day").cast("timestamp").alias("day"),
            p.alias("pivot"),
            (2.0 * p - pl).alias("r1"),
            (2.0 * p - ph).alias("s1"),
            (p + (ph - pl)).alias("r2"),
            (p - (ph - pl)).alias("s2"),
        )
        .filter(F.col("pivot").isNotNull())
    )


def _daily_returns(df: DataFrame) -> DataFrame:
    """Day-aligned 6dp log returns per symbol — the shared input of the
    risk statistics (sharpe/VaR/ACF/moments); one hash(symbol, day)
    exchange then window math on the tiny |symbols| x |days| grid."""
    d = daily_close(df)
    wd = Window.partitionBy("symbol").orderBy("day")
    prev_d = F.lag("close_d", 1).over(wd)
    return d.withColumn(
        "r",
        F.when(
            (prev_d > 0) & (F.col("close_d") > 0),
            F.round(F.log(F.col("close_d") / prev_d), 6),
        ),
    ).filter(F.col("r").isNotNull())


def var_es(df: DataFrame, tail: int = 20, min_days: int = 15) -> DataFrame:
    """Historical Value-at-Risk and Expected Shortfall per symbol at the
    1/``tail`` level (tail=20 -> 95%), RANK-BASED: with k =
    ceil(n/tail), VaR is the k-th smallest daily return and ES the mean
    of the k smallest.  The rank form (order statistics, no quantile
    interpolation) is deliberately chosen over quantile_cont: ranks
    over 6dp-rounded returns with a day tiebreak are integer-exact on
    every engine, so the oracle can never flip on interpolation-formula
    or float-accumulation differences (the q_spearman lesson,
    ARCHITECTURE.md §4)."""
    r = _daily_returns(df)
    wn = Window.partitionBy("symbol")
    wr = wn.orderBy(F.col("r").asc(), F.col("day").asc())
    s = r.select(
        "symbol",
        "r",
        F.row_number().over(wr).alias("_rn"),
        F.floor(
            (F.count(F.lit(1)).over(wn) + F.lit(tail - 1)) / F.lit(float(tail))
        ).alias("_k"),
    )
    in_tail = F.when(F.col("_rn") <= F.col("_k"), F.col("r"))
    # ES averages k exact-6dp decimals, so a plain 6dp ROUND sits on a
    # rounding boundary every other symbol (half-digit quotients) and
    # the engines disagree there.  Scaled-integer form instead: sum the
    # returns in exact micro units (BIGINT), floor-divide by k, scale
    # back — pure integer + one correctly-rounded double division, no
    # decimal rounding anywhere.
    micro = F.when(
        F.col("_rn") <= F.col("_k"),
        F.round(F.col("r") * F.lit(1000000.0), 0).cast("long"),
    )
    return (
        s.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.max(in_tail).alias("var_95"),
            (
                F.floor(
                    F.sum(micro).cast("double") / F.max("_k").cast("double")
                )
                / F.lit(1000000.0)
            ).alias("es_95"),
        )
        .filter(F.col("n_days") >= min_days)
    )


def return_acf(df: DataFrame, max_lag: int = 3, min_pairs: int = 15) -> DataFrame:
    """Autocorrelation of daily log returns at lags 1..``max_lag`` per
    symbol (the mean-reversion / momentum screen): corr(r_t, r_{t-L})
    over the day grid, pairs where both sides exist.  The lag columns
    unpivot through ``stack`` so all lags ride ONE window pass and one
    aggregation — no per-lag re-scan."""
    r = _daily_returns(df)
    wd = Window.partitionBy("symbol").orderBy("day")
    lagged = r.select(
        "symbol",
        "r",
        *[F.lag("r", L).over(wd).alias(f"_p{L}") for L in range(1, max_lag + 1)],
    )
    stack_args = ", ".join(f"{L}, _p{L}" for L in range(1, max_lag + 1))
    u = lagged.select(
        "symbol",
        "r",
        F.expr(f"stack({max_lag}, {stack_args}) AS (lag, r_prev)"),
    ).filter(F.col("r_prev").isNotNull())
    return (
        u.groupBy("symbol", "lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.corr("r", "r_prev"), 4).alias("acf"),
        )
        .filter(F.col("n_pairs") >= min_pairs)
    )


def ewma_volatility(df: DataFrame, lam: float = 0.94) -> DataFrame:
    """RiskMetrics EWMA volatility over daily returns: v_1 = r_1^2,
    v_t = lam*v_{t-1} + (1-lam)*r_t^2, emitted as sqrt(v) 6dp.  A true
    linear recurrence (previous OUTPUT feeds each step), so like the
    EMA family it runs as a grouped Arrow kernel per symbol
    (operators/recursive.py rationale) — the day grid it folds over is
    |days| per key regardless of tick volume, and the heavy lineage is
    the one hash(symbol, day) pre-aggregation.  The numpy fold mirrors
    the oracle's recursive CTE operation-for-operation (lam*v then
    (1.0-lam)*(r*r), strict left order) so the floats are bit-equal."""
    from .recursive import round_half_up

    r = _daily_returns(df).select("symbol", "day", "r")
    beta = 1.0 - lam

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("day").reset_index(drop=True)
        rv = pdf["r"].to_numpy(dtype="float64")
        v = 0.0
        out = []
        for i, x in enumerate(rv):
            v = x * x if i == 0 else lam * v + beta * (x * x)
            out.append(v)
        import numpy as np

        pdf["ewma_vol"] = round_half_up(np.sqrt(np.array(out)), 6)
        return pdf[["symbol", "day", "ewma_vol"]]

    out = r.groupBy("symbol").applyInPandas(
        kernel, "symbol long, day date, ewma_vol double"
    )
    return out.select(
        "symbol", F.col("day").cast("timestamp").alias("day"), "ewma_vol"
    )


def volume_profile(df: DataFrame, bin_width: float = 10.0) -> DataFrame:
    """Volume-at-price profile per symbol: total volume and tick count
    per fixed price bin (floor(close/width)*width), plus each bin's
    share of the symbol's volume — the market-structure histogram
    behind point-of-control / value-area analytics.  One
    hash(symbol, bin) exchange over exact integer volume sums; the
    share divides two exact BIGINTs so the 6dp round is stable."""
    b = df.withColumn(
        "bin_low", F.floor(F.col("close") / F.lit(bin_width)) * F.lit(bin_width)
    )
    agg = b.groupBy("symbol", "bin_low").agg(
        F.count(F.lit(1)).alias("n_ticks"),
        F.sum("volume").alias("bin_volume"),
    )
    wtot = Window.partitionBy("symbol")
    return agg.select(
        "symbol",
        "bin_low",
        "n_ticks",
        "bin_volume",
        F.round(
            F.col("bin_volume").cast("double")
            / F.sum("bin_volume").over(wtot).cast("double"),
            6,
        ).alias("vol_share"),
    )


def pairs_spread(
    df: DataFrame, basket_max_symbol: int = 50, min_days: int = 15
) -> DataFrame:
    """Pairs-trading ratio statistics per basket pair: the day-aligned
    close ratio's mean and sample stddev, and the LATEST day's z-score
    against them (the entry/exit signal).  Same |basket|^2 x |days|
    envelope as basket_correlation; the latest ratio is arg_max by the
    unique day key (deterministic, no last_value frames).  Closes are
    6dp-rounded BEFORE the ratio (module parity rule) and the ratio
    6dp-rounded before the moments."""
    d = daily_close(df.filter(F.col("symbol") < basket_max_symbol))
    a, b = d.alias("a"), d.alias("b")
    pairs = a.join(
        b,
        (F.col("a.day") == F.col("b.day"))
        & (F.col("a.symbol") < F.col("b.symbol")),
    ).select(
        F.col("a.symbol").alias("symbol_a"),
        F.col("b.symbol").alias("symbol_b"),
        F.col("a.day").alias("day"),
        F.round(
            F.round(F.col("a.close_d"), 6) / F.round(F.col("b.close_d"), 6), 6
        ).alias("ratio"),
    )
    sd = F.stddev_samp("ratio")
    # mean of exact-6dp ratios sits on decimal rounding boundaries
    # (var_es rationale) — scaled-integer floor instead; sd/z involve
    # sqrt and stay safely irrational under a plain round.
    micro = F.round(F.col("ratio") * F.lit(1000000.0), 0).cast("long")
    return (
        pairs.withColumn("_micro", micro)
        .groupBy("symbol_a", "symbol_b")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            (
                F.floor(
                    F.sum("_micro").cast("double")
                    / F.count(F.lit(1)).cast("double")
                )
                / F.lit(1000000.0)
            ).alias("mean_ratio"),
            F.round(sd, 6).alias("sd_ratio"),
            F.round(
                (F.max_by("ratio", "day") - F.avg("ratio"))
                / F.nullif(sd, F.lit(0.0)),
                4,
            ).alias("last_z"),
        )
        .filter(F.col("n_days") >= min_days)
    )


def return_moments(df: DataFrame, min_days: int = 15) -> DataFrame:
    """Skewness and excess kurtosis of daily log returns per symbol via
    the explicit two-pass central-moment form: center on the 6dp-rounded
    per-symbol mean, then skew = m3/sqrt(m2^3), kurt = m4/m2^2 - 3.
    The formula is spelled out (not the built-in skewness/kurtosis)
    because engines disagree on bias correction — the explicit form is
    the same arithmetic everywhere, and sqrt(m2*m2*m2) avoids pow()
    libm drift (sqrt is IEEE correctly-rounded; pow is not)."""
    r = _daily_returns(df)
    mu = F.round(F.avg("r").over(Window.partitionBy("symbol")), 6)
    c = r.select("symbol", "r", (F.col("r") - mu).alias("d"))
    m2 = F.avg(F.col("d") * F.col("d"))
    m3 = F.avg(F.col("d") * F.col("d") * F.col("d"))
    m4 = F.avg(F.col("d") * F.col("d") * F.col("d") * F.col("d"))
    return (
        c.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(
                m3 / F.nullif(F.sqrt(m2 * m2 * m2), F.lit(0.0)), 4
            ).alias("skew"),
            F.round(m4 / F.nullif(m2 * m2, F.lit(0.0)) - 3.0, 4).alias(
                "ex_kurtosis"
            ),
        )
        .filter(F.col("n_days") >= min_days)
    )


def amihud_illiquidity(df: DataFrame, min_days: int = 15) -> DataFrame:
    """Amihud (2002) illiquidity: mean over days of |daily log return| /
    daily dollar volume, scaled by 1e6 — the standard price-impact
    proxy.  One (symbol, day) aggregation computes the return grid AND
    the dollar volume; dollar volume is summed in exact integer CENTS
    (round(close*volume*100) per tick) so the day total is
    accumulation-order-free, and the cross-day mean uses the quantized
    FLOOR pattern (pairs_spread).  Days with zero volume or an
    undefined return are excluded on both engines."""
    g = df.groupBy("symbol", F.to_date("time").alias("day")).agg(
        F.avg("close").alias("close_d"),
        F.sum(
            F.round(F.col("close") * F.col("volume") * F.lit(100.0), 0).cast("long")
        ).alias("dvq"),
    )
    wd = Window.partitionBy("symbol").orderBy("day")
    prev = F.lag("close_d").over(wd)
    g = g.withColumn(
        "r",
        F.when(
            (prev > 0) & (F.col("close_d") > 0),
            F.round(F.log(F.col("close_d") / prev), 6),
        ),
    ).filter(F.col("r").isNotNull() & (F.col("dvq") > 0))
    ratioq = F.round(
        F.abs(F.col("r"))
        * F.lit(1000000.0)
        / (F.col("dvq").cast("double") / F.lit(100.0))
        * F.lit(1000000.0),
        0,
    ).cast("long")
    out = (
        g.withColumn("_rq", ratioq)
        .groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.floor(
                F.sum("_rq").cast("double") / F.count(F.lit(1)).cast("double")
            ).alias("_f"),
        )
    )
    return out.filter(F.col("n_days") >= min_days).select(
        "symbol",
        "n_days",
        (F.col("_f") / F.lit(1000000.0)).alias("amihud_e6"),
    )


def roll_spread(df: DataFrame, min_days: int = 15) -> DataFrame:
    """Roll (1984) implied spread: 2*sqrt(-cov(dp_t, dp_{t-1})) over
    daily close changes, NULL when the serial covariance is
    non-negative (the model's no-estimate case).  Deltas are quantized
    to exact 1e-4 price units, so the covariance moments (n, Σx, Σy,
    Σxy) are exact integers and the final double arithmetic is
    bit-identical cross-engine; the sqrt result converts back to price
    units and rounds 6dp."""
    d = df.groupBy("symbol", F.to_date("time").alias("day")).agg(
        F.round(F.avg("close"), 6).alias("close_d")
    )
    wd = Window.partitionBy("symbol").orderBy("day")
    dq = F.round((F.col("close_d") - F.lag("close_d").over(wd)) * F.lit(10000.0), 0).cast(
        "long"
    )
    d = d.withColumn("x", dq).withColumn("y", F.lag("x").over(wd)).filter(
        F.col("x").isNotNull() & F.col("y").isNotNull()
    )
    m = d.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    cov = (
        F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double") / n
    ) / (n - F.lit(1.0))
    return (
        m.filter(F.col("n") >= min_days)
        .withColumn("_cov", cov)
        .select(
            "symbol",
            F.col("n").alias("n_days"),
            F.when(
                F.col("_cov") < 0,
                F.round(
                    F.lit(2.0) * F.sqrt(-F.col("_cov")) / F.lit(10000.0), 6
                ),
            ).alias("roll_spread"),
        )
    )


def holt_forecast_eval(df: DataFrame, min_rows: int = 30) -> DataFrame:
    """Walk-forward evaluation of the Holt one-step forecast: for every
    row with both a forecast and a realized next close, the absolute
    and signed errors aggregate per symbol into MAE and mean bias —
    the train-free backtest loop every forecasting pipeline needs.
    Errors quantize to exact 1e-6 integers; means use the FLOOR
    pattern (floor is toward -inf on both engines, so the signed bias
    is parity-safe too)."""
    from .recursive import with_holt

    h = with_holt(df)
    wd = Window.partitionBy("symbol").orderBy(
        F.col("time").asc(), F.col("event_id").asc()
    )
    h = h.withColumn("_nxt", F.lead("close").over(wd)).filter(
        F.col("_nxt").isNotNull() & F.col("holt_fcst").isNotNull()
    )
    err = F.col("_nxt") - F.col("holt_fcst")
    h = h.withColumn(
        "_aq", F.round(F.abs(err) * F.lit(1000000.0), 0).cast("long")
    ).withColumn("_sq", F.round(err * F.lit(1000000.0), 0).cast("long"))
    m = h.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_preds"),
        F.floor(F.sum("_aq").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "_ma"
        ),
        F.floor(F.sum("_sq").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "_mb"
        ),
    )
    return m.filter(F.col("n_preds") >= min_rows).select(
        "symbol",
        "n_preds",
        (F.col("_ma") / F.lit(1000000.0)).alias("mae"),
        (F.col("_mb") / F.lit(1000000.0)).alias("bias"),
    )


def ols_trend(df: DataFrame, min_days: int = 15) -> DataFrame:
    """Per-symbol OLS of daily close on the day index: slope (price/day),
    intercept, and R² — the linear-trend screen.  All five regression
    moments (n, Σx, Σy, Σxy, Σxx, Σyy) are EXACT integers (x = day rank,
    y = close quantized to 1e-4 price units chosen so Σy² stays inside
    BIGINT), and the closed-form solution is one deterministic double
    expression over them — zero accumulation-order exposure, one
    (symbol, day) exchange plus a symbol reduce."""
    d = df.groupBy("symbol", F.to_date("time").alias("day")).agg(
        F.round(F.avg("close"), 6).alias("close_d")
    )
    wd = Window.partitionBy("symbol").orderBy("day")
    d = d.withColumn("x", F.row_number().over(wd).cast("long")).withColumn(
        "yq", F.round(F.col("close_d") * F.lit(10000.0), 0).cast("long")
    )
    m = d.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("yq").alias("sy"),
        F.sum(F.col("x") * F.col("yq")).alias("sxy"),
        F.sum(F.col("yq") * F.col("yq")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx, sxx = F.col("sx").cast("double"), F.col("sxx").cast("double")
    sy, sxy = F.col("sy").cast("double"), F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    num = n * sxy - sx * sy
    denx = n * sxx - sx * sx
    deny = n * syy - sy * sy
    slope = num / F.nullif(denx, F.lit(0.0))
    return (
        m.filter(F.col("n") >= min_days)
        .select(
            "symbol",
            F.col("n").alias("n_days"),
            F.round(slope / F.lit(10000.0), 6).alias("slope"),
            F.round(((sy - slope * sx) / n) / F.lit(10000.0), 6).alias("intercept"),
            F.round(
                (num * num) / F.nullif(denx * deny, F.lit(0.0)), 6
            ).alias("r2"),
        )
    )


def dow_seasonality(df: DataFrame) -> DataFrame:
    """Day-of-week return seasonality across the corpus: mean and
    stddev of 6dp daily log returns per ISO weekday (1=Monday).  Mean
    uses the quantized FLOOR pattern; the stddev comes from exact
    integer moments, so both are accumulation-order-free."""
    r = _daily_returns(df).withColumn(
        "dow", (F.weekday("day") + F.lit(1)).cast("int")
    ).withColumn("rq", F.round(F.col("r") * F.lit(1000000.0), 0).cast("long"))
    m = r.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum("rq").alias("s1"),
        F.sum(F.col("rq") * F.col("rq")).alias("s2"),
    )
    n = F.col("n_obs").cast("double")
    s1, s2 = F.col("s1").cast("double"), F.col("s2").cast("double")
    var = (n * s2 - s1 * s1) / (n * (n - F.lit(1.0)))
    return m.select(
        "dow",
        "n_obs",
        (F.floor(s1 / n) / F.lit(1000000.0)).alias("mean_ret"),
        F.round(F.sqrt(var) / F.lit(1000000.0), 6).alias("sd_ret"),
    )


def leadlag_best(
    df: DataFrame, basket_max_symbol: int = 20, max_lag: int = 2, min_days: int = 15
) -> DataFrame:
    """Lead-lag screen: for every basket pair, the lag in
    [-max_lag, max_lag] maximizing corr(r_a(d), r_b(d+lag)) — positive
    best_lag means a LEADS b.  Ranking is on the 4dp-ROUNDED
    correlation with lag-ascending tiebreak (the (rounded score, key)
    ordering rule), so the argmax cannot fork on engine float noise.
    Pair space is basket² × (2·max_lag+1) day-grid joins — bounded by
    the explicit basket, the same shape as basket_correlation."""
    r = _daily_returns(df.filter(F.col("symbol") < basket_max_symbol)).select(
        "symbol", "day", "r"
    )
    lags = df.sparkSession.range(-max_lag, max_lag + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = r.alias("a").crossJoin(F.broadcast(lags))
    b = r.alias("b")
    j = a.join(
        b,
        (F.col("a.symbol") < F.col("b.symbol"))
        & (F.col("b.day") == F.date_add(F.col("a.day"), F.col("lag"))),
    )
    g = j.groupBy(
        F.col("a.symbol").alias("symbol_a"),
        F.col("b.symbol").alias("symbol_b"),
        "lag",
    ).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(F.corr("a.r", "b.r"), 4).alias("corr_r"),
    ).filter((F.col("n_days") >= min_days) & F.col("corr_r").isNotNull())
    w = Window.partitionBy("symbol_a", "symbol_b").orderBy(
        F.col("corr_r").desc(), F.col("lag").asc()
    )
    return (
        g.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("symbol_a", "symbol_b", F.col("lag").alias("best_lag"),
                F.col("corr_r").alias("best_corr"), "n_days")
    )


def portfolio_nav(df: DataFrame, basket_max_symbol: int = 50) -> DataFrame:
    """Inverse-volatility-weighted basket NAV: weights ∝ 1/vol_i
    (vol = stddev of 6dp daily returns per symbol, 6dp-rounded), daily
    portfolio return = Σ w_i·r_i, NAV = cumulative compounding.

    Every cross-symbol and cross-day accumulation is EXACT integers:
    inverse-vols quantize to 1e-6 before the normalizing sum, weights
    re-quantize to 1e-6 of the rational inv/Σinv, the daily portfolio
    return sums w_q·r_q products (ints), and compounding runs as an
    integer cumulative sum of quantized log1p terms with one final
    EXP — so the whole pipeline is accumulation-order-free on both
    engines.  Shape: (symbol, day) grid → symbol-level weight reduce →
    day-level reduce → day window; each stage map-side combinable."""
    r = _daily_returns(df.filter(F.col("symbol") < basket_max_symbol)).withColumn(
        "rq", F.round(F.col("r") * F.lit(1000000.0), 0).cast("long")
    )
    mom = r.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rq").alias("s1"),
        F.sum(F.col("rq") * F.col("rq")).alias("s2"),
    ).filter(F.col("n") >= 2)
    nd = F.col("n").cast("double")
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    vol = mom.select(
        "symbol",
        F.round(
            F.sqrt((nd * s2d - s1d * s1d) / (nd * (nd - F.lit(1.0))))
            / F.lit(1000000.0),
            6,
        ).alias("vol"),
    ).filter(F.col("vol").isNotNull() & (F.col("vol") > 0))
    inv = vol.withColumn(
        "invq", F.round(F.lit(1000000.0) / F.col("vol"), 0).cast("long")
    )
    tot = inv.agg(F.sum("invq").alias("tinv"))
    w = inv.crossJoin(F.broadcast(tot)).withColumn(
        "wq",
        F.round(
            F.col("invq").cast("double") * F.lit(1000000.0)
            / F.col("tinv").cast("double"),
            0,
        ).cast("long"),
    )
    j = r.join(w.select("symbol", "wq"), "symbol")
    daily = j.groupBy("day").agg(
        F.sum(F.col("wq") * F.col("rq")).alias("pq"),
        F.count(F.lit(1)).alias("n_symbols"),
    )
    port_ret = F.col("pq").cast("double") / F.lit(1.0e12)
    daily = daily.withColumn(
        "lq", F.round(F.log(F.lit(1.0) + port_ret) * F.lit(1000000.0), 0).cast("long")
    )
    wd = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.col("day").cast("timestamp").alias("day"),
        "n_symbols",
        F.round(port_ret, 6).alias("port_ret"),
        F.round(
            F.exp(F.sum("lq").over(wd).cast("double") / F.lit(1000000.0)), 4
        ).alias("nav"),
    )


def garch_volatility(
    df: DataFrame, omega: float = 0.000001, alpha: float = 0.09, beta: float = 0.9
) -> DataFrame:
    """GARCH(1,1) conditional variance over daily returns:
    v_1 = r_1², v_t = ω + α·r²_{t-1} + β·v_{t-1} (one-step-ahead
    forecast convention — today's variance uses YESTERDAY's shock,
    unlike RiskMetrics EWMA which mixes in the current return; EWMA is
    the ω=0, α+β=1 boundary of this family).  Emitted as sqrt(v) 6dp.
    Same execution shape as ewma_volatility: one (symbol, day)
    pre-aggregation, then a per-key Arrow fold mirroring the oracle's
    recursive CTE operation-for-operation."""
    import numpy as np

    from .recursive import round_half_up

    r = _daily_returns(df).select("symbol", "day", "r")

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("day").reset_index(drop=True)
        rv = pdf["r"].to_numpy(dtype="float64")
        out = np.empty(len(rv))
        v = 0.0
        for i, x in enumerate(rv):
            v = x * x if i == 0 else omega + alpha * (rv[i - 1] * rv[i - 1]) + beta * v
            out[i] = v
        pdf["garch_vol"] = round_half_up(np.sqrt(out), 6)
        return pdf[["symbol", "day", "garch_vol"]]

    out = r.groupBy("symbol").applyInPandas(
        kernel, "symbol long, day date, garch_vol double"
    )
    return out.select(
        "symbol", F.col("day").cast("timestamp").alias("day"), "garch_vol"
    )


def backtest_ma_cross(
    df: DataFrame, fast: int = 5, slow: int = 20, min_days: int = 10
) -> DataFrame:
    """Moving-average-crossover backtest on the daily grid: signal =
    sign(SMA_fast - SMA_slow) (0 on exact equality), traded at the NEXT
    day's return (one-day execution lag — no look-ahead), aggregated to
    per-symbol total return, hit rate, and annualized Sharpe.

    The whole loop is exact: daily closes quantize to 1e-6 integers, so
    each SMA is an exact-integer-sum rational and the crossover compare
    is deterministic; strategy returns are position·rq integer products;
    total return, hit rate, and the Sharpe moments all assemble from
    integer sums.  Shape: (symbol, day) grid → day windows → symbol
    reduce — the same envelope as every daily statistic."""
    d = df.groupBy("symbol", F.to_date("time").alias("day")).agg(
        F.round(F.avg("close"), 6).alias("close_d")
    )
    wd = Window.partitionBy("symbol").orderBy("day")
    d = d.withColumn("cq", F.round(F.col("close_d") * F.lit(1000000.0), 0).cast("long"))
    prev = F.lag("close_d").over(wd)
    d = d.withColumn(
        "rq",
        F.when(
            (prev > 0) & (F.col("close_d") > 0),
            F.round(
                F.round(F.log(F.col("close_d") / prev), 6) * F.lit(1000000.0), 0
            ).cast("long"),
        ),
    )
    wf = wd.rowsBetween(-(fast - 1), 0)
    ws = wd.rowsBetween(-(slow - 1), 0)
    sf = F.sum("cq").over(wf).cast("double") / F.lit(float(fast))
    ss = F.sum("cq").over(ws).cast("double") / F.lit(float(slow))
    warm = F.count("cq").over(ws) >= slow
    sig = F.when(~warm, F.lit(None).cast("int")).otherwise(
        F.when(sf > ss, F.lit(1)).when(sf < ss, F.lit(-1)).otherwise(F.lit(0))
    )
    d = d.withColumn("pos", F.lag(sig).over(wd))
    t = d.filter(F.col("pos").isNotNull() & F.col("rq").isNotNull()).withColumn(
        "sq", F.col("pos").cast("long") * F.col("rq")
    )
    m = t.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("sq").alias("s1"),
        F.sum(F.col("sq") * F.col("sq")).alias("s2"),
        F.sum(F.when(F.col("sq") > 0, 1).otherwise(0)).alias("wins"),
        F.sum(F.when(F.col("pos") != 0, 1).otherwise(0)).alias("active"),
    )
    nd = F.col("n_days").cast("double")
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    var = (nd * s2d - s1d * s1d) / (nd * (nd - F.lit(1.0)))
    sharpe = F.when(
        var > 0,
        F.round(
            (s1d / nd)
            / F.sqrt(var)
            * F.sqrt(F.lit(252.0)),
            4,
        ),
    )
    return m.filter(F.col("n_days") >= min_days).select(
        "symbol",
        "n_days",
        (F.col("s1").cast("double") / F.lit(1000000.0)).alias("total_ret"),
        F.round(
            F.col("wins").cast("double")
            / F.nullif(F.col("active").cast("double"), F.lit(0.0)),
            6,
        ).alias("hit_rate"),
        sharpe.alias("sharpe_ann"),
    )


def sortino_ratio(df: DataFrame, min_days: int = 15, periods: int = 252) -> DataFrame:
    """Annualized Sortino ratio per symbol: mean daily log return over
    the target-0 downside deviation sqrt(sum(min(r,0)^2)/n), annualized
    by sqrt(periods).  All moments accumulate in exact integer micro
    units (6dp returns -> BIGINT; squares fit int64 at any realistic
    history length), so mean and downside deviation are deterministic
    float chains over identical integers on both engines — the
    backtest_ma_cross moment pattern.  Scale shape: one hash(symbol,
    day) exchange, then per-symbol sums on the |symbols| x |days|
    grid."""
    r = _daily_returns(df).withColumn(
        "rq", F.round(F.col("r") * F.lit(1000000.0), 0).cast("long")
    )
    down = F.when(F.col("rq") < 0, F.col("rq")).otherwise(F.lit(0).cast("long"))
    m = r.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("rq").alias("s1"),
        F.sum(down * down).alias("d2"),
    )
    nd = F.col("n_days").cast("double")
    mean = F.col("s1").cast("double") / nd / F.lit(1000000.0)
    dd = F.sqrt(F.col("d2").cast("double") / nd) / F.lit(1000000.0)
    ann = float(periods) ** 0.5
    return m.filter(F.col("n_days") >= min_days).select(
        "symbol",
        "n_days",
        F.when(F.col("d2") > 0, F.round(mean / dd * F.lit(ann), 4)).alias("sortino"),
        F.round(dd * F.lit(ann), 6).alias("ann_downside_vol"),
    )


def calmar_ratio(df: DataFrame, min_days: int = 15, periods: int = 252) -> DataFrame:
    """Calmar ratio per symbol: annualized log return (mean daily x
    periods, exact micro sums) over |max drawdown| of the daily close
    curve.  The drawdown ranks/compares ROUNDED values only: close_d
    rounds to 6dp BEFORE the running peak and the ratio (the q_spearman
    rank-input rule), and the 6dp drawdown's MIN is an order statistic
    over identical decimals.  Symbols that never draw down (mdd = 0)
    yield NULL calmar."""
    d = daily_close(df).withColumn("cd6", F.round("close_d", 6))
    wp = (
        Window.partitionBy("symbol")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    peak = F.max("cd6").over(wp)
    dd = d.select(
        "symbol",
        F.round(F.col("cd6") / F.nullif(peak, F.lit(0.0)) - F.lit(1.0), 6).alias("dd"),
    )
    mdd = dd.groupBy("symbol").agg(F.min("dd").alias("max_drawdown"))
    r = _daily_returns(df).withColumn(
        "rq", F.round(F.col("r") * F.lit(1000000.0), 0).cast("long")
    )
    m = r.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_days"), F.sum("rq").alias("s1")
    )
    # s1*252/n is a small-denominator rational in micro units — it lands
    # EXACTLY on half-micro rounding boundaries (n even), so ROUND(...,6)
    # splits engines.  Emit the bit-identical division chain unrounded
    # (the ad_line rule); calmar likewise stays unrounded.
    ann_ret = (
        F.col("s1").cast("double")
        * F.lit(float(periods))
        / F.col("n_days").cast("double")
        / F.lit(1000000.0)
    )
    return (
        m.join(mdd, "symbol")
        .filter(F.col("n_days") >= min_days)
        .select(
            "symbol",
            "n_days",
            ann_ret.alias("ann_return"),
            "max_drawdown",
            F.when(
                F.col("max_drawdown") < 0, -ann_ret / F.col("max_drawdown")
            ).alias("calmar"),
        )
    )


def info_ratio(
    df: DataFrame,
    basket_max_symbol: int = 50,
    min_days: int = 15,
    periods: int = 252,
) -> DataFrame:
    """Information ratio of each basket symbol against the equal-weight
    basket benchmark: mean(active)/stddev_samp(active) x sqrt(periods),
    where active = r_i - r_mkt in exact integer micro units (the
    benchmark mean uses the FLOOR pattern, so the subtraction is
    integer-exact) and the sample variance is the integer-moment form
    (n*S2 - S1^2)/(n(n-1)) — no float accumulation anywhere before the
    final deterministic chain.  Same scale shape as basket_beta: heavy
    lineage is the one hash(symbol, day) pre-aggregation."""
    r = _daily_returns(df.filter(F.col("symbol") < basket_max_symbol)).withColumn(
        "rq", F.round(F.col("r") * F.lit(1000000.0), 0).cast("long")
    )
    mkt = r.groupBy("day").agg(
        F.floor(
            F.sum("rq").cast("double") / F.count(F.lit(1)).cast("double")
        ).cast("long").alias("mq")
    )
    a = r.join(mkt, "day").withColumn("aq", F.col("rq") - F.col("mq"))
    m = a.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("aq").alias("s1"),
        F.sum(F.col("aq") * F.col("aq")).alias("s2"),
    )
    nd = F.col("n_days").cast("double")
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    var = (nd * s2d - s1d * s1d) / (nd * (nd - F.lit(1.0)))
    ann = float(periods) ** 0.5
    return m.filter(F.col("n_days") >= min_days).select(
        "symbol",
        "n_days",
        F.when(var > 0, F.round(s1d / nd / F.sqrt(var) * F.lit(ann), 4)).alias(
            "info_ratio"
        ),
        F.when(var > 0, F.round(F.sqrt(var) / F.lit(1000000.0) * F.lit(ann), 6)).alias(
            "tracking_error"
        ),
    )


def omega_ratio(df: DataFrame, min_days: int = 15) -> DataFrame:
    """Omega ratio per symbol at threshold 0: sum of gains over sum of
    losses, both accumulated as exact integer micro units — the ratio
    is ONE correctly-rounded double division of two exact integers, so
    it is bit-identical on every engine with NO rounding step at all
    (the ad_line emit-the-division rule).  Symbols with zero losses
    yield NULL omega."""
    r = _daily_returns(df).withColumn(
        "rq", F.round(F.col("r") * F.lit(1000000.0), 0).cast("long")
    )
    m = r.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.when(F.col("rq") > 0, F.col("rq")).otherwise(F.lit(0))).alias("g"),
        F.sum(F.when(F.col("rq") < 0, -F.col("rq")).otherwise(F.lit(0))).alias("l"),
    )
    return m.filter(F.col("n_days") >= min_days).select(
        "symbol",
        "n_days",
        (F.col("g").cast("double") / F.lit(1000000.0)).alias("gain_sum"),
        (F.col("l").cast("double") / F.lit(1000000.0)).alias("loss_sum"),
        F.when(
            F.col("l") > 0, F.col("g").cast("double") / F.col("l").cast("double")
        ).alias("omega"),
    )


def variance_ratio(df: DataFrame, min_days: int = 15) -> DataFrame:
    """Lo-MacKinlay variance-ratio diagnostics per symbol: VR(q) =
    Var(q-period overlapping return) / (q * Var(1-period return)) for
    q = 2 and 5 — VR near 1 is a random walk, below 1 mean reversion,
    above 1 trending.  All variances use the integer-moment form over
    exact micro-unit sums (q-period sums are window sums of BIGINTs),
    so both engines divide identical integers; the only rounding is the
    final 6dp on each ratio.  One hash(symbol, day) exchange, then
    window + group math on the daily grid."""
    r = _daily_returns(df).withColumn(
        "rq", F.round(F.col("r") * F.lit(1000000.0), 0).cast("long")
    )
    wd = Window.partitionBy("symbol").orderBy("day")
    s = r.select(
        "symbol",
        "rq",
        F.row_number().over(wd).alias("rn"),
        F.sum("rq").over(wd.rowsBetween(-1, 0)).alias("s2"),
        F.sum("rq").over(wd.rowsBetween(-4, 0)).alias("s5"),
    )

    def moments(col, cond, tag):
        v = F.when(cond, F.col(col))
        return [
            F.count(v).alias(f"n{tag}"),
            F.sum(v).alias(f"a{tag}"),
            F.sum(v * v).alias(f"b{tag}"),
        ]

    m = s.groupBy("symbol").agg(
        *moments("rq", F.lit(True), "1"),
        *moments("s2", F.col("rn") >= 2, "2"),
        *moments("s5", F.col("rn") >= 5, "5"),
    )

    def var(tag):
        n = F.col(f"n{tag}").cast("double")
        a = F.col(f"a{tag}").cast("double")
        b = F.col(f"b{tag}").cast("double")
        return (n * b - a * a) / (n * (n - F.lit(1.0)))

    v1 = var("1")
    return m.filter(F.col("n1") >= min_days).select(
        "symbol",
        F.col("n1").alias("n_days"),
        F.when(v1 > 0, F.round(var("2") / (F.lit(2.0) * v1), 6)).alias("vr_2"),
        F.when(v1 > 0, F.round(var("5") / (F.lit(5.0) * v1), 6)).alias("vr_5"),
    )


def hurst_rs(df: DataFrame, sizes: tuple[int, ...] = (4, 8, 16)) -> DataFrame:
    """Hurst exponent via rescaled-range (R/S) analysis: split each
    symbol's daily micro-return series into consecutive complete chunks
    of n for n in ``sizes``; per chunk R = range of cumulative
    deviations from the chunk mean and S = population std; Hurst = OLS
    slope of ln(mean R/S) on ln(n).  H near 0.5 is a random walk,
    above trending, below mean-reverting.

    Parity: cumulative deviations are scaled by n (D_k = n*C_k - k*T),
    keeping them EXACT integers, so R/S = (maxD - minD)/sqrt(n*Sq2 -
    T^2) is one deterministic chain over exact int64 moments; per-size
    mean R/S uses the FLOOR-micro pattern; the 3-point OLS runs on
    1e-4-quantized log axes (the zipf pattern).  The range convention
    is k = 1..n (no implicit 0 anchor) — documented, identical on both
    engines.  Scale: chunking is pure row_number arithmetic on the
    daily grid; per-symbol state is |sizes| rows."""
    r = _daily_returns(df).withColumn(
        "rq", F.round(F.col("r") * F.lit(1000000.0), 0).cast("long")
    )
    wd = Window.partitionBy("symbol").orderBy("day")
    base = r.select("symbol", "day", "rq", F.row_number().over(wd).alias("rn"))
    per_size = []
    for n in sizes:
        ck = F.floor((F.col("rn") - 1) / F.lit(n))
        k = (F.col("rn") - 1) % F.lit(n) + 1
        c = base.select(
            "symbol", "day", "rq", ck.alias("ck"), k.cast("long").alias("k")
        )
        wc = Window.partitionBy("symbol", "ck")
        wr = wc.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
        c = c.select(
            "symbol",
            "ck",
            "k",
            F.count(F.lit(1)).over(wc).alias("cnt"),
            (F.lit(n) * F.sum("rq").over(wr) - F.col("k") * F.sum("rq").over(wc)).alias(
                "d"
            ),
            F.sum("rq").over(wc).alias("t"),
            F.sum(F.col("rq") * F.col("rq")).over(wc).alias("sq2"),
        ).filter(F.col("cnt") == n)
        denom = F.lit(n) * F.col("sq2") - F.col("t") * F.col("t")
        g = (
            c.groupBy("symbol", "ck")
            .agg(
                (F.max("d") - F.min("d")).alias("rint"),
                F.first(denom).alias("denom"),
            )
            .filter(F.col("denom") > 0)
            .select(
                "symbol",
                F.round(
                    F.col("rint").cast("double")
                    / F.sqrt(F.col("denom").cast("double"))
                    * F.lit(1000000.0),
                    0,
                ).cast("long").alias("rsq"),
            )
        )
        per_size.append(
            g.groupBy("symbol")
            .agg(
                F.floor(
                    F.sum("rsq").cast("double") / F.count(F.lit(1)).cast("double")
                ).alias("mrsq")
            )
            .select("symbol", F.lit(n).cast("long").alias("n_size"), "mrsq")
        )
    u = per_size[0]
    for p in per_size[1:]:
        u = u.unionAll(p)
    xy = u.filter(F.col("mrsq") > 0).select(
        "symbol",
        F.round(F.log(F.col("n_size").cast("double")) * F.lit(10000.0), 0)
        .cast("long")
        .alias("xq"),
        F.round(
            F.log(F.col("mrsq").cast("double") / F.lit(1000000.0)) * F.lit(10000.0), 0
        )
        .cast("long")
        .alias("yq"),
    )
    m = xy.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_pts"),
        F.sum("xq").alias("sx"),
        F.sum("yq").alias("sy"),
        F.sum(F.col("xq") * F.col("yq")).alias("sxy"),
        F.sum(F.col("xq") * F.col("xq")).alias("sxx"),
    )
    nd = F.col("n_pts").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    den = nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    return m.filter(F.col("n_pts") == len(sizes)).select(
        "symbol", F.round(num / F.nullif(den, F.lit(0.0)), 4).alias("hurst")
    )


def runs_test(df: DataFrame, min_days: int = 15) -> DataFrame:
    """Wald-Wolfowitz runs test for return-sign randomness per symbol:
    over the ordered nonzero micro returns, R = number of sign runs;
    z = (R - E[R]) / sqrt(Var[R]) with the standard two-sample moments
    E = 1 + 2ab/n, Var = 2ab(2ab - n) / (n^2 (n-1)).  Counts and the
    run total are exact integers; E/Var/z are one deterministic float
    chain over them (identical op order in the oracle).  |z| > 1.96
    flags non-random sign structure."""
    r = (
        _daily_returns(df)
        .withColumn("rq", F.round(F.col("r") * F.lit(1000000.0), 0).cast("long"))
        .filter(F.col("rq") != 0)
    )
    wd = Window.partitionBy("symbol").orderBy("day")
    s = r.select(
        "symbol",
        (F.col("rq") > 0).cast("int").alias("sgn"),
        F.lag((F.col("rq") > 0).cast("int")).over(wd).alias("prev"),
    )
    m = s.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("sgn").alias("a"),
        F.sum(F.lit(1) - F.col("sgn")).alias("b"),
        (
            F.lit(1)
            + F.sum(
                F.when(
                    F.col("prev").isNotNull() & (F.col("sgn") != F.col("prev")), 1
                ).otherwise(0)
            )
        ).alias("n_runs"),
    )
    nd = F.col("n_days").cast("double")
    ab2 = F.lit(2.0) * F.col("a").cast("double") * F.col("b").cast("double")
    e = F.lit(1.0) + ab2 / nd
    v = ab2 * (ab2 - nd) / (nd * nd * (nd - F.lit(1.0)))
    return m.filter(F.col("n_days") >= min_days).select(
        "symbol",
        "n_days",
        F.col("a").alias("n_pos"),
        F.col("b").alias("n_neg"),
        F.col("n_runs").cast("long").alias("n_runs"),
        F.when(v > 0, F.round((F.col("n_runs").cast("double") - e) / F.sqrt(v), 4))
        .alias("runs_z"),
    )


def underwater_spells(df: DataFrame) -> DataFrame:
    """Drawdown-duration profile per symbol over the 6dp daily close
    curve: a NEW peak (cd6 >= running max of prior rows; ties count as
    recovery — documented) closes an underwater spell.  Emits the
    longest spell, the number of peaks, and the length of the spell
    still open at series end.  Pure integer day-counting over rounded
    closes — hash-exact with no float emissions at all."""
    d = daily_close(df).withColumn("cd6", F.round("close_d", 6))
    wd = Window.partitionBy("symbol").orderBy("day")
    prior_peak = F.max("cd6").over(
        wd.rowsBetween(Window.unboundedPreceding, -1)
    )
    s = d.select(
        "symbol",
        "day",
        F.when(prior_peak.isNull() | (F.col("cd6") >= prior_peak), 1)
        .otherwise(0)
        .alias("is_peak"),
    )
    s = s.withColumn(
        "grp",
        F.sum("is_peak").over(wd.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_grp = s.groupBy("symbol", "grp").agg(
        (F.count(F.lit(1)) - F.lit(1)).alias("uw_len"),
        F.max("day").alias("last_day"),
    )
    wlast = Window.partitionBy("symbol")
    g = per_grp.withColumn("max_day", F.max("last_day").over(wlast))
    return g.groupBy("symbol").agg(
        F.sum(F.lit(1)).alias("n_peaks"),
        F.max("uw_len").alias("max_underwater_days"),
        F.max(F.when(F.col("last_day") == F.col("max_day"), F.col("uw_len"))).alias(
            "open_underwater_days"
        ),
    )


def seasonal_decompose(df: DataFrame, period_label: str = "dow") -> DataFrame:
    """Additive seasonal decomposition of the daily close curve per
    symbol: trend = centered 7-day moving average (complete windows
    only), seasonal = day-of-week mean of the detrended series,
    residual = remainder.  EVERYTHING is exact integer micro units —
    closes quantize to 6dp micro ints, both means use the FLOOR
    pattern, and the emitted components are exact micro decimals — so
    the query is hash-exact with no rounding decisions at all.
    Day-of-week comes from date arithmetic ((days-since-epoch-anchor)
    mod 7), identical on both engines.  One hash(symbol, day) exchange
    plus two grid-sized windows."""
    d = daily_close(df).withColumn(
        "cq", F.round(F.round("close_d", 6) * F.lit(1000000.0), 0).cast("long")
    )
    wd = Window.partitionBy("symbol").orderBy("day")
    wc = wd.rowsBetween(-3, 3)
    t = d.select(
        "symbol",
        "day",
        "cq",
        F.when(
            F.count(F.lit(1)).over(wc) == 7,
            F.floor(F.sum("cq").over(wc).cast("double") / F.lit(7.0)),
        ).alias("trend_q"),
        ((F.datediff(F.col("day"), F.lit("2000-01-03")) + F.lit(70000)) % 7).alias(
            "dow"
        ),
    ).withColumn("det_q", F.col("cq") - F.col("trend_q"))
    ws = Window.partitionBy("symbol", "dow")
    s = t.withColumn(
        "seas_q",
        F.when(
            F.count("det_q").over(ws) > 0,
            F.floor(
                F.sum("det_q").over(ws).cast("double")
                / F.count("det_q").over(ws).cast("double")
            ),
        ),
    )
    micro = lambda c: (F.col(c).cast("double") / F.lit(1000000.0))  # noqa: E731
    return s.select(
        "symbol",
        F.col("day").cast("timestamp").alias("day"),
        F.col("dow").cast("long").alias("dow"),
        micro("cq").alias("close6"),
        micro("trend_q").alias("trend"),
        micro("seas_q").alias("seasonal"),
        F.when(
            F.col("trend_q").isNotNull() & F.col("seas_q").isNotNull(),
            (F.col("det_q") - F.col("seas_q")).cast("double") / F.lit(1000000.0),
        ).alias("residual"),
    )


def market_breadth(df: DataFrame) -> DataFrame:
    """Per-day market breadth over the daily-return grid: advancer /
    decliner / unchanged counts, net breadth, and the cumulative
    advance-decline line.  Pure integer counting — hash-exact by
    construction.  One hash(symbol, day) exchange, one day-ordered
    cumulative window over the (tiny) day axis."""
    r = _daily_returns(df).withColumn(
        "rq", F.round(F.col("r") * F.lit(1000000.0), 0).cast("long")
    )
    day = r.groupBy("day").agg(
        F.sum(F.when(F.col("rq") > 0, 1).otherwise(0)).alias("advancers"),
        F.sum(F.when(F.col("rq") < 0, 1).otherwise(0)).alias("decliners"),
        F.sum(F.when(F.col("rq") == 0, 1).otherwise(0)).alias("unchanged"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return day.select(
        F.col("day").cast("timestamp").alias("day"),
        "advancers",
        "decliners",
        "unchanged",
        (F.col("advancers") - F.col("decliners")).alias("net"),
        F.sum(F.col("advancers") - F.col("decliners")).over(w).alias("ad_line"),
    )


def ulcer_index(df: DataFrame, min_days: int = 15, periods: int = 252) -> DataFrame:
    """Ulcer index per symbol (sqrt of the mean squared 6dp drawdown —
    the drawdown-depth-and-duration risk measure) plus the Martin
    ratio (annualized return / UI).  Drawdowns quantize to micro ints
    before squaring so the second moment is exact; UI is one sqrt over
    it and Martin one division — both emitted UNROUNDED (bit-identical
    chains, the Calmar lesson)."""
    d = daily_close(df).withColumn("cd6", F.round("close_d", 6))
    wp = (
        Window.partitionBy("symbol")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = d.select(
        "symbol",
        F.round(
            F.round(F.col("cd6") / F.nullif(F.max("cd6").over(wp), F.lit(0.0)) - 1.0, 6)
            * F.lit(1000000.0),
            0,
        )
        .cast("long")
        .alias("ddq"),
    )
    uidf = dd.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.col("ddq") * F.col("ddq")).alias("sq"),
    )
    r = _daily_returns(df).withColumn(
        "rq", F.round(F.col("r") * F.lit(1000000.0), 0).cast("long")
    )
    m = r.groupBy("symbol").agg(F.sum("rq").alias("s1"), F.count(F.lit(1)).alias("nr"))
    ui = (
        F.sqrt(F.col("sq").cast("double") / F.col("n_days").cast("double"))
        / F.lit(1000000.0)
    )
    ann_ret = (
        F.col("s1").cast("double")
        * F.lit(float(periods))
        / F.col("nr").cast("double")
        / F.lit(1000000.0)
    )
    return (
        uidf.join(m, "symbol")
        .filter(F.col("n_days") >= min_days)
        .select(
            "symbol",
            "n_days",
            ui.alias("ulcer_index"),
            F.when(F.col("sq") > 0, ann_ret / ui).alias("martin_ratio"),
        )
    )


def cmo(df: DataFrame, n: int = 14) -> DataFrame:
    """Chande Momentum Oscillator over daily micro returns: 100 *
    (sum_up - sum_down) / (sum_up + sum_down) over an n-day window,
    complete windows only.  The window sums are exact integers, so CMO
    is one unrounded division of exact ints scaled by 100 —
    bit-identical on both engines."""
    r = _daily_returns(df).withColumn(
        "rq", F.round(F.col("r") * F.lit(1000000.0), 0).cast("long")
    )
    w = Window.partitionBy("symbol").orderBy("day").rowsBetween(-(n - 1), 0)
    up = F.sum(F.when(F.col("rq") > 0, F.col("rq")).otherwise(F.lit(0))).over(w)
    down = F.sum(F.when(F.col("rq") < 0, -F.col("rq")).otherwise(F.lit(0))).over(w)
    cnt = F.count(F.lit(1)).over(w)
    return r.select(
        "symbol",
        F.col("day").cast("timestamp").alias("day"),
        F.when(
            (cnt == n) & (up + down > 0),
            F.lit(100.0) * (up - down).cast("double") / (up + down).cast("double"),
        ).alias("cmo"),
    )


def streak_stats(df: DataFrame) -> DataFrame:
    """Up/down streak statistics per symbol over daily micro returns:
    longest up streak, longest down streak, streak count, and the
    signed length of the streak still open at series end.
    Gaps-and-islands on exact integer signs — no floats anywhere, so
    hash-exact by construction."""
    r = _daily_returns(df).withColumn(
        "rq", F.round(F.col("r") * F.lit(1000000.0), 0).cast("long")
    )
    sgn = (
        F.when(F.col("rq") > 0, 1).when(F.col("rq") < 0, -1).otherwise(0)
    )
    wd = Window.partitionBy("symbol").orderBy("day")
    s = r.select("symbol", "day", sgn.alias("sgn")).withColumn(
        "chg",
        F.when(
            F.lag("sgn").over(wd).isNull()
            | (F.col("sgn") != F.lag("sgn").over(wd)),
            1,
        ).otherwise(0),
    )
    s = s.withColumn(
        "grp", F.sum("chg").over(wd.rowsBetween(Window.unboundedPreceding, 0))
    )
    g = s.groupBy("symbol", "grp").agg(
        F.count(F.lit(1)).alias("len"),
        F.max("sgn").alias("sgn"),
        F.max("day").alias("last_day"),
    )
    wlast = Window.partitionBy("symbol")
    g = g.withColumn("max_day", F.max("last_day").over(wlast))
    return g.groupBy("symbol").agg(
        F.max(F.when(F.col("sgn") == 1, F.col("len")).otherwise(F.lit(0))).alias(
            "max_up_streak"
        ),
        F.max(F.when(F.col("sgn") == -1, F.col("len")).otherwise(F.lit(0))).alias(
            "max_down_streak"
        ),
        F.count(F.lit(1)).alias("n_streaks"),
        F.max(
            F.when(
                F.col("last_day") == F.col("max_day"),
                F.col("sgn").cast("long") * F.col("len"),
            )
        ).alias("current_streak"),
    )


def month_effect(df: DataFrame) -> DataFrame:
    """Turn-of-month effect screen: daily micro returns bucketed by
    day-of-month phase (early 1-10 / mid 11-20 / late 21+), with
    per-bucket mean return (FLOOR-micro) and positive-day share
    (ROUND(p/q, 6) — small-denominator rational, safe).  One grid
    aggregation over three keys."""
    r = _daily_returns(df).withColumn(
        "rq", F.round(F.col("r") * F.lit(1000000.0), 0).cast("long")
    )
    dom = F.dayofmonth("day")
    bucket = (
        F.when(dom <= 10, "early").when(dom <= 20, "mid").otherwise("late")
    )
    g = r.groupBy(bucket.alias("phase")).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("rq").alias("s1"),
        F.sum(F.when(F.col("rq") > 0, 1).otherwise(0)).alias("n_pos"),
    )
    return g.select(
        "phase",
        "n_days",
        (
            F.floor(F.col("s1").cast("double") / F.col("n_days").cast("double"))
            / F.lit(1000000.0)
        ).alias("mean_ret"),
        F.round(
            F.col("n_pos").cast("double") / F.col("n_days").cast("double"), 6
        ).alias("pos_share"),
    )


def topk_return_days(df: DataFrame, k: int = 3) -> DataFrame:
    """Best and worst k return days per symbol — integer ranks over
    (quantized return, day), the order-statistic form that can never
    flip on float accumulation (the q_spearman lesson)."""
    r = _daily_returns(df).withColumn(
        "rq", F.round(F.col("r") * F.lit(1000000.0), 0).cast("long")
    )
    wb = Window.partitionBy("symbol").orderBy(
        F.col("rq").desc(), F.col("day").asc()
    )
    ww = Window.partitionBy("symbol").orderBy(
        F.col("rq").asc(), F.col("day").asc()
    )
    best = (
        r.withColumn("rk", F.row_number().over(wb))
        .filter(F.col("rk") <= k)
        .select(
            "symbol",
            F.col("day").cast("timestamp").alias("day"),
            "r",
            F.lit("best").alias("side"),
            F.col("rk").cast("long").alias("rk"),
        )
    )
    worst = (
        r.withColumn("rk", F.row_number().over(ww))
        .filter(F.col("rk") <= k)
        .select(
            "symbol",
            F.col("day").cast("timestamp").alias("day"),
            "r",
            F.lit("worst").alias("side"),
            F.col("rk").cast("long").alias("rk"),
        )
    )
    return best.unionAll(worst)


def relative_strength(df: DataFrame, basket_max_symbol: int = 50) -> DataFrame:
    """Relative-strength line per basket symbol: cumulative own log
    return minus cumulative equal-weight market return, both
    accumulated as exact integer micro units (market day-mean via the
    FLOOR pattern), emitted as the exact micro decimal.  Crossing zero
    marks out/under-performance vs the basket."""
    r = _daily_returns(df.filter(F.col("symbol") < basket_max_symbol)).withColumn(
        "rq", F.round(F.col("r") * F.lit(1000000.0), 0).cast("long")
    )
    mkt = r.groupBy("day").agg(
        F.floor(
            F.sum("rq").cast("double") / F.count(F.lit(1)).cast("double")
        ).cast("long").alias("mq")
    )
    j = r.join(mkt, "day")
    wd = Window.partitionBy("symbol").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return j.select(
        "symbol",
        F.col("day").cast("timestamp").alias("day"),
        (
            F.sum(F.col("rq") - F.col("mq")).over(wd).cast("double")
            / F.lit(1000000.0)
        ).alias("rel_strength"),
    )
