"""Portfolio/risk analytics queries + DuckDB oracles — log returns,
rolling volatility, max drawdown, basket correlation
(operators/analytics.py; extends SURVEY.md §2.1 W1-W11 cross-sectionally).

Parity rules: returns rounded 6dp BEFORE any downstream aggregate (both
engines), vol 6dp, drawdown 6dp, corr 4dp; round/min/max commute
(monotone), so oracles use the simpler nesting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import analytics as AN
from ..sources.tables import bars
from ._registry import registrar
from .core import BARS_CTE, KW

QUERIES = {}
ORACLES = {}
TIERS = {}
q = registrar(QUERIES, ORACLES, TIERS)


RET = (
    f"CASE WHEN LAG(close) OVER ({KW}) > 0 AND close > 0 "
    f"THEN ROUND(LN(close / LAG(close) OVER ({KW})), 6) END"
)


@q(
    "q_log_returns",
    f"""WITH {BARS_CTE}
    SELECT symbol, time, event_id, {RET} AS log_ret FROM bars""",
)
def q_log_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    return AN.with_log_return(bars(spark, sf_dir)).select(
        "symbol", "time", "event_id", "log_ret"
    )


@q(
    "q_rolling_vol",
    f"""WITH {BARS_CTE},
    r AS (SELECT symbol, time, event_id, {RET} AS log_ret FROM bars)
    SELECT symbol, time, event_id,
      CASE WHEN COUNT(log_ret) OVER w >= 20
           THEN ROUND(STDDEV_SAMP(log_ret) OVER w, 6) END AS vol_20
    FROM r
    WINDOW w AS ({KW} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)""",
)
def q_rolling_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = AN.with_rolling_vol(AN.with_log_return(bars(spark, sf_dir)), 20)
    return df.select("symbol", "time", "event_id", "vol_20")


@q(
    "q_drawdown",
    f"""WITH {BARS_CTE},
    d AS (SELECT symbol, close,
            MAX(close) OVER ({KW} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
          FROM bars)
    SELECT symbol,
      ROUND(MIN(close / NULLIF(peak, 0.0) - 1.0), 6) AS max_drawdown,
      ROUND(MAX(peak), 4) AS peak_close,
      COUNT(*) AS n_bars
    FROM d GROUP BY symbol""",
)
def q_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    return AN.max_drawdown(bars(spark, sf_dir))


@q(
    "q_symbol_corr",
    f"""WITH {BARS_CTE},
    d AS (SELECT symbol, CAST(time AS DATE) AS day, AVG(close) AS close_d
          FROM bars WHERE symbol < 50 GROUP BY symbol, CAST(time AS DATE))
    SELECT a.symbol AS symbol_a, b.symbol AS symbol_b,
           COUNT(*) AS n_days,
           ROUND(CORR(a.close_d, b.close_d), 4) AS corr_close
    FROM d a JOIN d b ON a.day = b.day AND a.symbol < b.symbol
    GROUP BY a.symbol, b.symbol
    HAVING COUNT(*) >= 15""",
)
def q_symbol_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    return AN.basket_correlation(bars(spark, sf_dir), basket_max_symbol=50, min_days=15)


@q(
    "q_candles",
    f"""WITH {BARS_CTE}
    SELECT symbol, CAST(CAST(time AS DATE) AS TIMESTAMP) AS bucket_start,
      arg_min(open, time) AS open_px,
      MAX(high) AS high_px,
      MIN(low) AS low_px,
      arg_max(close, time) AS close_px,
      CAST(SUM(volume) AS BIGINT) AS volume,
      COUNT(*) AS n_ticks
    FROM bars GROUP BY symbol, CAST(time AS DATE)""",
)
def q_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLCV candles from the tick stream (hypertable rollup)."""
    from ..operators.temporal import candles

    return candles(bars(spark, sf_dir), "1 day")


@q(
    "q_beta",
    f"""WITH {BARS_CTE},
    d AS (SELECT symbol, CAST(time AS DATE) AS day, AVG(close) AS close_d
          FROM bars WHERE symbol < 50 GROUP BY symbol, CAST(time AS DATE)),
    r AS (SELECT symbol, day,
            CASE WHEN LAG(close_d) OVER (PARTITION BY symbol ORDER BY day) > 0 AND close_d > 0
                 THEN ROUND(LN(close_d / LAG(close_d) OVER (PARTITION BY symbol ORDER BY day)), 6) END AS r
          FROM d QUALIFY r IS NOT NULL),
    mkt AS (SELECT day, ROUND(AVG(r), 6) AS r_mkt FROM r GROUP BY day)
    SELECT r.symbol, COUNT(*) AS n_days,
           ROUND(COVAR_SAMP(r.r, mkt.r_mkt) / NULLIF(VAR_SAMP(mkt.r_mkt), 0.0), 4) AS beta
    FROM r JOIN mkt USING (day)
    GROUP BY r.symbol
    HAVING COUNT(*) >= 15""",
)
def q_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPM beta vs the equal-weight basket market (covar/var moments)."""
    return AN.basket_beta(bars(spark, sf_dir), basket_max_symbol=50, min_days=15)


@q(
    "q_wma",
    f"""WITH {BARS_CTE},
    l AS (SELECT symbol, time, event_id,
            list(close) OVER ({KW} ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS lst,
            COUNT(close) OVER ({KW} ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS cnt
          FROM bars)
    SELECT symbol, time, event_id,
      CASE WHEN cnt >= 10 THEN ROUND(
        list_reduce(
          list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(range(1, 11), i -> lst[CAST(i AS INT)] * CAST(i AS DOUBLE))),
          (a, b) -> a + b) / 55.0, 4) END AS wma_10
    FROM l""",
)
def q_wma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linearly-weighted moving average via the bounded-list aggregate()
    HOF pattern (operators/windows.with_wma)."""
    from ..operators.windows import with_wma

    return with_wma(bars(spark, sf_dir), 10).select("symbol", "time", "event_id", "wma_10")


@q(
    "q_rolling_median",
    f"""WITH {BARS_CTE}
    SELECT symbol, time, event_id,
      ROUND(median(close) OVER ({KW} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW), 4)
        AS median_20
    FROM bars""",
)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 20-row median (robust smoother): bounded collect_list +
    array_sort + interpolated middle == DuckDB's windowed median over
    DOUBLE (quantile_cont semantics), including partial warmup frames."""
    from ..operators.windows import with_rolling_median

    return with_rolling_median(bars(spark, sf_dir), 20).select(
        "symbol", "time", "event_id", "median_20"
    )


@q(
    "q_candles_incremental",
    f"""WITH {BARS_CTE}
    SELECT symbol, CAST(CAST(time AS DATE) AS TIMESTAMP) AS bucket_start,
      arg_min(open, time) AS open_px,
      MAX(high) AS high_px,
      MIN(low) AS low_px,
      arg_max(close, time) AS close_px,
      CAST(SUM(volume) AS BIGINT) AS volume,
      COUNT(*) AS n_ticks
    FROM bars GROUP BY symbol, CAST(time AS DATE)""",
)
def q_candles_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate maintenance (the hypertable rollup refresh,
    setup.py:92-98): build the candle table from ~80% of the stream,
    then 'new data arrives' — recompute ONLY the day-buckets the late
    20% touches from full source data and dynamic-partition-OVERWRITE
    just those partitions (sinks/parquet.upsert_replace).  The refreshed
    table must equal the from-scratch rollup — which is exactly what the
    oracle computes."""
    import tempfile

    from pyspark.sql import functions as F

    from ..operators.temporal import candles
    from ..sinks.parquet import collect_touched_partitions, upsert_replace

    b = bars(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="cand_inc_") + "/candles"
    cols = ["symbol", "bucket_start", "open_px", "high_px", "low_px",
            "close_px", "volume", "n_ticks"]
    # initial build: everything except the "late" slice
    hist = b.filter(F.col("event_id") % 5 != 0)
    upsert_replace(candles(hist, "1 day"), path, "bucket_date", "bucket_start")
    # refresh: recompute ONLY the buckets the late slice touches, from
    # full source data for those days, and swap those partitions
    late = b.filter(F.col("event_id") % 5 == 0)
    touched = collect_touched_partitions(
        late.select(F.to_date("time").alias("d")), "d"
    )
    refreshed = candles(b.filter(F.to_date("time").isin(touched)), "1 day")
    upsert_replace(refreshed, path, "bucket_date", "bucket_start")
    return spark.read.parquet(path).select(*cols)


@q(
    "q_salted_agg",
    """SELECT event_type, COUNT(*) AS n_rows,
              ROUND(SUM(value), 4) AS sum_value,
              MIN(value) AS min_value, MAX(value) AS max_value
       FROM events GROUP BY event_type""",
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed-key aggregation via two-phase salting (operators/skew.py):
    5 hot event_type keys spread over 16 salts in the first exchange,
    merged in a second (tiny) exchange.  Algebraic-aggregate correctness
    is the oracle: the salted plan must equal the plain GROUP BY."""
    from pyspark.sql import functions as F

    from ..operators.skew import salted_agg
    from ..sources.tables import load_events

    ev = load_events(spark, sf_dir)
    return salted_agg(
        ev,
        ["event_type"],
        {
            "n_rows": (F.count(F.lit(1)), F.sum("n_rows")),
            "sum_value": (F.sum("value"), F.round(F.sum("sum_value"), 4)),
            "min_value": (F.min("value"), F.min("min_value")),
            "max_value": (F.max("value"), F.max("max_value")),
        },
        salt_col="event_id",
        n_salts=16,
    )


@q(
    "q_window_navs",
    f"""WITH {BARS_CTE}
    SELECT symbol, time, event_id,
      ROUND(close - LAG(close) OVER ({KW}), 4) AS delta_prev,
      ROUND(LEAD(close) OVER ({KW}) - close, 4) AS delta_next,
      NTILE(4) OVER (PARTITION BY symbol ORDER BY close, event_id) AS close_quartile,
      ROUND(PERCENT_RANK() OVER (PARTITION BY symbol ORDER BY close, event_id), 6)
        AS close_pct_rank,
      ROUND(CUME_DIST() OVER (PARTITION BY symbol ORDER BY close, event_id), 6)
        AS close_cume_dist
    FROM bars""",
)
def q_window_navs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window navigation/distribution functions over the per-symbol
    stream: lag/lead deltas (time order) and ntile / percent_rank /
    cume_dist (value order, id tie-break).  Both window specs share the
    hash(symbol) exchange — one shuffle, two sorts."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    b = bars(spark, sf_dir)
    wt = Window.partitionBy("symbol").orderBy("time", "event_id")
    wv = Window.partitionBy("symbol").orderBy("close", "event_id")
    return b.select(
        "symbol", "time", "event_id",
        F.round(F.col("close") - F.lag("close").over(wt), 4).alias("delta_prev"),
        F.round(F.lead("close").over(wt) - F.col("close"), 4).alias("delta_next"),
        F.ntile(4).over(wv).alias("close_quartile"),
        F.round(F.percent_rank().over(wv), 6).alias("close_pct_rank"),
        F.round(F.cume_dist().over(wv), 6).alias("close_cume_dist"),
    )


@q(
    "q_gapfill_locf",
    f"""WITH {BARS_CTE},
    b AS (SELECT symbol,
            date_trunc('day', time) + to_hours(6 * (hour(time) // 6)) AS bucket_start,
            arg_max(close, time) AS v, COUNT(*) AS n_ticks
          FROM bars GROUP BY 1, 2),
    sp AS (SELECT symbol, MIN(bucket_start) AS mn, MAX(bucket_start) AS mx FROM b GROUP BY 1),
    dense AS (SELECT symbol, unnest(generate_series(mn, mx, INTERVAL 6 HOUR)) AS bucket_start FROM sp),
    j AS (SELECT d.symbol, d.bucket_start, b.v, COALESCE(b.n_ticks, 0) AS n_ticks
          FROM dense d LEFT JOIN b ON b.symbol = d.symbol AND b.bucket_start = d.bucket_start),
    r0 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY bucket_start) AS rn FROM j),
    r AS (SELECT *,
        LAST_VALUE(v IGNORE NULLS) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf,
        LAST_VALUE(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS)
          OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_rn,
        FIRST_VALUE(v IGNORE NULLS) OVER (w ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt,
        FIRST_VALUE(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS)
          OVER (w ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_rn
      FROM r0 WINDOW w AS (PARTITION BY symbol ORDER BY bucket_start))
    SELECT symbol, bucket_start, n_ticks, v IS NULL AS is_gap,
      ROUND(locf, 6) AS close_locf,
      ROUND(CASE WHEN v IS NOT NULL THEN v
                 WHEN nxt IS NULL THEN locf
                 ELSE locf + (nxt - locf) * (rn - prev_rn) / (next_rn - prev_rn) END,
            6) AS close_interp
    FROM r""",
)
def q_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """time_bucket_gapfill + locf + interpolate (TimescaleDB hypertable
    surface, reference src/db/setup.py:92-98): dense 6-hour buckets per
    symbol span, carried-forward and linearly-interpolated closes."""
    from ..operators.temporal import gapfill_locf

    return gapfill_locf(bars(spark, sf_dir), bucket_hours=6)


@q(
    "q_twap",
    f"""WITH {BARS_CTE},
    t AS (SELECT symbol, date_trunc('day', time) AS day, close,
            epoch_us(LEAD(time) OVER (PARTITION BY symbol, CAST(time AS DATE)
                                      ORDER BY time, event_id)) - epoch_us(time) AS dt_us
          FROM bars)
    SELECT symbol, day,
      ROUND(SUM(close * dt_us) / NULLIF(SUM(dt_us), 0), 6) AS twap,
      COUNT(*) AS n_ticks
    FROM t GROUP BY symbol, day""",
)
def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average price per (symbol, day) — holding-time
    weights (micros until next tick), TimescaleDB time_weight shape."""
    return AN.twap(bars(spark, sf_dir))


@q(
    "q_roc",
    f"""WITH {BARS_CTE}
    SELECT symbol, time, event_id,
      ROUND(100 * (close - LAG(close, 10) OVER ({KW}))
            / NULLIF(LAG(close, 10) OVER ({KW}), 0.0), 4) AS roc_10
    FROM bars""",
)
def q_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate of change (10): lag-based momentum, zero-guarded."""
    from ..operators.windows import with_roc

    return with_roc(bars(spark, sf_dir), 10).select("symbol", "time", "event_id", "roc_10")


@q(
    "q_donchian",
    f"""WITH {BARS_CTE},
    l AS (SELECT symbol, time, event_id,
            MAX(high) OVER w AS u, MIN(low) OVER w AS lo, COUNT(close) OVER w AS cnt
          FROM bars WINDOW w AS ({KW} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
    SELECT symbol, time, event_id,
      CASE WHEN cnt >= 20 THEN ROUND(u, 4) END AS dc_upper,
      CASE WHEN cnt >= 20 THEN ROUND(lo, 4) END AS dc_lower,
      CASE WHEN cnt >= 20 THEN ROUND((u + lo) / 2.0, 4) END AS dc_mid
    FROM l""",
)
def q_donchian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Donchian channel (20): rolling extremes + midline."""
    from ..operators.windows import with_donchian

    return with_donchian(bars(spark, sf_dir), 20).select(
        "symbol", "time", "event_id", "dc_upper", "dc_lower", "dc_mid"
    )


@q(
    "q_cci",
    f"""WITH {BARS_CTE},
    t AS (SELECT symbol, time, event_id, (high + low + close) / 3.0 AS tp FROM bars),
    m AS (SELECT symbol, time, event_id, tp,
            AVG(tp) OVER w AS mean_tp, COUNT(tp) OVER w AS cnt, list(tp) OVER w AS lst
          FROM t WINDOW w AS ({KW} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
    SELECT symbol, time, event_id,
      CASE WHEN cnt >= 20 THEN ROUND(
        (tp - mean_tp) / NULLIF(0.015 * (
          list_reduce(
            list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(lst, x -> abs(x - mean_tp))),
            (a, b) -> a + b) / cnt), 0.0), 4) END AS cci_20
    FROM m""",
)
def q_cci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCI (20): typical-price deviation vs the window's own mean — the
    bounded-list HOF mean-deviation."""
    from ..operators.windows import with_cci

    return with_cci(bars(spark, sf_dir), 20).select(
        "symbol", "time", "event_id", "cci_20"
    )


@q(
    "q_winsorize",
    f"""WITH {BARS_CTE},
    p AS (SELECT symbol, time, event_id, close,
            quantile_cont(close, 0.05) OVER (PARTITION BY symbol) AS plo,
            quantile_cont(close, 0.95) OVER (PARTITION BY symbol) AS phi
          FROM bars)
    SELECT symbol, time, event_id, close,
      ROUND(plo, 4) AS p_lo, ROUND(phi, 4) AS p_hi,
      ROUND(LEAST(GREATEST(close, plo), phi), 4) AS close_wins
    FROM p""",
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol winsorized closes: clip to interpolated [p05, p95]
    (Spark percentile == DuckDB quantile_cont, both type-7)."""
    return AN.winsorize(bars(spark, sf_dir)).select(
        "symbol", "time", "event_id", "close", "p_lo", "p_hi", "close_wins"
    )


@q(
    "q_candles_rollup",
    f"""WITH {BARS_CTE},
    c6 AS (SELECT symbol,
             date_trunc('day', time) + to_hours(6 * (hour(time) // 6)) AS bucket_start,
             arg_min(open, time) AS open_px, MAX(high) AS high_px,
             MIN(low) AS low_px, arg_max(close, time) AS close_px,
             CAST(SUM(volume) AS BIGINT) AS volume, COUNT(*) AS n_ticks
           FROM bars GROUP BY 1, 2)
    SELECT symbol, date_trunc('day', bucket_start) AS bucket_start,
      arg_min(open_px, bucket_start) AS open_px,
      MAX(high_px) AS high_px,
      MIN(low_px) AS low_px,
      arg_max(close_px, bucket_start) AS close_px,
      CAST(SUM(volume) AS BIGINT) AS volume,
      CAST(SUM(n_ticks) AS BIGINT) AS n_ticks
    FROM c6 GROUP BY symbol, date_trunc('day', bucket_start)""",
)
def q_candles_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily candles rolled up from 6-hour candles (hierarchical
    continuous aggregate — never re-reads ticks)."""
    from ..operators.temporal import candles, candles_rollup

    b = bars(spark, sf_dir)
    c6 = candles(b, "6 hours")
    return candles_rollup(c6, "1 day")


@q(
    "q_unpivot",
    f"""WITH {BARS_CTE},
    c AS (SELECT symbol, CAST(CAST(time AS DATE) AS TIMESTAMP) AS bucket_start,
            arg_min(open, time) AS open_px, MAX(high) AS high_px,
            MIN(low) AS low_px, arg_max(close, time) AS close_px
          FROM bars GROUP BY 1, 2)
    SELECT symbol, bucket_start, field, value FROM (
      SELECT symbol, bucket_start, 'open_px' AS field, open_px AS value FROM c
      UNION ALL SELECT symbol, bucket_start, 'high_px', high_px FROM c
      UNION ALL SELECT symbol, bucket_start, 'low_px', low_px FROM c
      UNION ALL SELECT symbol, bucket_start, 'close_px', close_px FROM c) t""",
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (inverse of q_pivot): daily OHLC candles to long
    (symbol, bucket, field, value) — Spark's native unpivot operator,
    zero shuffle beyond the candle rollup itself."""
    from ..operators.temporal import candles

    c = candles(bars(spark, sf_dir), "1 day")
    return c.unpivot(
        ["symbol", "bucket_start"],
        ["open_px", "high_px", "low_px", "close_px"],
        "field",
        "value",
    )


@q(
    "q_rolling_corr",
    f"""WITH {BARS_CTE},
    d AS (SELECT symbol, CAST(time AS DATE) AS day, AVG(close) AS close_d
          FROM bars WHERE symbol < 50 GROUP BY symbol, CAST(time AS DATE)),
    r AS (SELECT symbol, day,
            CASE WHEN LAG(close_d) OVER (PARTITION BY symbol ORDER BY day) > 0 AND close_d > 0
                 THEN ROUND(LN(close_d / LAG(close_d) OVER (PARTITION BY symbol ORDER BY day)), 6) END AS r
          FROM d QUALIFY r IS NOT NULL),
    mkt AS (SELECT day, ROUND(AVG(r), 6) AS r_mkt FROM r GROUP BY day),
    j AS (SELECT r.symbol, r.day, r.r, mkt.r_mkt FROM r JOIN mkt USING (day))
    SELECT symbol, CAST(day AS TIMESTAMP) AS day,
      CASE WHEN COUNT(*) OVER w >= 10 THEN ROUND(CORR(r, r_mkt) OVER w, 4) END AS corr_10
    FROM j
    WINDOW w AS (PARTITION BY symbol ORDER BY day ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)""",
)
def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 10-day correlation of each basket symbol vs the
    equal-weight market return (windowed CORR over the day grid)."""
    return AN.rolling_market_corr(bars(spark, sf_dir), basket_max_symbol=50, n=10)


@q(
    "q_mad_outliers",
    f"""WITH {BARS_CTE},
    m AS (SELECT symbol, time, event_id, close,
            quantile_cont(close, 0.5) OVER (PARTITION BY symbol) AS med
          FROM bars),
    d AS (SELECT *, quantile_cont(abs(close - med), 0.5) OVER (PARTITION BY symbol) AS mad
          FROM m),
    r AS (SELECT *, ROUND(abs(close - med) / NULLIF(mad, 0.0), 6) AS dev_ratio FROM d)
    SELECT symbol, time, event_id, close,
      ROUND(med, 4) AS med, ROUND(mad, 4) AS mad, dev_ratio
    FROM r WHERE dev_ratio > 3.0""",
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-symbol outlier flags: |close - median| > 3 x MAD."""
    return AN.mad_outliers(bars(spark, sf_dir), k=3.0)


@q(
    "q_spearman",
    f"""WITH {BARS_CTE},
    d AS (SELECT symbol, CAST(time AS DATE) AS day,
                 ROUND(AVG(close), 6) AS close_d
          FROM bars WHERE symbol < 50 GROUP BY symbol, CAST(time AS DATE)),
    p AS (SELECT a.symbol AS symbol_a, b.symbol AS symbol_b,
                 a.close_d AS ca, b.close_d AS cb
          FROM d a JOIN d b ON a.day = b.day AND a.symbol < b.symbol),
    r AS (SELECT symbol_a, symbol_b,
            2 * RANK() OVER (PARTITION BY symbol_a, symbol_b ORDER BY ca)
              + COUNT(*) OVER (PARTITION BY symbol_a, symbol_b, ca) - 1 AS x,
            2 * RANK() OVER (PARTITION BY symbol_a, symbol_b ORDER BY cb)
              + COUNT(*) OVER (PARTITION BY symbol_a, symbol_b, cb) - 1 AS y
          FROM p),
    m AS (SELECT symbol_a, symbol_b, COUNT(*) AS n,
            SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
            SUM(x*x) AS sxx, SUM(y*y) AS syy
          FROM r GROUP BY symbol_a, symbol_b
          HAVING COUNT(*) >= 15)
    SELECT symbol_a, symbol_b, n AS n_days,
           CAST(n*sxy - sx*sy AS DOUBLE)
             / NULLIF(SQRT(CAST(n*sxx - sx*sx AS DOUBLE)
                           * CAST(n*syy - sy*sy AS DOUBLE)), 0.0) AS spearman
    FROM m""",
)
def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation per basket pair — Pearson closed form
    over EXACT integer doubled-rank moments (order-invariant by
    construction; no ROUND-of-float-aggregate anywhere) —
    operators/analytics.basket_spearman."""
    return AN.basket_spearman(bars(spark, sf_dir), basket_max_symbol=50, min_days=15)


@q(
    "q_sharpe",
    f"""WITH {BARS_CTE},
    d AS (SELECT symbol, CAST(time AS DATE) AS day, AVG(close) AS close_d
          FROM bars GROUP BY symbol, CAST(time AS DATE)),
    r AS (SELECT symbol, day,
            CASE WHEN LAG(close_d) OVER (PARTITION BY symbol ORDER BY day) > 0
                      AND close_d > 0
                 THEN ROUND(LN(close_d / LAG(close_d)
                      OVER (PARTITION BY symbol ORDER BY day)), 6) END AS r
          FROM d QUALIFY r IS NOT NULL)
    SELECT symbol, COUNT(*) AS n_days,
           ROUND(AVG(r) / NULLIF(STDDEV_SAMP(r), 0.0) * sqrt(252.0), 4)
             AS sharpe,
           ROUND(STDDEV_SAMP(r) * sqrt(252.0), 6) AS ann_vol
    FROM r GROUP BY symbol
    HAVING COUNT(*) >= 15""",
)
def q_sharpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annualized Sharpe ratio + volatility per symbol over daily log
    returns (operators/analytics.symbol_sharpe)."""
    return AN.symbol_sharpe(bars(spark, sf_dir), min_days=15)


# Day-aligned 6dp daily-return CTE shared by the risk statistics
# (mirrors operators/analytics._daily_returns exactly).
DAILY_RET = """d AS (SELECT symbol, CAST(time AS DATE) AS day, AVG(close) AS close_d
          FROM bars GROUP BY symbol, CAST(time AS DATE)),
    r AS (SELECT symbol, day,
            CASE WHEN LAG(close_d) OVER (PARTITION BY symbol ORDER BY day) > 0
                      AND close_d > 0
                 THEN ROUND(LN(close_d / LAG(close_d)
                      OVER (PARTITION BY symbol ORDER BY day)), 6) END AS r
          FROM d QUALIFY r IS NOT NULL)"""


@q(
    "q_ichimoku",
    f"""WITH {BARS_CTE},
    b AS (SELECT symbol, time, event_id,
            ROW_NUMBER() OVER ({KW}) AS rn,
            (MAX(high) OVER w9 + MIN(low) OVER w9) / 2.0 AS t,
            (MAX(high) OVER w26 + MIN(low) OVER w26) / 2.0 AS k,
            (MAX(high) OVER w52 + MIN(low) OVER w52) / 2.0 AS s
          FROM bars
          WINDOW w9 AS ({KW} ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
                 w26 AS ({KW} ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
                 w52 AS ({KW} ROWS BETWEEN 51 PRECEDING AND CURRENT ROW))
    SELECT symbol, time, event_id,
      CASE WHEN rn >= 9 THEN t END AS tenkan,
      CASE WHEN rn >= 26 THEN k END AS kijun,
      CASE WHEN rn >= 26 THEN (t + k) / 2.0 END AS senkou_a,
      CASE WHEN rn >= 52 THEN s END AS senkou_b
    FROM b""",
)
def q_ichimoku(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ichimoku midpoint lines (tenkan/kijun/senkou A+B) per bar —
    operators/analytics.ichimoku."""
    return AN.ichimoku(bars(spark, sf_dir)).select(
        "symbol", "time", "event_id", "tenkan", "kijun", "senkou_a", "senkou_b"
    )


@q(
    "q_pivot_points",
    f"""WITH {BARS_CTE},
    b AS (SELECT symbol, CAST(time AS DATE) AS day, time, event_id, high, low, close
          FROM bars),
    d AS (SELECT symbol, day,
            MAX(high) OVER w AS h, MIN(low) OVER w AS l, close AS c,
            ROW_NUMBER() OVER (PARTITION BY symbol, day
                               ORDER BY time DESC, event_id DESC) AS rn
          FROM b WINDOW w AS (PARTITION BY symbol, day)),
    dd AS (SELECT symbol, day, h, l, c FROM d WHERE rn = 1),
    p AS (SELECT symbol, day,
            LAG(h) OVER ws AS ph, LAG(l) OVER ws AS pl, LAG(c) OVER ws AS pc
          FROM dd WINDOW ws AS (PARTITION BY symbol ORDER BY day))
    SELECT symbol, CAST(day AS TIMESTAMP) AS day,
      (ph + pl + pc) / 3.0 AS pivot,
      2.0 * ((ph + pl + pc) / 3.0) - pl AS r1,
      2.0 * ((ph + pl + pc) / 3.0) - ph AS s1,
      (ph + pl + pc) / 3.0 + (ph - pl) AS r2,
      (ph + pl + pc) / 3.0 - (ph - pl) AS s2
    FROM p WHERE ph IS NOT NULL""",
)
def q_pivot_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic prior-day floor-trader pivot levels per (symbol, day) —
    operators/analytics.pivot_points."""
    return AN.pivot_points(bars(spark, sf_dir))


@q(
    "q_var_es",
    f"""WITH {BARS_CTE},
    {DAILY_RET},
    s AS (SELECT symbol, r,
            ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY r, day) AS rn,
            COUNT(*) OVER (PARTITION BY symbol) AS n
          FROM r)
    SELECT symbol, COUNT(*) AS n_days,
      MAX(CASE WHEN rn <= CAST(FLOOR((n + 19) / 20.0) AS BIGINT) THEN r END)
        AS var_95,
      FLOOR(CAST(SUM(CASE WHEN rn <= CAST(FLOOR((n + 19) / 20.0) AS BIGINT)
                     THEN CAST(ROUND(r * 1000000.0, 0) AS BIGINT) END) AS DOUBLE)
            / CAST(MAX(CASE WHEN rn <= CAST(FLOOR((n + 19) / 20.0) AS BIGINT)
                        THEN rn END) AS DOUBLE)) / 1000000.0
        AS es_95
    FROM s GROUP BY symbol HAVING COUNT(*) >= 15""",
)
def q_var_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based historical VaR-95 / ES-95 per symbol (order
    statistics, no quantile interpolation) — operators/analytics.var_es."""
    return AN.var_es(bars(spark, sf_dir), tail=20, min_days=15)


@q(
    "q_acf",
    f"""WITH {BARS_CTE},
    {DAILY_RET},
    l AS (SELECT symbol, r,
            LAG(r, 1) OVER ws AS p1, LAG(r, 2) OVER ws AS p2,
            LAG(r, 3) OVER ws AS p3
          FROM r WINDOW ws AS (PARTITION BY symbol ORDER BY day)),
    u AS (SELECT symbol, 1 AS lag, r, p1 AS r_prev FROM l
          UNION ALL SELECT symbol, 2, r, p2 FROM l
          UNION ALL SELECT symbol, 3, r, p3 FROM l)
    SELECT symbol, lag, COUNT(*) AS n_pairs, ROUND(CORR(r, r_prev), 4) AS acf
    FROM u WHERE r_prev IS NOT NULL
    GROUP BY symbol, lag HAVING COUNT(*) >= 15""",
)
def q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-return autocorrelation at lags 1..3 per symbol —
    operators/analytics.return_acf."""
    return AN.return_acf(bars(spark, sf_dir), max_lag=3, min_pairs=15)


@q(
    "q_ewma_vol",
    f"""WITH RECURSIVE {BARS_CTE},
    {DAILY_RET},
    rr AS (SELECT symbol, day, r,
             ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY day) AS rn
           FROM r),
    rec AS (
      SELECT symbol, day, rn, r * r AS v FROM rr WHERE rn = 1
      UNION ALL
      SELECT b.symbol, b.day, b.rn, 0.94 * rec.v + (1.0 - 0.94) * (b.r * b.r)
      FROM rr b JOIN rec ON b.symbol = rec.symbol AND b.rn = rec.rn + 1)
    SELECT symbol, CAST(day AS TIMESTAMP) AS day,
      ROUND(SQRT(v), 6) AS ewma_vol FROM rec""",
)
def q_ewma_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RiskMetrics EWMA volatility (lambda=0.94) over daily returns,
    recursive Arrow kernel vs recursive-CTE oracle —
    operators/analytics.ewma_volatility."""
    return AN.ewma_volatility(bars(spark, sf_dir), lam=0.94)


@q(
    "q_volume_profile",
    f"""WITH {BARS_CTE},
    b AS (SELECT symbol, FLOOR(close / 10.0) * 10.0 AS bin_low, volume FROM bars),
    a AS (SELECT symbol, bin_low, COUNT(*) AS n_ticks,
            CAST(SUM(volume) AS BIGINT) AS bin_volume
          FROM b GROUP BY symbol, bin_low)
    SELECT symbol, bin_low, n_ticks, bin_volume,
      ROUND(CAST(bin_volume AS DOUBLE)
            / CAST(SUM(bin_volume) OVER (PARTITION BY symbol) AS DOUBLE), 6)
        AS vol_share
    FROM a""",
)
def q_volume_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-at-price histogram per symbol (fixed 10.0-wide bins) with
    per-bin volume share — operators/analytics.volume_profile."""
    return AN.volume_profile(bars(spark, sf_dir), bin_width=10.0)


@q(
    "q_pairs_spread",
    f"""WITH {BARS_CTE},
    d AS (SELECT symbol, CAST(time AS DATE) AS day, ROUND(AVG(close), 6) AS close_d
          FROM bars WHERE symbol < 50 GROUP BY symbol, CAST(time AS DATE)),
    p AS (SELECT a.symbol AS symbol_a, b.symbol AS symbol_b, a.day AS day,
            ROUND(a.close_d / b.close_d, 6) AS ratio
          FROM d a JOIN d b ON a.day = b.day AND a.symbol < b.symbol)
    SELECT symbol_a, symbol_b, COUNT(*) AS n_days,
      FLOOR(CAST(SUM(CAST(ROUND(ratio * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE)) / 1000000.0 AS mean_ratio,
      ROUND(STDDEV_SAMP(ratio), 6) AS sd_ratio,
      ROUND((arg_max(ratio, day) - AVG(ratio))
            / NULLIF(STDDEV_SAMP(ratio), 0.0), 4) AS last_z
    FROM p GROUP BY symbol_a, symbol_b HAVING COUNT(*) >= 15""",
)
def q_pairs_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs-trading ratio mean/stddev + latest-day z-score per basket
    pair — operators/analytics.pairs_spread."""
    return AN.pairs_spread(bars(spark, sf_dir), basket_max_symbol=50, min_days=15)


@q(
    "q_moments",
    f"""WITH {BARS_CTE},
    {DAILY_RET},
    m AS (SELECT symbol, r,
            ROUND(AVG(r) OVER (PARTITION BY symbol), 6) AS mu
          FROM r),
    c AS (SELECT symbol, r - mu AS d FROM m)
    SELECT symbol, COUNT(*) AS n_days,
      ROUND(AVG(d * d * d)
            / NULLIF(SQRT(AVG(d * d) * AVG(d * d) * AVG(d * d)), 0.0), 4) AS skew,
      ROUND(AVG(d * d * d * d)
            / NULLIF(AVG(d * d) * AVG(d * d), 0.0) - 3.0, 4) AS ex_kurtosis
    FROM c GROUP BY symbol HAVING COUNT(*) >= 15""",
)
def q_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit two-pass skewness / excess kurtosis of daily returns per
    symbol — operators/analytics.return_moments."""
    return AN.return_moments(bars(spark, sf_dir), min_days=15)


# ------------------------------------------------ r6 indicator-parity batch
# Five window-native indicators (Williams %R, CMF, A/D line, Ultimate
# Oscillator, Aroon) and three recurrences (Keltner, Holt, Force Index)
# widening the pandas-ta family beyond the reference's eleven
# (backfill.py:12-64).  Parity techniques: integer micro-unit
# quantization for every multi-term window/running sum (the VWAP
# pattern), lexicographic struct extremes for bars-since-high ties, and
# the module-standard recursive-CTE oracles with seeds/coefficients
# written EXACTLY as the numpy kernels compute them (1.0 - a, never the
# pre-folded literal — 1.0-0.2 and the literal 0.8 are different
# doubles).


@q(
    "q_willr",
    f"""WITH {BARS_CTE},
    l AS (SELECT symbol, time, event_id, close,
            MAX(high) OVER w AS hh, MIN(low) OVER w AS ll,
            COUNT(close) OVER w AS cnt
          FROM bars WINDOW w AS ({KW} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
    SELECT symbol, time, event_id,
      CASE WHEN cnt >= 14
           THEN ROUND(-100.0 * (hh - close) / NULLIF(hh - ll, 0.0), 4)
      END AS willr_14
    FROM l""",
)
def q_willr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Williams %R(14): inverted un-smoothed stochastic over window
    extremes — operators/windows.with_willr."""
    from ..operators.windows import with_willr

    return with_willr(bars(spark, sf_dir), 14).select(
        "symbol", "time", "event_id", "willr_14"
    )


MFVQ = (
    "CAST(ROUND((2.0 * close - high - low) / NULLIF(high - low, 0.0)"
    " * 1000000.0, 0) AS BIGINT) * volume"
)


@q(
    "q_cmf",
    f"""WITH {BARS_CTE},
    m AS (SELECT symbol, time, event_id, volume, {MFVQ} AS mfvq FROM bars),
    l AS (SELECT symbol, time, event_id,
            SUM(mfvq) OVER w AS num, SUM(volume) OVER w AS den,
            COUNT(*) OVER w AS cnt
          FROM m WINDOW w AS ({KW} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
    SELECT symbol, time, event_id,
      CASE WHEN cnt >= 20
           THEN ROUND(CAST(num AS DOUBLE)
                      / NULLIF(1000000.0 * CAST(den AS DOUBLE), 0.0), 4)
      END AS cmf_20
    FROM l""",
)
def q_cmf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chaikin Money Flow(20): integer-quantized money-flow volume over
    exact window sums — operators/windows.with_cmf."""
    from ..operators.windows import with_cmf

    return with_cmf(bars(spark, sf_dir), 20).select(
        "symbol", "time", "event_id", "cmf_20"
    )


@q(
    "q_ad_line",
    f"""WITH {BARS_CTE},
    m AS (SELECT symbol, time, event_id,
            COALESCE({MFVQ}, 0) AS mfvq0 FROM bars)
    SELECT symbol, time, event_id,
      CAST(SUM(mfvq0) OVER ({KW}
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
            / 1000000.0 AS ad_line
    FROM m""",
)
def q_ad_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accumulation/Distribution line: exact integer running sum of
    quantized money-flow volume — operators/windows.with_ad_line."""
    from ..operators.windows import with_ad_line

    return with_ad_line(bars(spark, sf_dir)).select(
        "symbol", "time", "event_id", "ad_line"
    )


@q(
    "q_ultimate",
    f"""WITH {BARS_CTE},
    d AS (SELECT symbol, time, event_id,
            CASE WHEN LAG(close) OVER ({KW}) IS NOT NULL THEN
              CAST(ROUND((close - LEAST(low, LAG(close) OVER ({KW})))
                   * 1000000.0, 0) AS BIGINT) END AS bpq,
            CASE WHEN LAG(close) OVER ({KW}) IS NOT NULL THEN
              CAST(ROUND((GREATEST(high, LAG(close) OVER ({KW}))
                          - LEAST(low, LAG(close) OVER ({KW})))
                   * 1000000.0, 0) AS BIGINT) END AS trq
          FROM bars),
    l AS (SELECT symbol, time, event_id,
            CAST(SUM(bpq) OVER w1 AS DOUBLE)
              / NULLIF(CAST(SUM(trq) OVER w1 AS DOUBLE), 0.0) AS a1,
            CAST(SUM(bpq) OVER w2 AS DOUBLE)
              / NULLIF(CAST(SUM(trq) OVER w2 AS DOUBLE), 0.0) AS a2,
            CAST(SUM(bpq) OVER w3 AS DOUBLE)
              / NULLIF(CAST(SUM(trq) OVER w3 AS DOUBLE), 0.0) AS a3,
            COUNT(bpq) OVER w3 AS cnt
          FROM d
          WINDOW w1 AS ({KW} ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
                 w2 AS ({KW} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
                 w3 AS ({KW} ROWS BETWEEN 27 PRECEDING AND CURRENT ROW))
    SELECT symbol, time, event_id,
      CASE WHEN cnt >= 28
           THEN ROUND(100.0 * (4.0 * a1 + 2.0 * a2 + a3) / 7.0, 4)
      END AS uo_7_14_28
    FROM l""",
)
def q_ultimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ultimate Oscillator(7,14,28): three-horizon buying-pressure /
    true-range ratios, quantized sums — operators/windows.with_ultimate."""
    from ..operators.windows import with_ultimate

    return with_ultimate(bars(spark, sf_dir)).select(
        "symbol", "time", "event_id", "uo_7_14_28"
    )


@q(
    "q_aroon",
    f"""WITH {BARS_CTE},
    b AS (SELECT symbol, time, event_id, high, low, close,
            ROW_NUMBER() OVER ({KW}) AS rn FROM bars),
    l AS (SELECT symbol, time, event_id, rn,
            (MAX({{'h': high, 'rn': rn}}) OVER w).rn AS hi_rn,
            -((MIN({{'l': low, 'nrn': -rn}}) OVER w).nrn) AS lo_rn,
            COUNT(close) OVER w AS cnt
          FROM b WINDOW w AS ({KW} ROWS BETWEEN 24 PRECEDING AND CURRENT ROW))
    SELECT symbol, time, event_id,
      CASE WHEN cnt >= 25
           THEN ROUND(100.0 * (24.0 - (rn - hi_rn)) / 24.0, 4)
      END AS aroon_up_25,
      CASE WHEN cnt >= 25
           THEN ROUND(100.0 * (24.0 - (rn - lo_rn)) / 24.0, 4)
      END AS aroon_dn_25
    FROM l""",
)
def q_aroon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aroon(25) up/down: bars-since-extreme via lexicographic struct
    max/min (latest row wins exact ties on both engines) —
    operators/windows.with_aroon."""
    from ..operators.windows import with_aroon

    return with_aroon(bars(spark, sf_dir), 25).select(
        "symbol", "time", "event_id", "aroon_up_25", "aroon_dn_25"
    )


@q(
    "q_keltner",
    f"""WITH RECURSIVE {BARS_CTE},
    base AS (
      SELECT symbol, time, event_id, close,
        ROW_NUMBER() OVER ({KW}) AS rn,
        AVG(close) OVER ({KW} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS sma20,
        CASE WHEN LAG(close) OVER ({KW}) IS NULL THEN high - low
             ELSE GREATEST(high - low,
                           ABS(high - LAG(close) OVER ({KW})),
                           ABS(low - LAG(close) OVER ({KW}))) END AS tr
      FROM bars),
    s AS (SELECT symbol, rn, tr,
            AVG(tr) OVER (PARTITION BY symbol ORDER BY rn
                          ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS atrseed
          FROM base),
    re AS (
      SELECT symbol, rn, sma20 AS ema FROM base WHERE rn = 20
      UNION ALL
      SELECT b.symbol, b.rn, (2.0/21.0) * b.close + (1.0 - 2.0/21.0) * r.ema
      FROM base b JOIN re r ON b.symbol = r.symbol AND b.rn = r.rn + 1),
    ra AS (
      SELECT symbol, rn, atrseed AS atr FROM s WHERE rn = 10
      UNION ALL
      SELECT x.symbol, x.rn, (1.0/10.0) * x.tr + (1.0 - 1.0/10.0) * r.atr
      FROM s x JOIN ra r ON x.symbol = r.symbol AND x.rn = r.rn + 1)
    SELECT b.symbol, b.time, b.event_id,
      ROUND(e.ema, 4) AS kc_mid,
      ROUND(e.ema + 2.0 * a.atr, 4) AS kc_upper,
      ROUND(e.ema - 2.0 * a.atr, 4) AS kc_lower
    FROM base b
    LEFT JOIN re e ON b.symbol = e.symbol AND b.rn = e.rn
    LEFT JOIN ra a ON b.symbol = a.symbol AND b.rn = a.rn""",
)
def q_keltner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keltner Channel(20,10,2): EMA mid ± 2*ATR bands — the EMA/ATR
    composition recurrence, one Arrow pass per key
    (operators/recursive.with_keltner)."""
    from ..operators.recursive import with_keltner

    return with_keltner(bars(spark, sf_dir)).select(
        "symbol", "time", "event_id", "kc_mid", "kc_upper", "kc_lower"
    )


@q(
    "q_holt",
    f"""WITH RECURSIVE {BARS_CTE},
    base AS (
      SELECT symbol, time, event_id, close,
        ROW_NUMBER() OVER ({KW}) AS rn,
        LEAD(close) OVER ({KW}) AS nxt
      FROM bars),
    rec AS (
      SELECT symbol, rn, close AS l, nxt - close AS b FROM base WHERE rn = 1
      UNION ALL
      SELECT x.symbol, x.rn,
        CAST(0.2 AS DOUBLE) * x.close + (1.0 - CAST(0.2 AS DOUBLE)) * (r.l + r.b),
        CAST(0.1 AS DOUBLE)
          * ((CAST(0.2 AS DOUBLE) * x.close
              + (1.0 - CAST(0.2 AS DOUBLE)) * (r.l + r.b)) - r.l)
          + (1.0 - CAST(0.1 AS DOUBLE)) * r.b
      FROM base x JOIN rec r ON x.symbol = r.symbol AND x.rn = r.rn + 1)
    SELECT b.symbol, b.time, b.event_id,
      ROUND(r.l, 4) AS holt_level,
      ROUND(r.b, 4) AS holt_trend,
      ROUND(r.l + r.b, 4) AS holt_fcst
    FROM base b LEFT JOIN rec r ON b.symbol = r.symbol AND b.rn = r.rn""",
)
def q_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (alpha=0.2, beta=0.1): level /
    trend states + one-step forecast, recursive Arrow kernel vs a
    two-state recursive CTE (operators/recursive.with_holt)."""
    from ..operators.recursive import with_holt

    return with_holt(bars(spark, sf_dir)).select(
        "symbol", "time", "event_id", "holt_level", "holt_trend", "holt_fcst"
    )


@q(
    "q_force_index",
    f"""WITH RECURSIVE {BARS_CTE},
    t AS (SELECT symbol, time, event_id,
            ROW_NUMBER() OVER ({KW}) AS rn,
            (close - LAG(close) OVER ({KW})) * volume AS fi
          FROM bars),
    s AS (SELECT symbol, time, event_id, rn, fi,
            AVG(fi) OVER (PARTITION BY symbol ORDER BY rn
                          ROWS BETWEEN 12 PRECEDING AND CURRENT ROW) AS seed
          FROM t),
    rec AS (
      SELECT symbol, rn, seed AS e FROM s WHERE rn = 14
      UNION ALL
      SELECT x.symbol, x.rn, (2.0/14.0) * x.fi + (1.0 - 2.0/14.0) * r.e
      FROM s x JOIN rec r ON x.symbol = r.symbol AND x.rn = r.rn + 1)
    SELECT s.symbol, s.time, s.event_id, ROUND(r.e, 4) AS efi_13
    FROM s LEFT JOIN rec r ON s.symbol = r.symbol AND s.rn = r.rn""",
)
def q_force_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elder Force Index(13): EMA of price-change*volume, SMA-seeded
    over the first 13 deltas (rows 2-14) —
    operators/recursive.with_force_index."""
    from ..operators.recursive import with_force_index

    return with_force_index(bars(spark, sf_dir)).select(
        "symbol", "time", "event_id", "efi_13"
    )


# ------------------------------------------ r6 state-machine + microstructure


@q(
    "q_trix",
    f"""WITH RECURSIVE {BARS_CTE},
    base AS (
      SELECT symbol, time, event_id, close,
        ROW_NUMBER() OVER ({KW}) AS rn,
        AVG(close) OVER ({KW} ROWS BETWEEN 8 PRECEDING AND CURRENT ROW) AS sma9
      FROM bars),
    r1 AS (
      SELECT symbol, rn, sma9 AS e FROM base WHERE rn = 9
      UNION ALL
      SELECT b.symbol, b.rn, (2.0/10.0) * b.close + (1.0 - 2.0/10.0) * r.e
      FROM base b JOIN r1 r ON b.symbol = r.symbol AND b.rn = r.rn + 1),
    s2 AS MATERIALIZED (SELECT symbol, rn, e,
             AVG(e) OVER (PARTITION BY symbol ORDER BY rn
                          ROWS BETWEEN 8 PRECEDING AND CURRENT ROW) AS seed2
           FROM r1),
    r2 AS (
      SELECT symbol, rn, seed2 AS e FROM s2 WHERE rn = 17
      UNION ALL
      SELECT x.symbol, x.rn, (2.0/10.0) * x.e + (1.0 - 2.0/10.0) * r.e
      FROM s2 x JOIN r2 r ON x.symbol = r.symbol AND x.rn = r.rn + 1),
    s3 AS MATERIALIZED (SELECT symbol, rn, e,
             AVG(e) OVER (PARTITION BY symbol ORDER BY rn
                          ROWS BETWEEN 8 PRECEDING AND CURRENT ROW) AS seed3
           FROM r2),
    r3 AS (
      SELECT symbol, rn, seed3 AS e FROM s3 WHERE rn = 25
      UNION ALL
      SELECT x.symbol, x.rn, (2.0/10.0) * x.e + (1.0 - 2.0/10.0) * r.e
      FROM s3 x JOIN r3 r ON x.symbol = r.symbol AND x.rn = r.rn + 1),
    t AS (SELECT symbol, rn, e,
            LAG(e) OVER (PARTITION BY symbol ORDER BY rn) AS pe
          FROM r3)
    SELECT b.symbol, b.time, b.event_id,
      CASE WHEN t.pe IS NOT NULL AND t.pe <> 0
           THEN ROUND(100.0 * (t.e / t.pe - 1.0), 4) END AS trix_9
    FROM base b LEFT JOIN t ON b.symbol = t.symbol AND b.rn = t.rn""",
)
def q_trix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIX(9): triple-smoothed EMA rate of change — three CHAINED
    recursions, each SMA-seeded on the previous stage's first nine
    outputs (operators/recursive.with_trix)."""
    from ..operators.recursive import with_trix

    return with_trix(bars(spark, sf_dir), 9).select(
        "symbol", "time", "event_id", "trix_9"
    )


@q(
    "q_supertrend",
    f"""WITH RECURSIVE {BARS_CTE},
    base AS (
      SELECT symbol, time, event_id, close,
        (high + low) / 2.0 AS hl2,
        ROW_NUMBER() OVER ({KW}) AS rn,
        LAG(close) OVER ({KW}) AS pclose,
        CASE WHEN LAG(close) OVER ({KW}) IS NULL THEN high - low
             ELSE GREATEST(high - low,
                           ABS(high - LAG(close) OVER ({KW})),
                           ABS(low - LAG(close) OVER ({KW}))) END AS tr
      FROM bars),
    s AS (SELECT symbol, rn, tr,
            AVG(tr) OVER (PARTITION BY symbol ORDER BY rn
                          ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS atrseed
          FROM base),
    ra AS (
      SELECT symbol, rn, atrseed AS atr FROM s WHERE rn = 10
      UNION ALL
      SELECT x.symbol, x.rn, (1.0/10.0) * x.tr + (1.0 - 1.0/10.0) * r.atr
      FROM s x JOIN ra r ON x.symbol = r.symbol AND x.rn = r.rn + 1),
    bl AS MATERIALIZED (SELECT b.symbol, b.rn, b.close, b.pclose,
             b.hl2 + 3.0 * ra.atr AS ub, b.hl2 - 3.0 * ra.atr AS lb
           FROM base b JOIN ra ON b.symbol = ra.symbol AND b.rn = ra.rn),
    rec AS (
      SELECT symbol, rn, ub AS fub, lb AS flb, CAST(1.0 AS DOUBLE) AS dir
      FROM bl WHERE rn = 10
      UNION ALL
      SELECT x.symbol, x.rn,
        CASE WHEN x.ub < r.fub OR x.pclose > r.fub THEN x.ub ELSE r.fub END,
        CASE WHEN x.lb > r.flb OR x.pclose < r.flb THEN x.lb ELSE r.flb END,
        CASE WHEN x.close >
               (CASE WHEN x.ub < r.fub OR x.pclose > r.fub
                     THEN x.ub ELSE r.fub END)
             THEN CAST(1.0 AS DOUBLE)
             WHEN x.close <
               (CASE WHEN x.lb > r.flb OR x.pclose < r.flb
                     THEN x.lb ELSE r.flb END)
             THEN CAST(-1.0 AS DOUBLE)
             ELSE r.dir END
      FROM bl x JOIN rec r ON x.symbol = r.symbol AND x.rn = r.rn + 1)
    SELECT b.symbol, b.time, b.event_id,
      ROUND(CASE WHEN rec.dir = 1.0 THEN rec.flb ELSE rec.fub END, 4)
        AS supertrend,
      ROUND(rec.dir, 4) AS st_dir
    FROM base b LEFT JOIN rec ON b.symbol = rec.symbol AND b.rn = rec.rn""",
)
def q_supertrend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supertrend(10, 3): ratcheted ATR bands + direction — the
    conditional-state recurrence, branch decisions on bit-identical
    doubles (operators/recursive.with_supertrend)."""
    from ..operators.recursive import with_supertrend

    return with_supertrend(bars(spark, sf_dir), 10, 3.0).select(
        "symbol", "time", "event_id", "supertrend", "st_dir"
    )


@q(
    "q_amihud",
    f"""WITH {BARS_CTE},
    g AS (SELECT symbol, CAST(time AS DATE) AS day, AVG(close) AS close_d,
            SUM(CAST(ROUND(close * volume * 100.0, 0) AS BIGINT)) AS dvq
          FROM bars GROUP BY symbol, CAST(time AS DATE)),
    r AS (SELECT symbol, day, dvq,
            CASE WHEN LAG(close_d) OVER w > 0 AND close_d > 0
                 THEN ROUND(LN(close_d / LAG(close_d) OVER w), 6) END AS r
          FROM g WINDOW w AS (PARTITION BY symbol ORDER BY day)),
    f AS (SELECT symbol,
            CAST(ROUND(ABS(r) * 1000000.0 / (CAST(dvq AS DOUBLE) / 100.0)
                       * 1000000.0, 0) AS BIGINT) AS rq
          FROM r WHERE r IS NOT NULL AND dvq > 0)
    SELECT symbol, COUNT(*) AS n_days,
      FLOOR(CAST(SUM(rq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) / 1000000.0
        AS amihud_e6
    FROM f GROUP BY symbol HAVING COUNT(*) >= 15""",
)
def q_amihud(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amihud illiquidity (|ret|/dollar-volume, x1e6) per symbol —
    operators/analytics.amihud_illiquidity."""
    return AN.amihud_illiquidity(bars(spark, sf_dir), min_days=15)


@q(
    "q_roll_spread",
    f"""WITH {BARS_CTE},
    d AS (SELECT symbol, CAST(time AS DATE) AS day,
            ROUND(AVG(close), 6) AS close_d
          FROM bars GROUP BY symbol, CAST(time AS DATE)),
    x AS (SELECT symbol, day,
            CAST(ROUND((close_d - LAG(close_d) OVER w) * 10000.0, 0)
                 AS BIGINT) AS x
          FROM d WINDOW w AS (PARTITION BY symbol ORDER BY day)),
    p AS (SELECT symbol, x,
            LAG(x) OVER (PARTITION BY symbol ORDER BY day) AS y
          FROM x),
    m AS (SELECT symbol, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
            SUM(x * y) AS sxy
          FROM p WHERE x IS NOT NULL AND y IS NOT NULL GROUP BY symbol),
    c AS (SELECT symbol, n,
            (CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
            / (CAST(n AS DOUBLE) - 1.0) AS cov
          FROM m WHERE n >= 15)
    SELECT symbol, n AS n_days,
      CASE WHEN cov < 0
           THEN ROUND(2.0 * SQRT(-cov) / 10000.0, 6) END AS roll_spread
    FROM c""",
)
def q_roll_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roll implied spread from serial covariance of daily price
    changes — operators/analytics.roll_spread."""
    return AN.roll_spread(bars(spark, sf_dir), min_days=15)


@q(
    "q_holt_eval",
    f"""WITH RECURSIVE {BARS_CTE},
    base AS (
      SELECT symbol, time, event_id, close,
        ROW_NUMBER() OVER ({KW}) AS rn,
        LEAD(close) OVER ({KW}) AS nxt
      FROM bars),
    rec AS (
      SELECT symbol, rn, close AS l, nxt - close AS b FROM base WHERE rn = 1
      UNION ALL
      SELECT x.symbol, x.rn,
        CAST(0.2 AS DOUBLE) * x.close + (1.0 - CAST(0.2 AS DOUBLE)) * (r.l + r.b),
        CAST(0.1 AS DOUBLE)
          * ((CAST(0.2 AS DOUBLE) * x.close
              + (1.0 - CAST(0.2 AS DOUBLE)) * (r.l + r.b)) - r.l)
          + (1.0 - CAST(0.1 AS DOUBLE)) * r.b
      FROM base x JOIN rec r ON x.symbol = r.symbol AND x.rn = r.rn + 1),
    f AS (SELECT b.symbol, b.nxt, ROUND(r.l + r.b, 4) AS fcst
          FROM base b JOIN rec r ON b.symbol = r.symbol AND b.rn = r.rn
          WHERE b.nxt IS NOT NULL AND r.l IS NOT NULL AND r.b IS NOT NULL),
    e AS (SELECT symbol,
            CAST(ROUND(ABS(nxt - fcst) * 1000000.0, 0) AS BIGINT) AS aq,
            CAST(ROUND((nxt - fcst) * 1000000.0, 0) AS BIGINT) AS sq
          FROM f)
    SELECT symbol, COUNT(*) AS n_preds,
      FLOOR(CAST(SUM(aq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) / 1000000.0
        AS mae,
      FLOOR(CAST(SUM(sq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) / 1000000.0
        AS bias
    FROM e GROUP BY symbol HAVING COUNT(*) >= 30""",
)
def q_holt_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward MAE + bias of the Holt one-step forecast per
    symbol — operators/analytics.holt_forecast_eval."""
    return AN.holt_forecast_eval(bars(spark, sf_dir), min_rows=30)


@q(
    "q_kalman",
    f"""WITH RECURSIVE {BARS_CTE},
    base AS (SELECT symbol, time, event_id, close,
               ROW_NUMBER() OVER ({KW}) AS rn FROM bars),
    rec AS (
      SELECT symbol, rn, close AS x, CAST(1.0 AS DOUBLE) AS p,
             CAST(NULL AS DOUBLE) AS k
      FROM base WHERE rn = 1
      UNION ALL
      SELECT b.symbol, b.rn,
        r.x + ((r.p + CAST(0.01 AS DOUBLE))
               / ((r.p + CAST(0.01 AS DOUBLE)) + 1.0)) * (b.close - r.x),
        (1.0 - ((r.p + CAST(0.01 AS DOUBLE))
                / ((r.p + CAST(0.01 AS DOUBLE)) + 1.0)))
          * (r.p + CAST(0.01 AS DOUBLE)),
        (r.p + CAST(0.01 AS DOUBLE)) / ((r.p + CAST(0.01 AS DOUBLE)) + 1.0)
      FROM base b JOIN rec r ON b.symbol = r.symbol AND b.rn = r.rn + 1)
    SELECT b.symbol, b.time, b.event_id,
      ROUND(r.x, 4) AS kalman_x, ROUND(r.k, 4) AS kalman_gain
    FROM base b LEFT JOIN rec r ON b.symbol = r.symbol AND b.rn = r.rn""",
)
def q_kalman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-level Kalman filter (Q=0.01, R=1): filtered close + gain —
    the uncertainty-adaptive smoother, two-state recursion
    (operators/recursive.with_kalman)."""
    from ..operators.recursive import with_kalman

    return with_kalman(bars(spark, sf_dir)).select(
        "symbol", "time", "event_id", "kalman_x", "kalman_gain"
    )


@q(
    "q_ols_trend",
    f"""WITH {BARS_CTE},
    d AS (SELECT symbol, CAST(time AS DATE) AS day,
            ROUND(AVG(close), 6) AS close_d
          FROM bars GROUP BY symbol, CAST(time AS DATE)),
    x AS (SELECT symbol,
            ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY day) AS x,
            CAST(ROUND(close_d * 10000.0, 0) AS BIGINT) AS yq
          FROM d),
    m AS (SELECT symbol, COUNT(*) AS n, SUM(x) AS sx, SUM(x*x) AS sxx,
            SUM(yq) AS sy, SUM(x*yq) AS sxy, SUM(yq*yq) AS syy
          FROM x GROUP BY symbol),
    c AS (SELECT symbol, n,
            CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE) AS num,
            CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) AS denx,
            CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE) AS deny,
            CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
            CAST(n AS DOUBLE) AS nd
          FROM m WHERE n >= 15)
    SELECT symbol, n AS n_days,
      ROUND((num / NULLIF(denx, 0.0)) / 10000.0, 6) AS slope,
      ROUND(((syd - (num / NULLIF(denx, 0.0)) * sxd) / nd) / 10000.0, 6)
        AS intercept,
      ROUND((num * num) / NULLIF(denx * deny, 0.0), 6) AS r2
    FROM c""",
)
def q_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol OLS linear trend of daily close on day index: slope,
    intercept, R² from exact integer regression moments —
    operators/analytics.ols_trend."""
    return AN.ols_trend(bars(spark, sf_dir), min_days=15)


@q(
    "q_dow_returns",
    f"""WITH {BARS_CTE},
    {DAILY_RET},
    v AS (SELECT CAST(isodow(day) AS INTEGER) AS dow,
            CAST(ROUND(r * 1000000.0, 0) AS BIGINT) AS rq
          FROM r WHERE r IS NOT NULL),
    m AS (SELECT dow, COUNT(*) AS n_obs, SUM(rq) AS s1, SUM(rq*rq) AS s2
          FROM v GROUP BY dow)
    SELECT dow, n_obs,
      FLOOR(CAST(s1 AS DOUBLE) / CAST(n_obs AS DOUBLE)) / 1000000.0
        AS mean_ret,
      ROUND(SQRT((CAST(n_obs AS DOUBLE)*CAST(s2 AS DOUBLE)
                  - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE))
                 / (CAST(n_obs AS DOUBLE)*(CAST(n_obs AS DOUBLE)-1.0)))
            / 1000000.0, 6) AS sd_ret
    FROM m""",
)
def q_dow_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week return seasonality (ISO weekday) across the corpus —
    operators/analytics.dow_seasonality."""
    return AN.dow_seasonality(bars(spark, sf_dir))


@q(
    "q_leadlag",
    f"""WITH {BARS_CTE},
    {DAILY_RET},
    rr AS (SELECT symbol, day, r FROM r
           WHERE r IS NOT NULL AND symbol < 20),
    l AS (SELECT CAST(range AS INTEGER) AS lag FROM range(-2, 3)),
    g AS (SELECT a.symbol AS symbol_a, b.symbol AS symbol_b, l.lag,
            COUNT(*) AS n_days, ROUND(CORR(a.r, b.r), 4) AS corr_r
          FROM rr a CROSS JOIN l
          JOIN rr b ON a.symbol < b.symbol AND b.day = a.day + l.lag
          GROUP BY a.symbol, b.symbol, l.lag
          HAVING COUNT(*) >= 15 AND CORR(a.r, b.r) IS NOT NULL),
    rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY symbol_a, symbol_b
             ORDER BY corr_r DESC, lag ASC) AS rk FROM g)
    SELECT symbol_a, symbol_b, lag AS best_lag, corr_r AS best_corr, n_days
    FROM rk WHERE rk = 1""",
)
def q_leadlag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag screen: argmax over lags in [-2,2] of day-shifted return
    correlation per basket pair, ranked on the ROUNDED correlation —
    operators/analytics.leadlag_best."""
    return AN.leadlag_best(bars(spark, sf_dir), basket_max_symbol=20, max_lag=2)


@q(
    "q_portfolio_nav",
    f"""WITH {BARS_CTE},
    {DAILY_RET},
    rr AS (SELECT symbol, day, CAST(ROUND(r * 1000000.0, 0) AS BIGINT) AS rq
           FROM r WHERE r IS NOT NULL AND symbol < 50),
    mom AS (SELECT symbol, COUNT(*) AS n, SUM(rq) AS s1, SUM(rq*rq) AS s2
            FROM rr GROUP BY symbol HAVING COUNT(*) >= 2),
    vol AS (SELECT symbol,
              ROUND(SQRT((CAST(n AS DOUBLE)*CAST(s2 AS DOUBLE)
                          - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE))
                         / (CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)-1.0)))
                    / 1000000.0, 6) AS vol
            FROM mom),
    vv AS (SELECT symbol, vol FROM vol WHERE vol IS NOT NULL AND vol > 0),
    inv AS (SELECT symbol, CAST(ROUND(1000000.0 / vol, 0) AS BIGINT) AS invq
            FROM vv),
    tot AS (SELECT SUM(invq) AS tinv FROM inv),
    w AS (SELECT symbol,
            CAST(ROUND(CAST(invq AS DOUBLE) * 1000000.0
                       / CAST(tinv AS DOUBLE), 0) AS BIGINT) AS wq
          FROM inv, tot),
    dj AS (SELECT rr.day, SUM(w.wq * rr.rq) AS pq, COUNT(*) AS n_symbols
           FROM rr JOIN w ON rr.symbol = w.symbol GROUP BY rr.day),
    dd AS (SELECT day, n_symbols,
             CAST(pq AS DOUBLE) / 1000000000000.0 AS port_ret,
             CAST(ROUND(LN(1.0 + CAST(pq AS DOUBLE) / 1000000000000.0)
                        * 1000000.0, 0) AS BIGINT) AS lq
           FROM dj)
    SELECT CAST(day AS TIMESTAMP) AS day, n_symbols,
      ROUND(port_ret, 6) AS port_ret,
      ROUND(EXP(CAST(SUM(lq) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                / 1000000.0), 4) AS nav
    FROM dd""",
)
def q_portfolio_nav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-vol weighted basket: daily portfolio return + compounded
    NAV, every accumulation exact-integer —
    operators/analytics.portfolio_nav."""
    return AN.portfolio_nav(bars(spark, sf_dir), basket_max_symbol=50)


@q(
    "q_garch",
    f"""WITH RECURSIVE {BARS_CTE},
    {DAILY_RET},
    rr AS (SELECT symbol, day, r,
             ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY day) AS rn
           FROM r),
    rec AS (
      SELECT symbol, day, rn, r * r AS v, r FROM rr WHERE rn = 1
      UNION ALL
      SELECT b.symbol, b.day, b.rn,
        CAST(0.000001 AS DOUBLE)
          + CAST(0.09 AS DOUBLE) * (rec.r * rec.r)
          + CAST(0.9 AS DOUBLE) * rec.v,
        b.r
      FROM rr b JOIN rec ON b.symbol = rec.symbol AND b.rn = rec.rn + 1)
    SELECT symbol, CAST(day AS TIMESTAMP) AS day,
      ROUND(SQRT(v), 6) AS garch_vol
    FROM rec""",
)
def q_garch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GARCH(1,1) conditional volatility (omega=1e-6, alpha=0.09,
    beta=0.9) over daily returns — the previous-shock generalization of
    RiskMetrics EWMA (operators/analytics.garch_volatility)."""
    return AN.garch_volatility(bars(spark, sf_dir))


@q(
    "q_candle_patterns",
    f"""WITH {BARS_CTE},
    b1 AS (SELECT symbol, time, event_id, high, low, close,
             LAG(close) OVER ({KW}) AS open
           FROM bars),
    b2 AS (SELECT * FROM b1 WHERE open IS NOT NULL),
    p AS (SELECT symbol, time, event_id, open, close,
            ABS(close - open) AS body, high - low AS rng,
            LEAST(open, close) - low AS lwick,
            high - GREATEST(open, close) AS uwick,
            LAG(open) OVER ({KW}) AS po, LAG(close) OVER ({KW}) AS pc
          FROM b2)
    SELECT symbol, time, event_id,
      (body * 10.0 <= rng) AS is_doji,
      (lwick >= 2.0 * body AND uwick <= body AND body > 0) AS is_hammer,
      COALESCE(pc < po AND close > open AND open <= pc AND close >= po,
               FALSE) AS bull_engulf,
      COALESCE(pc > po AND close < open AND open >= pc AND close <= po,
               FALSE) AS bear_engulf
    FROM p""",
)
def q_candle_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candlestick pattern flags (doji / hammer / engulfing) over
    tick-chain bars (open := previous close — the synthetic feed has
    open==close, which would make every bar a doji) —
    operators/windows.with_candle_patterns."""
    from pyspark.sql import functions as F

    from ..operators.windows import by_key, with_candle_patterns

    b = bars(spark, sf_dir).withColumn(
        "open", F.lag("close").over(by_key())
    ).filter(F.col("open").isNotNull())
    return with_candle_patterns(b).select(
        "symbol", "time", "event_id",
        "is_doji", "is_hammer", "bull_engulf", "bear_engulf",
    )


@q(
    "q_fractals",
    f"""WITH {BARS_CTE},
    l AS (SELECT symbol, time, event_id, high, low,
            COUNT(*) OVER w AS cnt,
            MAX(high) OVER w AS hh, MIN(low) OVER w AS ll,
            len(list_filter(list(high) OVER w, x -> x = high)) AS n_hh,
            len(list_filter(list(low) OVER w, x -> x = low)) AS n_ll
          FROM bars
          WINDOW w AS ({KW} ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING))
    SELECT symbol, time, event_id,
      (cnt = 5 AND high = hh AND n_hh = 1) AS swing_high,
      (cnt = 5 AND low = ll AND n_ll = 1) AS swing_low
    FROM l""",
)
def q_fractals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Williams fractal swing highs/lows (±2-row strict extremes,
    complete neighborhoods only) — the look-ahead labeling feature —
    operators/windows.with_fractals."""
    from ..operators.windows import with_fractals

    return with_fractals(bars(spark, sf_dir), 2).select(
        "symbol", "time", "event_id", "swing_high", "swing_low"
    )


@q(
    "q_backtest_ma",
    f"""WITH {BARS_CTE},
    d0 AS (SELECT symbol, CAST(time AS DATE) AS day,
             ROUND(AVG(close), 6) AS close_d
           FROM bars GROUP BY symbol, CAST(time AS DATE)),
    d1 AS (SELECT symbol, day, close_d,
             CAST(ROUND(close_d * 1000000.0, 0) AS BIGINT) AS cq,
             LAG(close_d) OVER w AS prev
           FROM d0 WINDOW w AS (PARTITION BY symbol ORDER BY day)),
    d2 AS (SELECT symbol, day, cq,
             CASE WHEN prev > 0 AND close_d > 0
                  THEN CAST(ROUND(ROUND(LN(close_d / prev), 6)
                       * 1000000.0, 0) AS BIGINT) END AS rq,
             CAST(SUM(cq) OVER wf AS DOUBLE) / 3.0 AS sf,
             CAST(SUM(cq) OVER ws AS DOUBLE) / 10.0 AS ss,
             COUNT(cq) OVER ws AS cnt
           FROM d1
           WINDOW wf AS (PARTITION BY symbol ORDER BY day
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
                  ws AS (PARTITION BY symbol ORDER BY day
                         ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)),
    d3 AS (SELECT symbol, day, rq,
             LAG(CASE WHEN cnt < 10 THEN NULL
                      WHEN sf > ss THEN 1 WHEN sf < ss THEN -1
                      ELSE 0 END)
               OVER (PARTITION BY symbol ORDER BY day) AS pos
           FROM d2),
    t AS (SELECT symbol, pos, CAST(pos AS BIGINT) * rq AS sq
          FROM d3 WHERE pos IS NOT NULL AND rq IS NOT NULL),
    m AS (SELECT symbol, COUNT(*) AS n_days, SUM(sq) AS s1,
            SUM(sq * sq) AS s2,
            SUM(CASE WHEN sq > 0 THEN 1 ELSE 0 END) AS wins,
            SUM(CASE WHEN pos <> 0 THEN 1 ELSE 0 END) AS active
          FROM t GROUP BY symbol HAVING COUNT(*) >= 5)
    SELECT symbol, n_days,
      CAST(s1 AS DOUBLE) / 1000000.0 AS total_ret,
      ROUND(CAST(wins AS DOUBLE)
            / NULLIF(CAST(active AS DOUBLE), 0.0), 6) AS hit_rate,
      CASE WHEN (CAST(n_days AS DOUBLE)*CAST(s2 AS DOUBLE)
                 - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE))
                / (CAST(n_days AS DOUBLE)*(CAST(n_days AS DOUBLE)-1.0)) > 0
           THEN ROUND((CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE))
                / SQRT((CAST(n_days AS DOUBLE)*CAST(s2 AS DOUBLE)
                        - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE))
                       / (CAST(n_days AS DOUBLE)*(CAST(n_days AS DOUBLE)-1.0)))
                * SQRT(252.0), 4) END AS sharpe_ann
    FROM m""",
)
def q_backtest_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MA-crossover backtest (3/10, next-day execution): per-symbol
    total return, hit rate, annualized Sharpe — the signal→position→
    PnL composition, exact integers end to end
    (operators/analytics.backtest_ma_cross)."""
    return AN.backtest_ma_cross(bars(spark, sf_dir), 3, 10, min_days=5)


@q(
    "q_vortex",
    f"""WITH {BARS_CTE},
    base AS (
      SELECT symbol, time, event_id,
        LAG(close) OVER ({KW}) AS pc,
        LAG(high) OVER ({KW}) AS ph,
        LAG(low) OVER ({KW}) AS pl,
        high, low
      FROM bars),
    qd AS (
      SELECT symbol, time, event_id,
        CASE WHEN pc IS NOT NULL THEN
          CAST(ROUND(GREATEST(high - low, ABS(high - pc), ABS(low - pc))
                     * 1000000.0, 0) AS BIGINT) END AS trq,
        CASE WHEN pc IS NOT NULL THEN
          CAST(ROUND(ABS(high - pl) * 1000000.0, 0) AS BIGINT) END AS vpq,
        CASE WHEN pc IS NOT NULL THEN
          CAST(ROUND(ABS(low - ph) * 1000000.0, 0) AS BIGINT) END AS vmq
      FROM base)
    SELECT symbol, time, event_id,
      CASE WHEN COUNT(trq) OVER w14 >= 14 THEN
        ROUND(CAST(SUM(vpq) OVER w14 AS DOUBLE)
              / NULLIF(CAST(SUM(trq) OVER w14 AS DOUBLE), 0.0), 6) END
        AS vi_plus,
      CASE WHEN COUNT(trq) OVER w14 >= 14 THEN
        ROUND(CAST(SUM(vmq) OVER w14 AS DOUBLE)
              / NULLIF(CAST(SUM(trq) OVER w14 AS DOUBLE), 0.0), 6) END
        AS vi_minus
    FROM qd
    WINDOW w14 AS ({KW} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)""",
)
def q_vortex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vortex VI+/VI−(14): micro-quantized trend-movement/TR window sums
    (operators/windows.with_vortex)."""
    from ..operators.windows import with_vortex

    return with_vortex(bars(spark, sf_dir), 14).select(
        "symbol", "time", "event_id", "vi_plus", "vi_minus"
    )


@q(
    "q_psar",
    f"""WITH RECURSIVE {BARS_CTE},
    base AS (
      SELECT symbol, time, event_id, high, low, close,
        ROW_NUMBER() OVER ({KW}) AS rn,
        LAG(close) OVER ({KW}) AS pclose,
        LAG(high) OVER ({KW}) AS phi1,
        LAG(high, 2) OVER ({KW}) AS phi2,
        LAG(low) OVER ({KW}) AS plo1,
        LAG(low, 2) OVER ({KW}) AS plo2
      FROM bars),
    bl AS MATERIALIZED (SELECT * FROM base),
    rec AS (
      SELECT symbol, rn,
        CASE WHEN close >= pclose THEN LEAST(plo1, low)
             ELSE GREATEST(phi1, high) END AS sar,
        CASE WHEN close >= pclose THEN GREATEST(phi1, high)
             ELSE LEAST(plo1, low) END AS ep,
        CAST(0.02 AS DOUBLE) AS af,
        close >= pclose AS up
      FROM bl WHERE rn = 2
      UNION ALL
      SELECT x.symbol, x.rn,
        -- reversal -> SAR := EP ; else clamped prediction
        CASE WHEN (CASE WHEN r.up
                   THEN x.low < LEAST(r.sar + r.af * (r.ep - r.sar),
                                      x.plo1, x.plo2)
                   ELSE x.high > GREATEST(r.sar + r.af * (r.ep - r.sar),
                                          x.phi1, x.phi2) END)
             THEN r.ep
             ELSE (CASE WHEN r.up
                   THEN LEAST(r.sar + r.af * (r.ep - r.sar), x.plo1, x.plo2)
                   ELSE GREATEST(r.sar + r.af * (r.ep - r.sar),
                                 x.phi1, x.phi2) END) END,
        CASE WHEN (CASE WHEN r.up
                   THEN x.low < LEAST(r.sar + r.af * (r.ep - r.sar),
                                      x.plo1, x.plo2)
                   ELSE x.high > GREATEST(r.sar + r.af * (r.ep - r.sar),
                                          x.phi1, x.phi2) END)
             THEN (CASE WHEN r.up THEN x.low ELSE x.high END)
             ELSE (CASE WHEN r.up THEN GREATEST(r.ep, x.high)
                        ELSE LEAST(r.ep, x.low) END) END,
        CASE WHEN (CASE WHEN r.up
                   THEN x.low < LEAST(r.sar + r.af * (r.ep - r.sar),
                                      x.plo1, x.plo2)
                   ELSE x.high > GREATEST(r.sar + r.af * (r.ep - r.sar),
                                          x.phi1, x.phi2) END)
             THEN CAST(0.02 AS DOUBLE)
             WHEN (r.up AND x.high > r.ep) OR ((NOT r.up) AND x.low < r.ep)
             THEN LEAST(r.af + CAST(0.02 AS DOUBLE), CAST(0.2 AS DOUBLE))
             ELSE r.af END,
        CASE WHEN (CASE WHEN r.up
                   THEN x.low < LEAST(r.sar + r.af * (r.ep - r.sar),
                                      x.plo1, x.plo2)
                   ELSE x.high > GREATEST(r.sar + r.af * (r.ep - r.sar),
                                          x.phi1, x.phi2) END)
             THEN NOT r.up ELSE r.up END
      FROM bl x JOIN rec r ON x.symbol = r.symbol AND x.rn = r.rn + 1)
    SELECT b.symbol, b.time, b.event_id,
      ROUND(rec.sar, 4) AS psar,
      CASE WHEN rec.up THEN CAST(1.0 AS DOUBLE)
           WHEN NOT rec.up THEN CAST(-1.0 AS DOUBLE) END AS psar_dir
    FROM base b LEFT JOIN rec ON b.symbol = rec.symbol AND b.rn = rec.rn""",
)
def q_psar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parabolic SAR(0.02, 0.2): the acceleration-factor state machine —
    reversal/clamp/ratchet branches on bit-identical doubles
    (operators/recursive.with_psar)."""
    from ..operators.recursive import with_psar

    return with_psar(bars(spark, sf_dir)).select(
        "symbol", "time", "event_id", "psar", "psar_dir"
    )


@q(
    "q_kama",
    f"""WITH RECURSIVE {BARS_CTE},
    base AS (
      SELECT symbol, time, event_id, close,
        ROW_NUMBER() OVER ({KW}) AS rn,
        ROUND(ABS(close - LAG(close) OVER ({KW})) * 1000000.0, 0) AS dq,
        ROUND(ABS(close - LAG(close, 10) OVER ({KW})) * 1000000.0, 0) AS numq
      FROM bars),
    b2 AS MATERIALIZED (
      SELECT symbol, time, event_id, close, rn,
        CASE WHEN SUM(dq) OVER ({KW} ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) > 0
             THEN numq / SUM(dq) OVER ({KW} ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
             ELSE CAST(0.0 AS DOUBLE) END AS er
      FROM base),
    b3 AS MATERIALIZED (
      SELECT symbol, rn, close,
        (er * (CAST(2.0 AS DOUBLE) / 3.0 - CAST(2.0 AS DOUBLE) / 31.0)
         + CAST(2.0 AS DOUBLE) / 31.0)
        * (er * (CAST(2.0 AS DOUBLE) / 3.0 - CAST(2.0 AS DOUBLE) / 31.0)
           + CAST(2.0 AS DOUBLE) / 31.0) AS sc
      FROM b2),
    rk AS (
      SELECT symbol, rn, close AS kama FROM b3 WHERE rn = 11
      UNION ALL
      SELECT x.symbol, x.rn, r.kama + x.sc * (x.close - r.kama)
      FROM b3 x JOIN rk r ON x.symbol = r.symbol AND x.rn = r.rn + 1)
    SELECT b.symbol, b.time, b.event_id, ROUND(rk.kama, 4) AS kama_10
    FROM base b LEFT JOIN rk ON b.symbol = rk.symbol AND b.rn = rk.rn""",
)
def q_kama(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAMA(10, 2, 30): efficiency-ratio-adaptive smoother — ER from
    micro-quantized movement sums, seeded at the close
    (operators/recursive.with_kama)."""
    from ..operators.recursive import with_kama

    return with_kama(bars(spark, sf_dir), 10, 2, 30).select(
        "symbol", "time", "event_id", "kama_10"
    )


@q(
    "q_tsi",
    f"""WITH RECURSIVE {BARS_CTE},
    base AS (
      SELECT symbol, time, event_id,
        ROW_NUMBER() OVER ({KW}) AS rn,
        close - LAG(close) OVER ({KW}) AS m,
        ABS(close - LAG(close) OVER ({KW})) AS am
      FROM bars),
    s1 AS (SELECT symbol, rn, m, am,
        AVG(m) OVER (PARTITION BY symbol ORDER BY rn ROWS BETWEEN 24 PRECEDING AND CURRENT ROW) AS seed1,
        AVG(am) OVER (PARTITION BY symbol ORDER BY rn ROWS BETWEEN 24 PRECEDING AND CURRENT ROW) AS seed1a
      FROM base),
    r1 AS (
      SELECT symbol, rn, seed1 AS e FROM s1 WHERE rn = 26
      UNION ALL
      SELECT x.symbol, x.rn, (2.0 / 26.0) * x.m + (1.0 - 2.0 / 26.0) * r.e
      FROM s1 x JOIN r1 r ON x.symbol = r.symbol AND x.rn = r.rn + 1),
    r1a AS (
      SELECT symbol, rn, seed1a AS e FROM s1 WHERE rn = 26
      UNION ALL
      SELECT x.symbol, x.rn, (2.0 / 26.0) * x.am + (1.0 - 2.0 / 26.0) * r.e
      FROM s1 x JOIN r1a r ON x.symbol = r.symbol AND x.rn = r.rn + 1),
    s2 AS MATERIALIZED (SELECT symbol, rn, e,
        AVG(e) OVER (PARTITION BY symbol ORDER BY rn
                     ROWS BETWEEN 12 PRECEDING AND CURRENT ROW) AS seed2
      FROM r1),
    s2a AS MATERIALIZED (SELECT symbol, rn, e,
        AVG(e) OVER (PARTITION BY symbol ORDER BY rn
                     ROWS BETWEEN 12 PRECEDING AND CURRENT ROW) AS seed2a
      FROM r1a),
    r2 AS (
      SELECT symbol, rn, seed2 AS e FROM s2 WHERE rn = 38
      UNION ALL
      SELECT x.symbol, x.rn, (2.0 / 14.0) * x.e + (1.0 - 2.0 / 14.0) * r.e
      FROM s2 x JOIN r2 r ON x.symbol = r.symbol AND x.rn = r.rn + 1),
    r2a AS (
      SELECT symbol, rn, seed2a AS e FROM s2a WHERE rn = 38
      UNION ALL
      SELECT x.symbol, x.rn, (2.0 / 14.0) * x.e + (1.0 - 2.0 / 14.0) * r.e
      FROM s2a x JOIN r2a r ON x.symbol = r.symbol AND x.rn = r.rn + 1)
    SELECT b.symbol, b.time, b.event_id,
      CASE WHEN r2a.e IS NOT NULL AND r2a.e <> 0
           THEN ROUND(100.0 * (r2.e / r2a.e), 4) END AS tsi
    FROM base b
    LEFT JOIN r2 ON b.symbol = r2.symbol AND b.rn = r2.rn
    LEFT JOIN r2a ON b.symbol = r2a.symbol AND b.rn = r2a.rn""",
)
def q_tsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TSI(25, 13): double-smoothed momentum ratio — four chained
    SMA-seeded EMA recursions, TRIX-style stage alignment
    (operators/recursive.with_tsi)."""
    from ..operators.recursive import with_tsi

    return with_tsi(bars(spark, sf_dir), 25, 13).select(
        "symbol", "time", "event_id", "tsi"
    )


@q(
    "q_cusum",
    f"""WITH RECURSIVE {BARS_CTE},
    base AS (
      SELECT symbol, time, event_id, close, ROW_NUMBER() OVER ({KW}) AS rn,
        CASE WHEN LAG(close) OVER ({KW}) > 0 AND close > 0
             THEN ROUND(LN(close / LAG(close) OVER ({KW})) * 100.0, 4)
             ELSE CAST(0.0 AS DOUBLE) END AS r
      FROM bars),
    bl AS MATERIALIZED (SELECT symbol, rn, r FROM base),
    rec AS (
      SELECT symbol, rn,
        GREATEST(CAST(0.0 AS DOUBLE), r - CAST(0.05 AS DOUBLE)) AS sp,
        LEAST(CAST(0.0 AS DOUBLE), r + CAST(0.05 AS DOUBLE)) AS sn
      FROM bl WHERE rn = 1
      UNION ALL
      SELECT x.symbol, x.rn,
        GREATEST(CAST(0.0 AS DOUBLE), r.sp + (x.r - CAST(0.05 AS DOUBLE))),
        LEAST(CAST(0.0 AS DOUBLE), r.sn + (x.r + CAST(0.05 AS DOUBLE)))
      FROM bl x JOIN rec r ON x.symbol = r.symbol AND x.rn = r.rn + 1)
    SELECT b.symbol, b.time, b.event_id,
      ROUND(rec.sp, 4) AS cusum_pos,
      ROUND(rec.sn, 4) AS cusum_neg,
      CASE WHEN rec.sp > CAST(0.5 AS DOUBLE) OR rec.sn < CAST(-0.5 AS DOUBLE)
           THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS cusum_alarm
    FROM base b JOIN rec ON b.symbol = rec.symbol AND b.rn = rec.rn""",
)
def q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM drift detector on 4dp percent log returns —
    round-before-accumulate summands, sequential state identical on
    both engines (operators/recursive.with_cusum)."""
    from ..operators.recursive import with_cusum

    return with_cusum(bars(spark, sf_dir)).select(
        "symbol", "time", "event_id", "cusum_pos", "cusum_neg", "cusum_alarm"
    )


# Exact-integer micro-unit returns derived from DAILY_RET — shared by
# the r6 risk-ratio family (sortino/calmar/info-ratio/omega).
RETQ = """q AS (SELECT symbol, day, CAST(ROUND(r * 1000000.0, 0) AS BIGINT) AS rq
          FROM r)"""


@q(
    "q_sortino",
    f"""WITH {BARS_CTE},
    {DAILY_RET},
    {RETQ},
    m AS (SELECT symbol, COUNT(*) AS n_days, SUM(rq) AS s1,
            SUM(CASE WHEN rq < 0 THEN rq * rq ELSE 0 END) AS d2
          FROM q GROUP BY symbol HAVING COUNT(*) >= 15)
    SELECT symbol, n_days,
      CASE WHEN d2 > 0 THEN ROUND(
        (CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE) / 1000000.0)
        / (SQRT(CAST(d2 AS DOUBLE) / CAST(n_days AS DOUBLE)) / 1000000.0)
        * SQRT(252.0), 4) END AS sortino,
      ROUND(SQRT(CAST(d2 AS DOUBLE) / CAST(n_days AS DOUBLE)) / 1000000.0
            * SQRT(252.0), 6) AS ann_downside_vol
    FROM m""",
)
def q_sortino(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annualized Sortino ratio (target-0 downside deviation, exact
    integer micro moments) — operators/analytics.sortino_ratio."""
    return AN.sortino_ratio(bars(spark, sf_dir), min_days=15)


@q(
    "q_calmar",
    f"""WITH {BARS_CTE},
    {DAILY_RET},
    {RETQ},
    c6 AS (SELECT symbol, day, ROUND(close_d, 6) AS cd6
           FROM (SELECT symbol, CAST(time AS DATE) AS day, AVG(close) AS close_d
                 FROM bars GROUP BY symbol, CAST(time AS DATE))),
    dd AS (SELECT symbol,
             ROUND(cd6 / NULLIF(MAX(cd6) OVER (PARTITION BY symbol ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0)
                   - 1.0, 6) AS dd
           FROM c6),
    mdd AS (SELECT symbol, MIN(dd) AS max_drawdown FROM dd GROUP BY symbol),
    m AS (SELECT symbol, COUNT(*) AS n_days, SUM(rq) AS s1 FROM q
          GROUP BY symbol HAVING COUNT(*) >= 15)
    SELECT m.symbol, m.n_days,
      CAST(s1 AS DOUBLE) * 252.0 / CAST(n_days AS DOUBLE) / 1000000.0
        AS ann_return,
      mdd.max_drawdown,
      CASE WHEN mdd.max_drawdown < 0 THEN
        -(CAST(s1 AS DOUBLE) * 252.0 / CAST(n_days AS DOUBLE) / 1000000.0)
        / mdd.max_drawdown END AS calmar
    FROM m JOIN mdd ON m.symbol = mdd.symbol""",
)
def q_calmar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calmar ratio: annualized return over |max drawdown| of the
    6dp-rounded daily close curve — operators/analytics.calmar_ratio."""
    return AN.calmar_ratio(bars(spark, sf_dir), min_days=15)


@q(
    "q_info_ratio",
    f"""WITH {BARS_CTE},
    d AS (SELECT symbol, CAST(time AS DATE) AS day, AVG(close) AS close_d
          FROM bars WHERE symbol < 50 GROUP BY symbol, CAST(time AS DATE)),
    r AS (SELECT symbol, day,
            CASE WHEN LAG(close_d) OVER (PARTITION BY symbol ORDER BY day) > 0
                      AND close_d > 0
                 THEN ROUND(LN(close_d / LAG(close_d)
                      OVER (PARTITION BY symbol ORDER BY day)), 6) END AS r
          FROM d QUALIFY r IS NOT NULL),
    {RETQ},
    mkt AS (SELECT day,
              CAST(FLOOR(CAST(SUM(rq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
                   AS BIGINT) AS mq
            FROM q GROUP BY day),
    a AS (SELECT q.symbol, q.rq - mkt.mq AS aq FROM q JOIN mkt USING (day)),
    m AS (SELECT symbol, COUNT(*) AS n_days, SUM(aq) AS s1, SUM(aq * aq) AS s2
          FROM a GROUP BY symbol HAVING COUNT(*) >= 15),
    v AS (SELECT symbol, n_days, CAST(s1 AS DOUBLE) AS s1d,
            (CAST(n_days AS DOUBLE) * CAST(s2 AS DOUBLE)
             - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
            / (CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) - 1.0)) AS var
          FROM m)
    SELECT symbol, n_days,
      CASE WHEN var > 0 THEN
        ROUND(s1d / CAST(n_days AS DOUBLE) / SQRT(var) * SQRT(252.0), 4)
      END AS info_ratio,
      CASE WHEN var > 0 THEN
        ROUND(SQRT(var) / 1000000.0 * SQRT(252.0), 6)
      END AS tracking_error
    FROM v""",
)
def q_info_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information ratio vs the equal-weight basket benchmark (exact
    integer active returns) — operators/analytics.info_ratio."""
    return AN.info_ratio(bars(spark, sf_dir), basket_max_symbol=50, min_days=15)


@q(
    "q_omega",
    f"""WITH {BARS_CTE},
    {DAILY_RET},
    {RETQ},
    m AS (SELECT symbol, COUNT(*) AS n_days,
            SUM(CASE WHEN rq > 0 THEN rq ELSE 0 END) AS g,
            SUM(CASE WHEN rq < 0 THEN -rq ELSE 0 END) AS l
          FROM q GROUP BY symbol HAVING COUNT(*) >= 15)
    SELECT symbol, n_days,
      CAST(g AS DOUBLE) / 1000000.0 AS gain_sum,
      CAST(l AS DOUBLE) / 1000000.0 AS loss_sum,
      CASE WHEN l > 0 THEN CAST(g AS DOUBLE) / CAST(l AS DOUBLE) END AS omega
    FROM m""",
)
def q_omega(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Omega ratio at threshold 0 — one unrounded division of two exact
    integer micro sums (operators/analytics.omega_ratio)."""
    return AN.omega_ratio(bars(spark, sf_dir), min_days=15)


@q(
    "q_vratio",
    f"""WITH {BARS_CTE},
    {DAILY_RET},
    {RETQ},
    s AS (SELECT symbol, rq,
            ROW_NUMBER() OVER ws AS rn,
            SUM(rq) OVER (ws ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s2,
            SUM(rq) OVER (ws ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS s5
          FROM q WINDOW ws AS (PARTITION BY symbol ORDER BY day)),
    m AS (SELECT symbol,
            COUNT(rq) AS n1, SUM(rq) AS a1, SUM(rq * rq) AS b1,
            COUNT(CASE WHEN rn >= 2 THEN s2 END) AS n2,
            SUM(CASE WHEN rn >= 2 THEN s2 END) AS a2,
            SUM(CASE WHEN rn >= 2 THEN s2 * s2 END) AS b2,
            COUNT(CASE WHEN rn >= 5 THEN s5 END) AS n5,
            SUM(CASE WHEN rn >= 5 THEN s5 END) AS a5,
            SUM(CASE WHEN rn >= 5 THEN s5 END * CASE WHEN rn >= 5 THEN s5 END) AS b5
          FROM s GROUP BY symbol HAVING COUNT(rq) >= 15),
    v AS (SELECT symbol, n1,
            (CAST(n1 AS DOUBLE) * CAST(b1 AS DOUBLE)
             - CAST(a1 AS DOUBLE) * CAST(a1 AS DOUBLE))
            / (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0)) AS v1,
            (CAST(n2 AS DOUBLE) * CAST(b2 AS DOUBLE)
             - CAST(a2 AS DOUBLE) * CAST(a2 AS DOUBLE))
            / (CAST(n2 AS DOUBLE) * (CAST(n2 AS DOUBLE) - 1.0)) AS v2,
            (CAST(n5 AS DOUBLE) * CAST(b5 AS DOUBLE)
             - CAST(a5 AS DOUBLE) * CAST(a5 AS DOUBLE))
            / (CAST(n5 AS DOUBLE) * (CAST(n5 AS DOUBLE) - 1.0)) AS v5
          FROM m)
    SELECT symbol, n1 AS n_days,
      CASE WHEN v1 > 0 THEN ROUND(v2 / (2.0 * v1), 6) END AS vr_2,
      CASE WHEN v1 > 0 THEN ROUND(v5 / (5.0 * v1), 6) END AS vr_5
    FROM v""",
)
def q_vratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance ratios VR(2)/VR(5) per symbol —
    operators/analytics.variance_ratio."""
    return AN.variance_ratio(bars(spark, sf_dir), min_days=15)


def _hurst_sql(sizes: tuple[int, ...] = (4, 8, 16)) -> str:
    """SQL twin of operators/analytics.hurst_rs — one CTE block per
    chunk size, all moments exact integers (see the operator's parity
    docstring)."""
    blocks, names = [], []
    for n in sizes:
        blocks.append(f"""
    c{n} AS (SELECT symbol, day, rq,
               CAST(FLOOR((rn - 1.0) / {n}.0) AS BIGINT) AS ck,
               ((rn - 1) % {n}) + 1 AS k
             FROM b),
    w{n} AS (SELECT symbol, ck, k,
               COUNT(*) OVER wc AS cnt,
               {n} * SUM(rq) OVER (PARTITION BY symbol, ck ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - k * SUM(rq) OVER wc AS d,
               SUM(rq) OVER wc AS t,
               SUM(rq * rq) OVER wc AS sq2
             FROM c{n} WINDOW wc AS (PARTITION BY symbol, ck)),
    g{n} AS (SELECT symbol, ck, MAX(d) - MIN(d) AS rint,
               MAX({n} * sq2 - t * t) AS denom
             FROM w{n} WHERE cnt = {n} GROUP BY symbol, ck),
    s{n} AS (SELECT symbol, {n} AS n_size,
               CAST(FLOOR(CAST(SUM(rsq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
                    AS BIGINT) AS mrsq
             FROM (SELECT symbol,
                     CAST(ROUND(CAST(rint AS DOUBLE) / SQRT(CAST(denom AS DOUBLE))
                          * 1000000.0, 0) AS BIGINT) AS rsq
                   FROM g{n} WHERE denom > 0)
             GROUP BY symbol)""")
        names.append(f"SELECT * FROM s{n}")
    from .core import BARS_CTE as _B

    return f"""WITH {_B},
    {DAILY_RET},
    {RETQ},
    b AS (SELECT symbol, day, rq,
            ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY day) AS rn
          FROM q),{",".join(blocks)},
    u AS ({" UNION ALL ".join(names)}),
    xy AS (SELECT symbol,
             CAST(ROUND(LN(CAST(n_size AS DOUBLE)) * 10000.0, 0) AS BIGINT) AS xq,
             CAST(ROUND(LN(CAST(mrsq AS DOUBLE) / 1000000.0) * 10000.0, 0)
                  AS BIGINT) AS yq
           FROM u WHERE mrsq > 0),
    m AS (SELECT symbol, COUNT(*) AS n_pts, SUM(xq) AS sx, SUM(yq) AS sy,
            SUM(xq * yq) AS sxy, SUM(xq * xq) AS sxx
          FROM xy GROUP BY symbol)
    SELECT symbol,
      ROUND((CAST(n_pts AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / NULLIF(CAST(n_pts AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0), 4) AS hurst
    FROM m WHERE n_pts = {len(sizes)}"""


@q("q_hurst", _hurst_sql())
def q_hurst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent via R/S analysis over chunk sizes 4/8/16 —
    operators/analytics.hurst_rs."""
    return AN.hurst_rs(bars(spark, sf_dir), sizes=(4, 8, 16))


@q(
    "q_runs_test",
    f"""WITH {BARS_CTE},
    {DAILY_RET},
    {RETQ},
    s AS (SELECT symbol,
            CASE WHEN rq > 0 THEN 1 ELSE 0 END AS sgn,
            LAG(CASE WHEN rq > 0 THEN 1 ELSE 0 END)
              OVER (PARTITION BY symbol ORDER BY day) AS prev
          FROM q WHERE rq <> 0),
    m AS (SELECT symbol, COUNT(*) AS n_days, SUM(sgn) AS a,
            SUM(1 - sgn) AS b,
            1 + SUM(CASE WHEN prev IS NOT NULL AND sgn <> prev THEN 1
                    ELSE 0 END) AS n_runs
          FROM s GROUP BY symbol HAVING COUNT(*) >= 15)
    SELECT symbol, n_days, CAST(a AS BIGINT) AS n_pos, CAST(b AS BIGINT) AS n_neg,
      CAST(n_runs AS BIGINT) AS n_runs,
      CASE WHEN 2.0 * CAST(a AS DOUBLE) * CAST(b AS DOUBLE)
                * (2.0 * CAST(a AS DOUBLE) * CAST(b AS DOUBLE)
                   - CAST(n_days AS DOUBLE))
                / (CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE)
                   * (CAST(n_days AS DOUBLE) - 1.0)) > 0
      THEN ROUND(
        (CAST(n_runs AS DOUBLE)
         - (1.0 + 2.0 * CAST(a AS DOUBLE) * CAST(b AS DOUBLE)
                  / CAST(n_days AS DOUBLE)))
        / SQRT(2.0 * CAST(a AS DOUBLE) * CAST(b AS DOUBLE)
               * (2.0 * CAST(a AS DOUBLE) * CAST(b AS DOUBLE)
                  - CAST(n_days AS DOUBLE))
               / (CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE)
                  * (CAST(n_days AS DOUBLE) - 1.0))), 4) END AS runs_z
    FROM m""",
)
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test over daily return signs —
    operators/analytics.runs_test."""
    return AN.runs_test(bars(spark, sf_dir), min_days=15)


@q(
    "q_underwater",
    f"""WITH {BARS_CTE},
    c6 AS (SELECT symbol, day, ROUND(close_d, 6) AS cd6
           FROM (SELECT symbol, CAST(time AS DATE) AS day, AVG(close) AS close_d
                 FROM bars GROUP BY symbol, CAST(time AS DATE))),
    pk AS (SELECT symbol, day, cd6,
             MAX(cd6) OVER (PARTITION BY symbol ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior
           FROM c6),
    p AS (SELECT symbol, day,
            CASE WHEN prior IS NULL OR cd6 >= prior THEN 1 ELSE 0 END AS is_peak
          FROM pk),
    g AS (SELECT symbol, day,
            SUM(is_peak) OVER (PARTITION BY symbol ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
          FROM p),
    pg AS (SELECT symbol, grp, COUNT(*) - 1 AS uw_len, MAX(day) AS last_day
           FROM g GROUP BY symbol, grp),
    x AS (SELECT symbol, uw_len, last_day,
            MAX(last_day) OVER (PARTITION BY symbol) AS max_day
          FROM pg)
    SELECT symbol, COUNT(*) AS n_peaks, MAX(uw_len) AS max_underwater_days,
      MAX(CASE WHEN last_day = max_day THEN uw_len END) AS open_underwater_days
    FROM x GROUP BY symbol""",
)
def q_underwater(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Underwater (drawdown-duration) profile per symbol — pure integer
    day counting (operators/analytics.underwater_spells)."""
    return AN.underwater_spells(bars(spark, sf_dir))


@q(
    "q_decompose",
    f"""WITH {BARS_CTE},
    c6 AS (SELECT symbol, day,
             CAST(ROUND(ROUND(close_d, 6) * 1000000.0, 0) AS BIGINT) AS cq
           FROM (SELECT symbol, CAST(time AS DATE) AS day, AVG(close) AS close_d
                 FROM bars GROUP BY symbol, CAST(time AS DATE))),
    t AS (SELECT symbol, day, cq,
            CASE WHEN COUNT(*) OVER wc = 7 THEN
              CAST(FLOOR(CAST(SUM(cq) OVER wc AS DOUBLE) / 7.0) AS BIGINT)
            END AS trend_q,
            (DATEDIFF('day', DATE '2000-01-03', day) + 70000) % 7 AS dow
          FROM c6 WINDOW wc AS (PARTITION BY symbol ORDER BY day
            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    d2 AS (SELECT symbol, day, dow, cq, trend_q, cq - trend_q AS det_q FROM t),
    s AS (SELECT symbol, day, dow, cq, trend_q, det_q,
            CASE WHEN COUNT(det_q) OVER ws > 0 THEN
              CAST(FLOOR(CAST(SUM(det_q) OVER ws AS DOUBLE)
                         / CAST(COUNT(det_q) OVER ws AS DOUBLE)) AS BIGINT)
            END AS seas_q
          FROM d2 WINDOW ws AS (PARTITION BY symbol, dow))
    SELECT symbol, CAST(day AS TIMESTAMP) AS day, CAST(dow AS BIGINT) AS dow,
      CAST(cq AS DOUBLE) / 1000000.0 AS close6,
      CAST(trend_q AS DOUBLE) / 1000000.0 AS trend,
      CAST(seas_q AS DOUBLE) / 1000000.0 AS seasonal,
      CASE WHEN trend_q IS NOT NULL AND seas_q IS NOT NULL THEN
        CAST(det_q - seas_q AS DOUBLE) / 1000000.0 END AS residual
    FROM s""",
)
def q_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive trend/seasonal/residual decomposition of the daily
    close — all-integer micro pipeline
    (operators/analytics.seasonal_decompose)."""
    return AN.seasonal_decompose(bars(spark, sf_dir))


@q(
    "q_breadth",
    f"""WITH {BARS_CTE},
    {DAILY_RET},
    {RETQ},
    bd AS (SELECT day,
            SUM(CASE WHEN rq > 0 THEN 1 ELSE 0 END) AS advancers,
            SUM(CASE WHEN rq < 0 THEN 1 ELSE 0 END) AS decliners,
            SUM(CASE WHEN rq = 0 THEN 1 ELSE 0 END) AS unchanged
          FROM q GROUP BY day)
    SELECT CAST(day AS TIMESTAMP) AS day, CAST(advancers AS BIGINT) AS advancers,
      CAST(decliners AS BIGINT) AS decliners,
      CAST(unchanged AS BIGINT) AS unchanged,
      CAST(advancers - decliners AS BIGINT) AS net,
      CAST(SUM(advancers - decliners) OVER (ORDER BY day
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ad_line
    FROM bd""",
)
def q_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day advancer/decliner breadth + cumulative advance-decline
    line — pure integer counting (operators/analytics.market_breadth)."""
    return AN.market_breadth(bars(spark, sf_dir))


@q(
    "q_ulcer",
    f"""WITH {BARS_CTE},
    {DAILY_RET},
    {RETQ},
    c6 AS (SELECT symbol, day, ROUND(close_d, 6) AS cd6
           FROM (SELECT symbol, CAST(time AS DATE) AS day, AVG(close) AS close_d
                 FROM bars GROUP BY symbol, CAST(time AS DATE))),
    dd AS (SELECT symbol,
             CAST(ROUND(ROUND(cd6 / NULLIF(MAX(cd6) OVER (PARTITION BY symbol
                     ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                     ROW), 0.0) - 1.0, 6) * 1000000.0, 0) AS BIGINT) AS ddq
           FROM c6),
    u AS (SELECT symbol, COUNT(*) AS n_days, SUM(ddq * ddq) AS sq
          FROM dd GROUP BY symbol),
    m AS (SELECT symbol, SUM(rq) AS s1, COUNT(*) AS nr FROM q GROUP BY symbol)
    SELECT u.symbol, n_days,
      SQRT(CAST(sq AS DOUBLE) / CAST(n_days AS DOUBLE)) / 1000000.0
        AS ulcer_index,
      CASE WHEN sq > 0 THEN
        (CAST(s1 AS DOUBLE) * 252.0 / CAST(nr AS DOUBLE) / 1000000.0)
        / (SQRT(CAST(sq AS DOUBLE) / CAST(n_days AS DOUBLE)) / 1000000.0)
      END AS martin_ratio
    FROM u JOIN m ON u.symbol = m.symbol WHERE n_days >= 15""",
)
def q_ulcer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ulcer index + Martin ratio per symbol — exact integer drawdown
    second moment, unrounded emissions
    (operators/analytics.ulcer_index)."""
    return AN.ulcer_index(bars(spark, sf_dir), min_days=15)


@q(
    "q_cmo",
    f"""WITH {BARS_CTE},
    {DAILY_RET},
    {RETQ},
    w AS (SELECT symbol, day,
            SUM(CASE WHEN rq > 0 THEN rq ELSE 0 END) OVER wn AS up,
            SUM(CASE WHEN rq < 0 THEN -rq ELSE 0 END) OVER wn AS down,
            COUNT(*) OVER wn AS cnt
          FROM q WINDOW wn AS (PARTITION BY symbol ORDER BY day
            ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
    SELECT symbol, CAST(day AS TIMESTAMP) AS day,
      CASE WHEN cnt = 14 AND up + down > 0 THEN
        100.0 * CAST(up - down AS DOUBLE) / CAST(up + down AS DOUBLE)
      END AS cmo
    FROM w""",
)
def q_cmo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chande Momentum Oscillator (14-day, daily returns) — one
    unrounded division of exact integer window sums
    (operators/analytics.cmo)."""
    return AN.cmo(bars(spark, sf_dir), n=14)


@q(
    "q_streaks",
    f"""WITH {BARS_CTE},
    {DAILY_RET},
    {RETQ},
    s AS (SELECT symbol, day,
            CASE WHEN rq > 0 THEN 1 WHEN rq < 0 THEN -1 ELSE 0 END AS sgn
          FROM q),
    c AS (SELECT symbol, day, sgn,
            CASE WHEN LAG(sgn) OVER ws IS NULL
                      OR sgn <> LAG(sgn) OVER ws THEN 1 ELSE 0 END AS chg
          FROM s WINDOW ws AS (PARTITION BY symbol ORDER BY day)),
    gr AS (SELECT symbol, day, sgn,
             SUM(chg) OVER (PARTITION BY symbol ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
           FROM c),
    g AS (SELECT symbol, grp, COUNT(*) AS len, MAX(sgn) AS sgn,
            MAX(day) AS last_day
          FROM gr GROUP BY symbol, grp),
    x AS (SELECT symbol, len, sgn, last_day,
            MAX(last_day) OVER (PARTITION BY symbol) AS max_day
          FROM g)
    SELECT symbol,
      MAX(CASE WHEN sgn = 1 THEN len ELSE 0 END) AS max_up_streak,
      MAX(CASE WHEN sgn = -1 THEN len ELSE 0 END) AS max_down_streak,
      COUNT(*) AS n_streaks,
      MAX(CASE WHEN last_day = max_day THEN CAST(sgn AS BIGINT) * len END)
        AS current_streak
    FROM x GROUP BY symbol""",
)
def q_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Up/down streak statistics per symbol — integer gaps-and-islands
    (operators/analytics.streak_stats)."""
    return AN.streak_stats(bars(spark, sf_dir))


@q(
    "q_month_effect",
    f"""WITH {BARS_CTE},
    {DAILY_RET},
    {RETQ},
    b AS (SELECT CASE WHEN DAYOFMONTH(day) <= 10 THEN 'early'
                      WHEN DAYOFMONTH(day) <= 20 THEN 'mid'
                      ELSE 'late' END AS phase, rq
          FROM q),
    g AS (SELECT phase, COUNT(*) AS n_days, SUM(rq) AS s1,
            SUM(CASE WHEN rq > 0 THEN 1 ELSE 0 END) AS n_pos
          FROM b GROUP BY phase)
    SELECT phase, n_days,
      FLOOR(CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE)) / 1000000.0
        AS mean_ret,
      ROUND(CAST(n_pos AS DOUBLE) / CAST(n_days AS DOUBLE), 6) AS pos_share
    FROM g""",
)
def q_month_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn-of-month effect screen (early/mid/late day-of-month
    buckets) — operators/analytics.month_effect."""
    return AN.month_effect(bars(spark, sf_dir))


@q(
    "q_topk_days",
    f"""WITH {BARS_CTE},
    {DAILY_RET},
    {RETQ},
    rr AS (SELECT symbol, day, r, rq FROM r JOIN q USING (symbol, day)),
    b AS (SELECT symbol, day, r,
            ROW_NUMBER() OVER (PARTITION BY symbol
              ORDER BY rq DESC, day ASC) AS rk
          FROM rr),
    w AS (SELECT symbol, day, r,
            ROW_NUMBER() OVER (PARTITION BY symbol
              ORDER BY rq ASC, day ASC) AS rk
          FROM rr)
    SELECT symbol, CAST(day AS TIMESTAMP) AS day, r, 'best' AS side,
      CAST(rk AS BIGINT) AS rk
    FROM b WHERE rk <= 3
    UNION ALL
    SELECT symbol, CAST(day AS TIMESTAMP) AS day, r, 'worst' AS side,
      CAST(rk AS BIGINT) AS rk
    FROM w WHERE rk <= 3""",
)
def q_topk_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best/worst 3 return days per symbol — integer ranks over
    (quantized return, day) (operators/analytics.topk_return_days)."""
    return AN.topk_return_days(bars(spark, sf_dir), k=3)


@q(
    "q_rel_strength",
    f"""WITH {BARS_CTE},
    d AS (SELECT symbol, CAST(time AS DATE) AS day, AVG(close) AS close_d
          FROM bars WHERE symbol < 50 GROUP BY symbol, CAST(time AS DATE)),
    r AS (SELECT symbol, day,
            CASE WHEN LAG(close_d) OVER (PARTITION BY symbol ORDER BY day) > 0
                      AND close_d > 0
                 THEN ROUND(LN(close_d / LAG(close_d)
                      OVER (PARTITION BY symbol ORDER BY day)), 6) END AS r
          FROM d QUALIFY r IS NOT NULL),
    {RETQ},
    mkt AS (SELECT day,
              CAST(FLOOR(CAST(SUM(rq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
                   AS BIGINT) AS mq
            FROM q GROUP BY day),
    j AS (SELECT q.symbol, q.day, q.rq - mkt.mq AS aq
          FROM q JOIN mkt USING (day))
    SELECT symbol, CAST(day AS TIMESTAMP) AS day,
      CAST(SUM(aq) OVER (PARTITION BY symbol ORDER BY day
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      / 1000000.0 AS rel_strength
    FROM j""",
)
def q_rel_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative relative-strength line vs the equal-weight basket —
    exact integer accumulation (operators/analytics.relative_strength)."""
    return AN.relative_strength(bars(spark, sf_dir), basket_max_symbol=50)
