"""Full 21-column indicator table (FIXTURES.md F3; reference DDL at
/root/reference/trading-etl-python/src/db/setup.py:55-89), composed
Spark-first.

Pipeline shape (ONE exchange for the whole 13-indicator suite):

    scan (column-pruned)
      -> exchange hash(symbol) -> sort(symbol, time, event_id)
      -> all symbol-keyed window indicators  (SMA/BB/Stoch/MFI/OBV, gates)
      -> VWAP window                         ((symbol, day) clustering is
                                              satisfied by hash(symbol);
                                              day refines symbol, so only
                                              a local sort is added)
      -> mapInPandas per partition           (EMA/RSI/MACD/ATR/ADX — reuses
                                              the hash(symbol) distribution,
                                              no new shuffle)

The reference computes the same 13 columns one symbol at a time in a
Python loop (backfill.py:101-139) or one message at a time
(consumer.py:138-186); here the whole table is one declarative plan that
parallelizes over keys and scales horizontally.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import recursive as R
from . import windows as W

FINAL_COLS = [
    "time",
    "symbol",
    "open",
    "high",
    "low",
    "close",
    "volume",
    "sma_20",
    "ema_10",
    "ema_20",
    "macd_line",
    "adx_14",
    "rsi_14",
    "stoch_k_14",
    "mfi_14",
    "bb_upper",
    "bb_lower",
    "atr_14",
    "obv",
    "vwap",
]


def with_recursive_suite(df: DataFrame) -> DataFrame:
    """All five recurrence indicators in ONE grouped-map pass (one shuffle,
    one Arrow round-trip) instead of five."""

    def fn(pdf: pd.DataFrame):
        c = pdf["close"].to_numpy(np.float64)
        h = pdf["high"].to_numpy(np.float64)
        lo = pdf["low"].to_numpy(np.float64)
        return {
            "ema_10": R.ema_rec(c, 10),
            "ema_20": R.ema_rec(c, 20),
            "macd_line": R.ema_rec(c, 12) - R.ema_rec(c, 26),
            "rsi_14": R.rsi_rec(c, 14),
            "atr_14": R.atr_rec(h, lo, c, 14),
            "adx_14": R.adx_rec(h, lo, c, 14),
        }

    out_cols = {k: "double" for k in ["ema_10", "ema_20", "macd_line", "rsi_14", "atr_14", "adx_14"]}
    # riding the window stage: data is already hash(symbol)-partitioned,
    # so skip the extra exchange and let mapInPandas consume it in place
    return R._indicator_map(df, out_cols, fn, repartition=False)


def indicator_table(bars: DataFrame, warmup: int | None = 26) -> DataFrame:
    """bars -> full indicator fact table.  ``warmup`` applies the
    reference's emission gate (>=26 rows of history AND sma_20 non-NULL,
    consumer.py:165-173); pass None to keep all rows (backfill mode)."""
    df = bars
    df = W.with_sma(df, 20)
    df = W.with_bbands(df, 20, 2.0)
    df = W.with_stoch(df, 14, 3)
    df = W.with_mfi(df, 14)
    df = W.with_obv(df)
    if warmup is not None:
        # compute the running history count HERE so it merges into the
        # first hash(symbol) window stage; gating after VWAP then stays a
        # pure Filter instead of re-exchanging back to hash(symbol)
        from pyspark.sql import Window

        whist = W.by_key().rowsBetween(Window.unboundedPreceding, Window.currentRow)
        df = df.withColumn("_hist", F.count(F.lit(1)).over(whist))
    # VWAP before the Arrow stage: its (symbol, day) window clustering is
    # satisfied by the hash(symbol) distribution already in place (day is
    # a refinement of symbol clustering), so it costs only a local sort —
    # the whole 21-column table now runs in ONE exchange, and the Arrow
    # stage still rides the same distribution afterward.
    df = W.with_vwap(df)
    df = with_recursive_suite(df)
    if warmup is not None:
        df = df.filter((F.col("_hist") >= warmup) & F.col("sma_20").isNotNull())
    return df.select(*FINAL_COLS)
