"""Output checks for the tick paths, computed independently of Spark.

The expectations come from the generated tick table with numpy/pyarrow.
Each check returns a list of problems; an empty list means it passed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds

# The engine emits a row once a symbol has WARMUP ticks of history
# (the reference consumer's gate), so a symbol with n ticks gives
# max(0, n - (WARMUP - 1)) rows.
WARMUP = 26
STREAM_EXACT_COLS = ("sma_20", "bb_upper", "bb_lower")
US_PER_DAY = 86_400_000_000


def _us(col: pa.ChunkedArray) -> np.ndarray:
    """Timestamp column -> int64 epoch microseconds (tz or not)."""
    return col.cast(pa.timestamp("us")).cast(pa.int64()).to_numpy()


class Expected:
    """Key set and per-symbol facts the engine's output must match."""

    def __init__(self, ticks: pa.Table):
        sym = ticks["user_id"].to_numpy()
        t = _us(ticks["ts"])
        order = np.lexsort((ticks["event_id"].to_numpy(), t, sym))
        sym, t = sym[order], t[order]
        starts = np.flatnonzero(np.r_[True, sym[1:] != sym[:-1]])
        sizes = np.diff(np.r_[starts, len(sym)])
        rank = np.arange(len(sym)) - np.repeat(starts, sizes)
        keep = rank >= WARMUP - 1
        self.keys = pd.DataFrame({"time": t[keep], "symbol": sym[keep]})
        self.rows = int(np.maximum(0, sizes - (WARMUP - 1)).sum())
        last = self.keys.groupby("symbol")["time"].max()
        self.latest = dict(zip(last.index.tolist(), last.tolist()))
        days = self.keys["time"].to_numpy() // US_PER_DAY
        self.rows_per_day = pd.Series(days).value_counts().to_dict()

    def range_rows(self, lo_day: int, hi_day: int) -> int:
        """Rows whose trade date (epoch day) lies in [lo_day, hi_day]."""
        return int(sum(n for d, n in self.rows_per_day.items() if lo_day <= d <= hi_day))


def _sorted_keys(df: pd.DataFrame) -> pd.DataFrame:
    return df[["time", "symbol"]].sort_values(["time", "symbol"]).reset_index(drop=True)


def read_table(path: str, columns: list[str]) -> pd.DataFrame:
    """``columns`` (``time`` among them) of a hive-partitioned parquet
    table directory as pandas, with ``time`` as int64 epoch microseconds."""
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)
    df = t.drop_columns(["time"]).to_pandas()
    df["time"] = _us(t["time"])
    return df


def check_keys(name: str, got: pd.DataFrame, exp: Expected) -> list[str]:
    problems = []
    if len(got) != exp.rows:
        problems.append(f"{name}: {len(got)} rows, expected {exp.rows}")
    if got.duplicated(["time", "symbol"]).any():
        problems.append(f"{name}: duplicate (time, symbol) keys")
    if not problems and not _sorted_keys(got).equals(_sorted_keys(exp.keys)):
        problems.append(f"{name}: key set differs from the expected keys")
    return problems


def check_latest(rows: list[tuple[int, int]], exp: Expected) -> list[str]:
    """``rows`` are (symbol, time_us) pairs of one latest read."""
    syms = [s for s, _ in rows]
    if len(set(syms)) != len(syms):
        return ["latest: more than one row for a symbol"]
    got = dict(rows)
    if set(got) != set(exp.latest):
        return [f"latest: {len(got)} symbols, expected {len(exp.latest)}"]
    bad = [s for s, t in got.items() if t != exp.latest[s]]
    return [f"latest: {len(bad)} symbols not at their max time"] if bad else []


def check_range(n_rows: int, lo_day: int, hi_day: int, exp: Expected) -> list[str]:
    want = exp.range_rows(lo_day, hi_day)
    return [] if n_rows == want else [f"range [{lo_day},{hi_day}]: {n_rows} rows, expected {want}"]


def check_stream_values(stream: pd.DataFrame, batch: pd.DataFrame) -> list[str]:
    """Stream rows must carry exactly the batch values of the columns the
    stream computes over a full window (EMA/RSI re-seed inside the
    stream's bounded buffer by design and are not compared)."""
    cols = ["time", "symbol", *STREAM_EXACT_COLS]
    m = stream[cols].merge(batch[cols], on=["time", "symbol"], how="outer", suffixes=("_s", "_b"), indicator=True)
    if (m["_merge"] != "both").any():
        return [f"stream values: {int((m['_merge'] != 'both').sum())} keys not in both tables"]
    problems = []
    for c in STREAM_EXACT_COLS:
        s, b = m[f"{c}_s"].to_numpy(float), m[f"{c}_b"].to_numpy(float)
        bad = int((~((s == b) | (np.isnan(s) & np.isnan(b)))).sum())
        if bad:
            problems.append(f"stream values: {c} differs on {bad} rows")
    return problems
