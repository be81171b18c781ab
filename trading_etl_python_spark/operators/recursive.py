"""Linear-recurrence indicator family (SURVEY.md §2.1 W2, W3, W4, W6, W8):
EMA, RSI, MACD, ATR, ADX.

These are the only reference operators (pandas-ta calls at
/root/reference/trading-etl-python/src/db/backfill.py:18-27,39-44,55 and
src/processing/consumer.py:89-98,110-114,122) that no fixed-frame Spark
window aggregate can express — each output row depends on the *previous
output*, not a bounded input frame.

Implementation: ``_indicator_map`` — one hash exchange on the symbol,
then ``mapInPandas`` runs numpy recurrences over every key of a
partition, Arrow batch transfer in and out.  This mirrors the
reference's per-symbol pandas frames exactly, and scales the same way
Spark's own window exec does (one key's series processed by one task;
keys are the parallelism unit).

A secondary, Catalyst-visible formulation via the SQL ``aggregate()``
higher-order function over a per-key ``collect_list`` lives in
``ema_via_sql_hof`` (bounded series only; quadratic array copying makes it
a demo/cross-check, not the scale path).

Recurrence definitions (pandas-ta 0.4.71b0 semantics, documented in
SURVEY.md §7.4; all seeded with the SMA of the first n points, Wilder
indicators use alpha=1/n, EMA uses alpha=2/(n+1)):

    ema[n-1]  = mean(x[0..n-1]);   ema[i] = a*x[i] + (1-a)*ema[i-1]

The DuckDB recursive-CTE oracles in ``queries_oracle.py`` implement the
identical recurrences; floats are rounded to 4dp on both sides.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ROUND_DP = 4


def round_half_up(x: np.ndarray, dp: int = 4) -> np.ndarray:
    """Half-UP (away-from-zero) rounding on the scaled double — the exact
    behavior of DuckDB ROUND and (for these magnitudes) Spark ROUND.
    numpy's np.round is half-EVEN: on series whose recurrences land
    exactly on .xxxx5 halves (common with 2dp-ish price inputs) the two
    modes diverge and the value-hash flips (seen at sf0.1: ATR hit
    exactly 35.91465).  Verified bit-for-bit against DuckDB on boundary
    neighbors in both directions and signs."""
    m = 10.0 ** dp
    with np.errstate(invalid="ignore"):
        return np.copysign(np.floor(np.abs(x) * m + 0.5), x) / m


def _seqmean(x: np.ndarray) -> float:
    """Strict left-to-right mean — numpy's .mean() uses PAIRWISE summation,
    which can differ from a sequential accumulator by ~1 ulp; DuckDB's
    frame AVG (the oracle's recurrence seed) accumulates in frame order.
    A 1-ulp seed difference survives the Wilder recurrence long enough to
    flip a 4dp rounding boundary ~2e-5/row at sf0.1, so every recurrence
    seed uses this sequential fold on BOTH engines' accumulation order."""
    acc = 0.0
    for v in x:
        acc += float(v)
    return acc / len(x)


# ---------------------------------------------------------------- numpy core


def ema_rec(x: np.ndarray, n: int, alpha: float | None = None) -> np.ndarray:
    """SMA-seeded exponential recurrence. NaN before index n-1."""
    alpha = alpha if alpha is not None else 2.0 / (n + 1.0)
    out = np.full(len(x), np.nan)
    if len(x) < n:
        return out
    out[n - 1] = _seqmean(x[:n])
    for i in range(n, len(x)):
        out[i] = alpha * x[i] + (1.0 - alpha) * out[i - 1]
    return out


def rma_rec(x: np.ndarray, n: int, start: int) -> np.ndarray:
    """Wilder RMA (alpha=1/n) over x[start:], seeded with the mean of
    x[start:start+n]; NaN before index start+n-1."""
    out = np.full(len(x), np.nan)
    if len(x) - start < n:
        return out
    s = start + n - 1
    out[s] = _seqmean(x[start : start + n])
    a = 1.0 / n
    for i in range(s + 1, len(x)):
        out[i] = a * x[i] + (1.0 - a) * out[i - 1]
    return out


def true_range(h: np.ndarray, lo: np.ndarray, c: np.ndarray) -> np.ndarray:
    """TR_0 = high-low; TR_i = max(h-l, |h-prev_c|, |l-prev_c|)."""
    tr = h - lo
    if len(c) > 1:
        pc = c[:-1]
        tr = np.concatenate(
            [tr[:1], np.maximum.reduce([h[1:] - lo[1:], np.abs(h[1:] - pc), np.abs(lo[1:] - pc)])]
        )
    return tr


def rsi_rec(c: np.ndarray, n: int = 14) -> np.ndarray:
    """RSI(n): Wilder RMA of gains/losses over close deltas;
    rsi = 100*avg_gain/(avg_gain+avg_loss)."""
    out = np.full(len(c), np.nan)
    if len(c) < n + 1:
        return out
    d = np.diff(c)  # d[i-1] = delta at row i
    g = np.where(d > 0, d, 0.0)
    l = np.where(d < 0, -d, 0.0)
    ag, al = _seqmean(g[:n]), _seqmean(l[:n])
    if ag + al > 0:
        out[n] = 100.0 * ag / (ag + al)
    a = 1.0 / n
    for i in range(n + 1, len(c)):
        ag = a * g[i - 1] + (1.0 - a) * ag
        al = a * l[i - 1] + (1.0 - a) * al
        out[i] = 100.0 * ag / (ag + al) if (ag + al) > 0 else np.nan
    return out


def atr_rec(h: np.ndarray, lo: np.ndarray, c: np.ndarray, n: int = 14) -> np.ndarray:
    """ATR(n) = Wilder RMA(n) of the true range, seeded with SMA."""
    return rma_rec(true_range(h, lo, c), n, start=0)


def adx_rec(h: np.ndarray, lo: np.ndarray, c: np.ndarray, n: int = 14) -> np.ndarray:
    """ADX(n): ±DM -> Wilder-smooth(n) -> ±DI -> DX -> RMA(n) of DX.
    First DX at index n; ADX (RMA-seeded) from index 2n-1."""
    L = len(c)
    out = np.full(L, np.nan)
    if L < 2 * n:
        return out
    up = h[1:] - h[:-1]
    dn = lo[:-1] - lo[1:]
    pdm = np.where((up > dn) & (up > 0), up, 0.0)
    mdm = np.where((dn > up) & (dn > 0), dn, 0.0)
    tr = true_range(h, lo, c)[1:]  # deltas exist from row 1
    a = 1.0 / n
    sp, sm, st = _seqmean(pdm[:n]), _seqmean(mdm[:n]), _seqmean(tr[:n])

    def dx(sp: float, sm: float, st: float) -> float:
        if st <= 0:
            return np.nan
        dip, dim = 100.0 * sp / st, 100.0 * sm / st
        return 100.0 * abs(dip - dim) / (dip + dim) if (dip + dim) > 0 else np.nan

    dxs = [dx(sp, sm, st)]  # dx at row index n
    for i in range(n, len(pdm)):  # row index i+1
        sp = a * pdm[i] + (1.0 - a) * sp
        sm = a * mdm[i] + (1.0 - a) * sm
        st = a * tr[i] + (1.0 - a) * st
        dxs.append(dx(sp, sm, st))
    dxa = np.array(dxs)  # dxa[j] = DX at row index n+j
    _dx_ok = dxa[:n][~np.isnan(dxa[:n])]
    adx = _seqmean(_dx_ok) if len(_dx_ok) else np.nan
    out[2 * n - 1] = adx
    for j in range(n, len(dxa)):
        adx = a * dxa[j] + (1.0 - a) * adx if not np.isnan(dxa[j]) else adx
        out[n + j] = adx
    return out


# ----------------------------------------------------- Spark mapInPandas


def _schema_str(df: DataFrame, out_cols: dict[str, str]) -> str:
    return ", ".join(
        [f"`{c}` {t}" for c, t in df.dtypes] + [f"`{c}` {t}" for c, t in out_cols.items()]
    )


def _indicator_map(df: DataFrame, out_cols: dict[str, str], fn, repartition: bool = True) -> DataFrame:
    """Whole-partition scaffold: co-locate keys with ONE hash exchange on
    symbol, then ``mapInPandas`` processes an entire partition per Python
    task — per-key numpy slices found by sorted boundary scan, no per-group
    Arrow round-trips, which matters at many-small-keys shapes (the
    streaming-symbol workload).

    Scale note: a task materializes its partition (pd.concat) — per-task
    memory is bounded by the shuffle partition count, which ``repartition``
    pins explicitly (AQE coalescing would otherwise shrink small stages
    below the core count).  For very long per-key histories raise the
    partition count; keys are never split across partitions."""
    schema = _schema_str(df, out_cols)
    in_cols = [c for c, _ in df.dtypes]

    def compute(batches) -> "pd.DataFrame":
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        if len(pdf) == 0:
            return
        order = np.lexsort(
            (pdf["event_id"].to_numpy(), pdf["time"].to_numpy(), pdf["symbol"].to_numpy())
        )
        pdf = pdf.iloc[order].reset_index(drop=True)
        sym = pdf["symbol"].to_numpy()
        starts = np.flatnonzero(np.r_[True, sym[1:] != sym[:-1]])
        ends = np.r_[starts[1:], len(sym)]
        outs = {c: np.full(len(sym), np.nan) for c in out_cols}
        for s, e in zip(starts, ends):
            for c, arr in fn(pdf.iloc[s:e]).items():
                outs[c][s:e] = arr
        for c in out_cols:
            pdf[c] = round_half_up(outs[c], ROUND_DP)
        yield pdf

    if repartition:
        from ..util import spread

        df = spread(df, "symbol")
    return df.mapInPandas(compute, schema=schema)


def with_ema(df: DataFrame, periods: tuple[int, ...] = (10, 20)) -> DataFrame:
    """W2 — EMA(n) for each n (backfill.py:18-19)."""

    def fn(pdf: pd.DataFrame):
        c = pdf["close"].to_numpy(dtype=np.float64)
        return {f"ema_{n}": ema_rec(c, n) for n in periods}

    return _indicator_map(df, {f"ema_{n}": "double" for n in periods}, fn)


def with_rsi(df: DataFrame, n: int = 14) -> DataFrame:
    """W3 — RSI(n) (backfill.py:20)."""

    def fn(pdf: pd.DataFrame):
        return {f"rsi_{n}": rsi_rec(pdf["close"].to_numpy(dtype=np.float64), n)}

    return _indicator_map(df, {f"rsi_{n}": "double"}, fn)


def with_macd(df: DataFrame, fast: int = 12, slow: int = 26) -> DataFrame:
    """W4 — MACD line = EMA(fast) - EMA(slow); the reference keeps only
    the line (backfill.py:23-27)."""

    def fn(pdf: pd.DataFrame):
        c = pdf["close"].to_numpy(dtype=np.float64)
        return {"macd_line": ema_rec(c, fast) - ema_rec(c, slow)}

    return _indicator_map(df, {"macd_line": "double"}, fn)


def with_atr(df: DataFrame, n: int = 14) -> DataFrame:
    """W8 — ATR(n) (backfill.py:55)."""

    def fn(pdf: pd.DataFrame):
        return {
            f"atr_{n}": atr_rec(
                pdf["high"].to_numpy(np.float64),
                pdf["low"].to_numpy(np.float64),
                pdf["close"].to_numpy(np.float64),
                n,
            )
        }

    return _indicator_map(df, {f"atr_{n}": "double"}, fn)


def with_adx(df: DataFrame, n: int = 14) -> DataFrame:
    """W6 — ADX(n) (backfill.py:39-44)."""

    def fn(pdf: pd.DataFrame):
        return {
            f"adx_{n}": adx_rec(
                pdf["high"].to_numpy(np.float64),
                pdf["low"].to_numpy(np.float64),
                pdf["close"].to_numpy(np.float64),
                n,
            )
        }

    return _indicator_map(df, {f"adx_{n}": "double"}, fn)


def holt_rec(
    x: np.ndarray, alpha: float = 0.2, beta: float = 0.1
) -> tuple[np.ndarray, np.ndarray]:
    """Holt double exponential smoothing (linear trend): level l_i =
    a*x_i + (1-a)*(l_{i-1} + b_{i-1}), trend b_i = b*(l_i - l_{i-1}) +
    (1-b)*b_{i-1}, seeded l_0 = x_0, b_0 = x_1 - x_0 (Holt 1957 /
    Hyndman FPP initialization).  Returns (level, trend); a single-row
    key gets level=x_0 and NaN trend — exactly the recursive-CTE
    oracle's seed row with a NULL LEAD."""
    L = len(x)
    lev, tr = np.full(L, np.nan), np.full(L, np.nan)
    if L == 0:
        return lev, tr
    lev[0] = x[0]
    if L == 1:
        return lev, tr
    tr[0] = x[1] - x[0]
    for i in range(1, L):
        lev[i] = alpha * x[i] + (1.0 - alpha) * (lev[i - 1] + tr[i - 1])
        tr[i] = beta * (lev[i] - lev[i - 1]) + (1.0 - beta) * tr[i - 1]
    return lev, tr


def efi_rec(c: np.ndarray, v: np.ndarray, n: int = 13) -> np.ndarray:
    """Elder Force Index(n): EMA(n) of (close - prev_close) * volume,
    SMA-seeded over the first n deltas (the family's uniform seeding
    convention; pandas-ta efi uses the same delta*volume input).  The
    delta series starts at row 1, so the first output lands at row n."""
    out = np.full(len(c), np.nan)
    if len(c) < 2:
        return out
    fi = (c[1:] - c[:-1]) * v[1:]
    out[1:] = ema_rec(fi, n)
    return out


def with_keltner(
    df: DataFrame, n_ema: int = 20, n_atr: int = 10, mult: float = 2.0
) -> DataFrame:
    """Keltner Channel(n_ema, n_atr, mult): mid = EMA(close, n_ema),
    upper/lower = mid ± mult * ATR(n_atr) — the EMA/ATR composition
    indicator (pandas-ta kc family, classic Chester Keltner bands with
    Wilder ATR).  One Arrow pass computes both recurrences per key;
    bands are NULL until BOTH components are warm (NaN propagates
    through the sum, mirroring SQL NULL arithmetic)."""

    def fn(pdf: pd.DataFrame):
        c = pdf["close"].to_numpy(np.float64)
        mid = ema_rec(c, n_ema)
        atr = atr_rec(
            pdf["high"].to_numpy(np.float64),
            pdf["low"].to_numpy(np.float64),
            c,
            n_atr,
        )
        return {
            "kc_mid": mid,
            "kc_upper": mid + mult * atr,
            "kc_lower": mid - mult * atr,
        }

    return _indicator_map(
        df, {"kc_mid": "double", "kc_upper": "double", "kc_lower": "double"}, fn
    )


def with_holt(df: DataFrame, alpha: float = 0.2, beta: float = 0.1) -> DataFrame:
    """Holt linear-trend smoothing per key over close: smoothed level,
    trend, and the one-step-ahead forecast level+trend (computed from
    the UNROUNDED states, then rounded — the oracle rounds l+b the same
    way)."""

    def fn(pdf: pd.DataFrame):
        lev, tr = holt_rec(pdf["close"].to_numpy(np.float64), alpha, beta)
        return {"holt_level": lev, "holt_trend": tr, "holt_fcst": lev + tr}

    return _indicator_map(
        df,
        {"holt_level": "double", "holt_trend": "double", "holt_fcst": "double"},
        fn,
    )


def with_force_index(df: DataFrame, n: int = 13) -> DataFrame:
    """Force Index(n) — EMA-smoothed price-change × volume."""

    def fn(pdf: pd.DataFrame):
        return {
            f"efi_{n}": efi_rec(
                pdf["close"].to_numpy(np.float64),
                pdf["volume"].to_numpy(np.float64),
                n,
            )
        }

    return _indicator_map(df, {f"efi_{n}": "double"}, fn)


# -------------------------------------------- SQL HOF alternative (bounded)


def ema_via_sql_hof(df: DataFrame, n: int = 10, out: str = "ema_hof") -> DataFrame:
    """Catalyst-visible EMA via collect_list + aggregate() fold, then
    posexplode back to rows.  Safe only for bounded per-key series (the
    reference itself bounds state at 60 rows, consumer.py:33); the fold
    re-copies the output array per element, so it is O(len^2) per key.
    Kept as a pure-SQL cross-check of ``with_ema``."""
    a = 2.0 / (n + 1.0)
    packed = df.groupBy("symbol").agg(
        F.array_sort(F.collect_list(F.struct("time", "event_id", "close"))).alias("rows")
    )
    # fold: acc = struct(i, prev, out array); seed = SMA of first n
    fold = F.aggregate(
        F.col("rows"),
        F.struct(
            F.lit(0).alias("i"),
            F.lit(None).cast("double").alias("prev"),
            F.array().cast("array<double>").alias("out"),
        ),
        lambda acc, r: F.struct(
            (acc["i"] + 1).alias("i"),
            F.when(
                acc["i"] + 1 == n,
                F.aggregate(
                    F.slice(F.col("rows"), 1, n), F.lit(0.0), lambda s, rr: s + rr["close"]
                )
                / F.lit(float(n)),
            )
            .when(acc["i"] + 1 > n, F.lit(a) * r["close"] + F.lit(1.0 - a) * acc["prev"])
            .alias("prev"),
            F.concat(
                acc["out"],
                F.array(
                    F.when(
                        acc["i"] + 1 == n,
                        F.aggregate(
                            F.slice(F.col("rows"), 1, n), F.lit(0.0), lambda s, rr: s + rr["close"]
                        )
                        / F.lit(float(n)),
                    ).when(acc["i"] + 1 > n, F.lit(a) * r["close"] + F.lit(1.0 - a) * acc["prev"])
                ),
            ).alias("out"),
        ),
        lambda acc: acc["out"],
    )
    exploded = packed.select("symbol", F.posexplode(fold).alias("pos", out), F.col("rows"))
    return exploded.select(
        "symbol",
        F.col("rows")[F.col("pos")]["time"].alias("time"),
        F.col("rows")[F.col("pos")]["event_id"].alias("event_id"),
        F.col("rows")[F.col("pos")]["close"].alias("close"),
        F.round(F.col(out), ROUND_DP).alias(out),
    )


def trix_rec(c: np.ndarray, n: int = 9) -> np.ndarray:
    """TRIX(n): triple-smoothed EMA rate of change — 100 * (e3_i /
    e3_{i-1} - 1) where e3 = EMA(EMA(EMA(close, n), n), n), each stage
    SMA-seeded over the PREVIOUS stage's first n outputs (so stage k
    starts at row k*n - k + n... i.e. rows n-1, 2n-2, 3n-3; TRIX itself
    at 3n-2)."""
    e1 = ema_rec(c, n)
    out = np.full(len(c), np.nan)
    if len(c) < 3 * n - 2:
        return out
    e2 = np.full(len(c), np.nan)
    e2[n - 1 :] = ema_rec(e1[n - 1 :], n)
    e3 = np.full(len(c), np.nan)
    e3[2 * n - 2 :] = ema_rec(e2[2 * n - 2 :], n)
    with np.errstate(invalid="ignore", divide="ignore"):
        # zero-guard mirrors the oracle's NULLIF (corpus closes can be 0)
        out[1:] = np.where(
            e3[:-1] != 0.0, 100.0 * (e3[1:] / e3[:-1] - 1.0), np.nan
        )
    return out


def supertrend_rec(
    h: np.ndarray, lo: np.ndarray, c: np.ndarray, n: int = 10, mult: float = 3.0
) -> tuple[np.ndarray, np.ndarray]:
    """Supertrend(n, mult): conditional-state band recurrence — the
    indicator family's first true state MACHINE (the others carry
    numeric state; this one branches on it).

    Definitions (documented convention, mirrored exactly by the oracle):
    basic bands ub/lb = hl2 ± mult*ATR(n); final bands ratchet —
    fub_i = min-style: ub_i if (ub_i < fub_{i-1} or close_{i-1} >
    fub_{i-1}) else fub_{i-1}; flb symmetric.  Direction: up if
    close_i > fub (pre-update comparison uses the UPDATED band of this
    row), down if close_i < flb, else carried.  Output st = flb when
    up, fub when down.  Seeded at the first ATR row with dir=up.

    Returns (st, dir) with dir in {1.0, -1.0} (NaN during warmup)."""
    L = len(c)
    st, dr = np.full(L, np.nan), np.full(L, np.nan)
    atr = atr_rec(h, lo, c, n)
    s = n - 1
    if L <= s or np.isnan(atr[s]):
        return st, dr
    hl2 = (h + lo) / 2.0
    ub = hl2 + mult * atr
    lb = hl2 - mult * atr
    fub, flb, d = ub[s], lb[s], 1.0
    st[s], dr[s] = flb, d
    for i in range(s + 1, L):
        if ub[i] < fub or c[i - 1] > fub:
            fub = ub[i]
        if lb[i] > flb or c[i - 1] < flb:
            flb = lb[i]
        if c[i] > fub:
            d = 1.0
        elif c[i] < flb:
            d = -1.0
        st[i] = flb if d == 1.0 else fub
        dr[i] = d
    return st, dr


def with_trix(df: DataFrame, n: int = 9) -> DataFrame:
    """TRIX(n) momentum over close."""

    def fn(pdf: pd.DataFrame):
        return {f"trix_{n}": trix_rec(pdf["close"].to_numpy(np.float64), n)}

    return _indicator_map(df, {f"trix_{n}": "double"}, fn)


def with_supertrend(df: DataFrame, n: int = 10, mult: float = 3.0) -> DataFrame:
    """Supertrend(n, mult): ratcheted band + direction state machine."""

    def fn(pdf: pd.DataFrame):
        st, dr = supertrend_rec(
            pdf["high"].to_numpy(np.float64),
            pdf["low"].to_numpy(np.float64),
            pdf["close"].to_numpy(np.float64),
            n,
            mult,
        )
        return {"supertrend": st, "st_dir": dr}

    return _indicator_map(df, {"supertrend": "double", "st_dir": "double"}, fn)


def kalman_rec(
    z: np.ndarray, q: float = 0.01, r: float = 1.0
) -> tuple[np.ndarray, np.ndarray]:
    """Local-level Kalman filter (random-walk state, noisy observation):
    predict P+Q, gain K = P/(P+R), update x += K*(z-x), P *= (1-K) —
    the simplest exponential-like smoother whose weight ADAPTS to its
    own uncertainty (vs Holt/EMA's fixed alpha).  Seeded x=z_0, P=1.
    Returns (filtered level, gain)."""
    L = len(z)
    xs, ks = np.full(L, np.nan), np.full(L, np.nan)
    if L == 0:
        return xs, ks
    x, p = z[0], 1.0
    xs[0] = x
    for i in range(1, L):
        pp = p + q
        k = pp / (pp + r)
        x = x + k * (z[i] - x)
        p = (1.0 - k) * pp
        xs[i], ks[i] = x, k
    return xs, ks


def with_kalman(df: DataFrame, q: float = 0.01, r: float = 1.0) -> DataFrame:
    """Kalman local-level filtered close + gain per key."""

    def fn(pdf: pd.DataFrame):
        xs, ks = kalman_rec(pdf["close"].to_numpy(np.float64), q, r)
        return {"kalman_x": xs, "kalman_gain": ks}

    return _indicator_map(df, {"kalman_x": "double", "kalman_gain": "double"}, fn)


def psar_rec(
    h: np.ndarray, lo: np.ndarray, c: np.ndarray, af0: float = 0.02, afmax: float = 0.2
) -> tuple[np.ndarray, np.ndarray]:
    """Parabolic SAR (Wilder): the acceleration-factor state machine —
    four state variables (sar, ep, af, direction), every transition a
    branch on doubles both engines derive through identical op chains.

    Documented convention (mirrored exactly by the recursive-CTE
    oracle): seeded at the second row — up iff close_1 >= close_0, SAR
    = min(low_0, low_1) (up) / max(high_0, high_1) (down), EP the
    opposite extreme, af = af0.  Each later row: predicted SAR =
    sar + af*(ep - sar), clamped to the prior two lows (up) / highs
    (down); reversal when price crosses the clamped SAR (then SAR:=EP,
    EP:=current extreme, af:=af0, direction flips); otherwise EP
    ratchets via max/min and af steps by af0 up to afmax when EP
    improves.  Returns (sar, dir) with dir in {1.0, -1.0}."""
    L = len(c)
    sar_o, dir_o = np.full(L, np.nan), np.full(L, np.nan)
    if L < 2:
        return sar_o, dir_o
    up = bool(c[1] >= c[0])
    if up:
        sar, ep = min(lo[0], lo[1]), max(h[0], h[1])
    else:
        sar, ep = max(h[0], h[1]), min(lo[0], lo[1])
    af = af0
    sar_o[1], dir_o[1] = sar, 1.0 if up else -1.0
    for i in range(2, L):
        pred = sar + af * (ep - sar)
        if up:
            s1 = min(pred, lo[i - 1], lo[i - 2])
            rev = lo[i] < s1
        else:
            s1 = max(pred, h[i - 1], h[i - 2])
            rev = h[i] > s1
        if rev:
            sar = ep
            ep = lo[i] if up else h[i]
            af = af0
            up = not up
        else:
            sar = s1
            if up:
                if h[i] > ep:
                    af = min(af + af0, afmax)
                ep = max(ep, h[i])
            else:
                if lo[i] < ep:
                    af = min(af + af0, afmax)
                ep = min(ep, lo[i])
        sar_o[i], dir_o[i] = sar, 1.0 if up else -1.0
    return sar_o, dir_o


def with_psar(df: DataFrame, af0: float = 0.02, afmax: float = 0.2) -> DataFrame:
    """Parabolic SAR + direction per key."""

    def fn(pdf: pd.DataFrame):
        s, d = psar_rec(
            pdf["high"].to_numpy(np.float64),
            pdf["low"].to_numpy(np.float64),
            pdf["close"].to_numpy(np.float64),
            af0,
            afmax,
        )
        return {"psar": s, "psar_dir": d}

    return _indicator_map(df, {"psar": "double", "psar_dir": "double"}, fn)


def kama_rec(
    c: np.ndarray, n: int = 10, fast: int = 2, slow: int = 30
) -> np.ndarray:
    """Kaufman Adaptive Moving Average: efficiency ratio |Δn| / Σ|Δ1|
    scales the smoothing constant between the fast and slow EMA alphas,
    squared — kama_i = kama_{i-1} + sc·(c_i − kama_{i-1}), seeded
    kama_n = c_n.

    Parity: both ER operands are micro-quantized to exact integers
    (|Δ| rounded half-up at 1e-6), so the rolling denominator sum is
    exact in any accumulation order and ER is a single division of
    identical doubles; the alphas assemble as 2.0/(fast+1) and
    2.0/(slow+1) at runtime on both engines.  ER is 0 when the window
    net movement is zero (flat prices)."""
    L = len(c)
    out = np.full(L, np.nan)
    if L <= n:
        return out
    dq = round_half_up(np.abs(np.diff(c)) * 1e6, 0)  # exact ints as doubles
    numq = round_half_up(np.abs(c[n:] - c[:-n]) * 1e6, 0)
    kf, ks = 2.0 / (fast + 1.0), 2.0 / (slow + 1.0)
    kama = c[n]
    out[n] = kama
    for i in range(n + 1, L):
        den = dq[i - n : i].sum()
        er = numq[i - n] / den if den > 0 else 0.0
        s = er * (kf - ks) + ks
        kama = kama + (s * s) * (c[i] - kama)
        out[i] = kama
    return out


def with_kama(df: DataFrame, n: int = 10, fast: int = 2, slow: int = 30) -> DataFrame:
    """KAMA(n, fast, slow) over close per key."""

    def fn(pdf: pd.DataFrame):
        return {
            f"kama_{n}": kama_rec(pdf["close"].to_numpy(np.float64), n, fast, slow)
        }

    return _indicator_map(df, {f"kama_{n}": "double"}, fn)


def tsi_rec(c: np.ndarray, slow: int = 25, fast: int = 13) -> np.ndarray:
    """True Strength Index: 100 · EMA(EMA(Δc, slow), fast) /
    EMA(EMA(|Δc|, slow), fast) — four chained SMA-seeded EMA
    recursions on the one-step momentum, stage-aligned like TRIX
    (stage k seeds on the previous stage's first n outputs)."""
    L = len(c)
    out = np.full(L, np.nan)
    d = np.diff(c)
    if len(d) < slow:
        return out
    e1 = ema_rec(d, slow)
    e1a = ema_rec(np.abs(d), slow)
    v, va = e1[slow - 1 :], e1a[slow - 1 :]
    if len(v) < fast:
        return out
    e2 = ema_rec(v, fast)
    e2a = ema_rec(va, fast)
    # sub-index j maps to global row j + slow
    with np.errstate(invalid="ignore", divide="ignore"):
        vals = np.where(e2a != 0.0, 100.0 * (e2 / e2a), np.nan)
    out[slow:] = vals
    return out


def with_tsi(df: DataFrame, slow: int = 25, fast: int = 13) -> DataFrame:
    """TSI(slow, fast) momentum over close per key."""

    def fn(pdf: pd.DataFrame):
        return {"tsi": tsi_rec(pdf["close"].to_numpy(np.float64), slow, fast)}

    return _indicator_map(df, {"tsi": "double"}, fn)


def cusum_rec(
    c: np.ndarray, k: float = 0.05, h: float = 0.5
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Two-sided CUSUM changepoint detector on percent log returns:
    s+_i = max(0, s+_{i-1} + (r_i − k)), s−_i = min(0, s−_{i-1} +
    (r_i + k)), alarm when s+ > h or s− < −h.

    r_i = ROUND(100·ln(c_i/c_{i-1}), 4) (0 on the first row or
    non-positive closes) — rounding BEFORE accumulation pins both
    engines to identical summands, and the sequential recurrence gives
    identical accumulation order, so every branch compares
    bit-identical doubles (the Supertrend argument)."""
    L = len(c)
    sp_o, sn_o, al_o = np.full(L, np.nan), np.full(L, np.nan), np.full(L, np.nan)
    r = np.zeros(L)
    if L > 1:
        with np.errstate(invalid="ignore", divide="ignore"):
            valid = (c[1:] > 0) & (c[:-1] > 0)
            raw = np.where(valid, 100.0 * np.log(np.where(valid, c[1:] / c[:-1], 1.0)), 0.0)
        r[1:] = round_half_up(raw, 4)
    sp = sn = 0.0
    for i in range(L):
        sp = max(0.0, sp + (r[i] - k))
        sn = min(0.0, sn + (r[i] + k))
        sp_o[i], sn_o[i] = sp, sn
        al_o[i] = 1.0 if (sp > h or sn < -h) else 0.0
    return sp_o, sn_o, al_o


def with_cusum(df: DataFrame, k: float = 0.05, h: float = 0.5) -> DataFrame:
    """CUSUM(k, h) drift detector over close per key."""

    def fn(pdf: pd.DataFrame):
        sp, sn, al = cusum_rec(pdf["close"].to_numpy(np.float64), k, h)
        return {"cusum_pos": sp, "cusum_neg": sn, "cusum_alarm": al}

    return _indicator_map(
        df, {"cusum_pos": "double", "cusum_neg": "double", "cusum_alarm": "double"}, fn
    )
