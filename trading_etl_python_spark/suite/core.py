"""Reference-core queries (SURVEY.md §2.1): sources/transforms (S4-S5,
P1-P7), window-native indicators (W1, W5, W7, W9-W14), the recursive
family (W2-W4, W6, W8), and range/dedup ops (A1, A3).

Every oracle below starts from BARS_CTE — the SQL twin of
``sources.tables.bars`` (keep them in sync): events -> deterministic OHLCV
so range-based indicators have a non-degenerate high/low spread that both
engines derive bit-identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import recursive as R
from ..operators import transforms as X
from ..operators import windows as W
from ..sources.tables import bars, load_events
from ._registry import registrar

# SQL twin of sources.tables.bars().
BARS_CTE = """bars AS (
  SELECT user_id AS symbol, ts AS time, event_id,
         value AS open,
         value * CAST(1.02 AS DOUBLE) + CAST(0.01 AS DOUBLE) AS high,
         value * CAST(0.98 AS DOUBLE) AS low,
         value AS close,
         CAST(event_id % 1000 + 1 AS BIGINT) AS volume
  FROM events
)"""

KW = "PARTITION BY symbol ORDER BY time, event_id"

QUERIES = {}
ORACLES = {}
TIERS = {}
q = registrar(QUERIES, ORACLES, TIERS)


# --------------------------------------------------------------- transforms


@q(
    "q_json_decode",
    """SELECT event_id, event_type,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
       FROM events""",
)
def q_json_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 — JSON wire decode (consumer.py:146-149) via get_json_object:
    JVM-side JSON path, NULL on malformed input (T7 error isolation)."""
    ev = load_events(spark, sf_dir)
    return ev.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
    )


@q(
    "q_error_isolation",
    """WITH m AS (
         SELECT event_id,
                CASE WHEN event_id % 97 = 0 THEN 'x' || props ELSE props END AS wire
         FROM events)
       SELECT event_id,
              CASE WHEN json_valid(wire)
                   THEN CAST(json_extract_string(wire, '$.k') AS BIGINT) END AS prop_k,
              NOT json_valid(wire) AS is_corrupt
       FROM m""",
)
def q_error_isolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 — per-message error isolation: every ~97th wire message is
    corrupted (leading garbage); PERMISSIVE ``from_json`` with a
    ``columnNameOfCorruptRecord`` routes exactly those rows into the
    corrupt-record column (fields NULL) and the pipeline continues — the
    reference's log-and-skip (producer.py:93-95, consumer.py:184-186)
    without stopping the stream.  The oracle reproduces the corruption
    and the NULL-on-invalid semantics via json_valid."""
    ev = load_events(spark, sf_dir)
    wire = F.when(F.col("event_id") % 97 == 0, F.concat(F.lit("x"), "props")).otherwise(
        F.col("props")
    )
    decoded = F.from_json(
        wire,
        "k long, _corrupt string",
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
    )
    return ev.select(
        "event_id",
        decoded["k"].alias("prop_k"),
        decoded["_corrupt"].isNotNull().alias("is_corrupt"),
    )


@q(
    "q_format_roundtrip",
    """SELECT event_type, COUNT(*) AS n,
              ROUND(SUM(value), 4) AS sum_value,
              MIN(event_id) AS min_id, MAX(event_id) AS max_id
       FROM events GROUP BY event_type""",
)
def q_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 (format breadth) — events round-tripped through ORC (Spark's
    second native columnar format) must aggregate identically to the
    parquet original: the oracle reads parquet, the Spark side reads the
    ORC copy it just wrote, so any loss/corruption in the ORC write/read
    path (types, timestamps, nulls) breaks the value hash."""
    import tempfile

    from ..sources.formats import read_orc, write_orc

    ev = load_events(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="orc_rt_")
    write_orc(ev, f"{tmp}/events_orc")
    back = read_orc(spark, f"{tmp}/events_orc")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


@q(
    "q_rename_project",
    f"WITH {BARS_CTE} SELECT symbol, time, event_id, open, high, low, close, volume FROM bars",
)
def q_rename_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+P2+P3 — rename to storage schema + ordered projection
    (backfill.py:118-137); the bars derivation IS this adaptation."""
    return bars(spark, sf_dir).select(
        "symbol", "time", "event_id", "open", "high", "low", "close", "volume"
    )


@q(
    "q_null_filter",
    """SELECT event_id, user_id, value FROM events
       WHERE value IS NOT NULL AND ts IS NOT NULL AND props IS NOT NULL""",
)
def q_null_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 — drop rows missing required fields (producer.py:67-75).
    Predicate pushes to the parquet scan (PushedFilters)."""
    ev = load_events(spark, sf_dir)
    return X.null_filter(ev, ["value", "ts", "props"]).select("event_id", "user_id", "value")


@q(
    "q_epoch_convert",
    """SELECT event_id, epoch_ms(ts) AS epoch_ms, epoch_us(ts) AS epoch_us FROM events""",
)
def q_epoch_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 — epoch-unit conversions (producer.py:78 sec->ms;
    consumer.py:149 ms->timestamp)."""
    ev = load_events(spark, sf_dir)
    return ev.select(
        "event_id",
        X.ts_to_epoch_ms("ts").alias("epoch_ms"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("epoch_us"),
    )


@q(
    "q_tick_widen",
    """SELECT user_id AS symbol, ts AS time, event_id,
       value AS open, value AS high, value AS low, value AS close,
       CAST(NULL AS BIGINT) AS volume
       FROM events""",
)
def q_tick_widen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 — tick -> pseudo-OHLCV (consumer.py:153-160): o=h=l=c=price,
    volume NULL (streaming has no volume)."""
    ev = load_events(spark, sf_dir).select(
        F.col("user_id").alias("symbol"), F.col("ts").alias("time"), "event_id",
        F.col("value").alias("price"),
    )
    return X.tick_widen(ev, "price")


@q(
    "q_upsert_ignore",
    f"""WITH {BARS_CTE}
    SELECT symbol, time, event_id, close FROM (
      SELECT symbol, time, event_id, close,
             ROW_NUMBER() OVER (PARTITION BY symbol, time ORDER BY event_id) AS rn
      FROM bars) t WHERE rn = 1""",
)
def q_upsert_ignore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/A1 — first-writer-wins PK dedup = INSERT ... ON CONFLICT
    (time,symbol) DO NOTHING (consumer.py:197-201)."""
    b = bars(spark, sf_dir).select("symbol", "time", "event_id", "close")
    return X.upsert_ignore(b, ["symbol", "time"], "event_id")


# ------------------------------------------------- window-native indicators


@q(
    "q_sma",
    f"""WITH {BARS_CTE}
    SELECT symbol, time, event_id,
      CASE WHEN COUNT(close) OVER w >= 20 THEN ROUND(AVG(close) OVER w, 4) END AS sma_20
    FROM bars
    WINDOW w AS ({KW} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)""",
)
def q_sma(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.with_sma(bars(spark, sf_dir), 20).select("symbol", "time", "event_id", "sma_20")


@q(
    "q_bbands",
    f"""WITH {BARS_CTE}
    SELECT symbol, time, event_id,
      CASE WHEN COUNT(close) OVER w >= 20 THEN ROUND(AVG(close) OVER w, 4) END AS bb_mid,
      CASE WHEN COUNT(close) OVER w >= 20
           THEN ROUND(AVG(close) OVER w + 2.0 * STDDEV_SAMP(close) OVER w, 4) END AS bb_upper,
      CASE WHEN COUNT(close) OVER w >= 20
           THEN ROUND(AVG(close) OVER w - 2.0 * STDDEV_SAMP(close) OVER w, 4) END AS bb_lower
    FROM bars
    WINDOW w AS ({KW} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)""",
)
def q_bbands(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.with_bbands(bars(spark, sf_dir), 20, 2.0).select(
        "symbol", "time", "event_id", "bb_mid", "bb_upper", "bb_lower"
    )


@q(
    "q_stoch",
    f"""WITH {BARS_CTE},
    raw AS (
      SELECT symbol, time, event_id,
        CASE WHEN COUNT(close) OVER w >= 14 THEN
          100.0 * (close - MIN(low) OVER w) / NULLIF(MAX(high) OVER w - MIN(low) OVER w, 0.0)
        END AS k_raw
      FROM bars
      WINDOW w AS ({KW} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
    SELECT symbol, time, event_id,
      CASE WHEN COUNT(k_raw) OVER w3 >= 3 THEN ROUND(AVG(k_raw) OVER w3, 4) END AS stoch_k_14
    FROM raw
    WINDOW w3 AS ({KW} ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""",
)
def q_stoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.with_stoch(bars(spark, sf_dir), 14, 3).select(
        "symbol", "time", "event_id", "stoch_k_14"
    )


@q(
    "q_mfi",
    f"""WITH {BARS_CTE},
    t AS (
      SELECT symbol, time, event_id, volume,
        (high + low + close) / 3.0 AS tp,
        LAG((high + low + close) / 3.0) OVER ({KW}) AS tp_prev
      FROM bars),
    f AS (
      SELECT symbol, time, event_id,
        CASE WHEN tp_prev IS NULL THEN NULL
             WHEN tp > tp_prev THEN tp * volume ELSE 0.0 END AS pos,
        CASE WHEN tp_prev IS NULL THEN NULL
             WHEN tp < tp_prev THEN tp * volume ELSE 0.0 END AS neg
      FROM t)
    SELECT symbol, time, event_id,
      CASE WHEN COUNT(pos) OVER w >= 14 THEN
        ROUND(100.0 * SUM(pos) OVER w / NULLIF(SUM(pos) OVER w + SUM(neg) OVER w, 0.0), 4)
      END AS mfi_14
    FROM f
    WINDOW w AS ({KW} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)""",
)
def q_mfi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.with_mfi(bars(spark, sf_dir), 14).select("symbol", "time", "event_id", "mfi_14")


@q(
    "q_obv",
    f"""WITH {BARS_CTE},
    s AS (
      SELECT symbol, time, event_id, close, volume,
        LAG(close) OVER ({KW}) AS pc
      FROM bars)
    SELECT symbol, time, event_id,
      CAST(SUM(CASE WHEN pc IS NULL THEN 0
                    WHEN close > pc THEN volume
                    WHEN close < pc THEN -volume ELSE 0 END)
        OVER ({KW} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS obv
    FROM s""",
)
def q_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.with_obv(bars(spark, sf_dir)).select("symbol", "time", "event_id", "obv")


@q(
    "q_vwap",
    f"""WITH {BARS_CTE}
    SELECT symbol, time, event_id,
      ROUND(CAST(SUM(CAST(ROUND((high + low + close) / 3.0 * 1000000.0, 0) AS BIGINT)
                     * volume) OVER w AS DOUBLE)
            / NULLIF(1000000.0 * CAST(SUM(volume) OVER w AS DOUBLE), 0.0), 4) AS vwap
    FROM bars
    WINDOW w AS (PARTITION BY symbol, CAST(time AS DATE) ORDER BY time, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
)
def q_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.with_vwap(bars(spark, sf_dir)).select("symbol", "time", "event_id", "vwap")


@q(
    "q_warmup_gate",
    f"""WITH {BARS_CTE},
    s AS (
      SELECT symbol, time, event_id, close,
        CASE WHEN COUNT(close) OVER wf >= 20 THEN ROUND(AVG(close) OVER wf, 4) END AS sma_20,
        COUNT(*) OVER ({KW} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hist
      FROM bars
      WINDOW wf AS ({KW} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
    SELECT symbol, time, event_id, close, sma_20
    FROM s WHERE hist >= 26 AND sma_20 IS NOT NULL""",
)
def q_warmup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W12 — the reference's 26-row emission gate (consumer.py:165-173)."""
    b = W.with_sma(bars(spark, sf_dir), 20)
    return W.with_warmup_gate(b, 26, "sma_20").select(
        "symbol", "time", "event_id", "close", "sma_20"
    )


@q(
    "q_latest_per_key",
    f"""WITH {BARS_CTE}
    SELECT symbol, time, event_id, close FROM (
      SELECT symbol, time, event_id, close,
        ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY time DESC, event_id DESC) AS rn
      FROM bars) t WHERE rn = 1""",
)
def q_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W13 — latest row per key via max_by (partial-agg shuffle, no sort)."""
    b = bars(spark, sf_dir).select("symbol", "time", "event_id", "close")
    return W.latest_per_key(b).select("symbol", "time", "event_id", "close")


@q(
    "q_lookback_trim",
    f"""WITH {BARS_CTE}
    SELECT symbol, time, event_id, close FROM (
      SELECT symbol, time, event_id, close,
        ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY time DESC, event_id DESC) AS rn
      FROM bars) t WHERE rn <= 60""",
)
def q_lookback_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W14 — bounded 60-row per-key state (consumer.py:33,162-163)."""
    b = bars(spark, sf_dir).select("symbol", "time", "event_id", "close")
    return W.lookback_trim(b, 60)


@q(
    "q_time_range",
    f"""WITH {BARS_CTE}
    SELECT symbol, time, event_id, close FROM bars
    WHERE time BETWEEN TIMESTAMP '2024-01-10 00:00:00' AND TIMESTAMP '2024-01-15 00:00:00'""",
)
def q_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — historical range query (roadmap.md:44-46); the predicate
    pushes down to the scan / prunes date partitions."""
    b = bars(spark, sf_dir).select("symbol", "time", "event_id", "close")
    return W.time_range(b, "2024-01-10 00:00:00", "2024-01-15 00:00:00")


# ------------------------------------------------------- recursive family
# Oracles are per-key recursive CTEs implementing the *identical*
# recurrences as operators/recursive.py (SMA seed + exponential update).


@q(
    "q_ema",
    f"""WITH RECURSIVE {BARS_CTE},
    base AS (
      SELECT symbol, time, event_id, close,
        ROW_NUMBER() OVER ({KW}) AS rn,
        AVG(close) OVER ({KW} ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS sma10,
        AVG(close) OVER ({KW} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS sma20
      FROM bars),
    r10 AS (
      SELECT symbol, rn, sma10 AS ema FROM base WHERE rn = 10
      UNION ALL
      SELECT b.symbol, b.rn, (2.0/11.0) * b.close + (1.0 - 2.0/11.0) * r.ema
      FROM base b JOIN r10 r ON b.symbol = r.symbol AND b.rn = r.rn + 1),
    r20 AS (
      SELECT symbol, rn, sma20 AS ema FROM base WHERE rn = 20
      UNION ALL
      SELECT b.symbol, b.rn, (2.0/21.0) * b.close + (1.0 - 2.0/21.0) * r.ema
      FROM base b JOIN r20 r ON b.symbol = r.symbol AND b.rn = r.rn + 1)
    SELECT b.symbol, b.time, b.event_id,
           ROUND(a.ema, 4) AS ema_10, ROUND(c.ema, 4) AS ema_20
    FROM base b
    LEFT JOIN r10 a ON b.symbol = a.symbol AND b.rn = a.rn
    LEFT JOIN r20 c ON b.symbol = c.symbol AND b.rn = c.rn""",
)
def q_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.with_ema(bars(spark, sf_dir), (10, 20)).select(
        "symbol", "time", "event_id", "ema_10", "ema_20"
    )


@q(
    "q_rsi",
    f"""WITH RECURSIVE {BARS_CTE},
    d AS (
      SELECT symbol, time, event_id, close,
        ROW_NUMBER() OVER ({KW}) AS rn,
        close - LAG(close) OVER ({KW}) AS delta
      FROM bars),
    g AS (
      SELECT symbol, time, event_id, rn,
        CASE WHEN delta IS NULL THEN NULL WHEN delta > 0 THEN delta ELSE 0.0 END AS gain,
        CASE WHEN delta IS NULL THEN NULL WHEN delta < 0 THEN -delta ELSE 0.0 END AS loss,
        AVG(CASE WHEN delta IS NULL THEN NULL WHEN delta > 0 THEN delta ELSE 0.0 END)
          OVER ({KW} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS seed_ag,
        AVG(CASE WHEN delta IS NULL THEN NULL WHEN delta < 0 THEN -delta ELSE 0.0 END)
          OVER ({KW} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS seed_al
      FROM d),
    rec AS (
      SELECT symbol, rn, seed_ag AS ag, seed_al AS al FROM g WHERE rn = 15
      UNION ALL
      SELECT x.symbol, x.rn,
        (1.0/14.0) * x.gain + (1.0 - 1.0/14.0) * r.ag,
        (1.0/14.0) * x.loss + (1.0 - 1.0/14.0) * r.al
      FROM g x JOIN rec r ON x.symbol = r.symbol AND x.rn = r.rn + 1)
    SELECT g.symbol, g.time, g.event_id,
      CASE WHEN r.ag + r.al > 0 THEN ROUND(100.0 * r.ag / (r.ag + r.al), 4) END AS rsi_14
    FROM g LEFT JOIN rec r ON g.symbol = r.symbol AND g.rn = r.rn""",
)
def q_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.with_rsi(bars(spark, sf_dir), 14).select("symbol", "time", "event_id", "rsi_14")


@q(
    "q_macd",
    f"""WITH RECURSIVE {BARS_CTE},
    base AS (
      SELECT symbol, time, event_id, close,
        ROW_NUMBER() OVER ({KW}) AS rn,
        AVG(close) OVER ({KW} ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS sma12,
        AVG(close) OVER ({KW} ROWS BETWEEN 25 PRECEDING AND CURRENT ROW) AS sma26
      FROM bars),
    r12 AS (
      SELECT symbol, rn, sma12 AS ema FROM base WHERE rn = 12
      UNION ALL
      SELECT b.symbol, b.rn, (2.0/13.0) * b.close + (1.0 - 2.0/13.0) * r.ema
      FROM base b JOIN r12 r ON b.symbol = r.symbol AND b.rn = r.rn + 1),
    r26 AS (
      SELECT symbol, rn, sma26 AS ema FROM base WHERE rn = 26
      UNION ALL
      SELECT b.symbol, b.rn, (2.0/27.0) * b.close + (1.0 - 2.0/27.0) * r.ema
      FROM base b JOIN r26 r ON b.symbol = r.symbol AND b.rn = r.rn + 1)
    SELECT b.symbol, b.time, b.event_id,
      CASE WHEN a.ema IS NOT NULL AND c.ema IS NOT NULL
           THEN ROUND(a.ema - c.ema, 4) END AS macd_line
    FROM base b
    LEFT JOIN r12 a ON b.symbol = a.symbol AND b.rn = a.rn
    LEFT JOIN r26 c ON b.symbol = c.symbol AND b.rn = c.rn""",
)
def q_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.with_macd(bars(spark, sf_dir), 12, 26).select(
        "symbol", "time", "event_id", "macd_line"
    )


@q(
    "q_atr",
    f"""WITH RECURSIVE {BARS_CTE},
    t AS (
      SELECT symbol, time, event_id,
        ROW_NUMBER() OVER ({KW}) AS rn,
        CASE WHEN LAG(close) OVER ({KW}) IS NULL THEN high - low
             ELSE GREATEST(high - low,
                           ABS(high - LAG(close) OVER ({KW})),
                           ABS(low - LAG(close) OVER ({KW}))) END AS tr
      FROM bars),
    s AS (
      SELECT symbol, time, event_id, rn, tr,
        AVG(tr) OVER (PARTITION BY symbol ORDER BY rn
                      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS seed
      FROM t),
    rec AS (
      SELECT symbol, rn, seed AS atr FROM s WHERE rn = 14
      UNION ALL
      SELECT x.symbol, x.rn, (1.0/14.0) * x.tr + (1.0 - 1.0/14.0) * r.atr
      FROM s x JOIN rec r ON x.symbol = r.symbol AND x.rn = r.rn + 1)
    SELECT s.symbol, s.time, s.event_id, ROUND(r.atr, 4) AS atr_14
    FROM s LEFT JOIN rec r ON s.symbol = r.symbol AND s.rn = r.rn""",
)
def q_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.with_atr(bars(spark, sf_dir), 14).select("symbol", "time", "event_id", "atr_14")


@q(
    "q_adx",
    f"""WITH RECURSIVE {BARS_CTE},
    d AS (
      SELECT symbol, time, event_id,
        ROW_NUMBER() OVER ({KW}) AS rn,
        high - LAG(high) OVER ({KW}) AS up,
        LAG(low) OVER ({KW}) - low AS dn,
        GREATEST(high - low,
                 ABS(high - LAG(close) OVER ({KW})),
                 ABS(low - LAG(close) OVER ({KW}))) AS tr
      FROM bars),
    m AS (
      SELECT symbol, time, event_id, rn,
        CASE WHEN up > dn AND up > 0 THEN up ELSE 0.0 END AS pdm,
        CASE WHEN dn > up AND dn > 0 THEN dn ELSE 0.0 END AS mdm,
        tr
      FROM d WHERE rn >= 2),
    seeds AS (
      SELECT symbol, time, event_id, rn, pdm, mdm, tr,
        AVG(pdm) OVER wr AS seed_sp, AVG(mdm) OVER wr AS seed_sm, AVG(tr) OVER wr AS seed_st
      FROM m
      WINDOW wr AS (PARTITION BY symbol ORDER BY rn ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
    rec AS (
      SELECT symbol, rn, seed_sp AS sp, seed_sm AS sm, seed_st AS st,
        COALESCE(CASE WHEN seed_st <= 0 THEN NULL
                      WHEN (100.0*seed_sp/seed_st + 100.0*seed_sm/seed_st) <= 0 THEN NULL
                      ELSE 100.0 * ABS(100.0*seed_sp/seed_st - 100.0*seed_sm/seed_st)
                                 / (100.0*seed_sp/seed_st + 100.0*seed_sm/seed_st) END, 0.0) AS dxsum,
        CASE WHEN seed_st <= 0 THEN 0
             WHEN (100.0*seed_sp/seed_st + 100.0*seed_sm/seed_st) <= 0 THEN 0 ELSE 1 END AS dxcnt,
        CAST(NULL AS DOUBLE) AS adx
      FROM seeds WHERE rn = 15
      UNION ALL
      SELECT symbol, rn, sp2, sm2, st2,
        dxsum + COALESCE(dx2, 0.0),
        dxcnt + CASE WHEN dx2 IS NULL THEN 0 ELSE 1 END,
        CASE WHEN rn < 28 THEN CAST(NULL AS DOUBLE)
             WHEN rn = 28 THEN
               CASE WHEN dxcnt + CASE WHEN dx2 IS NULL THEN 0 ELSE 1 END > 0
                    THEN (dxsum + COALESCE(dx2, 0.0))
                         / (dxcnt + CASE WHEN dx2 IS NULL THEN 0 ELSE 1 END) END
             ELSE CASE WHEN dx2 IS NULL THEN adx
                       ELSE (1.0/14.0) * dx2 + (1.0 - 1.0/14.0) * adx END END
      FROM (
        SELECT y.*,
          CASE WHEN y.st2 <= 0 THEN NULL
               WHEN (100.0*y.sp2/y.st2 + 100.0*y.sm2/y.st2) <= 0 THEN NULL
               ELSE 100.0 * ABS(100.0*y.sp2/y.st2 - 100.0*y.sm2/y.st2)
                          / (100.0*y.sp2/y.st2 + 100.0*y.sm2/y.st2) END AS dx2
        FROM (
          SELECT s.symbol, s.rn,
            (1.0/14.0) * s.pdm + (1.0 - 1.0/14.0) * r.sp AS sp2,
            (1.0/14.0) * s.mdm + (1.0 - 1.0/14.0) * r.sm AS sm2,
            (1.0/14.0) * s.tr  + (1.0 - 1.0/14.0) * r.st AS st2,
            r.dxsum, r.dxcnt, r.adx
          FROM seeds s JOIN rec r ON s.symbol = r.symbol AND s.rn = r.rn + 1) y) z)
    SELECT d.symbol, d.time, d.event_id, ROUND(r.adx, 4) AS adx_14
    FROM d LEFT JOIN rec r ON d.symbol = r.symbol AND d.rn = r.rn""",
)
def q_adx(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.with_adx(bars(spark, sf_dir), 14).select("symbol", "time", "event_id", "adx_14")


@q(
    "q_dq_report",
    """WITH w AS (
         SELECT
           SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS a1,
           SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS a2,
           SUM(CASE WHEN value < 0 OR value > 1000 THEN 1 ELSE 0 END) AS a3,
           COUNT(*) - COUNT(DISTINCT (CAST(user_id AS VARCHAR) || chr(31) || CAST(ts AS VARCHAR))) AS a4,
           COUNT(*) AS n_rows
         FROM events)
       SELECT 'null:ts' AS constraint, CAST(a1 AS BIGINT) AS violations, n_rows FROM w
       UNION ALL SELECT 'null:value', CAST(a2 AS BIGINT), n_rows FROM w
       UNION ALL SELECT 'range:value', CAST(a3 AS BIGINT), n_rows FROM w
       UNION ALL SELECT 'unique:user_id,ts', CAST(a4 AS BIGINT), n_rows FROM w""",
)
def q_dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data-quality expectations over the events stream:
    null / range / key-uniqueness violation counts
    (operators/transforms.dq_report)."""
    ev = load_events(spark, sf_dir)
    return X.dq_report(
        ev,
        not_null=("ts", "value"),
        unique_key=("user_id", "ts"),
        ranges={"value": (0.0, 1000.0)},
    )
