"""Structured Streaming pipeline: availableNow replay of the events
table through the stateful indicator operator + idempotent sink."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from trading_etl_python_spark.operators import recursive as R
from trading_etl_python_spark.operators import windows as W
from trading_etl_python_spark.sources.tables import load_events
from trading_etl_python_spark.streaming.pipeline import (
    WARMUP,
    events_file_stream,
    run_replay_pipeline,
    stream_windowed_stats,
)


@pytest.fixture(scope="module")
def replay(spark, sf_dir):
    with tempfile.TemporaryDirectory(prefix="ckpt_") as ckpt:
        yield run_replay_pipeline(spark, sf_dir, ckpt).cache()


def test_replay_emits_gated_rows(replay):
    assert replay.count() > 0
    assert replay.filter(F.col("sma_20").isNull()).count() == 0


def test_replay_matches_batch_warmup_count(spark, sf_dir, replay):
    """Single-batch replay == batch semantics: same gated row count as
    the batch warmup-gate query."""
    ev = load_events(spark, sf_dir)
    bars = ev.select(
        F.col("user_id").alias("symbol"), F.col("ts").alias("time"), "event_id",
        F.col("value").alias("close"),
    )
    batch = W.with_warmup_gate(W.with_sma(bars, 20), WARMUP, "sma_20")
    assert replay.count() == batch.count()


def test_restart_with_same_checkpoint_is_idempotent(spark, sf_dir):
    """Recovery semantics (T4): re-starting the query with the same
    checkpoint and sink must not duplicate rows — the source is already
    fully consumed per the checkpoint, and even a replayed batch would be
    absorbed by the upsert-ignore sink."""
    with tempfile.TemporaryDirectory(prefix="ckpt_") as ckpt:
        # default sink lives with the checkpoint, so a bare restart with
        # only the checkpoint dir must also be idempotent
        first = run_replay_pipeline(spark, sf_dir, ckpt).count()
        assert first > 0
        second = run_replay_pipeline(spark, sf_dir, ckpt).count()
        assert second == first


def test_windowed_stats_with_watermark_match_batch(spark, sf_dir):
    """Append-mode watermarked windows must (a) only contain finalized
    windows and (b) agree exactly with the batch tumbling aggregation on
    every emitted window."""
    with tempfile.TemporaryDirectory(prefix="ckpt_wm_") as ckpt:
        ticks = events_file_stream(spark, sf_dir).select(
            F.col("user_id").alias("symbol"), F.col("ts").alias("time"),
            F.col("value").alias("close"),
        )
        q = (
            stream_windowed_stats(ticks)
            .writeStream.format("memory")
            .queryName("wm_out")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        emitted = {
            (r.win_start, r.symbol): (r.n_ticks, r.avg_close, r.max_close)
            for r in spark.sql("SELECT * FROM wm_out").collect()
        }

    ev = load_events(spark, sf_dir)
    batch_rows = (
        ev.groupBy(F.window(F.col("ts"), "1 hour").alias("w"), F.col("user_id").alias("symbol"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 4).alias("avg_v"),
            F.round(F.max("value"), 4).alias("max_v"),
        )
        .collect()
    )
    batch = {(r.w.start, r.symbol): (r.n, r.avg_v, r.max_v) for r in batch_rows}
    max_ts = ev.agg(F.max("ts")).collect()[0][0]

    assert emitted, "no windows emitted"
    for key, vals in emitted.items():
        assert batch[key] == vals  # exact agreement with batch semantics
    # every window that closed before the final watermark must be present
    import datetime as dt

    final_wm = max_ts - dt.timedelta(minutes=30)
    closed = {
        (ws, sym)
        for (ws, sym) in batch
        if ws + dt.timedelta(hours=1) <= final_wm.replace(tzinfo=None)
    }
    missing = closed - set(emitted)
    assert not missing, f"{len(missing)} finalized windows not emitted"


def test_replay_ema_matches_batch(spark, sf_dir, replay):
    """Streaming EMA values equal the batch applyInPandas EMA on the
    same history (one batch -> no trim effects)."""
    ev = load_events(spark, sf_dir)
    bars = ev.select(
        F.col("user_id").alias("symbol"), F.col("ts").alias("time"), "event_id",
        F.col("value").alias("close"),
    ).withColumn("high", F.col("close")).withColumn("low", F.col("close")).withColumn(
        "open", F.col("close")
    ).withColumn("volume", F.lit(1).cast("long"))
    batch = {
        (r.symbol, r.event_id): r.ema_10
        for r in R.with_ema(bars, (10,)).select("symbol", "event_id", "ema_10").collect()
    }
    stream_rows = replay.select("symbol", "event_id", "ema_10").collect()
    assert len(stream_rows) > 0
    for r in stream_rows:
        assert batch[(r.symbol, r.event_id)] == pytest.approx(r.ema_10, abs=1e-9), (
            r.symbol,
            r.event_id,
        )


class _FakeGroupState:
    """In-process stand-in for applyInPandasWithState's GroupState."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def test_stateful_fn_gates_carries_and_trims_buffer():
    """``_stateful_fn`` driven in-process against a fake GroupState, on
    the schedule the engine delivers per key: three 30-tick micro-batches
    for each of two symbols.  Only gated rows come out (>= WARMUP rows of
    history and a non-NULL sma_20), the buffer carries across batches
    (batch 2's first rows are gated on batch 1's history, and every SMA
    equals the full-history rolling mean), and the state is trimmed to
    the last LOOKBACK ticks."""
    import numpy as np
    import pandas as pd

    from trading_etl_python_spark.streaming import pipeline as P

    n = 90
    for sym in (1, 2):
        ticks = pd.DataFrame(
            {
                "symbol": sym,
                "time": pd.Timestamp("2024-01-01") + pd.to_timedelta(np.arange(n), unit="s"),
                "event_id": 1000 * sym + np.arange(n),
                "close": [100.0 + ((i * 7 + sym * 3) % 13) - 6.0 for i in range(n)],
            }
        )
        sma = ticks["close"].rolling(20).mean().round(4)
        gstate = _FakeGroupState()
        emitted = []
        for lo in (0, 30, 60):
            batch = ticks.iloc[lo : lo + 30].copy()
            outs = list(P._stateful_fn((sym,), iter([batch]), gstate))
            assert len(outs) == 1
            emitted.append(outs[0])
            # the buffer carries: the state holds every tick so far, up to LOOKBACK
            assert gstate.get[1] == list(ticks["event_id"][: lo + 30][-P.LOOKBACK :])

        idx = [np.asarray(out["event_id"] - 1000 * sym) for out in emitted]
        # batch 1 starts from an empty buffer: only rows with WARMUP rows of history
        assert list(idx[0]) == list(range(P.WARMUP - 1, 30))
        # batches 2 and 3 extend the carried buffer, so all their rows pass the gate
        assert list(idx[1]) == list(range(30, 60))
        assert list(idx[2]) == list(range(60, 90))
        for out, i in zip(emitted, idx):
            assert out["sma_20"].notna().all()
            assert (i + 1 >= P.WARMUP).all()
            np.testing.assert_allclose(out["sma_20"], sma.iloc[i], rtol=0, atol=1e-9)
        # trimmed to the LOOKBACK tail after batch 3 (90 ticks seen)
        times, eids, closes = gstate.get
        assert len(times) == len(eids) == len(closes) == P.LOOKBACK
        assert eids == list(ticks["event_id"][n - P.LOOKBACK :])


def test_stream_candles_match_batch(spark, sf_dir):
    """Every candle the stream emits (closed windows only, append mode)
    must equal the batch rollup of the same ticks."""
    with tempfile.TemporaryDirectory(prefix="ckpt_candle_") as ckpt:
        from trading_etl_python_spark.streaming.pipeline import stream_candles

        ticks = events_file_stream(spark, sf_dir).select(
            F.col("user_id").alias("symbol"), F.col("ts").alias("time"),
            F.col("value").alias("close"),
        )
        q = (
            stream_candles(ticks)
            .writeStream.format("memory")
            .queryName("candle_out")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        emitted = {
            (r.symbol, r.bucket_start): (r.open_px, r.high_px, r.low_px, r.close_px, r.n_ticks)
            for r in spark.sql("SELECT * FROM candle_out").collect()
        }
        assert emitted, "stream emitted no closed candles"

        from trading_etl_python_spark.sources.tables import load_events

        ev = load_events(spark, sf_dir)
        batch = (
            ev.groupBy(F.col("user_id").alias("symbol"), F.window("ts", "1 hour").alias("w"))
            .agg(
                F.min_by("value", "ts").alias("open_px"),
                F.max("value").alias("high_px"),
                F.min("value").alias("low_px"),
                F.max_by("value", "ts").alias("close_px"),
                F.count(F.lit(1)).alias("n_ticks"),
            )
            .select("symbol", F.col("w.start").alias("bucket_start"),
                    "open_px", "high_px", "low_px", "close_px", "n_ticks")
        )
        expect = {
            (r.symbol, r.bucket_start): (r.open_px, r.high_px, r.low_px, r.close_px, r.n_ticks)
            for r in batch.collect()
        }
        for k, v in emitted.items():
            assert expect[k] == v, k


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """Watermarked stream-stream interval join emits exactly the pairs
    the batch equi+range join produces (single availableNow replay: all
    data inside the watermark horizon)."""
    from trading_etl_python_spark.streaming.pipeline import stream_stream_join

    with tempfile.TemporaryDirectory(prefix="ckpt_ssj_") as ckpt:
        src = events_file_stream(spark, sf_dir)
        probes = src.filter(F.col("event_type").isin("view", "click")).select(
            "user_id", "event_id", "ts"
        )
        wins = src.filter(F.col("event_type") == "error").select(
            "user_id", "event_id", "ts"
        )
        q = (
            stream_stream_join(probes, wins)
            .writeStream.format("memory")
            .queryName("ssj_out")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            (r.probe_event_id, r.window_event_id)
            for r in spark.sql("SELECT * FROM ssj_out").collect()
        }

    ev = load_events(spark, sf_dir)
    p = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id", F.col("event_id").alias("pid"), "ts"
    )
    w = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("wu"), F.col("event_id").alias("wid"),
        F.col("ts").alias("wts"),
    )
    batch = {
        (r.pid, r.wid)
        for r in p.join(
            w,
            (F.col("user_id") == F.col("wu"))
            & (F.col("ts") >= F.col("wts"))
            & (F.col("ts") <= F.col("wts") + F.expr("INTERVAL 10 MINUTES")),
        ).collect()
    }
    assert got == batch and batch, f"stream {len(got)} vs batch {len(batch)}"


def test_stream_dedup_within_watermark(spark, sf_dir):
    """A duplicated tick stream (every row delivered twice, as a replayed
    micro-batch would) must come out unique on (symbol, time)."""
    import os

    from trading_etl_python_spark.streaming.pipeline import (
        stream_dedup_within_watermark,
    )

    with tempfile.TemporaryDirectory(prefix="dd_") as tmp:
        ev = load_events(spark, sf_dir).limit(500).select(
            F.col("user_id").alias("symbol"), F.col("ts").alias("time"),
            F.col("value").alias("close"),
        )
        dup_dir = os.path.join(tmp, "in")
        ev.union(ev).write.parquet(dup_dir)
        ticks = (
            spark.readStream.schema("symbol long, time timestamp, close double")
            .parquet(dup_dir)
        )
        q = (
            stream_dedup_within_watermark(ticks)
            .writeStream.format("memory")
            .queryName("dd_out")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.sql("SELECT symbol, time FROM dd_out").collect()
    keys = [(r.symbol, r.time) for r in rows]
    assert len(keys) == len(set(keys)), "duplicates survived"
    assert len(set(keys)) == ev.count()


def test_wire_contract_end_to_end_from_rate_source(spark):
    """S2 closure: the Kafka wire contract exercised end-to-end WITHOUT a
    broker.  A rate source stands in for the tick fetcher; ticks are
    encoded with ``json_encode_wire`` (the exact ``df.write.format
    ("kafka")`` sink contract: binary key = symbol, binary value = the
    4-field JSON payload of producer.py:81-86), decoded back with the
    versioned wire schema, and fed through the keyed stateful indicator
    operator into a sink — the same code path a real Kafka topic would
    take, minus only the broker socket.

    Byte-level assertions run on REAL streamed micro-batches via
    foreachBatch, not on a batch transliteration."""
    import json

    from trading_etl_python_spark.operators.transforms import (
        TICK_WIRE_SCHEMA,
        json_decode,
        json_encode_wire,
    )
    from trading_etl_python_spark.streaming.pipeline import stream_indicators

    rate = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 300)
        .option("numPartitions", 4)
        .load()
    )
    ticks = rate.select(
        (F.col("value") % 3).cast("string").alias("symbol"),
        (100.0 + (F.col("value") % 13).cast("double")).alias("price"),
        F.unix_millis(F.col("timestamp")).alias("timestamp"),
        (F.unix_millis(F.col("timestamp")) + F.lit(250)).alias("fetched_at"),
    )
    wire = json_encode_wire(ticks)
    # sink contract columns, streaming side
    assert dict(wire.dtypes) == {"key": "binary", "value": "binary"}

    seen = {"batches": 0, "rows": 0}

    def validate_wire(batch_df, batch_id):
        rows = batch_df.collect()
        if not rows:
            return
        seen["batches"] += 1
        seen["rows"] += len(rows)
        for r in rows:
            assert isinstance(bytes(r.key), bytes)
            payload = json.loads(bytes(r.value).decode("utf-8"))
            # exactly the producer's 4-field payload, keyed by symbol
            assert set(payload) == {"symbol", "price", "timestamp", "fetched_at"}
            assert bytes(r.key) == payload["symbol"].encode("utf-8")
            assert isinstance(payload["price"], float)
            assert payload["fetched_at"] - payload["timestamp"] == 250

    q1 = wire.writeStream.foreachBatch(validate_wire).trigger(processingTime="0 seconds").start()
    try:
        deadline = __import__("time").time() + 30
        while seen["rows"] < 600 and __import__("time").time() < deadline:
            __import__("time").sleep(0.5)
    finally:
        q1.stop()
    assert seen["batches"] >= 2 and seen["rows"] >= 600  # multiple real micro-batches

    # full chain: encode -> decode -> typed ticks -> keyed state -> sink
    decoded = json_decode(
        wire.select(F.col("value").cast("string").alias("v")), "v", TICK_WIRE_SCHEMA
    ).select("_decoded.*")
    typed = decoded.select(
        F.col("symbol").cast("long").alias("symbol"),
        F.timestamp_millis(F.col("timestamp")).alias("time"),
        F.col("timestamp").alias("event_id"),
        F.col("price").alias("close"),
    ).filter(F.col("close").isNotNull() & F.col("time").isNotNull())
    gated = stream_indicators(typed)
    q2 = (
        gated.writeStream.format("memory")
        .queryName("wire_e2e")
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = __import__("time").time() + 60
        while (
            spark.table("wire_e2e").count() == 0 and __import__("time").time() < deadline
        ):
            __import__("time").sleep(0.5)
        out = spark.table("wire_e2e")
        assert out.count() > 0  # warmup gate crossed through the wire path
        assert out.filter(F.col("sma_20").isNull()).count() == 0
    finally:
        q2.stop()


def test_stream_session_windows_match_batch(spark, sf_dir):
    """Streaming session windows (availableNow replay) must agree
    exactly with the batch session_window aggregation on every emitted
    session, and emit every session that closed before the final
    watermark."""
    import datetime as dt

    from trading_etl_python_spark.streaming.pipeline import (
        events_file_stream,
        stream_session_windows,
    )
    from trading_etl_python_spark.suite import QUERIES

    with tempfile.TemporaryDirectory(prefix="ckpt_sess_") as ckpt:
        ev_stream = events_file_stream(spark, sf_dir).select(
            F.col("user_id"), F.col("ts"), F.col("value")
        )
        q = (
            stream_session_windows(ev_stream)
            .writeStream.format("memory")
            .queryName("sess_out")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        emitted = {
            (r.user_id, r.session_start): (r.session_end, r.n_events, r.sum_value)
            for r in spark.sql("SELECT * FROM sess_out").collect()
        }

    ev = load_events(spark, sf_dir)
    batch = {
        (r.user_id, r.session_start): (r.session_end, r.n_events, r.sum_value)
        for r in QUERIES["q_session_window"](spark, sf_dir).collect()
    }
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    final_wm = (max_ts - dt.timedelta(minutes=30)).replace(tzinfo=None)

    assert emitted, "no sessions emitted"
    for key, vals in emitted.items():
        assert batch[key] == vals
    closed = {k for k, v in batch.items() if v[0] <= final_wm}
    missing = closed - set(emitted)
    assert not missing, f"{len(missing)} finalized sessions not emitted"


def test_stream_static_enrichment_join(spark, sf_dir):
    """Stream-static join: the micro-batched event stream enriches
    against a STATIC dimension snapshot (per-user event-type counts) —
    the canonical streaming enrichment pattern; static side is re-read
    per micro-batch, no state, no watermark needed."""
    import tempfile as tf

    from trading_etl_python_spark.streaming.pipeline import events_file_stream

    ev = load_events(spark, sf_dir)
    dim = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("user_n_events"))

    with tf.TemporaryDirectory(prefix="ckpt_ss_") as ckpt:
        stream = events_file_stream(spark, sf_dir).select("event_id", "user_id", "value")
        q = (
            stream.join(dim, "user_id")  # stream-static inner join
            .writeStream.format("memory")
            .queryName("ss_out")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = spark.sql("SELECT * FROM ss_out")
        assert got.count() == ev.count()  # every event enriched
        bad = got.join(dim.withColumnRenamed("user_n_events", "want"), "user_id").filter(
            F.col("user_n_events") != F.col("want")
        )
        assert bad.count() == 0


def test_stream_heavy_hitters_verify_matches_batch(spark, sf_dir):
    """Streaming MG candidates (availableNow replay, stateful sketch)
    re-verified exactly must equal the batch heavy_hitters output."""
    from trading_etl_python_spark.operators.dedup import tokens_col
    from trading_etl_python_spark.operators.sketches import heavy_hitters
    from trading_etl_python_spark.sources.tables import load_table
    from trading_etl_python_spark.streaming.pipeline import (
        documents_file_stream,
        stream_heavy_hitter_candidates,
    )

    with tempfile.TemporaryDirectory(prefix="ckpt_hh_") as ckpt:
        q = (
            stream_heavy_hitter_candidates(documents_file_stream(spark, sf_dir))
            .writeStream.format("memory")
            .queryName("hh_out")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        cands = spark.sql("SELECT DISTINCT token FROM hh_out")

    docs = load_table(spark, sf_dir, "documents")
    k = 30
    total = docs.select(F.sum(F.size(tokens_col("text"))).alias("_n"))
    toks = docs.select(F.explode(tokens_col("text")).alias("token"))
    verified = {
        (r["token"], r["cnt"])
        for r in toks.join(F.broadcast(cands), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * k > F.col("_n"))
        .collect()
    }
    batch = {(r["token"], r["cnt"]) for r in heavy_hitters(docs, k=k).collect()}
    assert verified == batch and batch


def test_stream_ingest_dedup_against_index(spark, sf_dir, tmp_path):
    """Crawl-ingest e2e: corpus index on disk, stream of 'new' docs in,
    survivors out — streamed survivors must equal the batch incremental
    dedup's keep set."""
    from trading_etl_python_spark.operators.dedup import (
        MINHASH_INDEX_SCHEMA,
        banded_signatures,
        minhash_incremental_pairs,
        write_minhash_index,
    )
    from trading_etl_python_spark.sources.tables import load_table
    from trading_etl_python_spark.streaming.pipeline import (
        documents_file_stream,
        stream_ingest_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    idx = str(tmp_path / "mh_index")
    write_minhash_index(corpus, idx)
    # the stream reads the index with this schema instead of inferring it
    inferred = spark.read.parquet(idx).schema
    assert spark.read.schema(MINHASH_INDEX_SCHEMA).parquet(idx).schema == inferred

    out = str(tmp_path / "survivors")
    q = stream_ingest_dedup(
        documents_file_stream(spark, sf_dir), idx, out, str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    got = {r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()}

    dups = minhash_incremental_pairs(docs, banded_signatures(corpus), threshold=0.5)
    want = {
        r["doc_id"]
        for r in docs.join(dups.select("doc_id").distinct(), "doc_id", "left_anti")
        .select("doc_id")
        .collect()
    }
    assert got == want and got


def test_stream_drift_monitor_matches_batch_psi(spark, sf_dir, tmp_path):
    from trading_etl_python_spark.operators.transforms import psi_drift
    from trading_etl_python_spark.streaming.pipeline import (
        events_file_stream,
        stream_drift_monitor,
    )

    ev = load_events(spark, sf_dir)
    ref = ev.filter(F.col("event_id") % 2 == 0)
    out = str(tmp_path / "psi")
    q = stream_drift_monitor(
        events_file_stream(spark, sf_dir),
        ref,
        out,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    got = {
        r["event_type"]: r["psi"] for r in spark.read.parquet(out).collect()
    }
    # single availableNow batch over the one-file testdata == batch PSI
    want = {
        r["event_type"]: r["psi"]
        for r in psi_drift(ref, ev, "value", "event_type").collect()
    }
    assert got == want and got


def test_stream_drift_monitor_with_ks_matches_batch(spark, sf_dir, tmp_path):
    """with_ks=True: the audit row carries BOTH the PSI and the exact
    KS statistic, each equal to its batch operator on the replay."""
    from trading_etl_python_spark.operators.transforms import ks_drift, psi_drift
    from trading_etl_python_spark.streaming.pipeline import (
        events_file_stream,
        stream_drift_monitor,
    )

    ev = load_events(spark, sf_dir)
    ref = ev.filter(F.col("event_id") % 2 == 0)
    out = str(tmp_path / "drift")
    q = stream_drift_monitor(
        events_file_stream(spark, sf_dir),
        ref,
        out,
        str(tmp_path / "ckpt"),
        with_ks=True,
    )
    q.awaitTermination()
    rows = spark.read.parquet(out).collect()
    got_psi = {r["event_type"]: r["psi"] for r in rows}
    got_ks = {r["event_type"]: r["ks"] for r in rows}
    want_psi = {
        r["event_type"]: r["psi"]
        for r in psi_drift(ref, ev, "value", "event_type").collect()
    }
    want_ks = {
        r["group"]: r["ks"] for r in ks_drift(ref, ev, "value", "event_type").collect()
    }
    assert got_psi == want_psi and got_ks == want_ks and got_ks


def test_stream_cardinality_monitor_matches_batch_hll(spark, sf_dir, tmp_path):
    from trading_etl_python_spark.operators.sketches import hll_estimate
    from trading_etl_python_spark.streaming.pipeline import (
        events_file_stream,
        stream_cardinality_monitor,
    )

    out = str(tmp_path / "card")
    q = stream_cardinality_monitor(
        events_file_stream(spark, sf_dir), out, str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    got = {r["event_type"]: r["hll_est"] for r in spark.read.parquet(out).collect()}
    ev = load_events(spark, sf_dir)
    it = ev.select("event_type", F.col("value").cast("string").alias("_item"))
    want = {
        r["event_type"]: r["hll_est"]
        for r in hll_estimate(it, "_item", "event_type").collect()
    }
    assert got == want and got


def test_stream_bloom_dedup_two_overlapping_batches(spark, tmp_path):
    """Two micro-batches with overlapping keys: the sink must hold each
    key exactly once, the bloom state must persist between runs, and
    correctness must not depend on the bloom (false positives only
    route rows to the verify join)."""
    from trading_etl_python_spark.streaming.pipeline import stream_bloom_dedup

    src = tmp_path / "src"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(i, f"doc {i}") for i in range(100)], "doc_id long, text string"
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "b1"))

    schema = "doc_id long, text string"

    def run_once(subdir):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / subdir))
        )
        q = stream_bloom_dedup(stream, out, ckpt, key_col="doc_id")
        q.awaitTermination()

    # separate checkpoints per source dir (same bloom state dir would be
    # ideal but the file source tracks offsets per path); share ckpt so
    # the bloom words persist across runs
    run_once("b1")
    spark.createDataFrame(
        [(i, f"doc {i}") for i in range(50, 150)], "doc_id long, text string"
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "b1" / "more.tmp"))
    # append a second file into the SAME watched dir so the restarted
    # stream sees exactly the new file
    import os
    import shutil

    newfile = [f for f in os.listdir(str(src / "b1" / "more.tmp")) if f.endswith(".parquet")][0]
    shutil.move(
        str(src / "b1" / "more.tmp" / newfile), str(src / "b1" / "overlap.parquet")
    )
    shutil.rmtree(str(src / "b1" / "more.tmp"))
    run_once("b1")

    got = spark.read.parquet(out)
    assert got.count() == 150
    assert got.select("doc_id").distinct().count() == 150
    assert os.path.isdir(os.path.join(ckpt, "bloom_words.parquet"))




def test_stream_bloom_dedup_survives_state_reset(spark, tmp_path):
    """Losing the bloom state (crash inside the swap window, operator
    reset) must NEVER duplicate sink keys: the next run verify-joins
    everything and rebuilds the bloom seeded with the sink's historical
    keys, so later batches can't bloom-miss old keys either."""
    import os
    import shutil

    from trading_etl_python_spark.streaming.pipeline import stream_bloom_dedup

    src = tmp_path / "src"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    def write_batch(name, lo, hi):
        tmp = src / f"{name}.tmp"
        spark.createDataFrame(
            [(i, f"doc {i}") for i in range(lo, hi)], schema
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp))
        f = [x for x in os.listdir(tmp) if x.endswith(".parquet")][0]
        os.makedirs(src, exist_ok=True)
        shutil.move(str(tmp / f), str(src / f"{name}.parquet"))
        shutil.rmtree(str(tmp))

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        stream_bloom_dedup(stream, out, ckpt, key_col="doc_id").awaitTermination()

    write_batch("b1", 0, 100)
    run_once()
    # simulate the crash window / reset: bloom gone, sink + offsets kept
    shutil.rmtree(os.path.join(ckpt, "bloom_words.parquet"))
    write_batch("b2", 50, 150)  # overlaps sink keys with no bloom to catch them
    run_once()
    write_batch("b3", 0, 200)  # pre-reset keys must be in the REBUILT bloom
    run_once()

    got = spark.read.parquet(out)
    assert got.count() == 200
    assert got.select("doc_id").distinct().count() == 200


def _move_parquet_in(spark, src_dir, name, df):
    """Write df as a single parquet file named <name>.parquet inside the
    watched dir (atomic-rename pattern from the bloom restart tests)."""
    import os
    import shutil

    tmp = os.path.join(str(src_dir), f"{name}.tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    f = [x for x in os.listdir(tmp) if x.endswith(".parquet")][0]
    os.makedirs(str(src_dir), exist_ok=True)
    shutil.move(os.path.join(tmp, f), os.path.join(str(src_dir), f"{name}.parquet"))
    shutil.rmtree(tmp)


def test_stream_cardinality_monitor_restart_recovery(spark, tmp_path):
    """r7 VERDICT #5 / T4: the HLL cardinality monitor must recover
    from its checkpoint — a restart with the same checkpoint neither
    reprocesses consumed files (effectively-once audit rows) nor
    misses files that arrived while it was down."""
    from trading_etl_python_spark.operators.sketches import hll_estimate
    from trading_etl_python_spark.streaming.pipeline import (
        stream_cardinality_monitor,
    )

    src = tmp_path / "src"
    out = str(tmp_path / "card")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_type string, value long"
    batch_a = spark.createDataFrame(
        [("click", i % 37) for i in range(300)]
        + [("view", i % 11) for i in range(100)],
        schema,
    )
    batch_b = spark.createDataFrame(
        [("click", i % 53) for i in range(200)]
        + [("scroll", i % 7) for i in range(50)],
        schema,
    )

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        stream_cardinality_monitor(
            stream, out, ckpt, item_col="value", group_col="event_type"
        ).awaitTermination()

    _move_parquet_in(spark, src, "a", batch_a)
    run_once()  # consumes A, then the query is DOWN
    _move_parquet_in(spark, src, "b", batch_b)
    run_once()  # restart from the same checkpoint: must see exactly B

    rows = spark.read.parquet(out).collect()
    by_batch: dict[int, dict[str, int]] = {}
    for r in rows:
        by_batch.setdefault(r["batch_id"], {})[r["event_type"]] = r["hll_est"]
    assert len(by_batch) == 2, f"expected 2 audit batches, got {by_batch}"
    first, second = (by_batch[k] for k in sorted(by_batch))

    def want(df):
        it = df.select("event_type", F.col("value").cast("string").alias("_i"))
        return {
            r["event_type"]: r["hll_est"]
            for r in hll_estimate(it, "_i", "event_type").collect()
        }

    assert first == want(batch_a)   # A exactly once, never re-emitted
    assert second == want(batch_b)  # B picked up after the restart


def test_stream_heavy_hitters_restart_recovers_mg_state(spark, tmp_path):
    """r7 VERDICT #5 / T2: the Misra-Gries counters live in checkpointed
    GroupState — after a restart, emissions for NEW data must still
    carry tokens whose counts were accumulated BEFORE the restart
    (state recovered, not rebuilt from the new files)."""
    from trading_etl_python_spark.streaming.pipeline import (
        stream_heavy_hitter_candidates,
    )

    src = tmp_path / "src"
    out = str(tmp_path / "hh")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"
    # doc_id 0 everywhere -> single state key, deterministic MG content
    batch_a = spark.createDataFrame(
        [(0, "zebra " * 40 + "rare" + str(i)) for i in range(20)], schema
    )
    batch_b = spark.createDataFrame(
        [(0, "otter " * 5 + "fresh" + str(i)) for i in range(10)], schema
    )

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            stream_heavy_hitter_candidates(stream, capacity=16, n_groups=1)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _move_parquet_in(spark, src, "a", batch_a)
    run_once()
    n_rows_after_a = spark.read.parquet(out).count()
    _move_parquet_in(spark, src, "b", batch_b)
    run_once()

    all_rows = spark.read.parquet(out).collect()
    # run 2 appended exactly one batch of emissions, never re-emitting
    # run 1's batch
    assert n_rows_after_a > 0 and len(all_rows) > n_rows_after_a
    # the MG capacity bound holds in every batch: batch A alone brings 21
    # distinct tokens, and neither batch emits more than capacity=16 for
    # its single group
    assert {r["grp"] for r in all_rows} == {0}
    assert n_rows_after_a <= 16 and len(all_rows) - n_rows_after_a <= 16
    # each batch emits every surviving counter once, so 'zebra' (800
    # occurrences, all in batch A) appears in BOTH batches' emissions
    # iff the MG counters were recovered from the checkpoint — a state
    # loss would leave batch B's emission with only B's tokens
    zebra_rows = [r for r in all_rows if r["token"] == "zebra"]
    assert len(zebra_rows) == 2, (
        f"expected zebra in both batch emissions (state recovered), "
        f"got {len(zebra_rows)}"
    )
    # and run 2 genuinely processed the new file
    assert any(r["token"] == "otter" for r in all_rows)


def test_stream_state_partitions_default_is_one_wave_of_slots(spark):
    """The state partition count defaults to min(8, defaultParallelism):
    4 at local[4], 8 at local[8] and above; the session's width comes
    back afterwards.  The local[4] and local[32]
    cases use a stand-in session (one JVM per test process)."""
    from types import SimpleNamespace

    from trading_etl_python_spark.streaming.pipeline import stream_state_partitions

    class Conf(dict):
        def set(self, k, v):
            self[k] = v

        def unset(self, k):
            self.pop(k, None)

    key = "spark.sql.shuffle.partitions"
    for slots, want in ((4, "4"), (32, "8")):
        fake = SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=slots), conf=Conf({key: "32"}))
        with stream_state_partitions(fake):
            assert fake.conf[key] == want
        assert fake.conf[key] == "32"

    before = spark.conf.get(key)
    with stream_state_partitions(spark):
        assert spark.conf.get(key) == str(min(8, spark.sparkContext.defaultParallelism))
    assert spark.conf.get(key) == before


def test_stream_builders_on_empty_tables_return_no_rows(spark, degenerate_tables):
    """With every table empty the drift, cardinality and bloom-dedup
    sinks see only empty micro-batches and write nothing, and the ingest
    index holds no data file; the four stream builders must still return
    the oracle's 0 rows and columns instead of failing to read them."""
    import duckdb

    from trading_etl_python_spark.sources.tables import TABLES
    from trading_etl_python_spark.suite import ORACLES
    from trading_etl_python_spark.suite import extensions as X

    empty = degenerate_tables("empty")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{empty}/{t}.parquet'")
    for name in ("q_stream_drift", "q_stream_cardinality", "q_stream_dedup", "q_stream_ingest"):
        want = con.sql(ORACLES[name]).df()
        got = getattr(X, name)(spark, empty).toPandas()
        assert len(got) == len(want) == 0, name
        assert sorted(got.columns) == sorted(want.columns), name
