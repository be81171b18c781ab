"""Workload ``backfill_serve_ingest``: the batch, API and consumer paths
of the tick engine, one after another in one process on one seeded
history.

1. ``jobs.backfill_job`` writes the history into an empty table.
2. One client runs a seeded, closed-loop mix of
   ``jobs.latest_indicators_job`` and ``jobs.range_query_job`` (windows
   of 1-3 trade dates), each collected to the driver.
3. The same history, split into equal time-ordered files, is ingested
   by an ``availableNow`` stream (one file per trigger) through
   ``streaming.pipeline.stream_indicators`` into ``sinks.upsert_ignore``.
   No read runs during ingest.
"""

from __future__ import annotations

import os
import random
import time
from statistics import median

from . import checks, gen
from .harness import Run, put_latency

SPEC = gen.TickSpec(symbols=200, ticks=20_000, days=8)
FILES = 4  # stream triggers
READS = 20  # timed reads, after WARM_READS reads of each kind kept out of the latencies
WARM_READS = 1


def _date(day: int) -> str:
    return time.strftime("%Y-%m-%d", time.gmtime(day * 86_400))


def setup(run: Run) -> list[float]:
    """Write the seeded history; returns the seconds each of three
    identical writes took (the set-up that can be repeated in-process)."""
    took = []
    for _ in range(3):
        start = time.perf_counter()
        table = gen.generate(run.seed, SPEC)
        gen.write_history(table, run.path("ticks"), files=FILES)
        took.append(time.perf_counter() - start)
    run.ticks = table
    return took


def _instrument(run: Run) -> None:
    """Traced runs route the package's cross-module calls through spans."""
    from trading_etl_python_spark import jobs, sinks
    from trading_etl_python_spark.operators import indicators
    from trading_etl_python_spark.sources import tables
    from trading_etl_python_spark.streaming import pipeline

    t = run.tracer
    t.instrument(jobs, "operators", ["indicator_table"])
    t.instrument(jobs, "sinks", ["upsert_ignore"])
    t.instrument(jobs, "sources", ["bars"])
    t.instrument(tables, "sources", ["load_events"])
    t.instrument(indicators, "operators", ["with_recursive_suite"])
    t.instrument(pipeline, "streaming", ["stream_indicators"])
    t.instrument(sinks, "sinks", ["upsert_ignore"])


def work(run: Run) -> None:
    """Backfill, reads, stream.  Nothing is warmed first: the backfill
    pays its cold start, as a fresh backfill process does; the first
    read of each kind and the first trigger are kept out of the
    latencies."""
    from trading_etl_python_spark import jobs

    _instrument(run)
    sf, table = run.path("ticks"), run.path("table")
    t = run.tracer
    with t.span("jobs.backfill_job"):
        _, backfill_s = run.op(jobs.backfill_job, run.spark, sf, table, warmup=26)
    _reads(run, table)
    stream_s, progress = _stream(run, sf)
    if backfill_s:
        run.put("backfill_s", backfill_s, "s")
    if stream_s:
        run.put("stream_s", stream_s, "s")
        run.put("stream_ticks_per_s", SPEC.ticks / stream_s, "1/s")
    triggers = [p.durationMs["triggerExecution"] / 1000.0 for p in progress[1:]]
    put_latency(run, "trigger", triggers)
    run.stream_progress = progress
    reads = run.read_s["latest"] + run.read_s["range"]
    if backfill_s and stream_s and len(reads) == READS:
        run.put("work_s", backfill_s + sum(reads) + stream_s, "s")


def _reads(run: Run, table: str) -> None:
    """A seeded closed-loop mix of the two API reads; each read is
    checked (untimed) as soon as it returns."""
    from trading_etl_python_spark import jobs

    exp = checks.Expected(run.ticks)
    run.expected = exp
    first_day = min(exp.rows_per_day)
    last_day = max(exp.rows_per_day)
    rng = random.Random(run.seed)
    run.read_s = {"latest": [], "range": []}
    run.read_parts = {"latest": [], "range": []}
    run.range_rows = []
    t = run.tracer
    mix = ["latest", "range"] * (READS // 2)
    rng.shuffle(mix)
    plan = ["latest", "range"] * WARM_READS + mix
    for i, kind in enumerate(plan):
        timed = i >= 2 * WARM_READS
        lo = rng.randint(first_day, last_day)
        hi = min(last_day, lo + rng.randint(0, 2))

        def read():
            with t.span(f"jobs.{kind}_build", op=i) as sb:
                if kind == "latest":
                    df = jobs.latest_indicators_job(run.spark, table)
                else:
                    df = jobs.range_query_job(run.spark, table, _date(lo), _date(hi))
            with t.span(f"jobs.{kind}_collect", op=i) as sc:
                rows = df.collect()
            return rows, (sb, sc)

        out, took = run.op(read)
        if out is None:
            continue
        rows, parts = out
        if kind == "latest":
            pairs = [(r["symbol"], _epoch_us(r["time"])) for r in rows]
            run.check(checks.check_latest(pairs, exp))
        else:
            run.check(checks.check_range(len(rows), lo, hi, exp))
        if timed:
            run.read_s[kind].append(took)
            if kind == "range":
                run.range_rows.append(len(rows))
            if parts[0] is not None:
                run.read_parts[kind].append(parts)
    put_latency(run, "latest", run.read_s["latest"])
    put_latency(run, "range", run.read_s["range"])


def _epoch_us(ts) -> int:
    """A collected TIMESTAMP_NTZ (naive datetime, UTC wall clock) as
    epoch microseconds."""
    import calendar

    return calendar.timegm(ts.timetuple()) * 1_000_000 + ts.microsecond


def _stream(run: Run, sf: str):
    """Replay the split history as an availableNow file stream; returns
    (wall seconds from start() to awaitTermination(), progress list)."""
    from pyspark.sql import functions as F

    from trading_etl_python_spark.sinks import upsert_ignore
    from trading_etl_python_spark.streaming import pipeline

    spark, t = run.spark, run.tracer
    src = f"{sf}/events.parquet"
    sink, ckpt = run.path("stream_sink"), run.path("stream_ckpt")
    raw = spark.readStream.schema(spark.read.parquet(src).schema).option("maxFilesPerTrigger", 1).parquet(src)
    # the projection and filter of pipeline.run_replay_pipeline
    ticks = raw.select(
        F.col("user_id").alias("symbol"),
        F.col("ts").cast("timestamp").alias("time"),
        "event_id",
        F.col("value").alias("close"),
    ).filter(F.col("close").isNotNull() & F.col("time").isNotNull())

    def write_batch(batch_df, batch_id):
        if not t.enabled:
            upsert_ignore(batch_df, sink, keys=("time", "symbol"))
            return
        with t.span("streaming.trigger", op=batch_id):
            with t.span("streaming.state_op", op=batch_id):
                pinned = batch_df.persist()
                pinned.count()
            try:
                with t.span("sinks.stream_upsert", op=batch_id):
                    upsert_ignore(pinned, sink, keys=("time", "symbol"))
            finally:
                pinned.unpersist()

    def ingest():
        with t.span("streaming.run"):
            with pipeline.stream_state_partitions(spark):
                q = (
                    pipeline.stream_indicators(ticks)
                    .writeStream.foreachBatch(write_batch)
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
            return [p for p in q.recentProgress if p.numInputRows > 0]

    progress, took = run.op(ingest)
    return took, progress or []


def check(run: Run) -> None:
    exp = run.expected
    cols = ["time", "symbol", *checks.STREAM_EXACT_COLS]
    if not os.path.isdir(run.path("table")) or not os.path.isdir(run.path("stream_sink")):
        run.check(["backfill or stream wrote no table"])
        return
    backfill = checks.read_table(run.path("table"), cols)
    run.check(checks.check_keys("backfill", backfill, exp))
    stream = checks.read_table(run.path("stream_sink"), cols)
    run.check(checks.check_keys("stream", stream, exp))
    run.check(checks.check_stream_values(stream, backfill))


def layer_metrics(run: Run) -> None:
    """Per-layer figures of a traced run (after ``Tracer.finish``)."""
    t = run.tracer
    for kind in ("latest", "range"):
        parts = run.read_parts[kind]
        run.put(f"jobs.{kind}_build_ms", 1000 * median([b["end"] - b["start"] for b, _ in parts]), "ms")
        run.put(f"jobs.{kind}_collect_ms", 1000 * median([c["end"] - c["start"] for _, c in parts]), "ms")
    all_parts = run.read_parts["latest"] + run.read_parts["range"]
    run.put("jobs.read_spark_jobs", median([b["jobs"] + c["jobs"] for b, c in all_parts]), "count")
    run.put("jobs.range_rows", median(run.range_rows), "count")

    files = [os.path.join(d, f) for d, _, fs in os.walk(run.path("table")) for f in fs if f.endswith(".parquet")]
    run.put("sinks.files_written", len(files), "count")
    run.put("sinks.bytes_written", sum(os.path.getsize(f) for f in files), "B")
    sink_files = [f for _, _, fs in os.walk(run.path("stream_sink")) for f in fs if f.endswith(".parquet")]
    run.put("sinks.stream_files_written", len(sink_files), "count")

    steady = run.stream_progress[1:]
    trig = {s["op"]: s for s in t.named("streaming.trigger")}

    def per_trigger(name):
        return [s["end"] - s["start"] for s in t.named(name) if s["op"] != run.stream_progress[0].batchId]

    run.put("streaming.state_op_ms", 1000 * median(per_trigger("streaming.state_op")), "ms")
    run.put("sinks.stream_upsert_ms", 1000 * median(per_trigger("sinks.stream_upsert")), "ms")
    for key, name in (("addBatch", "add_batch_ms"), ("queryPlanning", "query_planning_ms"), ("walCommit", "wal_commit_ms")):
        run.put(f"streaming.{name}", median([p.durationMs.get(key, 0) for p in steady]), "ms")
    run.put("streaming.state_commit_ms", median([p.stateOperators[0].commitTimeMs for p in steady]), "ms")
    jobs_per = [t.jobs_under(trig[p.batchId]) for p in steady if p.batchId in trig]
    run.put("streaming.spark_jobs_per_trigger", median(jobs_per), "count")
    last = run.stream_progress[-1].stateOperators[0]
    run.put("streaming.state_rows", last.numRowsTotal, "count")
    run.put("streaming.state_mem_bytes", max(p.stateOperators[0].memoryUsedBytes for p in run.stream_progress), "B")

    # the indicator plan alone (noop sink), and the sink alone on its
    # materialized output, outside the backfill job
    from trading_etl_python_spark.operators.indicators import indicator_table
    from trading_etl_python_spark.sinks import upsert_ignore
    from trading_etl_python_spark.sources.tables import bars

    start = time.perf_counter()
    df = indicator_table(bars(run.spark, run.path("ticks")), warmup=26)
    run.put("operators.indicator_table_build_s", time.perf_counter() - start, "s")
    start = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    run.put("operators.indicator_table_s", time.perf_counter() - start, "s")
    pinned = df.persist()
    pinned.count()
    start = time.perf_counter()
    upsert_ignore(pinned, run.path("table_again"), keys=("time", "symbol"))
    run.put("sinks.upsert_ignore_s", time.perf_counter() - start, "s")
    pinned.unpersist()
