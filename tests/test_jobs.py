from __future__ import annotations

import os

from pyspark.sql import functions as F

from trading_etl_python_spark.jobs import backfill_job, latest_indicators_job, range_query_job


def test_backfill_job_end_to_end(spark, sf_dir, tmp_path):
    out = str(tmp_path / "indicators")
    written = backfill_job(spark, sf_dir, out, warmup=26)
    assert written > 0
    assert any(d.startswith("trade_date=") for d in os.listdir(out))
    table = spark.read.parquet(out)
    # full 21-column schema + partition column
    assert {"time", "symbol", "close", "sma_20", "ema_10", "macd_line", "vwap"} <= set(table.columns)
    # warmup gate applied end-to-end
    assert table.filter(table.sma_20.isNull()).count() == 0


def test_backfill_job_rerun_writes_nothing(spark, sf_dir, tmp_path):
    out = str(tmp_path / "indicators")
    first = backfill_job(spark, sf_dir, out, warmup=26)
    second = backfill_job(spark, sf_dir, out, warmup=26)
    assert first > 0 and second == 0


def test_latest_and_range_reads(spark, sf_dir, tmp_path):
    out = str(tmp_path / "indicators")
    backfill_job(spark, sf_dir, out, warmup=26)
    latest = latest_indicators_job(spark, out)
    assert latest.count() == latest.select("symbol").distinct().count()  # one row/symbol
    lo, hi = "2024-01-10", "2024-01-15"
    sliced = range_query_job(spark, out, lo, hi)
    dates = [r.trade_date.isoformat() for r in sliced.select("trade_date").distinct().collect()]
    assert dates and all(lo <= d <= hi for d in dates)


def test_incremental_backfill_parity_and_idempotence(spark, sf_dir, tmp_path):
    """Incremental append over a 60-row tail context: window-family
    columns (frames <= 20 rows) must EXACTLY match the full-history
    recompute for the appended rows; re-running the same increment
    appends nothing; and full+incremental covers every post-cut row."""
    from pyspark.sql import functions as F

    from trading_etl_python_spark.jobs import incremental_backfill_job
    from trading_etl_python_spark.operators.indicators import indicator_table
    from trading_etl_python_spark.sources.tables import bars

    cut = "2024-01-24 04:09:15"
    out = str(tmp_path / "tbl")

    b = bars(spark, sf_dir)
    # seed the table with everything before the cut (full batch path)
    from trading_etl_python_spark.sinks import upsert_ignore

    pre = indicator_table(b.filter(F.col("time") < F.lit(cut)), warmup=None)
    upsert_ignore(pre, out, keys=("time", "symbol"))

    written = incremental_backfill_job(spark, sf_dir, out, since=cut)
    assert written > 0
    assert incremental_backfill_job(spark, sf_dir, out, since=cut) == 0  # idempotent

    got = spark.read.parquet(out).filter(F.col("time") >= F.lit(cut))
    want = indicator_table(b, warmup=None).filter(F.col("time") >= F.lit(cut))
    assert got.count() == want.count()

    bounded = ["time", "symbol", "sma_20", "bb_upper", "bb_lower", "stoch_k_14", "mfi_14"]
    g = {(r.time, r.symbol): r for r in got.select(*bounded).collect()}
    w = {(r.time, r.symbol): r for r in want.select(*bounded).collect()}
    assert g.keys() == w.keys()
    for k in w:
        for c in bounded[2:]:
            gv, wv = getattr(g[k], c), getattr(w[k], c)
            assert (gv is None and wv is None) or abs(gv - wv) < 1e-9, (k, c, gv, wv)


def test_export_training_data_job(spark, sf_dir, tmp_path):
    from trading_etl_python_spark.jobs import export_training_data_job

    m = export_training_data_job(spark, sf_dir, str(tmp_path / "out"), budget=256)
    assert set(m["splits"]) == {"train", "val", "test"}
    total = sum(v["packs"] for v in m["splits"].values())
    assert total > 0 and m["stats"]["pack_id"]["n_rows"] == total
    # deterministic re-export: identical manifest
    m2 = export_training_data_job(spark, sf_dir, str(tmp_path / "out2"), budget=256)
    assert m == m2
    # published parquet is shard-partitioned and readable
    t = spark.read.parquet(str(tmp_path / "out" / "train"))
    assert {"_grp", "pack_id", "n_docs", "sum_tokens", "first_id", "last_id",
            "split", "shard"} <= set(t.columns)


def test_export_training_data_job_tar_archives(spark, sf_dir, tmp_path):
    """tar_export publishes loader-ready WebDataset shards per split
    whose member counts equal the curated split sizes."""
    import os

    from trading_etl_python_spark.jobs import export_training_data_job
    from trading_etl_python_spark.operators.curation import curate_corpus
    from trading_etl_python_spark.operators.sampling import split_assign
    from trading_etl_python_spark.sources.formats import read_tar_shards
    from trading_etl_python_spark.sources.tables import load_table

    out = str(tmp_path / "exp")
    m = export_training_data_job(spark, sf_dir, out, n_shards=2, tar_export=True)
    curated = split_assign(curate_corpus(load_table(spark, sf_dir, "documents")))
    sizes = {
        r["split"]: r["n"]
        for r in curated.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    for split in ("train", "val", "test"):
        assert m["tar"][split] == sizes.get(split, 0)
        tdir = f"{out}/{split}_tar"
        assert os.path.isdir(tdir)
        back = read_tar_shards(spark, tdir)
        assert back.count() == sizes.get(split, 0)


def test_incremental_backfill_bounded_context_plan(spark, sf_dir, tmp_path):
    """Scale posture of the incremental recompute context: idle symbols
    drop via a broadcast LEFT-SEMI join before the window shuffle, and
    the history tail is a per-symbol row_number filter (no global
    sort) — the shapes that keep the increment O(affected keys), not
    O(history).  Pins the PRODUCTION context builder the job itself
    calls, not a test-local reconstruction."""
    from trading_etl_python_spark.jobs import _incremental_context

    ctx = _incremental_context(spark, sf_dir, since="2024-01-24 00:00:00")
    plan = ctx._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and "Broadcast" in plan, plan[:2000]
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # the semi join must broadcast


# -- the API reads' per-table snapshot (jobs._snapshot) ----------------------

_TICKS = "time timestamp_ntz, symbol long, close double"


def _ts(day: int, sec: int = 0):
    import datetime as dt

    return dt.datetime(2024, 1, day, 0, 0, sec)


def _append(spark, path, rows):
    from trading_etl_python_spark.sinks import upsert_ignore

    return upsert_ignore(spark.createDataFrame(rows, _TICKS), path)


def _fresh_latest(spark, path):
    from trading_etl_python_spark.operators.windows import latest_per_key

    return latest_per_key(spark.read.parquet(path), order_cols=("time",)).drop("trade_date")


def _jobs_fired(spark, group, fn):
    """(fn(), ids of the Spark jobs it fired), counted through a job group
    once the listener bus has delivered every job start."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _reads(spark, path):
    """(latest rows by symbol, range rows over the whole of January)."""
    latest = sorted(latest_indicators_job(spark, path).collect())
    sliced = sorted(range_query_job(spark, path, "2024-01-01", "2024-01-31").collect())
    return latest, sliced


def test_repeated_latest_read_matches_fresh_plan_and_runs_no_job(spark, tmp_path):
    path = str(tmp_path / "tbl")
    _append(spark, path, [(_ts(2), 1, 10.0), (_ts(3), 1, 11.0), (_ts(2), 2, 20.0)])
    latest_indicators_job(spark, path)  # computes the snapshot's rows
    got, jobs = _jobs_fired(spark, "snapshot-latest", lambda: latest_indicators_job(spark, path))
    rows, collect_jobs = _jobs_fired(spark, "snapshot-latest-collect", got.collect)
    assert jobs == [] and collect_jobs == []
    want = _fresh_latest(spark, path)
    assert got.schema == want.schema
    assert sorted(rows) == sorted(want.collect())
    assert [(r.symbol, r.close) for r in sorted(rows)] == [(1, 11.0), (2, 20.0)]


def test_snapshot_reads_see_an_appended_trade_date(spark, tmp_path):
    path = str(tmp_path / "tbl")
    _append(spark, path, [(_ts(2), 1, 10.0), (_ts(2), 2, 20.0)])
    before_latest, before_range = _reads(spark, path)
    assert _append(spark, path, [(_ts(5), 2, 21.0)]) == 1
    latest, sliced = _reads(spark, path)
    assert [(r.symbol, r.close) for r in latest] == [(1, 10.0), (2, 21.0)]
    assert len(sliced) == len(before_range) + 1
    assert sorted(latest) == sorted(_fresh_latest(spark, path).collect()) != before_latest


def test_snapshot_reads_see_an_external_overwrite(spark, tmp_path):
    path = str(tmp_path / "tbl")
    _append(spark, path, [(_ts(2), 1, 10.0), (_ts(3), 2, 20.0), (_ts(4), 3, 30.0)])
    _reads(spark, path)
    spark.createDataFrame([(_ts(6), 9, 90.0)], _TICKS).withColumn(
        "trade_date", F.to_date("time")
    ).write.mode("overwrite").partitionBy("trade_date").parquet(path)
    latest, sliced = _reads(spark, path)
    assert [(r.symbol, r.close) for r in latest] == [(9, 90.0)]
    assert [(r.symbol, r.close) for r in sliced] == [(9, 90.0)]


def test_rewriting_success_marker_keeps_the_snapshot(spark, tmp_path):
    from trading_etl_python_spark.jobs import _snapshot

    path = str(tmp_path / "tbl")
    _append(spark, path, [(_ts(2), 1, 10.0)])
    latest_indicators_job(spark, path)
    snap = _snapshot(spark, path)
    (tmp_path / "tbl" / "_SUCCESS").write_text("rewritten by a later job")
    assert _snapshot(spark, path) is snap
    _, jobs = _jobs_fired(spark, "snapshot-success", lambda: latest_indicators_job(spark, path).collect())
    assert jobs == []


def test_concurrent_latest_reads_share_one_snapshot(spark, tmp_path):
    """More reading threads than cores, with a short switch interval: every
    read returns the table's rows, and afterwards the snapshot serves a
    read without a Spark job."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    path = str(tmp_path / "tbl")
    _append(spark, path, [(_ts(2), s, float(s)) for s in range(6)])
    want = sorted(_fresh_latest(spark, path).collect())
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:
            futures = [pool.submit(lambda: sorted(latest_indicators_job(spark, path).collect())) for _ in range(16)]
            got = [f.result(timeout=300) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert got == [want] * 16
    _, jobs = _jobs_fired(spark, "snapshot-after-threads", lambda: latest_indicators_job(spark, path).collect())
    assert jobs == []


def test_non_local_directory_path_reads_uncached(spark, tmp_path):
    from trading_etl_python_spark.jobs import _SNAPSHOTS, _snapshot

    path = str(tmp_path / "tbl")
    _append(spark, path, [(_ts(2), 1, 10.0), (_ts(3), 1, 11.0)])
    uri = f"file://{path}"
    assert _snapshot(spark, uri) is None
    latest = latest_indicators_job(spark, uri)
    assert "LocalTableScan" not in latest._jdf.queryExecution().executedPlan().toString()
    assert sorted(latest.collect()) == sorted(_fresh_latest(spark, path).collect())
    assert range_query_job(spark, uri, "2024-01-03", "2024-01-03").count() == 1
    assert uri not in _SNAPSHOTS.get(spark, {})


def test_reads_refuse_a_table_with_no_data_files(spark, tmp_path):
    """A table directory written from an empty DataFrame holds no data
    file, so there is no schema to read: both reads raise a ValueError
    that names the path."""
    import pytest

    path = str(tmp_path / "tbl")
    spark.createDataFrame([(_ts(2), 1, 10.0)], _TICKS).withColumn(
        "trade_date", F.to_date("time")
    ).limit(0).write.partitionBy("trade_date").parquet(path)
    with pytest.raises(ValueError, match="no data files") as latest:
        latest_indicators_job(spark, path)
    with pytest.raises(ValueError, match="no data files") as sliced:
        range_query_job(spark, path, "2024-01-01", "2024-01-31")
    assert path in str(latest.value) and path in str(sliced.value)
