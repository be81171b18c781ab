"""End-to-end jobs: the reference's executables re-expressed as single
Spark plans (SURVEY.md §3).

- ``backfill_job``  <- backfill entrypoint (/root/reference/trading-etl-python/
  src/db/backfill.py:175-183): download -> per-symbol indicator loop ->
  one bulk insert.  Here: scan -> one declarative indicator plan over all
  symbols -> date-partitioned upsert-ignore write.  One Spark job,
  parallel over keys, idempotent on re-run.
- ``latest_indicators_job`` / ``range_query_job`` <- the planned
  /latest_price + /indicators API reads (roadmap.md:43-47): latest gated
  row per symbol, and a time-range slice that partition-prunes against
  the written table.  Both read through a per-(session, table path)
  snapshot in place of the reference's Redis hot-data cache
  (roadmap.md:44-47): while the table's data files are unchanged, a
  range read filters one held ``spark.read.parquet`` DataFrame (no new
  listing or schema inference) and a latest read serves the rows
  computed once, without a Spark job.
- The consumer (streaming) executable lives in ``streaming.pipeline``.
"""

from __future__ import annotations

import os
import threading
import weakref
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.indicators import indicator_table
from .operators.windows import latest_per_key
from .sinks import upsert_ignore
from .sources.tables import bars


def backfill_job(
    spark: SparkSession, sf_dir: str, out_path: str, warmup: int | None = None
) -> int:
    """Full batch backfill: events -> 21-column indicator table ->
    date-partitioned parquet with ON-CONFLICT-DO-NOTHING semantics.
    Returns rows written this run (0 on exact re-run)."""
    table = indicator_table(bars(spark, sf_dir), warmup=warmup)
    return upsert_ignore(table, out_path, keys=("time", "symbol"))


def latest_indicators_job(spark: SparkSession, table_path: str) -> DataFrame:
    """/latest_price equivalent: most recent indicator row per symbol from
    the stored table (max_by aggregation, no global sort).  Ordered by
    time alone — the table's PK (time, symbol) guarantees uniqueness.

    On a local table the rows are computed once per snapshot (see
    ``_snapshot``) and kept as an Arrow table, O(symbols) rows; a repeated
    read of unchanged files serves them as a local relation and runs no
    Spark job.  The call that computes them runs its jobs eagerly.
    Raises ValueError when a local table directory holds no data file."""
    snap = _snapshot(spark, table_path)
    if snap is None:
        return _latest(spark.read.parquet(table_path))
    if snap.latest is None:
        plan = _latest(DataFrame(snap.jdf, spark))
        snap.latest = (plan.toArrow(), plan.schema)
    rows, schema = snap.latest
    return spark.createDataFrame(rows, schema)


def _latest(table: DataFrame) -> DataFrame:
    return latest_per_key(table, order_cols=("time",)).drop("trade_date")


def range_query_job(spark: SparkSession, table_path: str, lo: str, hi: str) -> DataFrame:
    """/indicators?from=&to= equivalent: a time-range read that prunes to
    the matching trade_date partitions.  On a local table it filters the
    snapshot's DataFrame, so a repeated read of unchanged files lists
    nothing and infers no schema.  Raises ValueError when a local table
    directory holds no data file."""
    snap = _snapshot(spark, table_path)
    table = spark.read.parquet(table_path) if snap is None else DataFrame(snap.jdf, spark)
    return table.filter(
        (F.col("trade_date") >= F.to_date(F.lit(lo)))
        & (F.col("trade_date") <= F.to_date(F.lit(hi)))
    )


@dataclass
class _Snapshot:
    files: frozenset  # _data_files() when the read below was taken
    # the JVM side of spark.read.parquet(path): a Python DataFrame would
    # hold its session and so keep the weak key below alive forever
    jdf: object
    latest: tuple | None = None  # (pyarrow.Table, StructType) once computed


# Per-session {table path: _Snapshot}, keyed on the live session as
# util._NPART_CACHE is, so a session's snapshots go when it does.
_SNAPSHOTS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_SNAPSHOTS_LOCK = threading.Lock()


def _snapshot(spark: SparkSession, path: str) -> _Snapshot | None:
    """The snapshot of the table at ``path`` as its data files are now;
    None when ``path`` is not a local directory (the caller then plans
    today's uncached read).  A changed file set rebuilds it at the cost
    of one uncached read.  The files are listed BEFORE Spark lists them,
    so a write landing in between leaves a snapshot newer than its
    signature, which the next call rebuilds, never an older one that
    would be served as current.

    A directory with no data file (e.g. written from an empty DataFrame)
    has no schema to read, so it is refused with a ValueError rather
    than Spark's UNABLE_TO_INFER_SCHEMA."""
    files = _data_files(path)
    if files is None:
        return None
    if not files:
        raise ValueError(
            f"table {path!r} holds no data files: the API reads need a table "
            "with at least one written row to take its schema from"
        )
    with _SNAPSHOTS_LOCK:
        snap = _SNAPSHOTS.get(spark, {}).get(path)
    if snap is None or snap.files != files:
        snap = _Snapshot(files, spark.read.parquet(path)._jdf)
        with _SNAPSHOTS_LOCK:
            _SNAPSHOTS.setdefault(spark, {})[path] = snap
    return snap


def _data_files(path: str) -> frozenset | None:
    """The files Spark reads under the directory ``path``, as (relative
    path, size, mtime_ns), from one walk; None when ``path`` is not a
    local directory.  Names Spark's listing skips are skipped here too:
    a leading ``.`` (checksums), or a leading ``_`` outside a
    ``col=value`` directory (``_SUCCESS``, ``_temporary``), so rewriting
    them does not invalidate a snapshot."""
    if not os.path.isdir(path):
        return None

    def hidden(name: str) -> bool:
        return name.startswith(".") or (name.startswith("_") and "=" not in name)

    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not hidden(d)]
        for name in names:
            if hidden(name):
                continue
            full = os.path.join(root, name)
            try:
                st = os.stat(full)
            except FileNotFoundError:  # removed mid-walk: not there to read
                continue
            files.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return frozenset(files)


def incremental_backfill_job(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    since: str,
    lookback_rows: int = 60,
    context_lo: str | None = None,
) -> int:
    """Incremental indicator maintenance: append indicator rows for ticks
    at/after ``since`` without recomputing history.

    Only affected symbols are touched; per symbol the recompute context
    is the trailing ``lookback_rows`` bars before the cut — the same
    60-row state bound the reference consumer carries per key
    (/root/reference/trading-etl-python/src/processing/consumer.py:33,
    162-163) and our streaming runtime mirrors. Consequences, identical
    to the reference's own incremental semantics:

    - pure window indicators whose frames fit the context (sma/bbands/
      stoch/mfi/wma/roc/donchian/cci: <=20 rows) are EXACTLY equal to a
      full-history recompute;
    - infinite-memory recurrences (ema/rsi/macd/adx/atr/obv/vwap before
      the day anchor) re-seed inside the 60-row buffer — byte-identical
      to what the reference consumer emits for the same buffer.

    At 100 TB the scan is bounded two ways: ``context_lo`` (a timestamp
    safely older than ``lookback_rows`` intervals) partition-prunes the
    history read, and the left-semi join on affected symbols drops idle
    keys before the window shuffle. Returns rows written (0 when the
    increment was already applied — idempotent like the full job).
    """
    cut = F.to_timestamp(F.lit(since))
    ctx = _incremental_context(
        spark, sf_dir, since, lookback_rows, context_lo
    )
    table = indicator_table(ctx, warmup=None).filter(F.col("time") >= cut)
    return upsert_ignore(table, out_path, keys=("time", "symbol"))


def _incremental_context(
    spark: SparkSession,
    sf_dir: str,
    since: str,
    lookback_rows: int = 60,
    context_lo: str | None = None,
) -> DataFrame:
    """The recompute context ``incremental_backfill_job`` feeds to the
    indicator plan: fresh post-cut rows plus each affected symbol's
    trailing ``lookback_rows`` history bars.  Split out so the scale
    posture (broadcast LEFT-SEMI prune of idle symbols BEFORE the
    window shuffle, per-symbol row_number tail) is pinned by
    tests/test_jobs.py against the PRODUCTION plan, not a test-local
    reconstruction."""
    from pyspark.sql import Window

    b = bars(spark, sf_dir)
    cut = F.to_timestamp(F.lit(since))
    fresh = b.filter(F.col("time") >= cut)
    syms = fresh.select("symbol").distinct()

    hist = b.filter(F.col("time") < cut)
    if context_lo is not None:
        hist = hist.filter(F.col("time") >= F.to_timestamp(F.lit(context_lo)))
    hist = hist.join(F.broadcast(syms), "symbol", "left_semi")
    wtail = Window.partitionBy("symbol").orderBy(
        F.col("time").desc(), F.col("event_id").desc()
    )
    tail = (
        hist.withColumn("_rn", F.row_number().over(wtail))
        .filter(F.col("_rn") <= lookback_rows)
        .drop("_rn")
    )
    return tail.unionByName(fresh)


def export_training_data_job(
    spark: SparkSession,
    sf_dir: str,
    out_root: str,
    budget: int = 512,
    n_shards: int = 8,
    tar_export: bool = False,
) -> dict:
    """End-to-end training-data export: curate the corpus (quality ->
    exact + near dedup), assign deterministic splits, pack each
    (lang, split) stream into token-budget sequences, shard packs by
    portable hash, and publish per-split parquet plus a manifest of
    per-split/shard pack counts and catalog stats.

    Writes are one job per split over the shared lazy curation plan.
    Shard assignment is the portable hash of the pack'"'"'s first doc id —
    stable across runs, so a re-export produces identical shard
    membership and a trainer can resume mid-epoch against it.

    ``tar_export=True`` additionally publishes each split's curated
    documents as WebDataset-style tar shards (``write_tar_shards`` —
    key = doc id, payload = text, portable-hash shard membership), the
    archive layout a streaming training loader consumes directly; the
    manifest records per-split member counts."""
    from .operators.curation import curate_corpus, pack_sequences
    from .operators.sampling import hash_bucket, split_assign
    from .operators.transforms import table_stats
    from .sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    curated = split_assign(curate_corpus(docs))
    packed = (
        pack_sequences(
            curated.withColumn("_grp", F.concat_ws("|", "lang", "split")),
            budget=budget,
            group_col="_grp",
        )
        .withColumn("split", F.split("_grp", "\\|")[1])
        .withColumn("shard", hash_bucket("first_id", n_shards))
    )

    manifest: dict = {"splits": {}, "budget": budget, "n_shards": n_shards}
    for split in ("train", "val", "test"):
        part = packed.filter(F.col("split") == split)
        path = f"{out_root}/{split}"
        part.repartition("shard").write.mode("overwrite").partitionBy(
            "shard"
        ).parquet(path)
        written = spark.read.parquet(path)
        counts = {
            int(r["shard"]): r["n"]
            for r in written.groupBy("shard").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        manifest["splits"][split] = {"packs": sum(counts.values()), "shards": counts}
    if tar_export:
        from .sources.formats import write_tar_shards

        manifest["tar"] = {}
        # curation carries metadata only; re-attach payload text by id
        with_text = curated.select("doc_id", "split").join(
            docs.select("doc_id", "text"), "doc_id"
        )
        for split in ("train", "val", "test"):
            tpath = f"{out_root}/{split}_tar"
            part = with_text.filter(F.col("split") == split).select(
                F.col("doc_id").cast("string").alias("key"),
                F.col("text").cast("binary").alias("payload"),
            )
            shard_counts = write_tar_shards(part, tpath, n_shards=n_shards)
            manifest["tar"][split] = sum(shard_counts.values())
    manifest["stats"] = {
        r["column"]: {"n_rows": r["n_rows"], "ndv": r["ndv"]}
        for r in table_stats(packed, ["first_id", "pack_id"]).collect()
    }
    return manifest
