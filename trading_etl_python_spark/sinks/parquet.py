"""Batch sinks: the reference's storage layer re-expressed as partitioned
parquet.

Reference semantics being reproduced (citations into /root/reference/):

- Table layout: TimescaleDB hypertable ``stock_indicators`` range-
  partitioned on ``time`` with PK ``(time, symbol)``
  (trading-etl-python/src/db/setup.py:55-98) -> parquet partitioned by
  ``trade_date`` so time-range queries partition-prune (SURVEY.md S6).
- Write path: ``INSERT ... ON CONFLICT (time, symbol) DO NOTHING``
  (src/processing/consumer.py:197-201, src/db/backfill.py:160-166) ->
  ``upsert_ignore``: first-writer-wins key dedup against ONLY the
  partitions the incoming batch touches.

Scale posture (100 TB): the existing-key anti-join never scans the whole
table — incoming partition values prune the read; within a date
partition the key set is bounded by that day's volume.  Plain parquet
append is not atomic across concurrent writers; on a real deployment the
same two calls map 1:1 onto an ACID table format's MERGE (Delta/Iceberg,
not present in this container).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: Rows per file of an ``upsert_ignore`` append.  Cost law: a batch of n
#: rows over d touched dates writes d x k files, k = ceil(n / (d x this)),
#: so a file holds at most ~this many rows on average and a hot date
#: spreads over k write tasks instead of pinning one.  4M indicator rows
#: is hundreds of MB of parquet, inside the 128 MB-1 GB file goal.
_UPSERT_ROWS_PER_FILE = 4_000_000


def _table_exists(path: str, partition_col: str) -> bool:
    # local-fs check is sufficient here; an object-store deployment would
    # consult the table catalog instead
    return os.path.isdir(path) and any(
        name.endswith(".parquet") or name.startswith((f"{partition_col}=", "_SUCCESS"))
        for name in os.listdir(path)
    )


#: Guard on driver-side touched-partition collects.  The list is bounded
#: by distinct partition values (days), so 100k covers ~270 years of a
#: daily-partitioned table; hitting the cap means the partition column is
#: wrong (near-unique), and collecting it would melt the driver at 100x.
MAX_TOUCHED_PARTITIONS = 100_000


def collect_touched_partitions(
    df: DataFrame, partition_col: str, max_partitions: int = MAX_TOUCHED_PARTITIONS
) -> list:
    """Distinct values of ``partition_col`` present in ``df``, with a hard
    size cap (r3 VERDICT "Next round" #7): the standard dynamic-overwrite/
    prune idiom collects this list to the driver, which is fine for
    date-grained partitions and catastrophic for a near-unique column —
    fail fast with guidance instead of OOMing the driver."""
    rows = df.select(partition_col).distinct().limit(max_partitions + 1).collect()
    if len(rows) > max_partitions:
        raise ValueError(
            f"more than {max_partitions} distinct {partition_col!r} partitions touched; "
            "this collect is driver-side and bounded by design — partition on a "
            "coarser column (e.g. a date), or raise max_partitions deliberately"
        )
    return [r[0] for r in rows]


def with_partition_col(
    df: DataFrame, partition_col: str = "trade_date", time_col: str = "time"
) -> DataFrame:
    if partition_col not in df.columns:
        df = df.withColumn(partition_col, F.to_date(F.col(time_col)))
    return df


def write_indicator_table(
    df: DataFrame,
    path: str,
    partition_col: str = "trade_date",
    time_col: str = "time",
    mode: str = "overwrite",
) -> None:
    """DDL + bulk load (setup.py:52-98 + backfill.py:150-166): create/replace
    the date-partitioned indicator table in one parallel write."""
    with_partition_col(df, partition_col, time_col).write.mode(mode).partitionBy(
        partition_col
    ).parquet(path)


def upsert_ignore(
    df: DataFrame,
    path: str,
    keys: tuple[str, ...] = ("time", "symbol"),
    partition_col: str = "trade_date",
    time_col: str = "time",
) -> int:
    """``INSERT ... ON CONFLICT (keys) DO NOTHING`` onto a date-partitioned
    parquet table (consumer.py:188-206).  Idempotent: re-running the same
    batch appends nothing — the at-least-once replay guarantee (SURVEY.md
    T4) holds end-to-end.  Returns the number of rows appended.

    Plan shape: dedup incoming on keys -> persist (ONE materialization of
    the upstream pipeline feeds both the prune list and the write — a
    non-deterministic upstream must not produce one touched-partition list
    and a different appended row set) -> read ONLY touched partitions of
    the existing table (partition-pruned by the incoming batch's distinct
    partition values, NULL partition handled explicitly — isin() alone
    would silently drop it) -> left-anti join -> count + append."""
    spark = df.sparkSession
    pinned = (
        with_partition_col(df, partition_col, time_col)
        .dropDuplicates(list(keys))
        .persist()
    )
    incoming = pinned
    touched: list = []
    try:
        if _table_exists(path, partition_col):
            touched = collect_touched_partitions(incoming, partition_col)
            non_null = [t for t in touched if t is not None]
            cond = F.col(partition_col).isin(non_null) if non_null else F.lit(False)
            if any(t is None for t in touched):
                cond = cond | F.col(partition_col).isNull()
            # read with the batch's own key + partition schema: no schema
            # inference job, and a table created empty (only _SUCCESS)
            # reads as no rows instead of failing to infer one
            ks = incoming.select(*keys, partition_col).schema
            existing_keys = spark.read.schema(ks).parquet(path).filter(cond).select(
                *[F.col(k).alias(f"_ex_{k}") for k in keys]
            )
            # null-safe key equality: a NULL-keyed row already in the table
            # must block its replay (plain `=` never matches NULL, which would
            # re-append it every run); the reference's PK is NOT NULL so this
            # only matters for generic callers
            anti_cond = None
            for k in keys:
                c = F.col(k).eqNullSafe(F.col(f"_ex_{k}"))
                anti_cond = c if anti_cond is None else anti_cond & c
            incoming = incoming.join(existing_keys, on=anti_cond, how="left_anti")
        n = incoming.count()
        if n:
            # r13 (guide §6 small files): without clustering, EVERY write
            # task opens a file per touched partition value — measured at
            # sf0.1: 32 tasks x ~23 dates = 736 files of ~100 rows for the
            # backfill seed, and the write cost 2.5x the pipeline compute
            # (5.6 s vs 2.2 s).  First cut used REBALANCE(partition_col);
            # AQE's 64 MB advisory then coalesced the whole sf1 table into
            # ONE serial write task (backfill sweeps +50-65%), so the
            # clustering is now an EXPLICIT repartition, which AQE leaves
            # alone: hash(partition value, key-hash bucket) into
            # touched x k tasks — every date still lands whole-in-one-task
            # (k=1), so ~one file per date, written in parallel across
            # dates.  At scale a hot date cannot pin the write to one
            # task: k = ceil(rows / (dates x rows_per_file)) sub-buckets
            # split it (_UPSERT_ROWS_PER_FILE); the bucket key is a
            # deterministic xxhash64 of the PK so task retries re-produce
            # the same placement
            # (guide §2.5).  ``touched`` comes from the existing-table
            # prune; on a first write it is one tiny distinct over the
            # already-persisted batch.  In the existing-table branch the
            # list is DELIBERATELY the pre-anti-join one (ADVICE r13):
            # a partition whose rows all dedup away leaves its shuffle
            # slots empty, which costs empty no-file tasks, while
            # recomputing ``touched`` post-anti-join would cost a second
            # distinct scan of the batch every run — the wrong trade at
            # every scale (empty tasks are ~free; the scan is not).
            if not touched:
                touched = collect_touched_partitions(incoming, partition_col)
            k = max(1, math.ceil(n / (max(1, len(touched)) * _UPSERT_ROWS_PER_FILE)))
            bucket = F.pmod(F.xxhash64(*[F.col(c) for c in keys]), F.lit(k))
            (
                incoming.repartition(
                    max(1, len(touched)) * k, F.col(partition_col), bucket
                )
                .write.mode("append")
                .partitionBy(partition_col)
                .parquet(path)
            )
        return n
    finally:
        pinned.unpersist()


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table (SURVEY.md §7.0: co-located joins).  Two
    tables bucketed by the same key into the same bucket count join
    WITHOUT a shuffle — the exchange happens once at write time and every
    downstream join/aggregation on the key rides it for free.  This is
    the batch analogue of the reference keying its Kafka topic by symbol
    (producer.py:89) so consumers see per-key locality."""
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table_name)


def upsert_replace(
    df: DataFrame,
    path: str,
    partition_col: str = "trade_date",
    time_col: str = "time",
) -> None:
    """Partition-level upsert-REPLACE: overwrite ONLY the partitions
    present in ``df``, leave every other partition untouched (Spark's
    dynamic partitionOverwriteMode).  This is the refresh primitive of a
    continuous aggregate — the TimescaleDB hypertable rollup the
    reference's storage roadmap points at (setup.py:92-98): recompute
    the buckets new data touched, atomically swap just those partitions.
    Unlike ``upsert_ignore`` (first-writer-wins, for idempotent fact
    appends) this is last-writer-wins at partition granularity — the
    right semantics when the new write IS the recomputed truth.

    The pre-write repartition on the partition column is load-bearing:
    without it every shuffle task holding rows for a date writes its own
    file there (tasks x dates tiny files — the classic small-file
    explosion); with it each date is written by one task as one file.
    At production volume add ``maxRecordsPerFile`` (or repartition by
    (partition, bucket) for parallelism within giant partitions)."""
    (
        with_partition_col(df, partition_col, time_col)
        .repartition(F.col(partition_col))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def write_sorted(
    df: DataFrame,
    path: str,
    partition_col: str = "trade_date",
    time_col: str = "time",
    sort_cols: tuple[str, ...] = ("symbol", "time"),
    mode: str = "overwrite",
) -> None:
    """Partitioned write with ``sortWithinPartitions`` on the query keys:
    every parquet row group gets tight min/max stats on (symbol, time),
    so any engine reading the table skips row groups on key predicates —
    a free secondary index, and the single highest-leverage layout
    decision for a 100 TB time-series table after date partitioning
    itself (clustering without a table format)."""
    out = with_partition_col(df, partition_col, time_col)
    (
        out.sortWithinPartitions(partition_col, *[F.col(c) for c in sort_cols])
        .write.mode(mode)
        .partitionBy(partition_col)
        .parquet(path)
    )


def compact_partitions(
    spark,
    path: str,
    partition_col: str = "trade_date",
    files_per_partition: int = 1,
    sort_cols: tuple[str, ...] = ("symbol", "time"),
) -> None:
    """Small-file compaction: rewrite every partition into
    ``files_per_partition`` sorted files, in place.  Streaming/micro-batch
    ingestion leaves thousands of KB-sized files per date partition;
    at scale that means open()-bound scans and a throttled namenode/
    object store.  Compaction = read -> repartition BY THE PARTITION
    VALUE (each output task owns whole partitions) -> sorted dynamic
    partition overwrite, so untouched partitions stay byte-identical.

    ``localCheckpoint`` materializes the input before the overwrite (Spark
    refuses to overwrite a path it is still reading).  A production
    deployment stages to a temp prefix + atomic swap instead; the plan
    shape (one shuffle keyed by partition value) is the same."""
    df = spark.read.parquet(path).localCheckpoint()
    parts = [F.col(partition_col)]
    if files_per_partition > 1:
        df = df.withColumn(
            "_slice", F.pmod(F.xxhash64(*[F.col(c) for c in sort_cols]), F.lit(files_per_partition))
        )
        parts.append(F.col("_slice"))
    (
        df.repartition(*parts)
        .drop("_slice")
        .sortWithinPartitions(partition_col, *[F.col(c) for c in sort_cols])
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def zorder_value(df: DataFrame, cols: tuple[str, ...], bits: int = 16) -> DataFrame:
    """Add a ``_z`` column: the Morton (Z-order) code interleaving the
    bit patterns of each column's rank on a fixed 2^bits grid.

    Ranks come from ``width_bucket`` over the column's (min, max) — two
    scalars per column from one tiny aggregate, no global sort, no
    shuffle for the mapping itself.  Interleaving is a JVM-side
    expression (shiftleft/or over ``bits`` terms), so the whole z-value
    stays inside whole-stage codegen.
    """
    stats = df.agg(
        *[F.min(c).alias(f"mn_{c}") for c in cols],
        *[F.max(c).alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    n = 2**bits
    ranks = []
    for c in cols:
        mn, mx = float(stats[f"mn_{c}"]), float(stats[f"mx_{c}"])
        if mx <= mn:  # constant column: rank 0 everywhere
            ranks.append(F.lit(0).cast("long"))
        else:
            # width_bucket returns 1..n+1; clamp into 0..n-1
            b = F.width_bucket(F.col(c).cast("double"), F.lit(mn), F.lit(mx), F.lit(n))
            ranks.append(F.least(F.lit(n - 1), F.greatest(F.lit(0), b - 1)).cast("long"))
    z = F.lit(0).cast("long")
    k = len(cols)
    for i in range(bits):
        for j, r in enumerate(ranks):
            z = z.bitwiseOR(F.shiftleft(F.shiftright(r, i).bitwiseAND(F.lit(1)), i * k + j))
    return df.withColumn("_z", z)


def write_zordered(
    df: DataFrame, path: str, cols: tuple[str, ...], num_files: int = 8, bits: int = 16
) -> None:
    """Z-order clustered write: range-partition + sort by the Morton
    code of ``cols``, so parquet row-group min/max stats are tight on
    EVERY clustered column at once.

    A linear sort gives pruning on its leading column only; Z-order
    bounds each file to a hypercube of the key space, so selective
    filters on ANY of the clustered columns skip most files/row groups.
    This is the layout for the 100 TB secondary-access-path problem
    (e.g. events clustered by (user_id, value) under date partitions)
    without a table format's OPTIMIZE ZORDER — plain parquet + stats.
    ``repartitionByRange`` samples the z-values (no full sort shuffle
    beyond the one range exchange); row groups inherit tightness from
    ``sortWithinPartitions``.
    """
    (
        zorder_value(df, cols, bits)
        .repartitionByRange(num_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )
