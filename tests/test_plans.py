"""Physical-plan posture tests: pin the execution properties that matter
at 100 TB, so a regression that silently changes the plan (lost pushdown,
broadcast flipping to shuffle, extra exchanges) fails CI even though
results stay correct.

These assert on `.explain`-level artifacts: PushedFilters reaching the
parquet scan, column-pruned ReadSchema, BroadcastHashJoin for dimension
tables, TakeOrderedAndProject for top-k, and the exchange budget of the
indicator pipeline.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from trading_etl_python_spark.operators.indicators import indicator_table
from trading_etl_python_spark.sources.tables import bars, load_table
from trading_etl_python_spark.suite import QUERIES


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _explain_formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_time_range_filter_pushed_to_scan(spark, sf_dir):
    plan = _explain_formatted(QUERIES["q_time_range"](spark, sf_dir))
    scan = plan[plan.index("Scan parquet") :]
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", scan)
    assert pushed is not None, "no PushedFilters in scan node"
    assert "time" in pushed.group(1) or "ts" in pushed.group(1), pushed.group(1)


def test_doc_profile_prunes_text_column(spark, sf_dir):
    """Profiling aggregates metadata only — the (wide) text column must
    not appear in the parquet ReadSchema."""
    plan = _explain_formatted(QUERIES["q_doc_profile"](spark, sf_dir))
    read_schema = re.search(r"ReadSchema: (\S+)", plan)
    assert read_schema and "text" not in read_schema.group(1)


def test_join_agg_broadcasts_dimension_tables(spark, sf_dir):
    """region/nation/supplier/customer are dimension-sized: the revenue
    join must broadcast them, never shuffle lineitem for them."""
    plan = _executed(QUERIES["q_join_agg"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # the fact table must not be sort-merge-joined against 5-row region
    assert plan.count("SortMergeJoin") == 0


def test_top_orders_uses_take_ordered(spark, sf_dir):
    """ORDER BY + LIMIT must compile to TakeOrderedAndProject (per-
    partition heaps, k rows over the wire) — not a global sort."""
    plan = _executed(QUERIES["q_top_orders"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_topk_cosine_uses_take_ordered(spark, sf_dir):
    plan = _executed(QUERIES["q_topk_cosine"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_indicator_pipeline_exchange_budget(spark, sf_dir):
    """The full 13-indicator table must run in exactly ONE exchange:
    hash(symbol) serves the window stage, the VWAP (symbol, day) window
    (day refines symbol clustering, so it costs only a local sort), the
    Arrow recursive stage, and the warmup gate (its history count rides
    the window stage) — NOT one shuffle per indicator."""
    plan = _executed(indicator_table(bars(spark, sf_dir), warmup=26))
    n_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_exchanges == 1, f"expected 1 exchange, got {n_exchanges}:\n{plan[:2000]}"


def test_latest_per_key_no_global_sort(spark, sf_dir):
    """W13 latest-row-per-key must be a partial-agg max_by (map-side
    combine), not a window sort over the whole table."""
    plan = _executed(QUERIES["q_latest_per_key"](spark, sf_dir))
    assert "max_by" in plan or "Window" in plan  # either strategy is fine...
    # ...but a global (non-partitioned) Sort is not
    assert not re.search(r"Sort \[[^\]]*\], true", plan.replace("ENSURE_REQUIREMENTS", ""))


def test_events_scan_prunes_props_column(spark, sf_dir):
    """bars() never touches event_type/props — verify the scan schema is
    pruned to the 4 used columns."""
    df = bars(spark, sf_dir).select("symbol", "time", "close")
    plan = _explain_formatted(df)
    read_schema = re.search(r"ReadSchema: (\S+)", plan)
    assert read_schema and "props" not in read_schema.group(1)


def test_candles_single_exchange_no_sort(spark, sf_dir):
    """The candle rollup must be ONE partial-aggregated hash aggregation:
    one exchange, no Window operator, no Sort (min_by/max_by carry the
    open/close through map-side combine)."""
    plan = _executed(QUERIES["q_candles"](spark, sf_dir))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan[:2000]
    assert "Window" not in plan and "Sort " not in plan, plan[:2000]


def test_basket_correlation_broadcasts_pair_join(spark, sf_dir):
    """The pair join runs on the day-aggregated (tiny) table -> must be
    broadcast, never a SortMergeJoin of the raw stream."""
    df = QUERIES["q_symbol_corr"](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()  # let AQE finalize
    plan = _executed(df)
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_corpus_pipeline_quality_filter_is_map_side(spark, sf_dir):
    """The quality predicate must run in the SCAN stage (stage order is
    the optimization: filter -> dedup -> near-dup): walking down from
    each quality Filter to its parquet scan must cross no Exchange.
    Built with checkpoint=False — the production checkpoint barrier
    hides the survivor subtree from the final executedPlan; the
    property under test lives entirely below that barrier, so the
    unbarriered plan is the honest one to assert on."""
    from trading_etl_python_spark.operators.curation import curate_corpus
    from trading_etl_python_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    lines = _executed(curate_corpus(docs, checkpoint=False)).splitlines()
    filter_rows = [i for i, ln in enumerate(lines) if "Filter" in ln and "0.5" in ln]
    assert filter_rows, "quality filter not found in plan"
    for i in filter_rows:
        for ln in lines[i + 1 :]:
            if "Exchange" in ln:
                raise AssertionError(f"Exchange between quality filter and scan:\n{lines[i]}")
            if "Scan parquet" in ln or "FileScan" in ln:
                break


def test_range_join_is_not_cartesian(spark, sf_dir):
    """The interval join has an equi-key (user_id): it must execute as a
    hash/sort-merge equi-join with the range as a post-condition — a
    BroadcastNestedLoopJoin/CartesianProduct would be O(N*M) at scale."""
    plan = _executed(QUERIES["q_range_join"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_funnel_stage_aggs_share_partitioning(spark, sf_dir):
    """All three funnel stages key on user_id; with exchange reuse the
    physical plan must not exceed one exchange per distinct dataset leg
    (3 stage scans + joins -> <=6 hashpartitioning exchanges, not 9+)."""
    plan = _executed(QUERIES["q_funnel"](spark, sf_dir))
    n = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n <= 6, f"funnel plan shuffles {n} times:\n{plan[:3000]}"


def test_split_assign_no_shuffle(spark, sf_dir):
    """Hash-bucketed split assignment is pure map-side: zero exchanges."""
    plan = _executed(QUERIES["q_split_assign"](spark, sf_dir))
    assert "Exchange" not in plan, plan[:2000]


def test_sql_q1_partial_aggregation(spark, sf_dir):
    """TPC-H Q1 must partial-aggregate before the exchange (6 groups ->
    the shuffle moves bytes, not rows)."""
    plan = _executed(QUERIES["q_sql_tpch_q1"](spark, sf_dir))
    n_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_exchanges == 1, plan[:2000]
    assert "HashAggregate" in plan


def test_sql_q3_pushes_both_filters(spark, sf_dir):
    plan = _explain_formatted(QUERIES["q_sql_tpch_q3"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    joined = " ".join(pushed)
    assert "o_orderdate" in joined and "l_shipdate" in joined, pushed


def test_gapfill_windows_share_one_sort(spark, sf_dir):
    """The three fill windows (locf/next/interp) run over the same
    (symbol, bucket) order: exactly one Sort node, no exchange between
    the Window nodes, and the scaffold join is a broadcast."""
    plan = _explain_formatted(QUERIES["q_gapfill_locf"](spark, sf_dir))
    assert plan.count("Sort (") == 1, plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("Window (") == 3
    # shuffle budget: the two rollup aggs only — nothing between windows
    assert plan.count("- Exchange (") == 2, plan


def test_decontaminate_broadcasts_eval_side(spark, sf_dir):
    """The eval shingle set is benchmark-sized: the contamination join
    must broadcast it so the train corpus never shuffles for the join."""
    plan = _executed(QUERIES["q_decontaminate"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_kmeans_step_single_exchange_no_sort(spark, sf_dir):
    """Lloyd step = map-side assign + partial-aggregated mean recompute:
    exactly one exchange (the KxD-keyed agg), no join, no sort."""
    plan = _explain_formatted(QUERIES["q_kmeans_step"](spark, sf_dir))
    assert plan.count("Exchange (") == 1, plan
    assert "Join" not in plan and "Sort (" not in plan
    assert "partial_avg" in plan or "partial_average" in plan.lower(), plan


def test_sql_q18_semi_join_not_cartesian(spark, sf_dir):
    """Q18's IN-over-HAVING subquery must plan as a semi join on
    l_orderkey — a nested-loop fallback would be O(N*M) at scale."""
    plan = _executed(QUERIES["q_sql_tpch_q18"](spark, sf_dir))
    assert "LeftSemi" in plan, plan[:2000]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sql_q22_anti_join(spark, sf_dir):
    """Q22's NOT EXISTS must decorrelate to a left-anti join on
    o_custkey with the date filter pushed below it."""
    plan = _executed(QUERIES["q_sql_tpch_q22"](spark, sf_dir))
    assert "LeftAnti" in plan, plan[:2000]
    assert "CartesianProduct" not in plan


def test_sql_q8_broadcasts_all_dims(spark, sf_dir):
    """Q8 joins six dimension legs (part, supplier, customer, nation x2,
    region) onto the lineitem x orders spine; every dim leg must
    broadcast so the spine shuffles at most once per side."""
    plan = _executed(QUERIES["q_sql_tpch_q8"](spark, sf_dir))
    n_bhj = len(re.findall(r"BroadcastHashJoin", plan))
    assert n_bhj >= 5, f"only {n_bhj} broadcast joins:\n{plan[:3000]}"


def test_sql_q17_decorrelates_scalar_avg(spark, sf_dir):
    """Q17's correlated 0.2*AVG subquery must decorrelate into an
    aggregate-then-join on l_partkey (no per-row re-execution shape),
    with the Brand filter pushed into the part scan."""
    plan = _explain_formatted(QUERIES["q_sql_tpch_q17"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    assert "p_brand" in pushed, pushed


def test_sql_q12_pushes_date_bounds(spark, sf_dir):
    """Q12-shape's lineitem date band and returnflag filter must reach
    the parquet scan; the 2-group conditional aggregate must be partial
    (map-side) so the final shuffle moves bytes, not rows."""
    plan = _explain_formatted(QUERIES["q_sql_tpch_q12"](spark, sf_dir))
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    assert "l_shipdate" in pushed and "l_returnflag" in pushed, pushed
    assert "partial_sum" in plan.lower() or "HashAggregate" in plan, plan[:2000]
    assert "CartesianProduct" not in plan


def test_sql_q21_double_anti_semi_join(spark, sf_dir):
    """Q21-shape's EXISTS must plan as a left-semi and its NOT EXISTS
    as a left-anti join, both equi-joins on l_orderkey — a correlated
    re-execution or nested-loop fallback would be quadratic at scale."""
    plan = _executed(QUERIES["q_sql_tpch_q21"](spark, sf_dir))
    assert "LeftSemi" in plan, plan[:2000]
    assert "LeftAnti" in plan, plan[:2000]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_spread_keyless_noop_when_already_wide(spark):
    """Keyless spread is pure fan-out: at or above shuffle-width it must
    be a no-op (no pure-overhead exchange); below, it widens, capped by
    factor; keyed spread always repartitions (co-location is semantic)."""
    from trading_etl_python_spark.util import spread

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    wide = spark.range(1000).repartition(n)
    assert spread(wide) is wide  # no-op, not even a new plan node
    narrow = spark.range(1000).coalesce(1)
    assert spread(narrow).rdd.getNumPartitions() == n
    assert spread(narrow, factor=4).rdd.getNumPartitions() == min(n, 4)
    # keyed: repartitions even when already wide (hash distribution on
    # the key is what mapInPandas kernels rely on)
    keyed = spread(wide.withColumn("k", wide.id % 7), "k")
    assert "hashpartitioning(k" in keyed._jdf.queryExecution().executedPlan().toString()


def test_spread_probe_is_skipped_or_memoized(spark, monkeypatch):
    """r10: the width probe (full physical planning, ~105 ms driver-side)
    must not run when the target doesn't depend on it (keyed, no factor)
    and must be memoized by semantic hash elsewhere — semantically-equal
    rebuilds of the same projection (bench reruns, composed pipelines)
    pay analysis only."""
    import trading_etl_python_spark.util as U

    def _boom(df):
        raise AssertionError("probe ran")

    # keyed + no factor: t = n, no probe at all
    monkeypatch.setattr(U, "_num_partitions", _boom)
    df = spark.range(100).withColumn("k", F.col("id") % 5)
    out = U.spread(df, "k")
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert "hashpartitioning(k" in out._jdf.queryExecution().executedPlan().toString()
    monkeypatch.undo()

    # keyless: first call probes and caches; a semantically-equal rebuild
    # hits the memo (poison the cached value and observe it being used).
    # try/finally (r10 ADVICE): an assertion failure between the poison
    # and the clear must not leak a wrong memoized width into every
    # later test of the session
    U._NPART_CACHE.clear()
    try:
        narrow = spark.range(100).coalesce(1)
        assert U.spread(narrow).rdd.getNumPartitions() == n
        key = spark.range(100).coalesce(1).semanticHash()
        assert U._NPART_CACHE[spark].get(key) == 1
        U._NPART_CACHE[spark][key] = n  # poison: memo says "already wide"
        again = spark.range(100).coalesce(1)
        assert U.spread(again) is again  # no-op proves the memo was read
    finally:
        U._NPART_CACHE.clear()


def test_spread_keyed_factor_at_or_above_width_skips_the_probe(spark):
    """Keyed with ``n <= factor`` the target is n whatever the current
    width, so spread fires no job even over a frame whose width probe
    would run its shuffle stage under AQE."""
    import trading_etl_python_spark.util as U

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert n <= 16
    sc = spark.sparkContext
    df = (
        spark.range(1000).groupBy((F.col("id") % 37).alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sc.setJobGroup("spread-keyed-factor", "spread-keyed-factor")
    try:
        out = U.spread(df, "k", factor=16)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert not sc.statusTracker().getJobIdsForGroup("spread-keyed-factor")
    assert out.rdd.getNumPartitions() == n


def test_ngram_pairs_shingle_subtree_computes_twice(spark, sf_dir):
    """The pair self-join's sides must be the same shingle subtree —
    exactly 2 document scans in the executed plan, not the 4 the old
    count-aggregate-join shape produced."""
    df = QUERIES["q_dedup_ngram"](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 2, plan[:1500]


def test_minhash_banding_signature_computes_once(spark, sf_dir):
    """Signatures ride the band join via the checkpoint: at most the two
    checkpoint reads appear, never a re-derivation from the documents
    scan per verification side."""
    df = QUERIES["q_dedup_minhash"](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 0, plan[:1500]  # only checkpoint scans
    assert plan.count("Scan ExistingRDD") <= 2, plan[:1500]


def test_minhash_ml_verified_semi_join_broadcasts(spark, sf_dir):
    """The exact-verify stage of the two-phase LSH dedup must prune the
    shingle explode with a BROADCAST semi join on candidate ids — the
    property that keeps the verify cost proportional to candidates, not
    corpus (a shuffled semi join would re-shuffle every shingle)."""
    plan = _executed(QUERIES["q_dedup_minhash_ml"](spark, sf_dir))
    m = re.search(r"BroadcastHashJoin .*LeftSemi", plan)
    assert m is not None, "candidate-id semi join is not broadcast"


def test_upsert_replace_one_file_per_partition(spark, tmp_path):
    """The pre-write repartition must land each date partition as ONE
    file — the guard against the tasks x dates small-file explosion."""
    import glob
    import os

    from trading_etl_python_spark.sinks.parquet import upsert_replace

    df = spark.range(2000).selectExpr(
        "id AS k",
        "timestamp_millis(1700000000000 + (id % 5) * 86400000) AS time",
        "CAST(id AS DOUBLE) AS v",
    )
    path = str(tmp_path / "t")
    upsert_replace(df, path, "d", "time")
    for part in glob.glob(os.path.join(path, "d=*")):
        files = [f for f in os.listdir(part) if f.endswith(".parquet")]
        assert len(files) == 1, (part, files)


def test_span_dedup_single_exchange_pair(spark, sf_dir):
    """Span dedup = one shuffle for the span-hash window + one for the
    per-doc groupBy; anything beyond (plus the spread fan-out) means the
    plan grew a redundant exchange."""
    plan = _executed(QUERIES["q_span_dedup"](spark, sf_dir))
    assert plan.count("Exchange") <= 3, plan.count("Exchange")
    assert "SortMergeJoin" not in plan  # no join in this plan at all


def test_domain_mix_broadcasts_rate_table(spark, sf_dir):
    """The |strata|-row rate table must broadcast; documents must never
    shuffle for the mixture membership."""
    plan = _executed(QUERIES["q_domain_mix"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_embed_quantize_scoring_is_broadcast_only(spark, sf_dir):
    """Quantization scoring joins only the 1-row packed codebook —
    broadcast nested loop over a single row, no shuffle of embeddings
    beyond the d-row param aggregation."""
    plan = _executed(QUERIES["q_embed_quantize"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_heavy_hitters_candidates_broadcast(spark, sf_dir):
    """The exact re-verify must broadcast the candidate set into the
    token stream (semi-equi-join), never shuffle the full explode."""
    plan = _executed(QUERIES["q_heavy_hitters"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pagerank_edge_agg_broadcasts_dims(spark, sf_dir):
    """Edge-list construction joins dimension-sized customer/supplier:
    they broadcast; lineitem never sort-merge-joins a dimension."""
    from trading_etl_python_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .groupBy(supp["s_nationkey"].alias("src"), cust["c_nationkey"].alias("dst"))
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    plan = _executed(edges)
    assert "BroadcastHashJoin" in plan


def test_bm25_take_ordered_and_broadcast_stats(spark, sf_dir):
    """Ranking compiles to TakeOrderedAndProject; corpus stats and the
    |q|-row df table ride in as broadcasts — no sort-merge join."""
    plan = _executed(QUERIES["q_bm25"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    """Joining a date-partitioned fact table against a filtered dim must
    plan a dynamicpruning subquery on the partition column — at 100 TB
    this is the difference between scanning 3 partitions and 3000."""
    from pyspark.sql import functions as F

    from trading_etl_python_spark.sinks.parquet import with_partition_col
    from trading_etl_python_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    fact = str(tmp_path / "fact")
    with_partition_col(ev, "trade_date", "ts").write.partitionBy(
        "trade_date"
    ).parquet(fact)
    # the dim must be a SEPARATE source with a selective filter — a
    # limit/self-derived dim does not qualify for DPP
    dim_path = str(tmp_path / "dim")
    ev.select(F.to_date("ts").alias("trade_date")).distinct().withColumn(
        "region", (F.dayofmonth("trade_date") % 3).cast("int")
    ).write.parquet(dim_path)

    f = spark.read.parquet(fact)
    d = spark.read.parquet(dim_path).filter(F.col("region") == 1)
    joined = f.join(d, "trade_date").groupBy("trade_date").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_bpe_pairs_map_side_combine_topk(spark, sf_dir):
    """BPE pair counting: the corpus collapses to the (word, count)
    vocabulary first (exchange 1, map-side combine), then pairs are
    counted over distinct words weighted by count (exchange 2) — both
    exchanges vocabulary-bounded, never corpus-sized pair streams — and
    TakeOrderedAndProject selects top-k, never a global sort."""
    plan = _executed(QUERIES["q_bpe_pairs"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange") == 2, plan
    # partial aggregation BELOW each exchange: executedPlan prints root
    # first, so map-side partials must appear AFTER their Exchange
    assert "partial_sum" in plan[plan.index("Exchange") :], plan
    assert "partial_count" in plan[plan.rindex("Exchange") :], plan
    # pair construction is codegen posexplode/element_at, never an
    # interpreted per-char substr lambda (tokens_col's one O(tokens)
    # empty-string filter lambda is the only lambda allowed)
    assert "substr" not in plan.lower(), plan


def test_cdc_dedup_single_exchange_topk(spark, sf_dir):
    """CDC chunk report: chunking is map-side (explode of in-row HOFs);
    the only exchange is the fixed-width chunk-hash aggregation."""
    plan = _executed(QUERIES["q_cdc_dedup"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    # chunk build must not shuffle: exchanges = hash agg (+ the spread
    # repartition that fans the single-file scan across cores)
    assert plan.count("Exchange") <= 2, plan


def test_semdedup_pair_join_keyed_on_cell(spark, sf_dir):
    """SemDeDup: the pair join must be an equi-join on the cell id
    (broadcast or shuffled-hash — bounded by Σ|cell|²), never a
    cartesian/nested-loop product over the corpus."""
    plan = _executed(QUERIES["q_semdedup"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_semdedup_capped_pair_join_keyed_on_cell_and_sub(spark, sf_dir):
    """r10 cell-size cap: the pair join must equi-key on BOTH the cell
    id and the sub-group hash (the sub key is what bounds the pair
    space at ~N*m under cell skew), and stay off the nested-loop path."""
    plan = _executed(QUERIES["q_semdedup_capped"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "_sub" in plan  # the sub-group key participates in the join


def test_group_sample_uses_window_group_limit(spark, sf_dir):
    """Exact-n group sample: rank-filter must push WindowGroupLimit
    below the exchange so each task's sort is capped at n rows."""
    plan = _executed(QUERIES["q_group_sample"](spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "TakeOrderedAndProject" not in plan  # no global ordering


def test_pca_power_gram_is_partial_aggregated(spark, sf_dir):
    """PCA: the corpus-sized work is the Gram build, which must partial-
    aggregate to d^2 rows before its exchange; the iteration joins run
    over checkpointed d^2 coordinates only."""
    from trading_etl_python_spark.operators.similarity import gram_matrix
    from trading_etl_python_spark.sources.tables import load_table

    g = gram_matrix(load_table(spark, sf_dir, "embeddings"))
    plan = _executed(g)
    assert plan.count("Exchange") == 1, plan


def test_pq_topk_two_take_ordered_tiers_no_join_on_vectors(spark, sf_dir):
    """PQ ADC top-k: encoding + LUT are map-side literals over ONE
    corpus scan (plus the broadcast 1-row query); both selection tiers
    compile to TakeOrderedAndProject — no global sort, no vector join.
    (The formatted plan is ~140k chars: the codebooks are inlined.)"""
    plan = _executed(QUERIES["q_pq_topk"](spark, sf_dir))
    assert plan.count("TakeOrderedAndProject") == 2, plan.count(
        "TakeOrderedAndProject"
    )
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_sql_q2_single_pass_min_cost(spark, sf_dir):
    """Q2-shape (r13 rewrite, r12 VERDICT #2): the Spark plan must scan
    lineitem exactly ONCE — the r12 form expanded the supply CTE into
    two final-aggregation consumers, which at sf10 each spilled ~6 GB
    over a near-distinct (partkey, suppkey) hash table — with the
    part filter below the supply aggregation (pushed to the part scan)
    and the per-part min as a Window, not a second aggregate + join
    back.  No nested-loop fallback."""
    plan = _explain_formatted(QUERIES["q_sql_tpch_q2"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    assert "p_size" in pushed and "p_type" in pushed, pushed
    lineitem_scans = re.findall(r"Location: \S+ \[[^\]]*lineitem\.parquet\]", plan)
    assert len(lineitem_scans) == 1, lineitem_scans
    assert "Window" in plan


def test_sql_q9_partial_profit_rollup(spark, sf_dir):
    """Q9-shape's profit expression must fold into a map-side partial
    aggregate (the exchange carries nation x year partials, not
    lineitems), with the p_name LIKE filter pushed to the part scan."""
    plan = _explain_formatted(QUERIES["q_sql_tpch_q9"](spark, sf_dir))
    assert "partial_sum" in plan.lower() or "HashAggregate" in plan
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    assert "p_name" in pushed, pushed
    assert "CartesianProduct" not in plan


def test_sql_q11_scalar_threshold_no_nested_loop(spark, sf_dir):
    """Q11-shape's HAVING threshold is an uncorrelated scalar subquery:
    it must evaluate once (subquery node), never as a nested-loop join
    against the grouped output."""
    plan = _executed(QUERIES["q_sql_tpch_q11"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_sql_q16_null_aware_anti_join(spark, sf_dir):
    """Q16-shape's NOT IN must plan as an anti join against the (tiny,
    broadcast) excluded-supplier set, not a per-row subquery."""
    plan = _executed(QUERIES["q_sql_tpch_q16"](spark, sf_dir))
    assert "LeftAnti" in plan, plan[:2000]
    assert "CartesianProduct" not in plan


def test_sql_q20_semi_join_over_correlated_having(spark, sf_dir):
    """Q20-shape's IN must plan as a left-semi join on s_suppkey, and
    the correlated 0.5x-of-part-total HAVING must decorrelate to a
    per-part aggregate joined back on partkey (equi-joins only)."""
    plan = _executed(QUERIES["q_sql_tpch_q20"](spark, sf_dir))
    assert "LeftSemi" in plan, plan[:2000]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_event_runs_single_user_exchange(spark, sf_dir):
    """Both gaps-and-islands windows and the run collapse must ride ONE
    hash(user) exchange — the per-type window partitions by a superset
    key of an already-satisfied distribution."""
    plan = _executed(QUERIES["q_event_runs"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]


def test_scd2_single_key_exchange(spark, sf_dir):
    """lag-filter-lead/version: three windows, one hash(user) exchange,
    zero joins."""
    plan = _executed(QUERIES["q_scd2"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
    assert "Join" not in plan


def test_label_encode_broadcasts_mapping(spark, sf_dir):
    """The index mapping is |distinct types| rows — it must broadcast;
    the corpus side must not shuffle for the join."""
    plan = _executed(QUERIES["q_label_encode"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hopping_window_is_map_side_explode(spark, sf_dir):
    """window(size, slide) must expand in-row (Expand/Explode before the
    single aggregation exchange) — never via a join."""
    plan = _executed(QUERIES["q_hopping_window"](spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]


def test_embed_neardup_blocks_on_composite_key(spark, sf_dir):
    """The bounded near-dup enumeration must join on (label, bucket) —
    the hash bucket must appear in the join key so the pair space
    subdivides with corpus size."""
    plan = _executed(QUERIES["q_embed_neardup"](spark, sf_dir))
    assert "_blk" in plan, "composite block key missing from join"


def test_ichimoku_single_symbol_exchange(spark, sf_dir):
    """All four ichimoku lines are fixed-frame windows over the same
    hash(symbol) distribution — ONE exchange, zero joins (the indicator
    pipeline envelope)."""
    plan = _executed(QUERIES["q_ichimoku"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
    assert "Join" not in plan


def test_pivot_points_two_exchanges_no_join(spark, sf_dir):
    """Daily H/L/C reduce rides hash(symbol, day); the prior-day lag
    rides hash(symbol).  Two exchanges, no join anywhere."""
    plan = _executed(QUERIES["q_pivot_points"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 2, plan[:2000]
    assert "Join" not in plan


def test_var_es_rank_windows_reuse_symbol_exchange(spark, sf_dir):
    """Daily pre-agg + rank windows: the final groupBy(symbol) must
    reuse the window's hash(symbol) distribution — two exchanges total,
    no join."""
    plan = _executed(QUERIES["q_var_es"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 2, plan[:2000]
    assert "Join" not in plan


def test_acf_single_window_pass_all_lags(spark, sf_dir):
    """The three lag columns must come out of one window pass (stack
    unpivot, not per-lag re-scans): one scan of events, no join."""
    plan = _executed(QUERIES["q_acf"](spark, sf_dir))
    assert plan.count("Scan parquet") <= 1, plan[:2000]
    assert "Join" not in plan


def test_ewma_vol_grouped_arrow_kernel(spark, sf_dir):
    """The recurrence must run as ONE grouped Arrow stage (per-symbol
    kernel), with the daily grid pre-aggregated before Python."""
    plan = _executed(QUERIES["q_ewma_vol"](spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "Join" not in plan


def test_volume_profile_partial_agg_before_exchange(spark, sf_dir):
    """Bin aggregation must partial-aggregate map-side (HashAggregate
    below the exchange) and the share window reuses hash(symbol): at
    most two exchanges, no join."""
    plan = _executed(QUERIES["q_volume_profile"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 2, plan[:2000]
    assert "Join" not in plan


def test_moments_two_pass_reuses_symbol_exchange(spark, sf_dir):
    """Mean window + centered-moment aggregation share hash(symbol)
    after the daily pre-agg — at most two exchanges, no join."""
    plan = _executed(QUERIES["q_moments"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 2, plan[:2000]
    assert "Join" not in plan


def test_dsir_single_conditional_freq_aggregation(spark, sf_dir):
    """Both LMs must come from ONE conditional aggregation of the token
    stream: at most two scans of documents (freq build + score join),
    and no third pass for the totals."""
    plan = _executed(QUERIES["q_dsir_weights"](spark, sf_dir))
    scans = plan.count("Scan parquet")
    assert scans <= 2, f"{scans} document scans\n{plan[:2000]}"


def test_tfidf_cosine_no_action_during_construction(spark, sf_dir):
    """Plan construction must be fully lazy: the r6 form ran a
    driver-side df.count() while BUILDING the plan (re-scanning the
    input per call); N is now an in-plan 1-row aggregate.  Pin it by
    constructing over an in-memory frame (no parquet schema-inference
    jobs) and asserting zero Spark jobs run inside the builder call."""
    from trading_etl_python_spark.operators.text import tfidf_cosine_pairs

    docs = spark.createDataFrame(
        [(i, ("red fox " if i < 4 else "blue owl ") + ("x%d" % i))
         for i in range(8)],
        "doc_id long, text string",
    )
    sc = spark.sparkContext
    sc.setJobGroup("tfidf-construct", "plan construction must be lazy")
    try:
        out = tfidf_cosine_pairs(docs, threshold=0.0)
        jobs = sc.statusTracker().getJobIdsForGroup("tfidf-construct")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(jobs) == [], f"jobs ran during plan construction: {jobs}"
    assert out.count() > 0  # and the lazy plan still executes


def test_tfidf_top_terms_no_action_during_construction(spark, sf_dir):
    """Same laziness pin for tfidf_top_terms: its r11 form ran
    df.count() at plan-build time (r11 VERDICT wrong #3 — the last
    eager construction in the registry); N is now the same in-plan
    1-row aggregate + broadcast crossJoin as tfidf_cosine.  The
    registry-wide closure of this class is tools/lint_registry.py
    --lazy (r12 artifact: a3e8e3f:sweeps/r12_lazy_lint.log)."""
    from trading_etl_python_spark.operators.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [(i, ("red fox " if i < 4 else "blue owl ") + ("x%d" % i))
         for i in range(8)],
        "doc_id long, text string",
    )
    sc = spark.sparkContext
    sc.setJobGroup("tfidf-top-construct", "plan construction must be lazy")
    try:
        out = tfidf_top_terms(docs, k=2)
        jobs = sc.statusTracker().getJobIdsForGroup("tfidf-top-construct")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(jobs) == [], f"jobs ran during plan construction: {jobs}"
    assert out.count() > 0  # and the lazy plan still executes


def test_gopher_rules_shuffle_free(spark, sf_dir):
    """The first curation gate stays a pure map-side pass AT CORPUS
    SCALE: on an input already at shuffle-width the r11 keyless
    spread() is a no-op and the plan has zero exchanges of any kind.
    (On a NARROW gate scan the spread deliberately inserts ONE
    round-robin fan-out so the per-token rule CPU parallelizes —
    that single exchange is the allowed maximum there.)"""
    from trading_etl_python_spark.operators.text import gopher_rules
    from trading_etl_python_spark.sources.tables import load_table

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    docs = load_table(spark, sf_dir, "documents").repartition(n)
    wide = gopher_rules(docs)
    plan = wide._jdf.queryExecution().executedPlan().toString()
    # EXACTLY one exchange — the explicit test repartition (round-robin
    # by construction); gopher adds none.  == 1 plus the RoundRobin
    # match means a gopher-introduced hashpartitioning exchange cannot
    # hide behind the repartition's allowance (r11 ADVICE #3).
    assert plan.count("Exchange") == 1, plan[:2000]
    assert plan.count("Exchange roundrobin") + plan.count(
        "Exchange RoundRobin"
    ) == 1, plan[:2000]
    narrow = _executed(QUERIES["q_gopher_rules"](spark, sf_dir))
    assert narrow.count("Exchange") <= 1, narrow[:2000]


def test_bucket_join_no_exchange_on_key(spark, sf_dir):
    """The judged bucketed join must ride write-time bucketing: a
    sort-merge join with NO exchange on user_id — the only exchange in
    the plan is the final grp aggregation."""
    plan = _executed(QUERIES["q_bucket_join"](spark, sf_dir))
    assert "SortMergeJoin" in plan
    assert "hashpartitioning(user_id" not in plan, plan[:2000]


def test_sortino_two_exchanges_no_join(spark, sf_dir):
    """Risk-ratio family envelope: daily pre-agg rides hash(symbol,
    day), the return lag + symbol moments ride hash(symbol) — two
    exchanges total, no join (sortino stands in for omega/vratio/cmo,
    which share the grid)."""
    plan = _executed(QUERIES["q_sortino"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 2, plan[:2000]
    assert "Join" not in plan


def test_decompose_all_integer_no_join(spark, sf_dir):
    """The additive decomposition is windows over the daily grid — no
    join anywhere, and at most three hash exchanges ((symbol, day)
    pre-agg, symbol trend window, (symbol, dow) seasonal window)."""
    plan = _executed(QUERIES["q_decompose"](spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3, plan[:2000]


def test_topk_days_no_global_sort(spark, sf_dir):
    """Best/worst-k days rank inside hash(symbol) windows — a global
    (non-partitioned) Sort must not appear."""
    plan = _executed(QUERIES["q_topk_days"](spark, sf_dir))
    assert not re.search(
        r"Sort \[[^\]]*\], true", plan.replace("ENSURE_REQUIREMENTS", "")
    ), plan[:2000]


def test_clustering_coef_lineage_truncated_at_checkpoint(spark, sf_dir):
    """The wedge join and degree agg must consume the CHECKPOINTED
    capped edge set: the executed plan reads ExistingRDD and contains
    no Generate (shingle explode) — the expensive pair construction ran
    exactly once, at checkpoint time, not once per self-join arm."""
    plan = _executed(QUERIES["q_clustering_coef"](spark, sf_dir))
    assert "ExistingRDD" in plan, plan[:2000]
    # no parquet scan of documents = the shingle pipeline is NOT inlined
    assert "Scan parquet" not in plan, plan[:2000]


def test_wide_argmax_detector_classifies_buffer_shapes(spark):
    """Pin the skinny-argmax LINT itself (r12 VERDICT #5 / ARCHITECTURE.md
    §4): tools/lint_registry._wide_argmax_hits must flag max_by/min_by
    whose value OR ordering subtree carries an array (either half rides
    the SortAggregate buffer — the r12 semdedup 50 GB spill cliff) and
    must NOT flag skinny argmax, plain min/max, or collect_list (a
    different, ObjectHashAggregate-backed class)."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    )
    from lint_registry import _wide_argmax_hits

    df = spark.createDataFrame(
        [(1, [1.0], 2.0)], "id long, emb array<double>, s double"
    )
    cases = {
        "wide_value": (df.groupBy("id").agg(F.max_by(F.struct("emb"), "s").alias("w")), ["MaxBy"]),
        "wide_ordering": (df.groupBy("id").agg(F.max_by("s", F.struct("emb", "s")).alias("w")), ["MaxBy"]),
        "wide_min_by": (df.groupBy("id").agg(F.min_by("emb", "s").alias("w")), ["MinBy"]),
        "skinny": (df.groupBy("id").agg(F.max_by("s", F.struct("s", "id")).alias("w")), []),
        "plain_max": (df.groupBy("id").agg(F.max("s").alias("m")), []),
        "collect_list": (df.groupBy("id").agg(F.collect_list("emb").alias("c")), []),
    }
    for name, (q_df, expected) in cases.items():
        hits = _wide_argmax_hits(q_df._jdf.queryExecution().optimizedPlan().toJSON())
        assert hits == expected, f"{name}: {hits} != {expected}"
