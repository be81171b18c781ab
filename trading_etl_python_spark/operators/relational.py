"""Relational capability suite (SURVEY.md §2.2-2.3 X7).

The reference is a single-table pipeline with NO joins, grouping sets,
or set operations (SURVEY.md §2.2) — Spark SQL provides all of these;
this module pins the *shapes we want at scale*:

- dimension joins are explicitly ``broadcast()`` (region 5 rows, nation 25,
  supplier 10 — never shuffle the fact table for these)
- semi/anti joins use the dedicated join types (no distinct+inner hack,
  which would shuffle and dedup the big side)
- top-k uses orderBy+limit which Catalyst compiles to
  TakeOrderedAndProject (per-partition heaps, no global sort)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def revenue_by_nation(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    region_name: str = "ASIA",
    date_lo: str = "1996-01-01",
    date_hi: str = "1998-01-01",
) -> DataFrame:
    """TPC-H Q5 shape: local-supplier revenue per nation inside a region.
    Dims broadcast; the orders⋈lineitem join is the only big shuffle, and
    the o_orderdate filter is pushed below it."""
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit(date_lo).cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit(date_hi).cast("timestamp_ntz"))
    )
    n_r = nation.join(
        F.broadcast(region.filter(F.col("r_name") == region_name)),
        nation.n_regionkey == region.r_regionkey,
    )
    return (
        lineitem.join(o, lineitem.l_orderkey == o.o_orderkey)
        .join(customer, o.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(supplier),
            (lineitem.l_suppkey == supplier.s_suppkey)
            & (supplier.s_nationkey == customer.c_nationkey),
        )
        .join(F.broadcast(n_r), customer.c_nationkey == n_r.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 4).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def semi_join_counts(customer: DataFrame, orders: DataFrame, status: str = "F") -> DataFrame:
    """Customers having >=1 order with the given status (EXISTS)."""
    o = orders.filter(F.col("o_orderstatus") == status)
    return (
        customer.join(o, customer.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


def anti_join_counts(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Customers with no orders at all (NOT EXISTS)."""
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


def set_op_counts(events: DataFrame, type_a: str = "click", type_b: str = "purchase") -> DataFrame:
    """UNION / INTERSECT / EXCEPT cardinalities over per-type user sets,
    as one 1-row frame (cross-join of three lazily-composed aggregates)."""
    a = events.filter(F.col("event_type") == type_a).select("user_id").distinct()
    b = events.filter(F.col("event_type") == type_b).select("user_id").distinct()
    n_union = a.union(b).distinct().agg(F.count(F.lit(1)).alias("n_union"))
    n_intersect = a.intersect(b).agg(F.count(F.lit(1)).alias("n_intersect"))
    n_except = a.exceptAll(b.distinct()).agg(F.count(F.lit(1)).alias("n_except"))
    return n_union.crossJoin(n_intersect).crossJoin(n_except)


def top_customers_per_segment(customer: DataFrame, k: int = 3) -> DataFrame:
    """Window rank: top-k customers by acctbal per market segment;
    deterministic tiebreak on the key."""
    from pyspark.sql import Window

    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        customer.withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= k)
        .select("c_mktsegment", "c_custkey", "c_acctbal", F.col("rnk").cast("int").alias("rnk"))
    )


def rollup_lineitem(lineitem: DataFrame) -> DataFrame:
    """ROLLUP(returnflag, linestatus) with GROUPING indicators — partial
    aggregation happens map-side before the single shuffle."""
    return lineitem.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_rf"),
        F.grouping("l_linestatus").cast("int").alias("g_ls"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.round(F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 4).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_rows"),
    )


def top_orders(orders: DataFrame, k: int = 10) -> DataFrame:
    """Global top-k -> TakeOrderedAndProject (no full sort)."""
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(k)
    )


def pivot_orders_by_priority(orders: DataFrame) -> DataFrame:
    """Pivot: order counts per year x priority as a wide table.  Pivot
    values are declared explicitly — Catalyst then plans a single
    hash aggregation of conditional counts (no extra pass to discover
    the value set, which at 100 TB would be a full scan of its own)."""
    priorities = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    wide = (
        orders.groupBy(F.year("o_orderdate").cast("long").alias("order_year"))
        .pivot("o_orderpriority", priorities)
        .agg(F.count(F.lit(1)))
    )
    names = ["n_urgent", "n_high", "n_medium", "n_notspec", "n_low"]
    # a (year, priority) combo with no rows pivots to NULL; conditional
    # COUNT semantics (and the SQL oracle) say 0
    zeroed = [F.coalesce(F.col(f"`{p}`"), F.lit(0).cast("long")).alias(n)
              for p, n in zip(priorities, names)]
    return wide.select("order_year", *zeroed)


def rank_distributions(customer: DataFrame, n_tiles: int = 4) -> DataFrame:
    """The distribution-rank window family over one partition spec:
    dense_rank, percent_rank, cume_dist, and ntile per market segment,
    ordered by (acctbal DESC, custkey) — the tie-free total order that
    makes every value deterministic.  percent_rank = (rank-1)/(n-1)
    and cume_dist = rows<=current / n are exact rationals of integers,
    so cross-engine values are bit-identical without rounding (rounded
    6dp anyway by module convention).

    Scale: one hash(segment) exchange serves all four functions — a
    single Window physical operator, frame state O(1); ntile's
    bucketing is computed from the partition row count the same window
    already tracks."""
    from pyspark.sql import Window

    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return customer.select(
        "c_mktsegment",
        "c_custkey",
        F.round("c_acctbal", 4).alias("c_acctbal"),
        F.dense_rank().over(w).cast("int").alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(n_tiles).over(w).cast("int").alias("tile"),
    )


def date_features(orders: DataFrame) -> DataFrame:
    """Calendar feature extraction — the date-dimension builder every
    warehouse and every time-aware feature pipeline needs.  Every
    feature is derived with ENGINE-NEUTRAL arithmetic: epoch_day is a
    date difference from 1970-01-01, the weekday is (epoch_day + 3) % 7
    with 0 = Monday (1970-01-01 was a Thursday — pure integer
    arithmetic instead of the engines' conflicting DOW conventions),
    and quarter is derived from the month.  Map-side only — zero
    shuffles, trivially scale-free."""
    d = F.col("o_orderdate").cast("date")
    epoch_day = F.datediff(d, F.lit("1970-01-01").cast("date"))
    month = F.month(d)
    return orders.select(
        "o_orderkey",
        d.alias("order_date"),
        epoch_day.cast("int").alias("epoch_day"),
        ((epoch_day + 3) % 7).cast("int").alias("dow_mon0"),
        F.dayofmonth(d).cast("int").alias("day_of_month"),
        F.dayofyear(d).cast("int").alias("day_of_year"),
        month.cast("int").alias("month"),
        (((month - 1) / 3).cast("int") + 1).cast("int").alias("quarter"),
        (d == F.last_day(d)).alias("is_month_end"),
    )


def scd2_history(
    df: DataFrame,
    key_col: str = "user_id",
    attr_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Slowly-changing-dimension type-2 reconstruction from a change
    stream: collapse each key's (ts, id)-ordered attribute history into
    validity ranges — one row per VALUE CHANGE with [valid_from,
    valid_to) bounds (valid_to NULL = currently open) and a 1-based
    version number.  The warehouse dimension-history primitive: applied
    to a CDC feed it yields exactly the SCD2 table a MERGE-based
    pipeline maintains incrementally.

    Plan: lag to detect changes, filter, then lead/row_number over the
    surviving change rows — all three windows share one hash(key)
    exchange (same partition spec), O(1) frame state, no joins."""
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(ts_col, id_col)
    changes = (
        df.select(key_col, attr_col, ts_col, id_col)
        .withColumn("_prev", F.lag(attr_col).over(w))
        .filter(F.col("_prev").isNull() | (F.col(attr_col) != F.col("_prev")))
    )
    return changes.select(
        key_col,
        attr_col,
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w).alias("valid_to"),
        F.row_number().over(w).cast("int").alias("version"),
    )


def hopping_window_agg(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    val_col: str = "value",
    hours: int = 2,
    slide_hours: int = 1,
) -> DataFrame:
    """Batch HOPPING (sliding) window aggregation via Spark's native
    ``window(ts, size, slide)`` — every event lands in size/slide
    overlapping windows (here 2, epoch-aligned, identical to the
    streaming operator's assignment, so batch backfill and the live
    stream bucket identically).  Returns per (window_start, type):
    count and 4dp sum.

    Scale: the window expression EXPLODES each row into its
    size/slide assignments map-side, then one hash(window, type)
    aggregation — the replication factor is the overlap count, a
    constant chosen by the caller, never a join."""
    w = F.window(ts_col, f"{hours} hours", f"{slide_hours} hours")
    return (
        events.groupBy(
            w.alias("_w"), F.col(type_col)
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(val_col), 4).alias("sum_value"),
        )
        .select(
            F.col("_w.start").alias("window_start"),
            type_col,
            "n_events",
            "sum_value",
        )
    )


def table_diff(
    a: DataFrame,
    b: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Snapshot reconciliation (the anti-entropy / data-diff primitive
    behind every table-sync audit): FULL OUTER join two snapshots on
    the key and classify each key as added (only in b), removed (only
    in a), changed (both, any compared column differs — NULL-safe), or
    unchanged.  Returns per-class row counts — the summary a sync job
    alerts on; the same join with a filter yields the row-level diff.

    Scale: one co-partitioned full join on the key, everything else
    map-side classification + one tiny aggregate.  NULL-safe equality
    (<=>) so NULL-vs-value counts as a change and NULL-vs-NULL does
    not."""
    # presence flags via a dedicated marker — using the compared
    # columns' NULLness would misclassify keys whose compared columns
    # are legitimately all NULL
    an = a.select(
        *key_cols, *[F.col(c).alias(f"_a_{c}") for c in compare_cols]
    ).withColumn("_in_a", F.lit(True))
    bn = b.select(
        *key_cols, *[F.col(c).alias(f"_b_{c}") for c in compare_cols]
    ).withColumn("_in_b", F.lit(True))
    j = an.join(bn, key_cols, "full_outer")
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"_a_{c}").eqNullSafe(F.col(f"_b_{c}"))
    status = (
        F.when(F.col("_in_a").isNull(), F.lit("added"))
        .when(F.col("_in_b").isNull(), F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return (
        j.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """MERGE INTO semantics as a declarative plan (WHEN MATCHED THEN
    UPDATE, WHEN NOT MATCHED THEN INSERT): the update row wins wherever
    its key exists, target rows without an update pass through, update
    rows with new keys insert.  The batch form of the warehouse MERGE
    every lakehouse table format implements — here as one full-outer
    join + per-column coalesce(update, target), so it composes with
    partition-overwrite sinks for the incremental-refresh path.

    Scale: one co-partitioned full join on the key; at 100 TB the win
    is pairing this with partition pruning — merge only the partitions
    the update set touches (sinks/parquet.upsert_replace)."""
    value_cols = [c for c in target.columns if c not in key_cols]
    t = target.select(
        *key_cols, *[F.col(c).alias(f"_t_{c}") for c in value_cols]
    )
    u = updates.select(
        *key_cols, *[F.col(c).alias(f"_u_{c}") for c in value_cols]
    ).withColumn("_has_u", F.lit(True))
    j = t.join(u, key_cols, "full_outer")
    picked = [
        F.when(F.col("_has_u").isNotNull(), F.col(f"_u_{c}"))
        .otherwise(F.col(f"_t_{c}"))
        .alias(c)
        for c in value_cols
    ]
    return j.select(*key_cols, *picked)


def pit_state_by_day(events: DataFrame) -> DataFrame:
    """End-of-day dimension state per (user, day): build the SCD2
    history from the change stream, probe it with each user's active
    days at the day+1 midnight boundary, and emit the version + state
    valid at that instant.  The composition every 'as of close of
    business' report runs."""
    # both sides derive from the same events lineage — explicit string
    # aliases break the self-join ambiguity Column objects can't
    h = scd2_history(events).alias("h")
    p = (
        events.select("user_id", F.to_date("ts").alias("day"))
        .distinct()
        .withColumn(
            "ts_p",
            F.col("day").cast("timestamp") + F.expr("INTERVAL 1 DAY"),
        )
        .alias("p")
    )
    cond = (
        (F.col("p.user_id") == F.col("h.user_id"))
        & (F.col("h.valid_from") <= F.col("p.ts_p"))
        & (F.col("h.valid_to").isNull() | (F.col("p.ts_p") < F.col("h.valid_to")))
    )
    return p.join(h, cond).select(
        F.col("p.user_id").alias("user_id"),
        F.col("p.day").cast("timestamp").alias("day"),
        F.col("h.event_type").alias("state"),
        F.col("h.version").alias("version"),
    )


def monthly_growth(orders: DataFrame) -> DataFrame:
    """Month grid of order revenue with month-over-month and
    year-over-year growth — the period-over-period BI shape.  Revenue
    sums exact integer cents; the growth ratios are single divisions of
    those integers (deterministic doubles), rounded 6dp for display.
    One month-grid aggregation (map-side combinable) + two LAGs on the
    tiny month axis."""
    from pyspark.sql import Window

    g = orders.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.sum(
            F.round(F.col("o_totalprice") * F.lit(100.0), 0).cast("long")
        ).alias("revq"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy("month")
    prev, prev12 = F.lag("revq", 1).over(w), F.lag("revq", 12).over(w)

    def pct(cur, base):
        return F.when(
            base.isNotNull() & (base != 0),
            F.round(
                (cur.cast("double") - base.cast("double")) / base.cast("double"), 6
            ),
        )

    return g.select(
        "month",
        "n_orders",
        (F.col("revq").cast("double") / F.lit(100.0)).alias("revenue"),
        pct(F.col("revq"), prev).alias("mom_pct"),
        pct(F.col("revq"), prev12).alias("yoy_pct"),
    )


def benford_audit(df: DataFrame, amount_col: str = "l_extendedprice") -> DataFrame:
    """Benford first-digit audit of a monetary column — the classic
    fraud/DQ screen: observed first-significant-digit shares vs the
    Benford expectation log10(1 + 1/d).  The digit extracts from the
    EXACT integer cents via string head (integer-to-string is identical
    on every engine — never first-char of a formatted float, whose
    rendering differs), so counts are hash-exact; shares and excesses
    are single divisions, rounded 6dp."""
    cents = F.round(F.col(amount_col) * F.lit(100.0), 0).cast("long")
    d = F.substring(cents.cast("string"), 1, 1).cast("int")
    g = (
        df.select(cents.alias("_c"), d.alias("digit"))
        .filter(F.col("_c") > 0)
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql import Window

    tot = F.sum("n").over(Window.partitionBy())
    share = F.col("n").cast("double") / tot.cast("double")
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
    return g.select(
        "digit",
        "n",
        F.round(share, 6).alias("share"),
        F.round(expected, 6).alias("benford"),
        F.round(share - expected, 6).alias("excess"),
    )


def basket_rules(
    lineitem: DataFrame,
    part: DataFrame,
    min_pair_orders: int = 2,
) -> DataFrame:
    """Market-basket association rules over brand pairs co-occurring in
    an order — support / confidence / lift, the classic affinity-mining
    shape (Agrawal et al.; capability extension, SURVEY.md §2.3).

    The item axis is the 25-value brand dimension, so the pair space is
    bounded (≤300 pairs) regardless of corpus size; the per-order pair
    enumeration is a self-join of the DISTINCT (order, brand) frame on
    the order key — at most items-per-order² rows per order, never
    corpus-quadratic.  All counts are exact integers; support /
    confidence / lift are single-division chains rounded 6dp.  The part
    dim is broadcast: the fact table never shuffles for the brand lookup.
    """
    ob = (
        lineitem.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            lineitem.l_partkey == F.col("p_partkey"),
        )
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
        # reused 4x (total, brand counts, both pair-join sides): checkpoint
        # the deduped 2-col frame once instead of re-scanning the fact table
        .localCheckpoint(eager=False)
    )
    tot_df = ob.agg(F.count_distinct("okey").alias("n_orders"))
    brand_n = ob.groupBy("brand").agg(F.count(F.lit(1)).alias("n_brand"))
    a, b = ob.alias("a"), ob.alias("b")
    pairs = (
        a.join(b, (F.col("a.okey") == F.col("b.okey")) & (F.col("a.brand") < F.col("b.brand")))
        .groupBy(F.col("a.brand").alias("brand_a"), F.col("b.brand").alias("brand_b"))
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= min_pair_orders)
    )
    na = brand_n.select(F.col("brand").alias("brand_a"), F.col("n_brand").alias("n_a"))
    nb = brand_n.select(F.col("brand").alias("brand_b"), F.col("n_brand").alias("n_b"))
    j = (
        pairs.join(F.broadcast(na), "brand_a")
        .join(F.broadcast(nb), "brand_b")
        .crossJoin(F.broadcast(tot_df))
    )

    def dbl(c):
        return F.col(c).cast("double")

    tot = F.col("n_orders").cast("double")
    return j.select(
        "brand_a",
        "brand_b",
        "n_pair",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(dbl("n_pair") / tot, 6).alias("support"),
        F.round(dbl("n_pair") / dbl("n_a"), 6).alias("confidence"),
        F.round(dbl("n_pair") * tot / (dbl("n_a") * dbl("n_b")), 6).alias("lift"),
    )


def rfm_segments(orders: DataFrame, n_tiles: int = 5) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation grid:
    per-customer exact metrics -> NTILE scores -> segment counts.

    Parity: recency is an exact integer day diff from the global max
    order date; frequency a count; monetary exact cents.  Every NTILE
    orders by (exact metric, custkey) — fully deterministic tiling, the
    "(rounded score, id)" rule with nothing to round.  The NTILE windows
    run on the per-CUSTOMER frame (|customers| ~ |orders|/10); at true
    100 TB scale the single-partition tiling would switch to the
    percent_rank bucketing q_rank_pct uses — documented trade for exact
    driver-parity NTILE semantics here.  Output is the bounded
    (r, f, m) segment grid with exact counts and FLOOR-pattern means.
    """
    from pyspark.sql import Window

    per_cust = orders.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_date"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.round(F.col("o_totalprice") * F.lit(100.0), 0).cast("long")).alias(
            "cents"
        ),
    )
    gmax = F.max("last_date").over(Window.partitionBy())
    base = per_cust.withColumn("recency", F.datediff(gmax, F.col("last_date")))
    r_w = Window.orderBy(F.col("recency").asc(), F.col("o_custkey").asc())
    f_w = Window.orderBy(F.col("freq").desc(), F.col("o_custkey").asc())
    m_w = Window.orderBy(F.col("cents").desc(), F.col("o_custkey").asc())
    scored = base.select(
        "o_custkey",
        "recency",
        "freq",
        "cents",
        F.ntile(n_tiles).over(r_w).alias("r_score"),
        F.ntile(n_tiles).over(f_w).alias("f_score"),
        F.ntile(n_tiles).over(m_w).alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("cents").alias("_cents"),
            F.sum("freq").alias("n_orders"),
        )
        .select(
            "r_score",
            "f_score",
            "m_score",
            "n_customers",
            F.col("n_orders").cast("long").alias("n_orders"),
            (
                F.floor(F.col("_cents") / F.col("n_customers")).cast("double")
                / F.lit(100.0)
            ).alias("avg_monetary"),
        )
    )


def pareto_abc(
    lineitem: DataFrame,
    part: DataFrame,
    a_cut: float = 0.8,
    b_cut: float = 0.95,
) -> DataFrame:
    """ABC (Pareto) classification of brands by cumulative revenue
    share — A up to ``a_cut``, B up to ``b_cut``, C beyond.

    Revenue accumulates exact integer cents; the cumulative ordering is
    (cents DESC, brand) — fully deterministic; shares are single
    divisions of exact integers so the class thresholds compare
    identical doubles on both engines.  The cumulative window runs on
    the 25-row brand frame (post-aggregation), never the fact table.
    """
    from pyspark.sql import Window

    g = (
        lineitem.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            lineitem.l_partkey == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * F.lit(100.0), 0).cast("long")
            ).alias("cents")
        )
    )
    w = Window.orderBy(F.col("cents").desc(), F.col("p_brand").asc())
    wt = Window.partitionBy()
    cum = F.sum("cents").over(w)
    tot = F.sum("cents").over(wt)
    share = F.col("cents").cast("double") / tot.cast("double")
    cum_share = cum.cast("double") / tot.cast("double")
    return g.select(
        "p_brand",
        (F.col("cents").cast("double") / F.lit(100.0)).alias("revenue"),
        F.round(share, 6).alias("share"),
        F.round(cum_share, 6).alias("cum_share"),
        F.when(cum_share <= F.lit(a_cut), F.lit("A"))
        .when(cum_share <= F.lit(b_cut), F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )


def gini_hhi(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Revenue-concentration audit per nation: Gini coefficient (rank
    formula) + normalized Herfindahl-Hirschman index over per-customer
    revenue.

    x_i is exact integer DOLLARS (cents would push Σx² past int64 under
    DuckDB's silent HUGEINT widening asymmetry); the rank axis is
    (x, custkey) so i is deterministic; Gini = (2Σi·x − (n+1)Σx)/(n·Σx)
    and HHI = Σx²/(Σx)² assemble from exact integer aggregates with
    fixed double chains.  One fact aggregation + per-nation windows on
    the customer frame.
    """
    from pyspark.sql import Window

    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice"), 0).cast("long")).alias("x")
        )
        .join(
            customer.select(
                F.col("c_custkey").alias("o_custkey"),
                F.col("c_nationkey").cast("long").alias("nation"),
            ),
            "o_custkey",
        )
    )
    w = Window.partitionBy("nation").orderBy(F.col("x").asc(), F.col("o_custkey").asc())
    ranked = per_cust.withColumn("i", F.row_number().over(w))
    g = ranked.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("i") * F.col("x")).alias("six"),
    )

    def dbl(c):
        return F.col(c).cast("double")

    gini = (
        F.lit(2.0) * dbl("six") - (dbl("n") + F.lit(1.0)) * dbl("sx")
    ) / (dbl("n") * dbl("sx"))
    hhi = dbl("sxx") / (dbl("sx") * dbl("sx"))
    return g.select(
        "nation",
        F.col("n").cast("long").alias("n_customers"),
        dbl("sx").alias("revenue"),
        F.round(gini, 6).alias("gini"),
        F.round(hhi, 6).alias("hhi"),
    )
