"""Relational queries + DuckDB oracles (SURVEY.md §2.2/X7).

All oracles are textbook ANSI SQL; value-hash parity notes:
- SUM of doubles rounded to 4dp (engine aggregation-tree order differs)
- counts/keys are exact integers
- rank ties broken deterministically by key
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from ..operators import relational as REL
from ..operators import temporal as TMP
from ..sources.tables import load_events, load_table
from ._registry import registrar

QUERIES = {}
ORACLES = {}
TIERS = {}
q = registrar(QUERIES, ORACLES, TIERS)


@q(
    "q_join_agg",
    """SELECT n.n_name,
         ROUND(SUM(l.l_extendedprice * (1.0 - l.l_discount)), 4) AS revenue,
         COUNT(*) AS n_rows
       FROM lineitem l
       JOIN orders o   ON l.l_orderkey = o.o_orderkey
       JOIN customer c ON o.o_custkey = c.c_custkey
       JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
       JOIN nation n   ON c.c_nationkey = n.n_nationkey
       JOIN region r   ON n.n_regionkey = r.r_regionkey
       WHERE r.r_name = 'ASIA'
         AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
       GROUP BY n.n_name""",
)
def q_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = {n: load_table(spark, sf_dir, n) for n in
         ("customer", "orders", "lineitem", "supplier", "nation", "region")}
    return REL.revenue_by_nation(
        t["customer"], t["orders"], t["lineitem"], t["supplier"], t["nation"], t["region"]
    )


@q(
    "q_semi_join",
    """SELECT c_mktsegment, COUNT(*) AS n_customers
       FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
       GROUP BY c_mktsegment""",
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return REL.semi_join_counts(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders"), "F"
    )


@q(
    "q_anti_join",
    """SELECT c_mktsegment, COUNT(*) AS n_customers
       FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
       GROUP BY c_mktsegment""",
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return REL.anti_join_counts(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


@q(
    "q_set_ops",
    """SELECT
        (SELECT COUNT(*) FROM (
           SELECT user_id FROM events WHERE event_type = 'click'
           UNION
           SELECT user_id FROM events WHERE event_type = 'purchase') u) AS n_union,
        (SELECT COUNT(*) FROM (
           SELECT user_id FROM events WHERE event_type = 'click'
           INTERSECT
           SELECT user_id FROM events WHERE event_type = 'purchase') i) AS n_intersect,
        (SELECT COUNT(*) FROM (
           SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
           EXCEPT
           SELECT user_id FROM events WHERE event_type = 'purchase') e) AS n_except""",
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    return REL.set_op_counts(load_events(spark, sf_dir), "click", "purchase")


@q(
    "q_window_rank",
    """SELECT c_mktsegment, c_custkey, c_acctbal, rnk FROM (
         SELECT c_mktsegment, c_custkey, c_acctbal,
                CAST(RANK() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS rnk
         FROM customer) t
       WHERE rnk <= 3""",
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return REL.top_customers_per_segment(load_table(spark, sf_dir, "customer"), 3)


@q(
    "q_grouping_sets",
    """SELECT l_returnflag, l_linestatus,
         CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
         CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls,
         ROUND(SUM(l_quantity), 4) AS sum_qty,
         ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
         COUNT(*) AS n_rows
       FROM lineitem
       GROUP BY ROLLUP(l_returnflag, l_linestatus)""",
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return REL.rollup_lineitem(load_table(spark, sf_dir, "lineitem"))


@q(
    "q_cube",
    """SELECT l_returnflag, l_linestatus,
         CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
         CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls,
         ROUND(SUM(l_quantity), 4) AS sum_qty,
         COUNT(*) AS n_rows
       FROM lineitem
       GROUP BY CUBE(l_returnflag, l_linestatus)""",
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_rf"),
        F.grouping("l_linestatus").cast("int").alias("g_ls"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@q(
    "q_asof_join",
    """WITH c AS (
         SELECT user_id, ts, MAX(value) AS value
         FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
       p AS (
         SELECT event_id, user_id, ts, value
         FROM events WHERE event_type = 'purchase')
       SELECT p.event_id, p.user_id, p.ts, p.value,
              c.ts AS asof_ts, c.value AS asof_value
       FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts""",
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every purchase gets the user's most recent click at or
    before it (backward inclusive).  Spark side is the single-shuffle
    union+last_value plan; oracle is DuckDB's native ASOF JOIN.  The
    query keeps only matched rows (inner asof) so the hashed output is
    NULL-free; the operator itself is LEFT (tests cover the NULL path)."""
    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    return TMP.asof_join(
        purchases, clicks, on="user_id", left_time="ts", right_time="ts",
        value_cols=("ts", "value"), prefix="asof_",
    ).filter(F.col("asof_ts").isNotNull())


@q(
    "q_asof_forward",
    """WITH c AS (
         SELECT user_id, ts, MIN(value) AS value
         FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
       p AS (
         SELECT event_id, user_id, ts, value
         FROM events WHERE event_type = 'purchase')
       SELECT p.event_id, p.user_id, p.ts, p.value,
              c.ts AS next_ts, c.value AS next_value
       FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts <= c.ts""",
)
def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of: every purchase gets the user's next click at or
    after it — the label-attachment join ("what happened next") for
    outcome modeling.  Same single-shuffle union+first plan, frame
    flipped to following (operators/temporal.asof_join_forward); oracle
    is DuckDB's native forward ASOF JOIN."""
    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    return TMP.asof_join_forward(
        purchases, clicks, on="user_id", left_time="ts", right_time="ts",
        value_cols=("ts", "value"), prefix="next_",
    ).filter(F.col("next_ts").isNotNull())


@q(
    "q_asof_nearest",
    """WITH cb AS (
         SELECT user_id, ts, MAX(value) AS value
         FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
       cf AS (
         SELECT user_id, ts, MIN(value) AS value
         FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
       p AS (
         SELECT event_id, user_id, ts, value
         FROM events WHERE event_type = 'purchase'),
       b AS (SELECT p.event_id, cb.ts AS bt, cb.value AS bv
             FROM p ASOF JOIN cb ON p.user_id = cb.user_id AND p.ts >= cb.ts),
       f AS (SELECT p.event_id, cf.ts AS ft, cf.value AS fv
             FROM p ASOF JOIN cf ON p.user_id = cf.user_id AND p.ts <= cf.ts),
       j AS (SELECT p.event_id, p.user_id, p.ts, p.value, bt, bv, ft, fv
             FROM p LEFT JOIN b USING (event_id) LEFT JOIN f USING (event_id))
       SELECT event_id, user_id, ts, value,
              CASE WHEN ft IS NULL OR (bt IS NOT NULL AND (ts - bt) <= (ft - ts))
                   THEN bt ELSE ft END AS near_ts,
              CASE WHEN ft IS NULL OR (bt IS NOT NULL AND (ts - bt) <= (ft - ts))
                   THEN bv ELSE fv END AS near_value
       FROM j
       WHERE (CASE WHEN ft IS NULL OR (bt IS NOT NULL AND (ts - bt) <= (ft - ts))
                   THEN bt ELSE ft END) IS NOT NULL""",
)
def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of (pandas merge_asof 'nearest', tie to earlier):
    every purchase gets the user's temporally closest click — composed
    from the backward and forward passes riding one hash(user)
    distribution (operators/temporal.asof_join_nearest); oracle = the
    two native DuckDB ASOF directions + the same closest-pick."""
    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    return TMP.asof_join_nearest(
        purchases, clicks, on="user_id", left_time="ts", right_time="ts",
        value_cols=("ts", "value"), prefix="near_",
    ).filter(F.col("near_ts").isNotNull())


@q(
    "q_sessionize",
    """WITH lagged AS (
         SELECT user_id, event_id, ts, value,
                LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
         FROM events),
       s AS (
         SELECT user_id, ts, value,
                SUM(CASE WHEN prev_ts IS NULL
                          OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS session_id
         FROM lagged)
       SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
              COUNT(*) AS n_events,
              MIN(ts) AS session_start, MAX(ts) AS session_end,
              ROUND(SUM(value), 4) AS sum_value
       FROM s GROUP BY user_id, session_id""",
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap) + per-session rollup."""
    ev = load_events(spark, sf_dir)
    return TMP.session_stats(ev, key="user_id", time_col="ts", gap_minutes=30)


@q(
    "q_range_window",
    """SELECT event_id, user_id, ts, CAST(n_clicks_10m AS BIGINT) AS n_clicks_10m
       FROM (
         SELECT event_id, user_id, ts, event_type,
                SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) OVER (
                  PARTITION BY user_id ORDER BY ts
                  RANGE BETWEEN INTERVAL 10 MINUTES PRECEDING AND CURRENT ROW
                ) AS n_clicks_10m
         FROM events) t
       WHERE event_type = 'purchase'""",
)
def q_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range window frame: clicks in the trailing 10 minutes at each
    purchase.  Spark RANGE frames need a numeric order key -> epoch
    MICROseconds (not seconds: the frame boundary must live at the same
    granularity as the oracle's INTERVAL arithmetic or peer groups
    diverge)."""
    from pyspark.sql import Window

    ev = load_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-600 * 1_000_000, 0)
    )
    is_click = F.when(F.col("event_type") == "click", 1).otherwise(0)
    return (
        ev.withColumn("n_clicks_10m", F.sum(is_click).over(w))
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "n_clicks_10m")
    )


@q(
    "q_top_orders",
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
)
def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return REL.top_orders(load_table(spark, sf_dir, "orders"), 10)


@q(
    "q_pivot",
    """SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS order_year,
         COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
         COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS n_high,
         COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS n_medium,
         COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS n_notspec,
         COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS n_low
       FROM orders GROUP BY YEAR(o_orderdate)""",
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide conditional-count pivot (declared value set -> single agg pass)."""
    return REL.pivot_orders_by_priority(load_table(spark, sf_dir, "orders"))


@q(
    "q_asof_tolerance",
    """WITH c AS (
         SELECT user_id, ts, MAX(value) AS value
         FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
       p AS (
         SELECT event_id, user_id, ts, value
         FROM events WHERE event_type = 'purchase')
       SELECT p.event_id, p.user_id, p.ts, p.value,
              c.ts AS asof_ts, c.value AS asof_value
       FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
       WHERE p.ts - c.ts <= INTERVAL 2 HOUR""",
)
def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with merge_asof tolerance: matches older than 2 hours
    are nulled (here: dropped) — same single-shuffle window plan, the
    matched right time rides the same window pass."""
    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    return TMP.asof_join(
        purchases, clicks, on="user_id", left_time="ts", right_time="ts",
        value_cols=("ts", "value"), prefix="asof_", tolerance="2 HOURS",
    ).filter(F.col("asof_ts").isNotNull())


@q(
    "q_salted_join",
    """SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS n_items,
              ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
       FROM lineitem l
       JOIN supplier s ON s.s_suppkey = l.l_suppkey
       GROUP BY s.s_name""",
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant fact-dim join (operators/skew.salted_join): the
    lineitem side takes a deterministic 8-way salt on l_orderkey, the
    supplier side replicates once per salt, so a hot supplier key's
    rows spread over 8 reducers instead of one.  The oracle is the
    PLAIN join + rollup — salting must be invisible in the result
    (the q_salted_agg contract, now pinned for the join shape too;
    use when the dim is too big to broadcast AND a key is hot)."""
    from ..operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_extendedprice", "l_discount"
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    j = salted_join(li, sup, on="l_suppkey", n_salts=8, salt_col="l_orderkey")
    return j.groupBy("s_name").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue"),
    )


_GS_EXPLICIT = """SELECT l_returnflag, l_linestatus,
         CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
         CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls,
         ROUND(SUM(l_quantity), 4) AS sum_qty,
         COUNT(*) AS n_rows
       FROM lineitem
       GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))"""


@q("q_grouping_explicit", _GS_EXPLICIT)
def q_grouping_explicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPLICIT non-hierarchical GROUPING SETS — two independent
    single-column rollups in ONE pass, a set combination neither
    ROLLUP (hierarchical prefixes; judged as q_grouping_sets) nor CUBE
    (all 2^n subsets; q_cube) can express.  Same Expand + partial-agg
    plan, but only the two requested sets are materialized — the shape
    for dashboard-style independent breakdowns at scale.  Submitted as
    SQL text verbatim to both engines."""
    from ..sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_GS_EXPLICIT)


@q(
    "q_rank_pct",
    """SELECT c_mktsegment, c_custkey, ROUND(c_acctbal, 4) AS c_acctbal,
         CAST(DENSE_RANK() OVER w AS INTEGER) AS drnk,
         ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
         ROUND(CUME_DIST() OVER w, 6) AS cume,
         CAST(NTILE(4) OVER w AS INTEGER) AS tile
       FROM customer
       WINDOW w AS (PARTITION BY c_mktsegment
                    ORDER BY c_acctbal DESC, c_custkey)""",
)
def q_rank_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank window family (dense_rank / percent_rank /
    cume_dist / ntile) over one tie-free partition spec — exact
    rationals of integers, one Window operator
    (operators/relational.rank_distributions)."""
    return REL.rank_distributions(load_table(spark, sf_dir, "customer"))


@q(
    "q_date_features",
    """SELECT o_orderkey,
         CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS order_date,
         CAST(date_diff('day', DATE '1970-01-01',
                        CAST(o_orderdate AS DATE)) AS INTEGER) AS epoch_day,
         CAST((date_diff('day', DATE '1970-01-01',
                         CAST(o_orderdate AS DATE)) + 3) % 7
              AS INTEGER) AS dow_mon0,
         CAST(dayofmonth(o_orderdate) AS INTEGER) AS day_of_month,
         CAST(dayofyear(o_orderdate) AS INTEGER) AS day_of_year,
         CAST(month(o_orderdate) AS INTEGER) AS month,
         CAST((month(o_orderdate) - 1) // 3 + 1 AS INTEGER) AS quarter,
         CAST(o_orderdate AS DATE)
           = last_day(CAST(o_orderdate AS DATE)) AS is_month_end
       FROM orders""",
)
def q_date_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar feature extraction with engine-neutral arithmetic
    (weekday from epoch-day modulo, not engine DOW conventions) —
    operators/relational.date_features.  order_date surfaces as
    TIMESTAMP (driver compare normalizes timestamps, not DATE — the
    q_retention convention)."""
    out = REL.date_features(load_table(spark, sf_dir, "orders"))
    return out.withColumn(
        "order_date", F.col("order_date").cast("timestamp_ntz")
    )


# deterministic second snapshot for the diff/merge family: drop every
# 19th key, bump acctbal on every 7th, append re-keyed copies of every
# 13th as new rows — pure integer predicates, identical in both engines
_SNAP_B_SQL = """SELECT c_custkey,
         CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 10.0
              ELSE c_acctbal END AS c_acctbal,
         c_mktsegment
       FROM customer WHERE c_custkey % 19 <> 0
       UNION ALL
       SELECT c_custkey + 1000000, c_acctbal, c_mktsegment
       FROM customer WHERE c_custkey % 13 = 0"""


def _snapshot_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    kept = c.filter(F.col("c_custkey") % 19 != 0).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 10.0)
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
        "c_mktsegment",
    )
    added = c.filter(F.col("c_custkey") % 13 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        "c_acctbal",
        "c_mktsegment",
    )
    return kept.unionAll(added)


@q(
    "q_table_diff",
    f"""WITH b AS ({_SNAP_B_SQL}),
       a AS (SELECT c_custkey, c_acctbal, c_mktsegment FROM customer),
       j AS (SELECT COALESCE(a.c_custkey, b.c_custkey) AS k,
                    a.c_custkey IS NOT NULL AS in_a,
                    b.c_custkey IS NOT NULL AS in_b,
                    (a.c_acctbal IS NOT DISTINCT FROM b.c_acctbal)
                    AND (a.c_mktsegment IS NOT DISTINCT FROM b.c_mktsegment)
                      AS same
             FROM a FULL OUTER JOIN b ON a.c_custkey = b.c_custkey)
       SELECT CASE WHEN NOT in_a THEN 'added'
                   WHEN NOT in_b THEN 'removed'
                   WHEN same THEN 'unchanged'
                   ELSE 'changed' END AS status,
              CAST(COUNT(*) AS BIGINT) AS n_rows
       FROM j GROUP BY 1""",
)
def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation summary (added/removed/changed/unchanged
    by NULL-safe comparison) over a deterministically mutated second
    customer snapshot — operators/relational.table_diff."""
    a = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    return REL.table_diff(
        a, _snapshot_b(spark, sf_dir), ["c_custkey"],
        ["c_acctbal", "c_mktsegment"],
    )


@q(
    "q_merge_upsert",
    f"""WITH u AS (
         SELECT c_custkey, c_acctbal + 10.0 AS c_acctbal, c_mktsegment
         FROM customer WHERE c_custkey % 7 = 0
         UNION ALL
         SELECT c_custkey + 1000000, c_acctbal, c_mktsegment
         FROM customer WHERE c_custkey % 13 = 0),
       t AS (SELECT c_custkey, c_acctbal, c_mktsegment FROM customer)
       SELECT COALESCE(t.c_custkey, u.c_custkey) AS c_custkey,
              ROUND(CASE WHEN u.c_custkey IS NOT NULL
                         THEN u.c_acctbal ELSE t.c_acctbal END, 4)
                AS c_acctbal,
              CASE WHEN u.c_custkey IS NOT NULL
                   THEN u.c_mktsegment ELSE t.c_mktsegment END
                AS c_mktsegment
       FROM t FULL OUTER JOIN u ON t.c_custkey = u.c_custkey""",
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (WHEN MATCHED UPDATE / WHEN NOT MATCHED
    INSERT) as one full-outer join + coalesce —
    operators/relational.merge_upsert applied to a deterministic
    change set."""
    t = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    c = load_table(spark, sf_dir, "customer")
    u = (
        c.filter(F.col("c_custkey") % 7 == 0)
        .select(
            "c_custkey",
            (F.col("c_acctbal") + 10.0).alias("c_acctbal"),
            "c_mktsegment",
        )
        .unionAll(
            c.filter(F.col("c_custkey") % 13 == 0).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                "c_acctbal",
                "c_mktsegment",
            )
        )
    )
    out = REL.merge_upsert(t, u, ["c_custkey"])
    return out.select(
        "c_custkey",
        F.round("c_acctbal", 4).alias("c_acctbal"),
        "c_mktsegment",
    )


@q(
    "q_yoy_growth",
    """WITH g AS (SELECT date_trunc('month', o_orderdate) AS month,
           SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)) AS revq,
           COUNT(*) AS n_orders
         FROM orders GROUP BY date_trunc('month', o_orderdate)),
       l AS (SELECT month, n_orders, revq,
           LAG(revq, 1) OVER (ORDER BY month) AS prev1,
           LAG(revq, 12) OVER (ORDER BY month) AS prev12
         FROM g)
       SELECT month, n_orders,
         CAST(revq AS DOUBLE) / 100.0 AS revenue,
         CASE WHEN prev1 IS NOT NULL AND prev1 <> 0
              THEN ROUND((CAST(revq AS DOUBLE) - CAST(prev1 AS DOUBLE))
                         / CAST(prev1 AS DOUBLE), 6) END AS mom_pct,
         CASE WHEN prev12 IS NOT NULL AND prev12 <> 0
              THEN ROUND((CAST(revq AS DOUBLE) - CAST(prev12 AS DOUBLE))
                         / CAST(prev12 AS DOUBLE), 6) END AS yoy_pct
       FROM l""",
)
def q_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month and year-over-year order revenue growth on the
    month grid — exact integer-cent revenue, period-over-period LAGs
    (operators/relational.monthly_growth)."""
    return REL.monthly_growth(load_table(spark, sf_dir, "orders"))


@q(
    "q_benford",
    """WITH c AS (SELECT CAST(ROUND(l_extendedprice * 100.0, 0) AS BIGINT)
                    AS cents FROM lineitem),
       d AS (SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS INTEGER)
               AS digit FROM c WHERE cents > 0),
       g AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
       t AS (SELECT digit, n, SUM(n) OVER () AS tot FROM g)
       SELECT digit, n,
         ROUND(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share,
         ROUND(LOG10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS benford,
         ROUND(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)
               - LOG10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS excess
       FROM t""",
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of lineitem amounts — digit from the
    exact integer cents' string head, shares vs log10(1+1/d)
    (operators/relational.benford_audit)."""
    return REL.benford_audit(load_table(spark, sf_dir, "lineitem"))


@q(
    "q_welch_ttest",
    """WITH b AS (
         SELECT CAST(year(l_shipdate) AS BIGINT) AS grp,
                l_returnflag AS flag,
                CAST(ROUND(l_extendedprice, 0) AS BIGINT) AS d
         FROM lineitem WHERE l_returnflag IN ('A', 'R')),
       g AS (
         SELECT grp,
           SUM(CASE WHEN flag = 'A' THEN 1 ELSE 0 END) AS nx,
           SUM(CASE WHEN flag = 'A' THEN d ELSE 0 END) AS sx,
           SUM(CASE WHEN flag = 'A' THEN d * d ELSE 0 END) AS ssx,
           SUM(CASE WHEN flag = 'R' THEN 1 ELSE 0 END) AS ny,
           SUM(CASE WHEN flag = 'R' THEN d ELSE 0 END) AS sy,
           SUM(CASE WHEN flag = 'R' THEN d * d ELSE 0 END) AS ssy
         FROM b GROUP BY grp),
       c AS (
         SELECT grp, nx, ny,
           CAST(sx AS DOUBLE) / CAST(nx AS DOUBLE) AS mx,
           CAST(sy AS DOUBLE) / CAST(ny AS DOUBLE) AS my,
           ((CAST(ssx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(nx AS DOUBLE))
            / (CAST(nx AS DOUBLE) - 1.0)) / CAST(nx AS DOUBLE) AS ux,
           ((CAST(ssy AS DOUBLE)
             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(ny AS DOUBLE))
            / (CAST(ny AS DOUBLE) - 1.0)) / CAST(ny AS DOUBLE) AS uy
         FROM g)
       SELECT grp, CAST(nx AS BIGINT) AS n_a, CAST(ny AS BIGINT) AS n_b,
         ROUND(mx, 6) AS mean_a, ROUND(my, 6) AS mean_b,
         ROUND((mx - my) / SQRT(ux + uy), 6) AS t_stat,
         ROUND((ux + uy) * (ux + uy)
               / (ux * ux / (CAST(nx AS DOUBLE) - 1.0)
                  + uy * uy / (CAST(ny AS DOUBLE) - 1.0)), 6) AS df_welch
       FROM c""",
)
def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test of extendedprice between returned
    (R) and accepted (A) lines, one test per ship year — exact integer
    dollar moments from one conditional aggregation, then a fixed double
    chain (operators/stats.welch_ttest)."""
    from ..operators import stats as ST

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate").cast("long")
    )
    return ST.welch_ttest(li, group_col="ship_year")


@q(
    "q_mannwhitney",
    """WITH b AS (
         SELECT CAST(year(l_shipdate) AS BIGINT) AS grp,
                CAST(l_quantity AS BIGINT) AS v,
                CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END AS in_a
         FROM lineitem WHERE l_returnflag IN ('A', 'R')),
       pv AS (
         SELECT grp, v, COUNT(*) AS cnt, SUM(in_a) AS cnt_a
         FROM b GROUP BY grp, v),
       rk AS (
         SELECT grp, cnt, cnt_a,
           SUM(cnt) OVER (PARTITION BY grp ORDER BY v) AS cum
         FROM pv),
       r2 AS (
         SELECT grp, cnt, cnt_a,
           2 * (cum - cnt + 1) + cnt - 1 AS avg2 FROM rk),
       g AS (
         SELECT grp, SUM(cnt_a) AS na, SUM(cnt - cnt_a) AS nb,
           SUM(cnt_a * avg2) AS r2a,
           SUM(cnt * cnt * cnt - cnt) AS ties
         FROM r2 GROUP BY grp)
       SELECT grp, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
         ROUND(CAST(r2a - na * (na + 1) AS DOUBLE) / 2.0, 1) AS u_stat,
         ROUND((CAST(r2a - na * (na + 1) AS DOUBLE) / 2.0
                - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 2.0)
           / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
                  * ((CAST(na + nb AS DOUBLE) + 1.0)
                     - CAST(ties AS DOUBLE)
                       / (CAST(na + nb AS DOUBLE)
                          * (CAST(na + nb AS DOUBLE) - 1.0)))), 6) AS z_stat,
         ROUND(CAST(r2a - na * (na + 1) AS DOUBLE) / 2.0
               / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS auc
       FROM g""",
)
def q_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Mann-Whitney U of quantity between returned and
    accepted lines per ship year — integer rank axis, doubled average
    ranks stay exact integers to the end (operators/stats.mann_whitney)."""
    from ..operators import stats as ST

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate").cast("long")
    )
    return ST.mann_whitney(li, group_col="ship_year")


@q(
    "q_basket_rules",
    """WITH ob AS (
         SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
         FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
       tot AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM ob),
       bn AS (SELECT brand, COUNT(*) AS n_brand FROM ob GROUP BY brand),
       pr AS (
         SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS n_pair
         FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
         GROUP BY a.brand, b.brand
         HAVING COUNT(*) >= 2)
       SELECT pr.brand_a, pr.brand_b, pr.n_pair,
         CAST(na.n_brand AS BIGINT) AS n_a,
         CAST(nb.n_brand AS BIGINT) AS n_b,
         ROUND(CAST(pr.n_pair AS DOUBLE) / CAST(t.n_orders AS DOUBLE), 6)
           AS support,
         ROUND(CAST(pr.n_pair AS DOUBLE) / CAST(na.n_brand AS DOUBLE), 6)
           AS confidence,
         ROUND(CAST(pr.n_pair AS DOUBLE) * CAST(t.n_orders AS DOUBLE)
               / (CAST(na.n_brand AS DOUBLE) * CAST(nb.n_brand AS DOUBLE)), 6)
           AS lift
       FROM pr JOIN bn na ON pr.brand_a = na.brand
               JOIN bn nb ON pr.brand_b = nb.brand, tot t""",
)
def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over brand pairs per order —
    support/confidence/lift from exact co-occurrence counts; the pair
    space is bounded by the 25-brand dimension
    (operators/relational.basket_rules)."""
    return REL.basket_rules(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@q(
    "q_rfm",
    """WITH pc AS (
         SELECT o_custkey,
           MAX(CAST(o_orderdate AS DATE)) AS last_date,
           COUNT(*) AS freq,
           SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)) AS cents
         FROM orders GROUP BY o_custkey),
       b AS (
         SELECT o_custkey, freq, cents,
           date_diff('day', last_date, MAX(last_date) OVER ()) AS recency
         FROM pc),
       s AS (
         SELECT o_custkey, freq, cents,
           NTILE(5) OVER (ORDER BY recency ASC, o_custkey ASC) AS r_score,
           NTILE(5) OVER (ORDER BY freq DESC, o_custkey ASC) AS f_score,
           NTILE(5) OVER (ORDER BY cents DESC, o_custkey ASC) AS m_score
         FROM b)
       SELECT r_score, f_score, m_score,
         COUNT(*) AS n_customers,
         CAST(SUM(freq) AS BIGINT) AS n_orders,
         CAST(FLOOR(CAST(SUM(cents) AS DOUBLE) / COUNT(*)) AS DOUBLE) / 100.0
           AS avg_monetary
       FROM s GROUP BY r_score, f_score, m_score""",
)
def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation grid — exact integer recency/frequency/cents,
    deterministic (metric, custkey) NTILE axes, FLOOR-pattern segment
    means (operators/relational.rfm_segments)."""
    return REL.rfm_segments(load_table(spark, sf_dir, "orders"))


@q(
    "q_pareto_abc",
    """WITH g AS (
         SELECT p.p_brand,
           SUM(CAST(ROUND(l.l_extendedprice * 100.0, 0) AS BIGINT)) AS cents
         FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         GROUP BY p.p_brand),
       c AS (
         SELECT p_brand, cents,
           SUM(cents) OVER (ORDER BY cents DESC, p_brand ASC) AS cum,
           SUM(cents) OVER () AS tot
         FROM g)
       SELECT p_brand,
         CAST(cents AS DOUBLE) / 100.0 AS revenue,
         ROUND(CAST(cents AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share,
         ROUND(CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS cum_share,
         CASE WHEN CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.8 THEN 'A'
              WHEN CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.95 THEN 'B'
              ELSE 'C' END AS abc_class
       FROM c""",
)
def q_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/Pareto classification of brands by cumulative revenue share —
    exact integer cents, deterministic (cents DESC, brand) cumulative
    axis (operators/relational.pareto_abc)."""
    return REL.pareto_abc(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@q(
    "q_gini_hhi",
    """WITH pc AS (
         SELECT o_custkey, SUM(CAST(ROUND(o_totalprice, 0) AS BIGINT)) AS x
         FROM orders GROUP BY o_custkey),
       j AS (
         SELECT pc.o_custkey, pc.x, CAST(c.c_nationkey AS BIGINT) AS nation
         FROM pc JOIN customer c ON pc.o_custkey = c.c_custkey),
       r AS (
         SELECT nation, x,
           ROW_NUMBER() OVER (PARTITION BY nation
                              ORDER BY x ASC, o_custkey ASC) AS i
         FROM j),
       g AS (
         SELECT nation, COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx,
           SUM(i * x) AS six
         FROM r GROUP BY nation)
       SELECT nation, CAST(n AS BIGINT) AS n_customers,
         CAST(sx AS DOUBLE) AS revenue,
         ROUND((2.0 * CAST(six AS DOUBLE)
                - (CAST(n AS DOUBLE) + 1.0) * CAST(sx AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS gini,
         ROUND(CAST(sxx AS DOUBLE)
               / (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS hhi
       FROM g""",
)
def q_gini_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue concentration: Gini (rank formula) + HHI from
    exact integer-dollar aggregates (operators/relational.gini_hhi)."""
    return REL.gini_hhi(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "customer")
    )
