"""Event-stream behavioral analytics queries + DuckDB oracles: funnel
conversion, retention cohorts, interval (range) join
(operators/eventflow.py — capability extensions beyond the reference's
single-stream surface, SURVEY.md §2.2).

All three are exact relational plans (keyed aggregations + equi-joins
with time predicates), so the oracles are direct transliterations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import eventflow as EV
from ..sources.tables import load_events
from ._registry import registrar

QUERIES = {}
ORACLES = {}
TIERS = {}
q = registrar(QUERIES, ORACLES, TIERS)


@q(
    "q_funnel",
    """WITH s1 AS (
         SELECT user_id, MIN(ts) AS t1 FROM events
         WHERE event_type = 'view' GROUP BY user_id),
       s2 AS (
         SELECT e.user_id, MIN(e.ts) AS t2
         FROM events e JOIN s1 ON e.user_id = s1.user_id
         WHERE e.event_type = 'click' AND e.ts > s1.t1
         GROUP BY e.user_id),
       s3 AS (
         SELECT e.user_id, MIN(e.ts) AS t3
         FROM events e JOIN s2 ON e.user_id = s2.user_id
         WHERE e.event_type = 'purchase' AND e.ts > s2.t2
         GROUP BY e.user_id)
       SELECT (SELECT COUNT(*) FROM s1) AS entered,
              (SELECT COUNT(*) FROM s2) AS reached_2,
              (SELECT COUNT(*) FROM s3) AS reached_3""",
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view -> click -> purchase funnel (strictly-later stages)."""
    return EV.funnel_counts(load_events(spark, sf_dir))


@q(
    "q_retention",
    """WITH first AS (
         SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_date
         FROM events GROUP BY user_id),
       active AS (
         SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_date FROM events)
       SELECT CAST(f.cohort_date AS TIMESTAMP) AS cohort_date,
              date_diff('day', f.cohort_date, a.active_date) AS day_offset,
              COUNT(DISTINCT a.user_id) AS n_users
       FROM active a JOIN first f ON a.user_id = f.user_id
       GROUP BY 1, 2""",
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention triangle: users active at each day offset from their
    first-seen (cohort) day.  cohort_date surfaces as TIMESTAMP (driver
    compare normalizes timestamps, not DATE)."""
    from pyspark.sql import functions as F

    out = EV.retention_cohorts(load_events(spark, sf_dir))
    return out.withColumn("cohort_date", F.col("cohort_date").cast("timestamp_ntz"))


@q(
    "q_range_join",
    """WITH wins AS (
         SELECT user_id AS wu, ts AS lo, ts + INTERVAL 10 MINUTE AS hi
         FROM events WHERE event_type = 'error')
       SELECT e.user_id, COUNT(DISTINCT e.event_id) AS n_probe_events
       FROM events e JOIN wins w
         ON e.user_id = w.wu AND e.ts >= w.lo AND e.ts <= w.hi
       WHERE e.event_type IN ('view', 'click')
       GROUP BY e.user_id""",
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: distinct view/click events inside any 10-minute
    window opened by the same user's error events (equi-key + range
    predicate -> co-located hash join, never a cartesian)."""
    return EV.events_in_windows(load_events(spark, sf_dir))


@q(
    "q_session_window",
    """WITH s AS (
         SELECT user_id, ts, value,
           SUM(CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         FROM (SELECT user_id, ts, event_id, value,
                 LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
               FROM events) t)
       SELECT user_id, MIN(ts) AS session_start,
              MAX(ts) + INTERVAL 30 MINUTE AS session_end,
              COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
       FROM s GROUP BY user_id, session_id""",
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window aggregation (gap 30 min) — the same
    gap semantics as operators/temporal.sessionize (exact-gap events
    merge), but as one groupBy the engine executes with session-merge
    state, streaming-ready as-is.  Oracle reconstructs sessions via the
    lag + conditional-sum window (the verified sessionize shape)."""
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@q(
    "q_event_runs",
    """WITH r AS (
         SELECT user_id, event_type, ts, event_id,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           - ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS grp
         FROM events),
       runs AS (
         SELECT user_id, event_type, grp,
                COUNT(*) AS run_len, MIN(ts) AS run_start
         FROM r GROUP BY 1, 2, 3),
       pick AS (
         SELECT *, ROW_NUMBER() OVER (
           PARTITION BY user_id
           ORDER BY run_len DESC, run_start, event_type) AS rn
         FROM runs)
       SELECT user_id, event_type, CAST(run_len AS BIGINT) AS run_len,
              run_start
       FROM pick WHERE rn = 1""",
)
def q_event_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest same-type streak per user via the gaps-and-islands
    row-number difference (operators/eventflow.event_runs) — one
    hash(user) exchange serves both windows and the collapse."""
    return EV.event_runs(load_events(spark, sf_dir))


@q(
    "q_concurrency",
    """WITH b AS (
         SELECT event_type, ts AS t, 1 AS d, event_id AS id FROM events
         UNION ALL
         SELECT event_type, ts + INTERVAL 30 MINUTE, -1, event_id
         FROM events),
       run AS (
         SELECT event_type,
                SUM(d) OVER (PARTITION BY event_type ORDER BY t, d, id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS c
         FROM b)
       SELECT event_type, CAST(COUNT(*) / 2 AS BIGINT) AS n_events,
              CAST(MAX(c) AS BIGINT) AS max_concurrent
       FROM run GROUP BY event_type""",
)
def q_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent 30-minute event intervals per type via +1/-1
    boundary prefix sums — interval stabbing with no interval join
    (operators/eventflow.concurrency_profile)."""
    return EV.concurrency_profile(load_events(spark, sf_dir))


@q(
    "q_delta_encode",
    """SELECT event_id, user_id, ts,
         ROUND(value - LAG(value) OVER w, 6) AS dv,
         date_diff('microseconds', LAG(ts) OVER w, ts) AS dt_us
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
)
def q_delta_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user delta encoding of values and integer-microsecond
    inter-arrival gaps (operators/eventflow.delta_encode)."""
    return EV.delta_encode(load_events(spark, sf_dir))


@q(
    "q_scd2",
    """WITH ch AS (
         SELECT user_id, event_type, ts, event_id,
                LAG(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS prev
         FROM events),
       f AS (SELECT user_id, event_type, ts, event_id FROM ch
             WHERE prev IS NULL OR event_type <> prev)
       SELECT user_id, event_type, ts AS valid_from,
              LEAD(ts) OVER w AS valid_to,
              CAST(ROW_NUMBER() OVER w AS INTEGER) AS version
       FROM f WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension history from a change stream: one row per
    attribute change with [valid_from, valid_to) ranges and version
    numbers — three windows on one hash(user) exchange
    (operators/relational.scd2_history)."""
    from ..operators.relational import scd2_history

    return scd2_history(load_events(spark, sf_dir))


@q(
    "q_hopping_window",
    """WITH x AS (
         SELECT event_type, value,
                date_trunc('hour', ts) - k * INTERVAL 1 HOUR AS ws
         FROM events, UNNEST([0, 1]) AS u(k))
       SELECT CAST(ws AS TIMESTAMP) AS window_start, event_type,
              CAST(COUNT(*) AS BIGINT) AS n_events,
              ROUND(SUM(value), 4) AS sum_value
       FROM x GROUP BY 1, 2""",
)
def q_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window aggregation (2-hour windows sliding hourly) via
    Spark's native window(ts, size, slide) — each event explodes into
    its two epoch-aligned windows map-side, identical bucketing to the
    streaming operator (operators/relational.hopping_window_agg)."""
    from ..operators.relational import hopping_window_agg

    return hopping_window_agg(load_events(spark, sf_dir))


@q(
    "q_zscore",
    """WITH s AS (SELECT event_type, AVG(value) AS mu,
                         STDDEV_SAMP(value) AS sd
                  FROM events GROUP BY 1)
       SELECT event_id, e.event_type, value,
              ROUND((value - mu) / NULLIF(sd, 0.0), 6) AS z
       FROM events e JOIN s ON e.event_type = s.event_type""",
)
def q_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score feature scaling — group moments joined back
    (broadcast stats side), map-side normalization
    (operators/transforms.zscore_normalize)."""
    from ..operators.transforms import zscore_normalize

    return zscore_normalize(load_events(spark, sf_dir))


@q(
    "q_label_encode",
    """WITH c AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1),
       i AS (SELECT event_type,
                    CAST(ROW_NUMBER() OVER (ORDER BY n DESC, event_type) - 1
                         AS INTEGER) AS idx
             FROM c)
       SELECT event_id, e.event_type, idx
       FROM events e JOIN i USING (event_type)""",
)
def q_label_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic StringIndexer-style label encoding (frequency-
    descending dense ids, value tiebreak); the mapping is an auditable
    broadcast table, the corpus never shuffles
    (operators/transforms.label_encode)."""
    from ..operators.transforms import label_encode

    return label_encode(load_events(spark, sf_dir))


@q(
    "q_pit_join",
    """WITH ch AS (
         SELECT user_id, event_type, ts, event_id,
                LAG(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS prev
         FROM events),
       f AS (SELECT user_id, event_type, ts, event_id FROM ch
             WHERE prev IS NULL OR event_type <> prev),
       h AS (SELECT user_id, event_type, ts AS valid_from,
                    LEAD(ts) OVER w AS valid_to,
                    CAST(ROW_NUMBER() OVER w AS INTEGER) AS version
             FROM f WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       p AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
       pp AS (SELECT user_id, day,
                     CAST(day AS TIMESTAMP) + INTERVAL 1 DAY AS ts_p
              FROM p)
       SELECT pp.user_id, CAST(pp.day AS TIMESTAMP) AS day,
              h.event_type AS state, h.version
       FROM pp JOIN h ON pp.user_id = h.user_id
        AND h.valid_from <= pp.ts_p
        AND (h.valid_to IS NULL OR pp.ts_p < h.valid_to)""",
)
def q_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup against the SCD2 dimension history:
    end-of-day state + version per (user, day) — the as-was join every
    versioned-dimension report runs (operators/relational.pit_state_by_day)."""
    from ..operators.relational import pit_state_by_day

    return pit_state_by_day(load_events(spark, sf_dir))


@q(
    "q_chi2",
    """WITH g AS (
         SELECT event_type AS r, CAST(user_id % 3 AS BIGINT) AS cohort,
                COUNT(*) AS n
         FROM events GROUP BY event_type, user_id % 3),
       e AS (
         SELECT r, cohort, n,
           CAST(SUM(n) OVER (PARTITION BY r) AS DOUBLE)
             * CAST(SUM(n) OVER (PARTITION BY cohort) AS DOUBLE)
             / CAST(SUM(n) OVER () AS DOUBLE) AS exp
         FROM g),
       c AS (
         SELECT r, cohort, n,
           ROUND(exp, 6) AS expected,
           ROUND((CAST(n AS DOUBLE) - exp) * (CAST(n AS DOUBLE) - exp)
                 / exp, 6) AS contrib,
           CAST(ROUND((CAST(n AS DOUBLE) - exp) * (CAST(n AS DOUBLE) - exp)
                      / exp * 1000000.0, 0) AS BIGINT) AS cmicro
         FROM e)
       SELECT r, cohort, n, expected, contrib,
         CAST(SUM(cmicro) OVER () AS DOUBLE) / 1000000.0 AS chi2_total
       FROM c""",
)
def q_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence of event_type x user cohort — exact
    observed counts, double expected/contribution chains, total re-summed
    through integer micro-units (operators/stats.chi2_independence)."""
    from ..operators import stats as ST

    return ST.chi2_independence(load_events(spark, sf_dir))


@q(
    "q_pr_curve",
    """WITH s AS (
         SELECT CAST(ROUND(value * 1000000.0, 0) AS BIGINT) AS vmicro,
                CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
         FROM events),
       r AS (SELECT MIN(vmicro) AS vmin, MAX(vmicro) AS vmax FROM s),
       t AS (
         SELECT CAST(i AS BIGINT) AS i,
                vmin + (i * (vmax - vmin)) // 20 AS thr
         FROM r, range(1, 20) AS u(i)),
       g AS (
         SELECT i, thr,
           SUM(CASE WHEN vmicro >= thr AND label = 1 THEN 1 ELSE 0 END) AS tp,
           SUM(CASE WHEN vmicro >= thr THEN 1 ELSE 0 END) AS pp,
           SUM(label) AS np
         FROM s, t GROUP BY i, thr)
       SELECT i, CAST(thr AS DOUBLE) / 1000000.0 AS threshold,
         CAST(tp AS BIGINT) AS tp,
         CAST(pp AS BIGINT) AS predicted_pos,
         CAST(np AS BIGINT) AS actual_pos,
         CASE WHEN pp > 0
              THEN ROUND(CAST(tp AS DOUBLE) / CAST(pp AS DOUBLE), 6) END
           AS precision,
         CASE WHEN np > 0
              THEN ROUND(CAST(tp AS DOUBLE) / CAST(np AS DOUBLE), 6) END
           AS recall,
         CASE WHEN pp > 0 AND np > 0 AND tp > 0
              THEN ROUND(2.0 * (CAST(tp AS DOUBLE) / CAST(pp AS DOUBLE))
                             * (CAST(tp AS DOUBLE) / CAST(np AS DOUBLE))
                         / (CAST(tp AS DOUBLE) / CAST(pp AS DOUBLE)
                            + CAST(tp AS DOUBLE) / CAST(np AS DOUBLE)), 6)
              ELSE 0.0 END AS f1
       FROM g""",
)
def q_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 threshold sweep for value predicting a
    purchase event — exact-integer threshold grid over the micro-quantized
    score range, one broadcast cross-join scan
    (operators/stats.pr_curve)."""
    from ..operators import stats as ST

    return ST.pr_curve(load_events(spark, sf_dir))


@q(
    "q_attribution",
    """WITH conv AS (
         SELECT user_id, MIN(ts) AS conv_ts FROM events
         WHERE event_type = 'purchase' GROUP BY user_id),
       t AS (
         SELECT e.user_id, e.ts, e.event_id, e.event_type
         FROM events e JOIN conv ON e.user_id = conv.user_id
         WHERE e.ts < conv.conv_ts AND e.event_type <> 'purchase'),
       r AS (
         SELECT event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY user_id) AS n
         FROM t)
       SELECT event_type,
         COUNT(*) AS n_touches,
         CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
         CAST(SUM(CASE WHEN rn = n THEN 1 ELSE 0 END) AS BIGINT) AS n_last,
         CAST(SUM(CAST(ROUND(CAST(1000000.0 AS DOUBLE) / n, 0) AS BIGINT))
              AS DOUBLE) / 1000000.0 AS linear_credit
       FROM r GROUP BY event_type""",
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last/linear multi-touch attribution over pre-conversion
    journeys — micro-quantized fractional credits
    (operators/eventflow.attribution)."""
    return EV.attribution(load_events(spark, sf_dir))


@q(
    "q_kaplan_meier",
    """WITH pu AS (
         SELECT user_id, MIN(CAST(ts AS DATE)) AS d0,
                MAX(CAST(ts AS DATE)) AS d1
         FROM events GROUP BY user_id),
       b AS (
         SELECT CAST(date_diff('day', d0, d1) AS BIGINT) AS dur,
           date_diff('day', d1, MAX(d1) OVER ()) < 3 AS censored
         FROM pu),
       g AS (
         SELECT dur,
           SUM(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS d,
           SUM(CASE WHEN censored THEN 1 ELSE 0 END) AS c
         FROM b GROUP BY dur),
       s AS (
         SELECT dur, d, c, SUM(d + c) OVER (ORDER BY dur DESC) AS n_risk
         FROM g),
       l AS (
         SELECT dur, d, c, n_risk,
           CASE WHEN d > 0 AND d < n_risk
                THEN CAST(ROUND(LN(1.0 - CAST(d AS DOUBLE)
                                         / CAST(n_risk AS DOUBLE))
                                * 1000000.0, 0) AS BIGINT)
                ELSE 0 END AS lnq,
           CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS dead
         FROM s)
       SELECT dur, CAST(n_risk AS BIGINT) AS n_risk,
         CAST(d AS BIGINT) AS n_events,
         CAST(c AS BIGINT) AS n_censored,
         CASE WHEN MAX(dead) OVER (ORDER BY dur ASC) = 1 THEN 0.0
              ELSE ROUND(EXP(CAST(SUM(lnq) OVER (ORDER BY dur ASC) AS DOUBLE)
                             / 1000000.0), 6) END AS survival
       FROM l""",
)
def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival over user activity lifetimes with
    end-of-window right-censoring — log-space micro-quantized product
    (operators/eventflow.kaplan_meier)."""
    return EV.kaplan_meier(load_events(spark, sf_dir))


@q(
    "q_ab_test",
    """WITH pu AS (
         SELECT user_id,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
         FROM events GROUP BY user_id),
       g AS (
         SELECT
           SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS na,
           SUM(CASE WHEN user_id % 2 = 0 AND conv = 1 THEN 1 ELSE 0 END) AS ca,
           SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS nb,
           SUM(CASE WHEN user_id % 2 = 1 AND conv = 1 THEN 1 ELSE 0 END) AS cb
         FROM pu)
       SELECT CAST(na AS BIGINT) AS n_a, CAST(ca AS BIGINT) AS conv_a,
         CAST(nb AS BIGINT) AS n_b, CAST(cb AS BIGINT) AS conv_b,
         ROUND(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE), 6) AS p_a,
         ROUND(CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE), 6) AS p_b,
         CASE WHEN (CAST(ca AS DOUBLE) + CAST(cb AS DOUBLE))
                    / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) > 0.0
               AND (CAST(ca AS DOUBLE) + CAST(cb AS DOUBLE))
                    / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) < 1.0
              THEN
         ROUND((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
                - CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
           / SQRT((CAST(ca AS DOUBLE) + CAST(cb AS DOUBLE))
                    / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
                  * (1.0 - (CAST(ca AS DOUBLE) + CAST(cb AS DOUBLE))
                           / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
                  * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))),
           6) END AS z_stat
       FROM g""",
)
def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test of purchase conversion between user-parity
    cohorts — exact counts, fixed double chain
    (operators/eventflow.ab_proportion_test)."""
    return EV.ab_proportion_test(load_events(spark, sf_dir))


@q(
    "q_markov",
    """WITH p AS (
         SELECT LAG(event_type) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS from_type,
                event_type AS to_type
         FROM events),
       c AS (SELECT from_type, to_type, COUNT(*) AS n FROM p
             WHERE from_type IS NOT NULL GROUP BY from_type, to_type)
       SELECT from_type, to_type, n,
         ROUND(CAST(n AS DOUBLE)
               / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE), 6)
           AS prob,
         CAST(ROW_NUMBER() OVER (PARTITION BY from_type
                ORDER BY n DESC, to_type) AS BIGINT) AS rk
       FROM c""",
)
def q_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix (counts, conditional
    probabilities, continuation ranks) —
    operators/eventflow.markov_transitions."""
    return EV.markov_transitions(load_events(spark, sf_dir))


@q(
    "q_inter_event",
    """WITH g AS (
         SELECT event_type,
                epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id,
                  event_type ORDER BY ts, event_id)) AS gap_us
         FROM events QUALIFY gap_us IS NOT NULL),
       s AS (SELECT event_type, gap_us,
               ROW_NUMBER() OVER (PARTITION BY event_type
                 ORDER BY gap_us ASC) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
             FROM g)
       SELECT event_type, MAX(n) AS n_gaps,
         CAST(FLOOR(CAST(SUM(gap_us) AS DOUBLE) / CAST(MAX(n) AS DOUBLE))
              AS BIGINT) AS mean_gap_us,
         MAX(CASE WHEN rn = CEIL(n * 0.5) THEN gap_us END) AS p50_gap_us,
         MAX(CASE WHEN rn = CEIL(n * 0.9) THEN gap_us END) AS p90_gap_us
       FROM s GROUP BY event_type HAVING MAX(n) >= 10""",
)
def q_inter_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap profile per event type (exact integer
    microsecond gaps, FLOOR mean, rank-based p50/p90) —
    operators/eventflow.inter_event_gaps."""
    return EV.inter_event_gaps(load_events(spark, sf_dir), min_gaps=10)


@q(
    "q_cohort_value",
    """WITH first AS (
         SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_date
         FROM events GROUP BY user_id),
       j AS (SELECT e.user_id, f.cohort_date,
               CAST(FLOOR(DATEDIFF('day', f.cohort_date, CAST(e.ts AS DATE))
                          / 7.0) AS BIGINT) AS week_offset,
               CAST(ROUND(e.value * 10000.0, 0) AS BIGINT) AS vq
             FROM events e JOIN first f ON e.user_id = f.user_id),
       g AS (SELECT cohort_date, week_offset,
               COUNT(DISTINCT user_id) AS n_users, SUM(vq) AS sv
             FROM j GROUP BY cohort_date, week_offset)
       SELECT CAST(cohort_date AS TIMESTAMP) AS cohort_date, week_offset,
         n_users,
         CAST(sv AS DOUBLE) / 10000.0 AS total_value,
         FLOOR(CAST(sv AS DOUBLE) / CAST(n_users AS DOUBLE)) / 10000.0 AS arpu
       FROM g""",
)
def q_cohort_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort ARPU grid (first-seen day x week offset; exact 1e-4-unit
    value totals, FLOOR-pattern ARPU) —
    operators/eventflow.cohort_value."""
    return EV.cohort_value(load_events(spark, sf_dir))


@q(
    "q_hourly_profile",
    """WITH g AS (
         SELECT event_type, CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
                COUNT(*) AS n
         FROM events GROUP BY event_type, EXTRACT(hour FROM ts))
       SELECT event_type, hour, n,
         ROUND(CAST(n AS DOUBLE)
               / CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE), 6)
           AS share,
         (ROW_NUMBER() OVER (PARTITION BY event_type
            ORDER BY n DESC, hour) = 1) AS is_peak_hour
       FROM g""",
)
def q_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day activity profile per event type with peak-hour flag
    — operators/eventflow.hourly_profile."""
    return EV.hourly_profile(load_events(spark, sf_dir))
