"""Property-based tests (hypothesis) for the numerically-risky kernels.

The numpy recurrence kernels are checked against independent naive
Python re-implementations on arbitrary series (fast: no Spark); the
as-of join is checked against pandas.merge_asof on small generated
frames (one Spark job per example, examples kept low)."""

from __future__ import annotations

import datetime as dt
import math

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from trading_etl_python_spark.operators import recursive as R

prices = st.lists(
    st.floats(min_value=0.01, max_value=1e6, allow_nan=False, allow_infinity=False),
    min_size=0,
    max_size=120,
)


def naive_ema(xs: list[float], n: int) -> list[float]:
    out = [math.nan] * len(xs)
    if len(xs) < n:
        return out
    a = 2.0 / (n + 1.0)
    e = sum(xs[:n]) / n
    out[n - 1] = e
    for i in range(n, len(xs)):
        e = a * xs[i] + (1 - a) * e
        out[i] = e
    return out


@given(prices, st.integers(min_value=2, max_value=30))
@settings(max_examples=200, deadline=None)
def test_ema_rec_matches_naive(xs, n):
    got = R.ema_rec(np.array(xs, dtype=np.float64), n)
    want = naive_ema(xs, n)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert (math.isnan(g) and math.isnan(w)) or g == pytest_approx(w)


def pytest_approx(w, rel=1e-9):
    import pytest

    return pytest.approx(w, rel=rel, abs=1e-9)


@given(prices, st.integers(min_value=2, max_value=20))
@settings(max_examples=200, deadline=None)
def test_rsi_bounds_and_warmup(xs, n):
    got = R.rsi_rec(np.array(xs, dtype=np.float64), n)
    # NaN for the first n rows (needs n deltas), bounded in [0, 100] after
    for i, v in enumerate(got):
        if i < n:
            assert math.isnan(v)
        elif not math.isnan(v):
            assert -1e-9 <= v <= 100.0 + 1e-9


@given(prices)
@settings(max_examples=100, deadline=None)
def test_true_range_is_nonnegative_and_geq_hl(xs):
    c = np.array(xs, dtype=np.float64)
    h, lo = c * 1.02 + 0.01, c * 0.98
    tr = R.true_range(h, lo, c)
    assert len(tr) == len(c)
    assert all(t >= (hh - ll) - 1e-9 for t, hh, ll in zip(tr, h, lo))


@given(prices, st.integers(min_value=2, max_value=15))
@settings(max_examples=100, deadline=None)
def test_atr_warmup_boundary(xs, n):
    c = np.array(xs, dtype=np.float64)
    got = R.atr_rec(c * 1.02, c * 0.98, c, n)
    for i, v in enumerate(got):
        assert math.isnan(v) == (i < n - 1) or not math.isnan(v)
        if i < n - 1:
            assert math.isnan(v)


# --------------------------------------------------------------- asof join


asof_frames = st.integers(min_value=1, max_value=6).flatmap(
    lambda nkeys: st.tuples(
        st.lists(  # left: (key, minute)
            st.tuples(st.integers(0, nkeys), st.integers(0, 500)), min_size=1, max_size=30
        ),
        st.lists(  # right: (key, minute, value)
            st.tuples(
                st.integers(0, nkeys),
                st.integers(0, 500),
                st.integers(-1000, 1000),
            ),
            min_size=0,
            max_size=30,
        ),
    )
)


@given(asof_frames)
@settings(max_examples=10, deadline=None)
def test_asof_join_matches_pandas_merge_asof(spark, data):
    from trading_etl_python_spark.operators.temporal import asof_join

    left_rows, right_rows = data
    base = dt.datetime(2024, 1, 1)
    lpdf = pd.DataFrame(
        {
            "k": [k for k, _ in left_rows],
            "time": [base + dt.timedelta(minutes=m) for _, m in left_rows],
            "lid": range(len(left_rows)),
        }
    )
    # dedupe right on (k, time) keeping max v — the operator's tie rule
    rpdf = (
        pd.DataFrame(
            {
                "k": pd.Series([k for k, _, _ in right_rows], dtype="int64"),
                "time": pd.Series(
                    [base + dt.timedelta(minutes=m) for _, m, _ in right_rows],
                    dtype="datetime64[ns]",
                ),
                "v": pd.Series([float(v) for _, _, v in right_rows], dtype="float64"),
            }
        )
        .groupby(["k", "time"], as_index=False)
        .max()
    )
    ldf = spark.createDataFrame(lpdf.assign(k=lpdf.k.astype("int64"), lid=lpdf.lid.astype("int64")))
    rdf = (
        spark.createDataFrame(rpdf.assign(k=rpdf.k.astype("int64")))
        if len(rpdf)
        else spark.createDataFrame([], "k long, time timestamp, v double")
    )
    got = {
        r.lid: r.asof_v
        for r in asof_join(ldf, rdf, on="k", value_cols=("v",), prefix="asof_").collect()
    }
    want_df = pd.merge_asof(
        lpdf.sort_values("time", kind="mergesort"),
        rpdf.sort_values("time", kind="mergesort"),
        on="time",
        by="k",
        direction="backward",
        allow_exact_matches=True,
    )
    want = dict(zip(want_df["lid"], want_df["v"]))
    assert set(got) == set(want)
    for lid in want:
        g, w = got[lid], want[lid]
        assert (g is None and pd.isna(w)) or g == w, f"lid={lid}: {g} != {w}"


def naive_sessionize(rows, gap_s=1800):
    """rows: (key, epoch_s, event_id) -> {(key, event_id): session_id}"""
    out = {}
    by_key = {}
    for k, t, e in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        hist = by_key.setdefault(k, [])
        if not hist or t - hist[-1][0] > gap_s:
            sid = (hist[-1][1] + 1) if hist else 1
        else:
            sid = hist[-1][1]
        hist.append((t, sid))
        out[(k, e)] = sid
    return out


@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 20000), st.integers(0, 10**6)),
        min_size=1,
        max_size=40,
        unique_by=lambda r: r[2],
    )
)
@settings(max_examples=10, deadline=None)
def test_sessionize_matches_naive(spark, rows):
    from trading_etl_python_spark.operators.temporal import sessionize

    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(k, base + dt.timedelta(seconds=t), e, 1.0) for k, t, e in rows],
        "user_id long, ts timestamp, event_id long, value double",
    )
    got = {(r.user_id, r.event_id): r.session_id for r in sessionize(df, gap_minutes=30).collect()}
    want = naive_sessionize(rows)
    assert got == want


gap_events = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),  # symbol
        st.integers(min_value=0, max_value=200),  # hours offset (can gap/dup)
        st.floats(min_value=0.1, max_value=100, allow_nan=False, allow_infinity=False),
    ),
    min_size=1,
    max_size=25,
    unique_by=lambda t: (t[0], t[1]),
)


@given(gap_events)
@settings(max_examples=12, deadline=None)
def test_gapfill_output_is_dense_and_bounded(spark, events):
    """Invariants for any input: per symbol the output buckets form a
    dense 6h grid over [min, max]; LOCF is never NULL; interp lies
    between the neighboring real values (monotone envelope)."""
    from trading_etl_python_spark.operators.temporal import gapfill_locf

    rows = [
        (s, dt.datetime(2024, 3, 1) + dt.timedelta(hours=h), i, float(c))
        for i, (s, h, c) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "symbol long, time timestamp, event_id long, close double"
    )
    out = gapfill_locf(df, 6).collect()
    by_sym: dict[int, list] = {}
    for r in out:
        by_sym.setdefault(r.symbol, []).append(r)
    src_extent = {}
    for s, h, _ in events:
        lo, hi = src_extent.get(s, (10**9, -1))
        src_extent[s] = (min(lo, (h // 6) * 6), max(hi, (h // 6) * 6))
    for s, rs in by_sym.items():
        rs.sort(key=lambda r: r.bucket_start)
        # dense grid: consecutive buckets are exactly 6h apart
        for a, b in zip(rs, rs[1:]):
            assert (b.bucket_start - a.bucket_start) == dt.timedelta(hours=6)
        lo, hi = src_extent[s]
        assert rs[0].bucket_start.hour % 6 == 0
        assert (rs[-1].bucket_start - rs[0].bucket_start) == dt.timedelta(hours=hi - lo)
        vals = [c for sym, h, c in events if sym == s]
        vmin, vmax = min(vals), max(vals)
        for r in rs:
            assert r.close_locf is not None
            assert vmin - 1e-6 <= r.close_interp <= vmax + 1e-6
            assert vmin - 1e-6 <= r.close_locf <= vmax + 1e-6


@given(
    st.lists(
        st.floats(min_value=-1e3, max_value=1e3, allow_nan=False, allow_infinity=False),
        min_size=2,
        max_size=30,
    )
)
@settings(max_examples=10, deadline=None)
def test_winsorize_bounds_and_identity_inside(spark, closes):
    from trading_etl_python_spark.operators.analytics import winsorize

    rows = [
        (1, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i), i, c)
        for i, c in enumerate(closes)
    ]
    df = spark.createDataFrame(
        rows, "symbol long, time timestamp, event_id long, close double"
    )
    out = winsorize(df).collect()
    for r in out:
        assert r.p_lo - 1e-4 <= r.close_wins <= r.p_hi + 1e-4
        if r.p_lo <= r.close <= r.p_hi:
            assert abs(r.close_wins - round(r.close, 4)) < 1e-9


@given(
    table=st.text(alphabet="abc_", min_size=1, max_size=8),
    cols=st.lists(
        st.text(alphabet="xyz_", min_size=1, max_size=6), min_size=1, max_size=5, unique=True
    ),
    nkeys=st.integers(min_value=1, max_value=3),
)
@settings(max_examples=50, deadline=None)
def test_insert_ignore_sql_all_dialects_wellformed(table, cols, nkeys):
    """Every dialect's statement quotes all identifiers and references
    the staging table; key columns are always a subset of columns."""
    from trading_etl_python_spark.sinks.jdbc import insert_ignore_sql, stage_table_name

    keys = tuple(cols[:nkeys])
    stage = stage_table_name(table, 7)
    for dialect in ("postgresql", "mysql", "ansi"):
        qc = "`" if dialect == "mysql" else '"'  # mysql: backticks (ADVICE r3)
        sql = insert_ignore_sql(table, stage, cols, keys, dialect)
        assert f"{qc}{stage}{qc}" in sql and f"{qc}{table}{qc}" in sql
        for c in cols:
            assert f"{qc}{c}{qc}" in sql


@given(
    st.lists(st.integers(min_value=0, max_value=30), min_size=0, max_size=500),
    st.integers(min_value=1, max_value=12),
)
@settings(max_examples=300, deadline=None)
def test_misra_gries_superset_property(stream, cap):
    """MG guarantee: every item with frequency > n/(cap+1) survives a
    capacity-`cap` summary (the basis for heavy_hitters' exactness)."""
    from collections import Counter

    from trading_etl_python_spark.operators.sketches import _mg_update

    counters: dict = {}
    toks = [str(x) for x in stream]
    _mg_update(counters, toks, cap)
    exact = Counter(toks)
    n = len(toks)
    for item, c in exact.items():
        if c > n / (cap + 1):
            assert item in counters, (item, c, n, cap)


@given(
    st.lists(
        st.lists(st.sampled_from("abcdef"), min_size=0, max_size=40).map(" ".join),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=1, max_value=5),
)
@settings(max_examples=10, deadline=None)
def test_span_dedup_keeps_exactly_distinct_spans(spark, texts, k):
    """Corpus-wide first-occurrence-wins keeps exactly one copy of every
    distinct span: sum(n_spans - n_dup_spans) == |distinct span texts|."""
    from trading_etl_python_spark.operators import dedup as D

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    stats = D.span_dedup_stats(df, k=k).collect()
    kept = sum(r["n_spans"] - r["n_dup_spans"] for r in stats)
    distinct = D.doc_spans(df, k=k).select("span").distinct().count()
    assert kept == distinct


# ---------------------------------------------------- late-r4 kernels

_words = st.text(alphabet="ab", min_size=1, max_size=12)


@given(
    st.lists(_words, min_size=1, max_size=12),
    st.sampled_from(["a", "b"]),
    st.sampled_from(["a", "b"]),
)
@settings(max_examples=20, deadline=None)
def test_merge_fold_matches_reference(spark, ws, a, b):
    """The Spark array-fold BPE merge == the canonical greedy L2R
    non-overlapping merge on arbitrary a/b strings (incl. runs like
    'aaaa' where overlap handling is the hard part)."""
    from pyspark.sql import functions as F

    from trading_etl_python_spark.operators.text import _merge_fold

    df = spark.createDataFrame([(w,) for w in ws], "w string")
    got = {
        r.w: r.m
        for r in df.select(
            "w", _merge_fold(F.split("w", ""), a, b).alias("m")
        ).collect()
    }

    def ref(w: str) -> list[str]:
        out: list[str] = []
        for ch in w:
            if out and out[-1] == a and ch == b:
                out[-1] = a + b
            else:
                out.append(ch)
        return out

    for w in set(ws):
        assert got[w] == ref(w), w


@given(st.text(alphabet="abc 123", min_size=0, max_size=200))
@settings(max_examples=15, deadline=None)
def test_cdc_chunks_partition_text(spark, text):
    """CDC chunks always partition the normalized text exactly: chunks
    concatenate back to it, every chunk non-empty, boundaries at hash
    hits only (reference recomputation)."""
    from trading_etl_python_spark.operators import dedup as D
    from tests.test_late_r4 import _cdc_ref

    df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    rows = sorted(
        D.cdc_chunks(df).collect(), key=lambda r: r.chunk_idx
    )
    ref = _cdc_ref(text)
    assert len(rows) == len(ref)
    import hashlib

    for r, c in zip(rows, ref):
        assert r.chunk_len == len(c) and len(c) > 0
        assert r.chunk_hash == hashlib.md5(c.encode()).hexdigest()


@given(
    st.lists(
        st.integers(min_value=-(10**9), max_value=10**9), min_size=1, max_size=50
    )
)
@settings(max_examples=200, deadline=None)
def test_scaled_integer_floor_mean_is_exact(micros):
    """The r6 parity rule: mean of exact-6dp decimals via BIGINT
    micro-units + floor-divide must equal the true rational mean
    floored at 1e-6 — for ANY count and sign, with no float rounding
    boundary anywhere."""
    n = len(micros)
    total = sum(micros)
    got = math.floor(total / float(n)) / 1e6
    # exact rational floor via integer math (Python // floors toward -inf)
    want = (total // n) / 1e6
    assert got == want


@given(st.floats(min_value=-1e6, max_value=1e6, allow_nan=False))
@settings(max_examples=300, deadline=None)
def test_round_half_up_matches_decimal_half_up(x):
    """round_half_up must agree with exact decimal ROUND_HALF_UP of the
    double's true value at 4dp (the DuckDB ROUND contract)."""
    import decimal

    got = float(R.round_half_up(np.array([x]), 4)[0])
    d = decimal.Decimal(x).scaleb(4)
    want = float(
        d.quantize(decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP)
    ) / 1e4
    assert got == want


# ---- round-6 late-batch invariants (Spark examples kept low) ----

closes_series = st.lists(
    st.floats(min_value=1.0, max_value=1e4, allow_nan=False, allow_infinity=False),
    min_size=8,
    max_size=40,
)


@given(closes_series)
@settings(max_examples=10, deadline=None)
def test_decompose_additive_identity(spark, closes):
    """close6 == trend + seasonal + residual EXACTLY wherever all three
    components exist — the integer pipeline leaves no rounding slack."""
    from pyspark.sql import functions as F

    from trading_etl_python_spark.operators import analytics as AN

    rows = [
        (1, f"2024-{1 + i // 28:02d}-{i % 28 + 1:02d} 12:00:00", float(c))
        for i, c in enumerate(closes)
    ]
    df = (
        spark.createDataFrame(rows, ["symbol", "time", "close"])
        .withColumn("time", F.to_timestamp("time"))
    )
    for r in AN.seasonal_decompose(df).collect():
        if r.trend is not None and r.seasonal is not None:
            assert r.residual is not None
            # identity is exact in MICRO INTEGERS (the emitted doubles
            # are exact micro decimals, but their float sum rounds)
            assert round(r.close6 * 1e6) == round(r.trend * 1e6) + round(
                r.seasonal * 1e6
            ) + round(r.residual * 1e6)


@given(closes_series)
@settings(max_examples=10, deadline=None)
def test_streaks_partition_the_series(spark, closes):
    """Streak-group lengths partition the return series: the per-symbol
    group lengths must sum to n_returns, and the open streak's length
    can never exceed the longest streak of its sign."""
    from pyspark.sql import functions as F

    from trading_etl_python_spark.operators import analytics as AN

    rows = [
        (1, f"2024-{1 + i // 28:02d}-{i % 28 + 1:02d} 12:00:00", float(c))
        for i, c in enumerate(closes)
    ]
    df = (
        spark.createDataFrame(rows, ["symbol", "time", "close"])
        .withColumn("time", F.to_timestamp("time"))
    )
    out = AN.streak_stats(df).collect()[0]
    n_ret = len(closes) - 1
    assert 1 <= out.n_streaks <= n_ret
    assert 0 <= out.max_up_streak <= n_ret
    assert 0 <= out.max_down_streak <= n_ret
    cur = out.current_streak
    if cur is not None and cur > 0:
        assert cur <= out.max_up_streak
    if cur is not None and cur < 0:
        assert -cur <= out.max_down_streak


# ------------------------- r10: semdedup cell-cap laws (a3e8e3f:PLANS.md §72.1)

semdedup_corpora = st.lists(
    st.tuples(
        st.integers(0, 400),            # vec_id (sparse/offset allowed; dedup below)
        st.sampled_from([0, 1, 2, 3]),  # vector from a tiny alphabet -> real dups
    ),
    min_size=2,
    max_size=40,
    unique_by=lambda t: t[0],
)

_VECS = {
    0: [1.0, 0.0, 0.0],
    1: [0.96, 0.28, 0.0],   # cos vs 0 = 0.96 (>= 0.9 dup)
    2: [0.0, 1.0, 0.0],
    3: [0.0, 0.28, 0.96],   # cos vs 2 = 0.28 (not a dup)
}


@given(semdedup_corpora, st.integers(1, 8))
@settings(max_examples=8, deadline=None)
def test_semdedup_cap_superset_and_audit_laws(spark, rows, m):
    """Laws of the r10 cell-size cap, on arbitrary sparse-id corpora:
    (1) audit contract — both forms return EVERY input id exactly once;
    (2) superset — the capped form keeps every uncapped survivor (the
    sub-split removes candidate pairs, never adds them);
    (3) anchor — the lowest id of every cell is kept in both forms."""
    from trading_etl_python_spark.operators import similarity as S

    emb = spark.createDataFrame(
        [(i, _VECS[v]) for i, v in rows],
        "vec_id bigint, embedding array<double>",
    )
    cents = {0: [1.0, 0.0, 0.0], 1: [0.0, 1.0, 0.0]}
    unc = S.semdedup(emb, centroids=cents, threshold=0.9).collect()
    cap = S.semdedup(emb, centroids=cents, threshold=0.9, max_cell=m).collect()
    ids = {i for i, _ in rows}
    assert {r.vec_id for r in unc} == ids and len(unc) == len(ids)
    assert {r.vec_id for r in cap} == ids and len(cap) == len(ids)
    kept_u = {r.vec_id for r in unc if r.is_kept}
    kept_c = {r.vec_id for r in cap if r.is_kept}
    assert kept_u <= kept_c
    for out in (unc, cap):
        cells: dict[int, list[int]] = {}
        for r in out:
            cells.setdefault(r.cell, []).append(r.vec_id)
        kept = {r.vec_id: r.is_kept for r in out}
        for c_ids in cells.values():
            assert kept[min(c_ids)]


# --- media_dhash_pairs max_bucket cap laws (r11 VERDICT #6) ---------------
# Signatures are generated directly (4 x 16-bit band keys from a tiny
# alphabet, so buckets overflow small m with high probability); the
# verifier recomputes bucket sizes, the 4*?N?/explicit bound, and the
# portable id-hash sub-assignment INDEPENDENTLY (hashlib md5 prefix =
# operators/dedup.porthash32) — no operator internals are reused.

_dhash_sigs = st.lists(
    st.tuples(
        st.integers(0, 3), st.integers(0, 3),
        st.integers(0, 3), st.integers(0, 3),
    ),
    min_size=2,
    max_size=28,
)


def _porthash32_py(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


@given(_dhash_sigs, st.integers(1, 5))
@settings(max_examples=8, deadline=None)
def test_dhash_pairs_cap_laws_on_arbitrary_corpora(spark, keysets, m):
    """Laws of the media_dhash_pairs bucket cap on arbitrary signature
    corpora: (1) capped pairs are a subset of exact pairs with identical
    hamming; (2) every DROPPED pair straddles a sub-split of an
    OVERSIZED bucket in every band where its keys match (bucket > m and
    the two ids hash to different sub-groups — a pair a band could have
    matched exactly is never dropped); (3) the n_blocks audit equals the
    MIN sub-split count over the pair's matched (band, key, sub)
    buckets, and n_blocks = 1 iff the pair matched through an unsplit
    bucket."""
    import math

    from trading_etl_python_spark.operators import multimodal as M

    rows = [
        (i, (k0 | (k1 << 16)), (k2 | (k3 << 16)))
        for i, (k0, k1, k2, k3) in enumerate(keysets)
    ]
    sig = spark.createDataFrame(rows, "media_id long, dh_lo long, dh_hi long")
    exact = {
        (r.media_a, r.media_b): r.hamming
        for r in M.media_dhash_pairs(sig, max_bucket=None).collect()
    }
    capped_rows = M.media_dhash_pairs(sig, max_bucket=m).collect()
    capped = {(r.media_a, r.media_b): r.hamming for r in capped_rows}
    audit = {(r.media_a, r.media_b): r.n_blocks for r in capped_rows}

    # independent recomputation of band keys, bucket sizes, subs
    keys = {i: ks for i, ks in enumerate(keysets)}
    bucket: dict[tuple[int, int], int] = {}
    for ks in keysets:
        for b, k in enumerate(ks):
            bucket[(b, k)] = bucket.get((b, k), 0) + 1
    nsub = {bk: max(1, math.ceil(c / m)) for bk, c in bucket.items()}
    sub = {
        (i, b): _porthash32_py(str(i)) % nsub[(b, keys[i][b])]
        for i in keys
        for b in range(4)
    }

    # law 1: subset with identical hamming
    assert set(capped) <= set(exact)
    assert all(capped[p] == exact[p] for p in capped)

    for (ia, ib), h in exact.items():
        matched = [
            b for b in range(4)
            if keys[ia][b] == keys[ib][b]
            and sub[(ia, b)] == sub[(ib, b)]
        ]
        if (ia, ib) in capped:
            # law 3: audit = MIN nsub over matched buckets; 1 iff some
            # matched bucket was unsplit
            want = min(nsub[(b, keys[ia][b])] for b in matched)
            assert audit[(ia, ib)] == want
        else:
            # law 2: dropped => every key-matching band is an oversized
            # bucket the pair straddles
            assert not matched
            for b in range(4):
                if keys[ia][b] == keys[ib][b]:
                    assert bucket[(b, keys[ia][b])] > m
                    assert sub[(ia, b)] != sub[(ib, b)]
