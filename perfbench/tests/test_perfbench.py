"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, corpus, gen, run, spans  # noqa: E402
from perfbench.harness import Run, put_latency  # noqa: E402

SMALL = gen.TickSpec(symbols=12, ticks=2_000, days=3)


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for base, _, names in os.walk(d):
        for n in names:
            with open(os.path.join(base, n), "rb") as fh:
                out[os.path.relpath(os.path.join(base, n), d)] = fh.read()
    return out


def test_generator_same_seed_gives_identical_files(tmp_path):
    gen.write_history(gen.generate(7, SMALL), str(tmp_path / "a"), files=4)
    gen.write_history(gen.generate(7, SMALL), str(tmp_path / "b"), files=4)
    gen.write_history(gen.generate(8, SMALL), str(tmp_path / "c"), files=4)
    a, b, c = (_files(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_generator_shape():
    t = gen.generate(3, SMALL)
    assert t.schema == gen.SCHEMA
    ts = t["ts"].cast("int64").to_numpy()
    assert (np.diff(ts) > 0).all()  # unique, time-ordered keys
    assert (t["value"].to_numpy() > 0).all()
    counts = np.bincount(t["user_id"].to_numpy() - 1000)
    assert counts.max() > 5 * np.median(counts)  # a hot head and a long tail


def test_split_files_are_time_ordered(tmp_path):
    paths = gen.write_history(gen.generate(1, SMALL), str(tmp_path), files=4)
    mtimes = [os.path.getmtime(p) for p in paths]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 4


@pytest.mark.parametrize(
    "n, tail",
    [(1, None), (19, None), (39, None), (40, 75), (99, 75), (100, 90), (500, 90)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, tail):
    assert spans.tail_percentile(n) == tail


def test_latency_never_reports_a_tail_from_few_samples(tmp_path):
    r = Run(str(tmp_path), "x", 0, False)
    put_latency(r, "read", [0.1] * 39)
    assert "read_p50_ms" in r.metrics and "read_p75_ms" not in r.metrics
    put_latency(r, "read", [0.1] * 40)
    assert r.metrics["read_p75_ms"][1] == "ms"


def test_percentile_nearest_rank():
    assert spans.percentile([5, 1, 3], 50) == 3
    assert spans.percentile(list(range(1, 101)), 90) == 90


@pytest.fixture(scope="module")
def expected():
    return checks.Expected(gen.generate(5, SMALL))


def _batch(exp: checks.Expected):
    """A correct stand-in for the engine's output over ``exp``."""
    df = exp.keys.copy()
    rng = np.random.default_rng(0)
    for c in checks.STREAM_EXACT_COLS:
        df[c] = np.round(rng.uniform(1, 100, len(df)), 4)
    return df


def test_expected_row_count_formula(expected):
    t = gen.generate(5, SMALL)
    per_symbol = np.bincount(t["user_id"].to_numpy())
    assert expected.rows == int(np.maximum(0, per_symbol - 25).sum())
    assert len(expected.keys) == expected.rows


def test_key_check_rejects_a_dropped_or_duplicated_row(expected):
    good = _batch(expected)
    assert checks.check_keys("t", good, expected) == []
    assert checks.check_keys("t", good.drop(index=3), expected)
    swapped = good.copy()
    swapped.loc[0, "symbol"] = swapped.loc[1, "symbol"] + 1
    assert checks.check_keys("t", swapped, expected)
    dup = good.copy()
    dup.iloc[1] = dup.iloc[0]
    assert checks.check_keys("t", dup, expected)


def test_stream_value_check_rejects_a_perturbed_sma(expected):
    batch = _batch(expected)
    assert checks.check_stream_values(batch.copy(), batch) == []
    bad = batch.copy()
    bad.loc[7, "sma_20"] += 1e-4
    assert checks.check_stream_values(bad, batch)
    assert checks.check_stream_values(batch.drop(index=2), batch)


def test_latest_check(expected):
    good = list(expected.latest.items())
    assert checks.check_latest(good, expected) == []
    assert checks.check_latest(good[1:], expected)
    assert checks.check_latest(good + [good[0]], expected)
    s, t = good[0]
    assert checks.check_latest([(s, t - 1)] + good[1:], expected)


def test_range_check(expected):
    lo = min(expected.rows_per_day)
    n = expected.range_rows(lo, lo + 1)
    assert n > 0
    assert checks.check_range(n, lo, lo + 1, expected) == []
    assert checks.check_range(n - 1, lo, lo + 1, expected)


def test_stored_oracles_match_their_hashes():
    with open(os.path.join(corpus.ORACLE_DIR, "hashes.json")) as fh:
        hashes = json.load(fh)
    assert set(hashes) == set(corpus.QUERIES)
    for q in corpus.QUERIES:
        assert corpus.canonical_hash(corpus.load_oracle(q)) == hashes[q]


def test_oracle_comparison_rejects_a_corrupted_result():
    from tools.check_correctness import compare

    odf = corpus.load_oracle("q_dedup_clusters")
    assert compare("q", odf.copy(), odf) == []
    assert compare("q", odf.drop(index=0), odf)
    bad = odf.copy()
    bad.loc[0, "cluster_id"] += 1
    assert compare("q", bad, odf)


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(run.PER_LAYER)
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in spec["end_to_end"])
