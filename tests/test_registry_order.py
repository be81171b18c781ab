"""Registry order = driver-certification rotation (suite/__init__.py).

The driver certifies only the first ~50 entries of ``QUERIES`` per
round, so the order must move freshly certified queries out of the
window by itself.  These tests pin that on the checked-in CORRECTNESS
files and pin the sort rule on synthetic ledgers."""

from __future__ import annotations

import json
from pathlib import Path

from hypothesis import given, settings
from hypothesis import strategies as st

from trading_etl_python_spark import suite

REPO = Path(__file__).resolve().parent.parent
WINDOW = 50


def _latest_correctness() -> dict:
    files = sorted(
        REPO.glob("CORRECTNESS_r*.json"),
        key=lambda p: int(p.stem.removeprefix("CORRECTNESS_r")),
    )
    return json.loads(files[-1].read_text())


def _green(row: dict) -> bool:
    return bool(
        row.get("rows_match")
        and row.get("schema_match")
        and row.get("hash_match") in (True, None)
    )


def test_window_skips_latest_green_unless_pending():
    """A query the newest CORRECTNESS file just certified green must not
    be re-certified in the next window unless its builder or oracle
    changed since (the stalled-rotation regression: the window once
    equalled the previous round's certified set)."""
    latest = _latest_correctness()
    pending = {
        n for n, r in suite._TOUCHED.items() if r > suite.LAST_CERT.get(n, 0)
    }
    window = list(suite.QUERIES)[:WINDOW]
    stale = [
        n for n in window
        if n in latest and _green(latest[n]) and n not in pending
    ]
    assert stale == []


def test_registry_contract_unchanged_by_order():
    assert set(suite.QUERIES) == set(suite.ORACLES) == set(suite.TIERS)
    assert len(suite.QUERIES) == len(suite._ALL)
    assert all(suite.QUERIES[n] is suite._ALL[n] for n in suite._ALL)


def test_last_cert_green_rule(tmp_path):
    def write(rnd, rows):
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))

    ok = {"rows_match": True, "schema_match": True, "hash_match": True}
    write(2, {"a": ok, "b": ok, "c": ok, "d": ok})
    write(9, {
        "a": {**ok, "hash_match": None},   # rows-only entry: still green
        "b": {**ok, "hash_match": False},  # red: keeps its r2 cert
        "c": {**ok, "schema_match": False},
    })
    write(10, {"d": ok, "e": {**ok, "rows_match": False}})
    assert suite._last_cert(tmp_path) == {"a": 9, "b": 2, "c": 2, "d": 10}
    assert suite._last_cert(tmp_path / "missing") == {}


def test_last_cert_reads_checked_in_files():
    latest = _latest_correctness()
    top = max(suite.LAST_CERT.values())
    assert {n for n, r in latest.items() if _green(r)} == {
        n for n, r in suite.LAST_CERT.items() if r == top
    }


_NAMES = [f"q{i}" for i in range(30)]
_rounds = st.integers(min_value=0, max_value=6)
_ledgers = st.dictionaries(st.sampled_from(_NAMES), _rounds)


def _pending(n, cert, touched):
    return touched.get(n, 0) > cert.get(n, 0)


@given(_ledgers, _ledgers)
@settings(max_examples=300, deadline=None)
def test_rotation_rule(cert, touched):
    order = suite._rotation(_NAMES, cert, touched)
    assert sorted(order) == sorted(_NAMES)  # a permutation
    flags = [_pending(n, cert, touched) for n in order]
    head = flags.count(True)
    assert flags == [True] * head + [False] * (len(order) - head)
    tail = order[head:]
    rounds = [cert.get(n, 0) for n in tail]
    assert rounds == sorted(rounds)
    # never-certified entries lead the tail
    n0 = rounds.count(0)
    assert all(cert.get(n, 0) == 0 for n in tail[:n0])
    # ties keep registration order, in the head and in the tail
    pos = {n: i for i, n in enumerate(_NAMES)}
    for a, b in zip(order, order[1:]):
        same = (_pending(a, cert, touched), cert.get(a, 0)) == (
            _pending(b, cert, touched), cert.get(b, 0))
        assert not same or pos[a] < pos[b]


@given(_ledgers, st.sampled_from(_NAMES), st.integers(min_value=1, max_value=6))
@settings(max_examples=200, deadline=None)
def test_touched_entry_drops_back_once_certified(cert, name, extra):
    touched = {name: cert.get(name, 0) + 1}
    assert suite._rotation(_NAMES, cert, touched)[0] == name
    later = max([*cert.values(), touched[name]]) + extra
    after = suite._rotation(_NAMES, {**cert, name: later}, touched)
    assert after[-1] == name


def test_registry_lint_passes():
    """tools/lint_registry.py in its default (no Spark) mode: COVERAGE.md
    and registry agree and no dead in-function import remains."""
    from tools import lint_registry

    assert lint_registry.main() == 0
