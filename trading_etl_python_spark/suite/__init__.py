"""Query suite: every implemented operator exposed as a named query
(SURVEY.md §2 inventory) with, where SQL-expressible, a DuckDB oracle
that reproduces the exact semantics (driver contract in
__spark_entry__.py).

Numeric-parity rules shared by builders and oracles (see operators/
windows.py docstring and the ARCHITECTURE.md §4 rules): deterministic
(time, event_id) intra-key order, explicit warmup-count guards,
NULLIF'd denominators, and — for judged aggregates over doubles —
integer quantization BEFORE aggregation (micro-unit sums, FLOOR-pattern
means, closed-form ratios of exact integer moments) rather than a
rounded float aggregate, which is accumulation-order-sensitive across
engines/partitionings (the r5/r6 driver flake class).  6dp rounds
remain on per-row ratios and small-denominator rationals, where the
boundary argument is exact.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from . import analytics, behavior, core, extensions, relational, sql_api

Builder = Callable[[SparkSession, str], DataFrame]

_ALL: dict[str, Builder] = {}
ORACLES: dict[str, str] = {}
#: per-query scale-posture tier (r8 VERDICT #4): "production" |
#: "measurement" | "demo" — see ``_registry.registrar``.  Consumed
#: by tools/sweep.py --compare (only production superlinearity is a
#: defect) and enforced complete by the assert below.
TIERS: dict[str, str] = {}

for mod in (core, relational, extensions, analytics, behavior, sql_api):
    _ALL.update(mod.QUERIES)
    ORACLES.update(mod.ORACLES)
    TIERS.update(mod.TIERS)

_VALID_TIERS = {"production", "measurement", "demo"}
assert set(TIERS) == set(_ALL) and set(TIERS.values()) <= _VALID_TIERS

# Registry order = driver-certification rotation.  The external driver
# certifies only the FIRST ~50 registry entries per round, so QUERIES is
# the registry sorted by (not pending, last_cert, registration position):
# queries whose builder or oracle changed since their last green
# certification lead, then the stalest certifications, oldest first.
# last_cert is read at import from the repo-root CORRECTNESS_r*.json
# files; when they are absent (e.g. an installed package) the ledger is
# empty and the order falls back to registration order.
def _last_cert(repo: Path) -> dict[str, int]:
    """Query -> highest round whose driver row was green: rows_match and
    schema_match hold and hash_match is true or absent (the driver
    records no hash for rows-only entries)."""
    last: dict[str, int] = {}
    for path in repo.glob("CORRECTNESS_r*.json"):
        rnd = int(re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name).group(1))
        for name, row in json.loads(path.read_text()).items():
            if (row.get("rows_match") and row.get("schema_match")
                    and row.get("hash_match") in (True, None)):
                last[name] = max(rnd, last.get(name, 0))
    return last


# Query -> the round whose certification first covers its changed
# builder or oracle.  Add an entry when either changes; it stops leading
# by itself once that round's CORRECTNESS file certifies it.
_TOUCHED: dict[str, int] = {
    # the small-graph HOF folds became one numpy kernel, run in the driver
    # (operators/graph.py)
    **dict.fromkeys((
        "q_pagerank", "q_hits", "q_communities", "q_communities_minhash",
        "q_kcore", "q_kcore_minhash", "q_textrank", "q_dedup_clusters",
        "q_dup_weights", "q_corpus_full",
    ), 15),
    # sinks.upsert_ignore reads the existing keys with the batch's schema,
    # and a sink that no row reached reads as an empty table
    **dict.fromkeys(("q_backfill_job", "q_backfill_incremental"), 15),
    # a stream sink that no batch wrote reads as an empty table, and the
    # ingest probe reads its MinHash index with a fixed schema
    **dict.fromkeys((
        "q_stream_drift", "q_stream_cardinality", "q_stream_dedup",
        "q_stream_ingest",
    ), 15),
    # stream_state_partitions defaults to min(8, defaultParallelism), and
    # run_replay_pipeline (q_stream_replay) now starts its query under it
    **dict.fromkeys((
        "q_stream_replay", "q_stream_sessions", "q_stream_topk",
        "q_stream_join", "q_stream_candles",
    ), 15),
    # x / 0 is NULL on degenerate tables (an empty graph, a test side
    # with fewer than two rows), as in the oracle, not DIVIDE_BY_ZERO
    **dict.fromkeys((
        "q_degree_assort", "q_assort_minhash", "q_welch_ttest", "q_mannwhitney",
    ), 15),
}
assert set(_TOUCHED) <= set(_ALL)


def _rotation(names: list[str], last_cert: dict[str, int],
              touched: dict[str, int]) -> list[str]:
    """`names` (registration order) pending-first, then by last green
    round; the stable sort keeps registration order on ties."""
    return sorted(names, key=lambda n: (
        touched.get(n, 0) <= last_cert.get(n, 0), last_cert.get(n, 0)))


LAST_CERT = _last_cert(Path(__file__).resolve().parents[2])
QUERIES: dict[str, Builder] = {
    n: _ALL[n] for n in _rotation(list(_ALL), LAST_CERT, _TOUCHED)}

__all__ = ["QUERIES", "ORACLES", "TIERS", "Builder"]
