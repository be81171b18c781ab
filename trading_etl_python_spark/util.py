"""Small shared plan-shaping helpers."""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame


def lcg_stream(seed: int, n: int, mod: int = 1 << 30) -> list[int]:
    """Deterministic pseudo-random ints in [0, mod) from a plain LCG
    (glibc constants).  Used wherever a Spark query and its DuckDB oracle
    must share the SAME 'random' constants (MinHash permutations, LSH
    hyperplanes): the values are generated once in Python and inlined as
    literals on both sides, so no engine RNG is ever involved."""
    out, x = [], seed
    for _ in range(n):
        x = (1103515245 * x + 12345) % (1 << 31)
        out.append(x % mod)
    return out


def spread(df: DataFrame, *cols: str, factor: int | None = None) -> DataFrame:
    """Repartition to the session's shuffle-partition count, optionally by
    hash of ``cols``.  Used ahead of Python (Arrow) stages and explode fan-
    outs: pinning the count explicitly keeps AQE's small-stage coalescing
    from serializing the downstream work onto a handful of tasks, and a
    single-file scan (one input partition) gets spread across cores.

    With ``cols`` the hash-partitioning is SEMANTIC, not just fan-out:
    mapInPandas kernels rely on whole-key-per-partition co-location and
    downstream groupBys ride the same distribution — so a keyed spread
    always repartitions, regardless of current width.  Keyless spread is
    pure fan-out and becomes a no-op when the input is already at least
    shuffle-width (re-hashing an already-parallel scan would add a
    pure-overhead exchange).

    ``factor`` caps the target at ``cur * factor``: for fan-out-only
    consumers (e.g. shingle explode feeding a shuffle anyway) a modest
    widening captures the parallelism win without paying full-width
    task-scheduling overhead on small inputs; measured on q_dedup_ngram
    sf0.1: full-width 1.68s vs x16 cap 1.35s median, no-spread 5.2s.

    Driver cost: the width probe, ``df.rdd.getNumPartitions()``, plans
    ``df`` physically and, under AQE, runs every shuffle stage below it
    as Spark jobs, so it is skipped where the target doesn't depend on
    it (keyed with no factor, or with ``n <= factor``:
    ``min(n, max(1, cur) * factor) == n`` for any ``cur``) and memoized
    by ``semanticHash`` (analysis-only, ~7 ms) elsewhere.
    Keyed spread still always inserts the exchange: every call site
    feeds a mapInPandas kernel that RELIES on whole-key co-location,
    and detecting an already-matching child distribution would cost the
    same physical-planning pass the memo exists to avoid."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions") or "200")
    if cols and (not factor or n <= factor):
        return df.repartition(n, *cols)
    cur = _num_partitions(df)
    if cols:
        return df.repartition(min(n, max(1, cur) * factor), *cols)
    if cur >= n:
        return df
    t = min(n, cur * factor) if factor else n
    return df.repartition(t)


# WeakKeyDictionary of per-session {semanticHash: n} dicts: keying on
# the LIVE session object (not id()) means a dead session's entries can
# never alias a new session that reuses the same CPython id (r10
# ADVICE), and the weakref drops a session's whole sub-dict the moment
# the session is collected.  The >512 bound trims only the one
# session's dict, not every session's cache.
_NPART_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _num_partitions(df: DataFrame) -> int:
    """Physical partition count of ``df``, memoized by (session,
    semanticHash).  Semantically-equal plans share a physical layout, so
    the memo is sound; the one staleness window — the SAME path
    overwritten with a different file count — can only mis-size a
    fan-out (perf), never change results, because every caller uses the
    value solely to pick a repartition width."""
    try:
        sub = _NPART_CACHE.setdefault(df.sparkSession, {})
        key = df.semanticHash()
    except Exception:  # semanticHash/weakref unavailable -> uncached probe
        return df.rdd.getNumPartitions()
    hit = sub.get(key)
    if hit is None:
        if len(sub) > 512:
            sub.clear()
        hit = sub[key] = df.rdd.getNumPartitions()
    return hit
