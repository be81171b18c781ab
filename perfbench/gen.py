"""Seeded tick generator: events-schema parquet that the engine reads as
ticks (``user_id`` -> symbol, ``ts`` -> time, ``value`` -> close).

- Closes are per-symbol geometric random walks, rounded to cents.
- Symbol activity follows a Zipf law: a few hot symbols carry most ticks
  and a long tail carries few, so shuffle and state partitions are skewed.
- Timestamps are strictly increasing over the whole history, so every
  ``(time, symbol)`` key is unique and file order is time order.
- The same seed gives byte-identical files.

The engine sees only the files this module writes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000
SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


ZIPF_S = 1.1  # activity of the k-th busiest symbol ~ 1 / k**ZIPF_S


@dataclass(frozen=True)
class TickSpec:
    symbols: int
    ticks: int
    days: int


def generate(seed: int, spec: TickSpec) -> pa.Table:
    """The whole tick history, in time order."""
    rng = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, spec.symbols + 1) ** ZIPF_S
    sym = rng.choice(spec.symbols, size=spec.ticks, p=weights / weights.sum())
    mean_gap = spec.days * DAY_US // spec.ticks
    ts = EPOCH_US + np.cumsum(rng.integers(1, 2 * mean_gap, size=spec.ticks))
    # per-symbol random walk: cumulative log-returns within each symbol
    ret = rng.normal(0.0, 0.01, size=spec.ticks)
    order = np.argsort(sym, kind="stable")
    walk = np.cumsum(ret[order])
    sorted_sym = sym[order]
    starts = np.flatnonzero(np.r_[True, sorted_sym[1:] != sorted_sym[:-1]])
    offset = np.repeat(walk[starts] - ret[order][starts], np.diff(np.r_[starts, spec.ticks]))
    logp = np.empty(spec.ticks)
    logp[order] = walk - offset
    base = rng.uniform(10.0, 200.0, size=spec.symbols)
    value = np.round(base[sym] * np.exp(logp), 2)
    kind = rng.integers(0, 2, size=spec.ticks)
    venue = rng.integers(0, 8, size=spec.ticks)
    return pa.table(
        {
            "event_id": pa.array(np.arange(spec.ticks, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(sym.astype(np.int64) + 1000),
            "event_type": pa.array(np.where(kind == 0, "trade", "quote")),
            "value": pa.array(value),
            "props": pa.array([f'{{"venue": {v}}}' for v in venue]),
        },
        schema=SCHEMA,
    )


def write_history(table: pa.Table, sf_dir: str, files: int) -> list[str]:
    """Write ``table`` as the directory ``<sf_dir>/events.parquet`` of
    equal, time-ordered part files whose modification times increase in
    file order (a file stream source admits files oldest first); batch
    readers read the directory as one table."""
    out = os.path.join(sf_dir, "events.parquet")
    os.makedirs(out, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    paths = []
    for i in range(files):
        path = os.path.join(out, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        stamp = 1_700_000_000 + i
        os.utime(path, (stamp, stamp))
        paths.append(path)
    return paths
