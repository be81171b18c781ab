"""Full-registry timing sweep at a given sf_dir.

Usage:
    python tools/sweep.py <sf_dir> <out.json> [only_prefix_or_csv]

Runs every registry query once (registry order) against <sf_dir> on the
bench session config, timing evaluation through a ``noop`` write — the
whole plan executes, every column is computed, nothing collects to the
driver — and writes {"query": seconds} JSON to <out.json>.

Compare two sweeps (e.g. sf0.1 vs a gen_scale.py 10x set) with:
    python tools/sweep.py --compare a.json b.json [expected_factor]
which prints per-query ratios sorted worst-first, flagging anything
scaling worse than ``expected_factor`` x (default 10) + a fixed grace.

Merge repeated passes into per-query minima (the r10 protocol — run
each sweep at least twice, compare minima, never single samples) with:
    python tools/sweep.py --min pass1.json pass2.json [...] out.json
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def compare(a_path: str, b_path: str, factor: float = 10.0) -> None:
    from trading_etl_python_spark.suite import TIERS

    a = json.load(open(a_path))
    b = json.load(open(b_path))
    rows = []
    errored = []
    for k in sorted(set(a) & set(b)):
        # -1.0 is main()'s ERROR sentinel: a query that failed at either
        # sf must be reported as broken, never fed into the ratio math
        # (where it would sort to the bottom and read as a pass)
        if a[k] < 0 or b[k] < 0:
            errored.append(k)
            continue
        # grace floor: fixed per-query overhead (session, planning,
        # driver rounds) stays constant across sf and must not read as
        # super-linear scaling on sub-second queries
        ratio = b[k] / max(a[k], 0.25)
        rows.append((ratio, k, a[k], b[k]))
    rows.sort(reverse=True)
    # grouped by tier (r8 VERDICT #4): only PRODUCTION superlinearity
    # is a defect; measurement twins are exact/unbounded by design and
    # reported separately so they can't mask (or be mistaken for)
    # production regressions
    for tier in ("production", "measurement", "demo"):
        trows = [r for r in rows if TIERS.get(r[1], "production") == tier]
        if not trows:
            continue
        print(f"--- tier: {tier} ({len(trows)}) ---")
        print(f"{'ratio':>7}  {'base_s':>7}  {'scaled_s':>8}  query")
        for ratio, k, av, bv in trows:
            flag = (
                "  <-- SUPERLINEAR?"
                if ratio > factor * 1.6 and tier == "production"
                else ""
            )
            print(f"{ratio:7.2f}  {av:7.2f}  {bv:8.2f}  {k}{flag}")
    bad = [
        k for r, k, _, _ in rows
        if r > factor * 1.6 and TIERS.get(k, "production") == "production"
    ]
    print(f"\n{len(rows)} compared, {len(bad)} production above "
          f"{factor * 1.6:.0f}x: {bad}")
    if errored:
        print(f"{len(errored)} ERRORED (excluded from ratios): {errored}")


def merge_min(paths: list[str], out: str) -> None:
    """Per-query minima across N sweep files (the r10 two-pass
    protocol) — errors (-1) survive only if a query errored in EVERY
    pass.

    Guards (r10 ADVICE): at least 2 input passes (min-of-one is not the
    protocol, and a single trailing arg would silently become the
    output path), and any key-set mismatch across passes FAILS loudly —
    a partial pass (run with an ``only`` filter) would otherwise shrink
    the minima file, and since bench.py only rescues queries present
    in its reference, a too-small reference quietly weakens the noise
    rescue."""
    if len(paths) < 2:
        raise SystemExit(
            f"--min needs >= 2 input sweeps + output path; got {len(paths)} input(s)"
        )
    sweeps = [json.load(open(p)) for p in paths]
    union = set().union(*sweeps)
    keys = set(sweeps[0]).intersection(*sweeps[1:])
    if keys != union:
        dropped = sorted(union - keys)
        raise SystemExit(
            f"--min: passes disagree on query sets — {len(dropped)} quer"
            f"{'y' if len(dropped) == 1 else 'ies'} missing from some pass "
            f"(partial sweep?): {' '.join(dropped[:20])}"
            f"{' ...' if len(dropped) > 20 else ''}"
        )
    m = {}
    for k in sorted(keys):
        ok = [s[k] for s in sweeps if s[k] >= 0]
        m[k] = min(ok) if ok else -1.0
    json.dump(m, open(out, "w"), indent=0)
    print(f"wrote {out}: min of {len(paths)} passes, {len(m)} queries")


def main() -> None:
    if sys.argv[1] == "--compare":
        compare(
            sys.argv[2],
            sys.argv[3],
            float(sys.argv[4]) if len(sys.argv) > 4 else 10.0,
        )
        return
    if sys.argv[1] == "--min":
        merge_min(sys.argv[2:-1], sys.argv[-1])
        return
    sf_dir, out_path = sys.argv[1], sys.argv[2]
    only = sys.argv[3].split(",") if len(sys.argv) > 3 else None

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from trading_etl_python_spark.suite import QUERIES

    times: dict[str, float] = {}
    names = [
        n
        for n in QUERIES
        if only is None or any(n.startswith(p) or n == p for p in only)
    ]
    # untimed warmup: the FIRST query of a session otherwise absorbs
    # JVM/codegen/parquet-footer warmup into its time (r10: the registry
    # head q_semdedup_capped read 7.69s in the sweep vs 0.90s warm —
    # the same artifact class the openvocab fixture fixed in r8)
    if names:
        try:
            QUERIES[names[0]](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:  # noqa: BLE001 - the timed loop records it
            pass
    for i, name in enumerate(names):
        t0 = time.time()
        try:
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            times[name] = round(time.time() - t0, 3)
            status = f"{times[name]:.2f}s"
        except Exception as exc:  # noqa: BLE001 - sweep records, not halts
            times[name] = -1.0
            status = f"ERR {type(exc).__name__}: {exc}"[:200]
        print(f"[{i + 1}/{len(names)}] {name}: {status}", flush=True)
    with open(out_path, "w") as fh:
        json.dump(times, fh, indent=1, sort_keys=True)
    errs = [k for k, v in times.items() if v < 0]
    print(f"\nwrote {out_path}: {len(times)} queries, {len(errs)} errors {errs}")


if __name__ == "__main__":
    main()
