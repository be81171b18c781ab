"""Ratchet the canonical headline minima reference DOWN from a bench
series (bench.py reads sweeps/headline_minima.json as its noise-rescue
reference; this tool is the only writer).

Reads one or more files of bench.py result lines (``python bench.py >>
runs.jsonl``; a .json file holds one result), takes each query's minimum
across every run found, and lowers — never raises — the stored reference.
Raising a reference (a semantics or protocol re-anchor) is a deliberate
manual edit with a note in the file's _protocol field, per BASELINE.md.

Usage: python tools/ratchet_minima.py runs.jsonl [...]
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REF = os.path.join(REPO, "sweeps", "headline_minima.json")


def main(paths: list[str]) -> None:
    ref = json.load(open(REF))
    best: dict[str, float] = {}
    for p in paths:
        with open(p) as f:
            text = f.read()
        recs = (
            [json.loads(ln) for ln in text.splitlines() if ln.strip().startswith("{")]
            if p.endswith(".jsonl")
            else [json.loads(text)]
        )
        for rec in recs:
            for q, t in (rec.get("queries") or {}).items():
                if isinstance(t, (int, float)) and (q not in best or t < best[q]):
                    best[q] = t
    lowered = {}
    for q, t in best.items():
        cur = ref.get(q)
        if isinstance(cur, (int, float)) and t < cur:
            lowered[q] = {"was": cur, "now": round(t, 3)}
            ref[q] = round(t, 3)
    json.dump(ref, open(REF, "w"), indent=1, sort_keys=True)
    print(json.dumps({"lowered": lowered, "n_runs_queries": len(best)}))


if __name__ == "__main__":
    main(sys.argv[1:])
