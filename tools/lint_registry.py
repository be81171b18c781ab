"""Registry/docs consistency lint: every registry query must appear in
COVERAGE.md, every COVERAGE.md q_-mention must exist in the registry,
and the advertised counts must match reality.  Run in CI-style before a
round closes; exits non-zero on drift.

``--lazy`` additionally constructs EVERY registry query at sf0.001
under a Spark job group and fails if any Spark job ran during plan
CONSTRUCTION (the r11 VERDICT #3 class: an eager ``df.count()`` while
building the plan serializes an extra job per invocation and breaks
laziness).  Queries whose algorithms require bounded driver state at
build time (K k-means centroids, d quantize params, a 1-row query-
vector lookup) are enumerated in LAZY_ALLOW with the justification —
any NEW construction-time job must be deliberately added there, so the
class stays closed.

``--argmax`` (r12 VERDICT #5) scans every registry plan for max_by/
min_by aggregates carrying an array/map-typed value or ordering
expression — the ARCHITECTURE.md §4 skinny-argmax law, closed as a class:
a wide buffer forces SortAggregate, which sorts the whole
pre-aggregation stream WITH the payload (the r12 semdedup 50 GB spill
cliff).  Legit exceptions go in ARGMAX_ALLOW with the cardinality
argument spelled out."""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from trading_etl_python_spark.suite import ORACLES, QUERIES, TIERS

    cov = open(os.path.join(os.path.dirname(__file__), "..", "COVERAGE.md")).read()
    mentioned = set(re.findall(r"\bq_[a-z0-9_]+\b", cov))
    registry = set(QUERIES)
    # family rows may use brace ranges (q_sql_tpch_q{1..22}) — a
    # mention that is a proper prefix of a registry name covers it
    def documented(q: str) -> bool:
        return q in mentioned or any(
            q.startswith(m) and len(m) >= 10 for m in mentioned
        )

    missing_doc = sorted(q for q in registry if not documented(q))
    ghost_doc = sorted(
        m for m in mentioned
        if m not in registry and not any(q.startswith(m) for q in registry)
    )
    bad = False
    if missing_doc:
        print(f"NOT IN COVERAGE.md ({len(missing_doc)}): {missing_doc}")
        bad = True
    if ghost_doc:
        print(f"IN COVERAGE.md BUT NOT REGISTRY ({len(ghost_doc)}): {ghost_doc}")
        bad = True
    if len(QUERIES) != len(ORACLES):
        print(f"queries {len(QUERIES)} != oracles {len(ORACLES)}")
        bad = True
    # tier completeness and validity are asserted at suite import
    counts = {t: sum(1 for v in TIERS.values() if v == t)
              for t in ("production", "measurement", "demo")}
    print("tiers: " + ", ".join(f"{n} {t}" for t, n in counts.items()))
    m = re.search(r"Registry as of r\d+: (\d+) queries / (\d+)", cov)
    if m and (int(m.group(1)) != len(QUERIES) or int(m.group(2)) != len(ORACLES)):
        print(f"COVERAGE.md count {m.groups()} != actual {len(QUERIES)}")
        bad = True
    # r14 (r13 VERDICT #6): unused in-function imports.  Reverted
    # experiments kept leaving import residue (five dead
    # stream_state_partitions imports survived r13) that misrepresents
    # which builders use a knob — flag any function-local import whose
    # name is never referenced in the function body.
    dead = _unused_function_imports()
    if dead:
        print(f"UNUSED IN-FUNCTION IMPORTS ({len(dead)}):")
        for h in dead:
            print(f"  {h}")
        bad = True
    print(f"{len(registry)} registry, {len(mentioned)} documented, drift={'YES' if bad else 'no'}")
    return 1 if bad else 0


def _unused_function_imports() -> list[str]:
    """Scan the package for imports inside function bodies whose bound
    name is never used in that function's subtree."""
    import ast

    hits: list[str] = []
    pkg = os.path.join(
        os.path.dirname(__file__), "..", "trading_etl_python_spark"
    )
    for root, _dirs, files in os.walk(pkg):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            tree = ast.parse(open(path).read())
            for node in ast.walk(tree):
                if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                bound: dict[str, int] = {}
                for stmt in ast.walk(node):
                    if isinstance(stmt, ast.ImportFrom):
                        for a in stmt.names:
                            bound[a.asname or a.name] = stmt.lineno
                    elif isinstance(stmt, ast.Import):
                        for a in stmt.names:
                            bound[a.asname or a.name.split(".")[0]] = stmt.lineno
                if not bound:
                    continue
                used = {
                    n.id
                    for n in ast.walk(node)
                    if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
                }
                rel = os.path.relpath(path, os.path.join(pkg, ".."))
                for name, line in sorted(bound.items(), key=lambda kv: kv[1]):
                    if name not in used:
                        hits.append(f"{rel}:{line} {node.name}: import {name!r} unused")
    return hits


# Queries allowed to run jobs during plan CONSTRUCTION — each is
# bounded driver state intrinsic to the algorithm, never a full-input
# action like count()/collect()-of-rows:
#   - k-means centroid training (K vectors on the driver; Lloyd
#     iterations are inherently sequential jobs)
#   - per-dimension quantize params (d scalar pairs)
#   - the 1-row query-vector lookup for top-k/ANN probes
LAZY_ALLOW_REASONS = {
    "centroids": "k-means training: K centroid vectors on the driver",
    "quantize": "d per-dimension quantize params on the driver",
    "query_vec": "1-row query-vector lookup for the probe",
    "dim_probe": "1-row embedding-width probe",
    "sketch": "bounded sketch state (bloom bits) collected for broadcast",
    "iterative": "driver-side convergence/greedy loop (inherently eager)",
    "barrier": "deliberate lineage barrier on a bounded intermediate",
    "materialize": "query materializes its own artifact before reading it",
}


# Reader schema-inference/metadata jobs: Spark runs ONE tiny job per
# spark.read.<format>(path) to read the footer/first-file schema; the
# stage callsite is the reader itself.  These are unavoidable bounded
# metadata I/O, not the eager-action class the lint hunts (count/
# collect/save at plan-build time show action callsites or the AQE
# $anonfun stage instead).
_READER_STAGE_PREFIXES = (
    "parquet at ", "json at ", "csv at ", "orc at ", "text at ",
    "binaryFile at ", "load at ",
)


def lint_lazy() -> int:
    """Construct every registry query at sf0.001; fail on any non-
    metadata Spark job during construction unless the query is
    explicitly allowlisted."""
    from trading_etl_python_spark.session import get_spark
    from trading_etl_python_spark.suite import QUERIES

    allow = _load_lazy_allow()
    sf = os.environ.get("SPARK_GRAFT_LINT_SF", "/root/testdata/sf0.001")
    spark = get_spark("lint-lazy")
    sc = spark.sparkContext
    st = sc.statusTracker()

    def eager_jobs(job_ids):
        out = []
        for j in job_ids:
            ji = st.getJobInfo(j)
            stages = [st.getStageInfo(s) for s in (ji.stageIds if ji else [])]
            names = [s.name for s in stages if s is not None]
            if names and all(n.startswith(_READER_STAGE_PREFIXES) for n in names):
                continue  # schema-inference metadata job
            out.append((j, sorted({n.split(" at ")[0] for n in names}) or ["?"]))
        return out

    eager, errors = {}, {}
    for name in sorted(QUERIES):
        group = f"lint-lazy-{name}"
        sc.setJobGroup(group, "plan construction must be lazy")
        try:
            QUERIES[name](spark, sf)
            jobs = eager_jobs(st.getJobIdsForGroup(group))
        except Exception as exc:  # construction itself must not raise
            errors[name] = repr(exc)[:200]
            jobs = []
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        if jobs and name not in allow:
            kinds = sorted({k for _, ks in jobs for k in ks})
            eager[name] = f"{len(jobs)} jobs: {','.join(kinds)}"
    bad = False
    if errors:
        print(f"CONSTRUCTION ERRORS ({len(errors)}): {errors}")
        bad = True
    if eager:
        print(f"EAGER AT CONSTRUCTION ({len(eager)}, not in LAZY_ALLOW): {eager}")
        bad = True
    stale_allow = sorted(q for q in allow if q not in QUERIES)
    if stale_allow:
        print(f"LAZY_ALLOW ENTRIES NOT IN REGISTRY: {stale_allow}")
        bad = True
    print(
        f"lazy lint: {len(QUERIES)} constructed, {len(allow)} allowlisted, "
        f"{len(eager)} eager, {len(errors)} errors"
    )
    spark.stop()
    return 1 if bad else 0


# Queries allowed to carry an array/map-typed max_by/min_by buffer —
# the ARCHITECTURE.md §4 skinny-argmax law says there should be NONE (a wide
# payload in a sort-aggregated argmax buffer is the semdedup 50 GB
# spill cliff); any future entry here needs the cardinality argument
# written next to it (e.g. "group count is bounded by K, not data").
ARGMAX_ALLOW: dict[str, str] = {}


def _expr_trees(flat: list) -> list:
    """Rebuild expression trees from Catalyst's flattened pre-order
    JSON (each node carries num-children; children follow in order)."""
    pos = [0]

    def take():
        node = dict(flat[pos[0]])
        pos[0] += 1
        node["_children"] = [take() for _ in range(node.get("num-children", 0))]
        return node

    roots = []
    while pos[0] < len(flat):
        roots.append(take())
    return roots


def _subtree_touches_wide(node: dict) -> bool:
    """True if any node in the expression subtree is array/map-typed —
    the 'wide payload' of the skinny-argmax law (ARCHITECTURE.md §4).
    Catalyst JSON writes simple types as strings ("double") and complex
    types as nested dicts ({"type": "array", ...}); a struct hiding an
    array deep inside is still wide, so the dict form is searched
    recursively."""
    import json as _json

    dt = node.get("dataType", "")
    s = dt if isinstance(dt, str) else _json.dumps(dt)
    if s.startswith(("array", "map")) or '"array"' in s or '"map"' in s:
        return True
    return any(_subtree_touches_wide(c) for c in node["_children"])


def _wide_argmax_hits(plan_json: str) -> list[str]:
    """Scan one optimized logical plan (Catalyst toJSON) for MaxBy/MinBy
    aggregates whose value OR ordering subtree touches an array/map
    type.  Both halves ride the aggregation buffer through the
    SortAggregate, so either one reproduces the r12 spill cliff."""
    import json as _json

    hits: list[str] = []

    def walk_field(v):
        if isinstance(v, list) and v and isinstance(v[0], dict) and "class" in v[0]:
            for tree in _expr_trees(v):
                stack = [tree]
                while stack:
                    n = stack.pop()
                    cls = n.get("class", "")
                    if cls.endswith((".MaxBy", ".MinBy")) and any(
                        _subtree_touches_wide(c) for c in n["_children"]
                    ):
                        hits.append(cls.rsplit(".", 1)[-1])
                    stack.extend(n["_children"])
        elif isinstance(v, list):
            for item in v:
                walk_field(item)

    for op in _json.loads(plan_json):
        for key, val in op.items():
            if key != "class":
                walk_field(val)
    return hits


def lint_argmax() -> int:
    """Construct every registry query at sf0.001 and fail if any plan
    aggregates a wide (array/map) payload through max_by/min_by — the
    r12 semdedup memory cliff (ARCHITECTURE.md §4), closed as a CLASS
    (r12 VERDICT #5): the buffer forces SortAggregate, which sorts the
    full pre-aggregation stream WITH the payload; at a product-term
    cardinality that is a spill cliff, invisible at test SFs."""
    from trading_etl_python_spark.session import get_spark
    from trading_etl_python_spark.suite import QUERIES

    sf = os.environ.get("SPARK_GRAFT_LINT_SF", "/root/testdata/sf0.001")
    spark = get_spark("lint-argmax")
    wide, errors = {}, {}
    for name in sorted(QUERIES):
        try:
            df = QUERIES[name](spark, sf)
            hits = _wide_argmax_hits(
                df._jdf.queryExecution().optimizedPlan().toJSON()
            )
        except Exception as exc:
            errors[name] = repr(exc)[:200]
            hits = []
        if hits and name not in ARGMAX_ALLOW:
            wide[name] = hits
    bad = False
    if errors:
        print(f"ARGMAX LINT CONSTRUCTION ERRORS ({len(errors)}): {errors}")
        bad = True
    if wide:
        print(f"WIDE ARGMAX BUFFERS ({len(wide)}, not in ARGMAX_ALLOW): {wide}")
        bad = True
    stale = sorted(q for q in ARGMAX_ALLOW if q not in QUERIES)
    if stale:
        print(f"ARGMAX_ALLOW ENTRIES NOT IN REGISTRY: {stale}")
        bad = True
    print(
        f"argmax lint: {len(QUERIES)} plans scanned, {len(ARGMAX_ALLOW)} allowlisted, "
        f"{len(wide)} wide, {len(errors)} errors"
    )
    spark.stop()
    return 1 if bad else 0


def _load_lazy_allow() -> dict[str, str]:
    """The allowlist lives next to this lint as a plain dict literal so
    additions show up in diffs: query name -> reason key."""
    from tools._lazy_allow import LAZY_ALLOW

    unknown = {q: r for q, r in LAZY_ALLOW.items() if r not in LAZY_ALLOW_REASONS}
    if unknown:
        raise SystemExit(f"LAZY_ALLOW reasons not in LAZY_ALLOW_REASONS: {unknown}")
    return LAZY_ALLOW


if __name__ == "__main__":
    rc = main()
    if "--lazy" in sys.argv:
        rc = lint_lazy() or rc
    if "--argmax" in sys.argv:
        rc = lint_argmax() or rc
    raise SystemExit(rc)
