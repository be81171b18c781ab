"""Workload ``corpus_graph``: five suite queries whose time goes mostly to
Spark jobs fired while the DataFrame is built (gates, eager
checkpoints, convergence collects), in one sweep.  Each query is
collected to the driver, which executes its whole plan as the ``noop``
sink would; the results (at most 500 rows) are what the check compares.

The inputs are fixed: the seed-42 synthetic tables at scale 0.01
(``data/sf0.01``), so ``--seed`` does not change them.  The output
check compares each query with its DuckDB oracle (``suite.ORACLES``)
by ``tools/check_correctness.compare``.  The oracle results are
computed once and kept in ``oracles/`` with their canonical hashes;
recompute them with

    python3 perfbench/corpus.py --recompute-oracles
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")
ORACLE_DIR = os.path.join(HERE, "oracles")
QUERIES = ("q_corpus_pipeline", "q_corpus_full", "q_dedup_clusters", "q_pagerank", "q_communities")
TABLES = ("documents", "lineitem", "orders", "customer", "supplier")


def canonical_hash(df) -> str:
    """sha256 over column names, physical type classes and the sorted,
    canonical values (``check_correctness.canon``)."""
    import pandas as pd

    from tools.check_correctness import canon, dtype_sig

    h = hashlib.sha256()
    for c in sorted(df.columns):
        h.update(f"{c}:{dtype_sig(df[c])};".encode())
    h.update(pd.util.hash_pandas_object(canon(df), index=False).to_numpy().tobytes())
    return h.hexdigest()


def load_oracle(name: str):
    import pandas as pd

    return pd.read_parquet(os.path.join(ORACLE_DIR, f"{name}.parquet"))


def recompute_oracles() -> None:
    import duckdb

    from tools.check_correctness import compare
    from trading_etl_python_spark.suite import ORACLES

    os.makedirs(ORACLE_DIR, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    hashes = {}
    for q in QUERIES:
        start = time.perf_counter()
        odf = con.sql(ORACLES[q]).df()
        path = os.path.join(ORACLE_DIR, f"{q}.parquet")
        odf.to_parquet(path, index=False)
        if compare(q, load_oracle(q), odf):
            raise RuntimeError(f"{q}: oracle does not survive a parquet round trip")
        hashes[q] = canonical_hash(odf)
        print(f"{q}: {len(odf)} rows, {time.perf_counter() - start:.1f}s", flush=True)
    with open(os.path.join(ORACLE_DIR, "hashes.json"), "w") as fh:
        json.dump(hashes, fh, indent=1, sort_keys=True)
        fh.write("\n")


def setup(run) -> list[float]:
    """Copy the fixed tables into the run's directory (three times, the
    repeatable set-up)."""
    took = []
    sf = run.path("sf0.01")
    for _ in range(3):
        start = time.perf_counter()
        shutil.rmtree(sf, ignore_errors=True)
        os.makedirs(sf)
        for t in TABLES:
            shutil.copyfile(os.path.join(DATA, f"{t}.parquet"), os.path.join(sf, f"{t}.parquet"))
        took.append(time.perf_counter() - start)
    return took


def check(run) -> None:
    """Compare the first timed sweep's results with the stored oracles."""
    from tools.check_correctness import compare

    with open(os.path.join(ORACLE_DIR, "hashes.json")) as fh:
        hashes = json.load(fh)
    for q in QUERIES:
        if q not in run.results:
            run.check([f"{q}: no result"])
            continue
        odf = load_oracle(q)
        if canonical_hash(odf) != hashes.get(q):
            run.check([f"{q}: stored oracle does not match its canonical hash"])
            continue
        run.check([f"{q}: {p}" for p in compare(q, run.results[q], odf)])


def _instrument(run) -> None:
    from trading_etl_python_spark.operators import curation, dedup, graph
    from trading_etl_python_spark.suite import extensions

    t = run.tracer
    t.instrument(extensions, "sources", ["load_table"])
    t.instrument(curation, "operators", ["curate_corpus", "curate_corpus_full"])
    t.instrument(dedup, "operators", ["dedup_clusters", "ngram_jaccard_pairs"])
    t.instrument(graph, "operators", ["pagerank", "label_propagation"])


def _catalyst_ms(df) -> float:
    """Analysis + optimization + planning of ``df``'s own plan, read from
    its QueryExecution tracker after forcing the physical plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return float(
        sum(phases.get(k).get().durationMs() for k in ("analysis", "optimization", "planning") if phases.contains(k))
    )


def work(run) -> None:
    """One sweep, the process's first: it pays the cold start (Python
    workers, code generation) that a fresh batch process pays."""
    from trading_etl_python_spark.suite import QUERIES as REGISTRY

    _instrument(run)
    t = run.tracer
    sf = run.path("sf0.01")
    run.catalyst = {}
    run.results = {}
    sweep = 0.0
    for q in QUERIES:

        def one(q=q):
            with t.span(f"suite.{q}.build") as sb:
                df = REGISTRY[q](run.spark, sf)
            if t.enabled:
                run.catalyst[q] = _catalyst_ms(df)
            with t.span(f"suite.{q}.exec") as se:
                pdf = df.toPandas()
            return pdf, sb, se

        out, took = run.op(one)
        if out is not None:
            sweep += took
            run.results[q] = out[0]
    if len(run.results) == len(QUERIES):
        run.put("sweep_s", sweep, "s")
        run.put("work_s", sweep, "s")


def layer_metrics(run) -> None:
    t = run.tracer
    build_total = exec_total = 0.0
    for q in QUERIES:
        (b,) = t.named(f"suite.{q}.build")
        (e,) = t.named(f"suite.{q}.exec")
        build_total += b["end"] - b["start"]
        exec_total += e["end"] - e["start"]
        run.put(f"suite.{q}.build_s", b["end"] - b["start"], "s")
        run.put(f"suite.{q}.build_jobs", t.jobs_under(b), "count")
        run.put(f"suite.{q}.exec_s", e["end"] - e["start"], "s")
        run.put(f"suite.{q}.exec_jobs", t.jobs_under(e), "count")
        run.put(f"suite.{q}.catalyst_ms", run.catalyst[q], "ms")
    run.put("suite.build_share", build_total / (build_total + exec_total), "ratio")


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(HERE))
    if sys.argv[1:] != ["--recompute-oracles"]:
        sys.exit("usage: python3 perfbench/corpus.py --recompute-oracles")
    recompute_oracles()
