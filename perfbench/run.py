#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Prints every measured metric as
``name value unit``, then, as the last line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Exits 1 when an output check fails, 2 when the package is missing.
Everything the run writes goes under ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("backfill_serve_ingest", "corpus_graph")
END_TO_END = (("setup_s", "s"), ("peak_rss_mb", "MB"), ("work_s", "s"))
_SUITE = ("q_corpus_pipeline", "q_corpus_full", "q_dedup_clusters", "q_pagerank", "q_communities")
PER_LAYER = (
    ("session.get_spark_s", "s"),
    *((f"{layer}.self_s", "s") for layer in ("session", "sources", "operators", "streaming", "sinks", "jobs", "suite")),
    ("trace.work_s", "s"),
    ("trace.spans", "count"),
    ("backfill_s", "s"),
    ("latest_p50_ms", "ms"),
    ("range_p50_ms", "ms"),
    ("stream_ticks_per_s", "1/s"),
    ("trigger_p50_ms", "ms"),
    ("sweep_s", "s"),
    ("operators.indicator_table_s", "s"),
    ("operators.indicator_table_build_s", "s"),
    ("sinks.upsert_ignore_s", "s"),
    ("sinks.files_written", "count"),
    ("sinks.bytes_written", "B"),
    ("jobs.latest_build_ms", "ms"),
    ("jobs.latest_collect_ms", "ms"),
    ("jobs.range_build_ms", "ms"),
    ("jobs.range_collect_ms", "ms"),
    ("jobs.range_rows", "count"),
    ("jobs.read_spark_jobs", "count"),
    ("streaming.state_op_ms", "ms"),
    ("sinks.stream_upsert_ms", "ms"),
    ("streaming.add_batch_ms", "ms"),
    ("streaming.query_planning_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"),
    ("streaming.state_commit_ms", "ms"),
    ("streaming.spark_jobs_per_trigger", "count"),
    ("streaming.state_rows", "count"),
    ("streaming.state_mem_bytes", "B"),
    ("sinks.stream_files_written", "count"),
    *(
        (f"suite.{q}.{m}", u)
        for q in _SUITE
        for m, u in (("build_s", "s"), ("build_jobs", "count"), ("exec_s", "s"), ("exec_jobs", "count"), ("catalyst_ms", "ms"))
    ),
    ("suite.build_share", "ratio"),
)


def _environment(work_dir: str) -> None:
    """Keep every file the JVM, Spark and Python workers write inside
    the run's directory; set before pyspark starts the JVM."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    # spark-submit's launcher JVM would write its perf data under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            # the heap is fixed and touched up front, so the JVM's resident
            # size does not swing with when garbage collection runs
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms1g -XX:+AlwaysPreTouch'",
            f"--conf spark.sql.warehouse.dir={os.path.join(work_dir, 'warehouse')}",
            # job records must outlive the run: spans' jobs are counted at its end
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.sql.ui.retainedExecutions=100000",
            "pyspark-shell",
        ]
    )


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # a run measures one fixed unit of work per workload, which lasts
    # longer than the 10 s the benchmark asks for on a 4-core machine
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "trading_etl_python_spark")):
        print(f"package trading_etl_python_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.harness import Run

    run = Run(ROOT, args.workload, args.seed, bool(args.trace))
    _environment(run.work_dir)
    from perfbench import corpus, spans, ticks
    workload = ticks if args.workload == "backfill_serve_ingest" else corpus
    memory = spans.TreeMemory()
    try:
        get_spark_s = run.start_spark()
        session_s = time.perf_counter() - T0
        # sampled from here on: the launcher JVM that spark-submit runs
        # before the driver JVM has exited by now
        with memory:
            prep = workload.setup(run)
            run.put("setup_s", session_s + statistics.median(prep), "s")
            workload.work(run)
            workload.check(run)
            if run.trace and "work_s" in run.metrics:
                _layers(run, workload, get_spark_s)
    finally:
        run.stop_spark(memory)
        run.cleanup()
    run.put("peak_rss_mb", memory.peak / 2**20, "MB")

    for name, (value, unit) in run.metrics.items():
        print(f"{name} {value} {unit}")
    wanted = PER_LAYER if run.trace else END_TO_END
    out = {
        "correct": not run.problems and "work_s" in run.metrics,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            name: {"value": run.metrics.get(name, (0, unit))[0], "unit": unit} for name, unit in wanted
        },
    }
    print(json.dumps(out))
    return 0 if out["correct"] else 1


def _layers(run, workload, get_spark_s: float) -> None:
    t = run.tracer
    t.finish(run.spark)
    out = os.path.join(ROOT, ".bench_work", "spans")
    os.makedirs(out, exist_ok=True)
    t.dump(os.path.join(out, f"{run.workload}-seed{run.seed}.json"))
    run.put("session.get_spark_s", get_spark_s, "s")
    for layer, s in t.self_times().items():
        run.put(f"{layer}.self_s", s, "s")
    run.put("session.self_s", get_spark_s, "s")  # get_spark runs before any span
    run.put("trace.work_s", run.metrics["work_s"][0], "s")
    run.put("trace.spans", len(t.spans), "count")
    # the extra layer measurements below must not add spans to the above
    t.enabled = False
    workload.layer_metrics(run)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
