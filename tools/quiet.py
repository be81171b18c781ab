"""Warm+quiet minimum-of-N re-measure for specific registry queries
(e.g. q_embed_neardup, whose r9 7.44x this protocol settled as a
cold-single-sample artifact).

One session; per (query, sf_dir): one untimed warmup pass, then N timed
passes (noop write, same execution protocol as tools/sweep.py); report
all runs + the min.  Minimum-of-quiet-warm-runs is the only admissible
scaling evidence (BASELINE.md r9 protocol; memory: single samples are
inadmissible).

Usage:
    python tools/quiet.py out.json q_a,q_b sf_dir1 [sf_dir2 ...] [--runs N]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = list(sys.argv[1:])
    runs = 3
    if "--runs" in args:
        i = args.index("--runs")
        runs = int(args[i + 1])
        del args[i : i + 2]
    out_path, names = args[0], args[1].split(",")
    sf_dirs = args[2:]

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from trading_etl_python_spark.operators.indicators import indicator_table
    from trading_etl_python_spark.sources.tables import bars
    from trading_etl_python_spark.suite import QUERIES

    def noop(name: str, sf_dir: str) -> None:
        # "indicators_full" = the bench.py flagship (21-column composed
        # indicator table), not a registry entry — same noop protocol
        if name == "indicators_full":
            df = indicator_table(bars(spark, sf_dir), warmup=26)
        else:
            df = QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()

    out: dict[str, dict[str, dict]] = {}
    for name in names:
        out[name] = {}
        for sf_dir in sf_dirs:
            noop(name, sf_dir)  # untimed warmup
            ts = []
            for _ in range(runs):
                t0 = time.time()
                noop(name, sf_dir)
                ts.append(round(time.time() - t0, 3))
            out[name][sf_dir] = {"runs": ts, "min": min(ts)}
            print(name, sf_dir, ts, flush=True)
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
