"""Time the HEADLINE2 (stats/corpus) frozen group at an arbitrary SF dir —
the measured-scaling companion to bench.py (VERDICT r8 #4: the panel's
scale story must be measured, not argued from plan shape).

Usage: python tools/bench_headline2.py [sf_dir] [repeat] [query ...]
Prints one JSON line {"sf_dir", "repeat", "queries": {name: best_sec},
"queries_median": {...}, "load_before", "load_after"}.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    repeat = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    import __spark_entry__ as entrymod
    from bench import HEADLINE2
    from azure_medicine_data_engineering_spark.session import get_spark

    names = sys.argv[3:] or HEADLINE2
    qs = entrymod.queries()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        "amde-bench-headline2",
        master=f"local[{cpus}]",
        conf={
            "spark.sql.shuffle.partitions": cpus,
            "spark.ui.enabled": "false",
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"),
            "spark.sql.files.maxPartitionBytes": "8m",
        },
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JIT warm-up
    load_before = tuple(round(x, 2) for x in os.getloadavg())
    best: dict[str, float] = {}
    med: dict[str, float] = {}
    for name in names:
        runs = []
        for _ in range(max(1, repeat)):
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.time() - t0)
            for c in getattr(df, "_stage_caches", None) or []:
                c.unpersist()
        best[name] = round(min(runs), 2)
        med[name] = round(statistics.median(runs), 2)
    load_after = tuple(round(x, 2) for x in os.getloadavg())
    spark.stop()
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "repeat": repeat,
                "queries": best,
                "queries_median": med,
                "load_before": load_before,
                "load_after": load_after,
            }
        )
    )


if __name__ == "__main__":
    main()
