"""Steal-stamped per-query A/B timer (optimization round 15): like
tools/profile_query.py but stamps hypervisor steal%% (/proc/stat) around
EVERY repeat, so a co-tenant burst is visible per sample instead of
poisoning a whole arm (the round-14 adjudication rule, applied at repeat
grain). Prints one JSON line per query with [(sec, steal_pct), ...].

Usage: python tools/ab_steal.py [--repeat N] q [q...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def steal_snapshot():
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7], sum(vals)


def main() -> None:
    args = sys.argv[1:]
    repeat = 3
    names: list[str] = []
    it = iter(args)
    for a in it:
        if a == "--repeat":
            repeat = int(next(it))
        else:
            names.append(a)

    import __spark_entry__ as entrymod
    from azure_medicine_data_engineering_spark.session import get_spark

    qs = entrymod.queries()
    spark = get_spark(
        "amde-ab",
        master=f"local[{CPUS}]",
        conf={
            "spark.sql.shuffle.partitions": CPUS,
            "spark.ui.enabled": "false",
            "spark.sql.files.maxPartitionBytes": "8m",
        },
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").limit(1).collect()

    out = {}
    for name in names:
        fn = qs[name]
        samples = []
        for _ in range(repeat):
            s0 = steal_snapshot()
            t0 = time.time()
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            s1 = steal_snapshot()
            steal = (
                round(100.0 * (s1[0] - s0[0]) / (s1[1] - s0[1]), 2)
                if s1[1] > s0[1]
                else None
            )
            for c in getattr(df, "_stage_caches", None) or []:
                c.unpersist()
            samples.append((round(dt, 3), steal))
        out[name] = samples
        print(json.dumps({name: samples}), flush=True)
    print(json.dumps({"sf_dir": SF_DIR, "all": out}))
    spark.stop()


if __name__ == "__main__":
    main()
