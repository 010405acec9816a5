"""Per-query optimization profiler (round 15): for each named query, dump
`.explain("formatted")` to plans/r16/<name>_<tag>.txt and time the noop-sink
execution (guide §1.1/§1.4), with the job labelled (§1.5). Per run it also
records how many classes Spark's codegen compiled (`codegen_compiles`) and
the Janino compile time they took (`codegen_ms`), so a codegen-cache thrash
shows up as compiles on the repeat runs rather than as unexplained wall time.

Usage: python tools/profile_query.py [--tag before|after] [--repeat N] q [q...]
"""

from __future__ import annotations

import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    args = sys.argv[1:]
    tag = "before"
    repeat = 2
    names: list[str] = []
    it = iter(args)
    for a in it:
        if a == "--tag":
            tag = next(it)
        elif a == "--repeat":
            repeat = int(next(it))
        else:
            names.append(a)

    import __spark_entry__ as entrymod
    from azure_medicine_data_engineering_spark.session import get_spark

    qs = entrymod.queries()
    spark = get_spark(
        "amde-profile",
        master=f"local[{CPUS}]",
        conf={
            "spark.sql.shuffle.partitions": CPUS,
            "spark.ui.enabled": "false",
            "spark.sql.files.maxPartitionBytes": "8m",
        },
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    os.makedirs(os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", "r16"), exist_ok=True)
    outdir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", "r16")

    jvm = spark._jvm
    generator = jvm.org.apache.spark.sql.catalyst.expressions.codegen \
        .CodeGenerator
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()

    results = {}
    codegen_compiles = {}
    codegen_ms = {}
    for name in names:
        fn = qs.get(name)
        if fn is None:
            print(f"SKIP unknown {name}")
            continue
        runs, n_compiles, compile_ms = [], [], []
        for i in range(repeat):
            spark.sparkContext.setJobDescription(f"{name} [{tag} run{i}]")
            c0, ns0 = compiles.getCount(), generator.compileTime()
            t0 = time.time()
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            runs.append(round(time.time() - t0, 3))
            n_compiles.append(compiles.getCount() - c0)
            compile_ms.append(
                round((generator.compileTime() - ns0) / 1e6, 1)
            )
            if i == 0:
                buf = io.StringIO()
                with redirect_stdout(buf):
                    df.explain("formatted")
                with open(os.path.join(outdir, f"{name}_{tag}.txt"), "w") as fh:
                    fh.write(buf.getvalue())
            for c in getattr(df, "_stage_caches", None) or []:
                c.unpersist()
            spark.sparkContext.setJobDescription(None)
        results[name] = runs
        codegen_compiles[name] = n_compiles
        codegen_ms[name] = compile_ms
        print(f"{name}: {runs} compiles={n_compiles} codegen_ms={compile_ms}")
    print(json.dumps({
        "tag": tag, "sf_dir": SF_DIR, "times": results,
        "codegen_compiles": codegen_compiles, "codegen_ms": codegen_ms,
    }))


if __name__ == "__main__":
    main()
