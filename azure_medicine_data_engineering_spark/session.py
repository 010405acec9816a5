"""SparkSession factory with scale-oriented defaults.

The reference delegates all session management to Databricks (cluster id in
``linkedService/AzureDatabricks1.json:14``); here the session is explicit and
tuned for both local testing and large-cluster deployment.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

#: Defaults applied to every session. At cluster scale AQE re-plans shuffle
#: partition counts at runtime, so ``spark.sql.shuffle.partitions`` is only the
#: initial value; locally it keeps task counts sane.
DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 128 MiB input splits — keeps scan partitions memory-safe at 100 TB.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Optimization round 15 (guide §6 small-files): pack small files into
    # shared scan partitions instead of one task per file. The 4 MiB
    # default models cloud-object-store open latency and forced every
    # landed-artifact re-ingest (shard tars, ARPA/SQ8 shards, streaming
    # state partials) into hundreds of one-file tasks — the curated-WDS
    # manifest re-ingest measured 4.1 s -> 0.8 s at sf0.1 with packing.
    # 64 KiB keeps the packing win while staying honest about per-file
    # open cost at 100 TB, where real shard files are 100 MB+ and the
    # size term dominates packing anyway (override via conf for object
    # stores with pathological open latency).
    "spark.sql.files.openCostInBytes": "65536",
    # Broadcast joins for dimension tables (region/nation/supplier-sized).
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Optimization round 15 (guide §3.1/§9): allow shuffled-hash joins when
    # the planner's size conditions hold (per-partition build side fits in
    # memory) instead of always sort-merge — the KN/model star joins are
    # many keyed joins of model-grain tables where the two sorts per join
    # are pure overhead. At 100 TB the size conditions fail for fact-scale
    # sides and the planner falls back to sort-merge on its own, so this is
    # scale-adaptive, not a local[32] tune; AQE can additionally rewrite a
    # planned SMJ to SHJ at runtime when every post-shuffle partition is
    # under the threshold below.
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64m",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.shuffle.partitions": "32",
    # Session-wide policy, declared here rather than flipped as a side effect
    # inside table accessors: parquet INT64 TIMESTAMP(NANOS) columns (the
    # events table) are read as raw nanos longs and truncated to micros by
    # the reader (queries/registry.py:events_table). Spark 4 otherwise
    # rejects the type outright (PARQUET_TYPE_ILLEGAL).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # No Python call-site capture per Column call. With the PySpark default
    # (true) every F.*/Column call pays ~5 extra py4j round trips (active
    # session, the origin object, the stack-depth conf, set, clear) to
    # record its Python call site for error context. Building a 118-column
    # CleaningSpec projection took ~43 round trips per output column
    # instead of ~10, and the clinical benchmark's three cleaning builds
    # took 1.1-1.4 s instead of 0.45-0.48 s (4 vCPUs). Analysis errors still
    # name the offending column; only the Python file/line is lost.
    # PySpark caches this value process-wide on first use, so it only
    # takes effect when the session is built: to debug with call sites,
    # pass {"spark.python.sql.dataFrameDebugging.enabled": "true"} to
    # get_spark(conf=...), not spark.conf.set later.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Keep a session's generated classes compiled across passes. Spark
    # caches its Janino-compiled whole-stage/expression classes in one
    # JVM-wide LRU cache of this many entries (default 100). A pass of the
    # nine lineitem analytics queries generates 215-224 distinct classes and
    # a clinical pass 118, so at 100 the LRU cycles and a repeated pass
    # recompiles nearly all of them (174 per lineitem pass, 92 per clinical
    # pass; 7-10 ms each in Janino, after which HotSpot interprets the fresh
    # classes again). At 1000: 0 and 6. Guava splits the size over 4
    # segments, each LRU on its own, so a segment thrashes once it holds more
    # than a quarter of the size: the size must be several times the working
    # set (256, 64 per segment, held the 215-class lineitem pass on three
    # seeds with ~54 classes per segment on average, no margin for a second
    # workload; 1000 is ~4.5x the largest pass). A full 1000-entry cache
    # retains ~3.6 MB more metaspace and ~0.7 MB more compressed class space
    # than 100 (1,200 distinct tiny queries, measured after a GC).
    # Static conf: it only takes effect when the session (JVM) is built, so
    # override it via get_spark(conf=...), not spark.conf.set later.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def get_spark(
    app_name: str = "azure_medicine_data_engineering_spark",
    master: str | None = None,
    conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` is only set when given — on a real cluster the deploy
    environment provides it; tests pass ``local[N]``.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    merged = {**DEFAULT_CONF, **(conf or {})}
    for k, v in merged.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_parallelism(df, min_fraction: float = 0.5):
    """Repartition a DataFrame whose partition count is far below the
    cluster's core count — e.g. a small/single-file scan feeding a
    CPU-heavy per-row expression (hashing, decoding). At scale the scan
    already has enough splits and this is a no-op."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(1, int(target * min_fraction)):
        return df.repartition(target)
    return df


def ensure_utc(spark: SparkSession) -> SparkSession:
    """Pin the session timezone to UTC so timestamp arithmetic (windows,
    ``date_trunc``, ``hour``) is deterministic and oracle-comparable."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
