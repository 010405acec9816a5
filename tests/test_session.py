"""Session defaults that are only observable on the running JVM."""


def _compile_count(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_a_pass(spark):
    """A repeated pass of ~160 generated classes compiles nothing the second
    time: the session's codegen cache (spark.sql.codegen.cache.maxEntries)
    holds more than one pass's working set. At Spark's default of 100 the
    LRU cycles and the second pass recompiles every class."""

    def one_pass():
        for i in range(80):
            x = f"id * {i + 7} + {i + 1013} AS x"
            spark.range(10).selectExpr(x).where(f"x > {i}").collect()

    before = _compile_count(spark)
    one_pass()
    first = _compile_count(spark)
    assert first - before >= 150, "the pass must outgrow Spark's default 100"
    one_pass()
    assert _compile_count(spark) == first
