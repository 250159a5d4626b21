"""Generated-class cache sizing (session.CODEGEN_CACHE_ENTRIES).

A fresh ``Dataset.ofRows`` re-submission re-plans a query and emits the
same generated source as its previous run, so it should hit Spark's
generated-class cache instead of recompiling. At Spark's default of 100
entries the 8 batch_mix queries evict each other's classes on every
round-robin pass; the engine's session sizes the cache to the whole plan
working set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# perfbench's batch_mix set (perfbench/config.json)
BATCH_MIX = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_customers_without_orders",
    "q09_top3_per_nation",
    "q40_grouping_sets",
    "q45_subqueries",
    "q19_sessionization",
    "q85_wav_audio_stats",
]


def test_fresh_resubmission_pass_recompiles_no_classes(spark, sf_dir):
    from cdc_example_spark.queries import all_queries

    jvm = spark._jvm
    compiled = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    dataset = jvm.org.apache.spark.sql.classic.Dataset
    registry = all_queries()

    def fresh_pass(prepared):
        for df in prepared:
            jdf = df._jdf
            DataFrame(dataset.ofRows(jdf.sparkSession(), jdf.queryExecution().logical()), spark).toArrow()

    # AQE off, as in the engine's small-input profile (scale_profile):
    # AQE re-plans from whichever stages finished first, so with it on a
    # fresh run can meet a plan variant, and classes, no earlier run made.
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        prepared = [registry[name].spark(spark, sf_dir) for name in BATCH_MIX]
        # the first pass is a fresh submission too, so it is planned under
        # this conf even when the registry memo holds an earlier test's plan
        fresh_pass(prepared)
        before = compiled.getCount()
        fresh_pass(prepared)
        recompiled = compiled.getCount() - before
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert recompiled == 0, f"fresh pass recompiled {recompiled} generated classes"
