"""Measure the engine's generated-class working set.

    python scripts/codegen_working_set.py SF_DIR   # e.g. a directory of sf0.01 tables

Runs every registered query once cold on an engine session, then one
fresh ``Dataset.ofRows`` re-submission pass in the same order. Prints
the classes compiled cold and the classes recompiled on the fresh pass,
and exits 1 if the fresh pass recompiled any: then the working set no
longer fits ``session.CODEGEN_CACHE_ENTRIES``. Re-run it when queries
are added.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    if len(sys.argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    from pyspark.sql import DataFrame

    from cdc_example_spark.queries import all_queries
    from cdc_example_spark.session import CODEGEN_CACHE_ENTRIES, get_spark, scale_profile

    sf_dir = sys.argv[1]
    spark = get_spark("codegen-working-set", extra_conf=scale_profile(sf_dir))
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    dataset = spark._jvm.org.apache.spark.sql.classic.Dataset
    queries = all_queries()

    c0 = compiled.getCount()
    prepared = []
    for q in queries.values():
        df = q.spark(spark, sf_dir)
        df.toArrow()
        prepared.append(df)
    c1, t = compiled.getCount(), time.perf_counter()
    for df in prepared:
        jdf = df._jdf
        DataFrame(dataset.ofRows(jdf.sparkSession(), jdf.queryExecution().logical()), spark).toArrow()
    c2, fresh_s = compiled.getCount(), time.perf_counter() - t
    spark.stop()

    print(f"{len(queries)} queries at {sf_dir}: {c1 - c0} classes compiled cold, "
          f"{c2 - c1} recompiled on the fresh pass ({fresh_s:.1f} s; cache: "
          f"{CODEGEN_CACHE_ENTRIES} entries)")
    return 1 if c2 > c1 else 0


if __name__ == "__main__":
    sys.exit(main())
