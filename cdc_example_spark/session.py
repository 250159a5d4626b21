"""SparkSession factory.

Pins the session to the engine's determinism + performance contract:

- ``spark.sql.session.timeZone=UTC``: the reference stores TIMESTAMPTZ and
  serves Instants (reference ``V1__init.sql:3-4``, ``Message.kt:15-17``);
  Spark's TimestampType is UTC-normalized only if the session TZ is pinned.
- AQE on: runtime coalescing / skew-join handling at scale.
- Arrow on: every pandas_udf / applyInPandas crossing is Arrow-batched.
- ``parquet.nanosAsLong``: the driver's ``events`` table carries
  nanosecond timestamps which Spark's vectorized parquet reader rejects;
  we read them as raw int64 nanos and convert in the loader
  (see sources/catalog.py).
- ``spark.sql.codegen.cache.maxEntries`` sized to the engine's plan-shape
  working set (``CODEGEN_CACHE_ENTRIES``), so fresh re-submissions reuse
  their generated classes instead of recompiling them.

Static-conf precondition: the generated-class cache is built once per
JVM, when Spark's code generator is first used (normally the first code
compile), from whatever the session conf says then. A session built
elsewhere keeps Spark's 100 entries and thrashes on mixed workloads: the
driver's vanilla session that calls ``__spark_entry__``, or a JVM session
that already existed when ``get_spark``'s ``getOrCreate`` ran
(``getOrCreate`` does not re-apply static confs to a live session).
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Below this many input bytes the runtime profile flips to "small":
# graduated shuffle width and no AQE. Rationale (measured,
# BASELINE.md): at sf0.1 (~17 MB) a 32-partition shuffle is 32 tasks
# of ~3 ms — pure dispatch overhead — and AQE's per-stage re-planning
# rounds cost ~60 ms/query against ~40 ms of real work. At cluster
# scale both defaults are right: AQE coalescing IS the dynamic version
# of this profile, but its savings only materialize when stages are
# big enough to amortize the re-plan.
SMALL_INPUT_BYTES = 2 * 1024**3

# Entries in Spark's generated-class cache (spark.sql.codegen.cache.
# maxEntries, default 100). The 116 registered queries compile 1,835
# distinct classes at sf0.01 (scripts/codegen_working_set.py), so 4096
# keeps the whole plan-shape working set with ~2x headroom. At 100, the
# 8 batch_mix queries alone (119 classes) evicted what the next query
# needed, and every fresh Dataset.ofRows re-submission recompiled its
# classes (~3 s of compile per 10 s batch_mix window). Re-run the probe
# when queries are added.
CODEGEN_CACHE_ENTRIES = 4096


def scale_profile(sf_dir: str) -> dict[str, str]:
    """Runtime profile keyed on input scale, like any engine that sizes
    its parallelism to the data (DuckDB sizes to the machine; Spark's
    AQE re-sizes per stage). Statically picking the small profile for
    sub-GiB inputs avoids paying AQE's re-planning latency to discover
    what the input size already told us.

    Shuffle width is GRADUATED within the small profile (~one reducer
    per 8 MB of input, floor 4, cap at the core count): a flat 4 was
    measured right at sf0.1 (~17 MB — 32 reducers are pure dispatch
    overhead) but starves 32 cores once the same profile serves a
    ~200 MB input (scripts/bench_scaling.py k=10: q14's final distinct
    and q41's window sorts ran 4-wide on 6 M rows)."""
    try:
        total = sum(f.stat().st_size for f in Path(sf_dir).glob("*.parquet"))
    except OSError:
        total = SMALL_INPUT_BYTES
    if total and total < SMALL_INPUT_BYTES:
        width = max(4, min(DEFAULT_SHUFFLE_PARTITIONS, total // (8 * 1024**2)))
        return {
            "spark.sql.shuffle.partitions": str(width),
            "spark.sql.adaptive.enabled": "false",
            # sub-GiB shuffle blocks: LZ4 framing costs more than the
            # bytes it saves (measured ~10-20 ms/query at sf0.1)
            "spark.shuffle.compress": "false",
            "spark.shuffle.spill.compress": "false",
            # Constraint propagation is an optimizer-TIME cost paid per
            # plan (quadratic-ish in predicate count); its payoff —
            # inferred filters enabling extra pushdown/join pruning —
            # only materializes when scans are big enough to care. At
            # sf0.1 it is ~35 ms of the ~100 ms per-query planning
            # floor (measured −19% on floor-bound queries, no change
            # on mid-weight ones); at cluster scale the default stays
            # on, where inferred IsNotNulls prune real IO.
            "spark.sql.constraintPropagation.enabled": "false",
        }
    return {}


def get_spark(
    app_name: str = "cdc_example_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    On a real cluster, ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: the driver JVM IS the cluster — leaving it on the
        # 1 GiB default makes every bench number a GC benchmark. On a
        # real cluster spark-submit's --driver-memory overrides this.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # the UI's listener bus retains every stage/task across a
        # multi-hundred-stage session and slows job scheduling; an
        # embedded engine has no use for the web UI.
        .config("spark.ui.enabled", "false")
        # the JVM's native code cache (JIT-compiled machine code) grows
        # from its 240 MB default to 1 GB, and flushes cold methods when
        # full instead of stopping the JIT. Executors JIT the same
        # generated classes, so the cluster deployment sets both sides.
        # Recompiles of generated classes are governed by the codegen
        # cache size set below, not by this flag.
        .config("spark.driver.extraJavaOptions",
                "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing")
        .config("spark.executor.extraJavaOptions",
                "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 64k-row batches for Arrow transfer and the columnar cache:
        # analytics results/tables are narrow, so bigger batches cut
        # per-batch overhead without memory risk (default is 10k).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.inMemoryColumnarStorage.batchSize", "65536")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # naive parquet timestamps read as TimestampType (LTZ), not NTZ:
        # with the UTC session this is an exact relabel and keeps the
        # timestamp-function surface + scan pushdown (see sources/catalog.py).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # 128MB input splits: right-sized map tasks at 100TB; harmless locally.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    )
    if master is None and "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    elif master is not None:
        builder = builder.master(master)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
