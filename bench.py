"""Benchmark harness: times every registered query at $SPARK_GRAFT_SF_DIR.

Prints a full-detail JSON line, then a COMPACT summary JSON line LAST:
    {"metric": "suite_total_sec", "value": <total sec>, "unit": "sec",
     "queries": {"q01": sec, ...}, "n_queries": N, ..., "sf": 0.1}
The final line is the driver's contract line; it is kept under ~2 kB
(qNN-prefix query keys) so a bounded stdout tail always contains a
complete, parseable record — the r5 artifact lost its head because a
single ~3.5 kB line overflowed the tail window. Full query names and
the cold/construct/resubmit/session-build tiers are on the detail line
and in BENCH_local.json.

Timing = full execution + Arrow transfer of the complete result to the
Python driver (the work the user would wait for). Arrow (`toArrow`) is
the engine's supported result-transfer path — row-at-a-time collect()
would benchmark pickle, not the engine.

Each query is reported as three tiers plus a client-cost field, so
nothing hides:

- ``cold_total_sec``  — first run: client DataFrame construction +
  plan build + codegen JIT + execute. Spark JIT-compiles generated
  code per plan shape, a one-time cost DuckDB-style interpreters
  don't pay.
- **headline** (``value`` / ``queries``) — a fresh ENGINE run: the
  query's logical plan is re-submitted (``Dataset.ofRows``), which
  re-runs Catalyst analysis, optimization, physical planning and the
  full distributed execution + Arrow result transfer, with no shuffle
  or plan reuse. Reported per query as the median of three fresh
  submissions (shared-host noise control; see loop comment). This mirrors the DuckDB baseline, which re-submits a
  prepared SQL string per run (its parse+plan, like our
  analysis+optimize, is in the measured window; neither side re-types
  the query into the client API). One deliberate asymmetry vs the
  DuckDB comparison in BASELINE.md: Spark serves scans from its
  hot-table cache (a feature of the engine under test — every tier
  shares it) while DuckDB re-decodes parquet each run (~0.5 s of its
  sf0.1 total). Set SPARK_GRAFT_TABLE_CACHE=0 to bench the pure-scan
  path.
- ``construct_total_sec`` — the Python-client cost the headline tier
  excludes: building the registered DataFrames through the PySpark API (py4j
  round trips). Paid once per session per query — the registry
  memoizes it like a prepared statement (queries/registry.py) — and
  measured once here, inside ``cold``.
- ``resubmit_total_sec`` — re-collect of the registry's prepared
  Dataset: planning skipped, Spark reuses the prior run's shuffle
  files, so only the final stage and result transfer re-run. The
  serving-path latency for a repeated query; reported separately
  because it measures cache reuse, not fresh execution.
- ``session_build_sec`` — one-time session ARTIFACT builds (q64's
  bucketed-lake writes, the shared k-means training, q70's persisted
  index) that run inside the triggering query's first construction.
  They are deployment prepare work on an offline cadence, reported as
  their own tier and subtracted from that query's construct/cold so
  a ~10 s index build can't masquerade as client overhead.
"""

from __future__ import annotations

import json
import os
import sys
import time


class _SkipWarmup(Exception):
    """SPARK_GRAFT_BENCH_WARMUP=0 — skip the unmeasured engine warmup."""


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(os.path.normpath(sf_dir)).removeprefix("sf"))
    except ValueError:
        sf = -1.0

    from pyspark.sql import DataFrame

    from cdc_example_spark.queries import all_queries
    from cdc_example_spark.session import get_spark, scale_profile

    # size the runtime profile to the benched input (see session.py:
    # sub-GiB inputs run 4-way shuffles without AQE; cluster-scale
    # inputs keep the scale defaults)
    spark = get_spark("cdc_example_spark-bench", extra_conf=scale_profile(sf_dir))
    spark.sparkContext.setLogLevel("ERROR")

    qs = all_queries()
    _Dataset = spark._jvm.org.apache.spark.sql.classic.Dataset

    def collect(df: DataFrame) -> None:
        try:
            df.toArrow()
        except Exception:
            df.collect()

    def replan(df: DataFrame) -> DataFrame:
        """Fresh engine submission of an already-constructed query: a
        new Dataset from the same logical plan — analysis, optimization,
        physical planning and execution all re-run (verified: distinct
        physical plan objects, no shuffle reuse)."""
        jdf = df._jdf
        return DataFrame(
            _Dataset.ofRows(jdf.sparkSession(), jdf.queryExecution().logical()), spark
        )

    # ---- engine warmup (unmeasured; SPARK_GRAFT_BENCH_WARMUP=0 to
    # skip). The headline tier is defined as STEADY-STATE fresh-plan
    # execution, but the first ~10 queries of the alphabetical loop
    # were being measured inside the JVM's C2 compilation storm: the
    # same plans measured q01 5.9 s in-bench vs 0.5 s isolated, q102
    # 7.2 vs 0.6 (2026-08-17, r13). Warm the ENGINE, not any query:
    # ad-hoc plans over the bench tables exercising the core paths
    # (parquet scan, hash agg, join, window, explode, array fold, sort,
    # Arrow transfer). None is a registered query's plan, so no
    # per-query generated class is pre-compiled — the cold tier keeps
    # its per-plan-codegen semantics — and the shared hot-table cache
    # materializes here instead of inside the first touching query's
    # cold number. Old (no-warmup) numbers: BENCH_r12.json and the r13
    # baseline recorded in OPTIMIZATION_r13.md.
    # A warmup failure must never kill the bench — it is unmeasured
    # auxiliary work, so degrade to the pre-warmup behavior instead.
    try:
        if os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1") == "0":
            raise _SkipWarmup
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        from cdc_example_spark.sources.catalog import load_table

        li = load_table(spark, sf_dir, "lineitem")
        od = load_table(spark, sf_dir, "orders")
        cu = load_table(spark, sf_dir, "customer")
        dc = load_table(spark, sf_dir, "documents")
        ev = load_table(spark, sf_dir, "events")
        em = load_table(spark, sf_dir, "embeddings")
        warm_w = Window.partitionBy("event_type").orderBy("ts", "event_id")
        warmups = [
            li.groupBy("l_linestatus").agg(
                F.avg("l_tax"), F.max("l_shipdate"), F.min("l_partkey")
            ),
            od.join(cu, od.o_custkey == cu.c_custkey)
            .groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("c_nationkey"),
            ev.select("event_type", "ts", "event_id")
            .withColumn("rn", F.row_number().over(warm_w))
            .filter(F.col("rn") <= 2),
            dc.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), "w")
            .limit(5),
            em.select(
                F.aggregate(
                    "embedding", F.lit(0.0), lambda acc, x: acc + x * x
                ).alias("n2")
            ).agg(F.sum("n2")),
        ]
        # Python-boundary warmup: the worker pool boot (one worker per
        # core) + Arrow runner imports otherwise land inside the first
        # pandas-UDF query's samples. Identity mapInPandas over a
        # core-count-wide stage; ad-hoc like the rest.
        def _warm_py(batches):
            for pdf in batches:
                yield pdf

        warmups.append(
            em.repartition(spark.sparkContext.defaultParallelism)
            .select("vec_id")
            .mapInPandas(_warm_py, "vec_id bigint")
            .agg(F.count(F.lit(1)))
        )
        spark.sparkContext.setJobDescription("bench: engine warmup (unmeasured)")
        for w in warmups:
            for _ in range(2):
                collect(w)
        spark.sparkContext.setJobDescription(None)
    except _SkipWarmup:
        pass
    except Exception as e:  # pragma: no cover — never kill the report
        print(f"bench warmup skipped on error: {e!r:.200}", file=sys.stderr)
        try:  # the reset itself can throw if the py4j gateway is what
            # failed — the handler must honor its own contract (ADVICE r13)
            spark.sparkContext.setJobDescription(None)
        except Exception:
            pass

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    construct: dict[str, float] = {}
    resubmit: dict[str, float] = {}
    # Per-query cold → fresh×3 → resubmit, interleaved: each query's
    # fresh runs follow its own cold run, with no other plan shape run
    # in between. Generated classes stay cached across plan shapes
    # (session.CODEGEN_CACHE_ENTRIES), so the ordering does not decide
    # whether fresh runs recompile.
    # The reported fresh number is the per-query MEDIAN of three runs:
    # single samples on a shared host swing ±15% (BASELINE.md), and the
    # median keeps one noisy sample from repainting the whole headline.
    from cdc_example_spark.queries.registry import SESSION_BUILDS

    for name in sorted(qs):
        builds_before = sum(SESSION_BUILDS.values())
        t0 = time.perf_counter()
        prepared = qs[name].spark(spark, sf_dir)
        # one-time session artifact builds (bucketed-lake writes,
        # k-means training, index builds) run inside the triggering
        # query's first construction — attribute them to the
        # session_build tier, not to py4j plan assembly.
        build_delta = sum(SESSION_BUILDS.values()) - builds_before
        construct[name] = round(max(time.perf_counter() - t0 - build_delta, 0.0), 3)
        collect(prepared)
        cold[name] = round(max(time.perf_counter() - t0 - build_delta, 0.0), 3)
        samples = []
        for _ in range(3):
            fresh = replan(prepared)
            t1 = time.perf_counter()
            collect(fresh)
            samples.append(time.perf_counter() - t1)
        timings[name] = round(sorted(samples)[1], 3)
        t2 = time.perf_counter()
        collect(prepared)  # memoized plan + shuffle reuse
        resubmit[name] = round(time.perf_counter() - t2, 3)

    # Approx sketch tiers — the 100 TB defaults (fixed-size, mergeable
    # sketches) timed next to their exact twins so the scale
    # recommendation carries a measured number, not prose. Values are
    # engine-specific (t-digest / HLL++), so these are bench-only; the
    # error envelopes are pinned in pytest
    # (test_q41_approx_percentile_tracks_exact,
    #  test_approx_count_distinct_within_tolerance).
    approx_tiers: dict[str, float] = {}
    try:
        from pyspark.sql import functions as F

        from cdc_example_spark.sources.catalog import load_table

        li = load_table(spark, sf_dir, "lineitem")

        def bench_approx(label: str, df: DataFrame) -> None:
            collect(df)  # cold: plan + JIT
            fresh_df = replan(df)
            t = time.perf_counter()
            collect(fresh_df)
            approx_tiers[label] = round(time.perf_counter() - t, 3)

        bench_approx(
            "q41_approx_percentile",
            li.groupBy("l_returnflag")
            .agg(
                F.percentile_approx("l_extendedprice", F.array(F.lit(0.5), F.lit(0.95)), 10_000).alias("pcts_price"),
                F.percentile_approx("l_quantity", 0.5, 10_000).alias("median_qty"),
            )
            .orderBy("l_returnflag"),
        )
        bench_approx(
            "q38_approx_count_distinct",
            li.groupBy("l_returnflag")
            .agg(
                F.approx_count_distinct("l_partkey", 0.05).alias("ap_parts"),
                F.approx_count_distinct("l_suppkey", 0.05).alias("ap_supps"),
            )
            .orderBy("l_returnflag"),
        )
    except Exception as e:  # pragma: no cover — never kill the T1 report
        approx_tiers["error"] = repr(e)[:200]  # type: ignore[assignment]

    # CDC apply throughput (BASELINE T2) on the same session — 100k
    # synthetic Debezium envelopes through decode → route → MERGE.
    try:
        import bench_streaming

        cdc = bench_streaming.run(spark=spark, n_events=100_000)
        cdc_fields = {
            "cdc_apply_events_per_sec": cdc["value"],
            "cdc_batch_apply_p50_ms": cdc["batch_apply_p50_ms"],
        }
    except Exception as e:  # never let the T2 add-on kill the T1 report
        cdc_fields = {"cdc_apply_error": repr(e)[:200]}

    total = round(sum(timings.values()), 3)
    # Two lines, detail first and a COMPACT summary LAST (VERDICT r5
    # item 1): the driver records a bounded TAIL of stdout and parses
    # the final line — r5's single ~3.5 kB line lost its head (29
    # per-query numbers) and parsed as null. The last line stays under
    # ~2 kB by shortening per-query keys to their qNN prefix; the full
    # names + cold/construct/resubmit/session-build tiers live on the
    # detail line above it (and in the repo's own BENCH_local.json).
    detail = {
        "metric": "declared-query-set wall clock (steady-state, fresh plans)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "cold_total_sec": round(sum(cold.values()), 3),
        "construct_total_sec": round(sum(construct.values()), 3),
        "session_build_sec": {
            k: round(v, 3) for k, v in sorted(SESSION_BUILDS.items())
        },
        "resubmit_total_sec": round(sum(resubmit.values()), 3),
        "approx_tiers": approx_tiers,
        **cdc_fields,
        "sf": sf,
    }
    print(json.dumps(detail), flush=True)
    try:  # standing full-detail artifact next to the tail-windowed one
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_local.json"), "w") as f:
            json.dump(detail, f, indent=1)
        # Exit checklist (VERDICT r8/r9 hygiene item, twice): the
        # committed BENCH_local.json must be the run the recorded round
        # numbers came from — commit it WITH the round artifacts.
        print(
            "BENCH_local.json rewritten by this run — "
            "`git add BENCH_local.json` alongside the round artifacts "
            "so HEAD's artifact matches the recorded numbers.",
            file=sys.stderr,
        )
    except OSError:
        pass
    # r12's compact line measured 2,105 bytes — 105 over the driver's
    # 2,000-char stdout tail, so BENCH_r12.json recorded "parsed": null
    # (VERDICT r12 item 5). Keep this line comfortably under the window:
    # compact separators, 2-decimal per-query values, short metric
    # label, and no slowest5 (derivable from the queries dict here and
    # on the detail line / in BENCH_local.json). Measured 1,523 bytes
    # at 116 queries — ~475 bytes of headroom.
    compact = {
        "metric": "suite_total_sec",
        "value": total,
        "unit": "sec",
        "queries": {
            n.split("_", 1)[0]: round(t, 2) for n, t in timings.items()
        },
        "n_queries": len(timings),
        "cold_total_sec": detail["cold_total_sec"],
        "construct_total_sec": detail["construct_total_sec"],
        "resubmit_total_sec": detail["resubmit_total_sec"],
        **cdc_fields,
        "sf": sf,
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1950:  # VERDICT r13 item 7: a future query rename must
        # not silently push the contract line back over the driver's
        # 2,000-char stdout tail (the r12 parse-loss failure mode).
        # tests/test_bench_contract_line.py pins the projection; this is
        # the runtime tripwire for whatever the test didn't foresee.
        print(
            f"WARNING: compact contract line is {len(line)} bytes — within "
            "50 B of the driver's 2 kB stdout-tail window (r12 lost its "
            "artifact this way). Shorten query keys or drop a field.",
            file=sys.stderr,
        )
    print(line, flush=True)
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
