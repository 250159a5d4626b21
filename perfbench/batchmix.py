"""``batch_mix``: the registered analytics queries, each constructed and
run once cold, then re-submitted fresh (a new ``Dataset`` from the same
logical plan, as ``bench.py`` does) in passes until the window ends.

The seed only permutes the submission order. Every result is checked
against the DuckDB oracle fingerprint in ``data/<data>.oracle.json``
(``make_oracle.py``), outside the timed calls.
"""

from __future__ import annotations

import json
import os
import random
import time

from oracle import fingerprint
from tests.oracle_harness import TABLE_NAMES
from tracing import geomean, median


class BatchMix:
    def __init__(self, h):
        from cdc_example_spark.session import scale_profile

        self.h = h
        self.c = h.wcfg
        self.tracer = h.tracer
        self.sf_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", self.c["data"])
        # the engine's runtime profile for this input size, as bench.py uses
        self.session_conf = scale_profile(self.sf_dir)

    def generate(self) -> None:
        with open(self.sf_dir.rstrip("/") + ".oracle.json", encoding="utf-8") as fh:
            self.oracle = json.load(fh)
        self.order = list(self.c["queries"])
        random.Random(self.h.seed).shuffle(self.order)

    def prepare(self, spark) -> None:
        """Fill the engine's hot-table cache for every table."""
        from cdc_example_spark.sources.catalog import load_table

        t = time.monotonic()
        for name in TABLE_NAMES:
            with self.tracer.span(f"catalog.load_table.{name}", "catalog"):
                load_table(spark, self.sf_dir, name).count()
        self.load_s = time.monotonic() - t

    def teardown(self) -> None:
        pass

    # -- submissions ---------------------------------------------------------

    def _collect(self, df, group: str):
        sc = self.h.spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            return df.toArrow()
        finally:
            sc.setJobGroup(None, None)

    def _fresh(self, prepared):
        from pyspark.sql import DataFrame

        jdf = prepared._jdf
        return DataFrame(self._dataset.ofRows(jdf.sparkSession(), jdf.queryExecution().logical()),
                         self.h.spark)

    def measure(self):
        from cdc_example_spark.queries import all_queries
        from cdc_example_spark.queries.registry import SESSION_BUILDS

        h, spark = self.h, self.h.spark
        self._dataset = spark._jvm.org.apache.spark.sql.classic.Dataset
        registry = all_queries()
        self.results: list[tuple[str, object]] = []
        cg0 = h.status.codegen()
        builds0 = sum(SESSION_BUILDS.values())
        self.prepared, cold, construct = {}, {}, {}
        self.timed_from = time.monotonic()
        for name in self.order:
            h.attempt()
            t = time.monotonic()
            try:
                with self.tracer.span(f"registry.construct.{name}", "registry"):
                    df = registry[name].spark(spark, self.sf_dir)
                construct[name] = time.monotonic() - t
                with self.tracer.span(f"exec.cold.{name}", "exec"):
                    self.results.append((name, self._collect(df, f"pb-cold-{name}")))
                self.prepared[name] = df
            except Exception as exc:  # counted and reported, the run goes on
                h.fail(f"batch_mix: {name} cold run raised {exc!r:.300}")
            cold[name] = time.monotonic() - t
        builds = sum(SESSION_BUILDS.values()) - builds0
        cg1 = h.status.codegen()

        # a traced run times untraced, traced, untraced windows back to back
        traced = self.tracer.enabled
        windows = []
        for i in range(3 if h.trace else 1):
            self.tracer.enabled = traced and i == 1
            windows.append(self._window(i))
        self.tracer.enabled = traced

        w = windows[0]
        e2e = {"latency_ms": self._latency_ms(w),
               "throughput_per_s": len(w["samples"]) / w["wall_s"]}
        h.detail.update({
            "order": self.order,
            "cold_s": cold,
            "fresh_ms_median": {n: median(v) * 1000 for n, v in w["per_query"].items()},
            "windows": [{k: v for k, v in x.items() if k not in ("per_query", "samples", "codegen")}
                        for x in windows],
        })
        layer = {}
        if h.trace:
            tw = windows[1]
            untraced = (self._latency_ms(windows[0]) + self._latency_ms(windows[2])) / 2
            stats = h.status.jobs(tw["jobs"][0], tw["jobs"][1], group_prefix="pb-fresh-1-")
            layer = {
                "catalog.load_table_s": self.load_s,
                "catalog.cached_mb": self._cached_mb(),
                "registry.construct_s": max(0.0, sum(construct.values()) - builds),
                "registry.session_build_s": builds,
                "cold_total_s": sum(cold.values()),
                "plan.fresh_s": tw["plan_s"],
                "exec.fresh_s": tw["exec_s"],
                "fresh_total_s": sum(tw["samples"]),
                "fresh_geomean_ms": self._latency_ms(tw),
                "fresh.samples": len(tw["samples"]),
                "exec.jobs": stats.jobs,
                "exec.stages": stats.stages,
                "exec.tasks": stats.tasks,
                "exec.shuffle_write_mb": stats.shuffle_write_bytes / 2**20,
                "exec.spill_mb": stats.spill_bytes / 2**20,
                "exec.cpu_busy_frac": stats.run_ms / 1000
                / (tw["wall_s"] * spark.sparkContext.defaultParallelism),
                "exec.codegen_classes": tw["codegen"][1][0] - tw["codegen"][0][0],
                "exec.codegen_compile_s": tw["codegen"][1][1] - tw["codegen"][0][1],
                "exec.cold_codegen_classes": cg1[0] - cg0[0],
                "exec.cold_codegen_compile_s": cg1[1] - cg0[1],
                "trace.untraced_latency_ms": untraced,
                "trace.overhead_ms": self._latency_ms(tw) - untraced,
            }
        return e2e, layer

    def _window(self, i: int) -> dict:
        """A fixed number of fresh passes over the prepared queries, sized
        so that the window lasts about ``--seconds`` on the reference host
        (a time-bounded loop would let host speed change the sample count,
        and later passes run warmer). The first window is preceded by
        ``warm_passes`` unmeasured passes: the re-submissions after the cold
        runs are still JIT-compiling, and the first three or four passes
        grow faster by up to a third."""
        h = self.h
        if i == 0:
            for _ in range(self.c["warm_passes"]):
                self._pass("pb-warm", None)
        job0, cg0 = h.status.max_job_id(), h.status.codegen()
        w = {"per_query": {n: [] for n in self.prepared}, "samples": [],
             "plan_s": 0.0, "exec_s": 0.0}
        passes = max(2, round(h.seconds / self.c["seconds_per_pass"]))
        start = time.monotonic()
        for _ in range(passes):
            self._pass(f"pb-fresh-{i}", w)
        w.update(wall_s=time.monotonic() - start, passes=passes,
                 jobs=(job0, h.status.max_job_id()), codegen=(cg0, h.status.codegen()))
        return w

    @staticmethod
    def _latency_ms(w: dict) -> float:
        """Geometric mean over queries of each query's median fresh
        latency: every query counts, the small ones as much as the slow
        ones, however many passes fit the window."""
        return geomean([median(v) for v in w["per_query"].values()]) * 1000

    def _pass(self, group: str, w: "dict | None") -> None:
        """One fresh submission of every prepared query, timed into ``w``."""
        h = self.h
        traced = self.tracer.enabled and w is not None
        for name in self.order:
            if name not in self.prepared:
                continue
            h.attempt()
            fresh = self._fresh(self.prepared[name])
            t = time.monotonic()
            try:
                if traced:
                    with self.tracer.span(f"plan.fresh.{name}", "plan"):
                        fresh._jdf.queryExecution().executedPlan()
                    t1 = time.monotonic()
                    w["plan_s"] += t1 - t
                    with self.tracer.span(f"exec.fresh.{name}", "exec"):
                        res = self._collect(fresh, f"{group}-{name}")
                    w["exec_s"] += time.monotonic() - t1
                else:
                    res = self._collect(fresh, f"{group}-{name}")
            except Exception as exc:  # counted and reported, the run goes on
                h.fail(f"batch_mix: {name} fresh run raised {exc!r:.300}")
                continue
            if w is not None:
                dt = time.monotonic() - t
                w["samples"].append(dt)
                w["per_query"][name].append(dt)
            self.results.append((name, res))

    def _cached_mb(self) -> float:
        infos = self.h.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(r.memSize() + r.diskSize() for r in infos) / 2**20

    def check(self) -> dict:
        h = self.h
        for name, table in self.results:
            want = self.oracle[name]
            got = fingerprint(table.to_pandas(), rows_only=want.get("rows_only", False))
            if got != want["fingerprint"] or table.num_rows != want["rows"]:
                h.fail(f"batch_mix: {name} result ({table.num_rows} rows) differs from its "
                       f"DuckDB oracle ({want['rows']} rows)")
        self.results = []
        return {}
