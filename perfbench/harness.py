"""Shared run skeleton: set-up, host canary, result assembly.

A run is: generate inputs → set up (session, workload state) → canary →
warm-up and timed window → canary → output checks. ``setup_s`` runs
from process start to the workload's first timed operation, warm-up
traffic included; the benchmark's own input generation and the canary
before the run are left out of it. A traced run times an untraced, a
traced and another untraced window back to back; the tracing overhead
is the traced window's latency minus the mean of the two untraced ones.
"""

from __future__ import annotations

import json
import os
import threading
import time

from sparkstats import StatusReader, cpu_times, peak_rss_mb
from tracing import LAYERS, Tracer, median

CANARY_GROUP = "perfbench-canary"


def declared_metrics() -> tuple[dict, dict]:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as fh:
        b = json.load(fh)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


class Harness:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 cfg: dict, work: str, process_start: float):
        self.name = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cfg = cfg
        self.wcfg = cfg["workloads"][workload]
        self.work = work
        self.process_start = process_start
        self.tracer = Tracer(trace, f"{workload}-{seed}-{os.getpid()}")
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.wrong = 0  # failed output checks: the run is not correct
        self.detail: dict = {"workload": workload, "seed": seed}
        self.spark = None
        self.status: "StatusReader | None" = None
        self.get_spark_s = 0.0
        self.canary_ms: list[float] = []
        self.canary_loop_ms: list[float] = []
        self.wl = None
        self._count_lock = threading.Lock()  # the reader and stream threads count too

    # -- checks --------------------------------------------------------

    def attempt(self, n: int = 1) -> None:
        with self._count_lock:
            self.attempted += n

    def fail(self, msg: str, n: int = 1) -> None:
        """An output check failed: ``n`` failed operations, and the run's
        outputs are not correct."""
        with self._count_lock:
            self.wrong += n
        self.fail_op("CHECK FAILED: " + msg, n)

    def fail_op(self, msg: str, n: int = 1) -> None:
        """``n`` operations failed (counted into ``failed`` and
        ``error_rate``) without a wrong output, e.g. a dropped request."""
        with self._count_lock:
            self.failed += n
            if len(self.errors) < 50:
                self.errors.append(msg)

    # -- session -------------------------------------------------------

    def start_session(self):
        from cdc_example_spark.session import get_spark

        conf = dict(self.cfg["session"]["extra_conf"])
        conf["spark.sql.warehouse.dir"] = os.path.join(self.work, "warehouse")
        conf.update(self.wl.session_conf)
        t = time.monotonic()
        with self.tracer.span("session.get_spark", "session"):
            self.spark = get_spark(f"perfbench-{self.name}", extra_conf=conf)
        self.get_spark_s = time.monotonic() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        self.status = StatusReader(self.spark)
        return self.spark

    # -- canary --------------------------------------------------------

    def canary(self) -> float:
        """A fixed CPU-bound loop plus one small fixed Spark job (ms). The
        loop alone is also kept: unlike the Spark job it runs no JIT-warmed
        code, so its before/after ratio is the host's own drift."""
        t = time.monotonic()
        with self.tracer.span("harness.canary", "harness"):
            acc = 0
            for i in range(1_500_000):
                acc += i * i
            self.canary_loop_ms.append((time.monotonic() - t) * 1000)
            sc = self.spark.sparkContext
            sc.setJobGroup(CANARY_GROUP, "host canary")
            self.spark.range(0, 2_000_000, 1, 4).selectExpr("sum(id * 7 % 13) AS s").collect()
            sc.setJobGroup(None, None)
        ms = (time.monotonic() - t) * 1000
        self.canary_ms.append(ms)
        return ms

    # -- run -----------------------------------------------------------

    def run(self) -> dict:
        if self.name == "batch_mix":
            from batchmix import BatchMix as cls
        else:
            from cdc import CdcLive as cls
        self.wl = wl = cls(self)
        t = time.monotonic()
        wl.generate()
        gen_s = time.monotonic() - t
        self.detail["generate_s"] = gen_s
        self.start_session()
        wl.prepare(self.spark)
        canary_s = self.canary() / 1000
        cpu0 = cpu_times()
        # measure() sets wl.timed_from: the start of its first timed operation
        e2e, layer = wl.measure()
        cpu1 = cpu_times()
        self.steal_frac = (cpu1[1] - cpu0[1]) / max(cpu1[0] - cpu0[0], 1)
        self.detail["steal_frac"] = self.steal_frac
        self.canary()
        with self.tracer.span("harness.check", "harness"):
            layer.update(wl.check())
        e2e["setup_s"] = wl.timed_from - self.process_start - gen_s - canary_s
        layer["peak_rss_mb"] = peak_rss_mb([os.getpid(), self.status.jvm_pid])
        self.detail["canary_ms"] = self.canary_ms
        self.detail["canary_loop_ms"] = self.canary_loop_ms
        self.detail["e2e"] = e2e
        if self.trace:
            layer.update(self._common_layers())
            out_metrics = layer
            self.detail["layer"] = layer
        else:
            out_metrics = e2e
        return self._result(out_metrics)

    def _common_layers(self) -> dict:
        self_t = self.tracer.self_times()
        out = {f"self.{k}_s": self_t.get(k, 0.0) for k in LAYERS}
        out["session.get_spark_s"] = self.get_spark_s
        out["host.canary_ms"] = median(self.canary_ms)
        out["host.steal_frac"] = self.steal_frac
        out["host.canary_drift"] = self.canary_loop_ms[-1] / self.canary_loop_ms[0]
        out["error_rate"] = self.failed / max(self.attempted, 1)
        return out

    def _result(self, metrics: dict) -> dict:
        e2e_units, layer_units = declared_metrics()
        units = layer_units if self.trace else e2e_units
        if self.trace:
            # a layer this workload does not exercise did no work: 0
            here = os.path.dirname(os.path.abspath(__file__))
            with open(os.path.join(here, "layers.json"), encoding="utf-8") as fh:
                owners = json.load(fh)
            required = {n for n in units if self.name in owners[n]["workloads"]}
            metrics = {n: 0.0 for n in units if n not in required} | metrics
        missing = sorted(set(units) - set(metrics))
        if missing:
            raise RuntimeError(f"benchmark bug: metrics not produced: {missing}")
        return {
            "correct": self.wrong == 0 and self.attempted > 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }

    def close(self) -> None:
        """Stop everything the run started and wait for the driver JVM to
        exit (it ends when its stdin pipe closes)."""
        from pyspark import SparkContext

        try:
            if self.wl is not None:
                self.wl.teardown()
            if self.spark is not None:
                self.spark.stop()
        except Exception:  # the JVM may already be gone after a failure
            pass
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
