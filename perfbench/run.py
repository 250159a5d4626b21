"""Benchmark entry point.

    python3 perfbench/run.py --workload <cdc_live|cdc_backfill|batch_mix> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It pins the Spark session to the host
(``config.json`` "session"), runs the workload against the engine's
public entry points, checks the outputs, and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, the layers' self times and the tracing overhead, and
the spans are written to ``perfbench/_work/spans-<workload>-<seed>.jsonl``.
Every failed operation is printed to stderr and counted into ``failed``;
a failed output check also makes ``correct`` false and the exit code 1.
"""

from __future__ import annotations

import time

PROCESS_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")


def load_config() -> dict:
    with open(os.path.join(HERE, "config.json"), encoding="utf-8") as fh:
        return json.load(fh)


def pin_environment(cfg: dict) -> None:
    """Session pins, applied before the JVM starts so parent and change
    run identically: cores from the CPU affinity mask (``nproc``), a
    driver heap that fits in RAM, and every scratch directory (Spark
    local dirs, Python and JVM temp dirs) inside the checkout."""
    pins = cfg["session"]
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = pins["driver_memory"]
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # no hsperfdata file under /tmp: the JVM writes nothing outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path[:0] = [ROOT, HERE]


def main(argv: "list[str] | None" = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    cfg = load_config()
    if args.workload not in cfg["workloads"]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    pin_environment(cfg)
    try:
        import cdc_example_spark  # noqa: F401
    except ImportError as exc:
        print(f"engine package not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    import harness

    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    h = harness.Harness(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace), cfg=cfg, work=run_dir, process_start=PROCESS_START,
    )
    try:
        out = h.run()
    finally:
        h.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.trace:
        h.tracer.write(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl"))
    for err in h.errors:
        print(f"FAILED: {err}", file=sys.stderr)
    print(json.dumps({"detail": h.detail}, default=str), file=sys.stderr)
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
