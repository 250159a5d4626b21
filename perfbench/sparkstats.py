"""Read Spark's own public status surfaces from outside the engine.

- jobs and stages from the application status store (the data behind
  ``SparkContext.statusTracker()``), filtered by job group or by the
  micro-batch id Structured Streaming writes into each job description;
- generated-class compile counts (``CodegenMetrics``) and the compile
  time ``CodeGenerator`` accumulates over the process;
- peak resident memory of the driver JVM and this Python process, and
  the host's CPU steal time.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

_BATCH_RE = re.compile(r"batch = (\d+)")


def _opt(o):
    return o.get() if o.isDefined() else None


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    #: jobs and tasks per micro-batch id (streaming jobs only)
    batch_jobs: dict = field(default_factory=dict)
    batch_tasks: dict = field(default_factory=dict)


class StatusReader:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self._cc = jvm.scala.jdk.javaapi.CollectionConverters
        self._store = self.sc._jsc.sc().statusStore()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._no_status = jvm.java.util.ArrayList()
        self._compiled = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._generator = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def max_job_id(self) -> int:
        ids = [j.jobId() for j in self._cc.asJava(self._store.jobsList(None))]
        return max(ids, default=-1)

    def jobs(self, after_job: int, last_job: int, group_prefix: str) -> JobStats:
        """Aggregate the jobs with ``after_job < id <= last_job`` whose job
        group starts with ``group_prefix``."""
        out = JobStats()
        stage_ids: set[int] = set()
        for j in self._cc.asJava(self._store.jobsList(None)):
            group = _opt(j.jobGroup())
            if not after_job < j.jobId() <= last_job or not (group or "").startswith(group_prefix):
                continue
            out.jobs += 1
            stage_ids.update(self._cc.asJava(j.stageIds()))
            m = _BATCH_RE.search(_opt(j.description()) or "")
            if m:
                b = int(m.group(1))
                out.batch_jobs[b] = out.batch_jobs.get(b, 0) + 1
                out.batch_tasks[b] = out.batch_tasks.get(b, 0) + j.numTasks() - j.numSkippedTasks()
        stages = self._store.stageList(None, False, False, self._no_quantiles, self._no_status)
        for s in self._cc.asJava(stages):
            if s.stageId() not in stage_ids or str(s.status()) == "SKIPPED":
                continue
            out.stages += 1
            out.tasks += s.numCompleteTasks()
            out.run_ms += s.executorRunTime()
            out.shuffle_write_bytes += s.shuffleWriteBytes()
            out.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out

    def codegen(self) -> tuple[int, float]:
        """(classes compiled so far, seconds spent compiling them): both
        are running totals, so a window's numbers are the difference of
        two readings. The seconds come from ``CodeGenerator.compileTime``
        (a nanosecond accumulator), not from the compile-time histogram,
        whose mean is over a decaying sample."""
        return int(self._compiled.getCount()), self._generator.compileTime() / 1e9


def cpu_times() -> tuple[int, int]:
    """(all, steal) CPU time of the host in clock ticks, from /proc/stat:
    steal is time the hypervisor ran something else on our CPUs."""
    with open("/proc/stat", encoding="ascii") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return sum(ticks), ticks[7] if len(ticks) > 7 else 0


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the kernel's resident-set high-water marks (VmHWM)."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def progress_phases(query) -> list[dict]:
    """``StreamingQuery.recentProgress`` reduced to the fields we use."""
    out = []
    for p in query.recentProgress:
        d = p.durationMs or {}
        out.append({
            "batch": p.batchId,
            "timestamp": p.timestamp,
            "rows": p.numInputRows,
            "trigger_ms": d.get("triggerExecution", 0),
            "add_batch_ms": d.get("addBatch", 0),
            "latest_offset_ms": d.get("latestOffset", 0),
            "wal_commit_ms": d.get("walCommit", 0),
            "commit_offsets_ms": d.get("commitOffsets", 0),
            "query_planning_ms": d.get("queryPlanning", 0),
        })
    return out


def dir_stats(path: str) -> dict:
    """Rows-independent layout numbers of a bucketed state directory."""
    buckets, files, size = 0, 0, 0
    for d in os.listdir(path) if os.path.isdir(path) else []:
        if not d.startswith("bucket="):
            continue
        buckets += 1
        for f in os.listdir(os.path.join(path, d)):
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(path, d, f))
    return {"bucket_dirs": buckets, "files": files, "bytes": size}


def file_set(path: str) -> dict[str, int]:
    """Every parquet file under ``path`` with its size."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(root, n)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    pass
    return out
