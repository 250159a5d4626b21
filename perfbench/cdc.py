"""``cdc_live``: the live CDC path as an open loop, with reads beside writes.

A generator process (``gen.py``) drops one pre-built Debezium JSON-lines
file of ``rate × interval_s`` events into the source directory every
``interval_s`` seconds. The engine runs ``file_cdc_source`` →
``materialize`` into a ``KeyedStateSink`` under a real processing-time
trigger; every micro-batch goes through ``ws_frames`` →
``broadcast_frames`` to one in-process subscriber, which timestamps each
event's frame. One HTTP client calls ``GET /api/messages`` on a
``MessageRestServer`` over the same sink at a fixed low rate. Each GET
is a consistent read: it holds a lock that every ``apply_changes`` of
the stream also takes, as ``KeyedStateSink.snapshot`` asks of callers
that need a consistent view. The server itself reads the snapshot
unlocked, and a GET that overlaps a bucket rewrite can return a partial
list; a read waits out an apply in progress instead, and that wait
counts in its latency.

Latencies are timed from each event's or read's due time, so a stall
also counts against the work queued behind it. The final state is
checked against ``gen.reference_fold``; every event must reach the
subscriber exactly once; every read must return unique ids from the
generated key set.
"""

from __future__ import annotations

import collections
import http.client
import json
import os
import subprocess
import sys
import threading
import time
from datetime import datetime, timezone

import gen
from sparkstats import dir_stats, file_set, progress_phases
from tracing import Span, beyond, median, pct

HERE = os.path.dirname(os.path.abspath(__file__))


def _wall_to_mono(iso: str) -> float:
    """A progress report's wall-clock timestamp on the monotonic clock."""
    wall = datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()
    return wall - (time.time() - time.monotonic())


class CdcLive:
    def __init__(self, h):
        self.h = h
        self.c = h.wcfg
        self.tracer = h.tracer
        self.gen_dir = os.path.join(h.work, "gen")
        self.per_file = int(self.c["rate"] * self.c["interval_s"])
        # a traced run times untraced, traced, untraced windows back to back
        self.windows = 3 if h.trace else 1
        self.round = 0
        self.query = self.server = self.dropper = None
        # a GET and a sink apply never overlap (see the module docstring)
        self.read_lock = threading.Lock()
        self.session_conf: dict = {}

    # -- inputs ----------------------------------------------------------

    def generate(self) -> None:
        c = self.c
        log = gen.ChangeLog(self.h.seed, c["keys"], hot_share=c["hot_share"],
                            hot_keys=c["hot_keys"], zipf_s=c["zipf_s"],
                            delete_share=c["delete_share"])
        self.keys = log.key_set
        self.seed_events = log.seed_all()
        n_files = int(round((c["warmup_s"] + self.h.seconds * self.windows) / c["interval_s"]))
        self.all_events = self.seed_events + log.changes(n_files * self.per_file)
        self.seed_file = gen.write_files(self.seed_events, os.path.join(self.gen_dir, "seed"),
                                         len(self.seed_events), "seed")[0]
        self.staging = os.path.join(self.gen_dir, "staging")
        self.files = gen.write_files(self.all_events[len(self.seed_events):], self.staging,
                                     self.per_file, "live")
        # reads run through the warm-up too, so the read path is warm as well
        self.reads = gen.read_schedule(self.h.seed, c["read_rate"],
                                       c["warmup_s"] + self.h.seconds * self.windows)
        # a DELETE frame carries only the key: it resolves to the oldest
        # undelivered delete of that key
        self.delete_seqs = collections.defaultdict(list)
        for ev in self.all_events:
            if ev.op == "d":
                self.delete_seqs[ev.key].append(ev.seq)
        # every consistent snapshot holds the keys that are never deleted
        self.never_deleted = self.keys - self.delete_seqs.keys()

    # -- set-up ----------------------------------------------------------

    def prepare(self, spark) -> None:
        """A fresh source dir, sink and checkpoint; start the stream and
        the REST server, and wait until the seed batch is visible."""
        from cdc_example_spark.operators.keyed_state import KeyedStateSink
        from cdc_example_spark.streaming.materialize import file_cdc_source, materialize
        from cdc_example_spark.streaming.rest import MessageRestServer

        self.round += 1
        root = os.path.join(self.h.work, f"round{self.round}")
        self.src = os.path.join(root, "src")
        os.makedirs(self.src)
        os.link(self.seed_file, os.path.join(self.src, os.path.basename(self.seed_file)))
        self.seen: dict[int, tuple[float, int]] = {}
        self.dupes = 0
        self.sink_ms: list[tuple[int, float, float, int]] = []
        self.applies: list[dict] = []
        self.pending_deletes = {k: collections.deque(v) for k, v in self.delete_seqs.items()}
        self.sink = self._timed(KeyedStateSink(path=os.path.join(root, "state"),
                                               num_buckets=self.c["num_buckets"]))
        self.server = MessageRestServer(spark, self.sink).start()
        self.seeded = threading.Event()
        self.query = materialize(
            # one trigger takes every file that has arrived
            file_cdc_source(spark, self.src, max_files_per_trigger=100_000),
            self.sink,
            checkpoint_dir=os.path.join(root, "ckpt"),
            on_batch=self._on_batch,
            processing_time=self.c["trigger"],
        )
        if not self.seeded.wait(120):
            raise RuntimeError("cdc_live: the seed batch never became visible")

    def _timed(self, sink):
        """Time ``apply_changes`` at its public boundary; in the traced
        window also record the bytes each batch rewrote."""
        orig = sink.apply_changes
        self._files_before: dict[str, int] = {}

        def apply_changes(batch_df, batch_id, **kwargs):
            with self.read_lock:
                t = time.monotonic()
                with self.tracer.span("keyed_state.apply_changes", "keyed_state"):
                    merged = orig(batch_df, batch_id, **kwargs)
                ms = (time.monotonic() - t) * 1000
            rec = {"batch": batch_id, "ms": ms, "traced": self.tracer.enabled}
            if self.tracer.enabled:
                now = file_set(sink.path)
                rec["rewritten"] = sum(s for p, s in now.items() if p not in self._files_before)
                self._files_before = now
            self.applies.append(rec)
            return merged

        sink.apply_changes = apply_changes
        return sink

    def teardown(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None
        if self.server is not None:
            self.server.stop()
            self.server = None
        if self.dropper is not None and self.dropper.poll() is None:
            self.dropper.kill()
            self.dropper.wait()

    # -- the change feed and the reader ----------------------------------

    def _on_batch(self, df, batch_id: int) -> None:
        from cdc_example_spark.streaming.sinks import broadcast_frames, ws_frames

        t = time.monotonic()
        with self.tracer.span("sinks.ws_frames", "sinks"):
            frames = [r[0] for r in ws_frames(df).collect()]
        t1 = time.monotonic()
        self._batch = batch_id
        with self.tracer.span("sinks.broadcast_frames", "sinks"):
            errors = broadcast_frames(frames, [self._subscriber])
        for e in errors:
            self.h.fail(f"cdc_live: subscriber raised {e!r}")
        self.sink_ms.append((batch_id, (t1 - t) * 1000, (time.monotonic() - t1) * 1000, len(frames)))
        if len(self.seen) >= len(self.seed_events):
            self.seeded.set()

    def _subscriber(self, frame: str) -> None:
        now = time.monotonic()
        f = json.loads(frame)
        if f["type"] == "UPSERT":
            seq = int(f["content"]["message"].split()[1])
        else:
            seq = self.pending_deletes[f["id"]].popleft()
        if seq in self.seen:
            self.dupes += 1
        self.seen[seq] = (now, self._batch)

    def _get(self) -> dict:
        """One GET. ``why`` is None for a complete, valid response; a
        dropped request, a non-200 status and a snapshot that lacks a
        never-deleted key are failed reads; duplicate ids or ids outside
        the generated key set are wrong output (``wrong``)."""
        r = {"why": None, "wrong": False, "rows": 0, "bytes": 0, "partial": False}
        try:
            conn = http.client.HTTPConnection("127.0.0.1", self.server.port, timeout=60)
            conn.request("GET", "/api/messages")
            resp = conn.getresponse()
            body = resp.read()
            conn.close()
        except (OSError, http.client.HTTPException) as exc:
            r["why"] = f"dropped: {exc!r}"
            return r
        r["bytes"] = len(body)
        if resp.status != 200:
            r["why"] = f"status {resp.status}"
            return r
        ids = [m["id"] for m in json.loads(body)]
        r["rows"] = len(ids)
        if len(set(ids)) != len(ids):
            r["why"], r["wrong"] = f"{len(ids) - len(set(ids))} duplicate ids", True
        elif not self.keys.issuperset(ids):
            r["why"], r["wrong"] = "ids outside the generated key set", True
        else:
            missing = len(self.never_deleted.difference(ids))
            if missing:
                r["why"], r["partial"] = f"partial snapshot, {missing} never-deleted keys missing", True
        return r

    def _reader(self, start: float, out: list) -> None:
        """The open-loop reader; no retries, so every failed read counts.
        A read that finds an apply in progress waits for it to end."""
        for off in self.reads:
            due = start + off
            time.sleep(max(0.0, due - time.monotonic()))
            with self.tracer.span("rest.get_messages", "rest"), self.read_lock:
                r = self._get()
            r.update(due=due, ms=(time.monotonic() - due) * 1000)
            out.append(r)
            if r["why"] is None:
                continue
            msg = f"cdc_live: GET /api/messages at +{off:.2f}s: {r['why']}"
            if r["wrong"]:
                self.h.fail(msg)
            else:
                self.h.fail_op(msg)

    # -- the timed run ---------------------------------------------------

    def measure(self):
        c, h, S = self.c, self.h, self.h.seconds
        self.tracer.enabled = False
        self.t0 = t0 = time.monotonic() + 0.5
        self.dropper = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"), "--staging", self.staging,
             "--dest", self.src, "--t0", repr(t0), "--interval", repr(c["interval_s"])],
            stdout=subprocess.PIPE, text=True,
        )
        w_start = [t0 + c["warmup_s"] + i * S for i in range(self.windows)]
        self.timed_from = w_start[0]
        reads: list[dict] = []
        reader = threading.Thread(target=self._reader, args=(t0, reads), daemon=True)
        reader.start()
        run_id = str(self.query.runId)
        if h.trace:
            time.sleep(max(0.0, w_start[1] - time.monotonic()))
            self.tracer.enabled = True
            jobs, cg0 = [h.status.max_job_id()], h.status.codegen()
            self._files_before = file_set(self.sink.path)
            time.sleep(max(0.0, w_start[2] - time.monotonic()))
            self.tracer.enabled = False
            jobs.append(h.status.max_job_id())
            cg1 = h.status.codegen()
        out, _ = self.dropper.communicate(timeout=c["warmup_s"] + S * self.windows + 60)
        generator = json.loads(out.strip().splitlines()[-1])
        deadline = time.monotonic() + c["drain_timeout_s"]
        while len(self.seen) < len(self.all_events) and time.monotonic() < deadline:
            time.sleep(0.05)
        reader.join(timeout=120)
        self.progress = progress_phases(self.query)
        self.query.stop()
        self.query = None
        self.tracer.enabled = h.trace

        windows = [self._window(w_start[i], reads) for i in range(self.windows)]
        h.detail["windows"] = windows
        h.detail["generator"] = generator
        h.detail["batches"] = [(p["batch"], round(_wall_to_mono(p["timestamp"]) - t0, 2), p["rows"],
                                p["trigger_ms"]) for p in self.progress]
        e2e = {"latency_ms": windows[0]["visible_p50"],
               "throughput_per_s": windows[0]["throughput"]}
        if not h.trace:
            return e2e, {}
        tw = windows[1]
        untraced = (windows[0]["visible_p50"] + windows[2]["visible_p50"]) / 2
        batches = set(tw["batches"])
        layer = self._stream_layers(batches, run_id, jobs, cg0, cg1)
        sinks = [s for s in self.sink_ms if s[0] in batches]
        layer.update({
            "visible_ms_p50": tw["visible_p50"],
            "visible_ms_p95": tw["visible_p95"],
            "visible.samples": tw["visible_samples"],
            "visible.beyond_p95": tw["visible_beyond_p95"],
            "visible.tail_batches": tw["tail_batches"],
            "read_ms_p50": tw["read_p50"],
            "read_ms_p95": tw["read_p95"],
            "read.samples": tw["reads"],
            "read.beyond_p95": tw["read_beyond_p95"],
            "stream.wait_ms_p50": tw["wait_p50"],
            "sinks.ws_frames_ms_p50": median([s[1] for s in sinks]),
            "sinks.broadcast_ms_p50": median([s[2] for s in sinks]),
            "sinks.frames_sent": sum(s[3] for s in sinks),
            "rest.rows_returned": tw["read_rows"],
            "rest.response_kb": tw["read_kb"],
            "rest.failed_reads": tw["read_failed"],
            "rest.partial_reads": tw["read_partial"],
            "gen.late_ms_max": generator["late_ms_max"],
            "gen.events_offered": tw["events"],
            "gen.reads_offered": tw["reads"],
            "envelope.decode_route_s": self._decode_route_s(),
            "trace.untraced_latency_ms": untraced,
            "trace.overhead_ms": tw["visible_p50"] - untraced,
        })
        return e2e, layer

    def _window(self, start: float, reads: list) -> dict:
        """End-to-end numbers of the events and reads due in one window."""
        c, S, n_seed = self.c, self.h.seconds, len(self.seed_events)
        first = int(round((start - self.t0) / c["interval_s"]))
        last = first + int(round(S / c["interval_s"]))
        trig = {p["batch"]: _wall_to_mono(p["timestamp"]) for p in self.progress}
        lat, batch_of, wait, vis_end = [], [], [], start
        for s in range(n_seed + first * self.per_file, n_seed + last * self.per_file):
            if s not in self.seen:
                continue
            t, b = self.seen[s]
            due = self.t0 + ((s - n_seed) // self.per_file) * c["interval_s"]
            lat.append((t - due) * 1000)
            batch_of.append(b)
            vis_end = max(vis_end, t)
            if b in trig:  # the part of the wait spent before its trigger began
                wait.append(max(0.0, (trig[b] - due) * 1000))
        cut = pct(lat, 95)
        rd = [r for r in reads if start <= r["due"] < start + S]
        read_ms = [r["ms"] for r in rd]
        return {
            "events": (last - first) * self.per_file, "delivered": len(lat),
            "visible_p50": median(lat), "visible_p95": cut,
            "visible_samples": len(lat), "visible_beyond_p95": beyond(lat, 95),
            "tail_batches": len({b for b, x in zip(batch_of, lat) if x > cut}),
            "wait_p50": median(wait),
            "throughput": len(lat) / max(vis_end - start, 1e-9),
            "batches": sorted(set(batch_of)),
            "reads": len(rd), "read_p50": median(read_ms), "read_p95": pct(read_ms, 95),
            "read_beyond_p95": beyond(read_ms, 95),
            "read_rows": median([r["rows"] for r in rd]),
            "read_kb": median([r["bytes"] for r in rd]) / 1024,
            "read_failed": sum(r["why"] is not None for r in rd),
            "read_partial": sum(r["partial"] for r in rd),
        }

    def _stream_layers(self, batches: set, run_id: str, jobs: list, cg0: tuple,
                       cg1: tuple) -> dict:
        """The traced window's per-layer numbers: Structured Streaming's
        progress phases, the sink's apply timings and layout, and the
        stream's jobs, stages and codegen from Spark's status store."""
        h = self.h
        prog = [p for p in self.progress if p["batch"] in batches and p["rows"] > 0]
        spans = []
        for p in prog:
            start = _wall_to_mono(p["timestamp"])
            spans.append(Span(self.tracer.new_id(), "stream.trigger", "stream", start,
                              start + p["trigger_ms"] / 1000, None, self.tracer.run_id, 0))
        for s in spans:
            self.tracer.add(s)
        self.tracer.adopt_by_containment(spans)

        applies = [a for a in self.applies if a["batch"] in batches and a["traced"]]
        ms = [a["ms"] for a in applies]
        rewritten = [a["rewritten"] for a in applies]
        stats = h.status.jobs(jobs[0], jobs[1], group_prefix=run_id)
        state_rows = len(gen.reference_fold(self.all_events))
        d = dir_stats(self.sink.path)
        changed_bytes = sum(p["rows"] for p in prog) * d["bytes"] / max(state_rows, 1)

        def med(k):
            return median([p[k] for p in prog])

        return {
            "stream.trigger_ms_p50": med("trigger_ms"),
            "stream.add_batch_ms_p50": med("add_batch_ms"),
            "stream.latest_offset_ms_p50": med("latest_offset_ms"),
            "stream.wal_commit_ms_p50": med("wal_commit_ms"),
            "stream.commit_offsets_ms_p50": med("commit_offsets_ms"),
            "stream.query_planning_ms_p50": med("query_planning_ms"),
            "stream.rows_per_batch_p50": med("rows"),
            "keyed_state.apply_ms_p50": median(ms),
            "keyed_state.apply_ms_p95": pct(ms, 95),
            "keyed_state.apply_samples": len(ms),
            "keyed_state.jobs_per_batch": median([stats.batch_jobs.get(b, 0) for b in batches]),
            "keyed_state.tasks_per_batch": median([stats.batch_tasks.get(b, 0) for b in batches]),
            "keyed_state.state_rows": state_rows,
            "keyed_state.state_mb": d["bytes"] / 2**20,
            "keyed_state.bucket_dirs": d["bucket_dirs"],
            "keyed_state.files_per_bucket": d["files"] / max(d["bucket_dirs"], 1),
            "keyed_state.rewritten_mb_per_batch": median(rewritten) / 2**20,
            "keyed_state.write_amplification": sum(rewritten) / changed_bytes if changed_bytes else 0.0,
            "exec.jobs": stats.jobs,
            "exec.stages": stats.stages,
            "exec.tasks": stats.tasks,
            "exec.shuffle_write_mb": stats.shuffle_write_bytes / 2**20,
            "exec.spill_mb": stats.spill_bytes / 2**20,
            "exec.cpu_busy_frac": stats.run_ms / 1000
            / (h.seconds * h.spark.sparkContext.defaultParallelism),
            "exec.codegen_classes": cg1[0] - cg0[0],
            "exec.codegen_compile_s": cg1[1] - cg0[1],
        }

    def _decode_route_s(self) -> float:
        """Every traffic file through decode → route into the noop sink."""
        from cdc_example_spark.streaming.envelope import decode_envelope, route_changes

        files = [os.path.join(self.src, os.path.basename(f)) for f in self.files]
        t = time.monotonic()
        with self.tracer.span("envelope.decode_route", "envelope"):
            raw = self.h.spark.read.schema("key STRING, value STRING").json(files)
            route_changes(decode_envelope(raw)).write.format("noop").mode("overwrite").save()
        return time.monotonic() - t

    # -- output checks ---------------------------------------------------

    def check(self) -> dict:
        from pyspark.sql import functions as F

        h = self.h
        traffic = self.all_events[len(self.seed_events):]
        h.attempt(len(traffic) + len(self.reads) + 1)
        missing = [e.seq for e in traffic if e.seq not in self.seen]
        if missing:
            h.fail(f"cdc_live: {len(missing)} events never reached the subscriber, "
                   f"e.g. seq {missing[:5]}", len(missing))
        if self.dupes:
            h.fail(f"cdc_live: {self.dupes} events delivered more than once", self.dupes)
        want = {k: row for k, (_lsn, row) in gen.reference_fold(self.all_events).items()}
        rows = (
            self.sink.snapshot(h.spark)
            .select("id", "message", "username", F.unix_millis("create_time"),
                    F.unix_millis("update_time"))
            .collect()
        )
        got = {r[0]: tuple(r[1:]) for r in rows}
        bad = [k for k in want.keys() | got.keys() if want.get(k) != got.get(k)]
        if bad or len(rows) != len(got):
            h.fail(f"cdc_live: final state differs from the reference fold on {len(bad)} keys "
                   f"({len(rows) - len(got)} duplicate rows), e.g. {bad[:3]}")
        return {}
