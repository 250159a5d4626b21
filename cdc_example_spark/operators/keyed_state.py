"""Keyed upsert-materialized view: the CDC apply operator (A8/A12/A13).

The reference materializes the change stream as a last-write-wins map
keyed by id, with delete-on-tombstone and resurrection allowed
(browser ``index.html:87-89,202-216``; test listener
``MessageEventTestListener.kt:15-29``). This operator reproduces those
semantics as a Spark MERGE into a bucket-partitioned parquet table.

Scale design (100 TB state, 1000 executors):

- State lives in ``NUM_BUCKETS`` hash buckets (directory partitions).
  A micro-batch only rewrites the buckets its keys touch — with
  dynamic partition overwrite, an idle bucket costs zero I/O.
- The streaming MERGE is ONE sort-merge compaction job: state rows of
  touched buckets union the raw changes, one window pass clustered by
  bucket keeps the per-key winner by (lsn, ts_ms) — reference §4.2:
  never trust arrival order after a shuffle; Postgres LSN is the
  authoritative order (prototype/message.md:33-39). Intra-batch
  collapse, anti-join semantics, delete-drop and resurrection all fall
  out of "first row of each key run wins".
- Re-applying a batch is idempotent (same keys, same LSN winners →
  same state), which upgrades Structured Streaming's at-least-once
  foreachBatch into exactly-once *effect* — stronger than the
  reference's at-least-once listener dispatch (SURVEY.md §3.2.4).
"""

from __future__ import annotations

import os
import shutil
import threading
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from cdc_example_spark.schemas import MESSAGES

#: Shuffle width for the per-batch collapse and merge. Micro-batches
#: are small by construction and their stages are task-launch bound, not
#: width bound, so a handful of reducers beats the session's table-scale
#: default.
MICROBATCH_SHUFFLE_PARTITIONS = 4

#: Largest bucket-directory count for which the streaming apply finds
#: its touched buckets inside the one write job (see
#: _apply_changes_locked). Past it, reading every bucket directory per
#: batch costs in proportion to the table, so larger layouts collect
#: the touched set first and read only those directories. The
#: crossover itself is unmeasured.
FUSED_APPLY_MAX_BUCKETS = 64

#: Decode split for micro-batch inputs: a batch arrives as one source
#: file, which the default 128 MB split turns into one single-threaded
#: from_json task. 512 KB parallelizes the decode.
MICROBATCH_DECODE_SPLIT_BYTES = 524_288


#: Serializes session-conf scopes package-wide: two streaming queries
#: sharing one session would otherwise interleave set/restore and leak
#: the scoped profile into each other (reentrant, so scopes may nest on
#: one thread). Also held by index_health.parquet_footer_aggregates —
#: any scope that flips session confs must take THIS lock so snapshots
#: never capture another scope's flipped values.
_MICROBATCH_CONF_LOCK = threading.RLock()


@contextmanager
def microbatch_conf(spark: SparkSession):
    """Scope the session to micro-batch work: AQE off, narrow shuffles.

    Structured Streaming exempts its own plans from AQE, but a
    ``foreachBatch`` BODY runs plain batch jobs on the session — which
    re-enter AQE and pay its per-stage re-planning on every tiny stage
    of every micro-batch (A/B at 20k-event batches: p50 4.2 s with AQE
    vs 1.6 s without; narrow shuffles take it to 1.3 s). A process-wide
    lock serializes concurrent scopes, so two streaming queries on one
    session can't interleave set/restore; ad-hoc BATCH queries running
    concurrently on the same session are still re-profiled mid-flight —
    that is inherent to runtime session confs, and such deployments
    should use a dedicated streaming session, as a real one would.
    """
    conf = spark.conf
    keys = (
        "spark.sql.adaptive.enabled",
        "spark.sql.shuffle.partitions",
        "spark.sql.files.maxPartitionBytes",
    )
    with _MICROBATCH_CONF_LOCK:
        saved = {k: conf.get(k, None) for k in keys}
        conf.set("spark.sql.adaptive.enabled", "false")
        conf.set("spark.sql.shuffle.partitions", str(MICROBATCH_SHUFFLE_PARTITIONS))
        # batch inputs are small by construction, so the small-split
        # overhead the default guards against can't bite
        conf.set(
            "spark.sql.files.maxPartitionBytes",
            str(MICROBATCH_DECODE_SPLIT_BYTES),
        )
        try:
            yield
        finally:
            for k, v in saved.items():
                if v is None:
                    conf.unset(k)
                else:
                    conf.set(k, v)


class KeyNotFoundError(Exception):
    """Update addressed a key that does not exist.

    Mirrors the reference's MessageNotFoundException
    (MessageService.kt:21-25 / MessageNotFoundException.kt:5).
    """


#: AUTO bucket-sizing bounds: a fresh auto-sized sink starts at the MIN
#: (each bucket directory costs ~15 ms/batch of small-file overhead, so
#: a toy state must not pay for 32) and grows by power-of-two
#: re-bucketing as observed state rows per bucket exceed the target —
#: the same direction-scaling discipline as SemDeDup's
#: ``n_centroids_for``. The MAX is a runaway backstop; a 100 TB
#: deployment sets ``num_buckets`` explicitly.
AUTO_MIN_BUCKETS = 8
AUTO_MAX_BUCKETS = 4096


@dataclass
class KeyedStateSink:
    """Bucket-partitioned parquet materialization of a keyed stream."""

    path: str
    key: str = "id"
    #: ``None`` (the default) = AUTO: start at :data:`AUTO_MIN_BUCKETS`
    #: for fresh state, resolve the persisted count for existing state,
    #: and grow by re-bucketing when observed rows per touched bucket
    #: exceed ``rows_per_bucket_target``. An explicit int pins the
    #: count (and must match any persisted count — changing the bucket
    #: count of live state silently mis-addresses every key).
    num_buckets: int | None = None
    #: auto-mode growth threshold: rows per TOUCHED bucket observed on
    #: the merge write (free — rides the existing Observation) above
    #: which the state re-buckets to the next power of two. ~2^18 rows
    #: ≈ tens of MB per bucket file at this row shape.
    rows_per_bucket_target: int = 262_144
    #: the TABLE's typed row schema: a second table has different
    #: columns, so the merge/state-read column lists derive from this
    #: instead of being hard-coded to the messages table. ``key`` must
    #: name one of its fields.
    schema: "StructType | None" = None

    def __post_init__(self):
        if self.schema is None:
            self.schema = MESSAGES
        if self.key not in {f.name for f in self.schema.fields}:
            raise ValueError(
                f"KeyedStateSink({self.path}): key {self.key!r} is not a "
                f"column of the declared schema"
            )
        self._auto = self.num_buckets is None
        # Serializes every apply, resize and consistent read on THIS
        # sink object: a write must never read num_buckets mid-rebucket
        # or write rows addressed with the old count into the new
        # layout, and a reader holding it sees whole batches only.
        # Reentrant: upsert_requests holds it across its not-found
        # check and the apply it calls, and the apply nests into
        # _maybe_grow. Two sink OBJECTS on one path still race — auto
        # mode is single-writer per process by contract.
        self.lock = threading.RLock()
        # crash recovery for the re-bucket swap: a crash between
        # `rename(path, path.old)` and `rename(path.rebucket, path)`
        # leaves only `.old` (the pre-resize state, fully valid) —
        # restore it; a crash after the second rename leaves a stale
        # `.old` beside the live dir — drop it. The staged `.rebucket`
        # dir is always discardable (the swap is the commit point).
        old = self.path + ".old"
        if os.path.isdir(old):
            if not os.path.isdir(self.path):
                os.rename(old, self.path)
            else:
                shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(self.path + ".rebucket", ignore_errors=True)
        persisted = self._read_meta()
        if persisted is not None:
            if self.num_buckets is not None and self.num_buckets != persisted:
                raise ValueError(
                    f"KeyedStateSink({self.path}): requested num_buckets="
                    f"{self.num_buckets} but existing state is bucketed "
                    f"{persisted}-way — changing the count on live state "
                    "mis-addresses every key (pass num_buckets=None to "
                    "resolve the persisted count)"
                )
            self.num_buckets = persisted
        elif self.num_buckets is None:
            if self.exists():
                # the count is written before the first data, so only a
                # layout from before the meta file existed lands here
                raise ValueError(
                    f"KeyedStateSink({self.path}): existing state has no "
                    "persisted bucket count — pass num_buckets= the count "
                    "it was written with"
                )
            self.num_buckets = AUTO_MIN_BUCKETS
        self._meta_written = persisted is not None
        # growth signal of the last write (consumed by _maybe_grow)
        self._last_write_rows: "int | None" = None
        self._last_write_touched = 0

    # ------------------------------------------------------------------
    # helpers
    # ------------------------------------------------------------------

    def _bucket(self, col):
        return F.pmod(F.xxhash64(col), F.lit(self.num_buckets))

    def _data_cols(self) -> "list[str]":
        return [f.name for f in self.schema.fields]

    def _state_schema(self):
        from pyspark.sql.types import LongType, StructField

        return StructType(
            list(self.schema.fields) + [StructField("bucket", LongType())]
        )

    def _state_rows(self, spark: SparkSession, buckets: "list[int]") -> DataFrame | None:
        """State rows of ``buckets`` in the change-row shape, or None
        when none of their directories exists.

        State rows carry ``is_delete`` false and a NULL ``lsn``/``ts_ms``,
        so any change row for the same key outranks them in the winner
        pass. Only the named ``bucket=`` directories are listed (one
        existence probe each) and read with a PINNED schema under
        ``basePath``: no root listing of every bucket, no
        partition-value discovery, no parquet footer schema inference.
        """
        dirs = [
            d
            for b in buckets
            if os.path.isdir(d := os.path.join(self.path, f"bucket={b}"))
        ]
        if not dirs:
            return None
        return (
            spark.read.schema(self._state_schema())
            .option("basePath", self.path)
            .parquet(*dirs)
            .select(
                F.col(self.key).alias("key_id"),
                "bucket",
                F.lit(False).alias("is_delete"),
                *self._data_cols(),
                F.lit(None).cast("long").alias("lsn"),
                F.lit(None).cast("long").alias("ts_ms"),
            )
        )

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.path, "_SUCCESS")) or any(
            n.startswith("bucket=") for n in (os.listdir(self.path) if os.path.isdir(self.path) else [])
        )

    def snapshot(self, spark: SparkSession) -> DataFrame:
        """Current materialized table (without the bucket column).

        ``snapshot`` takes no lock itself. A caller that needs a
        consistent view holds :attr:`lock` from this call through its
        action, as ``MessageRestServer`` does on every request; applies
        and re-buckets hold the same lock, so such a reader sees the
        table before or after a batch, never part of one.

        An unlocked read can land inside the re-bucket swap window,
        where ``path`` has been renamed to ``.old`` but the staged dir
        not yet renamed in. Renames are atomic, so exactly one of the
        two dirs holds the complete pre-swap state — fall back to
        ``.old`` instead of serving a momentarily-empty table. That
        fallback frame is pinned eagerly: ``.old`` is removed the moment
        the swap completes, so a lazy plan over it would throw
        FileNotFoundException at the caller's action. The live-path
        read stays lazy (a read must not pay an extra scan) but sets
        ``ignoreMissingFiles``, so an unlocked action racing a later
        re-bucket skips vanished files instead of failing.
        """
        # third element: if `.old` vanished between its check and read
        # (the swap + cleanup completed mid-call), the live dir is back
        for candidate in (self.path, self.path + ".old", self.path):
            if not (
                os.path.exists(os.path.join(candidate, "_SUCCESS"))
                or any(
                    n.startswith("bucket=")
                    for n in (
                        os.listdir(candidate) if os.path.isdir(candidate) else []
                    )
                )
            ):
                continue
            try:
                df = (
                    spark.read.option("ignoreMissingFiles", "true")
                    .parquet(candidate)
                    .drop("bucket")
                )
                if candidate != self.path:
                    # `.old` is deleted right after the swap: pin its
                    # contents now so the returned frame outlives it.
                    df = df.localCheckpoint(eager=True)
                return df
            except Exception:
                # dir exists but holds no part files (everything
                # deleted), or vanished between the check and the read
                # (the swap completed) — try the other candidate.
                continue
        return spark.createDataFrame([], self.schema)

    # ------------------------------------------------------------------
    # the CDC apply (foreachBatch body)
    # ------------------------------------------------------------------

    def _meta_path(self) -> str:
        return os.path.join(self.path, "_num_buckets")

    def _read_meta(self) -> "int | None":
        try:
            with open(self._meta_path()) as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return None

    def _write_meta(self) -> None:
        # write-then-rename, same torn-write discipline as the batch
        # marker; persisted so a restarted process (or another sink
        # object) resolves the count the state was actually hashed with.
        tmp = self._meta_path() + ".tmp"
        os.makedirs(self.path, exist_ok=True)
        with open(tmp, "w") as f:
            f.write(str(self.num_buckets))
        os.replace(tmp, self._meta_path())

    def _marker_path(self) -> str:
        return os.path.join(self.path, "_applied_batch_id")

    def last_applied_batch_id(self) -> int | None:
        """High-watermark of the last fully merged batch id (None if
        no batch carrying an id has been applied)."""
        try:
            with open(self._marker_path()) as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return None

    def _record_batch_id(self, batch_id: int) -> None:
        # write-then-rename so a crash mid-write never leaves a torn
        # marker; a crash BETWEEN the merge and this rename re-delivers
        # the batch, and the re-merge is idempotent (same LSN winners →
        # same state), so the effect stays exactly-once either way.
        tmp = self._marker_path() + ".tmp"
        os.makedirs(self.path, exist_ok=True)
        with open(tmp, "w") as f:
            f.write(str(batch_id))
        os.replace(tmp, self._marker_path())

    def apply_changes(self, changes: DataFrame, batch_id: int | None = None) -> bool:
        """MERGE one batch of routed changes (see envelope.route_changes).

        Expected columns: key_id, is_delete, after (struct), lsn, ts_ms.
        This is the sink's one MERGE: the streaming foreachBatch and
        the service-level ``upsert_requests``/``delete_keys`` all apply
        through it.

        When ``batch_id`` is passed (foreachBatch does), a persisted
        high-watermark skips batches already fully merged — the
        at-least-once redelivery window (crash between this sink's write
        and the streaming checkpoint commit) becomes a metadata no-op
        instead of a re-merge. Without an id the re-merge itself is
        idempotent, so correctness never depends on the marker.

        Returns True when the batch was actually merged, False on the
        marker no-op — so callers with side-effecting per-batch hooks
        (materialize*'s ``on_batch``) can skip redeliveries instead of
        observing duplicate (topic, batch_id) invocations.
        """
        with self.lock:
            return self._apply_changes_locked(changes, batch_id)

    def _apply_changes_locked(self, changes: DataFrame, batch_id: int | None) -> bool:
        spark = changes.sparkSession
        if batch_id is not None:
            last = self.last_applied_batch_id()
            if last is not None and batch_id <= last:
                return False
        # The per-batch latency floor is job-launch bound, so the job
        # count IS the latency. Both shapes run the same winner pass and
        # overwrite (_winner_rows → _overwrite_touched) and differ only
        # in how the touched buckets are found:
        # - up to FUSED_APPLY_MAX_BUCKETS bucket dirs, ONE job: list the
        #   dirs from the filesystem (zero jobs — the dirs are the
        #   truth), restrict the state side in-plan with a broadcast
        #   semi-join against the batch's buckets, and recover the
        #   touched set after the write from an Observation on the
        #   change rows. An empty batch writes nothing.
        # - above it, TWO jobs: collect the touched set first and read
        #   only those dirs. The semi-join would not save the listing
        #   and footer cost of thousands of dirs; the explicit list does.
        with microbatch_conf(spark):
            ch = changes.withColumn("bucket", self._bucket(F.col("key_id")))
            existing = self._existing_buckets()
            if len(existing) <= FUSED_APPLY_MAX_BUCKETS:
                touched_obs = Observation()
                state = self._state_rows(spark, existing)
                if state is not None:
                    # only touched buckets' state enters the winner
                    # pass, so untouched buckets are never rewritten
                    state = state.join(
                        F.broadcast(ch.select("bucket").distinct()),
                        on="bucket",
                        how="left_semi",
                    )

                def touched() -> "list[int]":
                    # same elision caveat as the write metric in
                    # _overwrite_touched: re-plan the tiny distinct
                    try:
                        return touched_obs.get["touched"]
                    except Exception:
                        return [
                            r["bucket"]
                            for r in ch.select("bucket").distinct().collect()
                        ]

                observed = ch.observe(
                    touched_obs, F.collect_set("bucket").alias("touched")
                )
                self._overwrite_touched(self._winner_rows(observed, state), touched)
            else:
                buckets = ch.agg(F.collect_set("bucket")).first()[0]
                if buckets:
                    state = self._state_rows(spark, buckets)
                    self._overwrite_touched(
                        self._winner_rows(ch, state), lambda: buckets
                    )
            if batch_id is not None:
                self._record_batch_id(batch_id)
        # auto-mode growth check runs OUTSIDE the micro-batch conf scope
        # (the re-bucket rewrite is a table-scale maintenance job, not a
        # micro-batch), and after the marker: a crash mid-resize simply
        # retries the resize on the next batch.
        self._maybe_grow(spark)
        return True

    def _existing_buckets(self) -> "list[int]":
        """The state's bucket ordinals straight from the directory
        names — a filesystem listing, zero Spark jobs (the dirs ARE
        the truth; _state_rows reads the same names)."""
        if not os.path.isdir(self.path):
            return []
        out = []
        for d in os.listdir(self.path):
            if d.startswith("bucket="):
                try:
                    out.append(int(d[len("bucket="):]))
                except ValueError:
                    continue
        return sorted(out)

    def _winner_rows(self, ch: DataFrame, state: "DataFrame | None") -> DataFrame:
        """The per-key winner pass: change rows projected to the state
        shape, unioned with the touched buckets' state rows, through one
        window clustered by bucket. Changes sort by (lsn, ts_ms) desc —
        never trust arrival order after a shuffle; the LSN is the
        authoritative order — and state rows (NULL lsn) after any
        change, so 'first row of each key run wins' gives intra-batch
        collapse, MERGE semantics, delete-drop and resurrection in a
        single exchange."""
        data_cols = self._data_cols()
        allr = ch.select(
            "key_id",
            "bucket",
            "is_delete",
            *[F.col(f"after.{c}").alias(c) for c in data_cols],
            "lsn",
            "ts_ms",
        )
        if state is not None:
            allr = state.unionByName(allr)
        w = Window.partitionBy("bucket").orderBy(
            "key_id",
            F.col("lsn").desc_nulls_last(),
            F.col("ts_ms").desc_nulls_last(),
        )
        prev_key = F.lag("key_id").over(w)
        return (
            allr.withColumn(
                "_win", prev_key.isNull() | (prev_key != F.col("key_id"))
            )
            .filter(F.col("_win") & ~F.col("is_delete"))
            .select(*data_cols, "bucket")
        )

    def _overwrite_touched(
        self, out: DataFrame, touched: "Callable[[], list[int]]"
    ) -> None:
        # Overwrite exactly the touched bucket directories in ONE write
        # job via dynamic partition overwrite (a per-bucket write loop is
        # num_buckets Spark jobs per micro-batch — 4× the throughput cost
        # measured by bench_streaming.py). `out` arrives hash-partitioned
        # by bucket from the winner window's exchange, so each task
        # writes one file per bucket with no extra shuffle. Reading the
        # state files being replaced is safe: tasks write to a staging
        # dir and the commit (directory swap) happens only after the
        # job — i.e. after all reads — complete. Dynamic mode skips a
        # bucket whose keys were ALL deleted (zero output rows), so
        # those stale directories are removed explicitly, detected via
        # an Observation on the same write job (a separate counting job
        # would double the per-batch job count). `touched` resolves the
        # touched bucket set after the write. (With a lakehouse table
        # format this whole method is a single MERGE INTO.)
        obs = Observation()
        # n_rows rides the same write-job Observation for free: in auto
        # mode it is the growth signal (state rows of the touched
        # buckets after this merge).
        observed = out.observe(
            obs,
            F.collect_set("bucket").alias("nonempty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        # persist the count the data is about to be hashed with BEFORE
        # the data lands: a crash between a first write and a post-write
        # meta would leave state that names no count. Meta-then-crash is
        # safe: a count with no data resolves to exactly that count for
        # the retried write.
        if not self._meta_written:
            self._write_meta()
            self._meta_written = True
        (
            observed.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(self.path)
        )
        written: "int | None" = None
        try:
            metrics = obs.get
            nonempty = set(metrics["nonempty"])
            written = int(metrics["n_rows"])
        except Exception:
            # PropagateEmptyRelation elides the CollectMetrics node when
            # `out` is statically empty, and AQE's runtime empty-relation
            # propagation does the same for plans that turn out empty
            # mid-query (deletes-only batch on empty state) — either way
            # the metric never fires. Re-evaluating the (empty) plan is
            # safe and yields no buckets; both branches are pinned by
            # test_merge_metric_fallback_on_statically_empty_plan.
            nonempty = {
                r["bucket"]
                for r in out.groupBy("bucket").count().filter("count > 0").collect()
            }
        buckets = touched()
        for b in buckets:
            if b not in nonempty:
                shutil.rmtree(os.path.join(self.path, f"bucket={b}"), ignore_errors=True)
        # growth signal for auto mode (consumed by _maybe_grow)
        self._last_write_rows = written
        self._last_write_touched = len(buckets)

    def _maybe_grow(self, spark: SparkSession) -> None:
        """AUTO mode: re-bucket (up OR down, powers of two) when the
        last merge's observed state rows per touched bucket leave the
        target band.

        The signal rides the write-job Observation (zero extra jobs):
        rows written / buckets touched is exactly the per-bucket state
        density the next batch's read+rewrite pays. Re-bucketing reads
        the table once and rewrites it — the classic amortized hash
        resize: O(log(final/initial)) rewrites over the table's
        lifetime, each paid for by the growth that triggered it. A
        100 TB deployment pins ``num_buckets`` explicitly and never
        enters this path.
        """
        if not self._auto:
            return
        with self.lock:
            self._maybe_grow_locked(spark)

    def _maybe_grow_locked(self, spark: SparkSession) -> None:
        written = self._last_write_rows
        touched = self._last_write_touched
        # consume the observation NOW: a later batch that
        # performs no write (empty micro-batch, no touched buckets)
        # re-enters this check, and a stale density multiplied by the
        # already-grown count would double the buckets again on every
        # non-writing batch — each a full-table rewrite.
        self._last_write_rows = None
        self._last_write_touched = 0
        if written is None or not touched:
            return
        per_bucket = written / touched
        est_total = per_bucket * self.num_buckets
        target = self.rows_per_bucket_target
        # observation breadth: a batch that touched ≥ half the buckets
        # samples the table well enough to act at the threshold; a
        # narrow (point-write/point-delete) observation extrapolates
        # hash-placement noise, so it must clear 2× the target before
        # a grow is believed — and is never trusted for a shrink.
        broad = touched * 2 >= self.num_buckets
        grow_at = target if broad else 2 * target
        if per_bucket > grow_at and self.num_buckets < AUTO_MAX_BUCKETS:
            new_count = self.num_buckets
            while new_count < AUTO_MAX_BUCKETS and est_total / new_count > target:
                new_count *= 2
            if new_count != self.num_buckets:
                self._rebucket(spark, new_count)
            return
        # shrink path: after a mass delete a grown
        # state would serve a handful of rows as hundreds of small
        # files forever. Two guards keep it from thrashing: (1) the
        # batch must have touched ≥ half the buckets — the extrapolated
        # density is only trustworthy for purge/truncation-shaped
        # batches, never a 2-bucket point delete against a full table;
        # (2) hysteresis — trigger below ¼ of the target and land at
        # ≤ ½ of it, so a post-shrink state sits between the two
        # thresholds and neither re-grows nor re-shrinks.
        if (
            self.num_buckets > AUTO_MIN_BUCKETS
            and broad
            and per_bucket < target / 4
        ):
            new_count = self.num_buckets
            while (
                new_count > AUTO_MIN_BUCKETS
                and est_total / (new_count // 2) <= target / 2
            ):
                new_count //= 2
            if new_count != self.num_buckets:
                self._rebucket(spark, new_count)

    def _rebucket(self, spark: SparkSession, new_count: int) -> None:
        """Rewrite the state hashed ``new_count``-way: staged write +
        directory swap, so a crash never leaves mixed addressing; the
        batch marker travels with the swap."""
        snap = self.snapshot(spark)
        staged = self.path + ".rebucket"
        shutil.rmtree(staged, ignore_errors=True)
        (
            snap.withColumn(
                "bucket", F.pmod(F.xxhash64(F.col(self.key)), F.lit(new_count))
            )
            .repartition(min(new_count, 32), F.col("bucket"))
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(staged)
        )
        marker = self._marker_path()
        if os.path.exists(marker):
            shutil.copy2(marker, os.path.join(staged, os.path.basename(marker)))
        # stage the NEW count's meta beside the marker so the directory
        # swap commits data+meta atomically: live state is never hashed
        # with a count its meta does not name (a mismatch would
        # mis-address every key).
        with open(os.path.join(staged, "_num_buckets"), "w") as f:
            f.write(str(new_count))
        old = self.path + ".old"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(self.path, old)
        os.rename(staged, self.path)
        shutil.rmtree(old, ignore_errors=True)
        self.num_buckets = new_count
        self._meta_written = True

    # ------------------------------------------------------------------
    # write-path operators (A12/A13): service-level upsert/delete
    # ------------------------------------------------------------------

    def upsert_requests(self, requests: DataFrame, now) -> DataFrame:
        """Batch twin of MessageService.upsertMessage (MessageService.kt:18-34).

        Returns the saved row images (generated ids included), one per
        request row — the analog of the reference's read-back-and-return
        (MessageService.kt:33, "read back to return the correct time
        stamps"); here the materialized rows ARE the written values, so
        no second read is needed.

        ``requests``: columns (id nullable, username, message). Semantics:
        - id NULL → insert with generated uuid, create_time = update_time = now
          (CdcApplicationTests.kt:25 invariant);
        - id present & exists → update preserving create_time
          (MessageService.kt:21-25: COALESCE(old.create_time, —)), new
          update_time;
        - id present & missing → KeyNotFoundError
          (MessageService.kt:23-24).

        The rows apply through :meth:`apply_changes` with request order
        as their ``lsn``, so rows naming the same id collapse to the
        last one, as if the requests ran one after another. The sink
        lock is held from the not-found check through the write, the
        engine analog of the reference's SERIALIZABLE transaction.
        """
        spark = requests.sparkSession
        now_col = F.lit(now).cast("timestamp")
        requests = requests.withColumn("lsn", F.monotonically_increasing_id())
        with self.lock:
            state = self.snapshot(spark)
            with_id = requests.filter(F.col("id").isNotNull())
            missing = with_id.join(state.select("id"), on="id", how="left_anti")
            hit = missing.select("id").take(1)  # one driver round trip, not two
            if hit:
                raise KeyNotFoundError(f"update of non-existent key: {hit[0][0]}")

            inserts = requests.filter(F.col("id").isNull()).select(
                F.expr("uuid()").alias("id"),
                now_col.alias("create_time"),
                now_col.alias("update_time"),
                "message",
                "username",
                "lsn",
            )
            updates = (
                with_id.alias("r")
                .join(state.alias("s"), on="id", how="inner")
                .select(
                    F.col("id"),
                    # create_time preserved from existing row
                    F.col("s.create_time").alias("create_time"),
                    now_col.alias("update_time"),
                    F.col("r.message").alias("message"),
                    F.col("r.username").alias("username"),
                    F.col("r.lsn").alias("lsn"),
                )
            )
            # uuid() is NON-deterministic and the apply reads its input
            # more than once (the write job and the touched-bucket
            # fallback). Materialize the generated ids once so every
            # read, and the returned rows, see identical keys.
            new_rows = inserts.unionByName(updates).localCheckpoint(eager=True)
            self.apply_changes(
                new_rows.select(
                    F.col("id").alias("key_id"),
                    F.lit(False).alias("is_delete"),
                    F.struct(*self._data_cols()).alias("after"),
                    "lsn",
                    F.col("lsn").alias("ts_ms"),
                )
            )
        return new_rows.drop("lsn")

    def delete_keys(self, keys: DataFrame) -> None:
        """Batch twin of MessageService.deleteMessage (MessageService.kt:36-39)."""
        self.apply_changes(
            keys.select(
                F.col(keys.columns[0]).alias("key_id"),
                F.lit(True).alias("is_delete"),
                F.lit(None).cast(self.schema).alias("after"),
                F.lit(0).cast("long").alias("lsn"),
                F.lit(0).cast("long").alias("ts_ms"),
            )
        )
