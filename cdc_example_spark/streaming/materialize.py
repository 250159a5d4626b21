"""Structured-Streaming wiring: CDC source → decode → route → apply.

The reference's hot path (SURVEY.md §3.2) as one incrementalized query:
Kafka (or file/test) source → from_json decode → after-IS-NULL routing
→ foreachBatch MERGE into a KeyedStateSink. The foreachBatch boundary
is where Spark's micro-batch offsets + the sink's idempotent MERGE
combine into an exactly-once effect.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from cdc_example_spark.operators.keyed_state import KeyedStateSink
from cdc_example_spark.streaming.envelope import decode_envelope, route_changes


def kafka_cdc_source(
    spark: SparkSession,
    brokers: str,
    topic: str = "messages.public.messages",
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka change-stream source (reference A1/A2).

    The reference subscribes with a per-instance consumer group and
    ``auto-offset-reset: latest`` (application.yaml:9-12) — each Spark
    query owning its own checkpoint directory is the same broadcast
    topology. Requires the spark-sql-kafka package on the cluster; in
    this container tests use :func:`file_cdc_source` instead.
    """
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )


def file_cdc_source(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 1,
    with_topic: bool = False,
) -> DataFrame:
    """File-based CDC source (test double; SURVEY.md §2.2 'file/memory stream').

    Reads JSON lines shaped ``{"key": "<kafka key json>", "value":
    "<envelope json>"}`` — one file per emitted micro-batch, matching
    how the S-tests replay the reference's integration scenario.
    ``with_topic`` adds the ``topic`` column a real Kafka source always
    carries (required by :func:`materialize_tables`).
    """
    schema = "key STRING, value STRING"
    if with_topic:
        schema += ", topic STRING"
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
    )


def materialize(
    raw_stream: DataFrame,
    sink: KeyedStateSink,
    checkpoint_dir: str,
    on_batch: Callable[[DataFrame, int], None] | None = None,
    trigger_once: bool = False,
    processing_time: str = "500 milliseconds",
    agg_sinks: "Sequence[object] | None" = None,
    converter: str = "json",
    registry_url: "str | None" = None,
) -> StreamingQuery:
    """Start the decode→route→apply query against ``sink``.

    ``converter`` selects the envelope wire format — ``"json"``
    (JsonConverter, the reference's active config) or ``"avro"``
    (the Confluent AvroConverter variant the reference ships commented
    out; ``streaming/avro_envelope.py``). The decoders share an output
    contract, so everything downstream of the decode is literally the
    same code — the one-line swap Kafka Connect users expect
    (pipeline parity pinned end-to-end in tests/test_avro_envelope.py).

    ``on_batch`` is the in-process pub/sub analog (reference A7): extra
    listeners (websocket fan-out, metrics) observe each routed
    micro-batch after the state merge, like the reference's
    ``@EventListener`` twins. It fires only when the merge actually
    happened: on crash-redelivery the sink's batch marker no-ops the
    merge and the callback is skipped too (ADVICE r9), so a
    side-effecting listener sees each batch_id at most once.

    ``agg_sinks`` — IncrementalAggSink instances (operators/
    incremental_agg) maintained from the SAME micro-batch. They fold
    BEFORE the base merge (their old-image lookup is against the
    pre-batch snapshot) and are individually exactly-once via their
    versioned state, so a crash between an agg commit and the base
    merge re-delivers the batch as a metadata no-op on the committed
    agg and a normal apply on the rest. A sink attached after the base
    table already holds history bootstraps its first version from the
    pre-batch base snapshot, so attachment time doesn't matter.
    """
    if converter == "avro":
        from cdc_example_spark.streaming.avro_envelope import decode_avro_envelope

        # registry_url: per-frame schema-id resolution against a
        # Confluent Schema Registry, pinned-schema fallback (item 8)
        decoded = decode_avro_envelope(raw_stream, registry_url=registry_url)
    elif converter == "json":
        decoded = decode_envelope(raw_stream)
    else:
        raise ValueError(f"materialize: unknown converter {converter!r}")
    routed = route_changes(decoded)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            if agg_sinks:
                snap = sink.snapshot(batch_df.sparkSession)
                for agg in agg_sinks:
                    agg.apply_changes(batch_df, snap, batch_id=batch_id)
            merged = sink.apply_changes(batch_df, batch_id)
            if on_batch is not None and merged:
                on_batch(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    writer = routed.writeStream.foreachBatch(_apply).option("checkpointLocation", checkpoint_dir)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def materialize_tables(
    raw_stream: DataFrame,
    sinks: "dict[str, KeyedStateSink]",
    checkpoint_dir: str,
    on_batch: "Callable[[str, DataFrame, int], None] | None" = None,
    trigger_once: bool = False,
    processing_time: str = "500 milliseconds",
    converter: str = "json",
    registry_url: "str | None" = None,
) -> StreamingQuery:
    """Multi-table CDC: ONE stream → per-topic KeyedStateSink routing
    (VERDICT r8 item 5).

    Debezium emits one topic per table (reference
    ``setup-debezium.sh:22-27`` — ``topic.prefix`` +
    ``schema.table``), so a real deployment's second table would
    otherwise need a second stream + checkpoint + consumer group. This
    runs the whole feed through ONE decode→route pass and ONE
    checkpoint: the ``foreachBatch`` body lists the topics present in
    the micro-batch (one tiny distinct job — absent tables cost zero
    work, not an empty merge job each) and applies each topic's slice
    to its sink with the shared ``batch_id``.

    Exactly-once composition: each sink keeps its own applied-batch
    marker, so a crash mid-fan-out redelivers the batch as a metadata
    no-op on the sinks that committed and a normal idempotent MERGE on
    the rest — the same argument as ``materialize``'s agg sinks. The
    per-topic ``on_batch`` callback follows the marker (ADVICE r9): it
    fires only for topics whose slice was actually merged, so on a
    redelivery the already-committed topics do not observe a duplicate
    (topic, batch_id) invocation.
    Rows whose topic has no registered sink are dropped (the subscribe
    pattern defines the table universe; an unrouted topic is the
    upstream misconfiguration case, surfaced via ``on_batch``'s
    per-topic callback never firing for it).

    ``raw_stream`` must carry a ``topic`` column (Kafka sources always
    do; the file double via ``with_topic=True``). ``converter`` selects
    the wire format like :func:`materialize` — the topic rides through
    either decoder.

    Heterogeneous tables (S14, VERDICT r9 item 3): when any sink
    declares a non-default row schema, each topic decodes with its OWN
    envelope — Debezium emits a distinct ``after`` schema per topic, so
    a single shared envelope cannot carry a second table with different
    columns. The stream then stays RAW (key, value, topic) through the
    checkpoint and the per-topic slice decodes inside the foreachBatch
    (the slice is already per-topic, so the decode schema is exact);
    JSON derives the envelope via ``cdc_envelope_for``, Avro derives
    the per-topic writer schema via ``avro_row_schema`` — both from the
    sink's declared ``schema``/``key``. Homogeneous feeds keep the
    r9 shared-decode plan (one decode pass before the fan-out).
    """
    if converter not in ("json", "avro"):
        raise ValueError(f"materialize_tables: unknown converter {converter!r}")
    from cdc_example_spark.schemas import MESSAGES

    heterogeneous = any(s.schema != MESSAGES for s in sinks.values())

    def _decode_slice(slice_raw: DataFrame, sink: "KeyedStateSink") -> DataFrame:
        if converter == "avro":
            from cdc_example_spark.streaming.avro_envelope import (
                decode_avro_envelope,
            )

            return decode_avro_envelope(
                slice_raw,
                registry_url=registry_url,
                table_schema=sink.schema,
                key_field=sink.key,
            )
        return decode_envelope(
            slice_raw, row_schema=sink.schema, key_field=sink.key
        )

    if heterogeneous:
        routed = raw_stream  # decode happens per-slice in the batch body
    else:
        if converter == "avro":
            from cdc_example_spark.streaming.avro_envelope import (
                decode_avro_envelope,
            )

            decoded = decode_avro_envelope(
                raw_stream, registry_url=registry_url, topic_col="topic"
            )
        else:
            decoded = decode_envelope(raw_stream, topic_col="topic")
        routed = route_changes(decoded)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            present = {
                r[0]
                for r in batch_df.select("topic").distinct().collect()
            }
            for topic in sorted(sinks):
                if topic not in present:
                    continue
                slice_df = batch_df.filter(F.col("topic") == topic).drop("topic")
                if heterogeneous:
                    slice_df = route_changes(
                        _decode_slice(slice_df, sinks[topic])
                    )
                merged = sinks[topic].apply_changes(slice_df, batch_id)
                if on_batch is not None and merged:
                    on_batch(topic, slice_df, batch_id)
        finally:
            batch_df.unpersist()

    writer = routed.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def file_avro_cdc_source(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 1,
    with_topic: bool = False,
) -> DataFrame:
    """File-based AVRO CDC source (the ``converter="avro"`` test double):
    parquet files carrying Confluent-framed binary (key, value) columns
    — the byte-for-byte shape a Kafka source with AvroConverter
    producers would deliver. ``with_topic`` adds the topic column for
    :func:`materialize_tables`."""
    schema = "key BINARY, value BINARY"
    if with_topic:
        schema += ", topic STRING"
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        # one parquet DIRECTORY per replayed batch (writers emit
        # part files + _SUCCESS): recurse and glob like the S-test
        # replay harness, or the source lists zero files
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )
