"""File-backed MQ broker — the Kafka/Pulsar produce/consume seam without a
live broker in the sandbox.

The reference's MQ sink (cdc/sink/dmlsink/mq/mq_dml_sink.go + the kafka
producer in pkg/sink/kafka) guarantees exactly one property the rest of the
system depends on: messages of one (topic, partition) are appended in
dispatch order and a consumer replays them by ascending offset. Production
Spark deployments get this from the built-in Kafka sink
(``df.write.format("kafka")`` — same topic/key/value contract, partition
chosen by the producer from our ``partition`` column); this module keeps the
contract *testable* here:

- :func:`produce_file_broker` appends one parquet "segment" per produce call,
  hash-partitioned on (topic, partition) with in-batch offsets — a map-side
  write plus one per-partition window, no global shuffle.
- :func:`read_segments` reads the segments with their position
  (batch_id, batch_offset) under the fixed :data:`SEGMENT_SCHEMA`. Within
  one (topic, partition) that position is the append order, so the
  consumer folds (streaming/consumer.py) order by it directly.
- :func:`consume_file_broker` numbers the position as dense global
  per-partition offsets — the Kafka consumer view, for callers that expose
  offsets. Numbering costs a (topic, partition) exchange.

Scale: the broker directory is partitioned by (topic, partition), so a
consumer of one topic prunes to that subtree; offset assignment windows over
single (topic, partition) groups — the same per-partition ordering cost any
Kafka producer pays. At 100 TB the broker IS Kafka and this module's column
contract is the only thing the engine sees.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

#: columns a produce batch must carry (ordering columns included — the MQ
#: sink receives the dispatched, causality-ordered stream)
MESSAGE_COLS = ("topic", "partition", "key", "value", "commit_ts", "seq")

#: what :func:`produce_file_broker` writes: the message columns plus the
#: segment position, with topic and partition as directory partition
#: columns. The value is a string for the text protocols and binary for
#: avro and for values compressed by codecs.compress.
SEGMENT_SCHEMA = (
    "key STRING, value STRING, commit_ts BIGINT, seq BIGINT, "
    "batch_id BIGINT, batch_offset BIGINT, topic STRING, partition INT"
)


def produce_file_broker(
    msgs: DataFrame,
    broker_dir: str,
    batch_id: int = 0,
    transport_compression: str | None = None,
) -> None:
    """Append one batch of messages to the file broker.

    In-batch offsets follow (commit_ts, seq) — the dispatch order the
    conflict detector established; replaying the same batch_id is
    idempotent at the consumer (same segment, same offsets). The stored
    columns are cast to :data:`SEGMENT_SCHEMA`, so readers need not infer
    it.

    ``transport_compression`` ("snappy"/"lz4"/"zstd"/…) is the production
    compression switch (codec `engine="transport"`): the segment writer
    compresses JVM-side — the file-broker analogue of the Kafka
    producer's `compression.codec` (pkg/sink/kafka/options.go). Message
    values stay uncompressed in the plan; no Python in the hot path."""
    w = Window.partitionBy("topic", "partition").orderBy("commit_ts", "seq")
    writer = (
        msgs.select(
            "topic",
            "partition",
            F.col("key").cast("string").alias("key"),
            "value",
            F.col("commit_ts").cast("long").alias("commit_ts"),
            F.col("seq").cast("long").alias("seq"),
        )
        .withColumn("batch_id", F.lit(batch_id).cast("long"))
        .withColumn("batch_offset", (F.row_number().over(w) - 1).cast("long"))
        .write.mode("append")
        .partitionBy("topic", "partition")
    )
    if transport_compression is not None:
        writer = writer.option("compression", transport_compression)
    writer.parquet(broker_dir)


def read_segments(
    spark: SparkSession,
    broker_dir: str,
    topic: str | None = None,
    value_type: str = "string",
) -> DataFrame:
    """Broker messages with their segment position (batch_id,
    batch_offset), read under :data:`SEGMENT_SCHEMA` — no footer-inference
    job and no exchange. Within one (topic, partition) the position orders
    messages exactly as :func:`consume_file_broker`'s offsets do, because
    those offsets number the same order. ``value_type="binary"`` reads
    avro payloads. A topic filter prunes to its partition subtree."""
    schema = SEGMENT_SCHEMA.replace("value STRING", f"value {value_type}")
    df = spark.read.schema(schema).parquet(broker_dir)
    if topic is not None:
        df = df.filter(F.col("topic") == topic)
    return df


def consume_file_broker(
    spark: SparkSession, broker_dir: str, topic: str | None = None
) -> DataFrame:
    """Replay broker messages with global per-(topic, partition) offsets.

    The value keeps its stored type (string or binary). A topic filter
    prunes to its partition subtree (partition-pruned scan, no
    full-broker read)."""
    df = spark.read.parquet(broker_dir)
    if topic is not None:
        df = df.filter(F.col("topic") == topic)
    w = Window.partitionBy("topic", "partition").orderBy(
        "batch_id", "batch_offset"
    )
    return df.withColumn(
        "offset", (F.row_number().over(w) - 1).cast("long")
    ).select(
        "topic", "partition", "offset", "key", "value", "commit_ts", "seq"
    )


def assign_flush_on_resolved(
    dml: DataFrame, resolved: DataFrame
) -> DataFrame:
    """Consumer-side event grouping: which watermark flushes each event.

    The MQ consumer buffers DML per (partition, table) and flushes
    everything with ``commit_ts <= resolved_ts`` when a resolved-ts control
    message arrives on that partition (cmd/kafka-consumer/event_group.go:
    Append tracks the group; Resolve drains the prefix). The protocol
    guarantees a resolved message follows every event below its ts on that
    partition, so the flush a row belongs to is simply the FIRST
    resolved_ts >= commit_ts — rows beyond the last watermark stay
    buffered (flush_wm NULL).

    ``resolved``: (partition, resolved_ts) — one row per control message.
    Scale shape: the control stream is metadata-sized (one message per
    partition per flush interval), so the range join broadcasts it; the
    min-aggregation groups on the DML's own key space. No data-sized
    shuffle is added beyond the groupBy.
    """
    from pyspark.sql.functions import broadcast

    r = resolved.select(
        F.col("partition").alias("_rp"), F.col("resolved_ts").alias("_rts")
    )
    cols = dml.columns
    joined = dml.join(
        broadcast(r),
        (F.col("partition") == F.col("_rp"))
        & (F.col("_rts") >= F.col("commit_ts")),
        "left",
    )
    return joined.groupBy(*[F.col(c) for c in cols]).agg(
        F.min("_rts").alias("flush_wm")
    )


def produce_file_broker_stream(
    stream: DataFrame,
    broker_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str | None = None,
    transport_compression: str | None = None,
):
    """CONTINUOUS produce: a dispatched change stream feeds the broker via
    ``writeStream``/``foreachBatch`` — the live-broker path of the MQ sink
    (mq_dml_sink.go's worker loop), not a batch replay.

    Each micro-batch appends one segment with the engine's monotone
    ``batch_id``, so consumer order (batch_id, batch_offset) extends the
    produce order across the stream's lifetime. Delivery is AT-LEAST-ONCE:
    a crash after the segment write but before the checkpoint commit makes
    the replayed batch append a duplicate segment — exactly the reference
    kafka sink's delivery guarantee (TiCDC MQ sinks are at-least-once;
    consumers are idempotent by commit_ts/last-writer-wins, which
    ``streaming.consumer.replay_broker_to_state`` implements).

    In production the same stream goes to ``format("kafka")`` with the
    identical topic/key/value/partition column contract; this keeps the
    produce seam testable in-sandbox. Returns the StreamingQuery.
    """
    q = (
        stream.writeStream.foreachBatch(
            lambda batch, bid: produce_file_broker(
                batch, broker_dir, bid,
                transport_compression=transport_compression,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
    )
    if processing_time is not None:
        # STANDING producer: tail the source live (the reference's normal
        # MQ changefeed lifecycle); stop with q.stop() and resume on the
        # same checkpoint in either trigger mode
        q = q.trigger(processingTime=processing_time)
    elif available_now:
        q = q.trigger(availableNow=True)
    return q.start()
