"""Operator utilities — the reference's small CLI helpers as functions.

filter_helper: cmd/filter-helper/main.go — test filter rules against table
names before deploying a task: for each (schema, table), report whether
the block/allow list keeps it and where routing would send it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiflow_spark.config import TaskConfig
from tiflow_spark.operators.filters import table_filter_predicate
from tiflow_spark.operators.transforms import route


def filter_helper(
    spark: SparkSession, cfg: TaskConfig, names: list[tuple[str, str]]
) -> DataFrame:
    """(schema, table) pairs → (kept, target_schema, target_table)."""
    df = spark.createDataFrame(names, ["schema", "table"])
    kept = df.withColumn("kept", table_filter_predicate(cfg))
    routed = route(kept, cfg)
    return routed.select(
        "schema",
        "table",
        "kept",
        F.when(F.col("kept"), F.col("target_schema")).alias("target_schema"),
        F.when(F.col("kept"), F.col("target_table")).alias("target_table"),
    )


def target_maintenance(
    spark: SparkSession, path: str, action: str, **kwargs
) -> dict:
    """Maintenance surface for a hash-bucket target — the `cdc cli` /
    dmctl analog for the engine's own storage (compaction, GC, resize,
    truncate recovery). Returns a small status dict the caller can log.

    Actions:
      compact          — fold merge-on-read deltas into buckets
      purge            — reclaim tombstones below kwargs[safepoint_ts]
                         (pkg/txnutil/gc safepoint semantics)
      resize           — re-home to kwargs[n_buckets] buckets
      recover-table    — clear a truncate watermark for kwargs[table]
                         (FLASHBACK/recover table job type)
      syncpoint        — hardlink-snapshot the target under
                         kwargs[snapshots_root] at kwargs[primary_ts]
                         (syncpointstore consistent-read analog)
      status           — bucket/delta/meta inventory, no changes
    """
    import os

    from tiflow_spark.sinks.bucketed import (
        compact_deltas,
        list_deltas,
        purge_tombstones,
        read_target_meta,
        recover_table,
        resize_buckets,
        syncpoint_snapshot,
    )

    if action == "compact":
        folded = compact_deltas(spark, path)
        return {"action": action, "deltas_folded": folded}
    if action == "purge":
        purge_tombstones(spark, path, int(kwargs["safepoint_ts"]))
        return {"action": action, "safepoint_ts": int(kwargs["safepoint_ts"])}
    if action == "resize":
        resize_buckets(spark, path, int(kwargs["n_buckets"]))
        return {"action": action, "n_buckets": int(kwargs["n_buckets"])}
    if action == "recover-table":
        recover_table(path, kwargs["table"])
        return {"action": action, "table": kwargs["table"]}
    if action == "syncpoint":
        entry = syncpoint_snapshot(
            path, kwargs["snapshots_root"], int(kwargs["primary_ts"])
        )
        return {"action": action, **entry}
    if action == "status":
        meta = read_target_meta(path) or {}
        buckets = [
            d for d in os.listdir(path) if d.startswith("bucket=")
        ] if os.path.isdir(path) else []
        return {
            "action": action,
            "n_buckets_meta": meta.get("n_buckets"),
            "n_bucket_dirs": len(buckets),
            "pending_deltas": list_deltas(path),
            "truncates": meta.get("truncates") or {},
            "key_cols": meta.get("key_cols"),
        }
    raise ValueError(f"unknown maintenance action: {action}")


# -------------------------------------------------- changefeed-create facade

_MQ_ENCODERS = {
    "canal-json": "canal_json:encode_canal_json",
    "maxwell": "maxwell:encode_maxwell",
    "debezium": "debezium:encode_debezium",
    "open-protocol": "open_protocol:encode_open_protocol",
    "simple": "simple:encode_simple",
}
#: protocols whose encoder emits the message key the protocol defines:
#: open-protocol's MessageKey JSON (ts, scm, tbl, t), where its consumer
#: reads table identity and message type, and debezium's handle-key
#: envelope ({"payload": {...}}, codec.go EncodeKey). The others define no
#: row-message key (maxwell's encoder drops its MessageKey, see
#: codecs/maxwell.py), so their messages carry the routed handle key.
_OWN_KEY_PROTOCOLS = frozenset({"debezium", "open-protocol"})


def _mq_encode(
    env: DataFrame, protocol: str, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    import importlib

    if protocol not in _MQ_ENCODERS:
        raise ValueError(
            f"unsupported MQ protocol {protocol!r}; "
            f"supported: {sorted(_MQ_ENCODERS)}"
        )
    mod_name, fn_name = _MQ_ENCODERS[protocol].split(":")
    mod = importlib.import_module(f"tiflow_spark.codecs.{mod_name}")
    return getattr(mod, fn_name)(env, extra_cols=extra_cols)


def create_changefeed(
    spark: SparkSession,
    source_dir: str,
    cfg: TaskConfig,
    sink_uri: str,
    work_dir: str,
    ddl_events: DataFrame | None = None,
):
    """`cdc cli changefeed create --sink-uri=...` analog: parse the sink
    URI, route to the matching sink family, run the pipeline end-to-end.

    Returns (SinkSpec, result):
    - mysql/tidb  → streaming MERGE apply; result = (query, StreamingTarget)
      (merge-mode / safe-mode knobs from URI params)
    - kafka/pulsar → drain source, transform, encode per `protocol` param,
      dispatch, produce to the file-backed broker at work_dir/broker;
      result = broker dir
    - file/s3/...  → transform + CSV storage-sink layout at work_dir/storage;
      result = list of data files written
    - blackhole    → transform + noop write; result = None
    """
    import os

    from tiflow_spark.config import parse_sink_uri
    from tiflow_spark.operators.dispatchers import dispatch
    from tiflow_spark.streaming.pipeline import (
        ENVELOPE_SCHEMA,
        run_changefeed,
        transform_stream,
    )

    spec = parse_sink_uri(sink_uri)
    params = dict(spec.params)
    if spec.kind == "mysql":
        merge_mode = params.get("merge-mode", "rewrite")
        # --sync-point surface (cdc cli changefeed create: sync-point +
        # sync-point-interval); interval here is batch-denominated since
        # the availableNow trigger has no wall clock
        syncpoint_every = 0
        if params.get("sync-point") in ("true", "1", "yes"):
            syncpoint_every = int(params.get("sync-point-every-batches", "1"))
        result = run_changefeed(
            spark,
            source_dir,
            cfg,
            work_dir,
            merge_mode=merge_mode,
            syncpoint_every=syncpoint_every,
        )
        return spec, result

    env = spark.read.schema(ENVELOPE_SCHEMA).parquet(source_dir)
    env = transform_stream(env, cfg)
    if spec.kind == "mq":
        from tiflow_spark.sinks.mq import MESSAGE_COLS, produce_file_broker

        protocol = spec.protocol or "canal-json"
        # topic-expression create-time validation (NewEventRouter →
        # validateTopicExpression, event_router.go:54-66,263-274): every
        # dispatch rule's topic template is checked against the scheme's
        # grammar — kafka [prefix]{schema}[mid][{table}][suffix] (avro
        # additionally requires both placeholders), pulsar its own
        # full/simple topic forms — BEFORE anything is encoded
        from tiflow_spark.operators.dispatchers import (
            validate_topic_expression,
        )

        for disp in cfg.dispatchers:
            if disp.topic:
                validate_topic_expression(
                    disp.topic, protocol, scheme=spec.scheme
                )
        # codec-config create-time gate (Config.Validate,
        # pkg/sink/codec/common/config.go:344-424 — runs AFTER the event
        # router's topic validation, the mq sink construction order): the
        # avro registry exactly-one + handling-mode + row-checksum
        # consistency matrix, max-bytes/batch positivity, and the nested
        # large-message AdjustAndValidate
        # (pkg/config/large_message.go:47-91). Reject a misconfigured
        # changefeed HERE — before anything is encoded — exactly like
        # `cdc cli changefeed create` does.
        from tiflow_spark.codecs.codec_config import (
            codec_config_from_params,
            validate_codec_config,
        )

        validate_codec_config(codec_config_from_params(params, protocol))
        n_parts = int(params.get("partition-num", "16"))
        d = dispatch(env, cfg, num_partitions=n_parts, scheme=spec.scheme)
        key = () if protocol in _OWN_KEY_PROTOCOLS else ("key",)
        msgs = _mq_encode(
            d, protocol, extra_cols=("topic", "partition", *key)
        ).select(*MESSAGE_COLS)
        broker = os.path.join(work_dir, "broker")
        produce_file_broker(msgs, broker, batch_id=0)
        # DDL side-channel → the topic itself (ddlsink/mq: table topic,
        # partition 0) for protocols with DDL messages
        if ddl_events is not None:
            from tiflow_spark.sources.ddl_stream import (
                ddl_allowlist_predicate,
                ddl_filter_predicate,
            )

            ddl = ddl_events.filter(
                ddl_allowlist_predicate() & ddl_filter_predicate(cfg)
            )
            produce_file_broker(
                _mq_encode_ddl(
                    ddl,
                    protocol,
                    cfg=cfg,
                    default_topic=spec.target or "default-topic",
                    num_partitions=n_parts,
                ),
                broker,
                batch_id=1,
            )
        # final resolved-ts broadcast to every produced (topic, partition)
        # — the watermark flush consumers advance on
        if params.get("emit-checkpoint") in ("true", "1", "yes"):
            resolved = env.agg(F.max("commit_ts").alias("resolved_ts"))
            tp = d.select("topic", "partition").distinct()
            produce_file_broker(
                _mq_encode_checkpoint(resolved, protocol, tp),
                broker,
                batch_id=2,
            )
        return spec, broker
    if spec.kind == "storage":
        from tiflow_spark.sinks.storage import (
            StorageSinkConfig,
            write_storage_sink,
        )

        if spec.protocol not in (None, "csv", "canal-json"):
            raise ValueError(
                "storage sink supports protocol=csv or canal-json, "
                f"got {spec.protocol!r}"
            )
        out = os.path.join(work_dir, "storage")
        # pk-cols URI param → schema.json ColumnIsPk (the reference reads
        # this off TableInfo; the URI surface is our config equivalent)
        pk = tuple(p for p in params.get("pk-cols", "").split(",") if p)
        files = write_storage_sink(
            env,
            out,
            StorageSinkConfig(
                pk_cols=pk, protocol=spec.protocol or "csv"
            ),
        )
        return spec, files
    # blackhole: execute the pipeline, discard output
    env.write.format("noop").mode("overwrite").save()
    return spec, None


def changefeed_status(
    spark: SparkSession,
    work_dir: str,
    now_us: int | None = None,
    synced_threshold_us: int = 300_000_000,
) -> dict:
    """`cdc cli changefeed query` analog: one status dict for a changefeed
    work dir — applied-batch progress (checkpoint-ts role), target
    inventory, recorded syncpoints. All metadata-scale reads.

    Pass ``now_us`` (caller's clock, microseconds) to also get the
    synced-status verdict (api_v2 /synced; tests/integration_tests/
    synced_status): ``synced`` is true when the applied frontier is within
    ``synced_threshold_us`` of now — the reference's checkpoint-lag rule
    with its 5-minute default."""
    import os

    from tiflow_spark.sinks.bucketed import _read_json

    status: dict = {"work_dir": work_dir}
    prog_path = os.path.join(work_dir, "progress")
    if os.path.isdir(prog_path):
        from pyspark.sql import functions as F

        prog = spark.read.parquet(prog_path)
        row = prog.agg(
            F.count(F.lit(1)).alias("batches"),
            F.max("resolved_ts").alias("resolved_ts"),
            F.sum("events").alias("events_applied"),
            F.max("batch_id").alias("last_batch_id"),
        ).collect()[0]
        status.update(
            {
                "batches": row["batches"],
                "resolved_ts": row["resolved_ts"],
                "events_applied": row["events_applied"],
                "last_batch_id": row["last_batch_id"],
            }
        )
        if now_us is not None and row["resolved_ts"] is not None:
            lag = now_us - int(row["resolved_ts"])
            status["checkpoint_lag_us"] = lag
            status["synced"] = lag <= synced_threshold_us
    target = os.path.join(work_dir, "target")
    if os.path.isdir(target):
        status["target"] = target_maintenance(spark, target, "status")
    sp_index = _read_json(
        os.path.join(work_dir, "syncpoints", "_syncpoints.json")
    )
    if sp_index:
        status["syncpoints"] = sp_index["syncpoints"]
    return status


def start_task(
    spark: SparkSession,
    cfg,
    work_dir: str,
    snapshot: DataFrame | None = None,
    source_dir: str | None = None,
    mode: str = "all",
    target_table: str = "events_all",
    merge_mode: str = "rewrite",
) -> dict:
    """`dmctl start-task` analog — the DM subtask lifecycle as one call
    (dm/worker/subtask.go:52 createRealUnits; :61-63 ModeAll =
    Dumpling → Lightning → Syncer):

    - ``mode="full"``: load only — seed the target with the snapshot
      (the dump unit's output, rows shaped (key, op, commit_ts, seq,
      <payload...>); chunked export belongs to the dump step, see
      sources/jdbc_source.chunk_predicates).
    - ``mode="incremental"``: sync only — stream the change source into
      the target (the canonical changefeed pipeline, §3.1 == §3.2 sync).
    - ``mode="all"``: load then sync; the MERGE applier's
      max-(commit_ts, seq)-wins makes the snapshot/stream overlap window
      safe (DM's safe-mode role).

    Returns a status dict (stage row counts + changefeed progress) — the
    `dmctl query-status` shape. The heavy lifting stays in the existing
    operators; this is the config-driven composition surface.
    """
    import os

    from pyspark.sql import functions as F

    from tiflow_spark.sinks.bucketed import merge_hash_bucketed, read_state
    from tiflow_spark.streaming.pipeline import run_changefeed

    if mode not in ("all", "full", "incremental"):
        raise ValueError(f"unknown task mode: {mode!r}")
    status: dict = {"mode": mode, "work_dir": work_dir}
    target = os.path.join(work_dir, "target")
    if mode in ("all", "full"):
        if snapshot is None:
            raise ValueError(f"mode={mode!r} needs a snapshot frame")
        seed = snapshot.withColumn("target_table", F.lit(target_table))
        merge_hash_bucketed(seed, target, n_buckets=32, batch_id=0)
        status["loaded_rows"] = read_state(spark, target).count()
    if mode in ("all", "incremental"):
        if source_dir is None:
            raise ValueError(f"mode={mode!r} needs a change source_dir")
        run_changefeed(spark, source_dir, cfg, work_dir, merge_mode=merge_mode)
        status.update(changefeed_status(spark, work_dir))
    status["target_rows"] = (
        read_state(spark, target).count() if os.path.isdir(target) else 0
    )
    return status


def _mq_encode_ddl(
    ddl: DataFrame,
    protocol: str,
    cfg=None,
    default_topic: str | None = None,
    num_partitions: int = 1,
) -> DataFrame:
    """DDL events → broker messages for the protocol's DDL surface.
    Message shape: (topic, partition, key, value, commit_ts, seq).

    Partitioning follows getDDLDispatchRule (mq_ddl_sink.go:44-51,
    114-136): canal / canal-json DDLs go to PARTITION 0 ONLY
    (PartitionZero — the canal consumer contract), every other protocol
    BROADCASTS the DDL to all ``num_partitions`` partitions
    (PartitionAll via SyncBroadcastMessage) so a consumer attached to any
    single partition still observes schema changes. Broadcast duplicates
    are the reference's own wire shape — consumers dedup by commit-ts.

    With ``cfg`` + ``default_topic`` the topic follows GetTopicForDDL
    (event_router.go:96-115): table-scope DDL through the matched topic
    dispatcher template, schema-scope DDL (empty table) to the default
    topic."""
    from pyspark.sql import functions as F

    if protocol == "canal-json":
        from tiflow_spark.codecs.canal_json import encode_canal_json_ddl

        enc = encode_canal_json_ddl(ddl).withColumn(
            "key", F.lit(None).cast("string")
        )
    elif protocol == "maxwell":
        from tiflow_spark.codecs.maxwell import encode_maxwell_ddl

        # carries the internal.MessageKey envelope itself (r11)
        enc = encode_maxwell_ddl(ddl)
    elif protocol == "open-protocol":
        from tiflow_spark.codecs.open_protocol import (
            encode_open_protocol_ddl,
        )

        enc = encode_open_protocol_ddl(ddl)
    elif protocol == "simple":
        from tiflow_spark.codecs.simple import encode_simple_ddl
        from tiflow_spark.sources.ddl_stream import registry_from_ddl

        enc = encode_simple_ddl(ddl, registry_from_ddl(ddl)).withColumn(
            "key", F.lit(None).cast("string")
        )
    elif protocol == "debezium":
        from tiflow_spark.codecs.debezium import encode_debezium_ddl
        from tiflow_spark.sources.ddl_stream import registry_from_ddl

        enc = encode_debezium_ddl(ddl, registry=registry_from_ddl(ddl))
    else:
        raise ValueError(f"no DDL messages for MQ protocol {protocol!r}")
    if cfg is not None and default_topic is not None:
        from tiflow_spark.operators.dispatchers import ddl_topic_column

        topic = ddl_topic_column(cfg, default_topic)
    else:
        topic = F.concat_ws(".", F.col("schema"), F.col("table"))
    if protocol in ("canal", "canal-json") or num_partitions <= 1:
        part = F.lit(0)
    else:
        # PartitionAll: one copy of the message per partition
        part = F.explode(
            F.sequence(F.lit(0), F.lit(num_partitions - 1))
        )
    return enc.select(
        topic.alias("topic"),
        part.alias("partition"),
        F.col("key"),
        F.col("value"),
        F.col("commit_ts"),
        F.col("seq"),
    )


def _mq_encode_checkpoint(
    resolved: DataFrame, protocol: str, topic_partitions: DataFrame
) -> DataFrame:
    """Resolved-ts → checkpoint messages BROADCAST to every (topic,
    partition) the changefeed produced to — the reference MQ sink flushes
    watermark events to all partitions so every consumer can advance."""
    from pyspark.sql import functions as F

    if protocol == "canal-json":
        from tiflow_spark.codecs.canal_json import (
            encode_canal_json_checkpoint,
        )

        enc = encode_canal_json_checkpoint(resolved).withColumn(
            "key", F.lit(None).cast("string")
        )
    elif protocol == "open-protocol":
        from tiflow_spark.codecs.open_protocol import (
            encode_open_protocol_checkpoint,
        )

        enc = encode_open_protocol_checkpoint(resolved)
    elif protocol == "simple":
        from tiflow_spark.codecs.simple import encode_simple_checkpoint

        enc = encode_simple_checkpoint(resolved).withColumn(
            "key", F.lit(None).cast("string")
        )
    elif protocol == "debezium":
        from tiflow_spark.codecs.debezium import encode_debezium_checkpoint

        enc = encode_debezium_checkpoint(resolved)
    else:
        raise ValueError(
            f"no checkpoint messages for MQ protocol {protocol!r}"
        )
    return enc.crossJoin(F.broadcast(topic_partitions)).select(
        "topic",
        "partition",
        F.col("key"),
        F.col("value"),
        F.col("resolved_ts").alias("commit_ts"),
        F.lit(0).cast("long").alias("seq"),
    )
