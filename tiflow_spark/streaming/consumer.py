"""MQ consumer replay — cmd/kafka-consumer re-expressed on the engine.

The reference ships a consumer binary that reads a changefeed's Kafka
topic, decodes the protocol, regroups events per table, and applies them
to a downstream MySQL so sync_diff can prove the topic carries the full
change stream (cmd/kafka-consumer/, tests/mq_protocol_tests/). Here the
same round trip is: file-broker segments → decode → typed images →
last-writer-wins fold → applied state.

Every broker replay decodes with its codec's own decoder, projects to
(schema, table, key, _op_class, commit_ts, topic, partition, position,
payload...) and ends in `_last_writer_fold`, as writer.go sends every
decoder through one downstream apply. Decoders give control messages
(DDL, watermark, BOOTSTRAP) a NULL op, and the fold lets no NULL-op row
into the applied state.

Correctness contract (every broker protocol, same as the reference
consumer):
- the producer dispatches key-sticky (index-value/table dispatchers), so
  one key's events share a (topic, partition), and the segment position
  (batch_id, batch_offset) is that partition's append order — the order
  a Kafka consumer reads its offsets in;
- the fold orders by (commit ts, batch_id, batch_offset), which is total
  per key. canal-json `es` is millisecond-truncated; the position breaks
  ms ties, which is exactly the information a Kafka consumer has. A key
  seen in more than one (topic, partition) fails the replay.

Scale shape: the broker is read under its fixed segment schema (no
inference job) and prunes by topic; decode is one map stage; the fold is
the only shuffle, keyed by (schema, table, key). Folds never number
offsets, so they pay no (topic, partition) exchange. No driver loops over
the data: the one driver-side read is metadata-scale, the canal replay's
schema-from-wire peek at one message's ``mysqlType`` map
(`_wire_mysql_types`), done with pyarrow instead of a Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tiflow_spark.sinks.mq import read_segments

#: a message's segment position: its append order within one
#: (topic, partition)
_POSITION = ("batch_id", "batch_offset")
#: the broker columns every replay carries through its decoder to the fold
_FRAME = ("topic", "partition", *_POSITION)


def replay_broker_to_state(
    spark: SparkSession,
    broker_dir: str,
    payload_types: dict[str, str] | None = None,
    topic: str | None = None,
    use_tidb_extension: bool = False,
) -> DataFrame:
    """Replay a canal-json topic into the applied table state.

    ``payload_types``: column → Spark type string, used to cast the
    string-valued canal images back to typed columns. ``None`` = derive
    the types from the wire itself: the reference consumer reads every
    column's type from the message's own ``mysqlType`` map
    (canal_json_message.go:332-353 → canalJSONFormatColumn :355-421,
    base type via utils.ExtractBasicMySQLType), which by construction
    tolerates BOTH plain lowercase names and content-compatible FULL
    descriptors ('bigint(20) unsigned'-style, mysql_types.go:36-44 cuts
    at the first '(' or ' '). The map is read on the driver from the
    segment files with pyarrow (`_wire_mysql_types`): the first message
    whose ``mysqlType`` is a string→string map, in the ``topic`` when one
    is given. That read is metadata-scale (it stops at the first row
    message) and launches no Spark job.

    ``use_tidb_extension``: the topic was produced with
    enable-tidb-extension=true, so every message carries the EXACT
    commit ts in ``_tidb.commitTs`` — the decoder restores it
    (canal_json_decoder.go:248,265-267) and the fold orders by it
    directly instead of the (ms-truncated es, position) surrogate; a
    row message missing the extension fails the replay loudly.

    Output: (schema, table, key, <typed payload...>) — live rows only.
    """
    from tiflow_spark.codecs.canal_json import decode_canal_json

    dec = decode_canal_json(
        read_segments(spark, broker_dir, topic), extra_cols=_FRAME
    )
    if payload_types is None:
        from tiflow_spark.types import spark_cast_for_mysql_type

        payload_types = {
            name: spark_cast_for_mysql_type(t)
            for name, t in sorted(_wire_mysql_types(broker_dir, topic).items())
        }
    if use_tidb_extension:
        # decoder parity: the extension is mandatory on an extension-enabled
        # changefeed — a row message without it is foreign
        order = F.coalesce(
            F.assert_true(
                F.col("tidb_commit_ts").isNotNull() | F.col("op").isNull(),
                F.lit("canal replay: message without _tidb.commitTs "
                      "on an extension-enabled topic"),
            ).cast("long"),
            F.col("tidb_commit_ts"),
        )
    else:
        order = F.col("commit_ts_ms_scaled")
    key = F.array_join(
        F.transform(
            F.col("pk_names"), lambda pk: F.element_at("image", pk)
        ),
        "|",
    )
    rows = dec.select(
        "schema",
        "table",
        key.alias("key"),
        F.col("op").alias("_op_class"),
        order.alias("commit_ts"),
        *_FRAME,
        *[
            F.element_at("image", name).cast(t).alias(name)
            for name, t in payload_types.items()
        ],
    )
    return _last_writer_fold(rows)


def _wire_mysql_types(broker_dir: str, topic: str | None) -> dict[str, str]:
    """The ``mysqlType`` map of the first message that carries one as a
    string→string map, read from the segment files on the driver. The
    segments are hive-partitioned by Spark, which escapes the topic in its
    ``topic=`` directory name; pyarrow's hive partitioning unescapes it, so
    the ``topic`` filter compares the real name. Files are read one at a
    time and the scan stops at the first hit; DDL and watermark messages
    carry a null map and are passed over."""
    import json

    import pyarrow as pa
    import pyarrow.dataset as ds

    segments = ds.dataset(
        broker_dir,
        format="parquet",
        partitioning=ds.partitioning(
            pa.schema([("topic", pa.string()), ("partition", pa.int32())]),
            flavor="hive",
        ),
    )
    only = None if topic is None else ds.field("topic") == topic
    for fragment in segments.get_fragments(filter=only):
        for batch in fragment.to_batches(columns=["value"], batch_size=256):
            for value in batch.column(0).to_pylist():
                try:
                    mt = json.loads(value).get("mysqlType")
                except (TypeError, ValueError, AttributeError):
                    continue
                if isinstance(mt, dict) and all(
                    isinstance(t, str) for t in mt.values()
                ):
                    return mt
    raise ValueError(
        "schema-from-wire replay: no DML message with a mysqlType "
        "map found on the topic"
    )


def replay_simple_broker_with_ddl(
    spark: SparkSession,
    broker_dir: str,
    topic: str | None = None,
) -> DataFrame:
    """Simple-protocol consumer WITH mid-stream schema evolution — the
    capability the protocol's DDL messages exist for (simple/decoder.go
    MessageTypeDDL path feeding the consumer's schema tracker):

    1. pick the DDL messages by the `type` discriminator (all messages
       decode as DML too; DDL/WATERMARK/BOOTSTRAP get a NULL op there);
    2. fold the (metadata-scale) DDL messages into the SAME versioned
       registry the producer uses (registry_from_ddl over the decoded
       `sql` statements — parse-derived kinds, consumer needs no side
       channel);
    3. decode each DML image against the schema AS-OF its commitTs —
       broadcast version-array lookup, typed casts + declared-DEFAULT
       backfill for rows written before an ADD COLUMN;
    4. key rows by the registry's as-of handle key and fold to
       last-writer state ordered by (commitTs, segment position).

    Output: (schema, table, key, <typed column universe...>) live rows.
    Scale shape: the DML side is one JSON decode map stage + the broadcast
    as-of join + one keyed fold shuffle; only DDL messages (bounded like
    the owner's schema storage) are collected.
    """
    from tiflow_spark.codecs.simple import decode_simple, decode_simple_ddl
    from tiflow_spark.sources.ddl_parse import parse_ddl
    from tiflow_spark.sources.ddl_stream import registry_from_ddl
    from tiflow_spark.sources.schema_registry import (
        asof_resolve,
        registry_column_plan,
        _spark_cast,
    )

    msgs = read_segments(spark, broker_dir, topic)
    kind = F.get_json_object("value", "$.type")
    ddl_msgs = msgs.filter(
        ~kind.isin("INSERT", "UPDATE", "DELETE", "WATERMARK", "BOOTSTRAP")
    )
    # DDL side: metadata-scale by the same bound as the reference owner's
    # schema storage; kinds re-derived by parsing the statement itself
    ddl_rows = decode_simple_ddl(ddl_msgs).collect()
    parsed = []
    for i, r in enumerate(sorted(ddl_rows, key=lambda r: r["commit_ts"])):
        op = parse_ddl(r["query"])
        if op is None:
            continue
        parsed.append(
            (
                "DDL",
                r["schema"] or "",
                r["table"] or (op.table or ""),
                int(r["commit_ts"]),
                i,
                op.kind,
                r["query"],
            )
        )
    ddl_frame = spark.createDataFrame(
        parsed,
        "op string, schema string, table string, commit_ts long, seq long, "
        "ddl_type string, query string",
    )
    registry = registry_from_ddl(ddl_frame)
    plan = registry_column_plan(registry)

    dml = decode_simple(msgs, extra_cols=_FRAME)
    resolved = asof_resolve(
        dml, registry, event_table_col="table", with_keys=True
    )
    img = F.when(F.col("op") == "D", F.col("old_image")).otherwise(
        F.col("image")
    )
    # Declared-default backfill for image-ABSENT keys, keyed per
    # (table, column) from the row's OWN table's latest version — a bare
    # column name is NOT a key: two tables can share a name with
    # different declared defaults, and a column that never existed in
    # the row's table must stay NULL, not inherit another table's
    # default. Latest-version defaults model the downstream DDL apply
    # (ADD COLUMN ... DEFAULT backfills pre-ADD rows — the MySQL-side
    # behavior the reference consumer relies on; caveat shared with any
    # apply-time backfill: a later MODIFY changing only the default does
    # not rewrite already-applied rows downstream). Driver-side collect
    # is metadata-scale like registry_column_plan.
    latest_ver: dict[str, tuple[list, dict]] = {}
    _local = getattr(registry, "_tiflow_registry_rows", None)
    for r in sorted(
        _local
        if _local is not None
        else registry.select(
            "table", "version_no", "columns", "defaults"
        ).collect(),
        key=lambda r: (r.table, r.version_no),
    ):
        latest_ver[r.table] = (list(r.columns or []), dict(r.defaults or {}))
    typed = []
    for c, sql_type in plan:
        t = _spark_cast(sql_type)
        # explicit NULL values stay NULL — backfill only when the key is
        # absent from the image (mounter.go getDefaultOrZeroValue applies
        # to missing columns)
        expr = F.when(
            F.map_contains_key(img, F.lit(c)),
            F.element_at(img, F.lit(c)).cast(t),
        )
        for tbl, (cols, defaults) in latest_ver.items():
            if c in cols:
                expr = expr.when(
                    F.col("table") == tbl,
                    F.lit(defaults.get(c)).cast(t),
                )
        typed.append(expr.otherwise(F.lit(None).cast(t)).alias(c))
    key = F.array_join(
        F.transform(
            F.col("handle_cols"), lambda h: F.element_at(img, h)
        ),
        "|",
    )
    rows = resolved.select(
        "schema", "table", key.alias("key"), F.col("op").alias("_op_class"),
        "commit_ts", *_FRAME, *typed,
    )
    return _last_writer_fold(rows)


def _last_writer_fold(rows: DataFrame) -> DataFrame:
    """Shared consumer apply: last-writer state per (schema, table, key)
    ordered by (commit_ts, segment position), live rows only. Every
    broker protocol's replay ends here — the consumer-side mirror of the
    MySQL-sink apply (cmd/kafka-consumer/writer.go funnels all its
    decoders into the same downstream apply). One keyed fold shuffle.

    Control messages (NULL ``_op_class``) sort after every row message
    of their key and count toward no contract, so they never win. They
    are dropped with the deletes after the window: a filter before it
    would be pushed below the decode and run the decoder twice.

    Segment positions compare only within one (topic, partition), so a
    key seen in more than one fails the replay (the key-sticky
    contract). collect_set rides the fold's window partitioning — no
    extra shuffle. The assert is folded INTO the row-number filter
    (null-on-success + coalesce true): a free-standing asserted column
    that is later .drop()ped is pruned by Catalyst and the guard
    silently dies."""
    row_msg = F.col("_op_class").isNotNull()
    w = Window.partitionBy("schema", "table", "key").orderBy(
        row_msg.desc(),
        F.col("commit_ts").desc(),
        *[F.col(c).desc() for c in _POSITION],
    )
    n_parts = F.size(
        F.collect_set(F.when(row_msg, F.struct("topic", "partition"))).over(
            w.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
    )
    # format_string renders a NULL key as "null"; concat would be NULL
    contract = F.coalesce(
        F.assert_true(
            F.col("_nparts") <= 1,
            F.format_string(
                "replay contract violated: key observed in multiple "
                "broker (topic, partition)s: %s.%s/%s",
                "schema", "table", "key",
            ),
        ).cast("boolean"),
        F.lit(True),
    )
    # both window columns in one projection share the computed sort key,
    # so the fold pays one Sort
    last = (
        rows.withColumns({"_nparts": n_parts, "_rn": F.row_number().over(w)})
        .filter(contract & (F.col("_rn") == 1))
        .drop("_rn", "_nparts", "commit_ts", *_FRAME)
    )
    return last.filter(F.col("_op_class") != "D").drop("_op_class")


def replay_debezium_broker_to_state(
    spark: SparkSession,
    broker_dir: str,
    topic: str | None = None,
) -> DataFrame:
    """Debezium consumer replay (cmd/kafka-consumer/writer.go:51-63's
    debezium branch): the envelope's source block carries (db, table,
    commitTs), so table identity AND fold order come from the protocol
    itself — no topic-name side channel, and full-precision commitTs
    avoids the canal ms-truncation caveat. The fold key is the handle
    column of the typed image (the reference consumer reads it from the
    message key envelope; for the bank payload both are `id`). D events
    key by the before-image, everything else by after.

    Output: (schema, table, key, id, balance, note) live rows.
    Scale shape: one JSON decode map stage, one (schema, table, key) fold
    shuffle; broker scan prunes by topic."""
    from tiflow_spark.codecs.debezium import decode_debezium

    msgs = read_segments(spark, broker_dir, topic)
    dec = decode_debezium(msgs, extra_cols=_FRAME)
    img = F.when(F.col("op") == "D", F.col("before")).otherwise(
        F.col("after")
    )
    rows = dec.select(
        "schema",
        "table",
        img["id"].cast("string").alias("key"),
        F.col("op").alias("_op_class"),
        "commit_ts",
        *_FRAME,
        img["id"].alias("id"),
        img["balance"].alias("balance"),
        img["note"].alias("note"),
    )
    return _last_writer_fold(rows)


def replay_avro_broker_to_state(
    spark: SparkSession,
    broker_dir: str,
    topic: str | None = None,
) -> DataFrame:
    """Confluent-framed Avro consumer replay (writer.go's avro branch):
    the value body carries the typed row + op + full-precision commit_ts;
    table identity is topic-derived ('schema.table' — the reference's
    avro protocol likewise requires table-topic dispatch, so the topic IS
    the table's address). The topic is split on its FIRST '.' only:
    schema names may not contain a dot (MySQL identifiers in the default
    '{schema}.{table}' template don't), while any further dots belong to
    the table name. Fold key is the Avro key-schema column (`id`).

    Output: (schema, table, key, id, balance, note) live rows.
    Scale shape: one Arrow-batched decode stage (binary wire format —
    the one place a pandas_udf is the right tool), one keyed fold
    shuffle; broker scan prunes by topic."""
    from tiflow_spark.codecs.avro import decode_avro

    msgs = read_segments(spark, broker_dir, topic, value_type="binary")
    dec = decode_avro(msgs, extra_cols=_FRAME)
    dot = F.instr(F.col("topic"), ".")
    rows = dec.select(
        F.when(dot > 0, F.substring_index("topic", ".", 1))
        .otherwise(F.lit(""))
        .alias("schema"),
        F.when(
            dot > 0,
            F.expr("substring(topic, instr(topic, '.') + 1)"),
        )
        .otherwise(F.col("topic"))
        .alias("table"),
        F.col("id").cast("string").alias("key"),
        F.col("op").alias("_op_class"),
        "commit_ts",
        *_FRAME,
        "id",
        "balance",
        "note",
    )
    return _last_writer_fold(rows)


def replay_open_broker_to_state(
    spark: SparkSession,
    broker_dir: str,
    payload_types: dict[str, str],
    topic: str | None = None,
) -> DataFrame:
    """Open-protocol consumer replay (cmd/kafka-consumer's open decoder):
    key JSON carries (ts, scm, tbl, type), value carries u/d column-object
    maps whose ``h`` flag marks HANDLE columns — so the fold key comes
    from the protocol itself (no pkNames side channel, unlike canal-json).
    DDL (t=2) and resolved (t=3) messages decode to a NULL op and never
    win a key. Last-writer fold on (commit_ts, segment position);
    full-precision ts makes the fold total per key without the canal
    ms-truncation caveat.

    Scale shape: one JSON decode map stage, one (schema, table, key) fold
    shuffle; broker scan prunes by topic."""
    from tiflow_spark.codecs.open_protocol import decode_open_protocol

    dec = decode_open_protocol(
        read_segments(spark, broker_dir, topic), extra_cols=_FRAME
    )
    handle_keys = F.array_sort(
        F.map_keys(F.map_filter("image", lambda _c, o: o["h"]))
    )
    key = F.array_join(
        F.transform(handle_keys, lambda c: F.element_at("image", c)["v"]),
        "|",
    )
    rows = dec.select(
        "schema",
        "table",
        key.alias("key"),
        F.col("op_class").alias("_op_class"),
        "commit_ts",
        *_FRAME,
        *[
            F.element_at("image", F.lit(name))["v"].cast(t).alias(name)
            for name, t in payload_types.items()
        ],
    )
    return _last_writer_fold(rows)


def replay_storage_csv_to_state(
    spark: SparkSession,
    base_dir: str,
    payload_types: dict[str, str],
    cfg=None,
) -> DataFrame:
    """Storage-sink CSV consumer replay (cmd/storage-consumer's csv
    decoder, storage_consumer.go's readFromDownloadedStorage →
    sink-apply loop): the rotated CDC*.csv files under the
    schema/table/version/date layout are read back, decoded by the JVM
    CSV parser, and folded to last-writer live state — the same
    downstream apply every kafka-consumer protocol funnels into.

    CSV carries no intra-ts sequence (reference parity: the csv format's
    columns are op/table/schema/commit-ts + image), so the fold orders
    by commit_ts alone — total only without per-(key, commit_ts) ties,
    which holds whenever the upstream assigns one commit per key-txn
    (the storage-consumer replays whole files in ts order under the same
    assumption). ENFORCED, not assumed: a key whose winning commit_ts
    carries more than one row fails the replay loudly instead of
    silently picking an arbitrary image (same contract discipline as
    _last_writer_fold's key-sticky assert); the check rides the
    fold's window partitioning — no extra shuffle.

    Output: (schema, table, key, <payload cols>) live rows.
    Scale shape: one distributed text scan with a pushed path glob, one
    from_csv map stage (no Python), one (schema, table, key) fold
    shuffle."""
    from pyspark.sql import types as T

    from tiflow_spark.sinks.storage import (
        StorageSinkConfig,
        read_storage_sink,
    )

    payload = T.StructType(
        [
            T.StructField(c, T.DataType.fromDDL(t))
            for c, t in payload_types.items()
        ]
    )
    dec = read_storage_sink(
        spark, base_dir, payload, cfg or StorageSinkConfig()
    )
    first = next(iter(payload_types))
    rows = dec.select(
        "schema",
        "table",
        F.col(first).cast("string").alias("key"),
        F.col("op").alias("_op_class"),
        "commit_ts",
        *payload_types,
    )
    w = Window.partitionBy("schema", "table", "key").orderBy(
        F.col("commit_ts").desc()
    )
    frame = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    top_rows = F.sum(
        F.when(
            F.col("commit_ts") == F.max("commit_ts").over(frame), 1
        ).otherwise(0)
    ).over(frame)
    # the assert is folded INTO the row-number filter (null-on-success +
    # coalesce true) so column pruning cannot drop it — a free-standing
    # asserted column that is later .drop()ped gets optimized away and
    # the guard silently dies. Window expressions can't sit in a WHERE,
    # so _top materializes first and the filter asserts over the column.
    contract = F.coalesce(
        F.assert_true(
            F.col("_top") <= 1,
            F.format_string(
                "csv replay contract violated: tied commit_ts for key "
                "%s.%s/%s", "schema", "table", "key",
            ),
        ).cast("boolean"),
        F.lit(True),
    )
    last = (
        rows.withColumn("_top", top_rows)
        .withColumn("_rn", F.row_number().over(w))
        .filter(contract & (F.col("_rn") == 1))
        .drop("_rn", "_top", "commit_ts")
    )
    return last.filter(F.col("_op_class") != "D").drop("_op_class")


def replay_simple_broker_to_state(
    spark: SparkSession,
    broker_dir: str,
    topic: str | None = None,
) -> DataFrame:
    """Simple-protocol consumer replay (cmd/kafka-consumer/writer.go's
    simple branch): the stream interleaves BOOTSTRAP schema frames with
    DML — the reference consumer caches row events until their table's
    bootstrap arrives (writer.go:389-415) and never applies the
    bootstrap itself ("no need to handle it", writer.go:396). In the
    batch replay the decode schema is static, so the cache degenerates:
    bootstrap frames are consumed and DROPPED while DML frames fold —
    the same terminal state the caching consumer reaches. Identity and
    order come from the message body (database/table/commitTs); values
    are the protocol's string-rendered images, re-typed for the fold.

    Output: (schema, table, key, id, balance, note) live rows.
    Scale shape: one JSON decode map stage, one keyed fold shuffle;
    broker scan prunes by topic."""
    from tiflow_spark.codecs.simple import decode_simple

    msgs = read_segments(spark, broker_dir, topic)
    dec = decode_simple(msgs, extra_cols=_FRAME)
    img = F.when(F.col("op") == "D", F.col("old_image")).otherwise(
        F.col("image")
    )
    rows = dec.select(
        "schema",
        "table",
        img["id"].alias("key"),
        F.col("op").alias("_op_class"),
        "commit_ts",
        *_FRAME,
        img["id"].cast("long").alias("id"),
        img["balance"].cast("double").alias("balance"),
        img["note"].alias("note"),
    )
    return _last_writer_fold(rows)
