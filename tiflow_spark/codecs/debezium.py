"""Debezium-compatible JSON envelope codec.

Reference: pkg/sink/codec/debezium/codec.go (1683 LoC). We reproduce the
payload shape (`before`, `after`, `source`, `op`, `ts_ms`) with the TiDB
source fields the reference emits (connector/version/db/table/commitTs).
Schemas block omitted (the reference gates it behind a config too).

op mapping: I → "c" (create), U → "u", D → "d"; ts_ms pinned to 0 for
determinism (reference stamps wall clock).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


_DBZ_TYPES = {"bigint": "int64", "double": "double", "string": "string"}

# io.debezium.connector.mysql.Source descriptor — the exact field
# sequence codec.go:844-933 writes (version/connector/name/ts_ms/
# snapshot-enum/db/sequence/table/server_id/gtid/file/pos/row/thread/
# query), constant for every event
_DBZ_SOURCE_SCHEMA = (
    '{"type":"struct","fields":['
    '{"type":"string","optional":false,"field":"version"},'
    '{"type":"string","optional":false,"field":"connector"},'
    '{"type":"string","optional":false,"field":"name"},'
    '{"type":"int64","optional":false,"field":"ts_ms"},'
    '{"type":"string","optional":true,"name":"io.debezium.data.Enum",'
    '"version":1,"parameters":{"allowed":"true,last,false,incremental"},'
    '"default":"false","field":"snapshot"},'
    '{"type":"string","optional":false,"field":"db"},'
    '{"type":"string","optional":true,"field":"sequence"},'
    '{"type":"string","optional":true,"field":"table"},'
    '{"type":"int64","optional":false,"field":"server_id"},'
    '{"type":"string","optional":true,"field":"gtid"},'
    '{"type":"string","optional":false,"field":"file"},'
    '{"type":"int64","optional":false,"field":"pos"},'
    '{"type":"int32","optional":false,"field":"row"},'
    '{"type":"int64","optional":true,"field":"thread"},'
    '{"type":"string","optional":true,"field":"query"}],'
    '"optional":false,"name":"io.debezium.connector.mysql.Source",'
    '"field":"source"}'
)

_DBZ_TXN_SCHEMA = (
    '{"type":"struct","fields":['
    '{"type":"string","optional":false,"field":"id"},'
    '{"type":"int64","optional":false,"field":"total_order"},'
    '{"type":"int64","optional":false,"field":"data_collection_order"}],'
    '"optional":true,"name":"event.block","version":1,'
    '"field":"transaction"}'
)


def debezium_schema_block(
    payload_cols: list[tuple[str, str]],
    pk_cols: tuple[str, ...] = ("id",),
    cluster_id: str = "tiflow-spark",
) -> tuple[str, str, str]:
    """The Kafka-Connect ``schema`` envelope block the reference emits
    unless debezium-disable-schema (codec.go:1048-1149): returns
    (prefix, middle, suffix) string segments to concat around the two
    ``<cluster>.<schema>.<table>`` topic-name substitutions (Envelope
    name, then the shared before/after Value name). Field descriptors
    follow writeDebeziumFieldSchema's type map (bigint→int64,
    double→double, varchar→string; optional = not NOT-NULL, i.e. the
    handle key is optional:false)."""
    fields_json = ",".join(
        '{"type":"%s","optional":%s,"field":"%s"}'
        % (_DBZ_TYPES[t], "false" if n in pk_cols else "true", n)
        for n, t in payload_cols
    )
    prefix = '{"type":"struct","optional":false,"name":"' + cluster_id + "."
    middle = (
        '.Envelope","version":1,"fields":['
        '{"type":"struct","optional":true,"name":"%%NAME%%",'
        '"field":"before","fields":[' + fields_json + "]},"
        '{"type":"struct","optional":true,"name":"%%NAME%%",'
        '"field":"after","fields":[' + fields_json + "]},"
        + _DBZ_SOURCE_SCHEMA + ","
        '{"type":"string","optional":false,"field":"op"},'
        '{"type":"int64","optional":true,"field":"ts_ms"},'
        + _DBZ_TXN_SCHEMA + "]}"
    )
    return prefix, middle, cluster_id


def encode_debezium(
    env: DataFrame,
    connector_version: str = "2.4.0.Final",
    disable_schema: bool = True,
    pk_cols: tuple[str, ...] = ("id",),
    cluster_id: str = "tiflow-spark",
    output_old_value: bool = True,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """``disable_schema=False`` appends the Kafka-Connect ``schema``
    envelope block after ``payload`` (the REFERENCE DEFAULT —
    DebeziumDisableSchema is false in common/config.go:133; our default
    keeps the original schema-less byte surface, matching
    debezium-disable-schema deployments).

    ``output_old_value=False`` is ``debezium.output-old-value=false``
    (common/config.go:91,131,253): an UPDATE's ``before`` block is
    OMITTED from the payload entirely — codec.go:1039 only writes the
    before field values when DebeziumOutputOldValue is set; inserts
    still carry an explicit null before and deletes still carry the
    pre-image (those branches are not gated).

    Output carries the debezium message KEY too (codec.go:937-969
    EncodeKey): {"payload": {handle-key columns — before-image for
    deletes}} plus the <cluster>.<db>.<table>.Key schema block when the
    schema envelope is on."""
    op = (
        F.when(F.col("op") == "I", "c")
        .when(F.col("op") == "U", "u")
        .otherwise("d")
    )
    source = F.struct(
        F.lit("TiCDC").alias("connector"),
        F.lit(connector_version).alias("version"),
        F.col("schema").alias("db"),
        F.col("table").alias("table"),
        F.col("commit_ts").alias("commitTs"),
        F.expr("commit_ts div 1000").alias("ts_ms"),
    )
    payload = F.struct(
        F.col("before").alias("before"),
        F.col("after").alias("after"),
        source.alias("source"),
        op.alias("op"),
        F.lit(0).cast("long").alias("ts_ms"),
    )
    payload_json = F.to_json(payload, {"ignoreNullFields": "false"})
    if not output_old_value:
        # same struct minus `before` — field omission, not null
        payload_no_before = F.struct(
            F.col("after").alias("after"),
            source.alias("source"),
            op.alias("op"),
            F.lit(0).cast("long").alias("ts_ms"),
        )
        payload_json = F.when(
            F.col("op") == "U",
            F.to_json(payload_no_before, {"ignoreNullFields": "false"}),
        ).otherwise(payload_json)
    # message KEY (codec.go:937-969 EncodeKey): handle-key columns of the
    # row — before-image for deletes — as {"payload": {...}}, plus the
    # <cluster>.<db>.<table>.Key schema block unless disable_schema
    # (field order inside the block: type, name, optional, fields —
    # EncodeKey's writer order, which differs from the Value block's
    # type/optional/name)
    handle_id = F.when(F.col("op") == "D", F.col("before.id")).otherwise(
        F.col("after.id")
    )
    key_payload = F.to_json(
        F.struct(handle_id.alias("id")), {"ignoreNullFields": "false"}
    )
    topic_name = F.concat(F.col("schema"), F.lit("."), F.col("table"))
    if disable_schema:
        key = F.concat(F.lit('{"payload":'), key_payload, F.lit("}"))
        value = F.concat(
            F.lit('{"payload":'), payload_json, F.lit("}")
        )
    else:
        fields = list(env.schema["after"].dataType.fields)  # type: ignore[union-attr]
        type_names = {"bigint": "bigint", "double": "double",
                      "string": "string"}
        payload_cols = [
            (f.name, type_names[f.dataType.simpleString()])
            for f in fields
        ]
        prefix, middle, cluster = debezium_schema_block(
            payload_cols, pk_cols, cluster_id
        )
        value_name = F.concat(
            F.lit(cluster + "."), topic_name, F.lit(".Value")
        )
        m1, m2, m3 = middle.split("%%NAME%%")
        pk_fields_json = ",".join(
            '{"type":"%s","optional":false,"field":"%s"}'
            % (_DBZ_TYPES[t], n)
            for n, t in payload_cols
            if n in pk_cols
        )
        key = F.concat(
            F.lit('{"payload":'),
            key_payload,
            F.lit(',"schema":{"type":"struct","name":"' + cluster_id + "."),
            topic_name,
            F.lit('.Key","optional":false,"fields":['
                  + pk_fields_json + "]}}"),
        )
        value = F.concat(
            F.lit('{"payload":'),
            payload_json,
            F.lit(',"schema":'),
            F.lit(prefix),
            topic_name,
            F.lit(m1),
            value_name,
            F.lit(m2),
            value_name,
            F.lit(m3),
            F.lit("}"),
        )
    return env.select(
        "schema",
        "table",
        "commit_ts",
        "seq",
        *extra_cols,
        key.alias("key"),
        value.alias("value"),
    )


def debezium_sql_duckdb(
    payload_cols: list[tuple[str, str]],
    env_cte: str,
    disable_schema: bool = True,
    pk_cols: tuple[str, ...] = ("id",),
    cluster_id: str = "tiflow-spark",
    output_old_value: bool = True,
) -> str:
    def img(prefix: str) -> str:
        fields = ", ".join(f"{n}: {prefix}_{n}" for n, _ in payload_cols)
        return f"CASE WHEN {prefix}_id IS NOT NULL THEN {{{fields}}} END"

    source = """source: {connector: 'TiCDC', version: '2.4.0.Final',
                db: "schema",
                "table": "table", commitTs: commit_ts,
                ts_ms: commit_ts // 1000},
      op: CASE op WHEN 'I' THEN 'c' WHEN 'U' THEN 'u' ELSE 'd' END,
      ts_ms: 0::BIGINT"""
    payload = f"""to_json({{
      before: {img("before")},
      after: {img("after")},
      {source}
    }})"""
    if not output_old_value:
        # debezium.output-old-value=false: updates DROP the before key
        payload = f"""CASE WHEN op = 'U' THEN to_json({{
      after: {img("after")},
      {source}
    }}) ELSE {payload} END"""
    key_payload = """to_json({id:
      CASE WHEN op = 'D' THEN before_id ELSE after_id END})"""
    pk_fields_json = ",".join(
        '{"type":"%s","optional":false,"field":"%s"}' % (_DBZ_TYPES[t], n)
        for n, t in payload_cols
        if n in pk_cols
    )
    if disable_schema:
        key_sql = f"""'{{"payload":' || {key_payload} || '}}'"""
        value = f"""'{{"payload":' || {payload} || '}}'"""
    else:
        prefix, middle, cluster = debezium_schema_block(
            payload_cols, pk_cols, cluster_id
        )
        m1, m2, m3 = middle.split("%%NAME%%")
        topic = """\"schema\" || '.' || "table\""""
        vname = f"""'{cluster}.' || {topic} || '.Value'"""
        key_sql = (
            f"""'{{"payload":' || {key_payload} || """
            f"""',"schema":{{"type":"struct","name":"{cluster_id}.' || """
            f"""{topic} || '.Key","optional":false,"fields":["""
            f"""{pk_fields_json}]}}}}'"""
        )
        value = (
            f"""'{{"payload":' || {payload} || ',"schema":' || """
            f"""'{prefix}' || {topic} || '{m1}' || {vname} || """
            f"""'{m2}' || {vname} || '{m3}' || '}}'"""
        )
    return f"""{env_cte}
    SELECT "schema", "table", commit_ts, seq, {key_sql} AS key,
      {value} AS value FROM env"""

def debezium_field_value(col: Column, meta: dict, tz: str = "UTC") -> Column:
    """Render one column value the way Debezium's type system does —
    the reference's writeDebeziumFieldValue switch (codec.go:477-860):

    - BIT(1) → BOOLEAN; BIT(n>1) → base64 bytes, LITTLE-endian, sized
      ceil(n/8) (codec.go:491-521)
    - string family → string; binary-charset → base64 (:523-540)
    - ENUM → the NAME (ParseEnumValue, :541-560); SET → comma-joined
      names (:561-580)
    - DECIMAL → FLOAT64 (the lossy double rendering, :581-597)
    - DATE → epoch DAYS int64 (:598-627)
    - DATETIME → epoch millis when fsp<=3 else micros, parsed as UTC
      wall time (:629-673)
    - TIMESTAMP → io.debezium.time.ZonedTimestamp string: wall time in
      the CONFIG TIME ZONE converted to UTC, "yyyy-MM-ddTHH:mm:ss" +
      fsp-truncated fraction + "Z" (:674-728 — the one place
      config.TimeZone acts)
    - TIME → microseconds int64 (:729-748)
    - ints → int64; float/double → float64; YEAR → int with the
      two-digit 70/100 pivots (:749-860)

    All built-ins — the render is a pure map stage."""
    t = meta.get("mysqlType")
    flen = meta.get("flen")
    fsp = meta.get("decimal") or 0
    values = tuple(meta.get("values", ()))
    if t == "bit":
        n = flen if flen is not None else 1
        if n == 1:
            return (col.cast("long") != 0).alias("b")
        nbytes = (n + 7) // 8
        b = F.concat(
            *[
                F.unhex(
                    F.lpad(
                        F.hex(
                            F.shiftright(col.cast("long"), 8 * i)
                            .bitwiseAND(F.lit(255))
                        ),
                        2,
                        "0",
                    )
                )
                for i in range(nbytes)  # little-endian byte order
            ]
        )
        return F.base64(b)
    if t == "enum":
        return F.element_at(
            F.array(*[F.lit(v) for v in values]), col.cast("int")
        )
    if t == "set":
        from tiflow_spark.types import set_names

        return set_names(col.cast("long"), values)
    if t == "decimal":
        return col.cast("double")
    if t == "date":
        return F.datediff(F.to_date(col), F.lit("1970-01-01")).cast("long")
    if t == "datetime":
        ntz = F.to_timestamp_ntz(col)
        utc = ntz.cast("timestamp")  # session tz is UTC (engine contract)
        if fsp <= 3:
            return F.unix_millis(utc)
        return F.unix_micros(utc)
    if t == "timestamp":
        utc = F.to_utc_timestamp(col, tz)
        base = F.date_format(utc, "yyyy-MM-dd'T'HH:mm:ss")
        if fsp > 0:
            frac = F.format_string(
                ".%06d", F.unix_micros(utc) % F.lit(1_000_000)
            ).substr(1, 1 + fsp)
            return F.concat(base, frac, F.lit("Z"))
        return F.concat(base, F.lit("Z"))
    if t == "time":
        h = F.regexp_extract(col, r"^(\d+):", 1).cast("long")
        m = F.regexp_extract(col, r"^\d+:(\d+)", 1).cast("long")
        s = F.regexp_extract(col, r"^\d+:\d+:(\d+)", 1).cast("long")
        frac = F.rpad(
            F.regexp_extract(col, r"\.(\d+)$", 1), 6, "0"
        )
        micros = (h * 3600 + m * 60 + s) * 1_000_000 + F.coalesce(
            F.nullif(frac, F.lit("")).cast("long"), F.lit(0)
        )
        return micros
    if t == "year":
        y = col.cast("long")
        return (
            F.when(y < 70, y + 2000)
            .when(y < 100, y + 1900)
            .otherwise(y)
        )
    if meta.get("binary"):
        return F.base64(col.cast("binary"))
    if t in ("float", "double"):
        return col.cast("double")
    if t in ("tinyint", "smallint", "mediumint", "int", "bigint"):
        return col.cast("long")
    return col.cast("string")


def encode_debezium_typed(
    env: DataFrame,
    tz: str = "UTC",
    connector_version: str = "2.4.0.Final",
) -> DataFrame:
    """Debezium envelope with the TYPED field-value rendering of
    writeDebeziumFieldValue applied to every payload column (metadata
    read from the schema's ColumnSpec StructField.metadata) — the
    temporal/enum/set/bit/decimal conversions the plain passthrough
    encoder does not perform, including the config-TimeZone-dependent
    ZonedTimestamp path. Schema block off (the value rendering is the
    subject; same scoping as the default encoder)."""
    fields = list(env.schema["after"].dataType.fields)  # type: ignore[union-attr]

    def img(side: str) -> Column:
        return F.when(
            F.col(side).isNotNull(),
            F.struct(
                *[
                    debezium_field_value(
                        F.col(f"{side}.{f.name}"), f.metadata or {}, tz
                    ).alias(f.name)
                    for f in fields
                ]
            ),
        )

    op = (
        F.when(F.col("op") == "I", "c")
        .when(F.col("op") == "U", "u")
        .otherwise("d")
    )
    source = F.struct(
        F.lit("TiCDC").alias("connector"),
        F.lit(connector_version).alias("version"),
        F.col("schema").alias("db"),
        F.col("table").alias("table"),
        F.col("commit_ts").alias("commitTs"),
        F.expr("commit_ts div 1000").alias("ts_ms"),
    )
    payload = F.struct(
        img("before").alias("before"),
        img("after").alias("after"),
        source.alias("source"),
        op.alias("op"),
        F.lit(0).cast("long").alias("ts_ms"),
    )
    value = F.concat(
        F.lit('{"payload":'),
        F.to_json(payload, {"ignoreNullFields": "false"}),
        F.lit("}"),
    )
    return env.select(
        "schema", "table", "commit_ts", "seq", value.alias("value")
    )


def decode_debezium(
    messages: DataFrame,
    value_col: str = "value",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Debezium envelope JSON → change rows (debezium consumer parity).
    Schema-change and watermark (op m) messages get a NULL op.

    ``extra_cols`` passes message-frame columns (partition/offset broker
    metadata) through the decode — join-free composition, same
    passthrough as the other codec decoders."""
    img = "STRUCT<id: BIGINT, balance: DOUBLE, note: STRING>"
    schema = (
        f"payload STRUCT<before: {img}, after: {img}, "
        "source STRUCT<connector: STRING, version: STRING, db: STRING, "
        "table: STRING, commitTs: BIGINT, ts_ms: BIGINT>, "
        "op: STRING, ts_ms: BIGINT>"
    )
    m = messages.select(
        *extra_cols, F.from_json(F.col(value_col), schema).alias("m")
    )
    op = (
        F.when(F.col("m.payload.op") == "c", "I")
        .when(F.col("m.payload.op") == "u", "U")
        .when(F.col("m.payload.op") == "d", "D")
    )
    return m.select(
        *extra_cols,
        op.alias("op"),
        F.col("m.payload.source.db").alias("schema"),
        F.col("m.payload.source.table").alias("table"),
        F.col("m.payload.source.commitTs").alias("commit_ts"),
        F.col("m.payload.before").alias("before"),
        F.col("m.payload.after").alias("after"),
    )


def encode_debezium_ddl(
    ddl: DataFrame,
    registry: DataFrame | None = None,
    cluster_id: str = "tiflow-spark",
) -> DataFrame:
    """DDL events → Debezium schema-change messages
    (pkg/sink/codec/debezium/codec.go:1154-1205 EncodeDDLEvent).

    Key = {"payload": {"databaseName": <db>}} (SchemaChangeKey; schema
    block config-gated off, like the DML path). Value payload carries the
    source struct (connector/version/cluster + TiDB commit_ts extension),
    databaseName / schemaName / ddl, and tableChanges: CREATE for
    create database/table/view, DROP for drop database/table/index/view +
    truncate table, ALTER for column/partition/index/rename changes — the
    reference's changeType switch, exact kinds. tableChanges is empty for
    TRUNCATE (reference returns early), carries table=null for DROP
    TABLE, and for a rename the id concatenates "old","new" qualified
    names. When a schema ``registry`` is supplied, the table block is
    filled as-of each DDL's commit_ts (primaryKeyColumnNames + column
    names) via the broadcast version-array lookup — no shuffle on the
    (metadata-scale) DDL side either. Wall-clock ts_ms pinned to 0 for
    determinism (DML-path precedent)."""
    if registry is not None:
        from tiflow_spark.sources.schema_registry import asof_resolve

        ddl = asof_resolve(
            ddl, registry, event_table_col="table", with_keys=True
        ).drop("version_no", "version_ts", "defaults", "handle_cols")
    else:
        ddl = ddl.withColumn(
            "columns", F.lit(None).cast("array<string>")
        ).withColumn("pk_cols", F.lit(None).cast("array<string>"))

    change_type = (
        F.when(
            F.col("ddl_type").isin(
                "create database", "create table", "create view"
            ),
            "CREATE",
        )
        .when(
            F.col("ddl_type").isin(
                "drop database", "drop table", "drop index", "drop view",
                "truncate table",
            ),
            "DROP",
        )
        .otherwise("ALTER")
    )
    quoted = F.concat(
        F.lit('"'), F.col("schema"), F.lit('"."'), F.col("table"), F.lit('"')
    )
    rename_to = F.regexp_extract(F.col("query"), r"(?i)\bTO\s+`?(\w+)`?", 1)
    tbl_id = F.when(
        F.col("ddl_type") == "rename table",
        F.concat(
            quoted, F.lit(','),
            F.lit('"'), F.col("schema"), F.lit('"."'), rename_to, F.lit('"'),
        ),
    ).otherwise(quoted)
    table_obj = F.when(
        (F.col("ddl_type") != "drop table") & F.col("columns").isNotNull(),
        F.struct(
            F.lit("utf8mb4").alias("defaultCharsetName"),
            F.col("pk_cols").alias("primaryKeyColumnNames"),
            F.transform(
                "columns", lambda c: F.struct(c.alias("name"))
            ).alias("columns"),
        ),
    )
    change = F.struct(
        change_type.alias("type"),
        tbl_id.alias("id"),
        table_obj.alias("table"),
    )
    # typed empty array vs one-element array must unify: build via slice
    table_changes = F.when(
        (F.col("table") == "") | (F.col("ddl_type") == "truncate table"),
        F.slice(F.array(change), 1, 0),
    ).otherwise(F.array(change))
    source = F.struct(
        F.lit("2.4.0.Final").alias("version"),
        F.lit("TiCDC").alias("connector"),
        F.lit(cluster_id).alias("name"),
        F.expr("commit_ts div 1000").alias("ts_ms"),
        F.lit("false").alias("snapshot"),
        F.col("schema").alias("db"),
        F.col("table").alias("table"),
        F.lit(0).cast("long").alias("server_id"),
        F.lit(None).cast("string").alias("gtid"),
        F.lit("").alias("file"),
        F.lit(0).cast("long").alias("pos"),
        F.lit(0).cast("long").alias("row"),
        F.lit(0).cast("long").alias("thread"),
        F.lit(None).cast("string").alias("query"),
        F.col("commit_ts").alias("commit_ts"),
        F.lit(cluster_id).alias("cluster_id"),
    )
    payload = F.struct(
        source.alias("source"),
        F.lit(0).cast("long").alias("ts_ms"),
        F.col("schema").alias("databaseName"),
        F.lit(None).cast("string").alias("schemaName"),
        F.col("query").alias("ddl"),
        table_changes.alias("tableChanges"),
    )
    key = F.struct(
        F.struct(F.col("schema").alias("databaseName")).alias("payload")
    )
    return ddl.select(
        "schema",
        "table",
        "commit_ts",
        "seq",
        F.to_json(key, {"ignoreNullFields": "false"}).alias("key"),
        F.to_json(
            F.struct(payload.alias("payload")), {"ignoreNullFields": "false"}
        ).alias("value"),
    )


def decode_debezium_ddl(messages: DataFrame, value_col: str = "value") -> DataFrame:
    """Debezium schema-change JSON → DDL rows (decoder.go:97
    checkKeyAndValue: a value payload WITHOUT "op" is a DDL message;
    :119 NextDDLEvent reads databaseName/table/ddl/commit_ts)."""
    schema = (
        "payload STRUCT<source STRUCT<db: STRING, table: STRING, "
        "commit_ts: BIGINT>, databaseName: STRING, ddl: STRING>"
    )
    m = messages.select(F.from_json(F.col(value_col), schema).alias("m"))
    return m.select(
        F.col("m.payload.databaseName").alias("schema"),
        F.col("m.payload.source.table").alias("table"),
        F.col("m.payload.source.commit_ts").alias("commit_ts"),
        F.col("m.payload.ddl").alias("query"),
    )


def encode_debezium_checkpoint(
    resolved: DataFrame,
    ts_col: str = "resolved_ts",
    cluster_id: str = "tiflow-spark",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Resolved-ts → Debezium watermark messages (debezium/codec.go:
    1576-1650 EncodeCheckpointEvent): key = {"payload": {}}, value payload
    = the pinned source block (empty db/table, commit_ts + cluster_id
    TiDB extensions) with op "m" — the marker decoder.go routes to
    MessageTypeResolved. Wall-clock ts_ms pinned to 0."""
    ts = F.col(ts_col)
    source = F.struct(
        F.lit("2.4.0.Final").alias("version"),
        F.lit("TiCDC").alias("connector"),
        F.lit(cluster_id).alias("name"),
        F.expr(f"{ts_col} div 1000").alias("ts_ms"),
        F.lit("false").alias("snapshot"),
        F.lit("").alias("db"),
        F.lit("").alias("table"),
        F.lit(0).cast("long").alias("server_id"),
        F.lit(None).cast("string").alias("gtid"),
        F.lit("").alias("file"),
        F.lit(0).cast("long").alias("pos"),
        F.lit(0).cast("long").alias("row"),
        F.lit(0).cast("long").alias("thread"),
        F.lit(None).cast("string").alias("query"),
        ts.alias("commit_ts"),
        F.lit(cluster_id).alias("cluster_id"),
    )
    payload = F.struct(
        source.alias("source"),
        F.lit(0).cast("long").alias("ts_ms"),
        F.lit(None).cast("string").alias("transaction"),
        F.lit("m").alias("op"),
    )
    return resolved.select(
        *extra_cols,
        ts.alias("resolved_ts"),
        F.lit('{"payload":{}}').alias("key"),
        F.to_json(
            F.struct(payload.alias("payload")), {"ignoreNullFields": "false"}
        ).alias("value"),
    )


# ----------------------------------------------------------- typed decode


def _debezium_wire_type(spec) -> str:
    """The JSON-wire type writeDebeziumFieldValue emits per MySQL type
    (codec.go:477-860) — what from_json must expect on replay."""
    t = spec.mysql_type
    if t == "bit":
        return "BOOLEAN" if (spec.flen or 1) == 1 else "STRING"
    if t in ("enum", "set", "timestamp"):
        return "STRING"
    if t in ("decimal", "float", "double"):
        return "DOUBLE"
    if t in ("date", "datetime", "time", "year", "tinyint", "smallint",
             "mediumint", "int", "bigint"):
        return "BIGINT"
    if spec.binary or t in ("blob", "varbinary", "binary", "tinyblob",
                            "mediumblob", "longblob"):
        return "STRING"  # base64
    return "STRING"


def debezium_field_decode(col: Column, spec, tz: str = "UTC") -> Column:
    """Inverse of :func:`debezium_field_value` — one wire value back to
    the engine representation (the consumer side of the typed renderer;
    the reference ships no debezium decoder, so this closes the loop the
    kafka-consumer's debezium branch (writer.go:51-63) implies):

    - BIT(1) bool → 0/1; BIT(n) base64 little-endian bytes → integer
    - ENUM name → 1-based value; SET names → bitmask
    - DECIMAL float64 → canonical string (precision bounded by the wire's
      lossy double rendering, codec.go:581-597)
    - DATE epoch-days → 'yyyy-MM-dd'; DATETIME epoch millis/micros (by
      fsp) → wall string; TIME micros → 'HH:mm:ss[.fff]'
    - ZonedTimestamp UTC string → wall time in the config TimeZone
      (inverse of the :674-728 conversion)
    - YEAR stays the canonical 4-digit year the wire carries (MySQL YEAR
      storage is 4-digit; the encoder's 70/100 pivot is one-way)
    - binary base64 → bytes
    """
    t = spec.mysql_type
    fsp = spec.decimal_digits or 0
    values = tuple(spec.enum_values)
    if t == "bit":
        n = spec.flen if spec.flen is not None else 1
        if n == 1:
            return col.cast("long")
        nbytes = (n + 7) // 8
        hexs = F.hex(F.unbase64(col))
        out: Column = F.lit(0).cast("long")
        for i in range(nbytes):  # little-endian byte order
            byte = F.conv(F.substring(hexs, 2 * i + 1, 2), 16, 10).cast("long")
            out = out + F.shiftleft(byte, 8 * i)
        return out
    if t == "enum":
        return F.array_position(
            F.array(*[F.lit(v) for v in values]), col
        ).cast("long")
    if t == "set":
        arr = F.split(col, ",")
        mask: Column = F.lit(0).cast("long")
        for i, v in enumerate(values):
            mask = mask + F.when(
                F.array_contains(arr, v), F.lit(1 << i)
            ).otherwise(F.lit(0))
        return mask
    if t == "decimal":
        if spec.flen:
            # the wire is a lossy FLOAT64 (codec.go:581-597); the column's
            # declared (precision, scale) restores the canonical rendering
            return col.cast(f"decimal({spec.flen},{fsp})").cast("string")
        return col.cast("string")
    if t == "date":
        return F.date_format(
            F.date_add(F.to_date(F.lit("1970-01-01")), col.cast("int")),
            "yyyy-MM-dd",
        )
    if t == "datetime":
        ts = F.timestamp_millis(col) if fsp <= 3 else F.timestamp_micros(col)
        pat = "yyyy-MM-dd HH:mm:ss" + ("." + "S" * fsp if fsp else "")
        return F.date_format(ts, pat)  # session tz UTC (engine contract)
    if t == "timestamp":
        clean = F.regexp_replace(
            F.regexp_replace(col, "T", " "), "Z$", ""
        )
        wall = F.from_utc_timestamp(F.to_timestamp_ntz(clean), tz)
        pat = "yyyy-MM-dd HH:mm:ss" + ("." + "S" * fsp if fsp else "")
        return F.date_format(wall, pat)
    if t == "time":
        h = F.floor(col / F.lit(3_600_000_000)).cast("long")
        m = (F.floor(col / F.lit(60_000_000)) % 60).cast("long")
        s = (F.floor(col / F.lit(1_000_000)) % 60).cast("long")
        base = F.format_string("%02d:%02d:%02d", h, m, s)
        if fsp:
            frac = F.substring(
                F.format_string(".%06d", (col % F.lit(1_000_000)).cast("long")),
                1,
                1 + fsp,
            )
            return F.concat(base, frac)
        return base
    if t == "year":
        return col.cast("long")
    if spec.binary or t in ("blob", "varbinary", "binary", "tinyblob",
                            "mediumblob", "longblob"):
        return F.unbase64(col)
    if t in ("float", "double"):
        return col.cast("double")
    if t in ("tinyint", "smallint", "mediumint", "int", "bigint"):
        return col.cast("long")
    return col


def decode_debezium_typed(
    messages: DataFrame,
    specs: list,
    tz: str = "UTC",
    value_col: str = "value",
) -> DataFrame:
    """Debezium envelope JSON with TYPED field values → engine change
    rows: from_json against the wire types writeDebeziumFieldValue
    emits, then the per-type inverse render. One map stage, no UDF.
    Non-row messages get a NULL op, as in :func:`decode_debezium`."""
    img = ", ".join(
        f"`{s.name}`: {_debezium_wire_type(s)}" for s in specs
    )
    schema = (
        f"payload STRUCT<before: STRUCT<{img}>, after: STRUCT<{img}>, "
        "source STRUCT<connector: STRING, version: STRING, db: STRING, "
        "table: STRING, commitTs: BIGINT, ts_ms: BIGINT>, "
        "op: STRING, ts_ms: BIGINT>"
    )
    m = messages.select(F.from_json(F.col(value_col), schema).alias("m"))

    def img_col(side: str) -> Column:
        return F.when(
            F.col(f"m.payload.{side}").isNotNull(),
            F.struct(
                *[
                    debezium_field_decode(
                        F.col(f"m.payload.{side}.`{s.name}`"), s, tz
                    ).alias(s.name)
                    for s in specs
                ]
            ),
        )

    op = (
        F.when(F.col("m.payload.op") == "c", "I")
        .when(F.col("m.payload.op") == "u", "U")
        .when(F.col("m.payload.op") == "d", "D")
    )
    return m.select(
        op.alias("op"),
        F.col("m.payload.source.db").alias("schema"),
        F.col("m.payload.source.table").alias("table"),
        F.col("m.payload.source.commitTs").alias("commit_ts"),
        img_col("before").alias("before"),
        img_col("after").alias("after"),
    )
