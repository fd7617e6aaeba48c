"""Canal-JSON codec (Alibaba Canal FlatMessage compatibility).

Reference: pkg/sink/codec/canal/canal_json_row_event_encoder.go (562 LoC) and
canal_json_message.go:54-75 (JSONMessage field order: id, database, table,
pkNames, isDdl, type, es, ts, sql, sqlType, mysqlType, data, old).

Semantics reproduced:
- all column values stringified (canal datum convention), NULL stays null
- INSERT: data = post-image, old = null;  DELETE: data = pre-image, old = null
- UPDATE: data = post-image, old = pre-image
- es = commit-ts physical time in ms; ts (build time) pinned to 0 for
  determinism (the reference stamps wall clock — untestable)
- sqlType = java.sql.Types codes, mysqlType = lowercase type names

Built with to_json over one struct → pure map stage, byte-deterministic, and
identical output is constructible in DuckDB (verified: null/bool/array-of-map
rendering matches to the byte).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# java.sql.Types codes used by the reference's JavaSQLType mapping
_JAVA_SQL_TYPES = {
    T.LongType(): -5,  # BIGINT
    T.IntegerType(): 4,  # INTEGER
    T.DoubleType(): 8,  # DOUBLE
    T.StringType(): 12,  # VARCHAR
    T.BooleanType(): -7,  # BIT
}
_MYSQL_TYPES = {
    T.LongType(): "bigint",
    T.IntegerType(): "int",
    T.DoubleType(): "double",
    T.StringType(): "varchar",
    T.BooleanType(): "tinyint(1)",
}


def _mysql_type_of(f: T.StructField, full: bool = False) -> str:
    """MySQL display type for a field — honors types.py ColumnSpec metadata
    (enum/set value lists, unsigned flag, binary flag) the way the
    reference renders mysqlType from TableInfo
    (canal_json_message.go getMySQLType). ``full=True`` renders the FULL
    type descriptor (``int(11) unsigned`` style) — the
    ``content-compatible`` branch of utils/mysql_types.go:25-33
    GetMySQLType → GetTypeDesc."""
    meta = f.metadata or {}
    mt = meta.get("mysqlType")
    if full:
        from tiflow_spark.types import mysql_full_type

        if not mt:
            # metadata-less fixture columns: derive the base identity
            # from the Spark type (same fallback as the short form);
            # varchar carries MySQL's conventional 255 display length —
            # a real TableInfo always has flen, this is fixture-only
            if isinstance(f.dataType, T.BinaryType):
                mt = "blob"
            elif isinstance(f.dataType, T.DecimalType):
                mt = "decimal"
            else:
                mt = _MYSQL_TYPES[f.dataType].split("(")[0]
            meta = {**meta, "mysqlType": mt}
            if mt in ("varchar", "varbinary") and "flen" not in meta:
                meta["flen"] = 255
        return mysql_full_type(meta)
    if mt in ("enum", "set") and meta.get("values"):
        vals = ",".join(f"'{v}'" for v in meta["values"])
        return f"{mt}({vals})"
    if mt:
        return f"{mt} unsigned" if meta.get("unsigned") else mt
    if isinstance(f.dataType, T.BinaryType):
        return "blob"
    if isinstance(f.dataType, T.DecimalType):
        return "decimal"
    return _MYSQL_TYPES[f.dataType]


# base mysql type name → java.sql.Types code, the reference's
# MySQLType2JavaType switch (pkg/sink/codec/internal/java.go:68-140):
# TINYINT -6, SMALLINT 5, INTEGER 4, REAL 7, DOUBLE 8, DECIMAL 3,
# TIMESTAMP 93, BIGINT -5, DATE 91, TIME 92, VARCHAR 12, BIT -7,
# CHAR 1, CLOB 2005, BLOB 2004; enum → INTEGER, set → BIT,
# year/json/vector → VARCHAR
_JAVA_BY_MYSQL = {
    "tinyint": -6,
    "smallint": 5,
    "mediumint": 4,
    "int": 4,
    "bigint": -5,
    "float": 7,
    "double": 8,
    "decimal": 3,
    "timestamp": 93,
    "datetime": 93,
    "date": 91,
    "time": 92,
    "year": 12,
    "enum": 4,
    "set": -7,
    "bit": -7,
    "json": 12,
    "vector": 12,
    "char": 1,
    "varchar": 12,
    "text": 2005,
    "tinytext": 2005,
    "mediumtext": 2005,
    "longtext": 2005,
    "blob": 2004,
    "tinyblob": 2004,
    "mediumblob": 2004,
    "longblob": 2004,
    "binary": 2004,
    "varbinary": 2004,
}


# unsigned integral promotion thresholds + promoted code, the reference's
# PER-VALUE rule (canal_entry.go getJavaSQLType :304-366, mirroring
# alibaba/canal LogEventConvert): an unsigned value exceeding the SIGNED
# type's max promotes one width — tinyint(-6)→SMALLINT(5) above 127,
# smallint(5)→INTEGER(4) above 32767, int(4)→BIGINT(-5) above 2^31-1,
# bigint(-5)→DECIMAL(3) above 2^63-1. mediumint/year/bit/float/double/
# decimal never promote (:311-318 + the switch omits TypeInt24).
_UNSIGNED_PROMOTION = {
    "tinyint": (127, 5),
    "smallint": (32767, 4),
    "int": (2147483647, -5),
    "bigint": (9223372036854775807, 3),
}


def _java_sql_type_of(f: T.StructField) -> int:
    """Static java.sql.Types code per column (internal/java.go
    MySQLType2JavaType): per-base-type codes with the binary-charset
    promotion to BLOB(2004) for the string/blob families. Unsigned
    integral columns take their UNPROMOTED base code here — the
    per-value promotion is :func:`_java_sql_type_col`."""
    meta = f.metadata or {}
    mt = meta.get("mysqlType")
    if mt:
        if meta.get("binary") and mt in (
            "char", "varchar", "text", "tinytext", "mediumtext", "longtext"
        ):
            return 2004  # binary charset → Types.BLOB (java.go isBinary)
        return _JAVA_BY_MYSQL[mt]
    if isinstance(f.dataType, T.DecimalType):
        return 3  # Types.DECIMAL
    if isinstance(f.dataType, T.BinaryType):
        return 2004  # Types.BLOB
    return _JAVA_SQL_TYPES[f.dataType]


def _java_sql_type_col(f: T.StructField) -> Column:
    """java.sql.Types code per column AND VALUE — getJavaSQLType
    (canal_entry.go:304-366): the static MySQLType2JavaType code, plus
    the unsigned per-value width promotion. The promoting value is the
    one the sqlType map renders: the new image for INSERT/UPDATE, the
    old image for DELETE (canal_json_row_event_encoder.go:158-161).
    NULL values keep the base code (:323-325)."""
    base = F.lit(_java_sql_type_of(f))
    meta = f.metadata or {}
    mt = meta.get("mysqlType")
    if not meta.get("unsigned") or mt not in _UNSIGNED_PROMOTION:
        return base
    limit, promoted = _UNSIGNED_PROMOTION[mt]
    v = F.when(
        F.col("op") == "D", F.col(f"before.{f.name}")
    ).otherwise(F.col(f"after.{f.name}"))
    return F.when(
        v > F.lit(limit).cast("decimal(20,0)"), F.lit(promoted)
    ).otherwise(base)


def _image_map(side: str, fields: list[T.StructField]) -> Column:
    """Column image as map<string,string> (canal stringifies values)."""
    kv: list[Column] = []
    for f in fields:
        kv.append(F.lit(f.name))
        kv.append(F.col(f"{side}.{f.name}").cast("string"))
    return F.when(F.col(side).isNotNull(), F.create_map(*kv))


def _changed_only_map(fields: list[T.StructField]) -> Column:
    """The OLD image with only the columns whose pre value differs from
    the post value (only-output-updated-columns,
    canal_json_row_event_encoder.go:230-243 fillColumns' skip-if-equal
    against the new-columns map). Entry order = declared field order,
    null-safe native-type compare, map built via filtered entries so
    arity stays data-dependent without a UDF."""
    entries = F.array(
        *[
            F.struct(
                F.lit(f.name).alias("key"),
                F.col(f"before.{f.name}").cast("string").alias("value"),
                (
                    ~F.col(f"before.{f.name}").eqNullSafe(
                        F.col(f"after.{f.name}")
                    )
                ).alias("keep"),
            )
            for f in fields
        ]
    )
    kept = F.transform(
        F.filter(entries, lambda e: e["keep"]),
        lambda e: F.struct(e["key"].alias("key"), e["value"].alias("value")),
    )
    return F.when(F.col("before").isNotNull(), F.map_from_entries(kept))


#: canal-json message shape; `_tidb` is NULL without enable-tidb-extension
_CANAL_SCHEMA = (
    "id BIGINT, database STRING, table STRING, pkNames ARRAY<STRING>, "
    "isDdl BOOLEAN, type STRING, es BIGINT, ts BIGINT, sql STRING, "
    "sqlType MAP<STRING,INT>, mysqlType MAP<STRING,STRING>, "
    "data ARRAY<MAP<STRING,STRING>>, old ARRAY<MAP<STRING,STRING>>, "
    "_tidb STRUCT<commitTs: BIGINT>"
)


def encode_canal_json(
    env: DataFrame,
    pk_names: tuple[str, ...] = ("id",),
    extra_cols: tuple[str, ...] = (),
    only_output_updated_columns: bool = False,
    delete_only_handle_key: bool = False,
    content_compatible: bool = False,
    enable_tidb_extension: bool = False,
) -> DataFrame:
    """``only_output_updated_columns`` trims UPDATE old-images to the
    actually-changed columns; ``delete_only_handle_key`` trims DELETE
    data-images to the handle-key columns
    (common/config.go:45-46,78 — both default-off, default output
    byte-identical to round-1's). ``content_compatible`` is the
    official-Canal compatibility mode (common/config.go:270-275):
    mysqlType renders the FULL type descriptor
    (``int(11) unsigned``-style, GetMySQLType fullType=true →
    GetTypeDesc) and only-output-updated-columns is FORCED on — the
    reference sets ``c.OnlyOutputUpdatedColumns = true`` whenever
    content-compatible is requested. ``enable_tidb_extension`` appends
    the ``"_tidb":{"commitTs":N}`` block as the message's LAST field
    (canal_json_row_event_encoder.go:252-257 — written after the base
    JSONMessage fields; the same block the large-message paths extend
    with onlyHandleKey/claimCheckLocation and the watermark message with
    watermarkTs). Default-off keeps the plain JSONMessage byte surface
    (the official-Canal consumer shape)."""
    if content_compatible:
        only_output_updated_columns = True  # config.go:272-274
    fields = list(env.schema["after"].dataType.fields)  # type: ignore[union-attr]
    sql_type = F.create_map(
        *[
            c
            for f in fields
            for c in (F.lit(f.name), _java_sql_type_col(f))
        ]
    )
    mysql_type = F.create_map(
        *[
            c
            for f in fields
            for c in (
                F.lit(f.name),
                F.lit(_mysql_type_of(f, full=content_compatible)),
            )
        ]
    )
    event_type = (
        F.when(F.col("op") == "I", "INSERT")
        .when(F.col("op") == "U", "UPDATE")
        .otherwise("DELETE")
    )
    delete_image = (
        _image_map("before", [f for f in fields if f.name in pk_names])
        if delete_only_handle_key
        else _image_map("before", fields)
    )
    data = F.when(F.col("op") == "D", F.array(delete_image)).otherwise(
        F.array(_image_map("after", fields))
    )
    old_image = (
        _changed_only_map(fields)
        if only_output_updated_columns
        else _image_map("before", fields)
    )
    old = F.when(F.col("op") == "U", F.array(old_image))
    msg_fields = [
        F.lit(0).cast("long").alias("id"),
        F.col("schema").alias("database"),
        F.col("table").alias("table"),
        F.array(*[F.lit(p) for p in pk_names]).alias("pkNames"),
        F.lit(False).alias("isDdl"),
        event_type.alias("type"),
        F.expr("commit_ts div 1000").alias("es"),
        F.lit(0).cast("long").alias("ts"),
        F.lit("").alias("sql"),
        sql_type.alias("sqlType"),
        mysql_type.alias("mysqlType"),
        data.alias("data"),
        old.cast("array<map<string,string>>").alias("old"),
    ]
    if enable_tidb_extension:
        msg_fields.append(
            F.struct(F.col("commit_ts").alias("commitTs")).alias("_tidb")
        )
    msg = F.struct(*msg_fields)
    return env.select(
        "schema",
        "table",
        "commit_ts",
        "seq",
        *extra_cols,
        F.to_json(msg, {"ignoreNullFields": "false"}).alias("value"),
    )


def decode_canal_json(
    messages: DataFrame,
    value_col: str = "value",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Canal-JSON → change rows (consumer-side, cmd/kafka-consumer parity).
    DDL and TIDB_WATERMARK messages get a NULL op; ``tidb_commit_ts`` is
    NULL without the TiDB extension. ``extra_cols`` ride through
    untouched (e.g. storage-consumer path identity columns)."""
    m = messages.select(
        *extra_cols, F.from_json(F.col(value_col), _CANAL_SCHEMA).alias("m")
    )
    op = (
        F.when(F.col("m.type") == "INSERT", "I")
        .when(F.col("m.type") == "UPDATE", "U")
        .when(F.col("m.type") == "DELETE", "D")
    )
    return m.select(
        *extra_cols,
        op.alias("op"),
        F.col("m.database").alias("schema"),
        F.col("m.table").alias("table"),
        (F.col("m.es") * 1000).alias("commit_ts_ms_scaled"),
        F.element_at(F.col("m.data"), 1).alias("image"),
        F.element_at(F.col("m.old"), 1).alias("old_image"),
        F.col("m.pkNames").alias("pk_names"),
        F.col("m.mysqlType").alias("mysql_type"),
        F.col("m._tidb.commitTs").alias("tidb_commit_ts"),
    )


def canal_json_sql_duckdb(
    payload_cols: list[tuple[str, str]],
    env_cte: str,
    extra_select: str = "",
    only_output_updated_columns: bool = False,
    delete_only_handle_key: bool = False,
    pk_names: tuple[str, ...] = ("id",),
    enable_tidb_extension: bool = False,
) -> str:
    """DuckDB SQL building byte-identical canal-json messages (same two
    config flags as :func:`encode_canal_json`)."""
    java_types = {"bigint": -5, "int": 4, "double": 8, "string": 12}
    mysql_types = {"bigint": "bigint", "int": "int", "double": "double", "string": "varchar"}

    def img_map(prefix: str, names: list[str] | None = None) -> str:
        kv = ", ".join(
            f"'{name}': CAST({prefix}_{name} AS VARCHAR)"
            for name, _ in payload_cols
            if names is None or name in names
        )
        return f"CASE WHEN {prefix}_id IS NOT NULL THEN MAP {{{kv}}} END"

    def changed_only_map() -> str:
        entries = ", ".join(
            f"{{'k': '{name}', 'v': CAST(before_{name} AS VARCHAR), "
            f"'keep': before_{name} IS DISTINCT FROM after_{name}}}"
            for name, _ in payload_cols
        )
        return (
            "CASE WHEN before_id IS NOT NULL THEN map_from_entries("
            f"list_transform(list_filter([{entries}], x -> x.keep), "
            "x -> {'k': x.k, 'v': x.v})) END"
        )

    data_del = (
        img_map("before", list(pk_names))
        if delete_only_handle_key
        else img_map("before")
    )
    old_u = changed_only_map() if only_output_updated_columns else img_map("before")
    sql_t = ", ".join(f"'{n}': {java_types[t]}" for n, t in payload_cols)
    mysql_t = ", ".join(f"'{n}': '{mysql_types[t]}'" for n, t in payload_cols)
    extra = f"{extra_select}, " if extra_select else ""
    tidb = (
        ",\n      _tidb: {commitTs: commit_ts}" if enable_tidb_extension
        else ""
    )
    return f"""{env_cte}
    SELECT "schema", "table", commit_ts, seq, {extra}to_json({{
      id: 0::BIGINT,
      database: "schema",
      "table": "table",
      pkNames: ['id'],
      isDdl: false,
      type: CASE op WHEN 'I' THEN 'INSERT' WHEN 'U' THEN 'UPDATE' ELSE 'DELETE' END,
      es: commit_ts // 1000,
      ts: 0::BIGINT,
      sql: '',
      sqlType: MAP {{{sql_t}}},
      mysqlType: MAP {{{mysql_t}}},
      data: CASE WHEN op = 'D' THEN [{data_del}] ELSE [{img_map("after")}] END,
      old: CASE WHEN op = 'U' THEN [{old_u}] END{tidb}
    }}) AS value FROM env"""


def encode_canal_json_ddl(ddl: DataFrame) -> DataFrame:
    """DDL events → Canal-JSON DDL messages (the MQ DDL sink,
    cdc/sink/ddlsink/mq + canal_json_row_event_encoder.go DDL path):
    isDdl=true, sql = the DDL query, type mapped from the kind taxonomy
    (CREATE/ALTER/ERASE/TRUNCATE/RENAME/CINDEX/DINDEX per canal's
    EventType), empty data/old."""
    # exact-kind mapping per canal_entry.go convertDdlEventType: partition
    # DDL is ALTER (never CREATE/ERASE via prefix match); schema-level and
    # view DDL is QUERY; pk/fk index changes count as CINDEX/DINDEX
    event_type = (
        F.when(F.col("ddl_type") == "create table", "CREATE")
        .when(F.col("ddl_type") == "drop table", "ERASE")
        .when(F.col("ddl_type") == "truncate table", "TRUNCATE")
        .when(F.col("ddl_type") == "rename table", "RENAME")
        .when(
            F.col("ddl_type").isin(
                "create index", "add primary key", "add foreign key"
            ),
            "CINDEX",
        )
        .when(
            F.col("ddl_type").isin(
                "drop index", "drop primary key", "drop foreign key"
            ),
            "DINDEX",
        )
        .when(
            F.col("ddl_type").isin(
                "create database", "drop database",
                "modify schema charset and collate",
                "create view", "drop view", "recover table",
            ),
            "QUERY",
        )
        .otherwise("ALTER")
    )
    msg = F.struct(
        F.lit(0).cast("long").alias("id"),
        F.col("schema").alias("database"),
        F.col("table").alias("table"),
        F.lit(None).cast("array<string>").alias("pkNames"),
        F.lit(True).alias("isDdl"),
        event_type.alias("type"),
        F.expr("commit_ts div 1000").alias("es"),
        F.lit(0).cast("long").alias("ts"),
        F.col("query").alias("sql"),
        F.lit(None).cast("map<string,int>").alias("sqlType"),
        F.lit(None).cast("map<string,string>").alias("mysqlType"),
        F.lit(None).cast("array<map<string,string>>").alias("data"),
        F.lit(None).cast("array<map<string,string>>").alias("old"),
    )
    return ddl.select(
        "schema",
        "table",
        "commit_ts",
        "seq",
        F.to_json(msg, {"ignoreNullFields": "false"}).alias("value"),
    )


def encode_canal_json_checkpoint(
    resolved: DataFrame,
    ts_col: str = "resolved_ts",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Resolved-ts → canal-json WATERMARK messages (canal_json_row_event_
    encoder.go:338-372 newJSONMessage4CheckpointEvent, TiDB-extension
    gated): the standard JSONMessage envelope with type TIDB_WATERMARK,
    zero-valued row fields, and the `_tidb.watermarkTs` extension carrying
    the exact resolved ts. BuildTime (wall clock) pinned to 0."""
    ts = F.col(ts_col)
    msg = F.struct(
        F.lit(0).cast("long").alias("id"),
        F.lit("").alias("database"),
        F.lit("").alias("table"),
        F.lit(None).cast("array<string>").alias("pkNames"),
        F.lit(False).alias("isDdl"),
        F.lit("TIDB_WATERMARK").alias("type"),
        F.expr(f"{ts_col} div 1000").alias("es"),
        F.lit(0).cast("long").alias("ts"),
        F.lit("").alias("sql"),
        F.lit(None).cast("map<string,int>").alias("sqlType"),
        F.lit(None).cast("map<string,string>").alias("mysqlType"),
        F.lit(None).cast("array<map<string,string>>").alias("data"),
        F.lit(None).cast("array<map<string,string>>").alias("old"),
        F.struct(ts.alias("watermarkTs")).alias("_tidb"),
    )
    return resolved.select(
        *extra_cols,
        ts.alias("resolved_ts"),
        F.to_json(msg, {"ignoreNullFields": "false"}).alias("value"),
    )
