"""Simple protocol — TiCDC's "simple" JSON codec.

Reference: pkg/sink/codec/simple/{encoder,message}.go (message struct
message.go:472-502; DML types :58-63; bootstrap :514-524). The protocol
ships DML rows as JSON with string-encoded values, plus separate
BOOTSTRAP messages carrying the full table schema so consumers can decode
without a registry.

Determinism notes (divergences shared with our canal codec):
- buildTs (wall clock in the reference) is pinned to 0;
- null-valued optional fields are emitted as JSON null rather than omitted
  (`omitempty`) — consumers treat absent and null alike.

Everything is `to_json`/`from_json` over built-in structs — a pure map
stage, whole-stage-codegen'd, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MYSQL_TYPES = {
    T.LongType(): "bigint",
    T.IntegerType(): "int",
    T.DoubleType(): "double",
    T.StringType(): "varchar",
}


def _image_map(side: str, fields: list[T.StructField]):
    return F.when(
        F.col(f"{side}.id").isNotNull(),
        F.create_map(
            *[
                c
                for f in fields
                for c in (
                    F.lit(f.name),
                    F.col(f"{side}.{f.name}").cast("string"),
                )
            ]
        ),
    )


def _simple_dml_json(
    fields: list[T.StructField],
    schema_version: int,
    claim_check_location=None,
    handle_key_only: bool = False,
):
    """One simple-protocol DML message as a JSON Column (message.go:
    472-502; field order = the Go struct tag order, so
    claimCheckLocation/handleKeyOnly sit between schemaVersion and data —
    present only on large-message re-marshals, matching omitempty on
    normal messages: the claim location message carries BOTH
    (message.go:551-562), plain handle-key-only carries handleKeyOnly
    alone)."""
    dml_type = (
        F.when(F.col("op") == "I", "INSERT")
        .when(F.col("op") == "U", "UPDATE")
        .otherwise("DELETE")
    )
    data = F.when(F.col("op") != "D", _image_map("after", fields))
    old = F.when(F.col("op") != "I", _image_map("before", fields))
    parts = [
        F.lit(1).alias("version"),
        F.col("schema").alias("database"),
        F.col("table").alias("table"),
        F.lit(0).cast("long").alias("tableID"),
        dml_type.alias("type"),
        F.col("commit_ts").cast("long").alias("commitTs"),
        F.lit(0).cast("long").alias("buildTs"),
        F.lit(schema_version).cast("long").alias("schemaVersion"),
    ]
    if claim_check_location is not None:
        parts.append(claim_check_location.alias("claimCheckLocation"))
    if claim_check_location is not None or handle_key_only:
        parts.append(F.lit(True).alias("handleKeyOnly"))
    parts.append(data.alias("data"))
    parts.append(old.alias("old"))
    return F.to_json(F.struct(*parts), {"ignoreNullFields": "false"})


def encode_simple(
    env: DataFrame,
    schema_version: int = 1,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Envelope → simple-protocol DML messages (message.go:472-502)."""
    fields = list(env.schema["after"].dataType.fields)  # type: ignore[union-attr]
    return env.select(
        "schema",
        "table",
        "commit_ts",
        "seq",
        *extra_cols,
        _simple_dml_json(fields, schema_version).alias("value"),
    )


def encode_simple_handle_key_only(
    env: DataFrame,
    threshold_bytes: int,
    pk_names: tuple[str, ...] = ("id",),
    schema_version: int = 1,
) -> DataFrame:
    """Simple-protocol large-message handle-key-only (encoder.go:87
    MarshalRowChangedEvent(event, true, "") with no claim location:
    message.go:551-562 sets handleKeyOnly=true, claimCheckLocation
    omitted by omitempty, data/old cut to handle keys). One CASE
    projection, no shuffle."""
    fields = list(env.schema["after"].dataType.fields)  # type: ignore[union-attr]
    pk_fields = [f for f in fields if f.name in pk_names]
    full = _simple_dml_json(fields, schema_version)
    hk = _simple_dml_json(pk_fields, schema_version, handle_key_only=True)
    oversized = F.octet_length(full) > F.lit(threshold_bytes)
    return env.select(
        "schema",
        "table",
        "commit_ts",
        "seq",
        F.when(oversized, hk).otherwise(full).alias("value"),
        oversized.alias("only_handle_key"),
    )


def encode_simple_claim_check(
    env: DataFrame,
    threshold_bytes: int,
    location_prefix: str,
    pk_names: tuple[str, ...] = ("id",),
    schema_version: int = 1,
) -> DataFrame:
    """Simple-protocol claim-check (encoder.go:78-97: oversized messages
    re-marshal with onlyHandleKey=true AND claimCheckLocation set —
    message.go:551-562 — while the full message goes to external storage
    as the ClaimCheckMessage; the decoder follows msg.ClaimCheckLocation,
    decoder.go:140-141,167). One CASE projection, no shuffle."""
    from tiflow_spark.codecs.claim_check import _claim_payload

    fields = list(env.schema["after"].dataType.fields)  # type: ignore[union-attr]
    pk_fields = [f for f in fields if f.name in pk_names]
    full = _simple_dml_json(fields, schema_version)
    loc = F.concat(
        F.lit(location_prefix.rstrip("/") + "/"), F.md5(full), F.lit(".json")
    )
    envelope = _simple_dml_json(
        pk_fields, schema_version, claim_check_location=loc
    )
    oversized = F.octet_length(full) > F.lit(threshold_bytes)
    null_key = F.lit(None).cast("string")
    return env.select(
        "schema",
        "table",
        "commit_ts",
        "seq",
        F.when(oversized, envelope).otherwise(full).alias("value"),
        oversized.alias("is_claim"),
        F.when(oversized, loc).alias("claim_location"),
        F.when(oversized, _claim_payload(full, null_key, False)).alias(
            "claim_payload"
        ),
    )


def encode_simple_checksum(
    env: DataFrame,
    schema_version: int = 1,
    checksum_version: int = 1,
    corrupt_when=None,
) -> DataFrame:
    """encode_simple + the enable-row-checksum block (message.go:465-470
    ``checksum {version, corrupted, current, previous}``): ``current`` is
    the checksum over the NEW image (I/U), ``previous`` over the OLD
    image (U/D) — the reference carries both so the consumer can verify
    update pre-images too (simple/decoder.go:395-404 →
    common/verify_checksum.go). Absent sides carry 0 (= not enabled /
    nothing to verify, verify_checksum.go:37). ``corrupt_when`` flips
    BOTH carried values (+1) on matching rows — upstream corruption the
    consumer must catch; the corrupted flag stays false."""
    from tiflow_spark.functions.hashing import row_checksum

    fields = list(env.schema["after"].dataType.fields)  # type: ignore[union-attr]
    names = [f.name for f in fields]
    flat = env.select(
        "*",
        *[F.col(f"after.{n}").alias(f"_a_{n}") for n in names],
        *[F.col(f"before.{n}").alias(f"_b_{n}") for n in names],
    )
    cur = F.when(
        F.col("op") != "D", row_checksum([f"_a_{n}" for n in names])
    ).otherwise(F.lit(0))
    prev = F.when(
        F.col("op") != "I", row_checksum([f"_b_{n}" for n in names])
    ).otherwise(F.lit(0))
    if corrupt_when is not None:
        cur = F.when(corrupt_when & (cur != 0), cur + 1).otherwise(cur)
        prev = F.when(corrupt_when & (prev != 0), prev + 1).otherwise(prev)
    dml_type = (
        F.when(F.col("op") == "I", "INSERT")
        .when(F.col("op") == "U", "UPDATE")
        .otherwise("DELETE")
    )
    data = F.when(F.col("op") != "D", _image_map("after", fields))
    old = F.when(F.col("op") != "I", _image_map("before", fields))
    msg = F.struct(
        F.lit(1).alias("version"),
        F.col("schema").alias("database"),
        F.col("table").alias("table"),
        F.lit(0).cast("long").alias("tableID"),
        dml_type.alias("type"),
        F.col("commit_ts").cast("long").alias("commitTs"),
        F.lit(0).cast("long").alias("buildTs"),
        F.lit(schema_version).cast("long").alias("schemaVersion"),
        data.alias("data"),
        old.alias("old"),
        F.struct(
            F.lit(checksum_version).alias("version"),
            F.lit(False).alias("corrupted"),
            cur.cast("long").alias("current"),
            prev.cast("long").alias("previous"),
        ).alias("checksum"),
    )
    return flat.select(
        "schema",
        "table",
        "commit_ts",
        "seq",
        F.to_json(msg, {"ignoreNullFields": "false"}).alias("value"),
    )


def decode_simple_checksum(
    messages: DataFrame,
    payload_types: dict[str, str],
    value_col: str = "value",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """decode_simple + VerifyChecksum over BOTH images (simple/decoder.go
    :395-404 builds integrity.Checksum from the message and calls
    common/VerifyChecksum, which recomputes over Columns for ``current``
    and PreColumns for ``previous``, skipping any side carried as 0).
    ``payload_types`` gives the typed view of the string image maps so
    the recompute canonicalizes values exactly as the encoder did.
    Output rides ``checksum_ok`` (current AND previous both verify)."""
    from tiflow_spark.functions.hashing import row_checksum

    schema = (
        "version INT, database STRING, table STRING, tableID BIGINT, "
        "type STRING, commitTs BIGINT, buildTs BIGINT, schemaVersion BIGINT, "
        "data MAP<STRING,STRING>, old MAP<STRING,STRING>, "
        "checksum STRUCT<version:INT,corrupted:BOOLEAN,"
        "current:BIGINT,previous:BIGINT>"
    )
    m = messages.select(
        *extra_cols, F.from_json(F.col(value_col), schema).alias("m")
    )
    op = (
        F.when(F.col("m.type") == "INSERT", "I")
        .when(F.col("m.type") == "UPDATE", "U")
        .when(F.col("m.type") == "DELETE", "D")
    )
    names = list(payload_types)
    typed = m.select(
        *extra_cols,
        op.alias("op"),
        F.col("m.database").alias("schema"),
        F.col("m.table").alias("table"),
        F.col("m.commitTs").alias("commit_ts"),
        F.col("m.data").alias("image"),
        F.col("m.old").alias("old_image"),
        F.col("m.checksum.corrupted").alias("corrupted"),
        F.col("m.checksum.current").alias("_cur"),
        F.col("m.checksum.previous").alias("_prev"),
        *[
            F.col("m.data").getItem(n).cast(t).alias(f"_a_{n}")
            for n, t in payload_types.items()
        ],
        *[
            F.col("m.old").getItem(n).cast(t).alias(f"_b_{n}")
            for n, t in payload_types.items()
        ],
    )
    cur_ok = F.when(
        F.col("_cur").isNull() | (F.col("_cur") == 0), F.lit(True)
    ).otherwise(F.col("_cur") == row_checksum([f"_a_{n}" for n in names]))
    prev_ok = F.when(
        F.col("_prev").isNull() | (F.col("_prev") == 0), F.lit(True)
    ).otherwise(F.col("_prev") == row_checksum([f"_b_{n}" for n in names]))
    return typed.withColumn("checksum_ok", cur_ok & prev_ok).drop(
        *[f"_a_{n}" for n in names], *[f"_b_{n}" for n in names],
        "_cur", "_prev",
    )


def bootstrap_messages(
    env: DataFrame,
    schema_version: int = 1,
    pk_cols: tuple[str, ...] = (),
) -> DataFrame:
    """One BOOTSTRAP message per (schema, table) carrying the TableSchema
    (message.go newBootstrapMessage / TableSchema :275-282).

    ``pk_cols`` supplies the primary-index columns (from the DDL
    registry's ``pk_cols`` or changefeed config — the reference reads
    TableInfo); empty means no primary index is declared and every column
    is nullable. No engine-side name heuristics."""
    fields = list(env.schema["after"].dataType.fields)  # type: ignore[union-attr]
    columns = F.array(
        *[
            F.struct(
                F.lit(f.name).alias("name"),
                F.struct(
                    F.lit(_MYSQL_TYPES[f.dataType]).alias("mysqlType"),
                    F.lit("utf8mb4").alias("charset"),
                ).alias("dataType"),
                F.lit(f.name not in pk_cols).alias("nullable"),
            )
            for f in fields
        ]
    )
    indexes = (
        F.array(
            F.struct(
                F.lit("primary").alias("name"),
                F.lit(True).alias("unique"),
                F.lit(True).alias("primary"),
                F.lit(False).alias("nullable"),
                F.array(*[F.lit(c) for c in pk_cols]).alias("columns"),
            )
        )
        if pk_cols
        else F.array().cast(
            "array<struct<name:string,unique:boolean,primary:boolean,"
            "nullable:boolean,columns:array<string>>>"
        )
    )
    msg = F.struct(
        F.lit(1).alias("version"),
        F.lit("BOOTSTRAP").alias("type"),
        F.lit(0).cast("long").alias("buildTs"),
        F.struct(
            F.col("schema").alias("schema"),
            F.col("table").alias("table"),
            F.lit(0).cast("long").alias("tableID"),
            F.lit(schema_version).cast("long").alias("version"),
            columns.alias("columns"),
            indexes.alias("indexes"),
        ).alias("tableSchema"),
    )
    return (
        env.select("schema", "table")
        .distinct()
        .select(
            "schema",
            "table",
            F.to_json(msg, {"ignoreNullFields": "false"}).alias("value"),
        )
    )


def interleave_bootstrap(
    env: DataFrame,
    msg_count: int,
    schema_version: int = 1,
    pk_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Count-triggered bootstrap RESEND (pkg/sink/codec/bootstraper.go:
    127-140): with sending-bootstrap enabled, the simple protocol
    re-emits each table's BOOTSTRAP schema message once the row-event
    count since the last one exceeds send-bootstrap-in-msg-count, so a
    consumer attaching at any stream offset finds a schema within a
    bounded lookback. This is the data-derivable half of the trigger;
    the wall-clock half (send-bootstrap-interval-in-sec, ticker-driven)
    and the inactive-table GC are runtime machinery with no
    batch-observable output. A bootstrap precedes the 1st DML of each
    (schema, table) and every ``msg_count``-th thereafter.

    Output (schema, table, commit_ts, seq, msg_type, value): the
    bootstrap rows carry the (commit_ts, seq) of the DML they precede;
    consumer order within a table is (commit_ts, seq, msg_type) —
    'BOOTSTRAP' sorts before 'DML'.

    Scale shape: one keyed window per (schema, table) for the running
    message index (partitioned across the cluster — never global), a
    broadcast join of the table-count-sized bootstrap frame onto the
    trigger rows, one unionByName."""
    from pyspark.sql import Window

    dml = encode_simple(env, schema_version).select(
        "schema", "table", "commit_ts", "seq",
        F.lit("DML").alias("msg_type"), "value",
    )
    w = Window.partitionBy("schema", "table").orderBy("commit_ts", "seq")
    triggers = (
        env.select("schema", "table", "commit_ts", "seq")
        .withColumn("_idx", F.row_number().over(w))
        .filter((F.col("_idx") - 1) % msg_count == 0)
        .drop("_idx")
    )
    boots = triggers.join(
        F.broadcast(bootstrap_messages(env, schema_version, pk_cols)),
        ["schema", "table"],
    ).select(
        "schema", "table", "commit_ts", "seq",
        F.lit("BOOTSTRAP").alias("msg_type"), "value",
    )
    return boots.unionByName(dml)


def decode_simple(
    messages: DataFrame,
    value_col: str = "value",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Simple messages → change rows (decoder.go consumer path).
    ``extra_cols`` ride through untouched (e.g. the broker offset a
    consumer folds on)."""
    schema = (
        "version INT, database STRING, table STRING, tableID BIGINT, "
        "type STRING, commitTs BIGINT, buildTs BIGINT, schemaVersion BIGINT, "
        "data MAP<STRING,STRING>, old MAP<STRING,STRING>"
    )
    m = messages.select(
        *extra_cols, F.from_json(F.col(value_col), schema).alias("m")
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
        F.col("m.commitTs").alias("commit_ts"),
        F.col("m.data").alias("image"),
        F.col("m.old").alias("old_image"),
    )


def simple_msg_json_sql(
    payload_cols: list[tuple[str, str]],
    claim_check_location_sql: str | None = None,
    handle_key_only: bool = False,
) -> str:
    """The DuckDB to_json expression building one byte-identical
    simple-protocol DML message from a flattened env row;
    ``claim_check_location_sql`` adds the claim-check location-message
    fields (claimCheckLocation + handleKeyOnly, message.go:551-562),
    ``handle_key_only`` the plain large-message handleKeyOnly marker."""

    def img_map(prefix: str) -> str:
        kv = ", ".join(
            f"'{name}': CAST({prefix}_{name} AS VARCHAR)"
            for name, _ in payload_cols
        )
        return f"CASE WHEN {prefix}_id IS NOT NULL THEN MAP {{{kv}}} END"

    claim = ""
    if claim_check_location_sql is not None:
        claim += f"\n      claimCheckLocation: {claim_check_location_sql},"
    if claim_check_location_sql is not None or handle_key_only:
        claim += "\n      handleKeyOnly: true,"
    return f"""to_json({{
      version: 1,
      database: "schema",
      "table": "table",
      tableID: 0::BIGINT,
      type: CASE op WHEN 'I' THEN 'INSERT' WHEN 'U' THEN 'UPDATE'
            ELSE 'DELETE' END,
      commitTs: commit_ts,
      buildTs: 0::BIGINT,
      schemaVersion: 1::BIGINT,{claim}
      data: CASE WHEN op <> 'D' THEN {img_map("after")} END,
      old: CASE WHEN op <> 'I' THEN {img_map("before")} END
    }})"""


def simple_sql_duckdb(payload_cols: list[tuple[str, str]], env_cte: str) -> str:
    """DuckDB SQL building byte-identical simple-protocol DML messages."""
    return f"""{env_cte}
    SELECT "schema", "table", commit_ts, seq,
      {simple_msg_json_sql(payload_cols)} AS value FROM env"""


def encode_simple_ddl(ddl: DataFrame, registry: DataFrame) -> DataFrame:
    """DDL events → simple-protocol DDL messages (encoder.go:137
    EncodeDDLEvent / message.go:527-546 newDDLMessage): version, type from
    getDDLType (message.go:78-101 — CREATE only for create table, RENAME /
    CINDEX / DINDEX / ERASE / TRUNCATE / ALTER per exact kind, QUERY for
    everything else incl. schema/view DDL), commitTs, sql, and the post-
    and pre-DDL TableSchema blocks resolved as-of from the registry
    (tableSchema = state AT commit_ts, preTableSchema = state just before
    it; either is null when the lineage is unknown — the reference's nil
    TableInfo / PreTableInfo cases). buildTs pinned to 0 (wall clock in
    the reference)."""
    from tiflow_spark.sources.schema_registry import asof_resolve

    ddl_type = (
        F.when(F.col("ddl_type") == "create table", "CREATE")
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
        .when(F.col("ddl_type") == "drop table", "ERASE")
        .when(F.col("ddl_type") == "truncate table", "TRUNCATE")
        .when(
            F.col("ddl_type").isin(
                "add column", "drop column", "modify column",
                "rebase auto id", "set default value",
                "modify table comment", "rename index",
                "add table partition", "drop table partition",
                "truncate table partition", "exchange table partition",
                "reorganize table partition", "alter table partitioning",
                "remove table partitioning",
                "modify table charset and collate",
                "alter index visibility", "multi schema change",
            ),
            "ALTER",
        )
        .otherwise("QUERY")
    )

    base_cols = ddl.columns
    post = asof_resolve(
        ddl, registry, event_table_col="table",
        with_keys=True, with_types=True,
    ).select(
        *base_cols,
        F.col("version_no").alias("_post_v"),
        F.col("columns").alias("_post_cols"),
        F.col("pk_cols").alias("_post_pk"),
        F.col("types").alias("_post_types"),
    )
    pre = asof_resolve(
        ddl.withColumn("commit_ts", F.col("commit_ts") - 1),
        registry, event_table_col="table",
        with_keys=True, with_types=True,
    ).select(
        F.col("seq").alias("_pre_seq"),
        F.col("version_no").alias("_pre_v"),
        F.col("columns").alias("_pre_cols"),
        F.col("pk_cols").alias("_pre_pk"),
        F.col("types").alias("_pre_types"),
    )
    both = post.join(F.broadcast(pre), post["seq"] == pre["_pre_seq"])

    def table_schema(cols, pk, types, version):
        col_arr = F.transform(
            F.col(cols),
            lambda c: F.struct(
                c.alias("name"),
                F.struct(
                    F.lower(F.element_at(F.col(types), c)).alias("mysqlType"),
                    F.lit("utf8mb4").alias("charset"),
                ).alias("dataType"),
                (~F.array_contains(F.col(pk), c)).alias("nullable"),
            ),
        )
        idx = F.struct(
            F.lit("primary").alias("name"),
            F.lit(True).alias("unique"),
            F.lit(True).alias("primary"),
            F.lit(False).alias("nullable"),
            F.col(pk).alias("columns"),
        )
        indexes = F.when(F.size(pk) > 0, F.array(idx)).otherwise(
            F.slice(F.array(idx), 1, 0)
        )
        return F.when(
            F.col(cols).isNotNull(),
            F.struct(
                F.col("schema").alias("schema"),
                F.col("table").alias("table"),
                F.lit(0).cast("long").alias("tableID"),
                F.col(version).cast("long").alias("version"),
                col_arr.alias("columns"),
                indexes.alias("indexes"),
            ),
        )

    msg = F.struct(
        F.lit(1).alias("version"),
        ddl_type.alias("type"),
        F.col("commit_ts").cast("long").alias("commitTs"),
        F.lit(0).cast("long").alias("buildTs"),
        F.col("query").alias("sql"),
        table_schema("_post_cols", "_post_pk", "_post_types", "_post_v").alias(
            "tableSchema"
        ),
        table_schema("_pre_cols", "_pre_pk", "_pre_types", "_pre_v").alias(
            "preTableSchema"
        ),
    )
    return both.select(
        "schema",
        "table",
        "commit_ts",
        "seq",
        F.to_json(msg, {"ignoreNullFields": "false"}).alias("value"),
    )


def decode_simple_ddl(messages: DataFrame, value_col: str = "value") -> DataFrame:
    """Simple-protocol DDL JSON → DDL rows (decoder.go MessageTypeDDL
    path: sql + commitTs + the post-DDL tableSchema drive the consumer's
    schema registry)."""
    schema = (
        "version INT, type STRING, commitTs BIGINT, buildTs BIGINT, "
        "sql STRING, tableSchema STRUCT<schema: STRING, table: STRING, "
        "tableID: BIGINT, version: BIGINT, columns: ARRAY<STRUCT<"
        "name: STRING, dataType: STRUCT<mysqlType: STRING, charset: STRING>, "
        "nullable: BOOLEAN>>, indexes: ARRAY<STRUCT<name: STRING, "
        "unique: BOOLEAN, primary: BOOLEAN, nullable: BOOLEAN, "
        "columns: ARRAY<STRING>>>>"
    )
    m = messages.select(F.from_json(F.col(value_col), schema).alias("m"))
    return m.select(
        F.col("m.type").alias("ddl_kind"),
        F.col("m.commitTs").alias("commit_ts"),
        F.col("m.sql").alias("query"),
        F.col("m.tableSchema.schema").alias("schema"),
        F.col("m.tableSchema.table").alias("table"),
        F.col("m.tableSchema.columns.name").alias("columns"),
    )


def encode_simple_checkpoint(
    resolved: DataFrame,
    ts_col: str = "resolved_ts",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Resolved-ts → simple-protocol WATERMARK messages (marshaller.go:
    68-73 MarshalCheckpoint / message.go:504-511 newResolvedMessage):
    {version, type: WATERMARK, commitTs, buildTs} — buildTs (wall clock)
    pinned to 0; omitempty zero fields absent, like the reference's
    marshal of the sparse message struct."""
    msg = F.struct(
        F.lit(1).alias("version"),
        F.lit("WATERMARK").alias("type"),
        F.col(ts_col).cast("long").alias("commitTs"),
        F.lit(0).cast("long").alias("buildTs"),
    )
    return resolved.select(
        *extra_cols,
        F.col(ts_col).alias("resolved_ts"),
        F.to_json(msg).alias("value"),
    )
