"""Maxwell JSON codec.

Reference: pkg/sink/codec/maxwell/maxwell_encoder.go (142 LoC) +
maxwell_message.go. Message: {database, table, type: insert/update/delete,
ts (seconds), data, old}. Maxwell's `old` holds only the *changed* columns
on update; data is the post-image (pre-image for delete).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def encode_maxwell(
    env: DataFrame, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    fields = list(env.schema["after"].dataType.fields)  # type: ignore[union-attr]
    mtype = (
        F.when(F.col("op") == "I", "insert")
        .when(F.col("op") == "U", "update")
        .otherwise("delete")
    )
    data = F.when(F.col("op") == "D", F.col("before")).otherwise(F.col("after"))

    # old = changed columns only (maxwell convention): map of before-values
    # where before != after
    changed_kv: list[Column] = []
    for f in fields:
        b, a = F.col(f"before.{f.name}"), F.col(f"after.{f.name}")
        changed_kv.append(
            F.when(
                ~(b.eqNullSafe(a)), F.struct(F.lit(f.name).alias("k"), b.cast("string").alias("v"))
            )
        )
    old_entries = F.filter(F.array(*changed_kv), lambda e: e.isNotNull())
    old = F.when(
        (F.col("op") == "U") & (F.size(old_entries) > 0),
        F.map_from_entries(old_entries),
    )
    msg = F.struct(
        F.col("schema").alias("database"),
        F.col("table").alias("table"),
        mtype.alias("type"),
        F.expr("commit_ts div 1000000").alias("ts"),
        data.alias("data"),
        old.alias("old"),
    )
    return env.select(
        "schema",
        "table",
        "commit_ts",
        "seq",
        *extra_cols,
        F.to_json(msg, {"ignoreNullFields": "false"}).alias("value"),
    )


def maxwell_sql_duckdb(payload_cols: list[tuple[str, str]], env_cte: str) -> str:
    def img(prefix: str) -> str:
        fields = ", ".join(f"{n}: {prefix}_{n}" for n, _ in payload_cols)
        return f"CASE WHEN {prefix}_id IS NOT NULL THEN {{{fields}}} END"

    changed = ", ".join(
        f"CASE WHEN before_{n} IS DISTINCT FROM after_{n} "
        f"THEN {{k: '{n}', v: CAST(before_{n} AS VARCHAR)}} END"
        for n, _ in payload_cols
    )
    return f"""{env_cte},
    entries AS (
      SELECT *, list_filter([{changed}], e -> e IS NOT NULL) AS old_entries
      FROM env
    )
    SELECT "schema", "table", commit_ts, seq, to_json({{
      database: "schema", "table": "table",
      type: CASE op WHEN 'I' THEN 'insert' WHEN 'U' THEN 'update' ELSE 'delete' END,
      ts: commit_ts // 1000000,
      data: CASE WHEN op = 'D' THEN {img("before")} ELSE {img("after")} END,
      old: CASE WHEN op = 'U' AND len(old_entries) > 0
           THEN map_from_entries(old_entries) END
    }}) AS value FROM entries"""

def decode_maxwell(messages: DataFrame, value_col: str = "value") -> DataFrame:
    """Maxwell JSON → change rows (maxwell consumer parity)."""
    schema = (
        "database STRING, table STRING, type STRING, ts BIGINT, "
        "data STRUCT<id: BIGINT, balance: DOUBLE, note: STRING>, "
        "old MAP<STRING, STRING>"
    )
    m = messages.select(F.from_json(F.col(value_col), schema).alias("m"))
    op = (
        F.when(F.col("m.type") == "insert", "I")
        .when(F.col("m.type") == "update", "U")
        .otherwise("D")
    )
    return m.select(
        op.alias("op"),
        F.col("m.database").alias("schema"),
        F.col("m.table").alias("table"),
        (F.col("m.ts") * 1_000_000).alias("commit_ts_sec_scaled"),
        F.col("m.data").alias("image"),
        F.col("m.old").alias("old_changed"),
    )


def encode_maxwell_ddl(ddl: DataFrame) -> DataFrame:
    """DDL events → Maxwell DDL messages (maxwell_message.go DdlResult /
    the public maxwell "ddl row" format): type is table-create /
    table-drop / table-alter (database-create / database-drop for schema
    DDL), ``sql`` carries the statement, ts in seconds."""
    mtype = (
        # Exact equality, NOT prefix match: partition DDL ("drop table
        # partition", "add table partition", ...) maps to table-alter in the
        # reference (maxwell_message.go ddlToMaxwellType covers
        # ActionAddColumn..ActionDropTablePartition) — a prefix match would
        # tell a Maxwell consumer to drop the whole table on a partition drop.
        F.when(F.col("ddl_type") == "create table", "table-create")
        .when(F.col("ddl_type") == "drop table", "table-drop")
        .when(F.col("ddl_type") == "create database", "database-create")
        .when(F.col("ddl_type") == "drop database", "database-drop")
        .otherwise("table-alter")
    )
    msg = F.struct(
        F.col("schema").alias("database"),
        F.col("table").alias("table"),
        mtype.alias("type"),
        F.expr("commit_ts div 1000000").alias("ts"),
        F.col("query").alias("sql"),
    )
    # DDL messages carry the internal.MessageKey envelope
    # (maxwell_encoder.go:66-78 EncodeDDLEvent → MessageKey.Encode;
    # message_key.go:24-36: ts/scm/tbl + t=2 MessageTypeDDL) — row
    # messages ship an EMPTY key (the encoder discards
    # rowChangeToMaxwellMsg's key and Build sends the untouched keyBuf).
    key = F.struct(
        F.col("commit_ts").alias("ts"),
        F.col("schema").alias("scm"),
        F.col("table").alias("tbl"),
        F.lit(2).alias("t"),
    )
    return ddl.select(
        "schema",
        "table",
        "commit_ts",
        "seq",
        F.to_json(key).alias("key"),
        F.to_json(msg, {"ignoreNullFields": "false"}).alias("value"),
    )
