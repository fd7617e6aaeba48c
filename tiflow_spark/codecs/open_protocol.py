"""Open Protocol codec — TiCDC's own key/value JSON format.

Reference: pkg/sink/codec/open/open_protocol_encoder.go (371 LoC) +
open_protocol_message.go. Per event:
  key:   {"ts": commit_ts, "scm": schema, "tbl": table, "t": 1}
  value: {"u": {col: {"t": type, "h": is-handle, "v": value}}}   (upsert)
         {"d": {col: {...}}}                                     (delete)
Type codes follow the MySQL wire types the reference uses (long=3,
double=5, varchar=15).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TYPE_CODES = {
    T.LongType(): 3,
    T.IntegerType(): 3,
    T.DoubleType(): 5,
    T.StringType(): 15,
}


def _col_obj(side: str, f: T.StructField, handle: bool) -> Column:
    return F.struct(
        F.lit(_TYPE_CODES[f.dataType]).alias("t"),
        F.lit(handle).alias("h"),
        F.col(f"{side}.{f.name}").cast("string").alias("v"),
    )


def _open_key_value(
    env: DataFrame,
    handle_cols: tuple[str, ...],
    output_old_value: bool = False,
    only_output_updated_columns: bool = False,
    image_cols: tuple[str, ...] | None = None,
    claim_check_location: Column | None = None,
    only_handle_key: bool = False,
) -> tuple[Column, Column]:
    """(key, value) expression pair for one open-protocol message.

    ``image_cols`` restricts the u/d images to those columns — the
    handle-key-cut form the claim-check location message uses
    (open_protocol_encoder.go:295 rowChangeToMsg(event, config, true)).
    ``only_handle_key`` adds the ``ohk: true`` key field
    (internal/message_key.go:31-32, rowChangeToMsg:138 — the
    large-message handle-key-only marker the consumer back-fills on);
    ``claim_check_location`` appends the ``ccl`` key field
    (internal/message_key.go:35; json tag order: ohk before ccl, and the
    claim location message explicitly resets ohk=false,
    encoder.go:300)."""
    fields = list(env.schema["after"].dataType.fields)  # type: ignore[union-attr]
    if image_cols is not None:
        fields = [f for f in fields if f.name in image_cols]

    def image(side: str) -> Column:
        return F.when(
            F.col(side).isNotNull(),
            F.struct(
                *[
                    _col_obj(side, f, f.name in handle_cols).alias(f.name)
                    for f in fields
                ]
            ),
        )

    def pre_map() -> Column:
        entries = F.array(
            *[
                F.struct(
                    F.lit(f.name).alias("key"),
                    _col_obj("before", f, f.name in handle_cols).alias(
                        "value"
                    ),
                    (
                        F.lit(not only_output_updated_columns)
                        | ~F.col(f"before.{f.name}").eqNullSafe(
                            F.col(f"after.{f.name}")
                        )
                    ).alias("keep"),
                )
                for f in fields
            ]
        )
        kept = F.transform(
            F.filter(entries, lambda e: e["keep"]),
            lambda e: F.struct(
                e["key"].alias("key"), e["value"].alias("value")
            ),
        )
        return F.when(
            F.col("before").isNotNull(), F.map_from_entries(kept)
        )

    key_fields = [
        F.col("commit_ts").alias("ts"),
        F.col("schema").alias("scm"),
        F.col("table").alias("tbl"),
        F.lit(1).alias("t"),
    ]
    if only_handle_key:
        key_fields.append(F.lit(True).alias("ohk"))
    if claim_check_location is not None:
        key_fields.append(claim_check_location.alias("ccl"))
    key = F.to_json(F.struct(*key_fields))
    value_fields = [
        F.when(F.col("op") != "D", image("after")).alias("u"),
    ]
    if output_old_value:
        value_fields.append(
            F.when(F.col("op") == "U", pre_map()).alias("p")
        )
    value_fields.append(
        F.when(F.col("op") == "D", image("before")).alias("d")
    )
    value = F.to_json(
        F.struct(*value_fields),
        {"ignoreNullFields": "true"},
    )
    return key, value


def encode_open_protocol(
    env: DataFrame,
    handle_cols: tuple[str, ...] = ("id",),
    output_old_value: bool = False,
    only_output_updated_columns: bool = False,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """``output_old_value`` adds the UPDATE pre-image as the ``p`` field
    (open_protocol_message.go:55 ``PreColumns json:"p"``, emitted when
    config.OpenOutputOldValue — the reference defaults it TRUE; our
    default-off form matches output-old-value=false deployments and
    keeps the original byte surface). ``only_output_updated_columns``
    then drops the columns whose pre value equals the post value from
    ``p`` (dropNotUpdatedColumns, open_protocol_message.go:83-99 —
    null-safe native-type compare, declared column order)."""
    key, value = _open_key_value(
        env, handle_cols, output_old_value, only_output_updated_columns
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


def encode_open_claim_check(
    env: DataFrame,
    threshold_bytes: int,
    location_prefix: str,
    handle_cols: tuple[str, ...] = ("id",),
) -> DataFrame:
    """Open-protocol claim-check (open_protocol_encoder.go:120-131,
    291-310 newClaimCheckLocationMessage): an oversized message rides the
    topic with its KEY gaining the ``ccl`` field (internal/
    message_key.go:35 — appended last per Go json tag order; ``ohk``
    explicitly NOT set, encoder.go:300) and its value handle-key-cut
    (rowChangeToMsg(event, config, true)); the external ClaimCheckMessage
    carries the FRAMED original key and value exactly as the decoder
    unpacks them (open_protocol_decoder.go:323-338: Key = 8-byte BE
    version ‖ key, Value = 8-byte BE length ‖ value), base64 inside the
    JSON like every Go []byte.

    Output: (schema, table, commit_ts, seq, key, value, is_claim,
    claim_location, claim_payload) — one projection, no shuffle; all
    framing is JVM binary concat, no Python row path."""
    full_key, full_value = _open_key_value(env, handle_cols)
    # STAGED projections (r14, guide §4.4-adjacent): the full key/value
    # renders, the md5 location and the oversized bit each feed several
    # conditional output branches. In a single Project those conditional
    # references sit under different CaseWhen branches, where codegen's
    # subexpression elimination does NOT hoist them — the full message
    # was re-rendered (and re-hashed) once per referencing branch
    # (measured 1.94 s for the one-Project form vs 0.66 s staged,
    # byte-identical). Explicit intermediate projections pin single
    # evaluation: CollapseProject never inlines a non-trivial alias that
    # is referenced more than once.
    base = env.select(
        "schema", "table", "commit_ts", "seq", "op", "before", "after",
        full_key.alias("_fk"), full_value.alias("_fv"),
    )
    oversized = F.octet_length(F.col("_fv")) > F.lit(threshold_bytes)
    # content-address the WHOLE message (key ‖ value): the key carries ts,
    # so two events with equal values but different commits must not share
    # an external file (the reference uses a UUID per message — unique;
    # a value-only hash would alias them)
    base = base.select(
        "*",
        oversized.alias("_over"),
        F.when(
            oversized,
            F.concat(
                F.lit(location_prefix.rstrip("/") + "/"),
                F.md5(F.concat(F.col("_fk"), F.col("_fv"))),
                F.lit(".json"),
            ),
        ).alias("_loc"),
    )
    env_key, env_value = _open_key_value(
        base, handle_cols, image_cols=handle_cols,
        claim_check_location=F.col("_loc"),
    )

    def b64(c: Column) -> Column:
        # literal-string replace, not regexp_replace: same bytes out (the
        # MIME chunk breaks Spark's base64 inserts are literal CRLF), ~2x
        # cheaper on multi-KB payload strings (no regex engine per row)
        return F.replace(F.base64(c), F.lit("\r\n"), F.lit(""))

    framed_key = F.concat(
        F.lit(bytes(7) + b"\x01"), F.col("_fk").cast("binary")
    )
    framed_value = F.concat(
        F.to_binary(
            F.lpad(F.hex(F.octet_length(F.col("_fv"))), 16, "0"),
            F.lit("hex"),
        ),
        F.col("_fv").cast("binary"),
    )
    payload = F.to_json(
        F.struct(
            b64(framed_key).alias("key"), b64(framed_value).alias("value")
        )
    )
    over = F.col("_over")
    return base.select(
        "schema",
        "table",
        "commit_ts",
        "seq",
        F.when(over, env_key).otherwise(F.col("_fk")).alias("key"),
        F.when(over, env_value).otherwise(F.col("_fv")).alias("value"),
        over.alias("is_claim"),
        F.when(over, F.col("_loc")).alias("claim_location"),
        F.when(over, payload).alias("claim_payload"),
    )


def encode_open_handle_key_only(
    env: DataFrame,
    threshold_bytes: int,
    handle_cols: tuple[str, ...] = ("id",),
) -> DataFrame:
    """Open-protocol large-message handle-key-only
    (open_protocol_encoder.go:43-70 buildMessageOnlyHandleKeyColumns,
    called when LargeMessageHandleOnlyHandleKeyColumns, encoder.go:137-138):
    an oversized message re-encodes with ONLY handle-key columns in the
    u/d images and ``ohk: true`` in the key (rowChangeToMsg:138) so the
    consumer back-fills the full row upstream by key. One CASE
    projection, no shuffle."""
    full_key, full_value = _open_key_value(env, handle_cols)
    hk_key, hk_value = _open_key_value(
        env, handle_cols, image_cols=handle_cols, only_handle_key=True
    )
    oversized = F.octet_length(full_value) > F.lit(threshold_bytes)
    return env.select(
        "schema",
        "table",
        "commit_ts",
        "seq",
        F.when(oversized, hk_key).otherwise(full_key).alias("key"),
        F.when(oversized, hk_value).otherwise(full_value).alias("value"),
        oversized.alias("only_handle_key"),
    )


def assemble_open_claim_check(
    consumed: DataFrame,
    payload_store: DataFrame,
    key_col: str = "key",
    value_col: str = "value",
) -> DataFrame:
    """Consumer-side open-protocol claim reassembly
    (open_protocol_decoder.go:207-208, 311-340): rows whose key carries
    ``ccl`` fetch the external ClaimCheckMessage, base64-decode, strip
    the 8-byte version/length frames, and restore the original key and
    value. Adds ``claim_version`` (the framed wire version, 1; null for
    inline rows) so the frame really was parsed, not pattern-matched."""
    loc = F.get_json_object(F.col(key_col), "$.ccl")
    out = consumed.withColumn("_claim_loc", loc).join(
        F.broadcast(
            payload_store.select(
                F.col("claim_location").alias("_claim_loc"),
                F.col("claim_payload").alias("_claim_payload"),
            )
        ),
        "_claim_loc",
        "left",
    )
    parsed = F.from_json(
        F.col("_claim_payload"),
        T.StructType(
            [
                T.StructField("key", T.StringType()),
                T.StructField("value", T.StringType()),
            ]
        ),
    )
    fk = F.unbase64(parsed["key"])
    fv = F.unbase64(parsed["value"])
    version = F.conv(
        F.hex(F.expr("substring(_fk, 1, 8)")), 16, 10
    ).cast("long")
    vlen = F.conv(
        F.hex(F.expr("substring(_fv, 1, 8)")), 16, 10
    ).cast("int")
    restored_key = F.decode(
        F.expr("substring(_fk, 9, octet_length(_fk) - 8)"), "UTF-8"
    )
    restored_value = F.decode(
        F.expr("substring(_fv, 9, octet_length(_fv) - 8)"), "UTF-8"
    )
    claimed = F.col("_claim_loc").isNotNull()
    # the value frame's length header must cover the value exactly
    # (decoder.go:337-338): a mismatch is wire corruption and must RAISE,
    # not drop the row. assert_true folded into a consumed filter
    # predicate (returns null on success → coalesce true) so Catalyst
    # cannot prune it the way it prunes dropped assert columns.
    frame_ok = F.coalesce(
        F.assert_true(
            ~claimed | (vlen == F.expr("octet_length(_fv) - 8")),
            F.lit("open claim-check: value frame length mismatch"),
        ).cast("boolean"),
        F.lit(True),
    )
    return (
        out.withColumn("_fk", fk)
        .withColumn("_fv", fv)
        .filter(frame_ok)
        .withColumn(
            key_col, F.when(claimed, restored_key).otherwise(F.col(key_col))
        )
        .withColumn(
            value_col,
            F.when(claimed, restored_value).otherwise(F.col(value_col)),
        )
        .withColumn("claim_version", F.when(claimed, version))
        .drop("_claim_loc", "_claim_payload", "_fk", "_fv")
    )


def open_claim_check_sql_duckdb(
    payload_cols: list[tuple[str, str]],
    pk_cols: list[tuple[str, str]],
    env_cte: str,
    threshold_bytes: int,
    location_prefix: str,
) -> str:
    """DuckDB oracle for the open-protocol claim-check round trip:
    mq_key/mq_value are the on-topic envelope (ccl key + handle-key-cut
    value) when oversized, restored_* always the originals the consumer
    must reconstruct, claim_version 1 for claimed rows."""
    codes = {"bigint": 3, "int": 3, "double": 5, "string": 15}

    def image(prefix: str, cols: list[tuple[str, str]]) -> str:
        fields = ", ".join(
            f"{n}: {{t: {codes[t]}, h: {str(n == 'id').lower()}, "
            f"v: CAST({prefix}_{n} AS VARCHAR)}}"
            for n, t in cols
        )
        return f"{{{fields}}}"

    def value_sql(cols: list[tuple[str, str]]) -> str:
        return (
            f"CASE WHEN op = 'D' THEN to_json({{d: {image('before', cols)}}})"
            f" ELSE to_json({{u: {image('after', cols)}}}) END"
        )

    prefix = location_prefix.rstrip("/") + "/"
    full_v = value_sql(payload_cols)
    cut_v = value_sql(pk_cols)
    full_k = 'to_json({ts: commit_ts, scm: "schema", tbl: "table", t: 1})'
    loc = f"'{prefix}' || md5({full_k} || {full_v}) || '.json'"
    env_k = (
        'to_json({ts: commit_ts, scm: "schema", tbl: "table", t: 1, '
        f"ccl: {loc}}})"
    )
    big = f"strlen({full_v}) > {threshold_bytes}"
    return f"""{env_cte}
    SELECT seq,
      {big} AS is_claim,
      CASE WHEN {big} THEN {env_k} ELSE {full_k} END AS mq_key,
      CASE WHEN {big} THEN {cut_v} ELSE {full_v} END AS mq_value,
      {full_k} AS restored_key,
      {full_v} AS restored_value,
      CASE WHEN {big} THEN 1 END AS claim_version
    FROM env"""


def open_protocol_sql_duckdb(
    payload_cols: list[tuple[str, str]],
    env_cte: str,
    output_old_value: bool = False,
    only_output_updated_columns: bool = False,
) -> str:
    codes = {"bigint": 3, "int": 3, "double": 5, "string": 15}

    def image(prefix: str) -> str:
        fields = ", ".join(
            f"{n}: {{t: {codes[t]}, h: {str(n == 'id').lower()}, "
            f"v: CAST({prefix}_{n} AS VARCHAR)}}"
            for n, t in payload_cols
        )
        return f"{{{fields}}}"

    if not output_old_value:
        return f"""{env_cte}
    SELECT "schema", "table", commit_ts, seq,
      to_json({{ts: commit_ts, scm: "schema", tbl: "table", t: 1}}) AS key,
      CASE WHEN op = 'D' THEN to_json({{d: {image("before")}}})
           ELSE to_json({{u: {image("after")}}}) END AS value
    FROM env"""

    def pre_map() -> str:
        keep = (
            "before_{n} IS DISTINCT FROM after_{n}"
            if only_output_updated_columns
            else "true"
        )
        entries = ", ".join(
            "{{'k': '{n}', 'v': {{t: {t}, h: {h}, "
            "v: CAST(before_{n} AS VARCHAR)}}, 'keep': {keep}}}".format(
                n=n,
                t=codes[t],
                h=str(n == "id").lower(),
                keep=keep.format(n=n),
            )
            for n, t in payload_cols
        )
        return (
            f"map_from_entries(list_transform(list_filter([{entries}], "
            "x -> x.keep), x -> {'k': x.k, 'v': x.v}))"
        )

    return f"""{env_cte}
    SELECT "schema", "table", commit_ts, seq,
      to_json({{ts: commit_ts, scm: "schema", tbl: "table", t: 1}}) AS key,
      CASE WHEN op = 'D' THEN to_json({{d: {image("before")}}})
           WHEN op = 'U' THEN to_json({{u: {image("after")},
                                        p: {pre_map()}}})
           ELSE to_json({{u: {image("after")}}}) END AS value
    FROM env"""


def decode_open_protocol(
    messages: DataFrame,
    key_col: str = "key",
    value_col: str = "value",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Open-protocol key/value JSON → change rows (open_protocol_decoder.go /
    cmd/kafka-consumer parity). Column objects come back as
    map<col, struct{t,h,v}> so any payload schema decodes. DDL and
    resolved messages get a NULL op class. ``extra_cols`` ride through
    untouched (e.g. the broker position a consumer folds on)."""
    key_schema = "ts BIGINT, scm STRING, tbl STRING, t INT"
    col_obj = "STRUCT<t: INT, h: BOOLEAN, v: STRING>"
    val_schema = (
        f"u MAP<STRING, {col_obj}>, p MAP<STRING, {col_obj}>, "
        f"d MAP<STRING, {col_obj}>"
    )
    k = F.from_json(F.col(key_col), key_schema)
    v = F.from_json(F.col(value_col), val_schema)
    op_class = F.when(
        k["t"] == 1, F.when(v["d"].isNotNull(), "D").otherwise("U")
    )
    return messages.select(
        *extra_cols,
        k["scm"].alias("schema"),
        k["tbl"].alias("table"),
        k["ts"].alias("commit_ts"),
        op_class.alias("op_class"),
        F.coalesce(v["u"], v["d"]).alias("image"),
        v["p"].alias("pre_image"),
    )


def _len8(c: Column) -> Column:
    """int64 big-endian length prefix, built JVM-side: hex → lpad(16) → unhex."""
    return F.unhex(F.lpad(F.hex(F.octet_length(c)), 16, "0"))


def frame_batches(
    msgs: DataFrame, max_batch: int = 16
) -> DataFrame:
    """Open-protocol MQ batch framing (open_protocol_encoder.go batch
    layout): one binary frame per ≤``max_batch`` events of a (schema,
    table), commit order preserved:

        [8B version=1][8B key-len][key][8B value-len][value]...

    All binary assembly is built-ins (hex/unhex/concat + an ordered
    aggregate fold) — no Python in the path; one shuffle groups events
    into frames."""
    version8 = F.unhex(F.lpad(F.hex(F.lit(1)), 16, "0"))
    piece = F.concat(
        _len8(F.col("key")),
        F.encode(F.col("key"), "utf-8"),
        _len8(F.col("value")),
        F.encode(F.col("value"), "utf-8"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("schema", "table").orderBy("commit_ts", "seq")
    rows = (
        msgs.withColumn("_rn", F.row_number().over(w))
        .withColumn("batch_no", ((F.col("_rn") - 1) / max_batch).cast("long"))
        .withColumn("_piece", piece)
    )
    return (
        rows.groupBy("schema", "table", "batch_no")
        .agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct(F.col("_rn"), F.col("_piece")))
                ).getField("_piece"),
                version8,
                lambda acc, x: F.concat(acc, x),
            ).alias("frame"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def unframe_batches(frames: DataFrame, frame_col: str = "frame") -> DataFrame:
    """Frame → (key, value) events (consumer-side, message_decoder parity).
    Python parse (pandas UDF) — decode runs off the hot path."""
    from pyspark.sql.functions import pandas_udf

    out_t = T.ArrayType(
        T.StructType(
            [
                T.StructField("key", T.StringType()),
                T.StructField("value", T.StringType()),
            ]
        )
    )

    @pandas_udf(out_t)
    def parse(frame: pd.Series) -> pd.Series:
        import struct as _struct

        def one(raw: bytes):
            assert _struct.unpack(">Q", raw[:8])[0] == 1, "bad version"
            i, out = 8, []
            while i < len(raw):
                klen = _struct.unpack(">Q", raw[i : i + 8])[0]
                k = raw[i + 8 : i + 8 + klen].decode()
                i += 8 + klen
                vlen = _struct.unpack(">Q", raw[i : i + 8])[0]
                v = raw[i + 8 : i + 8 + vlen].decode()
                i += 8 + vlen
                out.append({"key": k, "value": v})
            return out

        return frame.map(lambda b: one(bytes(b)))

    return frames.select(
        "schema",
        "table",
        "batch_no",
        F.explode(parse(F.col(frame_col))).alias("kv"),
    ).select("schema", "table", "batch_no", "kv.key", "kv.value")


# DDL kind → numeric job type in open-protocol DDL values; ids mirror the
# public TiDB parser model.ActionType constants for the kinds the
# allow-list carries (unknown kinds encode 0). Both the encoder and its
# oracle derive from THIS table, so the wire ids stay engine-consistent.
DDL_TYPE_IDS = {
    "create database": 1,
    "drop database": 2,
    "create table": 3,
    "drop table": 4,
    "add column": 5,
    "drop column": 6,
    "create index": 7,
    "drop index": 8,
    "add foreign key": 9,
    "drop foreign key": 10,
    "truncate table": 11,
    "modify column": 12,
    "rebase auto id": 13,
    "rename table": 14,
    "set default value": 15,
    "modify table comment": 17,
    "rename index": 18,
    "add table partition": 19,
    "drop table partition": 20,
    "create view": 21,
    "modify table charset and collate": 22,
    "truncate table partition": 23,
    "drop view": 24,
    "recover table": 25,
    "modify schema charset and collate": 26,
    "add primary key": 32,
    "drop primary key": 33,
    "exchange table partition": 42,
    "multi schema change": 61,
}


def encode_open_protocol_ddl(ddl: DataFrame) -> DataFrame:
    """DDL events → Open-Protocol DDL messages (open_protocol_encoder.go
    DDL path): key {ts, scm, tbl, t:2} (type 2 = DDL), value {q: sql,
    t: job type id}."""
    tid = F.lit(0)
    for kind, i in DDL_TYPE_IDS.items():
        tid = F.when(F.col("ddl_type") == kind, F.lit(i)).otherwise(tid)
    key = F.struct(
        F.col("commit_ts").alias("ts"),
        F.col("schema").alias("scm"),
        F.col("table").alias("tbl"),
        F.lit(2).alias("t"),
    )
    value = F.struct(F.col("query").alias("q"), tid.alias("t"))
    return ddl.select(
        "schema",
        "table",
        "commit_ts",
        "seq",
        F.to_json(key).alias("key"),
        F.to_json(value).alias("value"),
    )


def encode_open_protocol_checkpoint(
    resolved: DataFrame,
    ts_col: str = "resolved_ts",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Resolved-ts → Open-Protocol resolved messages (open_protocol_
    encoder.go:242-258 EncodeCheckpointEvent): key = {ts, t: 3}
    (MessageTypeResolved; scm/tbl omitted — omitempty zero values),
    value = EMPTY (the wire frames a zero-length value)."""
    msg = F.struct(
        F.col(ts_col).alias("ts"),
        F.lit(3).alias("t"),
    )
    return resolved.select(
        *extra_cols,
        F.col(ts_col).alias("resolved_ts"),
        F.to_json(msg).alias("key"),
        F.lit("").alias("value"),
    )
