"""Row transforms — routing, column ops, update-split, safe-mode.

Spark-first equivalents of the reference's per-event rewrite stages:
  - table router (shard merge) ... dm/syncer/syncer.go:3272-3280 (regexpr-router)
  - extend columns ............... dm/syncer/syncer.go:2821-2847
  - column selector .............. cdc/.../columnselector/column_selector.go:25-227
  - column mapping ............... pkg/column-mapping/column.go:42-75
  - update split ................. pkg/sqlmodel/reduce.go:79-97 (IsIdentityUpdated)
                                   + cdc/model/sink.go:1187-1205 (TrySplitAndSortUpdateEvent)
  - safe-mode rewrite ............ dm/syncer/safe_mode.go:27-90
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tiflow_spark.config import TableRule, TaskConfig
from tiflow_spark.operators.filters import any_table_matches, table_matches


def route(env: DataFrame, cfg: TaskConfig) -> DataFrame:
    """Add target_schema/target_table (+ optional extracted source columns).

    A when-chain over the compiled route rules: pure projection, no shuffle.
    N:1 rules (many shards → one target) realize shard-merge: downstream
    operators (compactor, apply) key on the *target* table, which is exactly
    union semantics. Rows matching no rule keep their source identity.
    """
    ts: Column = F.col("schema")
    tt: Column = F.col("table")
    src_schema: Column = F.lit(None).cast("string")
    src_table: Column = F.lit(None).cast("string")
    for r in reversed(cfg.routes):  # first matching rule wins → build inside-out
        m = table_matches(
            TableRule(r.schema_pattern, r.table_pattern), cfg.case_sensitive
        )
        ts = F.when(m, F.lit(r.target_schema)).otherwise(ts)
        tt = F.when(m, F.lit(r.target_table)).otherwise(tt)
        if r.extract_schema_regexp:
            src_schema = F.when(
                m, F.regexp_extract(F.col("schema"), r.extract_schema_regexp, 1)
            ).otherwise(src_schema)
        if r.extract_table_regexp:
            src_table = F.when(
                m, F.regexp_extract(F.col("table"), r.extract_table_regexp, 1)
            ).otherwise(src_table)
    out = env.withColumn("target_schema", ts).withColumn("target_table", tt)
    if any(r.extract_schema_regexp for r in cfg.routes):
        out = out.withColumn("source_schema", src_schema)
    if any(r.extract_table_regexp for r in cfg.routes):
        out = out.withColumn("source_table", src_table)
    return out


def select_columns(
    env: DataFrame,
    keep: list[str],
    handle_cols: tuple[str, ...] | None = None,
    registry: DataFrame | None = None,
) -> DataFrame:
    """Column selector: retain only `keep` fields inside before/after structs.

    The reference verifies no index column is dropped against real table
    info (column_selector.go:150 VerifyTables / columnselector.go:59); we
    enforce the same for the handle key: pass ``handle_cols`` explicitly
    (changefeed config), or a DDL ``registry`` whose latest per-table
    handle_cols are all checked (registry-driven, no hardcoded pk guess).
    """
    if handle_cols is None:
        if registry is None:
            raise ValueError(
                "column selector needs handle_cols or a schema registry "
                "to verify no index column is dropped"
            )
        # latest version per table — metadata-scale fold, mirrors the
        # reference's per-table VerifyColumn loop over table info
        latest = (
            registry.groupBy("table")
            .agg(F.max_by("handle_cols", "version_ts").alias("handle_cols"))
            .collect()
        )
        handle_cols = tuple(
            dict.fromkeys(c for r in latest for c in (r["handle_cols"] or []))
        )
    missing = [c for c in handle_cols if c not in keep]
    if missing:
        raise ValueError(
            f"column selector must retain the handle key column(s) {missing}"
        )

    def prune(side: str) -> Column:
        return F.when(
            F.col(side).isNotNull(),
            F.struct(*[F.col(f"{side}.{c}").alias(c) for c in keep]),
        )

    return env.withColumn("before", prune("before")).withColumn(
        "after", prune("after")
    )


def apply_column_mappings(env: DataFrame, cfg: TaskConfig) -> DataFrame:
    """Built-in value rewrites on struct fields (add prefix/suffix).

    partition-id (shard-id folded into PK high bits, column.go:35-40,377) is
    implemented as arithmetic on the id field: id | (shard << 44).
    """
    out = env
    for cm in cfg.column_mappings:
        matched = any_table_matches(cm.tables, cfg.case_sensitive)

        def rewrite(side: str, cm=cm, matched=matched) -> Column:
            cur = F.col(f"{side}.{cm.column}")
            if cm.expr == "add prefix":
                new = F.concat(F.lit(cm.arguments[0]), cur.cast("string"))
            elif cm.expr == "add suffix":
                new = F.concat(cur.cast("string"), F.lit(cm.arguments[0]))
            elif cm.expr == "partition id":
                shard = F.regexp_extract(F.col("schema"), r"(\d+)$", 1).cast("long")
                new = F.shiftleft(shard, 44) + cur.cast("long")
            else:
                raise ValueError(f"unknown column-mapping expr: {cm.expr}")
            fields = [
                f.name
                for f in env.schema[side].dataType.fields  # type: ignore[union-attr]
            ]
            return F.when(
                F.col(side).isNotNull(),
                F.struct(
                    *[
                        (
                            F.when(matched, new).otherwise(cur).alias(c)
                            if c == cm.column
                            else F.col(f"{side}.{c}").alias(c)
                        )
                        for c in fields
                    ]
                ),
            )

        out = out.withColumn("before", rewrite("before")).withColumn(
            "after", rewrite("after")
        )
    return out


def split_updates(
    env: DataFrame, output_raw_change_event: bool = False
) -> DataFrame:
    """U events whose identity (handle key) changed → D(before) + I(after).

    Required before key-partitioned apply, else the old row leaks
    (reduce.go:213-236 SplitUpdate; forced for Kafka/storage sinks in
    sink.go:1187). Implemented as explode over a 1-or-2 element array —
    stays in whole-stage codegen, no shuffle. `seq` is sub-sequenced
    (2*seq, 2*seq+1) to keep deterministic total order.

    ``output_raw_change_event`` is the Kafka/storage sink knob of the
    same name (pkg/config/sink.go:453-463;
    model/sink.go:1187-1196 TrySplitAndSortUpdateEvent): when true the
    sink ships the ORIGINAL change events — identity-changing updates
    stay single U events with both images — and downstream consumers own
    the split. The seq sub-sequencing and key assignment still apply so
    raw and split streams stay order-comparable.
    """
    # one schema fetch (a py4j call plus a JSON parse) serves every use
    schema = env.schema
    other_cols = [
        c for c in schema.names
        if c not in ("op", "before", "after", "seq", "key")
    ]
    if output_raw_change_event:
        return env.select(
            "op",
            *other_cols,
            (F.col("seq") * 2).alias("seq"),
            F.coalesce(F.col("after.id"), F.col("before.id"))
            .cast("string")
            .alias("key"),
            "before",
            "after",
        )
    identity_changed = (
        (F.col("op") == "U")
        & F.col("before").isNotNull()
        & F.col("after").isNotNull()
        & (F.col("before.id") != F.col("after.id"))
    )
    d_part = F.struct(
        F.lit("D").alias("op"),
        F.col("before").alias("before"),
        F.lit(None).cast(schema["after"].dataType).alias("after"),
        (F.col("seq") * 2).alias("seq"),
        F.col("before.id").cast("string").alias("key"),
    )
    i_part = F.struct(
        F.lit("I").alias("op"),
        F.lit(None).cast(schema["before"].dataType).alias("before"),
        F.col("after").alias("after"),
        (F.col("seq") * 2 + 1).alias("seq"),
        F.col("after.id").cast("string").alias("key"),
    )
    keep = F.struct(
        F.col("op"),
        F.col("before"),
        F.col("after"),
        (F.col("seq") * 2).alias("seq"),
        F.coalesce(F.col("after.id"), F.col("before.id"))
        .cast("string")
        .alias("key"),
    )
    parts = F.when(identity_changed, F.array(d_part, i_part)).otherwise(
        F.array(keep)
    )
    return env.select(*other_cols, F.explode(parts).alias("_p")).select(
        F.col("_p.op").alias("op"),
        *other_cols,
        F.col("_p.seq").alias("seq"),
        F.col("_p.key").alias("key"),
        F.col("_p.before").alias("before"),
        F.col("_p.after").alias("after"),
    )


def safe_mode_rewrite(env: DataFrame, enabled: bool | Column = True) -> DataFrame:
    """Mark events idempotently-appliable: INSERT→REPLACE, UPDATE→DELETE+REPLACE.

    With MERGE-based apply (operators/apply.py) idempotency is inherent; we
    keep the reference's observable surface by tagging the DML mode the sink
    would use (safe_mode.go:27-90, row_change.go:366-390).
    """
    cond = F.lit(enabled) if isinstance(enabled, bool) else enabled
    mode = (
        F.when(~cond, F.col("op"))
        .when(F.col("op") == "I", F.lit("R"))  # REPLACE
        .when(F.col("op") == "U", F.lit("DR"))  # DELETE + REPLACE
        .otherwise(F.col("op"))
    )
    return env.withColumn("dml_mode", mode)


def safe_mode_window(
    env: DataFrame,
    resume_ts: int,
    duration_us: int,
    always_on: bool = False,
) -> DataFrame:
    """Safe-mode AUTO-SWITCH: the initialization phase after a resume.

    After a restart, events at-or-below the last checkpoint may already be
    applied downstream, so the syncer runs safe mode (idempotent REPLACE
    forms) for the first ``safe-mode-duration`` past the resume point —
    default 2x the checkpoint flush interval (dm/config/subtask.go:409-415;
    dm/syncer/syncer.go enable/exitSafeModeTS:260,1976) — then exits
    automatically. ``always_on`` models the permanent config flag, which
    conflicts with a duration in the reference and simply ORs here."""
    cond = F.lit(always_on) | (
        F.col("commit_ts") < F.lit(resume_ts + duration_us)
    )
    return safe_mode_rewrite(env, cond)


def with_generated_columns(
    env: DataFrame,
    generated: dict[str, str],
    images: tuple[str, ...] = ("before", "after"),
) -> DataFrame:
    """Synthesize virtual generated columns into the row images.

    The reference's expression filter evaluates predicates that reference
    VIRTUAL GENERATED columns — values absent from the binlog image and
    recomputed from the row at filter time (pkg/filter/expr_filter.go:
    251-382, getGenerateExpr). Here a generated column is an SQL expression
    over the image's own fields, written with bare column names
    (``"id + balance"``); it is rewritten against each image struct and
    appended with ``withField`` — pure codegen'd expressions, evaluated
    only when the image is non-null (a D event has no after, an I no
    before; same short-circuit as the reference).

    The rewrite is token-based but QUOTE-AWARE: single-quoted string
    literals inside the expression (e.g. ``concat(note, 'id: ')``) are
    left untouched — only the segments outside literals have field names
    qualified against the image struct.
    """
    import re

    def _qualify(expr: str, pat: str, img: str) -> str:
        # split into literal / non-literal segments ('' escapes inside a
        # literal survive because consecutive quoted chunks re-join)
        parts = re.split(r"('(?:[^']|'')*')", expr)
        return "".join(
            p if p.startswith("'") else re.sub(pat, rf"{img}.\1", p)
            for p in parts
        )

    out = env
    for img in images:
        for name, expr in generated.items():
            # recompute per appended column: a generated column may
            # reference an EARLIER generated column (MySQL allows it), so
            # the rewrite scope must include fields added this loop
            fields = [f.name for f in out.schema[img].dataType.fields]
            pat = r"\b(" + "|".join(map(re.escape, sorted(fields, key=len, reverse=True))) + r")\b"
            qualified = _qualify(expr, pat, img)
            out = out.withColumn(
                img,
                F.when(
                    F.col(img).isNotNull(),
                    F.col(img).withField(name, F.expr(qualified)),
                ),
            )
    return out


def force_replicate_key(env: DataFrame) -> DataFrame:
    """Key synthesis for tables WITHOUT a usable handle key — the
    `force-replicate` mode (tests/integration_tests/force_replicate_table;
    config force-replicate): a PK/UK-less table cannot be keyed, so the
    row's entire image becomes its identity (md5 over all columns + null
    bits, the sync_diff canonical-row trick) and UPDATEs are split into
    DELETE(before)+INSERT(after) since identity == content. The reference
    warns such tables can diverge under duplicate rows; same caveat holds
    (two identical rows share a key — documented divergence).

    Map-only: rewrites `key` and explodes U into D+I; composes before the
    causality repartition like any other key derivation.
    """
    def row_key(img: str) -> Column:
        # canonical-row layout: values then ISNULL bits — the same
        # CONCAT_WS shape as functions/hashing._canon (sync_diff's trick),
        # kept in one layout engine-wide so checksum/force-replicate/
        # oracle row identities never diverge
        s = env.schema[img].dataType
        cols = [F.col(f"{img}.{f.name}") for f in s.fields]
        vals = [F.coalesce(c.cast("string"), F.lit("")) for c in cols]
        bits = [F.when(c.isNull(), "1").otherwise("0") for c in cols]
        return F.md5(F.concat_ws(",", *vals, *bits))

    split = F.when(
        F.col("op") == "U",
        F.array(
            F.struct(
                F.lit("D").alias("op"),
                F.col("before").alias("before"),
                F.lit(None).cast(env.schema["after"].dataType).alias("after"),
                (F.col("seq") * 2).alias("seq"),
                row_key("before").alias("key"),
            ),
            F.struct(
                F.lit("I").alias("op"),
                F.lit(None).cast(env.schema["before"].dataType).alias("before"),
                F.col("after").alias("after"),
                (F.col("seq") * 2 + 1).alias("seq"),
                row_key("after").alias("key"),
            ),
        ),
    ).otherwise(
        F.array(
            F.struct(
                F.col("op").alias("op"),
                F.col("before").alias("before"),
                F.col("after").alias("after"),
                (F.col("seq") * 2).alias("seq"),
                F.when(F.col("op") == "D", row_key("before"))
                .otherwise(row_key("after"))
                .alias("key"),
            )
        )
    )
    other = [c for c in env.columns if c not in ("op", "before", "after", "seq", "key")]
    ex = env.select(*other, F.explode(split).alias("_e"))
    return ex.select(
        F.col("_e.op").alias("op"),
        *other,
        F.col("_e.seq").alias("seq"),
        F.col("_e.key").alias("key"),
        F.col("_e.before").alias("before"),
        F.col("_e.after").alias("after"),
    )


def rekey_by_handle(resolved: DataFrame) -> DataFrame:
    """Recompute the dispatch/causality ``key`` from the REGISTRY's as-of
    handle-key columns — the engine-side of HandleKeyFlag selection
    (cdc/model/sink.go:62-205; partition/index_value.go:27-100 hashes the
    handle-key values): the key is no longer a caller-supplied column but
    whatever PK/first-UK the DDL history declares *at each event's
    commit_ts*, so a mid-stream ADD/DROP PRIMARY KEY re-keys subsequent
    events exactly as the reference's mounter would.

    Input is ``asof_resolve(..., with_keys=True)`` output (carries
    ``handle_cols``). Map-only: the payload struct is folded into a
    name→value map once and the handle columns are looked up per row —
    stays in whole-stage codegen, no shuffle, no UDF. Rows whose as-of
    schema has NO handle key (PK-less, UK-less) get a NULL key — callers
    route those through :func:`force_replicate_key` (force-replicate mode).
    """
    side = resolved.schema["after"].dataType
    names = [f.name for f in side.fields]
    vals = F.map_from_arrays(
        F.array(*[F.lit(n) for n in names]),
        F.array(
            *[
                F.coalesce(
                    F.col(f"after.{n}").cast("string"),
                    F.col(f"before.{n}").cast("string"),
                )
                for n in names
            ]
        ),
    )
    key = F.when(
        F.col("handle_cols").isNotNull() & (F.size("handle_cols") > 0),
        F.concat_ws(
            "\x01",
            F.transform(
                F.col("handle_cols"),
                lambda c: F.coalesce(F.element_at(vals, c), F.lit("")),
            ),
        ),
    )
    return resolved.withColumn("key", key)


def rekey_by_handle_or_force(resolved: DataFrame) -> DataFrame:
    """Registry-driven keying with force-replicate fallback — the
    reference's actual per-row decision (cdc/model/sink.go HandleKey
    selection; force-replicate applies ONLY to tables without a usable
    handle key, others keep key-based routing even in a force-replicate
    changefeed): rows whose as-of schema carries a handle key are keyed by
    it; rows without one fall back to full-row-image identity with U
    split into D+I (:func:`force_replicate_key`).

    Sequence numbering: the force path doubles seq to make split room, so
    the handle path doubles too — both sides stay in one total order per
    key (split_updates' convention). Map-only on each branch; the branch
    split is a filter, not a shuffle.
    """
    keyed = rekey_by_handle(resolved)
    with_h = keyed.filter(F.col("key").isNotNull()).withColumn(
        "seq", F.col("seq") * 2
    )
    no_h = keyed.filter(F.col("key").isNull())
    return with_h.unionByName(force_replicate_key(no_h))
