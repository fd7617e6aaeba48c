"""DDL event side-channel — the reference's DDL puller + schema evolution.

The reference runs a dedicated DDL stream next to the row-change stream
(cdc/puller/ddl_puller.go): DDL jobs pass an allow-list
(pkg/filter/filter.go:36-96 ddlWhiteListMap), user binlog-filter rules drop
per-DDL-kind events (pkg/binlog-filter/filter.go:36-96 taxonomy), and
surviving jobs advance the versioned schema storage
(cdc/entry/schema_storage.go:191 HandleDDLJob) and execute downstream at the
barrier (cdc/owner/ddl_manager.go:508).

Spark-first shape: the DDL stream is a tiny DataFrame (broadcast everywhere),
filters are boolean Columns, and HandleDDLJob is a window over the stream
building cumulative (columns, defaults) per version — the registry that
`schema_registry.asof_resolve` broadcasts against the huge event side.

For tests/oracles the stream is synthesized deterministically: DDL commit
timestamps are fixed twelfths of the events table's [min, max] commit-ts
range, so the identical stream is constructible in DuckDB
(:data:`DDL_SQL_DUCKDB`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tiflow_spark.envelope import epoch_us

# The DDL kinds cdc's schema storage accepts (pkg/filter/filter.go:36-96
# ddlWhiteListMap values, named per pkg/binlog-filter/filter.go taxonomy).
DDL_ALLOWLIST = frozenset(
    {
        "create database", "drop database", "modify schema charset and collate",
        "create table", "drop table", "truncate table", "rename table",
        "recover table", "modify table comment",
        "modify table charset and collate",
        "create view", "drop view",
        "add table partition", "drop table partition",
        "truncate table partition", "exchange table partition",
        "reorganize table partition", "alter table partitioning",
        "remove table partitioning",
        "add column", "drop column", "modify column", "set default value",
        "rebase auto id", "add primary key", "drop primary key",
        "create index", "drop index", "rename index",
        "alter index visibility", "alter ttl info", "alter ttl remove",
        "multi schema change", "add foreign key", "drop foreign key",
    }
)

# (seq, pos12, schema, table, ddl_type, query, add_column, default_value)
# pos12 = commit position in twelfths of the event-stream time range.
# 'analyze table' and 'create sequence' are intentionally NOT whitelisted —
# they exercise the allow-list drop path (the reference silently discards
# non-whitelisted ActionTypes before schema storage).
_TEMPLATES = [
    (1, 0, "shard_0", "events", "create table",
     "CREATE TABLE events (id BIGINT PRIMARY KEY, balance DOUBLE)", None, None),
    (2, 1, "shard_0", "scratch", "create table",
     "CREATE TABLE scratch (id BIGINT)", None, None),
    (3, 2, "shard_0", "events", "create index",
     "CREATE INDEX idx_balance ON events (balance)", None, None),
    (4, 3, "shard_0", "events", "analyze table",
     "ANALYZE TABLE events", None, None),
    (5, 4, "shard_0", "events", "add column",
     "ALTER TABLE events ADD COLUMN note VARCHAR DEFAULT '{}'", "note", "{}"),
    (6, 5, "shard_0", "scratch", "truncate table",
     "TRUNCATE TABLE scratch", None, None),
    (7, 6, "shard_0", "scratch", "drop table",
     "DROP TABLE scratch", None, None),
    (8, 7, "shard_0", "events", "create view",
     "CREATE VIEW v_events AS SELECT id FROM events", None, None),
    (9, 8, "shard_0", "events", "add column",
     "ALTER TABLE events ADD COLUMN tier VARCHAR DEFAULT 'std'", "tier", "std"),
    (10, 9, "shard_0", "events", "drop index",
     "DROP INDEX idx_balance ON events", None, None),
    (11, 10, "shard_0", "events", "create sequence",
     "CREATE SEQUENCE seq_events", None, None),
    (12, 11, "shard_0", "events_tmp", "rename table",
     "RENAME TABLE events_tmp TO events_new", None, None),
]


def ddl_stream(events: DataFrame) -> DataFrame:
    """Synthesize the DDL side-channel from the events table's time range.

    One aggregate row (min/max commit-ts) cross-joined against the 12-row
    template literal — the event side is scanned once with map-side combine;
    the result is 12 rows, broadcastable everywhere downstream.
    """
    spark = events.sparkSession
    # r14 opt: the bounds are two scalars — collect them once and emit a
    # pure LocalRelation. The former agg+crossJoin shape re-ran a full
    # events scan in EVERY downstream plan branch referencing the DDL
    # frame (and dragged one into every registry fold's metadata collect,
    # guide §2.4). Metadata-scale driver transfer, batch frames only —
    # every caller synthesizes from the batch events table.
    r = events.agg(
        F.min(epoch_us("ts")).alias("t0"),
        F.max(epoch_us("ts")).alias("t1"),
    ).first()
    t0, t1 = int(r["t0"]), int(r["t1"])
    rows = [
        (
            "DDL",
            schema,
            table,
            t0 + (t1 - t0) * pos12 // 12,
            seq,
            ddl_type,
            query,
            add_column,
            default_value,
        )
        for (
            seq,
            pos12,
            schema,
            table,
            ddl_type,
            query,
            add_column,
            default_value,
        ) in _TEMPLATES
    ]
    return spark.createDataFrame(
        rows,
        "op string, schema string, table string, commit_ts long, seq long, "
        "ddl_type string, query string, add_column string, "
        "default_value string",
    )


def _values_sql() -> str:
    def lit(v):
        if v is None:
            return "CAST(NULL AS VARCHAR)"
        if isinstance(v, int):
            return str(v)
        return "'" + v.replace("'", "''") + "'"

    rows = ",\n    ".join(
        "(" + ", ".join(lit(v) for v in row) + ")" for row in _TEMPLATES
    )
    return rows


# DuckDB CTE producing the SAME 12 rows (keep in lockstep with ddl_stream()).
DDL_SQL_DUCKDB = f"""
ddl_bounds AS (
  SELECT min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1 FROM events
),
ddl AS (
  SELECT 'DDL' AS op, v.schema_name AS "schema", v.table_name AS "table",
         t0 + (t1 - t0) * v.pos12 // 12 AS commit_ts,
         v.seq, v.ddl_type, v.query, v.add_column, v.default_value
  FROM ddl_bounds CROSS JOIN (VALUES
    {_values_sql()}
  ) AS v(seq, pos12, schema_name, table_name, ddl_type, query, add_column,
         default_value)
)"""


def ddl_allowlist_predicate() -> F.Column:
    """Keep-predicate of the schema-storage allow-list (ddlWhiteListMap):
    non-whitelisted DDL kinds never reach schema storage or sinks."""
    return F.col("ddl_type").isin(*sorted(DDL_ALLOWLIST))


def ddl_filter_predicate(cfg) -> F.Column:
    """Per-DDL-kind binlog-filter rules (pkg/binlog-filter/filter.go:36-96):
    an EventFilterRule whose ``events`` name DDL kinds (e.g. 'truncate
    table') drops matching kinds for matching tables; 'all ddl' drops every
    kind. Reuses the same rule objects as the DML event filter."""
    from tiflow_spark.operators.filters import any_table_matches

    keep = F.lit(True)
    for rule in cfg.event_filters:
        kinds = [e for e in rule.events if e not in ("I", "U", "D")]
        matched = any_table_matches(rule.tables, cfg.case_sensitive)
        if not kinds:
            # A Do rule whitelisting only DML kinds drops every DDL for its
            # matched tables (binlog-filter Do semantics: unlisted event
            # kinds are filtered out). Ignore rules with no DDL kinds have
            # nothing to drop here.
            if rule.action == "Do":
                keep = keep & ~matched
            continue
        hit = F.col("ddl_type").isin(*kinds) | F.lit("all ddl" in kinds)
        if rule.action == "Ignore":
            keep = keep & ~(matched & hit)
        else:  # Do
            keep = keep & (~matched | hit)
    return keep


_REGISTRY_SCHEMA = (
    "table string, version_ts long, version_no int, columns array<string>, "
    "defaults map<string,string>, types map<string,string>, "
    "_defs array<struct<key:string,value:string>>, "
    "pk_cols array<string>, uk_sets array<array<string>>, "
    "handle_cols array<string>, "
    "gen_exprs map<string,string>, gen_stored array<string>"
)

#: field order of _REGISTRY_SCHEMA — used to annotate the registry frame
#: with its driver-side rows (see registry_from_ddl)
_REGISTRY_FIELDS = (
    "table", "version_ts", "version_no", "columns", "defaults", "types",
    "_defs", "pk_cols", "uk_sets", "handle_cols", "gen_exprs", "gen_stored",
)

# key-metadata DDL kinds: they don't change the column set but DO change
# the row identity the sinks key on (ColumnFlagType PrimaryKey/UniqueKey/
# HandleKey flags, cdc/model/sink.go:62-205) — a registry version is
# emitted only when pk/uk state actually changes (non-unique index DDL is
# decode-neutral and emits nothing, matching the mounter's TableInfo reads).
_KEY_KINDS = frozenset(
    {"add primary key", "drop primary key", "create index", "drop index"}
)

# DDL kinds that change the decode schema and therefore emit a registry
# version (the reference bumps schema version on every job; only these
# change TableInfo's column set or name, which is all the mounter reads).
_SCHEMA_KINDS = frozenset(
    {"create table", "add column", "drop column", "modify column",
     "rename table", "multi schema change"}
)


def registry_from_ddl(ddl: DataFrame) -> DataFrame:
    """HandleDDLJob analog (cdc/entry/schema_storage.go:122-191): fold the
    DDL stream into versioned schema rows (table, version_ts, version_no,
    columns, types, defaults, pk_cols, uk_sets, handle_cols, gen_exprs,
    gen_stored) — the registry `asof_resolve` broadcasts. Key metadata is
    the ColumnFlagType source (cdc/model/sink.go:62-205): handle_cols = pk
    when one exists, else the first unique key.

    The fold PARSES each event's ``query`` string (ddl_parse.parse_ddl) —
    CREATE TABLE column lists, ALTER ADD/DROP/MODIFY/CHANGE COLUMN, RENAME
    TABLE — and replays them sequentially into per-table column state,
    exactly the reference's in-memory schema storage on the owner node. The
    DDL stream is metadata-scale by nature (the reference holds ALL of it in
    one process), so the driver-side collect here is bounded the same way
    the owner's memory is; the resulting registry broadcasts to executors.

    Column semantics (MySQL/TiDB): ADD appends, DROP removes, MODIFY changes
    type/default in place, CHANGE renames in place, RENAME TABLE moves the
    whole lineage to the new name (version history continues), DROP TABLE
    ends the lineage. Defaults map = every column with a declared DEFAULT
    (mounter.go:843-853 getDefaultOrZeroValue backfill source).
    """
    from tiflow_spark.sources.ddl_parse import parse_ddl

    spark = ddl.sparkSession
    # r14 opt: sort the metadata-scale rows on the driver — an orderBy
    # ahead of a collect costs a full sort-exchange job for rows the
    # driver is about to hold in a Python list anyway (guide §2.4)
    events = sorted(
        ddl.filter(ddl_allowlist_predicate())
        .select("table", "commit_ts", "seq", "ddl_type", "query")
        .collect(),
        key=lambda r: (r["commit_ts"], r["seq"]),
    )
    # per-table state: ordered list of (name, type, default) + key metadata
    tables: dict[str, list[tuple[str, str, str | None]]] = {}
    version_no: dict[str, int] = {}
    pks: dict[str, tuple[str, ...]] = {}
    uks: dict[str, list[tuple[str | None, tuple[str, ...]]]] = {}
    # generated columns: col -> (expr, stored) per table
    # (expr_filter.go:251-382 getGenerateExpr reads both kinds off
    # TableInfo; sinks recompute STORED ones into the applied image)
    gens: dict[str, dict[str, tuple[str, bool]]] = {}
    out = []

    def uk_name(name: str, given: str | None, cols: tuple[str, ...]) -> str:
        """MySQL default index naming: an unnamed unique key is named after
        its first column, with a numeric suffix on collision — so a later
        DROP INDEX <first_col> can remove inline `col UNIQUE` / unnamed
        table-level UNIQUE(...) keys instead of leaving stale uk state."""
        if given is not None:
            return given
        taken = {n for n, _ in uks.get(name, []) if n}
        base = cols[0] if cols else "uk"
        if base not in taken:
            return base
        i = 2
        while f"{base}_{i}" in taken:
            i += 1
        return f"{base}_{i}"

    def apply_key(kind: str, op, name: str) -> bool:
        """Fold one key-metadata op; True iff pk/uk state changed."""
        if kind == "add primary key" and op.pk_columns:
            pks[name] = tuple(op.pk_columns)
            return True
        if kind == "drop primary key":
            if pks.get(name):
                pks[name] = ()
                return True
            return False
        if kind == "create index" and op.unique_keys:
            names = op.unique_key_names or (None,) * len(op.unique_keys)
            for n, cs in zip(names, op.unique_keys):
                uks.setdefault(name, []).append((uk_name(name, n, cs), cs))
            return True
        if kind == "drop index" and op.key_name:
            cur = uks.get(name, [])
            kept = [(n, c) for n, c in cur if n != op.key_name]
            if len(kept) != len(cur):
                uks[name] = kept
                return True
        return False

    def apply_one(kind: str, op, name: str) -> str | None:
        """One structural op against the fold state; returns the (possibly
        renamed) lineage name, or None when the op was a no-op."""
        if kind == "create table":
            tables[name] = [
                (c.name, c.col_type, c.default) for c in op.columns
            ]
            version_no[name] = 0
            pks[name] = tuple(op.pk_columns)
            uks[name] = []
            for n, cs in zip(
                op.unique_key_names or (None,) * len(op.unique_keys),
                op.unique_keys,
            ):
                uks[name].append((uk_name(name, n, cs), cs))
            gens[name] = {
                c.name: (c.generated_expr, c.stored)
                for c in op.columns
                if c.generated_expr
            }
        elif name not in tables:
            return None  # untracked lineage (e.g. renamed-away)
        elif kind == "add column":
            c = op.columns[0]
            state = tables[name]
            if all(x[0] != c.name for x in state):
                state.append((c.name, c.col_type, c.default))
                if c.generated_expr:
                    gens.setdefault(name, {})[c.name] = (
                        c.generated_expr,
                        c.stored,
                    )
        elif kind == "drop column":
            tables[name] = [
                x for x in tables[name] if x[0] != op.drop_column
            ]
            pks[name] = tuple(
                c for c in pks.get(name, ()) if c != op.drop_column
            )
            uks[name] = [
                (n, kept)
                for n, cs in uks.get(name, [])
                if (kept := tuple(c for c in cs if c != op.drop_column))
            ]
            gens.get(name, {}).pop(op.drop_column, None)
        elif kind == "modify column":
            c = op.columns[0]
            old = op.old_column or c.name
            tables[name] = [
                (c.name, c.col_type, c.default) if x[0] == old else x
                for x in tables[name]
            ]
            if old != c.name:  # CHANGE rename flows through key metadata
                pks[name] = tuple(
                    c.name if x == old else x for x in pks.get(name, ())
                )
                uks[name] = [
                    (n, tuple(c.name if x == old else x for x in cs))
                    for n, cs in uks.get(name, [])
                ]
            # MODIFY redefines the column: a new generated expr replaces
            # the old one, a plain redefinition removes it
            gens.get(name, {}).pop(old, None)
            if c.generated_expr:
                gens.setdefault(name, {})[c.name] = (
                    c.generated_expr,
                    c.stored,
                )
        elif kind == "rename table":
            tables[op.rename_to] = tables.pop(name)
            version_no[op.rename_to] = version_no.pop(name)
            pks[op.rename_to] = pks.pop(name, ())
            uks[op.rename_to] = uks.pop(name, [])
            gens[op.rename_to] = gens.pop(name, {})
            name = op.rename_to
        return name

    for ev in events:
        op = parse_ddl(ev.query)
        kind = op.kind if op is not None else ev.ddl_type
        if kind in _KEY_KINDS:
            name = (op.table if op is not None else None) or ev.table
            if op is None or name not in tables or not apply_key(
                kind, op, name
            ):
                continue  # decode-neutral (non-unique index / unknown key)
        elif kind not in _SCHEMA_KINDS:
            if kind == "drop table":
                tables.pop(ev.table, None)
                pks.pop(ev.table, None)
                uks.pop(ev.table, None)
                gens.pop(ev.table, None)
            continue
        else:
            name = (op.table if op is not None else None) or ev.table
            if kind == "multi schema change":
                # atomic comma-list ALTER: apply every sub-op in statement
                # order, emit ONE registry version for the whole statement
                applied = None
                for sub in op.sub_ops:
                    if sub.kind in _KEY_KINDS:
                        if name in tables and apply_key(sub.kind, sub, name):
                            applied = True
                        continue
                    if sub.kind not in _SCHEMA_KINDS:
                        continue
                    nxt = apply_one(sub.kind, sub, name)
                    if nxt is not None:
                        name, applied = nxt, True
                if applied is None:
                    continue
            else:
                nxt = apply_one(kind, op, name)
                if nxt is None:
                    continue
                name = nxt
        version_no[name] += 1
        state = tables[name]
        defs = [(n, d) for n, _, d in state if d is not None]
        pk = list(pks.get(name, ()))
        uksets = [list(cs) for _, cs in uks.get(name, [])]
        # handle key = pk when one exists, else the first unique key
        # (HandleKeyFlag selection, cdc/model/sink.go; the not-null
        # precondition on the UK is relaxed here — nullability isn't
        # tracked in the fold, documented engine-wide)
        handle = pk if pk else (uksets[0] if uksets else [])
        g = gens.get(name, {})
        out.append(
            (
                name,
                ev.commit_ts,
                version_no[name],
                [n for n, _, _ in state],
                dict(defs),
                {n: t for n, t, _ in state},
                defs,
                pk,
                uksets,
                handle,
                {c: e for c, (e, _) in g.items()},
                [c for c, (_, s) in g.items() if s],
            )
        )
    df = spark.createDataFrame(out, _REGISTRY_SCHEMA)
    # The fold just built every registry row ON THE DRIVER; ride them
    # along on the returned frame so metadata-scale consumers
    # (registry_column_plan, the consumer's latest-version default maps)
    # can read them without a Spark collect round-trip — each
    # local-frame collect costs ~0.25 s of fixed job/py4j overhead and a
    # registry-folding query pays it 2-3x per invocation (r14). Purely a
    # Python-side annotation: the DataFrame itself is unchanged
    # (asof_resolve still broadcasts it), and consumers fall back to
    # collect() whenever the attribute is absent.
    from pyspark.sql import Row as _Row

    df._tiflow_registry_rows = [
        _Row(**dict(zip(_REGISTRY_FIELDS, r))) for r in out
    ]
    return df


def truncate_events(ddl: DataFrame) -> list[tuple[str, int]]:
    """(table, commit_ts) of TRUNCATE TABLE DDLs that pass the allow-list,
    parsed from query strings, in commit order — the sink applies each at
    its barrier (sinks/bucketed.truncate_table). Metadata-scale collect,
    bounded exactly like the registry fold above."""
    from tiflow_spark.sources.ddl_parse import parse_ddl

    out = []
    for ev in (
        ddl.filter(ddl_allowlist_predicate())
        .select("table", "commit_ts", "ddl_type", "query")
        .orderBy("commit_ts")
        .collect()
    ):
        op = parse_ddl(ev.query)
        kind = op.kind if op is not None else ev.ddl_type
        if kind == "truncate table":
            out.append(((op.table if op else None) or ev.table, ev.commit_ts))
    return out


# ------------------------------------------------- optimistic shard-DDL mode

# (shard, pos12, ddl_type, table, col_name, col_type): each shard applies
# DDL independently at its own pace (dm/pkg/shardddl/optimism). shard_2
# never applies ADD COLUMN note (lagging member); `scratch.flag` is added
# with DIFFERENT types by the two shards (the lattice-incompatible case
# tidb schemacmp flags as a conflict).
_OPT_TEMPLATES = [
    ("shard_0", 0, "create table", "events", "id", "bigint"),
    ("shard_0", 0, "create table", "events", "balance", "double"),
    ("shard_1", 0, "create table", "events", "id", "bigint"),
    ("shard_1", 0, "create table", "events", "balance", "double"),
    ("shard_2", 0, "create table", "events", "id", "bigint"),
    ("shard_2", 0, "create table", "events", "balance", "double"),
    ("shard_0", 4, "add column", "events", "note", "varchar"),
    ("shard_1", 6, "add column", "events", "note", "varchar"),
    ("shard_0", 8, "add column", "events", "tier", "varchar"),
    ("shard_1", 10, "add column", "events", "tier", "varchar"),
    ("shard_2", 11, "add column", "events", "tier", "varchar"),
    ("shard_0", 5, "add column", "scratch", "flag", "varchar"),
    ("shard_1", 7, "add column", "scratch", "flag", "int"),
]


def optimistic_shard_ddl(events: DataFrame) -> DataFrame:
    """Per-shard DDL application stream for optimistic mode: shards run the
    same logical migration at independent times (dm/syncer/shardddl/
    optimist.go); commit timestamps derive from the event-stream range like
    ddl_stream()."""
    spark = events.sparkSession
    bounds = events.agg(
        F.min(epoch_us("ts")).alias("t0"),
        F.max(epoch_us("ts")).alias("t1"),
    )
    tpl = spark.createDataFrame(
        _OPT_TEMPLATES,
        "shard string, pos12 long, ddl_type string, table string, "
        "col_name string, col_type string",
    )
    return bounds.crossJoin(F.broadcast(tpl)).select(
        "shard",
        "table",
        (F.col("t0") + F.expr("(t1 - t0) * pos12 div 12")).alias("commit_ts"),
        "ddl_type",
        "col_name",
        "col_type",
    )


def _opt_values_sql() -> str:
    rows = ",\n    ".join(
        "('%s', %d, '%s', '%s', '%s', '%s')" % r for r in _OPT_TEMPLATES
    )
    return rows


OPTIMISTIC_DDL_SQL_DUCKDB = f"""
opt_bounds AS (
  SELECT min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1 FROM events
),
opt_ddl AS (
  SELECT v.shard, v.table_name AS "table",
         t0 + (t1 - t0) * v.pos12 // 12 AS commit_ts,
         v.ddl_type, v.col_name, v.col_type
  FROM opt_bounds CROSS JOIN (VALUES
    {_opt_values_sql()}
  ) AS v(shard, pos12, ddl_type, table_name, col_name, col_type)
)"""


_INT_RANK = {"TINYINT": 1, "SMALLINT": 2, "MEDIUMINT": 3, "INT": 4,
             "INTEGER": 4, "BIGINT": 5}


def _type_head(t: str) -> str:
    return t.split("(")[0].strip().upper()


def _type_args(t: str) -> tuple[int, ...]:
    import re as _re

    m = _re.search(r"\(([^)]*)\)", t)
    if not m:
        return ()
    out = []
    for p in m.group(1).split(","):
        p = p.strip()
        if p.isdigit():
            out.append(int(p))
    return tuple(out)


# MySQL rendered widths (sign included) for int families, and implicit
# capacities for the TEXT family — used to detect shrinking retypes that
# cross type-family lines.
_INT_WIDTH = {"TINYINT": 4, "SMALLINT": 6, "MEDIUMINT": 8, "INT": 11,
              "INTEGER": 11, "BIGINT": 20}
_TEXT_CAPACITY = {"TINYTEXT": 255, "TEXT": 65535,
                  "MEDIUMTEXT": (1 << 24) - 1, "LONGTEXT": (1 << 32) - 1}


def _string_capacity(head: str, args: tuple[int, ...]) -> int | None:
    if args:
        return args[0]
    return _TEXT_CAPACITY.get(head)


def is_lossy_modify(old_type: str, new_type: str) -> str | None:
    """Classify a MODIFY/CHANGE retype as lossy, returning the reason or
    None — the data-loss taxonomy the reference's lossy-DDL handling
    surfaces to sinks (tests/integration_tests/lossy_ddl; storage/simple
    protocols mark schema changes that can truncate row images):

    - integer rank down (BIGINT→INT…), length down (VARCHAR(64)→VARCHAR(8),
      CHAR/BINARY/VARBINARY alike), DECIMAL precision/scale down,
      cross-family moves out of string (VARCHAR→INT), float→integer.
    Widening and same-shape retypes are lossless (None).
    """
    oh, nh = _type_head(old_type), _type_head(new_type)
    if oh == nh:
        oa, na = _type_args(old_type), _type_args(new_type)
        if oa and na and any(n < o for o, n in zip(oa, na)):
            return "length or precision reduced"
        return None
    if oh in _INT_RANK and nh in _INT_RANK:
        return "integer rank reduced" if _INT_RANK[nh] < _INT_RANK[oh] else None
    string_like = {"VARCHAR", "CHAR", "TEXT", "TINYTEXT", "MEDIUMTEXT",
                   "LONGTEXT"}
    float_like = {"DOUBLE", "FLOAT", "REAL"}
    if oh in string_like and nh in string_like:
        # Cross-family string shrink (VARCHAR(64)->CHAR(8),
        # TEXT->VARCHAR(8)): heads differ but declared/implicit capacity
        # still shrinks — compare lengths across the family.
        ol = _string_capacity(oh, _type_args(old_type))
        nl = _string_capacity(nh, _type_args(new_type))
        if ol is not None and nl is not None and nl < ol:
            return "length or precision reduced"
        return None
    if oh in string_like and nh not in string_like:
        return "string to non-string"
    if (oh in _INT_RANK or oh in ("DECIMAL", "NUMERIC")) and nh in string_like:
        # int->string is only lossless when the string can hold the full
        # rendered range (sign included): BIGINT->VARCHAR(2) truncates.
        need = (_INT_WIDTH[oh] if oh in _INT_RANK
                else (_type_args(old_type) or (10,))[0] + 2)  # sign + point
        nl = _string_capacity(nh, _type_args(new_type))
        if nl is not None and nl < need:
            return "string too short for numeric range"
        return None
    if oh in float_like and nh in _INT_RANK:
        return "fractional part dropped"
    if oh in ("DECIMAL", "NUMERIC") and nh in _INT_RANK:
        return "fractional part dropped"
    return None


def lossy_ddl_report(ddl: DataFrame) -> DataFrame:
    """Per MODIFY/CHANGE COLUMN event: is the retype lossy, and why —
    the warning surface of the lossy_ddl scenario. Folds the same parsed
    stream as the registry (metadata-scale collect), comparing each
    column's declared type before and after the statement."""
    from tiflow_spark.sources.ddl_parse import parse_ddl

    spark = ddl.sparkSession
    # r14 opt: sort the metadata-scale rows on the driver — an orderBy
    # ahead of a collect costs a full sort-exchange job for rows the
    # driver is about to hold in a Python list anyway (guide §2.4)
    events = sorted(
        ddl.filter(ddl_allowlist_predicate())
        .select("table", "commit_ts", "seq", "ddl_type", "query")
        .collect(),
        key=lambda r: (r["commit_ts"], r["seq"]),
    )
    types: dict[str, dict[str, str]] = {}
    out = []

    def check(op, name: str, ts: int):
        cur = types.setdefault(name, {})
        for sub in (op,) if not op.sub_ops else op.sub_ops:
            if sub.kind == "create table":
                types[name] = {c.name: c.col_type for c in sub.columns}
            elif sub.kind == "add column" and sub.columns:
                cur[sub.columns[0].name] = sub.columns[0].col_type
            elif sub.kind == "drop column":
                cur.pop(sub.drop_column, None)
            elif sub.kind == "modify column" and sub.columns:
                c = sub.columns[0]
                old = sub.old_column or c.name
                old_t = cur.pop(old, None)
                cur[c.name] = c.col_type
                if old_t is not None:
                    reason = is_lossy_modify(old_t, c.col_type)
                    out.append(
                        (name, ts, c.name, old_t, c.col_type,
                         reason is not None, reason)
                    )
            elif sub.kind == "rename table":
                types[sub.rename_to] = types.pop(name, {})

    for ev in events:
        op = parse_ddl(ev.query)
        if op is None:
            continue
        check(op, (op.table or ev.table), ev.commit_ts)
    return spark.createDataFrame(
        out,
        "table string, commit_ts long, column string, old_type string, "
        "new_type string, lossy boolean, reason string",
    )
