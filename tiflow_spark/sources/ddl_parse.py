"""Minimal real-DDL parser — the TableInfo-building half of HandleDDLJob.

The reference receives DDL jobs with a parsed ``model.TableInfo`` attached
(TiDB's parser has already run); its schema storage only *applies* them
(cdc/entry/schema_storage.go:122-191). Building on Spark we receive raw DDL
SQL strings (the ``query`` field every CDC protocol carries), so this module
supplies the parse step: classify the statement into the reference's DDL
taxonomy (pkg/binlog-filter/filter.go:36-96) and extract the structural
payload (column defs, drops, renames) the registry fold needs.

Deliberately minimal — the MySQL-dialect subset that appears in replication
streams: CREATE TABLE column lists, ALTER TABLE ADD/DROP/MODIFY/CHANGE
COLUMN, RENAME TABLE, TRUNCATE, DROP TABLE, and classification-only kinds
(indexes, views, databases). Regex-based, case-insensitive, backtick/quote
tolerant. Anything unrecognized returns None and the caller falls back to
the event's declared ddl_type with no structural change — fail-safe, never
fail-wrong.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field


@dataclass(frozen=True)
class ColumnDef:
    name: str
    col_type: str
    default: str | None = None
    is_pk: bool = False  # inline PRIMARY KEY on the column def
    is_unique: bool = False  # inline UNIQUE on the column def
    generated_expr: str | None = None  # [GENERATED ALWAYS] AS (expr)
    stored: bool = False  # STORED vs VIRTUAL generated column


@dataclass(frozen=True)
class DDLOp:
    kind: str  # canonical taxonomy name (binlog-filter naming)
    schema: str | None = None
    table: str | None = None
    columns: tuple[ColumnDef, ...] = field(default_factory=tuple)
    drop_column: str | None = None
    old_column: str | None = None  # CHANGE COLUMN rename source
    rename_to: str | None = None  # rename target table name
    pk_columns: tuple[str, ...] = ()  # inline + table-level PRIMARY KEY
    unique_keys: tuple[tuple[str, ...], ...] = ()  # UNIQUE KEY column sets
    unique_key_names: tuple[str | None, ...] = ()  # aligned with unique_keys
    plain_keys: tuple[tuple[str, ...], ...] = ()  # non-unique KEY/INDEX sets
    plain_key_names: tuple[str | None, ...] = ()  # aligned with plain_keys
    key_name: str | None = None  # named index (ADD UNIQUE uq.../DROP INDEX uq)
    partition_name: str | None = None  # ADD/DROP/TRUNCATE/EXCHANGE PARTITION
    exchange_table: str | None = None  # EXCHANGE PARTITION ... WITH TABLE t
    charset: str | None = None  # table-option DEFAULT CHARSET
    collate: str | None = None  # table-option COLLATE
    sub_ops: tuple["DDLOp", ...] = ()  # multi schema change actions, in order


_IDENT = r"[`\"']?([\w$]+)[`\"']?"
_QUALIFIED = rf"(?:{_IDENT}\s*\.\s*)?{_IDENT}"

# column-list entries that are constraints, not columns
_CONSTRAINT_HEAD = re.compile(
    r"^\s*(PRIMARY\s+KEY|UNIQUE(\s+KEY|\s+INDEX)?\s*[(\s]|KEY\s|INDEX\s"
    r"|CONSTRAINT\s|FOREIGN\s+KEY|CHECK\s*\()",
    re.I,
)
# keywords that terminate the type expression in a column def
_TYPE_STOP = re.compile(
    r"\s+(PRIMARY|NOT|NULL|DEFAULT|UNIQUE|AUTO_INCREMENT|COMMENT|KEY"
    r"|REFERENCES|COLLATE|CHARACTER|CHARSET|ON|GENERATED|AS|FIRST|AFTER)\b",
    re.I,
)
_DEFAULT = re.compile(
    r"\bDEFAULT\s+(?:'((?:[^']|'')*)'|\"((?:[^\"]|\"\")*)\"|([\w().+-]+))",
    re.I,
)


def _parse_default(clause: str) -> str | None:
    m = _DEFAULT.search(clause)
    if not m:
        return None
    if m.group(1) is not None:
        return m.group(1).replace("''", "'")
    if m.group(2) is not None:
        return m.group(2).replace('""', '"')
    bare = m.group(3)
    return None if bare.upper() == "NULL" else bare


_GEN_HEAD = re.compile(r"\b(?:GENERATED\s+ALWAYS\s+)?AS\s*\(", re.I)


def _parse_generated(rest: str) -> tuple[str | None, bool]:
    """Extract a generated-column expression: ``[GENERATED ALWAYS] AS
    (<expr>) [STORED|VIRTUAL]`` with balanced-paren scanning (the expr may
    itself contain calls). Returns (expr, stored); MySQL defaults to
    VIRTUAL when neither keyword is present."""
    m = _GEN_HEAD.search(rest)
    if not m:
        return None, False
    depth, buf = 1, []
    i = m.end()
    for ch in rest[i:]:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                break
        buf.append(ch)
    if depth != 0:
        return None, False
    expr = "".join(buf).strip()
    tail = rest[i + len(buf) + 1 :]
    return expr or None, re.match(r"\s*STORED\b", tail, re.I) is not None


def _parse_column_def(entry: str) -> ColumnDef | None:
    entry = entry.strip()
    if not entry or _CONSTRAINT_HEAD.match(entry):
        return None
    m = re.match(rf"^{_IDENT}\s+(.+)$", entry, re.S)
    if not m:
        return None
    name, rest = m.group(1), m.group(2).strip()
    stop = _TYPE_STOP.search(rest)
    col_type = (rest[: stop.start()] if stop else rest).strip()
    gen_expr, stored = _parse_generated(rest)
    return ColumnDef(
        name,
        col_type.upper(),
        None if gen_expr else _parse_default(rest),
        is_pk=re.search(r"\bPRIMARY\s+KEY\b", rest, re.I) is not None,
        is_unique=re.search(r"\bUNIQUE\b(?!\s+KEY\s*\()", rest, re.I)
        is not None,
        generated_expr=gen_expr,
        stored=stored,
    )


_PK_CONSTRAINT = re.compile(
    r"(?:CONSTRAINT\s+[`\"']?[\w$]+[`\"']?\s+)?PRIMARY\s+KEY\s*\(([^)]*)\)",
    re.I,
)
_UK_CONSTRAINT = re.compile(
    r"(?:CONSTRAINT\s+[`\"']?[\w$]+[`\"']?\s+)?UNIQUE"
    r"(?:\s+KEY|\s+INDEX)?(?:\s+[`\"']?([\w$]+)[`\"']?)?\s*\(([^)]*)\)",
    re.I,
)
_PLAIN_KEY_CONSTRAINT = re.compile(
    r"^\s*(?:KEY|INDEX)\s+[`\"']?([\w$]+)[`\"']?\s*\(([^)]*)\)", re.I
)
_CHARSET_OPT = re.compile(
    r"(?:DEFAULT\s+)?(?:CHARACTER\s+SET|CHARSET)\s*=?\s*(\w+)", re.I
)
_COLLATE_OPT = re.compile(r"COLLATE\s*=?\s*(\w+)", re.I)


def _key_cols(group: str) -> tuple[str, ...]:
    """Column names from a key-constraint column list (strip quotes and
    index-length suffixes like `name(10)`)."""
    out = []
    for part in group.split(","):
        m = re.match(rf"^\s*{_IDENT}", part)
        if m:
            out.append(m.group(1))
    return tuple(out)


def _split_top_level(body: str) -> list[str]:
    """Split on commas at paren depth 0, quote-aware."""
    out, depth, cur, quote = [], 0, [], None
    for ch in body:
        if quote:
            cur.append(ch)
            if ch == quote:
                quote = None
            continue
        if ch in "'\"`":
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
            continue
        cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


# classification-only statements → taxonomy kind
_CLASSIFY = [
    (re.compile(r"^\s*CREATE\s+DATABASE\b", re.I), "create database"),
    (re.compile(r"^\s*DROP\s+DATABASE\b", re.I), "drop database"),
    (re.compile(r"^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\b", re.I), "create view"),
    (re.compile(r"^\s*DROP\s+VIEW\b", re.I), "drop view"),
    (re.compile(r"^\s*CREATE\s+(UNIQUE\s+)?INDEX\b", re.I), "create index"),
    (re.compile(r"^\s*DROP\s+INDEX\b", re.I), "drop index"),
    (re.compile(r"^\s*ANALYZE\b", re.I), "analyze table"),
    (re.compile(r"^\s*CREATE\s+SEQUENCE\b", re.I), "create sequence"),
]


def _parse_alter_action(
    schema: str | None, table: str, action: str
) -> DDLOp | None:
    """One ALTER TABLE action (the comma-list element) → DDLOp."""
    a = re.match(
        rf"^ADD\s+(?:COLUMN\s+)?(?!INDEX\b|KEY\b|CONSTRAINT\b|PRIMARY\b|"
        rf"UNIQUE\b|FOREIGN\b|PARTITION\b){_IDENT}\s+(.+)$",
        action,
        re.I | re.S,
    )
    if a:
        cd = _parse_column_def(f"{a.group(1)} {a.group(2)}")
        if cd:
            return DDLOp("add column", schema, table, columns=(cd,))
    a = re.match(rf"^DROP\s+(?:COLUMN\s+)?{_IDENT}\s*$", action, re.I)
    if a and a.group(1).upper() not in (
        "PRIMARY", "INDEX", "KEY", "PARTITION", "CHECK",
    ):
        return DDLOp("drop column", schema, table, drop_column=a.group(1))
    a = re.match(
        rf"^MODIFY\s+(?:COLUMN\s+)?{_IDENT}\s+(.+)$", action, re.I | re.S
    )
    if a:
        cd = _parse_column_def(f"{a.group(1)} {a.group(2)}")
        if cd:
            return DDLOp("modify column", schema, table, columns=(cd,))
    a = re.match(
        rf"^CHANGE\s+(?:COLUMN\s+)?{_IDENT}\s+{_IDENT}\s+(.+)$",
        action,
        re.I | re.S,
    )
    if a:
        cd = _parse_column_def(f"{a.group(2)} {a.group(3)}")
        if cd:
            return DDLOp(
                "modify column",
                schema,
                table,
                columns=(cd,),
                old_column=a.group(1),
            )
    a = re.match(rf"^RENAME\s+(?:TO\s+|AS\s+)?{_QUALIFIED}\s*$", action, re.I)
    if a:
        return DDLOp("rename table", schema, table, rename_to=a.group(2))
    # partition maintenance actions (TiDB partition DDL jobs; taxonomy
    # names per ddlWhiteListMap: add/drop/truncate/exchange table partition)
    a = re.match(
        rf"^ADD\s+PARTITION\s*\(\s*PARTITION\s+{_IDENT}", action, re.I
    )
    if a:
        return DDLOp(
            "add table partition", schema, table, partition_name=a.group(1)
        )
    a = re.match(rf"^DROP\s+PARTITION\s+{_IDENT}", action, re.I)
    if a:
        return DDLOp(
            "drop table partition", schema, table, partition_name=a.group(1)
        )
    a = re.match(rf"^TRUNCATE\s+PARTITION\s+{_IDENT}", action, re.I)
    if a:
        return DDLOp(
            "truncate table partition",
            schema,
            table,
            partition_name=a.group(1),
        )
    a = re.match(
        rf"^EXCHANGE\s+PARTITION\s+{_IDENT}\s+WITH\s+TABLE\s+{_QUALIFIED}",
        action,
        re.I,
    )
    if a:
        return DDLOp(
            "exchange table partition",
            schema,
            table,
            partition_name=a.group(1),
            exchange_table=a.group(3),
        )
    a = re.match(
        r"^ADD\s+(?:CONSTRAINT\s+[`\"']?[\w$]+[`\"']?\s+)?"
        r"PRIMARY\s+KEY\s*\(([^)]*)\)",
        action,
        re.I,
    )
    if a:
        return DDLOp(
            "add primary key", schema, table, pk_columns=_key_cols(a.group(1))
        )
    a = re.match(
        rf"^ADD\s+(?:CONSTRAINT\s+[`\"']?[\w$]+[`\"']?\s+)?UNIQUE"
        rf"(?:\s+KEY|\s+INDEX)?(?:\s+{_IDENT})?\s*\(([^)]*)\)",
        action,
        re.I,
    )
    if a:
        return DDLOp(
            "create index",
            schema,
            table,
            unique_keys=(_key_cols(a.group(2)),),
            unique_key_names=(a.group(1),),
            key_name=a.group(1),
        )
    a = re.match(r"^ADD\s+(PRIMARY\s+KEY|INDEX|KEY|UNIQUE)", action, re.I)
    if a:
        kind = (
            "add primary key"
            if "PRIMARY" in a.group(1).upper()
            else "create index"
        )
        return DDLOp(kind, schema, table)
    if re.match(r"^DROP\s+PRIMARY\s+KEY", action, re.I):
        return DDLOp("drop primary key", schema, table)
    a = re.match(rf"^DROP\s+(?:INDEX|KEY)\s+{_IDENT}\s*$", action, re.I)
    if a:
        return DDLOp("drop index", schema, table, key_name=a.group(1))
    if re.match(r"^DROP\s+(INDEX|KEY)\s", action, re.I):
        return DDLOp("drop index", schema, table)
    return None


def parse_ddl(query: str) -> DDLOp | None:
    """Parse one DDL statement into its taxonomy kind + structural payload.
    Returns None for statements outside the recognized subset."""
    if not query:
        return None
    q = query.strip().rstrip(";").strip()

    m = re.match(
        rf"^CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?{_QUALIFIED}\s*\((.*)\)\s*([^)]*)$",
        q,
        re.I | re.S,
    )
    if m:
        entries = _split_top_level(m.group(3))
        cols = tuple(
            c
            for entry in entries
            if (c := _parse_column_def(entry)) is not None
        )
        # table-level key constraints (the structure facts DM's precheck
        # reads off SHOW CREATE TABLE, dm/pkg/checker/table_structure.go)
        pk: tuple[str, ...] = tuple(c.name for c in cols if c.is_pk)
        uks: list[tuple[str, ...]] = [(c.name,) for c in cols if c.is_unique]
        uk_names: list[str | None] = [None for _ in uks]
        pks_: list[tuple[str, ...]] = []  # non-unique KEY/INDEX entries
        pk_names_: list[str | None] = []
        for entry in entries:
            e = entry.strip()
            if not _CONSTRAINT_HEAD.match(e):
                continue
            km = _PK_CONSTRAINT.match(e)
            if km:
                pk = pk + _key_cols(km.group(1))
                continue
            km = _UK_CONSTRAINT.match(e)
            if km:
                uks.append(_key_cols(km.group(2)))
                uk_names.append(km.group(1))
                continue
            km = _PLAIN_KEY_CONSTRAINT.match(e)
            if km:
                # non-unique secondary index — the dispatcher's named-index
                # config must see these to reject them (VerifyTables only
                # allows UNIQUE indexes, event_router.go:144-151). A column
                # literally named `key`/`index` with a sized type (``key
                # VARCHAR(10)``) would false-match with all-digit "columns"
                # — digits-only identifiers are illegal unquoted in MySQL,
                # so skip those.
                kcols = _key_cols(km.group(2))
                if kcols and not all(c.isdigit() for c in kcols):
                    pks_.append(kcols)
                    pk_names_.append(km.group(1))
        opts = m.group(4) or ""
        cm, om = _CHARSET_OPT.search(opts), _COLLATE_OPT.search(opts)
        return DDLOp(
            "create table",
            m.group(1),
            m.group(2),
            columns=cols,
            pk_columns=pk,
            unique_keys=tuple(uks),
            unique_key_names=tuple(uk_names),
            plain_keys=tuple(pks_),
            plain_key_names=tuple(pk_names_),
            charset=cm.group(1).lower() if cm else None,
            collate=om.group(1).lower() if om else None,
        )

    m = re.match(rf"^ALTER\s+TABLE\s+{_QUALIFIED}\s+(.*)$", q, re.I | re.S)
    if m:
        schema, table = m.group(1), m.group(2)
        actions = [a.strip() for a in _split_top_level(m.group(3)) if a.strip()]
        if len(actions) > 1:
            # multi-action ALTER (MySQL comma list) → the reference's
            # "multi schema change" job type: one atomic DDL carrying the
            # parsed sub-operations in statement order. Unrecognized
            # actions are skipped (fail-safe — same as a lone unknown).
            subs = tuple(
                s
                for act in actions
                if (s := _parse_alter_action(schema, table, act)) is not None
            )
            return (
                DDLOp("multi schema change", schema, table, sub_ops=subs)
                if subs
                else None
            )
        return _parse_alter_action(schema, table, actions[0])

    m = re.match(
        rf"^RENAME\s+TABLE\s+{_QUALIFIED}\s+TO\s+{_QUALIFIED}", q, re.I
    )
    if m:
        return DDLOp(
            "rename table", m.group(1), m.group(2), rename_to=m.group(4)
        )

    m = re.match(rf"^TRUNCATE\s+(?:TABLE\s+)?{_QUALIFIED}\s*$", q, re.I)
    if m:
        return DDLOp("truncate table", m.group(1), m.group(2))

    m = re.match(
        rf"^DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?{_QUALIFIED}", q, re.I
    )
    if m:
        return DDLOp("drop table", m.group(1), m.group(2))

    m = re.match(
        rf"^CREATE\s+(UNIQUE\s+)?INDEX\s+{_IDENT}\s+ON\s+{_QUALIFIED}"
        rf"\s*\(([^)]*)\)",
        q,
        re.I,
    )
    if m:
        return DDLOp(
            "create index",
            m.group(3),
            m.group(4),
            unique_keys=(_key_cols(m.group(5)),) if m.group(1) else (),
            unique_key_names=(m.group(2),) if m.group(1) else (),
            key_name=m.group(2),
        )
    m = re.match(rf"^DROP\s+INDEX\s+{_IDENT}\s+ON\s+{_QUALIFIED}", q, re.I)
    if m:
        return DDLOp("drop index", m.group(2), m.group(3), key_name=m.group(1))

    for pat, kind in _CLASSIFY:
        if pat.match(q):
            return DDLOp(kind)
    return None
