"""DuckDB oracle: the expected outputs, computed from the generated files
alone with the benchmark task config's semantics written out in SQL.

It never calls the program. The rules it encodes are the ones
``workloads.task_config`` asks the program to apply:

* table filter: ``*.audit_*`` events are dropped;
* event filter: DELETE events of ``shop_0.accounts`` are dropped
  (applied to the original op, before the update split);
* route: ``shop_*.orders`` shards merge into ``shop.orders_all``;
* update split: an UPDATE whose id changed becomes DELETE(old id) with
  seq ``2*seq`` and INSERT(new id) with seq ``2*seq+1``; every other event
  keeps seq ``2*seq``;
* apply: last writer wins per key by ``(commit_ts, seq)``; a DELETE winner
  removes the row.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

_SPLIT = """
WITH ev AS (SELECT * FROM read_parquet({files})),
kept AS (
  SELECT * FROM ev
  WHERE "table" NOT LIKE 'audit\\_%' ESCAPE '\\'
    AND NOT ("schema" = 'shop_0' AND "table" = 'accounts' AND op = 'D')
),
split AS (
  SELECT "schema", "table", commit_ts, 'D' AS op, 2 * seq AS seq,
         before.id AS id, NULL::DOUBLE AS balance, NULL::VARCHAR AS note
  FROM kept WHERE op = 'U' AND before.id <> after.id
  UNION ALL
  SELECT "schema", "table", commit_ts, 'I', 2 * seq + 1,
         after.id, after.balance, after.note
  FROM kept WHERE op = 'U' AND before.id <> after.id
  UNION ALL
  SELECT "schema", "table", commit_ts, op, 2 * seq,
         coalesce(after.id, before.id), after.balance, after.note
  FROM kept WHERE NOT (op = 'U' AND before.id <> after.id)
)
"""


def _files(paths: list[str]) -> str:
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def expected_target(paths: list[str], snapshot: pa.Table) -> pa.Table:
    """Live rows of the changefeed target after applying ``paths`` on top of
    the initial rows ``snapshot``: ``(target_table, key, id, balance, note)``."""
    con = duckdb.connect()
    con.register("snap", snapshot)
    sql = _SPLIT.format(files=_files(paths)) + """
, routed AS (
  SELECT CASE WHEN "table" = 'orders' THEN 'orders_all' ELSE "table" END
         AS target_table, commit_ts, seq, op, id, balance, note
  FROM split
  UNION ALL
  SELECT target_table, commit_ts, seq, op, id, balance, note FROM snap
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY target_table, id ORDER BY commit_ts DESC, seq DESC) AS rn
  FROM routed
)
SELECT target_table, CAST(id AS VARCHAR) AS key, id, balance, note
FROM ranked WHERE rn = 1 AND op <> 'D'
"""
    return con.execute(sql).arrow()


def expected_replay(paths: list[str]) -> pa.Table:
    """Live rows a canal-json consumer folds from the changefeed's topic.
    The MQ sink carries source identities (no route), so the fold is per
    ``(schema, table, key)``: ``(schema, table, key, id, balance, note)``."""
    sql = _SPLIT.format(files=_files(paths)) + """
, ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY "schema", "table", id ORDER BY commit_ts DESC, seq DESC) AS rn
  FROM split
)
SELECT "schema", "table", CAST(id AS VARCHAR) AS key, id, balance, note
FROM ranked WHERE rn = 1 AND op <> 'D'
"""
    return duckdb.connect().execute(sql).arrow()


def mismatches(actual: pa.Table, expected: pa.Table) -> int:
    """Rows in either table but not the other (multiset difference on the
    expected table's columns, balances compared to the cent)."""
    con = duckdb.connect()
    cols = expected.column_names
    con.register("a", actual.select(cols))
    con.register("e", expected)
    proj = ", ".join(
        f"round({c}, 2) AS {c}" if c == "balance" else f'"{c}"' for c in cols
    )
    return con.execute(
        f"""SELECT (SELECT count(*) FROM (SELECT {proj} FROM a EXCEPT ALL
                                         SELECT {proj} FROM e))
                 + (SELECT count(*) FROM (SELECT {proj} FROM e EXCEPT ALL
                                         SELECT {proj} FROM a))"""
    ).fetchone()[0]
