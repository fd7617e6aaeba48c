"""Compactor — collapse multiple changes to the same key into one net change.

Reference: dm/syncer/compactor.go:28-230. Truth table (comments :154-162):
    I + U → I(new)      U + U → U(first.before, last.after)
    I + D → (nothing)   U + D → D      D + I → U (REPLACE-shaped)
Plus: updates that change the identity key must be split FIRST
(split_updates), so inside the compactor a key never migrates.

Spark-first shape: one shuffle on (table, key) + a partition-local sort
(a window). Wide CDC key spaces hold ~1 event per key per input
partition, so a map-side combine would have nothing to combine.

Event ordering rule (delete < update < insert at equal commit_ts,
cdc/model/sink.go:439-452) is encoded as op_weight.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

def op_weight():
    """delete < update < insert at equal ts (cdc/model/sink.go:439-452)."""
    return F.when(F.col("op") == "D", 0).when(F.col("op") == "U", 1).otherwise(2)


def order_cols():
    return [F.col("commit_ts"), F.col("seq"), op_weight()]


def _net_op(first_op, last_op):
    """The compactor truth table (compactor.go:154-162)."""
    return (
        F.when((first_op == "I") & (last_op == "D"), F.lit(None).cast("string"))
        .when(first_op == "I", F.lit("I"))
        .when((first_op == "D") & (last_op == "D"), F.lit("D"))
        .when(last_op == "D", F.lit("D"))
        .when(first_op == "D", F.lit("U"))  # D..I → REPLACE-shaped update
        .otherwise(F.lit("U"))
    )


def compact(env: DataFrame, table_col: str = "table") -> DataFrame:
    """Net change per (table, key): first-op/last-op recombination.

    Returns one row per key with the same envelope columns; `op` is the net
    operation, before = first event's before, after = last event's after,
    commit_ts/start_ts/seq = the last event's (the net change is observed at
    the last change's timestamp, compactor.go:163).
    """
    w = Window.partitionBy(table_col, "key").orderBy(*order_cols())
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    enriched = env.select(
        "*",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(w_all).alias("_n"),
        F.first("op").over(w).alias("_first_op"),
        F.last("op").over(w_all).alias("_last_op"),
        F.first("before").over(w).alias("_first_before"),
        F.last("after").over(w_all).alias("_last_after"),
    ).filter(F.col("_rn") == F.col("_n"))  # keep only the last row per key
    out = (
        enriched.withColumn("op", _net_op(F.col("_first_op"), F.col("_last_op")))
        .filter(F.col("op").isNotNull())  # I..D annihilates
        .withColumn(
            "before",
            F.when(F.col("op").isin("U", "D"), F.col("_first_before")),
        )
        .withColumn(
            "after",
            F.when(F.col("op").isin("I", "U"), F.col("_last_after")),
        )
        .drop("_rn", "_n", "_first_op", "_last_op", "_first_before", "_last_after")
    )
    return out


def last_state_per_key(
    env: DataFrame,
    table_col: str = "table",
    partition_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Just the final event per key (no truth-table recombination) — the
    dedup primitive used by the MERGE applier (max-ts-wins).
    ``partition_cols`` lead the grouping key; they must be functions of
    (table, key), like a hash bucket, so the winners do not change — only
    the clustering the plan asks of its input."""
    keys = (*partition_cols, table_col, "key")
    w = Window.partitionBy(*keys).orderBy(
        *[c.desc() for c in order_cols()]
    )
    return (
        env.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
