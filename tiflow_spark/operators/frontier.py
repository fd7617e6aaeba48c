"""Frontier / watermark computation.

The reference tracks per-span resolved timestamps in a skiplist+fib-heap
frontier (cdc/puller/frontier/frontier.go:31-90) and takes the min as the
table's resolved-ts; the changefeed checkpoint is the min over tables
(cdc/owner/changefeed.go:379-536), which
``streaming/metrics.changefeed_checkpoint`` computes. Per table this is one
aggregation, partial-aggregated map-side, so the shuffle carries one row
per table regardless of event volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def table_resolved_ts(env: DataFrame, table_col: str = "table") -> DataFrame:
    """Per-table resolved-ts = max commit_ts seen (batch analogue: everything
    read is resolved), plus event count for progress accounting."""
    return env.groupBy(F.col(table_col).alias("table")).agg(
        F.max("commit_ts").alias("resolved_ts"),
        F.min("commit_ts").alias("min_ts"),
        F.count(F.lit(1)).alias("events"),
    )

