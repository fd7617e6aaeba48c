"""Chunked JDBC sources — snapshot reads of upstream MySQL/TiDB tables.

Reference: sync_diff_inspector/source/{tidb,chunks_iter}.go (chunk
iterators with snapshot ts), dm/dumpling (full export) and dm/loader (bulk
import): the full-migration path is a parallel chunked table scan.

Spark shape: `spark.read.jdbc` with a *predicate list* — one chunk WHERE
clause per partition, so the scan parallelizes across executors exactly
like the reference's chunk iterator, and each chunk predicate pushes down
to the upstream index.

No JDBC driver ships in this container, so `read_chunked` is exercised in
tests through its pure parts (predicate generation) and a parquet-backed
fake; against a real upstream it is the documented one-liner.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class ChunkSpec:
    column: str
    bounds: list  # sorted inner boundaries b1 < b2 < ... < bn


def chunk_predicates(spec: ChunkSpec) -> list[str]:
    """Boundary values → one WHERE clause per chunk (chunk/chunk.go:155-167
    Range.ToString): half-open ranges covering the whole domain, NULLs in
    the first chunk."""
    c, b = spec.column, spec.bounds
    if not b:
        return ["1 = 1"]
    preds = [f"{c} < {b[0]} OR {c} IS NULL"]
    preds += [f"{c} >= {lo} AND {c} < {hi}" for lo, hi in zip(b, b[1:])]
    preds.append(f"{c} >= {b[-1]}")
    return preds


def read_chunked(
    spark: SparkSession,
    url: str,
    table: str,
    spec: ChunkSpec,
    properties: dict | None = None,
) -> DataFrame:
    """Parallel chunked snapshot read (tidb.go / dumpling's chunked export).

    Each predicate becomes one Spark partition → one upstream range scan."""
    return spark.read.jdbc(
        url, table, predicates=chunk_predicates(spec), properties=properties or {}
    )
