"""Optimistic shard-DDL ENFORCEMENT: a type-conflicted table pauses (its
events park in a pending store) while other tables keep applying; a
reconciling DDL resumes it and the parked events flush in order.

Mirrors dm/syncer/shardddl/optimist.go: conflict = lattice join undefined
(varchar vs int for the same column), resolution = a later DDL re-joins."""

import os
import time

import pyspark.sql.functions as F
import pytest

from tiflow_spark.config import TaskConfig
from tiflow_spark.sinks.bucketed import read_state
from tiflow_spark.streaming.pipeline import (
    OptimisticShardTarget,
    read_change_stream,
    transform_stream,
)


def _env_rows():
    # (table, id, ts) — scratch is the table that will conflict. The route/
    # split stage rekeys on after.id, so ids are the asserted identity.
    return [
        ("events", 1, 50), ("events", 2, 150), ("scratch", 11, 60),
        ("scratch", 12, 220), ("events", 3, 300), ("scratch", 13, 350),
        ("events", 4, 480), ("scratch", 14, 470),
    ]


def _envelope(spark, rows):
    data = [
        (
            "I", "shard_0", tbl, ts, ts - 1, i, str(rid),
            None,
            (rid, float(ts), "x"),
        )
        for i, (tbl, rid, ts) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data,
        "op string, schema string, table string, commit_ts long, "
        "start_ts long, seq long, key string, "
        "before struct<id:long, balance:double, note:string>, "
        "after struct<id:long, balance:double, note:string>",
    )


def _shard_ddl(spark):
    return spark.createDataFrame(
        [
            ("shard_0", "scratch", 100, "add column", "flag", "varchar"),
            ("shard_1", "scratch", 250, "add column", "flag", "int"),
            ("shard_1", "scratch", 450, "modify column", "flag", "varchar"),
        ],
        "shard string, table string, commit_ts long, ddl_type string, "
        "col_name string, col_type string",
    )


def test_conflicted_table_pauses_then_resumes(spark, tmp_path):
    rows = _env_rows()
    src = str(tmp_path / "src")
    for lo, hi in ((0, 200), (200, 400), (400, 600)):
        part = [r for r in rows if lo <= r[2] < hi]
        _envelope(spark, part).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)

    work = str(tmp_path / "work")
    snapshots: list[set] = []
    pending_seen: list[bool] = []

    class Recording(OptimisticShardTarget):
        def merge_batch(self, batch, batch_id):
            super().merge_batch(batch, batch_id)
            snapshots.append(
                {
                    r.key
                    for r in read_state(
                        batch.sparkSession, self.target_path
                    ).collect()
                }
            )
            pending_seen.append(os.path.isdir(self.pending_path))

    target = Recording(
        target_path=os.path.join(work, "target"),
        progress_path=os.path.join(work, "progress"),
        shard_ddl=_shard_ddl(spark),
        pending_path=os.path.join(work, "pending"),
        n_buckets=4,
    )
    q = (
        transform_stream(read_change_stream(spark, src, max_files=1), TaskConfig())
        .writeStream.foreachBatch(target.merge_batch)
        .option("checkpointLocation", os.path.join(work, "checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    assert len(snapshots) == 3
    # batch 1: conflict not yet visible — everything applies
    assert snapshots[0] == {"1", "2", "11"}
    # batch 2: scratch paused (12, 13 parked), events keeps applying
    assert snapshots[1] == {"1", "2", "11", "3"}
    assert pending_seen[1], "paused rows must be parked"
    # batch 3: reconciling DDL seen — parked rows flush with the live batch
    assert snapshots[2] == {"1", "2", "11", "3", "12", "13", "4", "14"}
    assert not os.path.isdir(target.pending_path), "pending store drained"


def test_empty_batch_writes_progress_record(spark, tmp_path):
    """A batch with no events still gets its (None, 0) progress record,
    as on the base StreamingTarget."""
    work = str(tmp_path / "work")
    target = OptimisticShardTarget(
        target_path=os.path.join(work, "target"),
        progress_path=os.path.join(work, "progress"),
        shard_ddl=_shard_ddl(spark),
        pending_path=os.path.join(work, "pending"),
        n_buckets=4,
    )
    batch = transform_stream(_envelope(spark, _env_rows()), TaskConfig())
    target.merge_batch(batch, 0)
    target.merge_batch(batch.filter(F.col("seq") < 0), 1)
    rows = {
        r.batch_id: (r.resolved_ts, r.events)
        for r in spark.read.parquet(target.progress_path).collect()
    }
    assert rows[1] == (None, 0)


def test_pending_shrink_crash_keeps_parked_rows(spark, tmp_path, monkeypatch):
    """A crash inside the pending-store shrink, after the merge committed,
    followed by the foreachBatch replay, keeps every row parked for a table
    that is still paused: the run ends with the never-crashed keys."""
    from conftest import crash_once

    ddl = _shard_ddl(spark).unionByName(
        spark.createDataFrame(
            [
                ("shard_0", "other", 100, "add column", "g", "varchar"),
                ("shard_1", "other", 255, "add column", "g", "int"),
                ("shard_1", "other", 300, "modify column", "g", "varchar"),
            ],
            _shard_ddl(spark).schema,
        )
    )
    batches = [
        # scratch and other paused: 21 and 31 park
        [("events", 1, 50), ("scratch", 21, 252), ("other", 31, 258)],
        # other resumes and flushes 31; scratch stays paused: 21, 22 held
        [("events", 2, 150), ("scratch", 22, 320), ("other", 32, 340)],
        # scratch resumes: 21 and 22 flush
        [("events", 3, 460)],
    ]
    work = str(tmp_path / "work")
    target = OptimisticShardTarget(
        target_path=os.path.join(work, "target"),
        progress_path=os.path.join(work, "progress"),
        shard_ddl=ddl,
        pending_path=os.path.join(work, "pending"),
        n_buckets=4,
    )
    fired = crash_once(
        monkeypatch, os, "rename", lambda src, dst: src.endswith("pending.tmp")
    )

    def merge(batch_id):
        rows = _envelope(spark, batches[batch_id])
        target.merge_batch(transform_stream(rows, TaskConfig()), batch_id)

    merge(0)
    with pytest.raises(RuntimeError, match="injected crash"):
        merge(1)
    assert fired
    merge(1)  # the foreachBatch replay
    merge(2)
    keys = {r.key for r in read_state(spark, target.target_path).collect()}
    assert keys == {"1", "2", "3", "21", "22", "31", "32"}
    assert not any(
        os.path.exists(target.pending_path + s) for s in ("", ".tmp", ".old")
    )
