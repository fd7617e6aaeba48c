"""Merge-on-read delta mode of the bucketed target.

Contract: `mode="delta"` appends the batch's winners as ONE delta file in
O(batch) — no bucket is read or rewritten; readers resolve winners across
base ∪ deltas (max-order-key-wins is associative, so any interleaving of
delta appends and compactions yields the copy-on-write state);
compact_deltas folds deltas into buckets through the same crash-atomic
staged commit, consuming them atomically with the swap. The LSM shape of
the reference's pebble db-sorter (docs/design/2022-03-16-ticdc-db-sorter.md).
"""

import os

import pyspark.sql.functions as F
import pytest

from tiflow_spark.sinks.bucketed import (
    _atomic_write_json,
    compact_deltas,
    list_deltas,
    merge_hash_bucketed,
    purge_tombstones,
    read_state,
    recover,
    resize_buckets,
)

CHG_SCHEMA = (
    "target_table string, key string, op string, commit_ts long, "
    "seq long, id long, balance double, note string"
)

SEED = [("t", str(k), "I", 100, k, k, float(k), "x") for k in range(50)]
B1 = [
    ("t", "3", "U", 200, 100, 3, 33.0, "y"),
    ("t", "7", "D", 200, 101, None, None, None),
    ("t", "99", "I", 200, 102, 99, 9.9, "z"),
]
B2 = [
    ("t", "3", "U", 300, 200, 3, 34.0, "y2"),
    # late arrival OLDER than the applied delete: tombstone must win
    ("t", "7", "I", 150, 90, 7, 7.7, "late-loses"),
    ("t", "99", "D", 400, 201, None, None, None),
]


def _chg(spark, rows):
    return spark.createDataFrame(rows, CHG_SCHEMA)


def _state(spark, target):
    return sorted(
        map(tuple, read_state(spark, target).drop("bucket").collect())
    )


def _build(spark, target, mode, batches=(B1, B2)):
    merge_hash_bucketed(_chg(spark, SEED), target, n_buckets=4, batch_id=0)
    for i, b in enumerate(batches, start=1):
        merge_hash_bucketed(
            _chg(spark, b), target, n_buckets=4, batch_id=i, mode=mode
        )


def test_delta_state_matches_rewrite_and_compaction_preserves_it(
    spark, tmp_path
):
    cow, mor = str(tmp_path / "cow"), str(tmp_path / "mor")
    _build(spark, cow, "rewrite")
    _build(spark, mor, "delta")
    expected = _state(spark, cow)
    assert _state(spark, mor) == expected  # resolve-at-read
    assert list_deltas(mor) == ["batch-1", "batch-2"]
    assert compact_deltas(spark, mor) == 2
    assert list_deltas(mor) == []
    assert _state(spark, mor) == expected  # resolve-free after fold


def test_delta_append_is_single_file_and_touches_no_bucket(spark, tmp_path):
    target = str(tmp_path / "t")
    merge_hash_bucketed(_chg(spark, SEED), target, n_buckets=4, batch_id=0)
    mtimes = {
        d: os.path.getmtime(os.path.join(target, d))
        for d in os.listdir(target)
        if d.startswith("bucket=")
    }
    merge_hash_bucketed(
        _chg(spark, B1), target, n_buckets=4, batch_id=1, mode="delta"
    )
    delta_dir = os.path.join(target, "_delta", "batch-1")
    parts = [f for f in os.listdir(delta_dir) if f.endswith(".parquet")]
    assert len(parts) == 1  # O(batch): one coalesced file, one rename
    for d, m in mtimes.items():
        assert os.path.getmtime(os.path.join(target, d)) == m


def test_delta_replay_is_idempotent(spark, tmp_path):
    target = str(tmp_path / "t")
    _build(spark, target, "delta")
    expected = _state(spark, target)
    # foreachBatch replay: same batch id re-appends, REPLACING its delta
    merge_hash_bucketed(
        _chg(spark, B2), target, n_buckets=4, batch_id=2, mode="delta"
    )
    assert list_deltas(target) == ["batch-1", "batch-2"]
    assert _state(spark, target) == expected
    compact_deltas(spark, target)
    assert _state(spark, target) == expected


def test_compaction_crash_windows(spark, tmp_path):
    target = str(tmp_path / "t")
    _build(spark, target, "delta")
    expected = _state(spark, target)
    # crash BEFORE the marker: staged compact dir without _COMMIT → rolled
    # back, deltas stay, state unchanged
    stage = os.path.join(target, "_staging", "halfdone")
    os.makedirs(os.path.join(stage, "bucket=0"))
    recover(target)
    assert not os.path.isdir(stage)
    assert list_deltas(target) == ["batch-1", "batch-2"]
    assert _state(spark, target) == expected
    # crash AFTER the marker, mid delta-consumption: manifest lists deltas;
    # recover() must finish removing them (roll forward)
    stage2 = os.path.join(target, "_staging", "postmark")
    os.makedirs(stage2)
    _atomic_write_json(
        os.path.join(stage2, "manifest.json"),
        {"affected": [], "staged": [], "deltas": ["batch-1"]},
    )
    _atomic_write_json(os.path.join(stage2, "_COMMIT"), {"ok": True})
    # batch-1's rows were (by assumption of the crashed compact) already
    # folded into buckets — simulate by re-merging them copy-on-write
    merge_hash_bucketed(
        _chg(spark, B1), target, n_buckets=4, batch_id=91, mode="rewrite"
    )
    assert list_deltas(target) == ["batch-2"]  # recover consumed batch-1
    assert _state(spark, target) == expected


def test_purge_and_resize_fold_pending_deltas_first(spark, tmp_path):
    target = str(tmp_path / "t")
    _build(spark, target, "delta")
    expected = _state(spark, target)
    purge_tombstones(spark, target, safepoint_ts=500)
    assert list_deltas(target) == []
    # key 7's tombstone (ts 200 ≤ 500) and key 99's (400 ≤ 500) reclaimed
    df = spark.read.option("mergeSchema", "true").parquet(target)
    assert df.filter(F.col("op") == "D").count() == 0
    assert _state(spark, target) == expected
    _build(spark, str(tmp_path / "t2"), "delta")
    resize_buckets(spark, str(tmp_path / "t2"), 8)
    assert list_deltas(str(tmp_path / "t2")) == []
    assert _state(spark, str(tmp_path / "t2")) == expected


def test_delta_mode_schema_evolution(spark, tmp_path):
    """An ADD COLUMN arriving as a delta append must widen the visible
    state (nulls backfilled on base rows) and survive compaction; a
    replayed pre-DDL delta must never narrow it back."""
    target = str(tmp_path / "t")
    merge_hash_bucketed(_chg(spark, SEED), target, n_buckets=4, batch_id=0)
    widened = (
        "target_table string, key string, op string, commit_ts long, "
        "seq long, id long, balance double, note string, tier string"
    )
    b_wide = [("t", "3", "U", 200, 100, 3, 33.0, "y", "gold")]
    merge_hash_bucketed(
        spark.createDataFrame(b_wide, widened), target, n_buckets=4,
        batch_id=1, mode="delta",
    )
    state = read_state(spark, target)
    assert "tier" in state.columns
    got = {r.key: r.tier for r in state.collect()}
    assert got["3"] == "gold" and got["5"] is None  # backfilled NULL
    compact_deltas(spark, target)
    state2 = read_state(spark, target)
    assert {r.key: r.tier for r in state2.collect()} == got
    # replayed pre-DDL batch (narrow schema) must not drop the column
    merge_hash_bucketed(
        _chg(spark, B1), target, n_buckets=4, batch_id=1, mode="delta"
    )
    compact_deltas(spark, target)
    assert "tier" in read_state(spark, target).columns


def test_streaming_target_auto_compaction_cadence(spark, tmp_path):
    """compact_every folds deltas inside the foreachBatch loop — the
    LSM level-0 cap that bounds resolve-at-read cost."""
    from tiflow_spark.streaming.pipeline import StreamingTarget

    base = tmp_path / "auto"
    tgt = StreamingTarget(
        target_path=str(base / "target"),
        progress_path=str(base / "progress"),
        n_buckets=4,
        merge_mode="delta",
        compact_every=2,
    )
    env_schema = (
        "target_table string, key string, op string, commit_ts long, "
        "seq long, after struct<id: long, balance: double, note: string>"
    )
    for i in range(4):
        rows = [("t", str(k), "I", 100 + i, i * 10 + k, (k, float(i), "x"))
                for k in range(3)]
        tgt.merge_batch(spark.createDataFrame(rows, env_schema), i)
    # batch 0 seeds; batch 2's post-merge fold consumes deltas 1+2; delta 3 waits
    assert list_deltas(tgt.target_path) == ["batch-3"]
    state = _state(spark, tgt.target_path)
    assert len(state) == 3  # 3 keys, last writer (i=3) wins


def test_run_changefeed_delta_mode_equals_rewrite(spark, sf_dir, tmp_path):
    """Full Structured-Streaming changefeed in merge-on-read mode must land
    the same visible state as copy-on-write."""
    import pyspark.sql.functions as F

    from tiflow_spark.envelope import events_to_changes, load_table
    from tiflow_spark.plans.parity import DEMO_CFG
    from tiflow_spark.streaming.pipeline import run_changefeed

    env = events_to_changes(load_table(spark, sf_dir, "events"))
    src = str(tmp_path / "source")
    for chunk in (1, 0):  # two out-of-order micro-batch files
        env.filter(F.col("seq") % 2 == chunk).write.mode("append").parquet(src)
    states = {}
    for mode in ("rewrite", "delta"):
        work = str(tmp_path / mode)
        _, target = run_changefeed(
            spark, src, DEMO_CFG, work, merge_mode=mode
        )
        states[mode] = sorted(
            map(
                tuple,
                read_state(spark, target.target_path)
                .select("target_table", "key", "id", "balance")
                .collect(),
            )
        )
    assert states["delta"] == states["rewrite"]
    assert len(states["delta"]) > 0


def test_streaming_target_delta_mode(spark, tmp_path):
    """StreamingTarget(merge_mode="delta") end-to-end equivalence."""
    from tiflow_spark.streaming.pipeline import StreamingTarget

    env_schema = (
        "target_table string, key string, op string, commit_ts long, "
        "seq long, after struct<id: long, balance: double, note: string>"
    )
    rows = [
        ("t", "1", "I", 100, 1, (1, 1.0, "a")),
        ("t", "2", "I", 100, 2, (2, 2.0, "b")),
        ("t", "1", "U", 200, 3, (1, 1.5, "a2")),
        ("t", "2", "D", 300, 4, None),
    ]
    results = {}
    for mode in ("rewrite", "delta"):
        base = tmp_path / mode
        tgt = StreamingTarget(
            target_path=str(base / "target"),
            progress_path=str(base / "progress"),
            n_buckets=4,
            merge_mode=mode,
        )
        batch = spark.createDataFrame(rows, env_schema)
        tgt.merge_batch(batch.filter(F.col("seq") <= 2), 0)
        tgt.merge_batch(batch.filter(F.col("seq") > 2), 1)
        results[mode] = _state(spark, tgt.target_path)
    assert results["delta"] == results["rewrite"]
    assert len(results["delta"]) == 1  # key 1 updated, key 2 deleted


def test_delta_commit_rolls_forward_after_its_marker(spark, tmp_path, monkeypatch):
    """A delta append is a staged commit: a crash after its _COMMIT marker
    and before the delta is moved into place is completed by recover(), so
    a plain read shows the batch with no replay."""
    from conftest import crash_once

    target = str(tmp_path / "t")
    merge_hash_bucketed(_chg(spark, SEED), target, n_buckets=4, batch_id=0)
    published = os.path.join("_delta", "batch-1")
    fired = crash_once(
        monkeypatch, os, "rename", lambda src, dst: dst.endswith(published)
    )
    with pytest.raises(RuntimeError, match="injected crash"):
        merge_hash_bucketed(
            _chg(spark, B1), target, n_buckets=4, batch_id=1, mode="delta"
        )
    assert fired
    got = {r.key: r.balance for r in read_state(spark, target).collect()}
    assert got["3"] == 33.0 and got["99"] == 9.9 and "7" not in got
    assert list_deltas(target) == ["batch-1"]


def test_read_state_over_a_delta_runs_no_job(spark, tmp_path):
    """Deltas are read under the recorded schema, which every delta commit
    widens: building the merge-on-read frame infers no schema."""
    from conftest import count_jobs

    target = str(tmp_path / "t")
    _build(spark, target, "delta", batches=(B1,))
    with count_jobs(spark) as jobs:
        read_state(spark, target)
    assert jobs.n == 0


def test_untracked_delta_columns_are_widened_once(spark, tmp_path):
    """Metadata written before delta appends recorded their schema may miss
    a column that only a delta holds. The first read widens the recorded
    schema from the delta footers once; later reads run no job."""
    import json

    from conftest import count_jobs

    from tiflow_spark.sinks.bucketed import read_target_meta

    target = str(tmp_path / "t")
    merge_hash_bucketed(_chg(spark, SEED), target, n_buckets=4, batch_id=0)
    creation = read_target_meta(target)["schema"]
    merge_hash_bucketed(
        spark.createDataFrame(
            [("t", "3", "U", 200, 100, 3, 33.0, "y", "gold")],
            CHG_SCHEMA + ", tier string",
        ),
        target, n_buckets=4, batch_id=1, mode="delta",
    )
    meta = read_target_meta(target)
    meta["schema"] = creation
    meta.pop("deltas_tracked")
    _atomic_write_json(os.path.join(target, "_target_meta.json"), meta)

    got = {r.key: r.tier for r in read_state(spark, target).collect()}
    assert got["3"] == "gold" and got["5"] is None
    meta = read_target_meta(target)
    assert meta["deltas_tracked"]
    assert "tier" in [f["name"] for f in json.loads(meta["schema"])["fields"]]
    with count_jobs(spark) as jobs:
        read_state(spark, target)
    assert jobs.n == 0
