"""Crash-atomicity of the bucketed-merge staged-manifest commit + the
n_buckets resize maintenance op.

Contract: a crash BEFORE the _COMMIT marker leaves the target untouched
(streaming replay redoes the batch); a crash AFTER the marker — at any
point mid-swap — is rolled forward by recover() to the exact committed
state. Mirrors the replay-idempotency the reference gets from MySQL txn
atomicity (cdc/sink/dmlsink/txn/mysql)."""

import os
import shutil

import pyspark.sql.functions as F
import pytest

from tiflow_spark.sinks.bucketed import (
    _atomic_write_json,
    merge_hash_bucketed,
    read_state,
    read_target_meta,
    recover,
    resize_buckets,
)

CHG_SCHEMA = (
    "target_table string, key string, op string, commit_ts long, "
    "seq long, id long, balance double, note string"
)


def _chg(spark, rows):
    return spark.createDataFrame(rows, CHG_SCHEMA)


def _seed(spark, target, n=100, n_buckets=4):
    merge_hash_bucketed(
        _chg(
            spark,
            [("t", str(k), "I", 100, k, k, float(k), "x") for k in range(n)],
        ),
        target,
        n_buckets=n_buckets,
        batch_id=0,
    )


def _stage_bucket(spark, target, batch, bucket, rows):
    """Hand-build a staged batch dir as merge would leave it just before
    the swap: staged bucket data + manifest (no marker yet)."""
    stage = os.path.join(target, "_staging", f"batch-{batch}")
    df = spark.createDataFrame(rows, CHG_SCHEMA)
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(stage, f"bucket={bucket}")
    )
    return stage


def test_committed_batch_rolls_forward_on_read(spark, tmp_path):
    target = str(tmp_path / "t1")
    _seed(spark, target)
    before = read_state(spark, target).count()
    stage = _stage_bucket(
        spark, target, 9, 0,
        [("t", "999999", "I", 500, 9000, 999999, 1.0, "staged")],
    )
    _atomic_write_json(
        os.path.join(stage, "manifest.json"),
        {"affected": [0], "staged": ["bucket=0"]},
    )
    _atomic_write_json(os.path.join(stage, "_COMMIT"), {"ok": True})
    # crash happened here: marker written, swap never ran. Any reader/merger
    # completes it.
    state = read_state(spark, target)
    assert state.filter(F.col("note") == "staged").count() == 1
    # bucket 0's old rows were replaced by the staged content
    assert state.count() < before + 1
    assert not os.path.isdir(os.path.join(target, "_staging", "batch-9"))


def test_uncommitted_staging_rolls_back(spark, tmp_path):
    target = str(tmp_path / "t2")
    _seed(spark, target)
    before = sorted(r.key for r in read_state(spark, target).collect())
    stage = _stage_bucket(
        spark, target, 7, 1,
        [("t", "888888", "I", 500, 9000, 888888, 1.0, "orphan")],
    )
    _atomic_write_json(
        os.path.join(stage, "manifest.json"),
        {"affected": [1], "staged": ["bucket=1"]},
    )
    # no _COMMIT marker -> rollback, target untouched
    recover(target)
    after = sorted(r.key for r in read_state(spark, target).collect())
    assert after == before
    assert not os.path.isdir(stage)


def test_mid_swap_crash_is_idempotent(spark, tmp_path):
    """Marker written, swap half-done (staged dir already renamed in; an
    all-deleted bucket not yet removed): recover() finishes exactly."""
    target = str(tmp_path / "t3")
    _seed(spark, target)
    stage = _stage_bucket(
        spark, target, 5, 2,
        [("t", "777777", "I", 500, 9000, 777777, 1.0, "swapped")],
    )
    _atomic_write_json(
        os.path.join(stage, "manifest.json"),
        # bucket 3's rows were ALL deleted by this batch: affected but not
        # staged -> its dir must be removed at swap time
        {"affected": [2, 3], "staged": ["bucket=2"]},
    )
    _atomic_write_json(os.path.join(stage, "_COMMIT"), {"ok": True})
    # simulate the first swap step having completed before the crash
    shutil.rmtree(os.path.join(target, "bucket=2"))
    os.rename(
        os.path.join(stage, "bucket=2"), os.path.join(target, "bucket=2")
    )
    recover(target)
    assert not os.path.isdir(os.path.join(target, "bucket=3"))
    state = read_state(spark, target)
    assert state.filter(F.col("note") == "swapped").count() == 1
    assert not os.path.isdir(stage)


def test_resize_buckets_preserves_state_and_updates_meta(spark, tmp_path):
    target = str(tmp_path / "t4")
    _seed(spark, target, n=120, n_buckets=4)
    merge_hash_bucketed(
        _chg(spark, [("t", "3", "D", 200, 1000, 3, 0.0, None)]),
        target, n_buckets=4, batch_id=1,
    )
    before = sorted(r.key for r in read_state(spark, target).collect())
    resize_buckets(spark, target, 16)
    assert read_target_meta(target)["n_buckets"] == 16
    dirs = [d for d in os.listdir(target) if d.startswith("bucket=")]
    assert len(dirs) > 4
    after = sorted(r.key for r in read_state(spark, target).collect())
    assert after == before
    # merges continue against the new layout; the old count is rejected
    merge_hash_bucketed(
        _chg(spark, [("t", "5", "U", 300, 2000, 5, 9.0, "post-resize")]),
        target, n_buckets=16, batch_id=2,
    )
    assert (
        read_state(spark, target).filter(F.col("key") == "5").first().balance
        == 9.0
    )
    try:
        merge_hash_bucketed(
            _chg(spark, [("t", "6", "U", 300, 2001, 6, 9.0, "bad")]),
            target, n_buckets=4, batch_id=3,
        )
        raise AssertionError("mismatched n_buckets must be rejected")
    except ValueError:
        pass


def test_purge_preserves_evolved_schema(spark, tmp_path):
    """purge_tombstones must read with mergeSchema: an evolved column that
    only some buckets carry survives the full rewrite."""
    from tiflow_spark.sinks.bucketed import purge_tombstones

    target = str(tmp_path / "t5")
    _seed(spark, target, n=40, n_buckets=4)
    evolved = spark.createDataFrame(
        [("t", "1", "U", 300, 5000, 1, 1.0, "x", "gold"),
         ("t", "2", "D", 250, 5001, 2, 0.0, None, None)],
        CHG_SCHEMA + ", tier string",
    )
    merge_hash_bucketed(evolved, target, n_buckets=4, batch_id=1)
    purge_tombstones(spark, target, safepoint_ts=400)
    state = read_state(spark, target)
    assert "tier" in state.columns
    assert state.filter(F.col("tier") == "gold").count() == 1
    assert state.filter(F.col("key") == "2").count() == 0
    # tombstone physically gone
    raw = spark.read.option("mergeSchema", "true").parquet(target)
    assert raw.filter(F.col("op") == "D").count() == 0


def test_truncate_watermark_semantics(spark, tmp_path):
    """TRUNCATE is a metadata-only watermark: pre-truncate rows vanish from
    read_state immediately (other tables untouched), replayed pre-truncate
    batches stay invisible, purge physically reclaims, and a watermark
    recorded before target creation survives it."""
    from tiflow_spark.sinks.bucketed import (
        merge_hash_bucketed,
        purge_tombstones,
        read_state,
        read_target_meta,
        truncate_table,
    )

    def batch(rows):
        return spark.createDataFrame(
            rows,
            "target_table string, key string, op string, commit_ts long, "
            "seq long, v long",
        )

    path = str(tmp_path / "t")
    merge_hash_bucketed(
        batch([("a", "k1", "I", 100, 1, 1), ("a", "k2", "I", 200, 2, 2),
               ("b", "k1", "I", 150, 3, 3)]),
        path, n_buckets=4, batch_id=0,
    )
    truncate_table(path, "a", 180)
    vis = {(r.target_table, r.key) for r in read_state(spark, path).collect()}
    assert vis == {("a", "k2"), ("b", "k1")}
    # post-truncate merge + replayed PRE-truncate batch (must stay erased)
    merge_hash_bucketed(batch([("a", "k3", "I", 300, 4, 4)]), path,
                        n_buckets=4, batch_id=1)
    merge_hash_bucketed(batch([("a", "k1", "I", 100, 1, 1)]), path,
                        n_buckets=4, batch_id=2)
    vis = {(r.target_table, r.key) for r in read_state(spark, path).collect()}
    assert vis == {("a", "k2"), ("a", "k3"), ("b", "k1")}
    # physical reclamation: raw rows below the watermark disappear,
    # visibility unchanged; the watermark itself stays (monotone)
    purge_tombstones(spark, path, safepoint_ts=0)
    raw = spark.read.option("mergeSchema", "true").parquet(path)
    assert raw.filter(
        (F.col("target_table") == "a") & (F.col("commit_ts") < 180)
    ).count() == 0
    vis = {(r.target_table, r.key) for r in read_state(spark, path).collect()}
    assert vis == {("a", "k2"), ("a", "k3"), ("b", "k1")}
    truncate_table(path, "a", 120)  # older replay: no-op
    assert read_target_meta(path)["truncates"]["a"] == 180
    # watermark recorded BEFORE creation survives the creation write
    p2 = str(tmp_path / "t2")
    truncate_table(p2, "a", 50)
    merge_hash_bucketed(
        batch([("a", "k0", "I", 40, 5, 5), ("a", "k9", "I", 60, 6, 6)]),
        p2, n_buckets=4, batch_id=0,
    )
    assert {r.key for r in read_state(spark, p2).collect()} == {"k9"}


def test_recover_table_clears_watermark_until_purge(spark, tmp_path):
    """FLASHBACK semantics: recover restores truncated rows while they
    physically survive; after purge the rows are gone for good."""
    from tiflow_spark.sinks.bucketed import (
        merge_hash_bucketed,
        purge_tombstones,
        read_state,
        recover_table,
        truncate_table,
    )

    def batch(rows):
        return spark.createDataFrame(
            rows,
            "target_table string, key string, op string, commit_ts long, "
            "seq long, v long",
        )

    path = str(tmp_path / "t")
    merge_hash_bucketed(
        batch([("a", "k1", "I", 100, 1, 1), ("a", "k2", "I", 200, 2, 2)]),
        path, n_buckets=4, batch_id=0,
    )
    truncate_table(path, "a", 150)
    assert {r.key for r in read_state(spark, path).collect()} == {"k2"}
    recover_table(path, "a")  # pre-purge: rows come back
    assert {r.key for r in read_state(spark, path).collect()} == {"k1", "k2"}
    truncate_table(path, "a", 150)
    purge_tombstones(spark, path, safepoint_ts=0)  # physical reclamation
    recover_table(path, "a")  # post-purge: nothing to restore
    assert {r.key for r in read_state(spark, path).collect()} == {"k2"}


def test_fully_purged_target_stays_readable(spark, tmp_path):
    """A target whose EVERY row is tombstoned and then GC'd past the
    safepoint has no parquet files left — reads must fall back to the
    creation schema recorded in the target metadata instead of failing
    schema inference (minimal counterexample found by the
    snapshot-immutability property test: delete-rewrite then purge)."""
    from tiflow_spark.sinks.bucketed import (
        merge_hash_bucketed,
        purge_tombstones,
        read_state,
    )

    target = str(tmp_path / "t")
    merge_hash_bucketed(
        _chg(spark, [("t", "1", "I", 10, 1, 1, 1.0, "x")]),
        target, n_buckets=2, batch_id=0,
    )
    merge_hash_bucketed(
        _chg(spark, [("t", "1", "D", 20, 2, 1, None, None)]),
        target, n_buckets=2, batch_id=1,
    )
    purge_tombstones(spark, target, safepoint_ts=20)
    state = read_state(spark, target)
    assert state.count() == 0
    assert "balance" in state.columns  # creation schema survives
    # and the empty target still accepts new merges + purges
    merge_hash_bucketed(
        _chg(spark, [("t", "2", "I", 30, 3, 2, 2.0, "y")]),
        target, n_buckets=2, batch_id=2,
    )
    assert read_state(spark, target).count() == 1
    purge_tombstones(spark, target, safepoint_ts=25)
    assert read_state(spark, target).count() == 1


def test_read_state_launches_no_job(spark, tmp_path):
    """read_state reads bucket data under the recorded target schema, so
    building the frame runs no footer-inference job."""
    from conftest import count_jobs

    target = str(tmp_path / "t")
    _seed(spark, target)
    merge_hash_bucketed(
        _chg(spark, [("t", "3", "U", 200, 1000, 3, 9.0, "y")]),
        target, n_buckets=4, batch_id=1,
    )
    with count_jobs(spark) as jobs:
        state = read_state(spark, target)
    assert jobs.n == 0
    assert state.count() == 100


def _evolve(spark, target, batch_id=1):
    """Merge a batch that adds a ``tier`` column (and deletes key 2)."""
    merge_hash_bucketed(
        spark.createDataFrame(
            [("t", "1", "U", 300, 5000, 1, 1.0, "x", "gold"),
             ("t", "2", "D", 250, 5001, 2, 0.0, None, None)],
            CHG_SCHEMA + ", tier string",
        ),
        target, n_buckets=4, batch_id=batch_id,
    )


def _recorded_columns(target):
    import json

    schema = json.loads(read_target_meta(target)["schema"])
    return [f["name"] for f in schema["fields"]]


def test_widened_schema_rolls_forward_after_commit_crash(spark, tmp_path):
    """A merge that adds a column records the wide schema in its commit
    manifest: a crash after _COMMIT but before the swap still ends, after
    recover(), with the wide schema recorded and read back."""
    from tiflow_spark.sinks import bucketed

    target = str(tmp_path / "t")
    _seed(spark, target, n=40)
    real = bucketed._apply_commit

    def crash(*_):
        raise RuntimeError("injected crash: _COMMIT written, no swap")

    bucketed._apply_commit = crash
    try:
        _evolve(spark, target)
        raise AssertionError("injection never fired")
    except RuntimeError:
        pass
    finally:
        bucketed._apply_commit = real
    assert "tier" not in _recorded_columns(target)
    recover(target)
    assert "tier" in _recorded_columns(target)
    state = read_state(spark, target)
    assert "tier" in state.columns
    assert state.filter(F.col("tier") == "gold").count() == 1
    assert state.filter(F.col("key") == "2").count() == 0


def test_maintenance_keeps_recorded_schema(spark, tmp_path):
    """resize_buckets and purge_tombstones rewrite every bucket under the
    recorded schema and keep it: an evolved column survives both."""
    from tiflow_spark.sinks.bucketed import purge_tombstones

    target = str(tmp_path / "t")
    _seed(spark, target, n=40)
    _evolve(spark, target)
    wide = _recorded_columns(target)
    assert "tier" in wide
    resize_buckets(spark, target, 8)
    assert _recorded_columns(target) == wide
    purge_tombstones(spark, target, safepoint_ts=400)
    assert _recorded_columns(target) == wide
    state = read_state(spark, target)
    assert state.filter(F.col("tier") == "gold").count() == 1
    assert state.count() == 39


def _key_in_missing_bucket(spark, target):
    """A key whose bucket has no directory in the target yet."""
    meta = read_target_meta(target)
    present = {
        int(d.split("=", 1)[1]) for d in os.listdir(target)
        if d.startswith("bucket=")
    }
    cands = _chg(
        spark, [("t", str(k), "I", 0, 0, 0, 0.0, "") for k in range(1000, 1200)]
    ).select(
        "key",
        F.pmod(
            F.xxhash64(*meta["key_cols"]), F.lit(meta["n_buckets"])
        ).alias("b"),
    )
    return next(r.key for r in cands.collect() if r.b not in present)


def test_narrow_batch_into_new_bucket_keeps_wide_schema(spark, tmp_path):
    """A pre-DDL (narrow) batch whose keys land only in buckets that do not
    exist yet must not shrink the recorded schema — neither through a
    rewrite merge nor through compact_deltas folding a narrow delta."""
    from tiflow_spark.sinks.bucketed import compact_deltas

    target = str(tmp_path / "t")
    _seed(spark, target, n=6, n_buckets=64)
    merge_hash_bucketed(
        spark.createDataFrame(
            [("t", "1", "U", 300, 5000, 1, 1.0, "x", "gold")],
            CHG_SCHEMA + ", tier string",
        ),
        target, n_buckets=64, batch_id=1,
    )
    assert "tier" in _recorded_columns(target)
    key = _key_in_missing_bucket(spark, target)
    merge_hash_bucketed(
        _chg(spark, [("t", key, "I", 400, 6000, 77, 7.0, "n")]),
        target, n_buckets=64, batch_id=2,
    )
    assert "tier" in _recorded_columns(target)
    key2 = _key_in_missing_bucket(spark, target)
    merge_hash_bucketed(
        _chg(spark, [("t", key2, "I", 500, 7000, 78, 8.0, "n")]),
        target, n_buckets=64, batch_id=3, mode="delta",
    )
    assert compact_deltas(spark, target) == 1
    assert "tier" in _recorded_columns(target)
    state = read_state(spark, target)
    assert "tier" in state.columns
    assert state.filter(F.col("tier") == "gold").count() == 1
    assert state.filter(F.col("key").isin(key, key2)).count() == 2
    assert state.count() == 8


def test_untracked_meta_is_widened_from_the_files_once(spark, tmp_path):
    """Metadata written before merges recorded their schema holds only the
    creation schema, while a merge may have added a column to the files.
    The first read widens the recorded schema from the file footers once,
    marks it tracked, and later reads run no inference job."""
    import json

    from conftest import count_jobs

    target = str(tmp_path / "t")
    _seed(spark, target, n=40)
    creation = read_target_meta(target)["schema"]
    _evolve(spark, target)
    meta = read_target_meta(target)
    meta["schema"] = creation
    meta.pop("schema_tracked", None)
    _atomic_write_json(os.path.join(target, "_target_meta.json"), meta)
    assert "tier" not in _recorded_columns(target)

    state = read_state(spark, target)
    assert "tier" in state.columns
    assert state.filter(F.col("tier") == "gold").count() == 1
    assert state.count() == 39
    meta = read_target_meta(target)
    assert meta["schema_tracked"] and "tier" in _recorded_columns(target)
    cols = [f["name"] for f in json.loads(creation)["fields"]]
    assert _recorded_columns(target)[: len(cols)] == cols
    with count_jobs(spark) as jobs:
        read_state(spark, target)
    assert jobs.n == 0


def _crash_first_meta_write(monkeypatch):
    """The next write of ``_target_meta.json`` raises, once: a crash at the
    point where a commit records the target metadata."""
    from conftest import crash_once

    from tiflow_spark.sinks import bucketed

    return crash_once(
        monkeypatch, bucketed, "_atomic_write_json",
        lambda path, payload: path.endswith("_target_meta.json"),
    )


def test_creation_crash_keeps_truncate_watermark(spark, tmp_path, monkeypatch):
    """Creating a target is a staged commit: a crash where it records the
    sizing leaves a watermark recorded before creation in place, and the
    replayed batch rolls forward to the never-crashed state."""
    from tiflow_spark.sinks.bucketed import truncate_table

    path = str(tmp_path / "t")
    truncate_table(path, "a", 50)
    fired = _crash_first_meta_write(monkeypatch)
    batch = spark.createDataFrame(
        [("a", "k0", "I", 40, 5, 5), ("a", "k9", "I", 60, 6, 6)],
        "target_table string, key string, op string, commit_ts long, "
        "seq long, v long",
    )
    with pytest.raises(RuntimeError, match="injected crash"):
        merge_hash_bucketed(batch, path, n_buckets=4, batch_id=0)
    assert fired
    merge_hash_bucketed(batch, path, n_buckets=4, batch_id=0)  # the replay
    assert {r.key for r in read_state(spark, path).collect()} == {"k9"}
    assert read_target_meta(path)["truncates"]["a"] == 50


def test_resize_crash_rolls_forward_to_new_sizing(spark, tmp_path, monkeypatch):
    """resize_buckets changes the sizing at its commit point: after a crash
    where the swap records the metadata, recover() ends with the new layout
    AND the new n_buckets, so a merge at the old count is refused and one
    at the new count keeps one row per key."""
    target = str(tmp_path / "t")
    _seed(spark, target, n=40, n_buckets=4)
    fired = _crash_first_meta_write(monkeypatch)
    with pytest.raises(RuntimeError, match="injected crash"):
        resize_buckets(spark, target, 8)
    assert fired
    recover(target)
    assert read_target_meta(target)["n_buckets"] == 8
    with pytest.raises(ValueError):
        merge_hash_bucketed(
            _chg(spark, [("t", "5", "U", 300, 2000, 5, 9.0, "old")]),
            target, n_buckets=4, batch_id=1,
        )
    merge_hash_bucketed(
        _chg(
            spark,
            [("t", str(k), "U", 300, 2000 + k, k, -1.0, "new") for k in range(40)],
        ),
        target, n_buckets=8, batch_id=1,
    )
    state = read_state(spark, target)
    assert state.count() == 40
    assert state.select("key").distinct().count() == 40
    assert {r.note for r in state.select("note").distinct().collect()} == {"new"}
