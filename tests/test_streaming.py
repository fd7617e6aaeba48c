"""Streaming changefeed e2e: file-source → transform → foreachBatch MERGE.

Mirrors the reference's integration strategy (tests/integration_tests/*):
run a change workload through the pipeline, then verify the applied target
equals the directly-computed expected state (sync_diff-style equality).
"""

import shutil
import tempfile

import pyspark.sql.functions as F
import pytest

from tiflow_spark.envelope import events_to_changes, load_table
from tiflow_spark.operators import filters as flt
from tiflow_spark.operators import transforms as tfm
from tiflow_spark.operators.apply import changes_to_state
from tiflow_spark.plans.parity import DEMO_CFG
from tiflow_spark.streaming.pipeline import run_changefeed, transform_stream


@pytest.fixture()
def work_dir():
    d = tempfile.mkdtemp(prefix="tiflow_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_streaming_apply_matches_batch(spark, sf_dir, work_dir):
    env = events_to_changes(load_table(spark, sf_dir, "events"))

    # split the stream into 3 out-of-order chunks (arrival order != event
    # order — max-ts-wins must still converge)
    src = f"{work_dir}/source"
    for chunk in (1, 2, 0):
        env.filter(F.col("seq") % 3 == chunk).repartition(2).write.mode(
            "append"
        ).parquet(src)

    q, target = run_changefeed(spark, src, DEMO_CFG, work_dir)

    from tiflow_spark.sinks.bucketed import read_state

    applied = read_state(spark, target.target_path)

    expected = changes_to_state(
        tfm.split_updates(tfm.route(flt.apply_filters(env, DEMO_CFG), DEMO_CFG)),
        table_col="target_table",
    )
    a = applied.select("target_table", "key", "id", "balance", "note")
    e = expected.select("target_table", "key", "id", "balance", "note")
    assert a.count() == e.count()
    assert a.exceptAll(e).count() == 0
    assert e.exceptAll(a).count() == 0

    # progress records exist and the final resolved_ts equals the stream max
    prog = spark.read.parquet(target.progress_path)
    assert prog.count() >= 1
    max_ts = env.agg(F.max("commit_ts")).collect()[0][0]
    filtered_max = (
        flt.apply_filters(env, DEMO_CFG).agg(F.max("commit_ts")).collect()[0][0]
    )
    assert prog.agg(F.max("resolved_ts")).collect()[0][0] == filtered_max
    assert filtered_max <= max_ts


def test_streaming_idempotent_replay(spark, sf_dir, work_dir):
    """Re-running the drained changefeed with a FRESH checkpoint (forced
    replay of every file) must not change the target — the idempotency
    contract of the MERGE applier."""
    env = events_to_changes(load_table(spark, sf_dir, "events"))
    src = f"{work_dir}/source"
    env.repartition(4).write.mode("append").parquet(src)

    run_changefeed(spark, src, DEMO_CFG, work_dir)
    first = spark.read.parquet(f"{work_dir}/target").collect()

    shutil.rmtree(f"{work_dir}/checkpoint")  # lose progress → full replay
    run_changefeed(spark, src, DEMO_CFG, work_dir)
    second = spark.read.parquet(f"{work_dir}/target").collect()

    assert sorted(map(tuple, first)) == sorted(map(tuple, second))


def test_transform_stream_is_streaming(spark, sf_dir, work_dir):
    from tiflow_spark.streaming.pipeline import read_change_stream

    env = events_to_changes(load_table(spark, sf_dir, "events"))
    src = f"{work_dir}/source"
    env.write.parquet(src)
    stream = read_change_stream(spark, src)
    assert stream.isStreaming
    out = transform_stream(stream, DEMO_CFG)
    assert out.isStreaming
    assert "target_table" in out.columns


def test_streaming_windowed_rollup_matches_batch(spark, sf_dir, work_dir):
    """Event-time tumbling windows + watermark on the stream must produce
    the same rollup as the batch groupBy (§2.10 watermark surface)."""
    import os

    from tiflow_spark.streaming.pipeline import (
        read_change_stream,
        windowed_throughput,
    )

    env = events_to_changes(load_table(spark, sf_dir, "events"))
    src = os.path.join(work_dir, "source")
    env.write.mode("overwrite").parquet(src)

    stream = read_change_stream(spark, src)
    agg = windowed_throughput(stream, "10 seconds")
    out: list = []

    def sink(batch, _bid):
        out.extend(batch.collect())

    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", os.path.join(work_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        (r["w"]["start"], r["table"]): r["events"]
        for r in out
    }
    expected = {
        (r["w"]["start"], r["table"]): r["events"]
        for r in (
            env.withColumn("event_time", F.timestamp_micros(F.col("commit_ts")))
            .groupBy(
                F.window("event_time", "1 minute").alias("w"), F.col("table")
            )
            .agg(F.count(F.lit(1)).alias("events"))
            .collect()
        )
    }
    assert got == expected


def test_hash_bucket_merge_touches_only_affected_buckets(spark, tmp_path):
    """Per-batch cost must be O(touched buckets): an incremental batch may
    not rewrite files of buckets it does not touch (the 100-TB property)."""
    import os

    from pyspark.sql import functions as F

    from tiflow_spark.sinks.bucketed import merge_hash_bucketed

    target = str(tmp_path / "bucket_target")

    def chg(rows):
        return spark.createDataFrame(
            rows,
            "target_table string, key string, op string, commit_ts long, "
            "seq long, id long, balance double, note string",
        )

    seed = chg(
        [("t", str(k), "I", 100, k, k, float(k), "x") for k in range(200)]
    )
    merge_hash_bucketed(seed, target, n_buckets=8, batch_id=0)

    def snapshot_files():
        out = {}
        for d in os.listdir(target):
            if d.startswith("bucket="):
                p = os.path.join(target, d)
                out[d] = {
                    f: os.path.getmtime(os.path.join(p, f))
                    for f in os.listdir(p)
                    if f.endswith(".parquet")
                }
        return out

    before = snapshot_files()
    assert len(before) == 8
    # one upsert + one delete, same key-space
    merge_hash_bucketed(
        chg([("t", "3", "U", 200, 1000, 3, 99.0, "patched"),
             ("t", "7", "D", 200, 1001, 7, 0.0, None)]),
        target, n_buckets=8, batch_id=1,
    )
    after = snapshot_files()
    touched = {d for d in before if before[d] != after.get(d, {})}
    # the two keys hash into at most 2 buckets; everything else untouched
    assert len(touched) <= 2, touched
    from tiflow_spark.sinks.bucketed import read_state

    final = read_state(spark, target)
    assert final.count() == 199
    assert final.filter(F.col("key") == "3").first().balance == 99.0
    assert final.filter(F.col("key") == "7").count() == 0


def test_hash_bucket_delete_leaves_tombstone_until_purge(spark, tmp_path):
    """A delete leaves a tombstone that (a) hides the row from state reads,
    (b) outranks a late-arriving OLDER event, and (c) is reclaimed by
    purge_tombstones once the GC safepoint passes it."""
    from tiflow_spark.sinks.bucketed import (
        merge_hash_bucketed,
        purge_tombstones,
        read_state,
    )

    target = str(tmp_path / "empty_bucket_target")

    def chg(rows):
        return spark.createDataFrame(
            rows,
            "target_table string, key string, op string, commit_ts long, "
            "seq long, id long, balance double, note string",
        )

    merge_hash_bucketed(
        chg([("t", "a", "I", 1, 1, 1, 1.0, "x")]), target, n_buckets=4,
        batch_id=0,
    )
    assert read_state(spark, target).count() == 1
    merge_hash_bucketed(
        chg([("t", "a", "D", 5, 5, 1, 0.0, None)]), target, n_buckets=4,
        batch_id=1,
    )
    assert read_state(spark, target).count() == 0
    # late-arriving event OLDER than the delete must NOT resurrect the row
    merge_hash_bucketed(
        chg([("t", "a", "U", 3, 3, 1, 9.0, "late")]), target, n_buckets=4,
        batch_id=2,
    )
    assert read_state(spark, target).count() == 0
    # GC safepoint passes the delete -> tombstone physically reclaimed
    purge_tombstones(spark, target, safepoint_ts=5)
    import os

    assert not any(d.startswith("bucket=") for d in os.listdir(target))
    # a NEWER insert after the purge resurrects the key normally
    merge_hash_bucketed(
        chg([("t", "a", "I", 9, 9, 1, 2.0, "back")]), target, n_buckets=4,
        batch_id=3,
    )
    assert read_state(spark, target).first().balance == 2.0


def test_hash_bucket_merge_evolves_schema_on_add_column(spark, tmp_path):
    """DDL ADD COLUMN mid-stream: a later batch carrying a new column must
    widen the target; pre-DDL rows read back with NULL (default backfill
    happens at decode, mounter.go:843-853). Mirrors the reference's
    ddl_sequence integration scenario at the sink."""
    from pyspark.sql import functions as F

    from tiflow_spark.sinks.bucketed import merge_hash_bucketed

    target = str(tmp_path / "evolve_target")

    def chg(rows, schema):
        return spark.createDataFrame(rows, schema)

    base = "target_table string, key string, op string, commit_ts long, seq long, id long, balance double"
    merge_hash_bucketed(
        chg([("t", "1", "I", 1, 1, 1, 10.0), ("t", "2", "I", 1, 2, 2, 20.0)], base),
        target, n_buckets=4, batch_id=0,
    )
    # post-DDL batch carries the new 'tier' column
    merge_hash_bucketed(
        chg([("t", "3", "I", 2, 3, 3, 30.0, "gold")], base + ", tier string"),
        target, n_buckets=4, batch_id=1,
    )
    final = spark.read.option("mergeSchema", "true").parquet(target)
    assert "tier" in final.columns
    got = {r.key: r.tier for r in final.collect()}
    assert got == {"1": None, "2": None, "3": "gold"}


def test_checkpoint_resume_processes_only_new_files(spark, sf_dir, work_dir):
    """Stop-and-resume: a second run with the SAME checkpoint must process
    only newly arrived files, and the final state must equal the one-shot
    batch result (the reference's changefeed pause/resume contract)."""
    env = events_to_changes(load_table(spark, sf_dir, "events"))
    src = f"{work_dir}/source"

    first_half = env.filter(F.col("seq") % 2 == 0)
    second_half = env.filter(F.col("seq") % 2 == 1)

    first_half.coalesce(2).write.mode("append").parquet(src)
    run_changefeed(spark, src, DEMO_CFG, work_dir)
    n_batches_first = spark.read.parquet(f"{work_dir}/progress").count()

    # new files arrive; resume from the SAME checkpoint
    second_half.coalesce(2).write.mode("append").parquet(src)
    run_changefeed(spark, src, DEMO_CFG, work_dir)
    prog = spark.read.parquet(f"{work_dir}/progress")
    # resumed run added batches rather than reprocessing from scratch
    assert prog.count() > n_batches_first
    total_events = prog.agg(F.sum("events")).collect()[0][0]
    n_expected_events = tfm.split_updates(
        tfm.route(flt.apply_filters(env, DEMO_CFG), DEMO_CFG)
    ).count()
    assert total_events == n_expected_events, "events processed exactly once"

    from tiflow_spark.sinks.bucketed import read_state

    applied = read_state(spark, f"{work_dir}/target")
    expected = changes_to_state(
        tfm.split_updates(tfm.route(flt.apply_filters(env, DEMO_CFG), DEMO_CFG)),
        table_col="target_table",
    )
    a = applied.select("target_table", "key", "id", "balance", "note")
    assert a.exceptAll(expected).count() == 0
    assert expected.exceptAll(a).count() == 0


# --------------------------------------------- crash-resume e2e (round 5)


def _run_crashing_changefeed(spark, src, work_dir, crash, merge_mode="rewrite"):
    """Drive the changefeed with per-file micro-batches and a fault
    injection; returns normally when the stream drains, re-raises the
    injected crash otherwise."""
    import os

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from tiflow_spark.streaming.pipeline import (
        StreamingTarget,
        read_change_stream,
    )

    target = StreamingTarget(
        target_path=os.path.join(work_dir, "target"),
        progress_path=os.path.join(work_dir, "progress"),
        merge_mode=merge_mode,
    )

    def merge(batch, batch_id):
        crash(batch_id, "pre")  # injection point A: mid-batch, pre-staging
        target.merge_batch(batch, batch_id)

    stream = transform_stream(
        read_change_stream(spark, src, max_files=1), DEMO_CFG
    )
    q = (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", f"{work_dir}/checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    except StreamingQueryException:
        pass  # the injected crash killed the query mid-batch
    return target


@pytest.mark.parametrize(
    "point,mode",
    [("pre", "rewrite"), ("staged", "rewrite"), ("pre", "delta"),
     ("staged", "delta")],
)
def test_crash_resume_reaches_oracle_state(
    spark, sf_dir, work_dir, monkeypatch, point, mode
):
    """THE reference e2e guarantee (135 integration scenarios + redo
    design): kill a RUNNING changefeed mid-batch — either before any
    staging ('pre') or between staged-write and the _COMMIT marker
    ('staged': the first commit in rewrite mode, a delta batch's in delta
    mode) — restart from the Structured Streaming checkpoint, and the
    final target must hash-equal the never-crashed run. recover() rolls
    back the uncommitted staging; checkpoint replay redoes the batch;
    idempotent MERGE makes the redo safe."""
    import os

    from conftest import crash_once

    from tiflow_spark.sinks import bucketed
    from tiflow_spark.sinks.bucketed import read_state

    env = events_to_changes(load_table(spark, sf_dir, "events"))
    src = f"{work_dir}/source"
    for chunk in (1, 2, 0):  # several files → several micro-batches
        env.filter(F.col("seq") % 3 == chunk).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    fired = []
    if point == "staged":
        # a one-shot crash between the staged write and _COMMIT; batch 0
        # creates the target, so batch 1 is the first delta commit
        marker = "_COMMIT" if mode == "rewrite" else "batch-1/_COMMIT"
        fired = crash_once(
            monkeypatch, bucketed, "_atomic_write_json",
            lambda path, payload: path.endswith(marker),
        )

    def crash(batch_id, where):
        if point == "pre" and where == "pre" and batch_id == 1 and not fired:
            fired.append(batch_id)
            raise RuntimeError("injected crash: mid-batch before staging")

    target = _run_crashing_changefeed(spark, src, work_dir, crash, mode)
    assert fired, "injection never fired"

    if point == "staged":
        # the crash left an uncommitted staging dir behind (the exact
        # window under test)
        staging = os.path.join(target.target_path, "_staging")
        assert os.path.isdir(staging) and os.listdir(staging)

    # restart from the SAME checkpoint — replays the failed batch + rest
    target2 = _run_crashing_changefeed(
        spark, src, work_dir, lambda *_: None, mode
    )
    applied = read_state(spark, target2.target_path).select(
        "target_table", "key", "id", "balance", "note"
    )

    # never-crashed oracle: batch pipeline over the same events
    expected = changes_to_state(
        tfm.split_updates(tfm.route(flt.apply_filters(env, DEMO_CFG), DEMO_CFG)),
        table_col="target_table",
    ).select("target_table", "key", "id", "balance", "note")
    assert applied.count() == expected.count()
    assert applied.exceptAll(expected).count() == 0
    assert expected.exceptAll(applied).count() == 0


def test_streaming_partition_ddl_routing_matches_batch(spark, sf_dir, work_dir):
    """Partition DDL mid-stream (the partition_table integration scenario):
    a standing changefeed over physical partition streams keeps applying
    through an EXCHANGE/DROP PARTITION — events route per the directory
    version at their commit_ts, and the final target equals the batch
    pipeline over the same events."""
    from tiflow_spark.config import RouteRule, TaskConfig
    from tiflow_spark.operators.partition_table import (
        partition_directory_from_ddl,
        route_partitions_asof,
    )
    from tiflow_spark.sinks.bucketed import read_state
    from tiflow_spark.streaming.pipeline import (
        ENVELOPE_SCHEMA,
        StreamingTarget,
        read_change_stream,
        transform_stream_partitioned,
    )

    env = events_to_changes(load_table(spark, sf_dir, "events"))
    mid = env.agg(
        ((F.min("commit_ts") + F.max("commit_ts")) / 2).cast("long").alias("m")
    ).collect()[0]["m"]
    env = env.withColumn(
        "physical_table_id",
        F.when(F.col("table") == "events_0",
               F.col("key").cast("bigint") % 2 + 100)
        .when(F.col("table") == "events_1", F.lit(900)),
    )
    base = spark.createDataFrame(
        [(100, "shard_0", "orders_p", "p0"), (101, "shard_0", "orders_p", "p1")],
        "physical_table_id long, logical_schema string, "
        "logical_table string, partition_name string",
    )
    ddl = spark.createDataFrame(
        [
            ("DDL", "shard_0", "orders_p", int(mid), 1,
             "exchange table partition",
             "ALTER TABLE orders_p EXCHANGE PARTITION p1 WITH TABLE staging"),
            ("DDL", "shard_0", "orders_p", int(mid), 2,
             "drop table partition",
             "ALTER TABLE orders_p DROP PARTITION p0"),
        ],
        "op string, schema string, table string, commit_ts long, seq long, "
        "ddl_type string, query string",
    )
    pdir = partition_directory_from_ddl(base, ddl, table_ids={"staging": 900})
    cfg = TaskConfig(routes=(RouteRule("*", "*", "tgt", "merged"),))

    src = f"{work_dir}/source"
    for chunk in (1, 0, 2):
        env.filter(F.col("seq") % 3 == chunk).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    import pyspark.sql.types as T

    schema = T.StructType(
        ENVELOPE_SCHEMA.fields
        + [T.StructField("physical_table_id", T.LongType())]
    )
    stream = read_change_stream(spark, src, max_files=2, schema=schema)
    transformed = transform_stream_partitioned(stream, cfg, pdir)
    target = StreamingTarget(
        target_path=f"{work_dir}/target",
        progress_path=f"{work_dir}/progress",
    )
    q = (
        transformed.writeStream.foreachBatch(target.merge_batch)
        .option("checkpointLocation", f"{work_dir}/checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    applied = read_state(spark, target.target_path).select(
        "target_table", "key", "id", "balance", "note"
    )
    routed_batch = route_partitions_asof(env, pdir).drop(
        "partition_name", "physical_table_id"
    )
    expected = changes_to_state(
        tfm.split_updates(tfm.route(flt.apply_filters(routed_batch, cfg), cfg)),
        table_col="target_table",
    ).select("target_table", "key", "id", "balance", "note")
    assert applied.count() == expected.count() and expected.count() > 0
    assert applied.exceptAll(expected).count() == 0
    assert expected.exceptAll(applied).count() == 0


def test_multi_source_changefeed_matches_single(spark, sf_dir, work_dir):
    """Two upstream source dirs (DM multi-source / multi_source scenario)
    union into one changefeed; final state equals the single-source run
    over the same events."""
    from tiflow_spark.sinks.bucketed import read_state
    from tiflow_spark.streaming.pipeline import (
        StreamingTarget,
        read_change_streams,
        transform_stream,
    )

    env = events_to_changes(load_table(spark, sf_dir, "events"))
    src_a, src_b = f"{work_dir}/up_a", f"{work_dir}/up_b"
    env.filter(F.col("seq") % 2 == 0).coalesce(1).write.parquet(src_a)
    env.filter(F.col("seq") % 2 == 1).coalesce(1).write.parquet(src_b)

    stream = read_change_streams(spark, [src_a, src_b], max_files=1)
    target = StreamingTarget(
        target_path=f"{work_dir}/target", progress_path=f"{work_dir}/progress"
    )
    q = (
        transform_stream(stream, DEMO_CFG)
        .writeStream.foreachBatch(target.merge_batch)
        .option("checkpointLocation", f"{work_dir}/checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    applied = read_state(spark, target.target_path).select(
        "target_table", "key", "id", "balance", "note"
    )
    expected = changes_to_state(
        tfm.split_updates(tfm.route(flt.apply_filters(env, DEMO_CFG), DEMO_CFG)),
        table_col="target_table",
    ).select("target_table", "key", "id", "balance", "note")
    assert applied.count() == expected.count() and expected.count() > 0
    assert applied.exceptAll(expected).count() == 0
    assert expected.exceptAll(applied).count() == 0


def test_live_changefeed_pause_resume(spark, sf_dir, work_dir):
    """changefeed_pause_resume scenario with a LIVE trigger: a standing
    (processing-time) changefeed tails files as they appear, is stopped
    gracefully mid-stream (pause), and a later availableNow run on the
    same checkpoint drains the rest (resume) — final state equals the
    batch pipeline."""
    import time

    from tiflow_spark.sinks.bucketed import read_state
    from tiflow_spark.streaming.pipeline import run_changefeed

    env = events_to_changes(load_table(spark, sf_dir, "events"))
    src = f"{work_dir}/source"
    first = env.filter(F.col("seq") % 2 == 0)
    first.coalesce(1).write.parquet(src)

    q, target = run_changefeed(
        spark, src, DEMO_CFG, work_dir, processing_time="200 milliseconds"
    )
    try:
        # wait until the live query has applied the first half
        deadline = time.time() + 60
        while time.time() < deadline:
            if q.lastProgress and q.lastProgress["numInputRows"] == 0 and (
                spark.read.parquet(f"{work_dir}/progress").count() >= 1
                if __import__("os").path.isdir(f"{work_dir}/progress")
                else False
            ):
                break
            time.sleep(0.5)
        # feed more files WHILE the changefeed is live
        env.filter(F.col("seq") % 2 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        deadline = time.time() + 60
        while time.time() < deadline:
            p = q.lastProgress
            if p and p["numInputRows"] == 0 and p["batchId"] >= 2:
                break
            time.sleep(0.5)
    finally:
        q.stop()  # pause

    # resume: drain anything left on the same checkpoint
    run_changefeed(spark, src, DEMO_CFG, work_dir)

    applied = read_state(spark, target.target_path).select(
        "target_table", "key", "id", "balance", "note"
    )
    expected = changes_to_state(
        tfm.split_updates(tfm.route(flt.apply_filters(env, DEMO_CFG), DEMO_CFG)),
        table_col="target_table",
    ).select("target_table", "key", "id", "balance", "note")
    assert applied.count() == expected.count() and expected.count() > 0
    assert applied.exceptAll(expected).count() == 0
    assert expected.exceptAll(applied).count() == 0


def test_live_mq_produce_pause_resume_consumer_roundtrip(
    spark, sf_dir, work_dir
):
    """The composed MQ e2e the reference guarantees (cmd/kafka-consumer +
    tests/mq_protocol_tests): a STANDING (processing-time) changefeed
    produces canal-json to the broker while source files keep arriving,
    is paused mid-produce (q.stop()), resumed on the same checkpoint to
    drain, and a consumer replays the broker into applied state — which
    must equal the direct batch apply of the full change stream."""
    import time

    from tiflow_spark.codecs.canal_json import encode_canal_json
    from tiflow_spark.operators.dispatchers import dispatch
    from tiflow_spark.sinks.mq import produce_file_broker_stream
    from tiflow_spark.streaming.consumer import replay_broker_to_state
    from tiflow_spark.streaming.pipeline import read_change_stream

    env = events_to_changes(load_table(spark, sf_dir, "events"))
    src = f"{work_dir}/source"
    env.filter(F.col("seq") % 2 == 0).coalesce(1).write.parquet(src)

    def to_msgs(stream):
        e = tfm.split_updates(
            tfm.route(flt.apply_filters(stream, DEMO_CFG), DEMO_CFG)
        )
        d = dispatch(e, DEMO_CFG, num_partitions=8)
        # join-free streaming composition: dispatch cols ride through the
        # encoder via extra_cols (stream-stream self-joins are illegal)
        return encode_canal_json(
            d, extra_cols=("topic", "partition", "key")
        ).select("topic", "partition", "key", "value", "commit_ts", "seq")

    broker, ckpt = f"{work_dir}/broker", f"{work_dir}/ckpt"
    stream = read_change_stream(spark, src, max_files=1)
    q = produce_file_broker_stream(
        to_msgs(stream), broker, ckpt, processing_time="200 milliseconds"
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            p = q.lastProgress
            if p and p["numInputRows"] == 0 and p["batchId"] >= 1:
                break
            time.sleep(0.5)
        # feed the second half WHILE the producer is live
        env.filter(F.col("seq") % 2 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        time.sleep(1.0)
    finally:
        q.stop()  # pause mid-produce

    # resume on the SAME checkpoint: drain whatever the pause cut off
    q2 = produce_file_broker_stream(
        to_msgs(read_change_stream(spark, src, max_files=1)), broker, ckpt
    )
    q2.awaitTermination()

    replayed = replay_broker_to_state(
        spark, broker,
        {"id": "bigint", "balance": "double", "note": "string"},
    ).select("table", "key", "id", "balance", "note")
    transformed = tfm.split_updates(
        tfm.route(flt.apply_filters(env, DEMO_CFG), DEMO_CFG)
    )
    expected = changes_to_state(transformed, table_col="table").select(
        F.col("target_table").alias("table"), "key", "id", "balance", "note"
    )
    assert replayed.count() == expected.count() and expected.count() > 0
    assert replayed.exceptAll(expected).count() == 0
    assert expected.exceptAll(replayed).count() == 0


def test_replayed_batch_keeps_one_progress_record(spark, sf_dir, work_dir):
    """A replayed micro-batch overwrites its own progress record instead
    of appending a second one, so changefeed_status counts its events
    once (exactly-once progress)."""
    from tiflow_spark.streaming.pipeline import StreamingTarget
    from tiflow_spark.tools import changefeed_status

    env = events_to_changes(load_table(spark, sf_dir, "events"))
    batch = transform_stream(env, DEMO_CFG)
    n_events = batch.count()
    target = StreamingTarget(
        target_path=f"{work_dir}/target", progress_path=f"{work_dir}/progress"
    )
    target.merge_batch(batch, 0)
    target.merge_batch(batch, 0)  # the replay after a crash
    prog = spark.read.parquet(target.progress_path)
    assert prog.filter(F.col("batch_id") == 0).count() == 1
    status = changefeed_status(spark, work_dir)
    assert status["batches"] == 1
    assert status["events_applied"] == n_events


def test_drain_scans_each_event_once(spark, sf_dir, work_dir):
    """The progress record comes from an Observation on the merge's own
    scan, so a one-batch drain reports numInputRows equal to the events
    in its files — no second scan of the batch."""
    env = events_to_changes(load_table(spark, sf_dir, "events"))
    src = f"{work_dir}/source"
    env.repartition(4).write.parquet(src)
    q, _ = run_changefeed(spark, src, DEMO_CFG, work_dir)
    ran = [p for p in q.recentProgress if p.numInputRows]
    assert len(ran) == 1
    assert ran[0].numInputRows == env.count()


@pytest.mark.parametrize("mode", ["rewrite", "delta"])
def test_empty_batch_writes_progress_record(spark, sf_dir, work_dir, mode):
    """A batch whose events were all filtered out still gets its progress
    record (no resolved_ts, zero events), also when AQE prunes the
    observed scan of the empty batch from the merge's plan."""
    from tiflow_spark.streaming.pipeline import StreamingTarget

    env = transform_stream(
        events_to_changes(load_table(spark, sf_dir, "events")), DEMO_CFG
    )
    target = StreamingTarget(
        target_path=f"{work_dir}/target",
        progress_path=f"{work_dir}/progress",
        merge_mode=mode,
    )
    target.merge_batch(env, 0)
    target.merge_batch(env.filter(F.col("seq") < 0), 1)
    rows = {
        r.batch_id: (r.resolved_ts, r.events)
        for r in spark.read.parquet(target.progress_path).collect()
    }
    assert rows[0][1] == env.count()
    assert rows[1] == (None, 0)
