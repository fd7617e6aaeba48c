"""Live DDL in the streaming changefeed — ddl_sequence-style e2e:
time-ordered micro-batches, ADD COLUMN takes effect at the barrier, earlier
rows backfill NULL, applied-DDL state survives replayed old batches.
"""

import time

import pyspark.sql.functions as F
import pytest

from tiflow_spark.config import TaskConfig
from tiflow_spark.envelope import epoch_us, events_to_changes, load_table
from tiflow_spark.sources.ddl_stream import ddl_stream


@pytest.fixture()
def chunks(spark, sf_dir, tmp_path):
    """Envelope split into 3 time-ordered files (v1 / v2 / v3 windows)."""
    events = load_table(spark, sf_dir, "events")
    env = events_to_changes(events)
    b = events.agg(
        F.min(epoch_us("ts")).alias("t0"),
        F.max(epoch_us("ts")).alias("t1"),
    ).collect()[0]
    b1 = b.t0 + (b.t1 - b.t0) * 4 // 12  # ADD COLUMN note
    b2 = b.t0 + (b.t1 - b.t0) * 8 // 12  # ADD COLUMN tier
    src = str(tmp_path / "source")
    for lo, hi in ((None, b1), (b1, b2), (b2, None)):
        part = env
        if lo is not None:
            part = part.filter(F.col("commit_ts") >= lo)
        if hi is not None:
            part = part.filter(F.col("commit_ts") < hi)
        part.coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)  # file mod-time ordering = arrival ordering
    return src, events, b2


def test_streaming_ddl_schema_evolution_at_barrier(spark, tmp_path, chunks):
    from tiflow_spark.streaming.pipeline import (
        DDLStreamingTarget,
        run_changefeed_with_ddl,
    )

    src, events, b2 = chunks
    schemas = []

    class Recording(DDLStreamingTarget):
        def merge_batch(self, batch, batch_id):
            super().merge_batch(batch, batch_id)
            cols = batch.sparkSession.read.parquet(self.target_path).columns
            schemas.append(sorted(cols))

    import tiflow_spark.streaming.pipeline as pipe

    orig = pipe.DDLStreamingTarget
    pipe.DDLStreamingTarget = Recording
    # run_changefeed_with_ddl instantiates DDLStreamingTarget directly;
    # patch by calling the class ourselves
    from tiflow_spark.sources.ddl_stream import registry_from_ddl

    registry = registry_from_ddl(ddl_stream(events)).filter(
        F.col("table") == "events"
    )
    work = str(tmp_path / "work")
    import os

    target = Recording(
        target_path=os.path.join(work, "target"),
        progress_path=os.path.join(work, "progress"),
        registry=registry,
    )
    from tiflow_spark.streaming.pipeline import (
        read_change_stream,
        transform_stream,
    )

    stream = read_change_stream(spark, src, max_files=1)
    q = (
        transform_stream(stream, TaskConfig())
        .writeStream.foreachBatch(target.merge_batch)
        .option("checkpointLocation", os.path.join(work, "checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    pipe.DDLStreamingTarget = orig

    assert len(schemas) == 3
    # tier arrives ONLY once the barrier batch (v3 events) applies
    assert "tier" not in schemas[0] and "tier" not in schemas[1]
    assert "tier" in schemas[2]

    final = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(work, "target")
    )
    # keys whose last event predates the tier DDL: NULL tier; v3 keys: 'std'
    rows = final.filter(F.col("op") != "D").select(
        "key", "commit_ts", "tier"
    ).collect()
    for r in rows:
        if r.commit_ts >= b2:
            assert r.tier == "std"
        else:
            assert r.tier is None
    # applied-DDL state persisted: a replayed OLD batch keeps tier
    old_env = events_to_changes(events).filter(
        F.col("commit_ts") < b2
    ).limit(50)
    from tiflow_spark.operators import transforms as tfm

    target.merge_batch(tfm.split_updates(tfm.route(old_env, TaskConfig())), 99)
    again = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(work, "target")
    )
    assert "tier" in again.columns


def test_run_changefeed_with_ddl_api(spark, tmp_path, chunks):
    """Public API end-to-end: DML file source + DDL side-channel →
    evolved, correctly backfilled target."""
    import os

    from tiflow_spark.streaming.pipeline import run_changefeed_with_ddl

    src, events, b2 = chunks
    work = str(tmp_path / "work_api")
    _, target = run_changefeed_with_ddl(
        spark, src, TaskConfig(), work, ddl_stream(events)
    )
    final = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(work, "target")
    )
    assert "tier" in final.columns and "note" in final.columns
    live = final.filter(F.col("op") != "D")
    n_std = live.filter(F.col("tier") == "std").count()
    n_expected = live.filter(F.col("commit_ts") >= b2).count()
    assert n_std == n_expected > 0


def test_truncate_ddl_applies_at_barrier(spark, tmp_path, chunks):
    """A TRUNCATE TABLE DDL in the side-channel erases pre-truncate rows
    from the visible target state once its barrier batch applies —
    metadata-only (raw files keep the rows until purge)."""
    import os

    from tiflow_spark.sinks.bucketed import read_state
    from tiflow_spark.streaming.pipeline import run_changefeed_with_ddl

    src, events, b2 = chunks
    trunc = (
        events.agg(F.min(epoch_us("ts")).alias("t0"),
                   F.max(epoch_us("ts")).alias("t1"))
        .select(
            F.lit("DDL").alias("op"),
            F.lit("shard_0").alias("schema"),
            F.lit("events").alias("table"),
            (F.col("t0") + F.expr("(t1 - t0) * 8 div 12")).alias("commit_ts"),
            F.lit(99).cast("long").alias("seq"),
            F.lit("truncate table").alias("ddl_type"),
            F.lit("TRUNCATE TABLE events").alias("query"),
        )
    )
    ddl = ddl_stream(events).unionByName(trunc, allowMissingColumns=True)
    work = str(tmp_path / "work_trunc")
    # shard tables merge into the logical table the TRUNCATE names
    from tiflow_spark.config import RouteRule

    cfg = TaskConfig(routes=(RouteRule("*", "events_*", "target", "events"),))
    run_changefeed_with_ddl(spark, src, cfg, work, ddl)
    state = read_state(spark, os.path.join(work, "target"))
    n_new = state.filter(F.col("commit_ts") >= b2).count()
    assert state.filter(F.col("commit_ts") < b2).count() == 0
    assert n_new > 0
    # metadata-only: raw target still holds pre-truncate rows until purge
    raw = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(work, "target")
    )
    assert raw.filter(F.col("commit_ts") < b2).count() > 0


def test_ddl_blocks_only_related_table(spark, tmp_path, chunks):
    """ddl_only_block_related_table parity: because decode is as-of per
    event, a DDL on one table never gates another table's events — rows of
    the unrelated table past the DDL's commit_ts apply in the same batch,
    no barrier wait. (The reference needed an explicit optimization for
    this; here it falls out of the as-of design — this test pins it.)"""
    from tiflow_spark.sources.ddl_stream import registry_from_ddl
    from tiflow_spark.sources.schema_registry import asof_resolve

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ddl = spark.createDataFrame(
        [
            ("DDL", "shard_0", "evolving", 100, 1, "create table",
             "CREATE TABLE evolving (id BIGINT PRIMARY KEY)"),
            ("DDL", "shard_0", "evolving", 500, 2, "add column",
             "ALTER TABLE evolving ADD COLUMN extra VARCHAR DEFAULT 'x'"),
        ],
        "op STRING, schema STRING, table STRING, commit_ts LONG, "
        "seq LONG, ddl_type STRING, query STRING",
    )
    reg = registry_from_ddl(ddl)
    # events for an UNRELATED table spanning the DDL's commit window
    ev = spark.createDataFrame(
        [(1, "unrelated", 400), (2, "unrelated", 600), (3, "evolving", 600)],
        "seq LONG, logical_table STRING, commit_ts LONG",
    )
    resolved = asof_resolve(ev, reg)
    rows = {(r["logical_table"], r["commit_ts"]): r for r in resolved.collect()}
    # unrelated rows resolve (version_no null — no registry entry) and are
    # present on BOTH sides of the DDL ts: nothing held them back
    assert ("unrelated", 400) in rows and ("unrelated", 600) in rows
    assert rows[("unrelated", 600)]["version_no"] is None
    # the related table sees its own post-DDL version
    assert rows[("evolving", 600)]["version_no"] == 2


def test_partition_routing_composes_with_live_ddl(spark, sf_dir, tmp_path):
    """Kitchen-sink interaction e2e: a stream of PHYSICAL partition events
    routes to its logical table (with a DROP PARTITION mid-stream), the
    table filter keeps only that logical table, AND the logical table's
    schema evolves mid-stream (ADD COLUMN with default) — partition
    directory, binlog filter and DDL registry all drive the same standing
    changefeed."""
    import pyspark.sql.functions as F

    from tiflow_spark.config import RouteRule, TableRule, TaskConfig
    from tiflow_spark.envelope import events_to_changes, load_table
    from tiflow_spark.operators import filters as flt
    from tiflow_spark.operators import transforms as tfm
    from tiflow_spark.operators.compactor import last_state_per_key
    from tiflow_spark.operators.partition_table import (
        partition_directory_from_ddl,
        route_partitions_asof,
    )
    from tiflow_spark.sinks.bucketed import read_state
    from tiflow_spark.sources.ddl_stream import registry_from_ddl
    from tiflow_spark.streaming.pipeline import (
        ENVELOPE_SCHEMA,
        DDLStreamingTarget,
        read_change_stream,
        transform_stream,
    )

    env = events_to_changes(load_table(spark, sf_dir, "events"))
    mid = env.agg(
        ((F.min("commit_ts") + F.max("commit_ts")) / 2).cast("long").alias("m")
    ).collect()[0]["m"]
    env = env.withColumn(
        "physical_table_id",
        F.when(F.col("table") == "events_0",
               F.col("key").cast("bigint") % 2 + 100),
    )
    base = spark.createDataFrame(
        [(100, "tgt", "orders_p", "p0"), (101, "tgt", "orders_p", "p1")],
        "physical_table_id long, logical_schema string, "
        "logical_table string, partition_name string",
    )
    ddl_rows = [
        ("DDL", "tgt", "orders_p", int(mid), 1, "drop table partition",
         "ALTER TABLE orders_p DROP PARTITION p1"),
        ("DDL", "tgt", "orders_p", 0, 2, "create table",
         "CREATE TABLE orders_p (id BIGINT PRIMARY KEY, balance DOUBLE, "
         "note VARCHAR)"),
        ("DDL", "tgt", "orders_p", int(mid), 3, "add column",
         "ALTER TABLE orders_p ADD COLUMN note2 VARCHAR DEFAULT 'n2'"),
    ]
    ddl = spark.createDataFrame(
        ddl_rows,
        "op string, schema string, table string, commit_ts long, seq long, "
        "ddl_type string, query string",
    )
    pdir = partition_directory_from_ddl(base, ddl)
    registry = registry_from_ddl(ddl).filter(F.col("table") == "orders_p")
    cfg = TaskConfig(
        do_tables=(TableRule("tgt", "orders_p"),),
        routes=(RouteRule("tgt", "orders_p", "sink", "merged"),),
    )

    src = str(tmp_path / "source")
    for chunk in (2, 0, 1):
        env.filter(F.col("seq") % 3 == chunk).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    import pyspark.sql.types as T

    schema = T.StructType(
        ENVELOPE_SCHEMA.fields
        + [T.StructField("physical_table_id", T.LongType())]
    )
    stream = read_change_stream(spark, src, max_files=2, schema=schema)
    routed = route_partitions_asof(stream, pdir).drop(
        "partition_name", "physical_table_id"
    )
    transformed = transform_stream(routed, cfg)
    target = DDLStreamingTarget(
        target_path=str(tmp_path / "target"),
        progress_path=str(tmp_path / "progress"),
        registry=registry,
        logical_table="orders_p",
    )
    q = (
        transformed.writeStream.foreachBatch(target.merge_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    applied = read_state(spark, target.target_path)

    # batch oracle for row membership + base payload: same routing +
    # filter + route + split, last-writer-wins
    routed_b = route_partitions_asof(env, pdir).drop(
        "partition_name", "physical_table_id"
    )
    split = tfm.split_updates(
        tfm.route(flt.apply_filters(routed_b, cfg), cfg)
    )
    expected = (
        last_state_per_key(split, "target_table")
        .filter(F.col("op") != "D")
        .select(
            "target_table", "key",
            F.col("after.id").alias("id"),
            F.col("after.balance").alias("balance"),
            F.col("commit_ts").alias("_win_ts"),
        )
    )
    a = applied.select("target_table", "key", "id", "balance")
    e = expected.select("target_table", "key", "id", "balance")
    assert a.count() == e.count() and e.count() > 0
    assert a.exceptAll(e).count() == 0 and e.exceptAll(a).count() == 0

    # post-DDL winners carry the ADD COLUMN default; pre-DDL winners null
    j = applied.join(expected.select("key", "_win_ts"), "key")
    assert (
        j.filter((F.col("_win_ts") >= mid) & (F.col("note2") != "n2")).count()
        == 0
    )
    assert (
        j.filter((F.col("_win_ts") < mid) & F.col("note2").isNotNull()).count()
        == 0
    )
    assert j.filter(F.col("_win_ts") >= mid).count() > 0
    # every surviving p1 row's winner predates the DROP PARTITION
    p1_keys = j.filter(F.col("key").cast("bigint") % 2 == 1)
    assert p1_keys.filter(F.col("_win_ts") >= mid).count() == 0


def test_ddl_changefeed_writes_progress(spark, tmp_path, chunks):
    """A DDL changefeed applies through the one apply loop, so it writes
    one progress record per micro-batch, and a replayed batch overwrites
    its own record."""
    import os

    from tiflow_spark.streaming.pipeline import (
        ENVELOPE_SCHEMA,
        run_changefeed_with_ddl,
        transform_stream,
    )
    from tiflow_spark.tools import changefeed_status

    src, events, _ = chunks
    work = str(tmp_path / "work_progress")
    _, target = run_changefeed_with_ddl(
        spark, src, TaskConfig(), work, ddl_stream(events), max_files=1
    )
    assert sorted(
        f for f in os.listdir(target.progress_path) if f.startswith("batch-")
    ) == [f"batch-{i}.parquet" for i in range(3)]
    expected = transform_stream(
        spark.read.schema(ENVELOPE_SCHEMA).parquet(src), TaskConfig()
    ).agg(F.count(F.lit(1)).alias("n"), F.max("commit_ts").alias("ts"))
    expected = expected.collect()[0]
    status = changefeed_status(spark, work)
    assert status["batches"] == 3
    assert status["events_applied"] == expected.n
    assert status["resolved_ts"] == expected.ts

    # replay batch 1 (the second file by arrival) after a crash
    files = sorted(
        (os.path.join(src, f) for f in os.listdir(src) if f.endswith(".parquet")),
        key=os.path.getmtime,
    )
    assert len(files) == 3
    second = spark.read.schema(ENVELOPE_SCHEMA).parquet(files[1])
    target.merge_batch(transform_stream(second, TaskConfig()), 1)
    prog = spark.read.parquet(target.progress_path)
    assert prog.filter(F.col("batch_id") == 1).count() == 1
    again = changefeed_status(spark, work)
    assert again["batches"] == 3
    assert again["events_applied"] == expected.n


def test_ddl_target_compacts_deltas(spark, tmp_path, chunks):
    """``compact_every`` folds a delta-mode DDL target's deltas, and the
    folded state equals the rewrite-mode state of the same run, evolved
    columns included."""
    import os

    from tiflow_spark.sinks.bucketed import list_deltas, read_state
    from tiflow_spark.sources.ddl_stream import registry_from_ddl
    from tiflow_spark.streaming.pipeline import (
        DDLStreamingTarget,
        _start_changefeed,
    )

    src, events, _ = chunks
    registry = registry_from_ddl(ddl_stream(events)).filter(
        F.col("table") == "events"
    )
    states = {}
    for mode in ("delta", "rewrite"):
        work = str(tmp_path / f"work_{mode}")
        target = DDLStreamingTarget(
            target_path=os.path.join(work, "target"),
            progress_path=os.path.join(work, "progress"),
            registry=registry,
            merge_mode=mode,
            compact_every=2,
        )
        _start_changefeed(
            spark, src, TaskConfig(), work, target, max_files=1
        ).awaitTermination()
        states[mode] = read_state(spark, target.target_path)
        if mode == "delta":
            assert list_deltas(target.target_path) == []
    cols = sorted(states["rewrite"].columns)
    assert "tier" in cols and sorted(states["delta"].columns) == cols
    a = states["delta"].select(cols)
    b = states["rewrite"].select(cols)
    assert b.count() > 0
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
