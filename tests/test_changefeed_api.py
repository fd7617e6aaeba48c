"""End-to-end tests for the changefeed-create facade (tools.create_changefeed):
one sink URI string drives the whole pipeline to each sink family, like the
reference's `cdc cli changefeed create --sink-uri=...`."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from tiflow_spark.config import parse_sink_uri, sink_uri_columns
from tiflow_spark.envelope import events_to_changes, load_table
from tiflow_spark.plans.parity import DEMO_CFG
from tiflow_spark.tools import _MQ_ENCODERS, create_changefeed


@pytest.fixture()
def source_dir(spark, sf_dir, tmp_path):
    env = events_to_changes(load_table(spark, sf_dir, "events"))
    src = str(tmp_path / "source")
    env.repartition(2).write.parquet(src)
    return src


def test_python_and_columnar_uri_parse_agree(spark):
    uris = [
        "mysql://root:pw@10.0.0.1:3306/db?safe-mode=true",
        "kafka://b:9092/t?protocol=canal-json",
        "s3://bucket/p/q?protocol=csv",
        "blackhole://",
    ]
    cols = {
        r["uri"]: r
        for r in sink_uri_columns(
            spark.createDataFrame([(u,) for u in uris], "uri STRING")
        ).collect()
    }
    for u in uris:
        spec = parse_sink_uri(u)
        row = cols[u]
        assert row["scheme"] == spec.scheme
        assert row["kind"] == spec.kind
        assert row["host"] == spec.host
        assert row["port"] == spec.port
        assert row["target"] == spec.target
        assert row["protocol"] == spec.protocol


def test_unknown_scheme_rejected():
    with pytest.raises(ValueError, match="unsupported sink scheme"):
        parse_sink_uri("bogus://x")
    with pytest.raises(ValueError, match="no scheme"):
        parse_sink_uri("not-a-uri")


def test_changefeed_to_mysql_kind(spark, source_dir, tmp_path):
    spec, (q, target) = create_changefeed(
        spark, source_dir, DEMO_CFG,
        "mysql://root@db-host:4000/prod?merge-mode=delta",
        str(tmp_path / "wd"),
    )
    assert spec.kind == "mysql"
    from tiflow_spark.sinks.bucketed import read_state

    assert read_state(spark, target.target_path).count() > 0


def test_changefeed_to_mq_kind(spark, source_dir, tmp_path):
    spec, broker = create_changefeed(
        spark, source_dir, DEMO_CFG,
        "kafka://broker:9092/cdc?protocol=maxwell&partition-num=4",
        str(tmp_path / "wd"),
    )
    assert spec.kind == "mq"
    from tiflow_spark.sinks.mq import consume_file_broker

    out = consume_file_broker(spark, broker)
    assert out.count() > 0
    # maxwell bodies, partitioned within the requested partition count
    assert out.filter(~F.col("value").contains('"type"')).count() == 0
    assert out.agg(F.max("partition")).collect()[0][0] <= 3


def test_changefeed_to_mq_does_not_broadcast_the_payload(
    spark, source_dir, tmp_path
):
    """The dispatched frame is encoded in place, so the broker write joins
    nothing: no broadcast collects the messages to the driver heap, and
    the only exchange is the (topic, partition) offset window."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def last_id():
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    bus.waitUntilEmpty()
    before = last_id()
    create_changefeed(
        spark, source_dir, DEMO_CFG,
        "kafka://broker:9092/cdc?protocol=canal-json&partition-num=4",
        str(tmp_path / "wd"),
    )
    bus.waitUntilEmpty()
    execs = store.executionsList()
    plans = [
        execs.apply(i).physicalPlanDescription()
        for i in range(execs.size())
        if execs.apply(i).executionId() > before
    ]
    produce = [p for p in plans if "InsertIntoHadoopFsRelation" in p
               and "/wd/broker" in p]
    assert len(produce) == 1
    plan = produce[0]
    assert "Join" not in plan
    assert "BroadcastExchange" not in plan
    # an adaptive plan lists its nodes twice: the final (or current) plan
    # first, then the initial plan
    final = plan.split("== Initial Plan ==")[0]
    assert len(re.findall(r"(?<!\w)Exchange \(\d+\)", final)) == 1, plan


@pytest.mark.parametrize("protocol", sorted(_MQ_ENCODERS))
def test_mq_in_place_encode_matches_join_path(
    spark, source_dir, tmp_path, protocol
):
    """Encoding the dispatched frame in place writes the same broker rows
    as encoding the source separately and joining the messages back to
    their routing columns on (commit_ts, seq). The broker key is the
    protocol's own key where the encoder emits one, else the routed
    handle key."""
    from tiflow_spark.operators import filters as flt
    from tiflow_spark.operators import transforms as tfm
    from tiflow_spark.operators.dispatchers import dispatch
    from tiflow_spark.sinks.mq import produce_file_broker
    from tiflow_spark.streaming.pipeline import ENVELOPE_SCHEMA
    from tiflow_spark.tools import _mq_encode

    _, broker = create_changefeed(
        spark, source_dir, DEMO_CFG,
        f"kafka://broker:9092/cdc?protocol={protocol}&partition-num=4",
        str(tmp_path / "wd"),
    )
    env = spark.read.schema(ENVELOPE_SCHEMA).parquet(source_dir)
    env = tfm.split_updates(
        tfm.route(flt.apply_filters(env, DEMO_CFG), DEMO_CFG)
    )
    d = dispatch(env, DEMO_CFG, num_partitions=4)
    enc = _mq_encode(env, protocol)
    key_from_encoder = ["key"] if "key" in enc.columns else []
    key_from_routing = [] if key_from_encoder else ["key"]
    value = enc.select("commit_ts", "seq", "value", *key_from_encoder)
    joined = d.select(
        "topic", "partition", *key_from_routing, "commit_ts", "seq"
    ).join(value, ["commit_ts", "seq"])
    ref = str(tmp_path / "ref")
    produce_file_broker(joined, ref, batch_id=0)

    cols = ["topic", "partition", "key", "value", "commit_ts", "seq",
            "batch_offset"]
    got = spark.read.parquet(broker).select(*cols)
    want = spark.read.parquet(ref).select(*cols)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


_PAYLOAD_TYPES = {"id": "bigint", "balance": "double", "note": "string"}


def _replays():
    from tiflow_spark.streaming import consumer

    return {
        # schema from the wire: the types come from the mysqlType maps
        "canal-json": lambda s, b: consumer.replay_broker_to_state(s, b),
        "debezium": consumer.replay_debezium_broker_to_state,
        "open-protocol": lambda s, b: consumer.replay_open_broker_to_state(
            s, b, _PAYLOAD_TYPES
        ),
        "simple": consumer.replay_simple_broker_to_state,
    }


@pytest.mark.parametrize("protocol", sorted(set(_MQ_ENCODERS) & set(_replays())))
def test_mq_changefeed_round_trips_every_protocol(
    spark, sf_dir, source_dir, tmp_path, protocol
):
    """A topic made by create_changefeed replays, with its protocol's
    consumer, to the state of applying the routed changes directly. The
    consumer reads what the protocol puts on the wire, the message key
    included: open-protocol keeps table identity and message type in it."""
    from tiflow_spark.operators import filters as flt
    from tiflow_spark.operators import transforms as tfm
    from tiflow_spark.operators.apply import changes_to_state

    _, broker = create_changefeed(
        spark, source_dir, DEMO_CFG,
        f"kafka://broker:9092/cdc?protocol={protocol}&partition-num=4",
        str(tmp_path / "wd"),
    )
    replayed = _replays()[protocol](spark, broker).select(
        "table", "key", "id", "balance", "note"
    )
    env = events_to_changes(load_table(spark, sf_dir, "events"))
    transformed = tfm.split_updates(
        tfm.route(flt.apply_filters(env, DEMO_CFG), DEMO_CFG)
    )
    expected = changes_to_state(transformed, table_col="table").select(
        F.col("target_table").alias("table"),
        F.col("id").cast("string").alias("key"),
        "id", "balance", "note",
    )
    assert replayed.count() == expected.count() > 0
    assert replayed.exceptAll(expected).count() == 0
    assert expected.exceptAll(replayed).count() == 0


def test_changefeed_to_storage_kind(spark, source_dir, tmp_path):
    spec, files = create_changefeed(
        spark, source_dir, DEMO_CFG,
        "s3://bucket/cdc-out?protocol=csv",
        str(tmp_path / "wd"),
    )
    assert spec.kind == "storage"
    assert files, "no data files written"
    import os

    from pyspark.sql import types as T

    from tiflow_spark.sinks.storage import read_storage_sink

    payload = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("balance", T.DoubleType()),
            T.StructField("note", T.StringType()),
        ]
    )
    back = read_storage_sink(
        spark, os.path.join(str(tmp_path / "wd"), "storage"), payload
    )
    assert back.count() > 0


def test_changefeed_to_blackhole(spark, source_dir, tmp_path):
    spec, result = create_changefeed(
        spark, source_dir, DEMO_CFG, "blackhole://", str(tmp_path / "wd")
    )
    assert spec.kind == "blackhole" and result is None


def test_synced_status_verdict(spark, sf_dir, tmp_path):
    """api_v2 /synced analog: synced iff the applied frontier is within
    the threshold of the caller's clock (synced_status scenario)."""
    import pyspark.sql.functions as F

    from tiflow_spark.envelope import events_to_changes, load_table
    from tiflow_spark.plans.parity import DEMO_CFG
    from tiflow_spark.streaming.pipeline import run_changefeed
    from tiflow_spark.tools import changefeed_status

    work_dir = str(tmp_path / "cf")
    env = events_to_changes(load_table(spark, sf_dir, "events"))
    src = f"{work_dir}/source"
    env.coalesce(1).write.parquet(src)
    run_changefeed(spark, src, DEMO_CFG, work_dir)

    hwm = changefeed_status(spark, work_dir)["resolved_ts"]
    caught_up = changefeed_status(spark, work_dir, now_us=hwm + 1_000)
    assert caught_up["synced"] is True
    assert caught_up["checkpoint_lag_us"] <= 300_000_000
    lagging = changefeed_status(
        spark, work_dir, now_us=hwm + 400_000_000
    )
    assert lagging["synced"] is False


def test_mq_changefeed_with_ddl_and_checkpoint_full_topic(
    spark, sf_dir, tmp_path
):
    work_dir = str(tmp_path / "cf")
    """A simple-protocol MQ changefeed with a DDL side-channel and
    emit-checkpoint produces a COMPLETE topic — DML + DDL + watermark —
    and the schema-evolving consumer replays it to the exact applied
    state using only the topic (the mq_protocol_tests guarantee)."""
    import json as _json

    import pyspark.sql.functions as F

    from tiflow_spark.envelope import events_to_changes, load_table
    from tiflow_spark.operators import filters as flt
    from tiflow_spark.operators import transforms as tfm
    from tiflow_spark.operators.apply import changes_to_state
    from tiflow_spark.sinks.mq import consume_file_broker
    from tiflow_spark.streaming.consumer import replay_simple_broker_with_ddl
    from tiflow_spark.tools import create_changefeed

    env = events_to_changes(load_table(spark, sf_dir, "events"))
    src = f"{work_dir}/source"
    env.repartition(2).write.parquet(src)

    # DDL side-channel: one CREATE TABLE per routed source table (declares
    # the pk the consumer keys on), timestamped before the stream
    t0 = env.agg(F.min("commit_ts")).collect()[0][0]
    tables = [
        r["table"]
        for r in tfm.route(flt.apply_filters(env, DEMO_CFG), DEMO_CFG)
        .select("table").distinct().collect()
    ]
    ddl = spark.createDataFrame(
        [
            ("DDL", "shard_0", t, int(t0) - 10 + i, i, "create table",
             f"CREATE TABLE {t} (id BIGINT PRIMARY KEY, balance DOUBLE, "
             "note VARCHAR)")
            for i, t in enumerate(sorted(tables))
        ],
        "op string, schema string, table string, commit_ts long, seq long, "
        "ddl_type string, query string",
    )

    spec, broker = create_changefeed(
        spark, src, DEMO_CFG,
        "kafka://broker:9092/cdc-demo?protocol=simple&partition-num=8"
        "&emit-checkpoint=true",
        work_dir,
        ddl_events=ddl,
    )
    assert spec.kind == "mq"

    # the topic carries all three message kinds
    kinds = {
        _json.loads(r["value"]).get("type")
        for r in consume_file_broker(spark, broker).collect()
    }
    assert "WATERMARK" in kinds and "CREATE" in kinds
    assert kinds & {"INSERT", "UPDATE", "DELETE"}

    replayed = replay_simple_broker_with_ddl(spark, broker).select(
        "table", "key", "id", "balance", "note"
    )
    transformed = tfm.split_updates(
        tfm.route(flt.apply_filters(env, DEMO_CFG), DEMO_CFG)
    )
    expected = changes_to_state(transformed, table_col="table").select(
        F.col("target_table").alias("table"),
        F.col("id").cast("string").alias("key"),
        "id", "balance", "note",
    )
    assert replayed.count() == expected.count() and expected.count() > 0
    assert replayed.exceptAll(expected).count() == 0
    assert expected.exceptAll(replayed).count() == 0


def test_mq_ddl_messages_every_protocol(spark):
    """_mq_encode_ddl covers every DDL-capable protocol with the broker
    message shape (topic=schema.table, partition 0)."""
    from tiflow_spark.tools import _mq_encode_ddl

    ddl = spark.createDataFrame(
        [("DDL", "s", "t", 1_000_000, 1, "create table",
          "CREATE TABLE t (id BIGINT PRIMARY KEY)")],
        "op string, schema string, table string, commit_ts long, seq long, "
        "ddl_type string, query string",
    )
    for proto in (
        "canal-json", "maxwell", "open-protocol", "simple", "debezium"
    ):
        rows = _mq_encode_ddl(ddl, proto).collect()
        assert len(rows) == 1, proto
        assert rows[0]["topic"] == "s.t" and rows[0]["partition"] == 0
        assert rows[0]["value"]
    with pytest.raises(ValueError):
        _mq_encode_ddl(ddl, "csv")
