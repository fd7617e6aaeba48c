"""MQ consumer replay e2e (cmd/kafka-consumer + tests/mq_protocol_tests
analog): changefeed → canal-json topic → consumer replay → applied state
must equal the directly-applied change stream."""

import shutil
import tempfile

import pyspark.sql.functions as F
import pytest

from tiflow_spark.envelope import events_to_changes, load_table
from tiflow_spark.operators import filters as flt
from tiflow_spark.operators import transforms as tfm
from tiflow_spark.operators.apply import changes_to_state
from tiflow_spark.plans.parity import DEMO_CFG
from tiflow_spark.streaming.consumer import replay_broker_to_state
from tiflow_spark.tools import create_changefeed


@pytest.fixture()
def work_dir():
    d = tempfile.mkdtemp(prefix="tiflow_consumer_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_canal_json_replay_matches_direct_apply(spark, sf_dir, work_dir):
    env = events_to_changes(load_table(spark, sf_dir, "events"))
    src = f"{work_dir}/source"
    env.repartition(2).write.parquet(src)

    spec, broker = create_changefeed(
        spark, src, DEMO_CFG,
        "kafka://broker:9092/cdc-demo?protocol=canal-json&partition-num=8",
        work_dir,
    )
    assert spec.kind == "mq"

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

    assert replayed.count() == expected.count()
    assert replayed.exceptAll(expected).count() == 0
    assert expected.exceptAll(replayed).count() == 0


def test_replay_prunes_by_topic(spark, sf_dir, work_dir):
    env = events_to_changes(load_table(spark, sf_dir, "events"))
    src = f"{work_dir}/source"
    env.repartition(2).write.parquet(src)
    _, broker = create_changefeed(
        spark, src, DEMO_CFG,
        "kafka://broker:9092/cdc-demo?protocol=canal-json", work_dir,
    )
    none = replay_broker_to_state(
        spark, broker, {"id": "bigint"}, topic="other-topic"
    )
    assert none.count() == 0


def test_storage_consumer_replay_to_state(spark, sf_dir, work_dir):
    """cmd/storage-consumer analog: CSV storage-sink layout read back,
    folded to last-writer state, equals direct apply. CSV carries no seq
    (reference parity), so the fold orders by commit_ts — valid because
    the fixture has no per-(key, commit_ts) ties (guard-asserted)."""
    from pyspark.sql import Window
    from pyspark.sql import types as T

    from tiflow_spark.sinks.storage import (
        StorageSinkConfig,
        read_storage_sink,
        write_storage_sink,
    )

    env = events_to_changes(load_table(spark, sf_dir, "events"))
    transformed = tfm.split_updates(
        tfm.route(flt.apply_filters(env, DEMO_CFG), DEMO_CFG)
    )
    # guard: the commit_ts fold below is only total without ties
    assert (
        transformed.groupBy("table", "key", "commit_ts")
        .count().filter("count > 1").count() == 0
    )

    out = f"{work_dir}/storage"
    write_storage_sink(transformed, out, StorageSinkConfig())

    payload = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("balance", T.DoubleType()),
            T.StructField("note", T.StringType()),
        ]
    )
    decoded = read_storage_sink(spark, out, payload)
    w = Window.partitionBy("table", "id").orderBy(F.col("commit_ts").desc())
    replayed = (
        decoded.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .filter(F.col("op") != "D")
        .select("table", F.col("id").cast("string").alias("key"),
                "id", "balance", "note")
    )
    expected = changes_to_state(transformed, table_col="table").select(
        F.col("target_table").alias("table"), "key", "id", "balance", "note"
    )
    assert replayed.count() == expected.count()
    assert replayed.exceptAll(expected).count() == 0
    assert expected.exceptAll(replayed).count() == 0


def test_simple_replay_with_mid_stream_ddl(spark, work_dir):
    """Simple-protocol consumer tracks schema evolution FROM THE TOPIC
    ITSELF: DDL messages fold into a consumer-side registry, DML images
    decode as-of their commitTs (typed casts + declared-DEFAULT backfill
    for pre-ADD-COLUMN rows; explicit NULL values stay NULL), keys come
    from the registry handle key — no out-of-band schema channel."""
    from tiflow_spark.codecs.simple import encode_simple_ddl
    from tiflow_spark.sinks.mq import produce_file_broker
    from tiflow_spark.sources.ddl_stream import registry_from_ddl
    from tiflow_spark.streaming.consumer import replay_simple_broker_with_ddl

    ddl = spark.createDataFrame(
        [
            ("DDL", "s0", "acct", 1000, 1, "create table",
             "CREATE TABLE acct (id BIGINT PRIMARY KEY, bal DOUBLE)"),
            ("DDL", "s0", "acct", 3000, 2, "add column",
             "ALTER TABLE acct ADD COLUMN tier VARCHAR DEFAULT 'std'"),
        ],
        "op string, schema string, table string, commit_ts long, seq long, "
        "ddl_type string, query string",
    )
    ddl_values = [
        r["value"]
        for r in encode_simple_ddl(ddl, registry_from_ddl(ddl))
        .orderBy("seq").collect()
    ]

    def dml(ts, typ, data, old=None):
        import json as _json

        return _json.dumps(
            {
                "version": 1, "database": "s0", "table": "acct",
                "tableID": 0, "type": typ, "commitTs": ts, "buildTs": 0,
                "schemaVersion": 1, "data": data, "old": old,
            }
        )

    values = [
        (1000, ddl_values[0]),
        (2000, dml(2000, "INSERT", {"id": "1", "bal": "10.5"})),
        (2000, dml(2000, "INSERT", {"id": "2", "bal": "20.0"})),
        (2500, dml(2500, "INSERT", {"id": "4", "bal": "40.0"})),
        (3000, ddl_values[1]),
        (4000, dml(4000, "UPDATE",
                   {"id": "1", "bal": "15.0", "tier": "gold"},
                   {"id": "1", "bal": "10.5", "tier": "std"})),
        (4500, dml(4500, "DELETE", None,
                   {"id": "2", "bal": "20.0", "tier": "std"})),
        (5000, dml(5000, "INSERT",
                   {"id": "3", "bal": "30.0", "tier": None})),
    ]
    msgs = spark.createDataFrame(
        [("cdc", 0, "acct", v, ts, i) for i, (ts, v) in enumerate(values)],
        "topic string, partition int, key string, value string, "
        "commit_ts long, seq long",
    )
    broker = f"{work_dir}/broker"
    produce_file_broker(msgs, broker, batch_id=0)

    state = replay_simple_broker_with_ddl(spark, broker)
    rows = {r["key"]: r for r in state.collect()}
    assert set(rows) == {"1", "3", "4"}
    assert rows["1"]["bal"] == 15.0 and rows["1"]["tier"] == "gold"
    # pre-ADD-COLUMN row: tier ABSENT from image → declared default
    assert rows["4"]["bal"] == 40.0 and rows["4"]["tier"] == "std"
    # explicit NULL stays NULL (no default stomp)
    assert rows["3"]["bal"] == 30.0 and rows["3"]["tier"] is None
    # typed decode: bal is a real double, id a bigint
    assert isinstance(rows["1"]["bal"], float)
    assert isinstance(rows["1"]["id"], int)


def test_simple_replay_defaults_keyed_per_table(spark, work_dir):
    """Declared-default backfill is keyed by (table, column), not bare
    column name: two tables share column `tier` with DIFFERENT defaults,
    and a column that never existed in a row's table stays NULL instead
    of inheriting the other table's default (round-6 advice regression)."""
    import json as _json

    from tiflow_spark.codecs.simple import encode_simple_ddl
    from tiflow_spark.sinks.mq import produce_file_broker
    from tiflow_spark.sources.ddl_stream import registry_from_ddl
    from tiflow_spark.streaming.consumer import replay_simple_broker_with_ddl

    ddl = spark.createDataFrame(
        [
            ("DDL", "s0", "acct", 1000, 1, "create table",
             "CREATE TABLE acct (id BIGINT PRIMARY KEY, bal DOUBLE)"),
            ("DDL", "s0", "card", 1000, 2, "create table",
             "CREATE TABLE card (id BIGINT PRIMARY KEY, limitv DOUBLE)"),
            ("DDL", "s0", "acct", 3000, 3, "add column",
             "ALTER TABLE acct ADD COLUMN tier VARCHAR DEFAULT 'std'"),
            ("DDL", "s0", "card", 3000, 4, "add column",
             "ALTER TABLE card ADD COLUMN tier VARCHAR DEFAULT 'platinum'"),
        ],
        "op string, schema string, table string, commit_ts long, seq long, "
        "ddl_type string, query string",
    )
    ddl_values = [
        r["value"]
        for r in encode_simple_ddl(ddl, registry_from_ddl(ddl))
        .orderBy("seq").collect()
    ]

    def dml(ts, table, data):
        return _json.dumps(
            {
                "version": 1, "database": "s0", "table": table,
                "tableID": 0, "type": "INSERT", "commitTs": ts,
                "buildTs": 0, "schemaVersion": 1, "data": data, "old": None,
            }
        )

    values = [
        (1000, ddl_values[0]),
        (1000, ddl_values[1]),
        # both rows written BEFORE their table's ADD COLUMN tier
        (2000, dml(2000, "acct", {"id": "1", "bal": "10.5"})),
        (2000, dml(2000, "card", {"id": "7", "limitv": "900.0"})),
        (3000, ddl_values[2]),
        (3000, ddl_values[3]),
    ]
    msgs = spark.createDataFrame(
        [("cdc", 0, "k", v, ts, i) for i, (ts, v) in enumerate(values)],
        "topic string, partition int, key string, value string, "
        "commit_ts long, seq long",
    )
    broker = f"{work_dir}/broker"
    produce_file_broker(msgs, broker, batch_id=0)

    state = replay_simple_broker_with_ddl(spark, broker)
    rows = {(r["table"], r["key"]): r for r in state.collect()}
    acct, card = rows[("acct", "1")], rows[("card", "7")]
    # each table backfills ITS OWN declared default for the shared name
    assert acct["tier"] == "std"
    assert card["tier"] == "platinum"
    # a column that never existed in the row's table stays NULL
    assert acct["limitv"] is None
    assert card["bal"] is None


def test_open_protocol_replay_matches_direct_apply(spark, sf_dir, work_dir):
    """Open-protocol topic round trip: the fold key comes from the h
    (handle) flags in the column objects — protocol-native keying — and
    the replayed state equals direct apply."""
    from tiflow_spark.codecs.open_protocol import encode_open_protocol
    from tiflow_spark.operators.dispatchers import dispatch
    from tiflow_spark.sinks.mq import produce_file_broker
    from tiflow_spark.streaming.consumer import replay_open_broker_to_state

    env = events_to_changes(load_table(spark, sf_dir, "events"))
    transformed = tfm.split_updates(
        tfm.route(flt.apply_filters(env, DEMO_CFG), DEMO_CFG)
    )
    d = dispatch(transformed, DEMO_CFG, num_partitions=8)
    # the protocol key (encoder output) IS the message key; only the
    # dispatch columns ride in from the dispatched frame
    msgs = encode_open_protocol(d).join(
        d.select("commit_ts", "seq", "topic", "partition"),
        ["commit_ts", "seq"],
    )
    produce_file_broker(msgs, f"{work_dir}/broker", batch_id=0)

    replayed = replay_open_broker_to_state(
        spark, f"{work_dir}/broker",
        {"id": "bigint", "balance": "double", "note": "string"},
    ).select("table", "key", "id", "balance", "note")
    expected = changes_to_state(transformed, table_col="table").select(
        F.col("target_table").alias("table"),
        F.col("id").cast("string").alias("key"),
        "id", "balance", "note",
    )
    assert replayed.count() == expected.count() and expected.count() > 0
    assert replayed.exceptAll(expected).count() == 0
    assert expected.exceptAll(replayed).count() == 0


def test_replay_idempotent_under_duplicate_delivery(spark, sf_dir, work_dir):
    """At-least-once delivery: a crash between segment write and
    checkpoint commit makes the producer re-append the same batch
    (produce_file_broker_stream's documented guarantee). The consumer
    fold must be idempotent — replaying a broker with a DUPLICATED batch
    yields the same applied state."""
    from tiflow_spark.streaming.consumer import replay_broker_to_state
    from tiflow_spark.tools import create_changefeed

    env = events_to_changes(load_table(spark, sf_dir, "events"))
    src = f"{work_dir}/source"
    env.repartition(2).write.parquet(src)
    _, broker = create_changefeed(
        spark, src, DEMO_CFG,
        "kafka://broker:9092/cdc-demo?protocol=canal-json&partition-num=8",
        work_dir,
    )
    # duplicate the whole produced batch under a later batch_id — the
    # exact artifact of a produce crash after write, before checkpoint
    import pyspark.sql.functions as F2

    msgs = spark.read.parquet(broker).drop("batch_id", "batch_offset")
    from tiflow_spark.sinks.mq import produce_file_broker

    produce_file_broker(msgs, broker, batch_id=99)

    types = {"id": "bigint", "balance": "double", "note": "string"}
    replayed = replay_broker_to_state(spark, broker, types).select(
        "table", "key", "id", "balance", "note"
    )
    transformed = tfm.split_updates(
        tfm.route(flt.apply_filters(env, DEMO_CFG), DEMO_CFG)
    )
    expected = changes_to_state(transformed, table_col="table").select(
        F.col("target_table").alias("table"), "key", "id", "balance", "note"
    )
    assert replayed.count() == expected.count() and expected.count() > 0
    assert replayed.exceptAll(expected).count() == 0
    assert expected.exceptAll(replayed).count() == 0


def _direct_apply_expected(split):
    """Last-writer fold computed directly on the UPDATE-SPLIT change
    stream — what any protocol's broker replay must reproduce. MQ sinks
    always receive the split stream (sink.go:1187 forces SplitUpdate),
    so the consumer's image-keyed fold matches the entity-keyed apply."""
    from pyspark.sql import Window

    img = F.when(F.col("op") == "D", F.col("before")).otherwise(
        F.col("after")
    )
    flat = split.select(
        "schema", "table", "key",
        "op", "commit_ts", "seq",
        img["id"].alias("id"),
        img["balance"].alias("balance"),
        img["note"].alias("note"),
    )
    w = Window.partitionBy("schema", "table", "key").orderBy(
        F.col("commit_ts").desc(), F.col("seq").desc()
    )
    return (
        flat.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("op") != "D"))
        .select("schema", "table", "key", "id", "balance", "note")
    )


def test_debezium_replay_matches_direct_apply(spark, sf_dir, work_dir):
    """Debezium-configured consumer e2e (writer.go:51-63 debezium branch):
    encode stream -> broker files -> replay -> applied state equals
    direct apply. Table identity and commitTs come from the payload's
    source block — no side channel."""
    from tiflow_spark.codecs.debezium import encode_debezium
    from tiflow_spark.operators.dispatchers import dispatch
    from tiflow_spark.sinks.mq import produce_file_broker
    from tiflow_spark.streaming.consumer import (
        replay_debezium_broker_to_state,
    )

    env = tfm.split_updates(
        events_to_changes(load_table(spark, sf_dir, "events"))
    )
    d = dispatch(env, DEMO_CFG, num_partitions=8)
    msgs = encode_debezium(env).join(
        # encode now carries the debezium key envelope (EncodeKey);
        # dispatch contributes only topic/partition placement
        d.select("commit_ts", "seq", "topic", "partition"),
        ["commit_ts", "seq"],
    )
    produce_file_broker(msgs, f"{work_dir}/broker", batch_id=0)

    replayed = replay_debezium_broker_to_state(spark, f"{work_dir}/broker")
    expected = _direct_apply_expected(env)
    assert replayed.count() == expected.count() and expected.count() > 0
    assert replayed.exceptAll(expected).count() == 0
    assert expected.exceptAll(replayed).count() == 0


def test_avro_replay_matches_direct_apply(spark, sf_dir, work_dir):
    """Avro-configured (Confluent framing) consumer e2e (writer.go's avro
    branch): binary wire values through the broker, table identity from
    the table-topic, applied state equals direct apply."""
    from tiflow_spark.codecs.avro import encode_avro
    from tiflow_spark.operators.dispatchers import dispatch
    from tiflow_spark.sinks.mq import produce_file_broker
    from tiflow_spark.streaming.consumer import replay_avro_broker_to_state

    env = tfm.split_updates(
        events_to_changes(load_table(spark, sf_dir, "events"))
    )
    d = dispatch(env, DEMO_CFG, num_partitions=8)
    msgs = encode_avro(env).join(
        d.select("commit_ts", "seq", "topic", "partition"),
        ["commit_ts", "seq"],
    )
    produce_file_broker(msgs, f"{work_dir}/broker", batch_id=0)

    replayed = replay_avro_broker_to_state(spark, f"{work_dir}/broker")
    expected = _direct_apply_expected(env)
    assert replayed.count() == expected.count() and expected.count() > 0
    assert replayed.exceptAll(expected).count() == 0
    assert expected.exceptAll(replayed).count() == 0


def test_avro_replay_idempotent_under_duplicate_delivery(spark, sf_dir, work_dir):
    """At-least-once delivery for the avro path: a duplicated batch
    yields the same applied state (fold idempotency holds for the binary
    protocol too)."""
    from tiflow_spark.codecs.avro import encode_avro
    from tiflow_spark.operators.dispatchers import dispatch
    from tiflow_spark.sinks.mq import produce_file_broker
    from tiflow_spark.streaming.consumer import replay_avro_broker_to_state

    env = tfm.split_updates(
        events_to_changes(load_table(spark, sf_dir, "events"))
    )
    d = dispatch(env, DEMO_CFG, num_partitions=8)
    msgs = encode_avro(env).join(
        d.select("commit_ts", "seq", "topic", "partition"),
        ["commit_ts", "seq"],
    )
    produce_file_broker(msgs, f"{work_dir}/broker", batch_id=0)
    produce_file_broker(msgs, f"{work_dir}/broker", batch_id=99)

    replayed = replay_avro_broker_to_state(spark, f"{work_dir}/broker")
    expected = _direct_apply_expected(env)
    assert replayed.count() == expected.count() and expected.count() > 0
    assert replayed.exceptAll(expected).count() == 0
    assert expected.exceptAll(replayed).count() == 0


def test_replay_storage_csv_function_matches_direct_apply(
    spark, sf_dir, work_dir
):
    """The packaged storage-consumer replay (round 9's registry row)
    equals the directly-applied state — same contract as the inline fold
    above but through streaming.consumer.replay_storage_csv_to_state."""
    from tiflow_spark.sinks.storage import (
        StorageSinkConfig,
        write_storage_sink,
    )
    from tiflow_spark.streaming.consumer import replay_storage_csv_to_state

    env = events_to_changes(load_table(spark, sf_dir, "events"))
    transformed = tfm.split_updates(
        tfm.route(flt.apply_filters(env, DEMO_CFG), DEMO_CFG)
    )
    out = f"{work_dir}/storage_fn"
    write_storage_sink(transformed, out, StorageSinkConfig())
    replayed = replay_storage_csv_to_state(
        spark, out, {"id": "bigint", "balance": "double", "note": "string"}
    ).select("table", "key", "id", "balance", "note")
    expected = changes_to_state(transformed, table_col="table").select(
        F.col("target_table").alias("table"), "key", "id", "balance", "note"
    )
    assert replayed.count() == expected.count() > 0
    assert replayed.exceptAll(expected).count() == 0
    assert expected.exceptAll(replayed).count() == 0


def test_canal_key_sticky_contract_fires(spark, work_dir):
    """The key-sticky contract assert must be LIVE in the executed plan:
    a key observed in two broker partitions fails the replay. (Round-9
    regression: the r8 form hung the assert on a column that was later
    dropped, and Catalyst pruned the guard away entirely.)"""
    from tiflow_spark.sinks.mq import produce_file_broker

    row = (
        '{{"id":1,"database":"s","table":"t","pkNames":["id"],'
        '"isDdl":false,"type":"{t}","es":{es},"ts":{es},"sql":"",'
        '"data":[{{"id":"1","balance":"{b}","note":"x"}}],"old":null}}'
    )
    msgs = spark.createDataFrame(
        [
            (100, 0, "tp", 0, row.format(t="INSERT", es=100, b="1.0")),
            (101, 1, "tp", 1, row.format(t="UPDATE", es=101, b="2.0")),
        ],
        "commit_ts long, seq long, topic string, partition int, "
        "value string",
    ).withColumn("key", F.lit("1"))
    produce_file_broker(msgs, f"{work_dir}/broker_tie", batch_id=0)
    with pytest.raises(Exception, match="contract violated"):
        replay_broker_to_state(
            spark, f"{work_dir}/broker_tie", {"id": "bigint"}
        ).collect()


def test_csv_replay_tied_commit_ts_contract_fires(spark, work_dir):
    """CSV carries no intra-ts sequence, so a tied (key, commit_ts) makes
    the fold non-total — the replay must fail loudly, not pick an
    arbitrary image."""
    from tiflow_spark.sinks.storage import (
        StorageSinkConfig,
        write_storage_sink,
    )
    from tiflow_spark.streaming.consumer import replay_storage_csv_to_state

    env = spark.createDataFrame(
        [
            ("I", "s", "t", 100, 1, 1, 1.0, "a"),
            ("U", "s", "t", 100, 2, 1, 2.0, "b"),
        ],
        "op string, schema string, table string, commit_ts long, "
        "seq long, id long, balance double, note string",
    ).select(
        "op", "schema", "table", "commit_ts", "seq",
        F.struct("id", "balance", "note").alias("after"),
        F.struct("id", "balance", "note").alias("before"),
    )
    out = f"{work_dir}/storage_tie"
    write_storage_sink(env, out, StorageSinkConfig())
    with pytest.raises(Exception, match="contract violated"):
        replay_storage_csv_to_state(
            spark, out, {"id": "bigint", "balance": "double",
                         "note": "string"}
        ).collect()


def _interleavings():
    """Random tie-free change streams: a few keys, each key a chain of
    ops with DISTINCT per-key commit_ts (the storage-consumer's
    assumption), arrival order arbitrary (files replay in ts order but
    nothing depends on generation order)."""
    from hypothesis import strategies as st

    op = st.sampled_from(["I", "U", "D"])
    chain = st.lists(op, min_size=1, max_size=5)
    return st.dictionaries(
        st.integers(1, 4), chain, min_size=1, max_size=4
    ).flatmap(
        lambda d: st.permutations(
            [
                (o, k, i)  # (op, key, per-key ts index)
                for k, ops in d.items()
                for i, o in enumerate(ops)
            ]
        )
    )


def test_csv_replay_random_interleavings_match_direct_apply(
    spark, work_dir
):
    """Hypothesis property (VERDICT r9 optional #8): ANY tie-free
    commit_ts assignment — random op chains per key, random arrival
    order, ts gaps — replays through write_storage_sink +
    replay_storage_csv_to_state to exactly the brute-force last-writer
    state (D at the top removes the key). The CSV fold's no-seq
    assumption gets the same fuzzing the span dedup got in round 9."""
    import shutil as _sh

    from hypothesis import HealthCheck, given, settings

    from tiflow_spark.sinks.storage import (
        StorageSinkConfig,
        write_storage_sink,
    )
    from tiflow_spark.streaming.consumer import replay_storage_csv_to_state

    counter = [0]

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(rows=_interleavings())
    def inner(rows):
        counter[0] += 1
        out = f"{work_dir}/storage_prop_{counter[0]}"
        # per-key ts index -> globally distinct-but-gappy commit_ts,
        # still strictly increasing within the key (tie-free contract)
        data = [
            ("D" if o == "D" else o, "s", "t", 1000 + i * 7 + k, n,
             k, float(i), f"v{i}")
            for n, (o, k, i) in enumerate(rows)
        ]
        env = spark.createDataFrame(
            data,
            "op string, schema string, table string, commit_ts long, "
            "seq long, id long, balance double, note string",
        ).select(
            "op", "schema", "table", "commit_ts", "seq",
            F.struct("id", "balance", "note").alias("after"),
            F.struct("id", "balance", "note").alias("before"),
        )
        write_storage_sink(env, out, StorageSinkConfig())
        got = {
            (r["key"], r["id"], r["balance"], r["note"])
            for r in replay_storage_csv_to_state(
                spark, out,
                {"id": "bigint", "balance": "double", "note": "string"},
            ).collect()
        }
        # brute-force oracle: per key take the max-commit_ts row
        last: dict[int, tuple] = {}
        for o, s, t, cts, n, k, b, note in data:
            if k not in last or cts > last[k][0]:
                last[k] = (cts, o, b, note)
        want = {
            (str(k), k, b, note)
            for k, (cts, o, b, note) in last.items()
            if o != "D"
        }
        _sh.rmtree(out, ignore_errors=True)
        assert got == want

    inner()


_ENV_DDL = (
    "op string, schema string, table string, commit_ts long, seq long, "
    "key string, before struct<id: bigint, balance: double, note: string>, "
    "after struct<id: bigint, balance: double, note: string>, "
    "topic string, partition int"
)


def _tied_batches():
    """Envelope batches of six keys over two key-sticky partitions. Every
    commit_ts falls in one millisecond, so canal-json's `es` ties for all
    events and only the segment position orders a key's events. Append
    order is commit order, as a producer appends."""
    batches, seq = [], 0
    for b in range(3):
        rows = []
        for k in range(1, 7):
            for j in range(2):
                seq += 1
                first = b == 0 and j == 0
                op = "I" if first else "U"
                if b == 2 and j == 1 and k % 2 == 0:
                    op = "D"
                img = (k, float(seq), f"n{seq}")
                prev = None if first else (k, float(seq - 1), f"n{seq - 1}")
                rows.append((
                    op, "s", "t", 1_000_000 + b * 300 + k * 20 + j, seq,
                    str(k), prev if op != "I" else None,
                    img if op != "D" else None, "s.t", k % 2,
                ))
        batches.append(rows)
    return batches


def _produce_tied_broker(spark, broker, compress_last=None):
    """Segments: batch 0, batch 1 appended twice (an at-least-once
    produce replay), batch 2 — at least two segments per partition."""
    from tiflow_spark.codecs.canal_json import encode_canal_json
    from tiflow_spark.sinks.mq import produce_file_broker

    batches = _tied_batches()
    for batch_id in (0, 1, 1, 2):
        env = spark.createDataFrame(batches[batch_id], _ENV_DDL)
        produce_file_broker(
            encode_canal_json(env, extra_cols=("topic", "partition", "key")),
            broker,
            batch_id=batch_id,
            transport_compression=compress_last if batch_id == 2 else None,
        )
    return [r for rows in batches for r in rows]


def _oracle_state(rows):
    """DuckDB last-writer state over the source events."""
    import duckdb
    import pandas as pd

    src = pd.DataFrame(
        [
            (op, key, cts, seq, *(img or (None, None, None)))
            for op, _s, _t, cts, seq, key, before, after, _tp, _p in rows
            for img in [after if op != "D" else before]
        ],
        columns=["op", "key", "commit_ts", "seq", "id", "balance", "note"],
    )
    con = duckdb.connect()
    con.register("src", src)
    return {
        tuple(r)
        for r in con.execute(
            "SELECT key, id, balance, note FROM src "
            "QUALIFY row_number() OVER (PARTITION BY key "
            "ORDER BY commit_ts DESC, seq DESC) = 1 AND op <> 'D'"
        ).fetchall()
    }


def test_position_fold_equals_offset_fold_and_oracle(spark, work_dir):
    """Folding on the segment position (batch_id, batch_offset) gives the
    same state as folding on consume_file_broker's dense offsets — which
    number exactly that order per (topic, partition) — with `es` tied
    within a millisecond, several segments per partition and one batch
    appended twice; both equal the DuckDB oracle."""
    from pyspark.sql import Window

    from tiflow_spark.codecs.canal_json import _CANAL_SCHEMA
    from tiflow_spark.sinks.mq import consume_file_broker

    broker = f"{work_dir}/broker_pos"
    rows = _produce_tied_broker(spark, broker)
    types = {"id": "bigint", "balance": "double", "note": "string"}
    cols = ("key", "id", "balance", "note")
    new = {
        tuple(r)
        for r in replay_broker_to_state(spark, broker, types)
        .select(*cols).collect()
    }

    # the offset-ordered fold, as it stood before the position fold
    m = consume_file_broker(spark, broker).select(
        "offset", F.from_json("value", _CANAL_SCHEMA).alias("m")
    )
    img = F.element_at(F.col("m.data"), 1)
    flat = m.select(
        F.element_at(img, "id").alias("key"),
        F.col("m.type").alias("etype"),
        F.col("m.es").alias("es"),
        "offset",
        *[F.element_at(img, c).cast(t).alias(c) for c, t in types.items()],
    )
    w = Window.partitionBy("key").orderBy(
        F.col("es").desc(), F.col("offset").desc()
    )
    old = {
        tuple(r)
        for r in flat.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("etype") != "DELETE"))
        .select(*cols).collect()
    }
    want = _oracle_state(rows)
    assert len(want) == 3
    assert new == old == want


def test_replay_reads_transport_compressed_segments(spark, work_dir):
    """Replays read the broker under the fixed segment schema; a segment
    the producer wrote with transport compression replays like the rest."""
    import glob

    broker = f"{work_dir}/broker_gz"
    rows = _produce_tied_broker(spark, broker, compress_last="gzip")
    assert glob.glob(f"{broker}/*/*/*.gz.parquet")
    got = {
        tuple(r)
        for r in replay_broker_to_state(
            spark, broker,
            {"id": "bigint", "balance": "double", "note": "string"},
        ).select("key", "id", "balance", "note").collect()
    }
    assert got == _oracle_state(rows)


def test_canal_key_sticky_contract_spans_topics(spark, work_dir):
    """Positions are comparable only within one (topic, partition): a key
    seen in partition 0 of two different topics must fail the replay,
    not fold positions from unrelated partitions."""
    from tiflow_spark.sinks.mq import produce_file_broker

    row = (
        '{{"id":1,"database":"s","table":"t","pkNames":["id"],'
        '"isDdl":false,"type":"{t}","es":{es},"ts":{es},"sql":"",'
        '"data":[{{"id":"1","balance":"{b}","note":"x"}}],"old":null}}'
    )
    msgs = spark.createDataFrame(
        [
            (100, 0, "ta", 0, row.format(t="INSERT", es=100, b="1.0")),
            (101, 1, "tb", 0, row.format(t="UPDATE", es=101, b="2.0")),
        ],
        "commit_ts long, seq long, topic string, partition int, "
        "value string",
    ).withColumn("key", F.lit("1"))
    produce_file_broker(msgs, f"{work_dir}/broker_topics", batch_id=0)
    with pytest.raises(Exception, match="contract violated"):
        replay_broker_to_state(
            spark, f"{work_dir}/broker_topics", {"id": "bigint"}
        ).collect()


def _routed_state(env):
    """Direct-apply state of the DEMO_CFG-routed change stream, in the
    (table, key, id, balance, note) shape the replays are compared in."""
    transformed = tfm.split_updates(
        tfm.route(flt.apply_filters(env, DEMO_CFG), DEMO_CFG)
    )
    return changes_to_state(transformed, table_col="table").select(
        F.col("target_table").alias("table"),
        F.col("id").cast("string").alias("key"),
        "id", "balance", "note",
    )


@pytest.mark.parametrize("protocol", ["canal-json", "debezium"])
def test_checkpoint_messages_never_replay_as_rows(
    spark, sf_dir, work_dir, protocol
):
    """A topic made with emit-checkpoint=true carries a watermark message
    on every (topic, partition). Watermarks are control messages: they
    decode to a NULL op and never win a key, so the replay equals
    direct apply (no NULL-key live row, no contract failure from the
    broadcast watermark rows)."""
    from tiflow_spark.streaming.consumer import (
        replay_debezium_broker_to_state,
    )

    env = events_to_changes(load_table(spark, sf_dir, "events"))
    src = f"{work_dir}/source"
    env.repartition(2).write.parquet(src)
    _, broker = create_changefeed(
        spark, src, DEMO_CFG,
        f"kafka://broker:9092/cdc-demo?protocol={protocol}"
        "&partition-num=4&emit-checkpoint=true",
        work_dir,
    )
    if protocol == "canal-json":
        replayed = replay_broker_to_state(
            spark, broker,
            {"id": "bigint", "balance": "double", "note": "string"},
        )
    else:
        replayed = replay_debezium_broker_to_state(spark, broker)
    replayed = replayed.select("table", "key", "id", "balance", "note")
    expected = _routed_state(env)
    assert replayed.count() == expected.count() > 0
    assert replayed.exceptAll(expected).count() == 0
    assert expected.exceptAll(replayed).count() == 0


def test_contract_message_names_the_contract_for_a_null_key(
    spark, work_dir
):
    """A key-less canal message (pkNames null) folds under a NULL key;
    seen on two partitions it must fail with the contract's message, not
    with a NULL one."""
    from tiflow_spark.sinks.mq import produce_file_broker

    row = (
        '{{"id":1,"database":"s","table":"t","pkNames":null,'
        '"isDdl":false,"type":"{t}","es":{es},"ts":{es},"sql":"",'
        '"data":[{{"id":"1","balance":"{b}","note":"x"}}],"old":null}}'
    )
    msgs = spark.createDataFrame(
        [
            (100, 0, "tp", 0, row.format(t="INSERT", es=100, b="1.0")),
            (101, 1, "tp", 1, row.format(t="UPDATE", es=101, b="2.0")),
        ],
        "commit_ts long, seq long, topic string, partition int, "
        "value string",
    ).withColumn("key", F.lit(None).cast("string"))
    produce_file_broker(msgs, f"{work_dir}/broker_nokey", batch_id=0)
    with pytest.raises(Exception, match="contract violated"):
        replay_broker_to_state(
            spark, f"{work_dir}/broker_nokey", {"id": "bigint"}
        ).collect()


@pytest.mark.parametrize(
    "protocol", ["debezium", "avro", "simple", "open-protocol"]
)
def test_key_sticky_contract_fires_for_every_protocol(
    spark, work_dir, protocol
):
    """The fold's position tiebreak is sound only inside one (topic,
    partition), for every protocol: one key's insert and update produced
    to two partitions fail the replay instead of picking a winner across
    partitions."""
    from tiflow_spark.codecs.avro import encode_avro
    from tiflow_spark.codecs.debezium import encode_debezium
    from tiflow_spark.codecs.open_protocol import encode_open_protocol
    from tiflow_spark.codecs.simple import encode_simple
    from tiflow_spark.sinks.mq import produce_file_broker
    from tiflow_spark.streaming import consumer

    encode, replay = {
        "debezium": (encode_debezium, consumer.replay_debezium_broker_to_state),
        "avro": (encode_avro, consumer.replay_avro_broker_to_state),
        "simple": (encode_simple, consumer.replay_simple_broker_to_state),
        "open-protocol": (
            encode_open_protocol,
            lambda s, b: consumer.replay_open_broker_to_state(
                s, b, {"id": "bigint", "balance": "double", "note": "string"}
            ),
        ),
    }[protocol]
    env = spark.createDataFrame(
        [
            ("I", "s", "t", 1000, 1, "1", None, (1, 1.0, "a")),
            ("U", "s", "t", 2000, 2, "1", (1, 1.0, "a"), (1, 2.0, "b")),
        ],
        "op string, schema string, table string, commit_ts long, "
        "seq long, key string, "
        "before struct<id: bigint, balance: double, note: string>, "
        "after struct<id: bigint, balance: double, note: string>",
    )
    enc = encode(env)
    if "key" not in enc.columns:
        enc = enc.withColumn("key", F.lit(None).cast("string"))
    placed = env.select(
        "commit_ts", "seq", F.lit("s.t").alias("topic"),
        (F.col("seq") - 1).cast("int").alias("partition"),
    )
    broker = f"{work_dir}/broker_split"
    produce_file_broker(enc.join(placed, ["commit_ts", "seq"]), broker)
    with pytest.raises(Exception, match="contract violated"):
        replay(spark, broker).collect()


def test_csv_replay_casts_any_type_string(spark, work_dir):
    """The CSV replay casts payload columns to any Spark type string, as
    the broker replays do: an `int` column round-trips through the
    storage sink."""
    from tiflow_spark.sinks.storage import (
        StorageSinkConfig,
        write_storage_sink,
    )
    from tiflow_spark.streaming.consumer import replay_storage_csv_to_state

    env = spark.createDataFrame(
        [
            ("I", "s", "t", 100, 1, 1, 1.0, "a"),
            ("I", "s", "t", 110, 2, 2, 2.0, "b"),
            ("U", "s", "t", 120, 3, 1, 3.0, "c"),
        ],
        "op string, schema string, table string, commit_ts long, "
        "seq long, id int, balance double, note string",
    ).select(
        "op", "schema", "table", "commit_ts", "seq",
        F.struct("id", "balance", "note").alias("after"),
        F.struct("id", "balance", "note").alias("before"),
    )
    out = f"{work_dir}/storage_int"
    write_storage_sink(env, out, StorageSinkConfig())
    got = replay_storage_csv_to_state(
        spark, out, {"id": "int", "balance": "double", "note": "string"}
    )
    assert dict(got.dtypes)["id"] == "int"
    assert {tuple(r) for r in got.select("key", "id", "balance", "note")
            .collect()} == {("1", 1, 3.0, "c"), ("2", 2, 2.0, "b")}


_ACCT_TYPES = {"balance": "double", "id": "bigint", "note": "string"}


def _produce_canal_tables(spark, broker, topics):
    """Two tables with different payloads, each canal-json encoded into
    its own topic: ``acct`` (id, balance, note) and ``inv`` (sku, qty)."""
    from tiflow_spark.codecs.canal_json import encode_canal_json
    from tiflow_spark.sinks.mq import produce_file_broker

    acct = spark.createDataFrame(
        [
            ("I", "s", "acct", 100, 1, None, (1, 1.0, "a")),
            ("U", "s", "acct", 200, 2, (1, 1.0, "a"), (1, 2.5, "b")),
        ],
        "op string, schema string, table string, commit_ts long, "
        "seq long, before struct<id: bigint, balance: double, note: string>, "
        "after struct<id: bigint, balance: double, note: string>",
    )
    inv = spark.createDataFrame(
        [("I", "s", "inv", 300, 3, None, ("k1", 7))],
        "op string, schema string, table string, commit_ts long, "
        "seq long, before struct<sku: string, qty: int>, "
        "after struct<sku: string, qty: int>",
    )
    for (env, pk), topic in zip(((acct, ("id",)), (inv, ("sku",))), topics):
        placed = env.withColumns(
            {
                "topic": F.lit(topic),
                "partition": F.lit(0),
                "key": F.lit(None).cast("string"),
            }
        )
        produce_file_broker(
            encode_canal_json(
                placed, pk_names=pk, extra_cols=("topic", "partition", "key")
            ),
            broker,
        )


def _replayed_types(df):
    return {
        f.name: f.dataType.simpleString()
        for f in df.schema.fields
        if f.name not in ("schema", "table", "key")
    }


def test_schema_from_wire_replay_builds_without_a_spark_job(spark, work_dir):
    """The mysqlType peek reads the segment files on the driver, so
    building the schema-from-wire replay launches no Spark job."""
    from conftest import count_jobs

    broker = f"{work_dir}/broker"
    _produce_canal_tables(spark, broker, ("ta", "tb"))
    with count_jobs(spark) as jobs:
        replayed = replay_broker_to_state(spark, broker, topic="ta")
    assert jobs.n == 0
    assert _replayed_types(replayed) == _ACCT_TYPES
    assert [tuple(r) for r in replayed.collect()] == [
        ("s", "acct", "1", 2.5, 1, "b")
    ]


def test_schema_from_wire_replay_picks_the_topics_types(spark, work_dir):
    """With two topics carrying different tables, ``topic=`` takes the
    types from that topic's messages."""
    broker = f"{work_dir}/broker"
    _produce_canal_tables(spark, broker, ("ta", "tb"))
    assert _replayed_types(
        replay_broker_to_state(spark, broker, topic="ta")
    ) == _ACCT_TYPES
    inv = replay_broker_to_state(spark, broker, topic="tb")
    assert _replayed_types(inv) == {"qty": "bigint", "sku": "string"}
    assert [tuple(r) for r in inv.collect()] == [("s", "inv", "k1", 7, "k1")]


def test_schema_from_wire_replay_reads_an_escaped_topic(spark, work_dir):
    """Spark escapes a topic name with '/', ':', '=' or '%' in its
    ``topic=`` directory; the peek matches the real name and reads the
    same types as for a plain topic."""
    import os

    broker = f"{work_dir}/broker"
    topic = "cdc/acct:v=1%"
    _produce_canal_tables(spark, broker, (topic, "tb"))
    assert f"topic={topic}" not in os.listdir(broker)
    replayed = replay_broker_to_state(spark, broker, topic=topic)
    assert _replayed_types(replayed) == _ACCT_TYPES
    assert replayed.count() == 1


def test_schema_from_wire_replay_needs_a_dml_message(spark, work_dir):
    """A topic that holds only DDL and watermark messages has no
    mysqlType map to type the replay with: it fails loudly, even when
    another topic of the broker carries DML."""
    from tiflow_spark.codecs.canal_json import (
        encode_canal_json_checkpoint,
        encode_canal_json_ddl,
    )
    from tiflow_spark.sinks.mq import produce_file_broker

    broker = f"{work_dir}/broker"
    _produce_canal_tables(spark, broker, ("ta", "tb"))
    ddl = spark.createDataFrame(
        [("s", "acct", 50, 0, "create table",
          "CREATE TABLE acct (id BIGINT PRIMARY KEY)")],
        "schema string, table string, commit_ts long, seq long, "
        "ddl_type string, query string",
    )
    frame = {"topic": F.lit("tc"), "partition": F.lit(0),
             "key": F.lit(None).cast("string")}
    produce_file_broker(encode_canal_json_ddl(ddl).withColumns(frame), broker)
    resolved = spark.createDataFrame([(400,)], "resolved_ts long")
    produce_file_broker(
        encode_canal_json_checkpoint(resolved).withColumns(
            {**frame, "commit_ts": F.col("resolved_ts"), "seq": F.lit(0)}
        ),
        broker,
        batch_id=1,
    )
    with pytest.raises(ValueError, match="no DML message with a mysqlType map"):
        replay_broker_to_state(spark, broker, topic="tc")
