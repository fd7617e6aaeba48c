"""Storage-sink file-layout contract (pkg/sink/cloudstorage/path.go parity)."""

import glob
import json
import os
import re

from tiflow_spark.envelope import events_to_changes, load_table
from tiflow_spark.sinks.storage import (
    StorageSinkConfig,
    read_storage_sink,
    write_storage_sink,
)


def _write(spark, sf_dir, tmp_path, **kw):
    cfg = StorageSinkConfig(**kw)
    env = events_to_changes(load_table(spark, sf_dir, "events"))
    base = str(tmp_path / "sink")
    written = write_storage_sink(env, base, cfg)
    return env, base, cfg, written


def test_layout_contract(spark, sf_dir, tmp_path):
    env, base, cfg, written = _write(
        spark, sf_dir, tmp_path, max_records_per_file=50
    )
    assert written, "no data files written"
    # every data file follows {schema}/{table}/{version}/{date}/CDC{6d}.csv
    pat = re.compile(r"^[^/]+/[^/]+/1/\d{4}-\d{2}-\d{2}/CDC\d{6}\.csv$")
    assert all(pat.match(p) for p in written), written[:5]
    # indexes are dense from 000001 within each directory
    by_dir: dict[str, list[str]] = {}
    for p in written:
        by_dir.setdefault(os.path.dirname(p), []).append(os.path.basename(p))
    for d, files in by_dir.items():
        files.sort()
        assert files[0] == "CDC000001.csv"
        nums = [int(f[3:9]) for f in files]
        assert nums == list(range(1, len(files) + 1)), (d, files)
        # meta/CDC.index holds the last file name
        with open(os.path.join(base, d, "meta", "CDC.index")) as fh:
            assert fh.read().strip() == files[-1]
        # rotation: every file except the last has exactly max_records rows
        for f in files[:-1]:
            with open(os.path.join(base, d, f)) as fh:
                assert sum(1 for _ in fh) == cfg.max_records_per_file


def test_schema_files(spark, sf_dir, tmp_path):
    env, base, cfg, _ = _write(spark, sf_dir, tmp_path)
    pairs = {
        (r["schema"], r["table"])
        for r in env.select("schema", "table").distinct().collect()
    }
    for s, t in pairs:
        matches = glob.glob(f"{base}/{s}/{t}/meta/schema_1_*.json")
        assert len(matches) == 1, (s, t)
        defn = json.load(open(matches[0]))
        assert defn["Schema"] == s and defn["Table"] == t
        assert defn["TableColumnsTotal"] == 3
        names = [c["ColumnName"] for c in defn["TableColumns"]]
        assert names == ["id", "balance", "note"]
        assert re.match(r"schema_1_\d{10}\.json$", os.path.basename(matches[0]))


def test_files_ordered_by_commit_ts(spark, sf_dir, tmp_path):
    """Commit order within each file/directory — defragmenter parity."""
    import pyspark.sql.functions as F
    from pyspark.sql import types as T

    env, base, cfg, _ = _write(spark, sf_dir, tmp_path, max_records_per_file=50)
    payload = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("balance", T.DoubleType()),
            T.StructField("note", T.StringType()),
        ]
    )
    decoded = read_storage_sink(spark, base, payload, cfg)
    # within a directory, (file, line-order) must be commit_ts-monotone:
    # max ts of CDC00000k <= min ts of CDC00000(k+1)
    agg = (
        decoded.groupBy("dir_schema", "dir_table", "dir_date", "file")
        .agg(F.min("commit_ts").alias("lo"), F.max("commit_ts").alias("hi"))
        .collect()
    )
    by_dir: dict[tuple, list] = {}
    for r in agg:
        by_dir.setdefault(
            (r["dir_schema"], r["dir_table"], r["dir_date"]), []
        ).append(r)
    for rows in by_dir.values():
        rows.sort(key=lambda r: r["file"])
        for a, b in zip(rows, rows[1:]):
            assert a["hi"] <= b["lo"], (a, b)


def test_ddl_schema_versions_written_per_registry_version(spark, sf_dir, tmp_path):
    """Each DDL-driven registry version gets its own schema file with the
    cumulative column list + ADD COLUMN defaults (cloud-storage DDL sink,
    path.go generateSchemaFilePath)."""
    import json as _json

    from tiflow_spark.envelope import load_table
    from tiflow_spark.sinks.storage import write_ddl_schema_versions
    from tiflow_spark.sources.ddl_stream import ddl_stream, registry_from_ddl

    reg = registry_from_ddl(
        ddl_stream(load_table(spark, sf_dir, "events"))
    ).filter("table = 'events'")
    paths = write_ddl_schema_versions(reg, str(tmp_path / "sink"))
    assert len(paths) == 3  # v1 create + 2 ADD COLUMNs
    defs = sorted(
        (_json.load(open(p)) for p in paths),
        key=lambda d: d["TableVersion"],
    )
    assert [d["TableColumnsTotal"] for d in defs] == [2, 3, 4]
    v3 = defs[2]["TableColumns"]
    tier = next(c for c in v3 if c["ColumnName"] == "tier")
    assert tier["ColumnDefault"] == "std" and tier["ColumnType"] == "VARCHAR"
    assert defs[0]["TableVersion"] < defs[2]["TableVersion"]


def test_file_broker_multi_batch_offsets(spark, tmp_path):
    """Produce two batches; consume sees contiguous per-(topic, partition)
    offsets in (batch, dispatch-order) sequence, and a topic filter prunes
    to that topic only (mq_dml_sink.go ordering contract)."""
    from tiflow_spark.sinks.mq import (
        consume_file_broker,
        produce_file_broker,
    )

    def batch(rows):
        return spark.createDataFrame(
            rows,
            "topic string, partition int, key string, value string, "
            "commit_ts long, seq long",
        )

    broker = str(tmp_path / "broker")
    produce_file_broker(
        batch([("t1", 0, "k1", "v1", 100, 1), ("t1", 0, "k2", "v2", 90, 2),
               ("t2", 1, "k3", "v3", 50, 3)]),
        broker, batch_id=0,
    )
    produce_file_broker(
        batch([("t1", 0, "k4", "v4", 200, 4)]), broker, batch_id=1
    )
    out = consume_file_broker(spark, broker).collect()
    t10 = sorted(
        [(r.offset, r.key) for r in out if r.topic == "t1"],
    )
    # batch 0 ordered by (commit_ts, seq): k2(90) < k1(100); batch 1 after
    assert t10 == [(0, "k2"), (1, "k1"), (2, "k4")]
    only_t2 = consume_file_broker(spark, broker, topic="t2").collect()
    assert [(r.topic, r.offset, r.key) for r in only_t2] == [("t2", 0, "k3")]


def test_storage_sink_canal_json_layout(spark, sf_dir, tmp_path):
    """protocol=canal-json storage sink writes CDC{n}.json files (one
    message per line) in the same layout, with meta/CDC.index and
    schema_*.json — and the changefeed facade routes the URI protocol."""
    import glob
    import json as _json
    import os

    from tiflow_spark.envelope import events_to_changes, load_table
    from tiflow_spark.plans.parity import DEMO_CFG
    from tiflow_spark.tools import create_changefeed

    env = events_to_changes(load_table(spark, sf_dir, "events"))
    src = str(tmp_path / "src")
    env.coalesce(1).write.parquet(src)
    spec, files = create_changefeed(
        spark, src, DEMO_CFG,
        "file:///out?protocol=canal-json&pk-cols=id", str(tmp_path),
    )
    assert spec.kind == "storage"
    assert files and all(f.endswith(".json") for f in files)
    base = str(tmp_path / "storage")
    idx = glob.glob(f"{base}/*/*/1/*/meta/CDC.index")
    assert idx, "CDC.index written"
    with open(sorted(glob.glob(f"{base}/*/*/1/*/CDC*.json"))[0]) as fh:
        first = _json.loads(fh.readline())
    assert first["type"] in ("INSERT", "UPDATE", "DELETE")
    assert first["pkNames"] == ["id"]
    assert os.path.exists(
        sorted(glob.glob(f"{base}/*/*/meta/schema_1_*.json"))[0]
    )


def test_refuses_non_local_master_and_speculation(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Executors write straight into a staging tree only the driver reads,
    so the sink refuses, before writing anything, a non-local master and
    speculative task attempts."""
    import pytest
    from pyspark import SparkConf

    sc = spark.sparkContext
    base = tmp_path / "sink"
    with monkeypatch.context() as m:
        m.setattr(sc, "master", "spark://cluster:7077")
        with pytest.raises(RuntimeError, match="is not local"):
            _write(spark, sf_dir, tmp_path)
    assert not base.exists()
    speculative = SparkConf(loadDefaults=False).setAll(
        sc.getConf().getAll()
    ).set("spark.speculation", "true")
    with monkeypatch.context() as m:
        m.setattr(sc, "getConf", lambda: speculative)
        with pytest.raises(RuntimeError, match="speculation must be off"):
            _write(spark, sf_dir, tmp_path)
    assert not base.exists()
