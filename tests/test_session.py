"""``session``: the session defaults and ``materialize_boundary``, the
reliable-checkpoint hand-off."""

import os

from tiflow_spark.session import materialize_boundary


def _checkpointed_rdds(spark):
    root = spark.sparkContext.getCheckpointDir().removeprefix("file:")
    return {
        os.path.join(d, n)
        for d, dirs, _ in os.walk(root)
        for n in dirs
        if n.startswith("rdd-")
        and any(f.startswith("part-") for f in os.listdir(os.path.join(d, n)))
    }


def test_reliable_boundary_checkpoints_under_checkpoint_dir(
    spark, tmp_path, monkeypatch
):
    """``reliable=True`` (or ``SPARK_GRAFT_RELIABLE_CHECKPOINT=1``) writes
    the frame to the checkpoint dir on its first action and reads back
    exactly the input rows."""
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "ckpt"))
    df = spark.range(1000).selectExpr("id", "id * 2 AS twice")
    out = materialize_boundary(df, reliable=True)
    assert sorted(out.collect()) == sorted(df.collect())
    first = _checkpointed_rdds(spark)
    assert first, "no checkpoint files under getCheckpointDir()"

    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
    out = materialize_boundary(df.filter("id % 2 = 0"))
    assert out.count() == 500
    assert _checkpointed_rdds(spark) > first


def test_session_turns_dataframe_origin_capture_off(spark, sf_dir, monkeypatch):
    """``get_spark`` turns PySpark's per-call origin capture off. With it
    on, building the transform plan over the demo envelope sends at least
    twice the py4j round trips."""
    import pyspark.errors.utils as eu
    from conftest import count_py4j

    from tiflow_spark.envelope import events_to_changes, load_table
    from tiflow_spark.plans.parity import DEMO_CFG
    from tiflow_spark.streaming.pipeline import transform_stream

    assert (
        spark.conf.get("spark.python.sql.dataFrameDebugging.enabled")
        == "false"
    )
    assert eu.is_debugging_enabled() is False
    env = events_to_changes(load_table(spark, sf_dir, "events"))
    with count_py4j(spark) as off:
        transform_stream(env, DEMO_CFG)
    monkeypatch.setattr(eu, "_enable_debugging_cache", True)
    with count_py4j(spark) as on:
        transform_stream(env, DEMO_CFG)
    assert 0 < off.n <= on.n / 2, (off.n, on.n)
