"""``session.materialize_boundary``: the reliable-checkpoint hand-off."""

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
