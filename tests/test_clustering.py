"""Clustering + SemDeDup + sync_diff summary-report tests (round 6 late).

Correctness of the three new queries against their DuckDB oracles is
covered by the registry sweep in test_parity.py; these tests pin the
semantics and the scale contracts the oracles can't see.
"""

import pytest
from pyspark.sql import functions as F

from tiflow_spark.plans.parity import load_table


# ------------------------------------------------------------------ kmeans


def test_seed_vectors_assign_to_themselves(spark, sf_dir):
    """Each seed vector (vec_id < k) is distance-0 from its own centroid,
    so cluster_init(seed i) == i — a determinism smoke check."""
    from tiflow_spark.llm.clustering import assign_seeded

    emb = load_table(spark, sf_dir, "embeddings")
    seeds = (
        assign_seeded(emb, k=8)
        .filter(F.col("vec_id") < 8)
        .select("vec_id", "cluster")
        .collect()
    )
    assert {r["vec_id"]: r["cluster"] for r in seeds} == {
        i: i for i in range(8)
    }


def test_lloyd_refinement_moves_points_and_is_deterministic(spark, sf_dir):
    """The refinement step must actually reassign some points (means !=
    seeds on random data) and two runs must agree exactly (no RNG, exact
    int sums, first-min tiebreaks)."""
    from tiflow_spark.llm.clustering import kmeans_lloyd

    emb = load_table(spark, sf_dir, "embeddings")
    a = kmeans_lloyd(emb, k=8)
    moved = a.filter(
        F.col("cluster_init") != F.col("cluster_refined")
    ).count()
    assert moved > 0
    b = kmeans_lloyd(emb, k=8)
    assert (
        a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    )


def test_lloyd_keeps_all_vectors_once(spark, sf_dir):
    from tiflow_spark.llm.clustering import kmeans_lloyd

    emb = load_table(spark, sf_dir, "embeddings")
    out = kmeans_lloyd(emb, k=8)
    assert out.count() == emb.count()
    assert out.select("vec_id").distinct().count() == emb.count()


# ---------------------------------------------------------------- semdedup


def test_semdedup_star_link_bounds_candidates(spark, sf_dir):
    """With a tiny max_cluster every cluster star-links: each cluster of
    size s contributes exactly s-1 candidate pairs (all anchored at the
    min-id representative), so candidates are LINEAR in corpus size —
    the d^2 -> d hot-bucket guard."""
    from tiflow_spark.llm.clustering import assign_seeded, semdedup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    # threshold -1 keeps every candidate → we count candidates exactly
    pairs = semdedup_pairs(emb, threshold=-1.0, k=8, max_cluster=1)
    sizes = (
        assign_seeded(emb, k=8).groupBy("cluster").count().collect()
    )
    expected = sum(r["count"] - 1 for r in sizes)
    got = pairs.collect()
    assert len(got) == expected
    # every pair is anchored at its cluster's min vec_id
    reps = (
        assign_seeded(emb, k=8)
        .groupBy("cluster")
        .agg(F.min("vec_id").alias("rep"))
        .collect()
    )
    rep_of = {r["cluster"]: r["rep"] for r in reps}
    assert all(p["id_a"] == rep_of[p["cluster"]] for p in got)


def test_semdedup_uncapped_matches_blocked_all_pairs(spark, sf_dir):
    """With max_cluster above every cluster size, semdedup == plain
    within-cluster all-pairs cosine filter."""
    from tiflow_spark.llm.clustering import assign_seeded, semdedup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    capped = semdedup_pairs(emb, threshold=0.35, k=8, max_cluster=10**9)
    a = assign_seeded(emb, k=8).select("vec_id", "embedding", "cluster")
    from tiflow_spark.llm.similarity import cosine

    left = a.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("ea"),
        "cluster",
    )
    right = a.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("eb"),
        "cluster",
    )
    plain = (
        left.join(right, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            "cluster",
            F.round(cosine(F.col("ea"), F.col("eb")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= 0.35)
    )
    assert capped.exceptAll(plain).count() == 0
    assert plain.exceptAll(capped).count() == 0


def test_semdedup_plan_is_equi_join_no_cartesian(spark, sf_dir):
    """The pair join must be a hash equi-join on cluster id — never a
    cartesian/BNLJ — and the assignment stage is map-only (centroids are
    literals, not a joined table)."""
    import io
    from contextlib import redirect_stdout

    from tiflow_spark.llm.clustering import assign_seeded, semdedup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    buf = io.StringIO()
    with redirect_stdout(buf):
        semdedup_pairs(emb, k=8).explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan

    buf2 = io.StringIO()
    with redirect_stdout(buf2):
        assign_seeded(emb, k=8).explain("formatted")
    assert "Join" not in buf2.getvalue()


# ------------------------------------------------------------------ report


def test_summary_report_on_equal_tables(spark, sf_dir):
    """dst == src → data_equal, zero failed chunks, zero repair rows."""
    from tiflow_spark.plans.parity import CUSTOMER_COLS
    from tiflow_spark.validation.syncdiff import summary_report

    cust = load_table(spark, sf_dir, "customer")
    row = summary_report(
        cust, cust, "c_custkey", CUSTOMER_COLS, 64, "test", "customer"
    ).collect()[0]
    assert row["struct_equal"] and row["data_equal"]
    assert row["chunk_failed"] == 0
    assert row["up_count"] == row["down_count"] == cust.count()
    assert row["rows_add"] == row["rows_delete"] == 0


def test_summary_report_counter_semantics(spark, sf_dir):
    """rows_add = missing + different, rows_delete = extra + different
    (diff.go:740-768), consistent with the row-level diff."""
    from tiflow_spark.plans.parity import (
        CUSTOMER_COLS,
        _corrupt_customer,
    )
    from tiflow_spark.validation.syncdiff import row_diff, summary_report

    cust = load_table(spark, sf_dir, "customer")
    corrupt = _corrupt_customer(spark, sf_dir)
    row = summary_report(
        cust, corrupt, "c_custkey", CUSTOMER_COLS, 64, "test", "customer"
    ).collect()[0]
    kinds = {
        r["kind"]: r["cnt"]
        for r in row_diff(cust, corrupt, "c_custkey", CUSTOMER_COLS)
        .groupBy("kind")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert row["n_missing"] == kinds.get("missing", 0)
    assert row["n_extra"] == kinds.get("extra", 0)
    assert row["n_different"] == kinds.get("different", 0)
    assert row["rows_add"] == row["n_missing"] + row["n_different"]
    assert row["rows_delete"] == row["n_extra"] + row["n_different"]
    assert not row["data_equal"] and row["chunk_failed"] > 0


def test_summary_report_leaves_no_cache_entry(spark, sf_dir):
    """summary_report collects its one aggregate instead of persisting
    anything: Spark's cache manager holds no entry afterwards, and
    collecting the returned frame launches no job."""
    from conftest import count_jobs

    from tiflow_spark.plans.parity import CUSTOMER_COLS, _corrupt_customer
    from tiflow_spark.validation.syncdiff import summary_report

    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty()
    report = summary_report(
        load_table(spark, sf_dir, "customer"),
        _corrupt_customer(spark, sf_dir),
        "c_custkey", CUSTOMER_COLS, 64, "test", "customer",
    )
    with count_jobs(spark) as jobs:
        row = report.collect()[0]
    assert cache.isEmpty()
    assert jobs.n == 0
    assert row["chunk_failed"] > 0


def test_summary_report_runs_one_action(spark, sf_dir):
    """The report is one SQL execution whether or not a chunk fails: no
    checksum pre-pass, no second row-diff pass."""
    from conftest import executed_plans

    from tiflow_spark.plans.parity import CUSTOMER_COLS, _corrupt_customer
    from tiflow_spark.validation.syncdiff import summary_report

    cust = load_table(spark, sf_dir, "customer")
    for dst in (cust, _corrupt_customer(spark, sf_dir)):
        with executed_plans(spark) as plans:
            summary_report(cust, dst, "c_custkey", CUSTOMER_COLS, 64)
        assert len(plans) == 1, plans


_EDGE_ROWS = {
    "both_empty": ("test", "t", True, None, None, None, 0, None, 0, 0, 0, 0, 0),
    "dst_empty": ("test", "t", True, False, 1000, 0, 100, 100, 1000, 0, 0, 1000, 0),
    "src_empty": ("test", "t", True, False, 0, 1000, 100, 100, 0, 1000, 0, 0, 1000),
    "equal": ("test", "t", True, True, 1000, 1000, 100, 0, 0, 0, 0, 0, 0),
    "dst_dup_key": ("test", "t", True, False, 1000, 1001, 100, 1, 0, 0, 0, 0, 0),
}


@pytest.mark.parametrize("case", sorted(_EDGE_ROWS))
@pytest.mark.parametrize("from_checkpoint", [False, True])
def test_summary_report_edge_rows(spark, tmp_path, case, from_checkpoint):
    """Empty sides, equal tables and a key written twice downstream give
    the same exact row, NULLs over zero chunks included, from both report
    functions."""
    from tiflow_spark.validation import syncdiff

    full = spark.range(1000).select("id", (F.col("id") * 3).alias("v"))
    empty = full.limit(0)
    src, dst = {
        "both_empty": (empty, empty),
        "dst_empty": (full, empty),
        "src_empty": (empty, full),
        "equal": (full, full),
        "dst_dup_key": (full, full.unionByName(full.filter("id = 5"))),
    }[case]
    args = (src, dst, "id", ["id", "v"], 10)
    if from_checkpoint:
        report = syncdiff.summary_report_from_checkpoint(
            spark, *args, str(tmp_path / "ck")
        )
    else:
        report = syncdiff.summary_report(*args)
    assert tuple(report.collect()[0]) == _EDGE_ROWS[case]


def test_summary_report_struct_equal_ignores_nullability(spark, tmp_path):
    """A table checked against its own parquet copy is structurally equal,
    although the parquet read marks every column nullable; a column of
    another type is not."""
    from tiflow_spark.validation.syncdiff import summary_report

    src = spark.range(100).select(
        "id", F.when(F.col("id") > 0, F.col("id") * 2).otherwise(0).alias("v")
    )
    src.write.parquet(str(tmp_path / "t"))
    copy = spark.read.parquet(str(tmp_path / "t"))
    args = ("id", ["id", "v"], 10)
    row = summary_report(src, copy, *args).collect()[0]
    assert row["struct_equal"] and row["data_equal"]
    cast = copy.withColumn("v", F.col("v").cast("int"))
    assert not summary_report(src, cast, *args).collect()[0]["struct_equal"]


def test_summary_report_with_many_failed_chunks(spark):
    """The report's row diff scales with the number of failed chunks: 155
    of 305 chunks fail, and every kind is counted exactly."""
    from tiflow_spark.validation import syncdiff

    src = spark.range(3000).select("id", (F.col("id") * 7).alias("v"))
    dst = (
        src.filter(F.col("id") % 20 != 5)  # 150 missing, one per chunk
        .select(
            "id",
            (F.col("v") + F.when(F.col("id") % 20 == 0, 1).otherwise(0))
            .alias("v"),  # 150 different, in the same chunks
        )
        .unionByName(  # 50 extra, in 5 chunks past the source
            spark.range(3000, 3050).select("id", F.lit(0).cast("long").alias("v"))
        )
    )
    row = syncdiff.summary_report(src, dst, "id", ["id", "v"], 10).collect()[0]
    assert row["chunk_failed"] == 155
    assert (row["n_missing"], row["n_extra"], row["n_different"]) == (150, 50, 150)
    assert (row["up_count"], row["down_count"], row["chunk_total"]) == (
        3000, 2900, 305,
    )
