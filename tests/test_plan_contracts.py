"""Physical-plan contracts — the properties that keep queries viable at 100 TB.

Correctness tests say *what* each operator computes; these assert *how*:
shuffle counts, parquet predicate pushdown, broadcast joins, codegen. A
regression here (an extra Exchange, a filter that stopped pushing) is a
scale bug long before it is a local slowdown.
"""

import io
import os
import re
from contextlib import redirect_stdout

import pytest

from tiflow_spark.plans.parity import REGISTRY


def plan_of(df, mode="formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def n_exchanges(plan: str) -> int:
    # count shuffle-exchange NODES in the formatted detail section (the tree
    # rendering repeats each node, so match the "(N) Exchange" headers only);
    # broadcast exchanges are a different (good) animal
    return len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.M))


@pytest.mark.parametrize(
    "name",
    ["cdc_envelope", "cdc_filter_stack", "codec_csv", "codec_canal_json",
     "codec_simple"],
)
def test_map_only_queries_have_no_shuffle(spark, sf_dir, name):
    """Envelope synthesis, the whole filter stack and every JSON/CSV codec
    must stay pure map stages — encode at 100 TB is scan-bounded, never
    shuffle-bounded."""
    fn, _ = REGISTRY[name]
    assert n_exchanges(plan_of(fn(spark, sf_dir))) == 0


def test_route_split_is_map_only(spark, sf_dir):
    """filter → route → update-split composes into one shuffle-free map
    stage (the registry's cdc_route_split adds a groupBy summary on top,
    which is where its single exchange belongs)."""
    from tiflow_spark.operators import filters as flt
    from tiflow_spark.operators import transforms as tfm
    from tiflow_spark.plans.parity import DEMO_CFG, _env

    split = tfm.split_updates(
        tfm.route(flt.apply_filters(_env(spark, sf_dir), DEMO_CFG), DEMO_CFG)
    )
    assert n_exchanges(plan_of(split)) == 0


@pytest.mark.parametrize("name", ["cdc_compact", "cdc_apply"])
def test_keyed_operators_shuffle_exactly_once(spark, sf_dir, name):
    """Compaction/apply each need exactly ONE hash exchange on (table, key)
    — the same co-location the reference's causality router provides; a
    second exchange would double the dominant cost at scale."""
    fn, _ = REGISTRY[name]
    assert n_exchanges(plan_of(fn(spark, sf_dir))) == 1


def test_causality_repartition_is_single_exchange(spark, sf_dir):
    from tiflow_spark.operators.causality import partition_by_causality
    from tiflow_spark.plans.parity import _env

    part = partition_by_causality(_env(spark, sf_dir), 16)
    assert n_exchanges(plan_of(part)) == 1


def test_filter_stack_runs_inside_codegen(spark, sf_dir):
    # formatted mode marks codegen'd operators with "[codegen id : N]"
    plan = plan_of(REGISTRY["cdc_filter_stack"][0](spark, sf_dir))
    assert "[codegen id :" in plan


def test_analytics_date_filter_pushes_to_parquet(spark, sf_dir):
    """The pricing-summary ship-date predicate must reach the parquet scan
    (row-group pruning); filtering the converted timestamp would not."""
    plan = plan_of(REGISTRY["olap_pricing_summary"][0](spark, sf_dir))
    pushed = [
        line for line in plan.splitlines() if "PushedFilters" in line
    ][0]
    assert "LessThanOrEqual(l_shipdate" in pushed


def test_shipping_priority_broadcasts_dimension(spark, sf_dir):
    """Customer (filtered small dim) must broadcast — shuffling the fact
    table against it would be the classic 100-TB mistake."""
    plan = plan_of(REGISTRY["olap_shipping_priority"][0](spark, sf_dir))
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan


def test_lsh_scale_paths_avoid_cartesian(spark, sf_dir):
    """MinHash-LSH dedup and LSH ANN are the 100-TB paths: candidate pairs
    must come from hash-bucket equi-joins (one exchange), never a cartesian
    or nested-loop product. (Brute-force topk_cosine keeps its deliberate
    BroadcastNestedLoop — small query set × corpus — as the baseline.)"""
    for name in ("dedup_minhash_lsh", "sim_ann_lsh"):
        p = plan_of(REGISTRY[name][0](spark, sf_dir))
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoop" not in p, name


def test_asof_resolve_is_shuffle_free(spark, sf_dir):
    """As-of schema resolution must not shuffle (or multiply) the event
    side: one broadcast of packed version arrays + map-only pick. A shuffle
    or window here re-partitions the full decode input at 100 TB."""
    fn, _ = REGISTRY["schema_asof_decode"]
    plan = plan_of(fn(spark, sf_dir))
    # the single allowed exchange packs the metadata-scale registry into
    # per-table version arrays (input: the tiny DDL-fold RDD, not parquet);
    # the event branch runs scan → project → broadcast-join → project
    assert n_exchanges(plan) <= 1
    assert "BroadcastExchange" in plan
    assert re.search(r"^\(\d+\) Window", plan, flags=re.M) is None
    # and that exchange belongs to the registry's partial/final aggregate
    # pair, i.e. it is sandwiched between the two hash-aggregate nodes —
    # never attached to the event scan
    heads = re.findall(r"^\(\d+\) (\w+)", plan, flags=re.M)
    for i, h in enumerate(heads):
        if h == "Exchange":
            assert "Aggregate" in heads[i - 1] and "Aggregate" in heads[i + 1]


def test_mq_consume_prunes_topic_partitions(spark, sf_dir, tmp_path):
    """A topic-filtered consume must prune to that topic's partition subtree
    — at broker scale a consumer never lists, let alone reads, other
    topics' segments."""
    from pyspark.sql import functions as F

    from tiflow_spark.sinks.mq import (
        consume_file_broker,
        produce_file_broker,
    )

    msgs = spark.createDataFrame(
        [("ta", 0, "k", "v", 1, 1), ("tb", 0, "k", "v", 1, 2)],
        "topic string, partition int, key string, value string, "
        "commit_ts long, seq long",
    )
    broker = str(tmp_path / "broker")
    produce_file_broker(msgs, broker)
    plan = plan_of(consume_file_broker(spark, broker, topic="ta"))
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m is not None and "topic" in m.group(1)


def test_mq_replay_shuffles_once_and_prunes_topics(spark, tmp_path):
    """The canal replay folds on the segment position, so the
    (schema, table, key) fold is its only exchange — no (topic, partition)
    offset window — and a topic filter still prunes the broker scan."""
    from pyspark.sql import functions as F

    from tiflow_spark.codecs.canal_json import encode_canal_json
    from tiflow_spark.sinks.mq import produce_file_broker
    from tiflow_spark.streaming.consumer import replay_broker_to_state

    env = spark.createDataFrame(
        [("I", "s", "t", 1000, 1, "1", None, (1, 1.0, "a"))],
        "op string, schema string, table string, commit_ts long, "
        "seq long, key string, "
        "before struct<id: bigint, balance: double, note: string>, "
        "after struct<id: bigint, balance: double, note: string>",
    ).withColumns({"topic": F.lit("ta"), "partition": F.lit(0)})
    broker = str(tmp_path / "broker")
    produce_file_broker(
        encode_canal_json(env, extra_cols=("topic", "partition", "key")),
        broker,
    )
    plan = plan_of(
        replay_broker_to_state(spark, broker, {"id": "bigint"}, topic="ta")
    )
    assert n_exchanges(plan) == 1, plan
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m is not None and "topic" in m.group(1)


def test_debezium_replay_shuffles_once_and_prunes_topics(spark, tmp_path):
    """Every broker replay folds through the one shared apply: the
    debezium replay's (schema, table, key) fold, with its key-sticky
    contract, is its only exchange, and a topic filter prunes the scan."""
    from pyspark.sql import functions as F

    from tiflow_spark.codecs.debezium import encode_debezium
    from tiflow_spark.sinks.mq import produce_file_broker
    from tiflow_spark.streaming.consumer import (
        replay_debezium_broker_to_state,
    )

    env = spark.createDataFrame(
        [("I", "s", "t", 1000, 1, "1", None, (1, 1.0, "a"))],
        "op string, schema string, table string, commit_ts long, "
        "seq long, key string, "
        "before struct<id: bigint, balance: double, note: string>, "
        "after struct<id: bigint, balance: double, note: string>",
    ).withColumns({"topic": F.lit("ta"), "partition": F.lit(0)})
    broker = str(tmp_path / "broker")
    produce_file_broker(
        encode_debezium(env, extra_cols=("topic", "partition")), broker
    )
    plan = plan_of(replay_debezium_broker_to_state(spark, broker, topic="ta"))
    assert n_exchanges(plan) == 1, plan
    # one Sort for both window functions, and no filter pushed below the
    # decode (that would parse every message twice)
    assert len(re.findall(r"^\(\d+\) Sort", plan, flags=re.M)) == 1, plan
    assert len(re.findall(r"^\(\d+\) Filter", plan, flags=re.M)) == 1, plan
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m is not None and "topic" in m.group(1)


def test_handle_key_only_is_map_only_single_projection(spark, sf_dir):
    """Large-message dispatch must not join full against handle-key-only
    encodings — both are CASE arms of one projection."""
    fn, _ = REGISTRY["codec_handle_key_only"]
    plan = plan_of(fn(spark, sf_dir))
    assert n_exchanges(plan) == 0
    assert "Join" not in plan


def test_bdr_filter_is_pushed_predicate(spark, sf_dir):
    """The loopback filter is a codegen'd predicate, not a shuffle."""
    from tiflow_spark.envelope import events_to_changes, load_table
    from tiflow_spark.operators.txn import filter_loopback

    import pyspark.sql.functions as F

    env = events_to_changes(load_table(spark, sf_dir, "events")).withColumn(
        "write_source", (F.col("seq") % 7).cast("int")
    )
    assert n_exchanges(plan_of(filter_loopback(env))) == 0


def test_txn_split_shuffles_once_on_txn_key(spark, sf_dir):
    """Flush assignment = one hash exchange on the txn key (the window),
    nothing else."""
    import pyspark.sql.functions as F

    from tiflow_spark.envelope import events_to_changes, load_table
    from tiflow_spark.operators.txn import assign_flush_batches

    env = events_to_changes(load_table(spark, sf_dir, "events")).withColumn(
        "txn_window", (F.col("commit_ts") / F.lit(3_600_000_000)).cast("long")
    )
    out = assign_flush_batches(
        env, ("schema", "txn_window"), max_txn_rows=8, atomicity="none"
    )
    assert n_exchanges(plan_of(out)) == 1


def test_packing_has_no_data_sized_global_window(spark, sf_dir):
    """The token prefix sum must run as within-group windows plus a
    broadcast offset join; the only single-partition exchange allowed is
    the metadata-scale group-offset frame."""
    from tiflow_spark.llm.packing import pack_documents
    from tiflow_spark.llm.textstats import token_counts
    from tiflow_spark.envelope import load_table

    counts = token_counts(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens"
    )
    plan = plan_of(pack_documents(counts, token_budget=4096, n_groups=64))
    assert "BroadcastHashJoin" in plan  # offsets come back via broadcast
    # exactly one SinglePartition exchange — the 64-row offsets frame
    assert plan.count("Arguments: SinglePartition") <= 1


def test_mq_consumer_flush_broadcasts_control_stream(spark, sf_dir):
    """The resolved-ts control stream is metadata-sized and must broadcast;
    the DML side shuffles only for its own re-aggregation."""
    fn, _ = REGISTRY["mq_consumer_flush"]
    plan = plan_of(fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_order_priority_semi_join_and_pushdown(spark, sf_dir):
    """Q4 shape: EXISTS compiles to a left-semi join (orders never
    duplicate) and the quarter filter reaches the orders parquet scan."""
    fn, _ = REGISTRY["olap_order_priority"]
    plan = plan_of(fn(spark, sf_dir))
    assert "LeftSemi" in plan
    assert re.search(r"PushedFilters:.*o_orderdate", plan)


def test_promo_revenue_broadcasts_part(spark, sf_dir):
    """Q14 shape: the part dimension broadcasts; lineitem never shuffles
    for the join."""
    fn, _ = REGISTRY["olap_promo_revenue"]
    plan = plan_of(fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_contamination_benchmark_side_is_broadcast(spark, sf_dir):
    """The benchmark gram index is tiny; the corpus side must meet it via
    BroadcastHashJoin — the only shuffle on this path is the per-doc fold
    keyed by doc_id (≤2 exchanges: the fold's partial/final split)."""
    fn, _ = REGISTRY["text_contamination"]
    plan = plan_of(fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_repetition_and_pii_shuffle_budget(spark, sf_dir):
    """PII scrub is map-only; repetition spends exactly its two doc_id-keyed
    aggregations (gram counts, per-doc fold)."""
    fn, _ = REGISTRY["text_pii_scrub"]
    assert n_exchanges(plan_of(fn(spark, sf_dir))) == 0
    fn, _ = REGISTRY["text_repetition"]
    assert n_exchanges(plan_of(fn(spark, sf_dir))) <= 3


def test_asof_join_is_single_shuffle_no_join(spark, sf_dir):
    """The as-of join must compile to union + ONE keyed exchange + window —
    no join operator, no range explosion."""
    fn, _ = REGISTRY["join_asof"]
    plan = plan_of(fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoop" not in plan


def test_range_join_is_equi_join_no_cartesian(spark, sf_dir):
    """The bucketed range join must hit an equi-join (hash/sort-merge on
    key+bucket), never BroadcastNestedLoop/Cartesian."""
    fn, _ = REGISTRY["join_range"]
    plan = plan_of(fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_partition_route_is_broadcast_map_only(spark, sf_dir):
    """Physical→logical partition routing must be a broadcast map join;
    the only exchanges belong to the final rollup aggregate."""
    fn, _ = REGISTRY["cdc_partition_route"]
    plan = plan_of(fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert n_exchanges(plan) <= 2  # partial/final of the rollup only


def test_charset_decode_is_pure_map_plus_rollup(spark, sf_dir):
    """GBK encode/decode is expression-only — no join, no Python."""
    fn, _ = REGISTRY["cdc_charset_decode"]
    plan = plan_of(fn(spark, sf_dir))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert n_exchanges(plan) <= 2


def test_temperature_resample_broadcasts_quotas(spark, sf_dir):
    """Quota table (stratum-count-sized) must broadcast; the data-sized
    shuffles are the stratum count agg and the per-stratum rank window."""
    fn, _ = REGISTRY["sample_temperature"]
    plan = plan_of(fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_minhash_capped_no_cartesian(spark, sf_dir):
    """The hot-bucket-capped LSH path stays bucket-local: equi-joins only."""
    fn, _ = REGISTRY["dedup_minhash_capped"]
    plan = plan_of(fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_corpus_chunk_is_map_only(spark, sf_dir):
    """Chunking must be a pure explode — zero exchanges."""
    fn, _ = REGISTRY["corpus_chunk"]
    assert n_exchanges(plan_of(fn(spark, sf_dir))) == 0


def test_force_replicate_single_keyed_shuffle(spark, sf_dir):
    """Full-row keying + split stays map-side; the fold and rollups spend
    the plan's exchanges — and nothing joins cartesian."""
    fn, _ = REGISTRY["cdc_force_replicate"]
    plan = plan_of(fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_partial_merge_is_keyed_equi_join(spark, sf_dir):
    """A full-outer MERGE cannot broadcast (Spark restriction); the
    contract is a key-partitioned equi-join — SortMergeJoin on the key,
    never a nested-loop/cartesian plan. (In production the bucketed
    target removes the snapshot-side shuffle — see merge_into_snapshot.)"""
    fn, _ = REGISTRY["snapshot_merge_partial"]
    plan = plan_of(fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_disjunctive_revenue_single_pass(spark, sf_dir):
    """Q19 shape: ONE broadcast join, no union-of-scans, quantity arms
    pushed to the lineitem side where possible."""
    fn, _ = REGISTRY["olap_disjunctive_revenue"]
    plan = plan_of(fn(spark, sf_dir))
    # lineitem + part read ONCE each (detail-section node headers)
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M)) == 2
    assert "BroadcastHashJoin" in plan
    assert "Union" not in plan


def test_small_qty_subquery_decorrelates(spark, sf_dir):
    """Q17 shape: the correlated scalar subquery must run as ONE per-part
    aggregate joined back — no nested-loop re-execution per row."""
    fn, _ = REGISTRY["olap_small_qty_revenue"]
    plan = plan_of(fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lost_customers_uses_anti_join(spark, sf_dir):
    """Q22 shape: the no-orders predicate must compile to a LeftAnti join,
    never a per-row subquery re-scan."""
    fn, _ = REGISTRY["olap_lost_customers"]
    plan = plan_of(fn(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_waiting_suppliers_semi_and_anti(spark, sf_dir):
    """Q21 shape: one LeftSemi (another supplier exists) and one LeftAnti
    (no other late supplier) over the fact table — and the driving/semi/
    anti sides share ONE (orderkey, suppkey) dedup exchange (ReusedExchange)
    instead of three separate distinct shuffles of the fact table."""
    fn, _ = REGISTRY["olap_waiting_suppliers"]
    df = fn(spark, sf_dir)
    plan = plan_of(df)
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    df.collect()  # materialize THIS plan so AQE finalizes exchange reuse
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed


def test_handle_key_dispatch_broadcast_map_only(spark, sf_dir):
    """Registry-driven re-keying must stay a broadcast equi-join + map
    projection: the event side never shuffles before the final rollup and
    nothing goes cartesian (asof_resolve's scale contract extends to the
    with_keys path)."""
    fn, _ = REGISTRY["cdc_handle_key_dispatch"]
    plan = plan_of(fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # ≤2 hash exchanges: the final rollup + the (tiny) registry-side agg.
    # The event stream itself must not shuffle before the rollup. (The
    # broadcast join may constant-fold to a 1-row BNLJ when the fixture's
    # logical_table is a literal — still map-only.)
    assert n_exchanges(plan) <= 2, plan


def test_partition_ddl_routing_broadcast(spark, sf_dir):
    """As-of partition routing = broadcast of the (tiny) versioned
    directory; the event stream is not shuffled or multiplied by versions."""
    fn, _ = REGISTRY["cdc_partition_ddl"]
    df = fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in executed


def test_domain_cap_two_phase_no_single_domain_sort(spark, sf_dir):
    """domain_cap's phase-1 window partitions on (domain, salt) — the
    mega-domain shards across n_salts tasks; phase 2 only sorts the
    pre-cut survivors. Both windows present, no cartesian."""
    fn, _ = REGISTRY["sample_domain_cap"]
    plan = plan_of(fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # two Window nodes proper: the salted pre-cut and the final rank
    assert len(re.findall(r"^\(\d+\) Window$", plan, flags=re.M)) == 2
    # and Spark's rank<=k pushdown kicked in (rows drop BEFORE the sort
    # buffers them — the group-limit form of top-K)
    assert "WindowGroupLimit" in plan


def test_lm_score_shuffles_bounded(spark, sf_dir):
    """trigram LM: model agg + join-back reduction — tri-keyed exchanges
    with map-side combine, no cartesian, no Python in the path."""
    fn, _ = REGISTRY["text_lm_score"]
    plan = plan_of(fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


@pytest.mark.parametrize("name", ["sample_stratified", "sample_temperature"])
def test_stratified_samplers_two_phase(spark, sf_dir, name):
    """Quota samplers share domain_cap's skew story: salted pre-cut window
    + final rank window. (No WindowGroupLimit here — Spark only pushes the
    group-limit for LITERAL rank bounds, and these caps are per-stratum
    expressions; the salted pre-cut is what bounds the final sort.)"""
    fn, _ = REGISTRY[name]
    plan = plan_of(fn(spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) Window$", plan, flags=re.M)) == 2


def test_returned_items_filters_push_to_parquet(spark, sf_dir):
    """Q10 shape: the returnflag equality and the orderdate range must
    reach their parquet scans (row-group pruning on both fact inputs);
    customer/nation broadcast."""
    fn, _ = REGISTRY["olap_returned_items"]
    plan = plan_of(fn(spark, sf_dir))
    pushed = "\n".join(
        line for line in plan.splitlines() if "PushedFilters" in line
    )
    assert "EqualTo(l_returnflag,R)" in pushed
    assert "GreaterThanOrEqual(o_orderdate" in pushed
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan


def test_volume_shipping_broadcasts_dims(spark, sf_dir):
    """Q7 shape: supplier/customer/nation sides broadcast; the only fact
    shuffle is lineitem⋈orders on orderkey; no cartesian."""
    fn, _ = REGISTRY["olap_volume_shipping"]
    plan = plan_of(fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 2


def test_important_parts_single_fact_shuffle(spark, sf_dir):
    """Q11 shape: per-part totals built with ONE partkey shuffle; the
    global threshold re-aggregates the per-part frame (metadata-sized)
    and broadcasts back — the fact table is never shuffled twice."""
    fn, _ = REGISTRY["olap_important_parts"]
    df = fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan  # broadcast scalar, not cartesian
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    # the per-part aggregate's exchange is REUSED by the threshold branch
    assert "ReusedExchange" in executed


def test_incremental_capped_no_cartesian(spark, sf_dir):
    """The capped incremental-dedup path stays bucket-local: equi-joins
    only, no cartesian/BNLJ anywhere in nvo (batch×index) or nvn
    (batch×batch)."""
    fn, _ = REGISTRY["dedup_incremental_capped"]
    plan = plan_of(fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_incremental_index_cap_bounds_candidates(spark):
    """A hot (band, sig) bucket must expand linearly, not quadratically:
    with max_bucket=1, a batch of d near-identical docs against an index
    holding k more of the same doc yields O(d) candidate pairs (star
    edges through representatives), never the O((d+k)²) all-pairs set."""
    import pyspark.sql.functions as F

    from tiflow_spark.llm.dedup import dedup_incremental, minhash_index

    text = "the quick brown fox jumps over the lazy dog again and again"
    base = spark.createDataFrame(
        [(i, text) for i in range(20)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(100 + i, text) for i in range(30)], "doc_id long, text string"
    )
    idx_sh, idx_banded = minhash_index(base, 16, 4, max_bucket=1)
    # index cap: every over-cap bucket collapsed to its representative row
    sizes = idx_banded.groupBy("band", "sig").count().collect()
    assert all(r["count"] == 1 for r in sizes)
    pairs = dedup_incremental(
        batch, idx_sh, idx_banded, 16, 4, 0.5, max_bucket=1
    )
    n = pairs.count()
    # linear bound: per band, ≤ d nvo edges (each batch doc × 1 rep) and
    # d-1 nvn star edges — far under the ~1225 all-pairs count of d=50
    d = 30
    assert 0 < n <= 4 * (2 * d)
    # connectivity preserved: every doc reachable from the index rep
    ids = set()
    for r in pairs.collect():
        ids.add(r["id_a"])
        ids.add(r["id_b"])
    assert ids >= {100 + i for i in range(30)}


def test_mincost_supplier_shape(spark, sf_dir):
    """Q2 shape: ONE lineitem shuffle builds the partsupp analog; part and
    the region→nation→supplier chain broadcast; the correlated min is a
    window over the reduced candidate frame — 2 shuffle exchanges total,
    every dim join a broadcast-hash, no cartesian."""
    fn, _ = REGISTRY["olap_mincost_supplier"]
    plan = plan_of(fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M)) == 5
    assert n_exchanges(plan) <= 2


def test_supplier_part_counts_shape(spark, sf_dir):
    """Q16 shape: ps aggregate + broadcast part filter + broadcast LEFT
    ANTI for the excluded suppliers; the distinct count adds the group-key
    shuffle — no plan-side NOT IN nested loop."""
    fn, _ = REGISTRY["olap_supplier_part_counts"]
    plan = plan_of(fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M)) == 3
    assert n_exchanges(plan) <= 3


def test_excess_suppliers_shape(spark, sf_dir):
    """Q20 shape: per-pair totals and the 1997 conditional sum in ONE
    lineitem aggregate (no second scan); qualifying suppliers broadcast
    back as a LEFT SEMI — supplier itself never shuffles."""
    fn, _ = REGISTRY["olap_excess_suppliers"]
    plan = plan_of(fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M)) == 4
    assert n_exchanges(plan) <= 2


def test_pq_ann_map_only_encode(spark, sf_dir):
    """PQ corpus encoding must be a pure map stage (codebook inlined as a
    literal — no join, no shuffle to assign codes); the deliberate
    broadcast of the tiny query set is the only nested-loop, same as the
    other ANN paths; the per-query top-R window is the only exchange
    beyond it."""
    fn, _ = REGISTRY["sim_ann_pq"]
    plan = plan_of(fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # corpus side never equi-joins for encoding: scans = 2 (corpus + query)
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M)) == 2
    assert n_exchanges(plan) <= 2


def test_product_profit_shape(spark, sf_dir):
    """Q9 shape: the derived partsupp joins back to lineitem on its own
    aggregate keys; part/supplier/nation broadcast; no cartesian. The
    fact table is scanned twice by design (ps derivation + fact side) —
    the reference reads partsupp as a separate table. r14: the ps
    derivation is pre-filtered to widget parts by a broadcast LeftSemi
    (one more part scan feeding it — 7 scans total)."""
    fn, _ = REGISTRY["olap_product_profit"]
    plan = plan_of(fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M)) == 7


def test_forecast_revenue_full_pushdown(spark, sf_dir):
    """Q6 shape: every predicate — including the shipdate range, which a
    timestamp-LTZ literal would silently kill — reaches the parquet scan."""
    fn, _ = REGISTRY["olap_forecast_revenue"]
    plan = plan_of(fn(spark, sf_dir))
    m = re.search(r"PushedFilters: \[(.*?)\]", plan)
    assert m, "no PushedFilters section"
    pushed = m.group(1)
    for frag in ("l_shipdate,1997", "l_shipdate,1998",
                 "l_discount,0.05", "l_discount,0.07", "l_quantity,24"):
        assert frag in pushed, f"{frag} not pushed: {pushed}"
    assert n_exchanges(plan) <= 1  # scalar agg: partial + final only


def test_gopher_rules_is_map_only(spark, sf_dir):
    """The Gopher hard-filter battery must be a single map-only pass:
    zero shuffle exchanges, and the tokenization must not be re-inlined
    into every rule."""
    from tiflow_spark.llm.textstats import gopher_rules
    from tiflow_spark.envelope import load_table

    plan = plan_of(gopher_rules(load_table(spark, sf_dir, "documents")))
    assert n_exchanges(plan) == 0
    # the token array materializes ONCE (its own aliased projection,
    # referenced 6 times — CollapseProject keeps it), not once per rule
    assert plan.count("split(text") == 1


def test_ppl_bucket_full_corpus_side_has_no_global_sort(spark, sf_dir):
    """perplexity_bucket_sample's full-corpus side is map-only after the
    LM aggregation: the tercile cutoffs are literals (read off the
    bounded distinct-score histogram driver-side), so the final plan
    must contain no Sort over the full corpus and no window — the exact
    cutoff computation uses no windows at all, only a histogram
    aggregation plus two bounded collects."""
    from tiflow_spark.llm.sampling import perplexity_bucket_sample
    from tiflow_spark.llm.textstats import trigram_lm_score
    from tiflow_spark.envelope import load_table

    lm = trigram_lm_score(
        load_table(spark, sf_dir, "documents")
    ).select("doc_id", "lm_score")
    out = perplexity_bucket_sample(lm)
    plan = plan_of(out)
    assert "Window" not in plan  # ntile ran pre-collect, not in this plan


def test_dsir_models_broadcast_corpus_shuffles_once(spark, sf_dir):
    """DSIR's two pruned models must reach the corpus token stream as
    broadcast joins (map-side), never a sort-merge repartition of every
    token; the only corpus-scale shuffle is the doc_id reduction. The two
    1-row mass frames ride in as broadcast nested-loop cross joins."""
    from tiflow_spark.llm.sampling import dsir_importance
    from tiflow_spark.envelope import load_table

    plan = plan_of(dsir_importance(load_table(spark, sf_dir, "documents")))
    assert plan.count("SortMergeJoin") == 0
    # node headers in the formatted detail section (the tree rendering
    # repeats each node, same convention as n_exchanges)
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, flags=re.M)) == 2
    assert (
        len(re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, flags=re.M))
        == 2
    )


def test_unimax_windows_run_on_aggregate_frame_only(spark, sf_dir):
    """UniMax's waterfill windows may only ever see the per-language
    AGGREGATE frame: exactly one corpus-scale hash exchange (the lang
    groupBy), everything downstream is metadata-scale."""
    from tiflow_spark.llm.sampling import unimax_allocation
    from tiflow_spark.envelope import load_table

    plan = plan_of(unimax_allocation(load_table(spark, sf_dir, "documents")))
    corpus_exchanges = re.findall(r"Exchange hashpartitioning\(lang", plan)
    assert len(corpus_exchanges) <= 1


def test_top_ngrams_uses_take_ordered_not_global_sort(spark, sf_dir):
    """The heavy-hitter report's top-k must compile to TakeOrdered
    (per-partition heaps + driver merge), never a global Sort of the
    full gram table."""
    from tiflow_spark.llm.textstats import top_ngrams
    from tiflow_spark.envelope import load_table

    plan = plan_of(top_ngrams(load_table(spark, sf_dir, "documents")))
    assert "TakeOrderedAndProject" in plan
    assert not re.findall(r"^\(\d+\) Sort", plan, flags=re.M)


def test_paragraph_dedup_plan_is_window_free(spark, sf_dir):
    """dedup_paragraph_first_wins: no Window (first-wins is a min-agg,
    not a rank), no cartesian/nested-loop, and the paragraph key drives
    a bounded number of shuffle exchanges (explode → min-agg → join →
    doc fold; AQE may elide/reuse but never multiply them)."""
    fn, _ = REGISTRY["dedup_paragraph_first_wins"]
    p = plan_of(fn(spark, sf_dir))
    assert "Window" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoop" not in p
    assert n_exchanges(p) <= 5, f"unexpected shuffle growth:\n{p[:2000]}"


def test_new_codec_wires_are_single_python_stage(spark, sf_dir):
    """The simple-avro and canal-protobuf encodes must each evaluate as
    ONE ArrowEvalPython stage over a map-only plan — per-row Python cost
    is bounded to a single Arrow-batched pass, never stacked evals."""
    from tiflow_spark.codecs.canal_proto import encode_canal_protobuf
    from tiflow_spark.codecs.simple_avro import encode_simple_avro
    from tiflow_spark.plans.parity import _env

    env = _env(spark, sf_dir)
    for enc in (encode_simple_avro(env, with_checksum=True),
                encode_canal_protobuf(env)):
        p = plan_of(enc)
        assert len(re.findall(r"^\(\d+\) ArrowEvalPython", p, flags=re.M)) == 1, p[:1500]
        assert n_exchanges(p) == 0, p[:1500]


def test_bucket_merge_rewrite_shuffles_once_by_bucket(spark, tmp_path):
    """stored ∪ batch crosses exactly one exchange in a rewrite merge,
    hashpartitioning(bucket): the winner window keyed on (bucket, table,
    key) and the bucket-partitioned write both reuse it."""
    from conftest import executed_plans
    from pyspark.sql import functions as F

    from tiflow_spark.sinks.bucketed import merge_hash_bucketed

    schema = (
        "target_table string, key string, op string, commit_ts long, "
        "seq long, id long, balance double"
    )
    target = str(tmp_path / "target")
    merge_hash_bucketed(
        spark.createDataFrame(
            [("t", str(k), "I", 1, k, k, float(k)) for k in range(64)], schema
        ),
        target, n_buckets=8, batch_id=0,
    )
    with executed_plans(spark) as plans:
        merge_hash_bucketed(
            spark.createDataFrame(
                [("t", str(k), "U", 2, 100 + k, k, 0.0) for k in range(0, 64, 5)],
                schema,
            ),
            target, n_buckets=8, batch_id=1,
        )
    writes = [
        p
        for p in plans
        if "InsertIntoHadoopFsRelation" in p and "_staging/batch-1" in p
    ]
    assert len(writes) == 1
    plan = writes[0]
    ids = re.findall(r"(?<!\w)Exchange \((\d+)\)", plan)
    assert len(ids) == 1, plan
    detail = re.search(
        rf"^\({ids[0]}\) Exchange\n(?:.*\n)*?Arguments: (.*)$",
        plan,
        flags=re.M,
    )
    assert detail.group(1).startswith("hashpartitioning(bucket#"), plan
    state = spark.read.parquet(target)
    assert state.filter(F.col("op") == "U").count() == 13
    # one file per rewritten bucket
    for d in os.listdir(target):
        if d.startswith("bucket="):
            files = os.listdir(os.path.join(target, d))
            parquet = [f for f in files if f.endswith(".parquet")]
            assert len(parquet) == 1, (d, files)


def test_bucket_merge_create_shuffles_once_by_bucket(spark, tmp_path):
    """The create write crosses exactly one exchange too,
    hashpartitioning(bucket): the winner window keyed on (bucket, table,
    key) and the bucket-partitioned write share it, and each bucket is
    written as one file."""
    from conftest import executed_plans

    from tiflow_spark.sinks.bucketed import merge_hash_bucketed, read_state

    schema = (
        "target_table string, key string, op string, commit_ts long, "
        "seq long, id long, balance double"
    )
    # two events per key, so the create write resolves winners
    rows = [("t", str(k), "I", 1, k, k, float(k)) for k in range(64)] + [
        ("t", str(k), "U", 2, 100 + k, k, -1.0) for k in range(64)
    ]
    target = str(tmp_path / "target")
    with executed_plans(spark) as plans:
        merge_hash_bucketed(
            spark.createDataFrame(rows, schema),
            target, n_buckets=8, batch_id=0,
        )
    writes = [p for p in plans if "InsertIntoHadoopFsRelation" in p]
    assert len(writes) == 1
    plan = writes[0]
    ids = re.findall(r"(?<!\w)Exchange \((\d+)\)", plan)
    assert len(ids) == 1, plan
    detail = re.search(
        rf"^\({ids[0]}\) Exchange\n(?:.*\n)*?Arguments: (.*)$",
        plan,
        flags=re.M,
    )
    assert detail.group(1).startswith("hashpartitioning(bucket#"), plan
    state = read_state(spark, target)
    assert state.count() == 64
    assert {r.balance for r in state.select("balance").distinct().collect()} == {-1.0}
    buckets = [d for d in os.listdir(target) if d.startswith("bucket=")]
    assert len(buckets) == 8
    for d in buckets:
        files = os.listdir(os.path.join(target, d))
        parquet = [f for f in files if f.endswith(".parquet")]
        assert len(parquet) == 1, (d, files)


def test_streaming_batch_resolves_winners_once(spark, tmp_path):
    """A micro-batch merged into an existing target resolves its
    max-(commit_ts, seq, op) winners in one place, the merge's window:
    the batch's executions hold exactly one Window node, and the target
    state equals replaying every event in order."""
    from conftest import executed_plans

    from tiflow_spark.sinks.bucketed import read_state
    from tiflow_spark.streaming.pipeline import StreamingTarget

    schema = (
        "op string, target_table string, key string, commit_ts long, "
        "seq long, after struct<id: bigint, balance: double, note: string>"
    )

    def ev(op, k, ts, seq, bal):
        return (op, "t", str(k), ts, seq, None if op == "D" else (k, bal, "n"))

    first = [ev("I", k, 10, k, float(k)) for k in range(8)]
    second = [
        ev("I", 20, 20, 100, 1.0),  # I → D: a new key inserted then deleted
        ev("D", 20, 21, 101, 0.0),
        ev("U", 1, 5, 102, -5.0),  # late and older than the stored row
        ev("U", 2, 22, 103, 2.2),  # several updates: the newest wins,
        ev("U", 2, 23, 104, 2.3),  # whatever the file order
        ev("U", 2, 15, 105, 1.5),
        ev("U", 3, 24, 106, 3.4),  # updated, then a D tombstone
        ev("D", 3, 25, 107, 0.0),
        ev("D", 4, 26, 108, 0.0),
        ev("U", 4, 9, 109, -9.0),  # older than the tombstone
    ]
    target = StreamingTarget(
        target_path=str(tmp_path / "target"),
        progress_path=str(tmp_path / "progress"),
        n_buckets=4,
    )
    target.merge_batch(spark.createDataFrame(first, schema), 0)
    with executed_plans(spark) as plans:
        target.merge_batch(spark.createDataFrame(second, schema).repartition(3), 1)
    windows = sum(
        len(re.findall(r"^\(\d+\) Window$", p, flags=re.M)) for p in plans
    )
    assert windows == 1, plans

    weight = {"D": 0, "U": 1, "I": 2}
    expect = {}
    for op, _, k, ts, seq, after in sorted(
        first + second, key=lambda e: (e[3], e[4], weight[e[0]])
    ):
        if op == "D":
            expect.pop(k, None)
        else:
            expect[k] = (after[0], after[1])
    got = {
        r.key: (r.id, r.balance)
        for r in read_state(spark, target.target_path).collect()
    }
    assert got == expect
