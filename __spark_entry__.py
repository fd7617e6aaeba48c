"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)    — flagship CDC pipeline (envelope → filter → route/split →
                  last-writer-wins apply) on sf0.001.
queries()       — every implemented operator from SURVEY.md §2 as
                  (spark, sf_dir) -> DataFrame.
oracle_sql()    — matching DuckDB SQL per query (None-valued entries omitted).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tiflow_spark.plans.parity import REGISTRY  # noqa: E402

# The driver's correctness snapshot keeps only the first 50 queries, in dict
# order, so this list picks those 50; the rest follow in registration order.
_PRIORITY = [
    # latest-checked round 9 — the full r9 cohort (VERDICT r13 #5)
    "olap_customer_distribution",
    "olap_large_orders",
    "olap_market_share",
    "olap_returned_items",
    "olap_volume_shipping",
    "online_ddl_route",
    "precheck",
    "sample_domain_cap",
    "schema_asof_decode",
    "shardddl_optimistic_merge",
    "sim_ann_lsh",
    "sim_embedding_neardup",
    "sim_topk_cosine",
    "sink_storage_layout",
    "sink_storage_roundtrip",
    "snapshot_merge",
    "stream_apply",
    "text_fingerprint",
    "text_langid",
    "text_line_dedup",
    "text_lm_score",
    "text_quality",
    "text_token_counts",
    "validate_checksum",
    "validate_chunk_compare",
    "validate_pending",
    "validate_repair",
    "validate_row_diff",
    # new in round 14
    "cdc_dispatch_index_name",
    "cdc_topic_ddl",
    # changed-implementation re-checks (r14 dispatcher/syncdiff/storage work)
    "cdc_dispatch_inertia",
    "validate_chunk_tuple",
    "cdc_handle_key_dispatch",
    "sink_storage_crlf_roundtrip",
    # latest-checked round 10 — first 16 in name order
    "cdc_dispatch",
    "cdc_frontier",
    "cdc_safe_mode",
    "cdc_topic_sanitize",
    "cdc_type_fidelity",
    "cluster_kmeans_lloyd",
    "codec_avro_checksum",
    "codec_avro_roundtrip",
    "codec_avro_watermark",
    "codec_canal_json",
    "codec_checkpoint_messages",
    "codec_craft_events",
    "codec_craft_roundtrip",
    "codec_csv_binary_handle",
    "codec_debezium",
    "codec_debezium_ddl",
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    fn, _ = REGISTRY["cdc_apply"]
    return fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    ordered = {n: REGISTRY[n][0] for n in _PRIORITY if n in REGISTRY}
    for name, (fn, _sql) in REGISTRY.items():
        if name not in ordered:
            ordered[name] = fn
    return ordered


def oracle_sql() -> dict[str, str]:
    return {
        name: sql for name, (_fn, sql) in REGISTRY.items() if sql is not None
    }
