"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints one compact JSON line PER SECTION as it completes, then a slim
headline summary line LAST ({"metric", "value", "unit", "core7_sec",
"apply_rows_per_sec", "sf"}, ~150 chars — sized so the driver's 2000-char
stdout tail capture always parses; round 9's single merged mega-line
outgrew it). The complete merged object is written to bench_full.json.
The headline metric the driver compares to BASELINE.md is end-to-end
change-pipeline throughput: the reference's envelope is 40–290k rows/s
applied; ours is measured by `cdc_apply` over the sf0.1 events table
(600k lineitem-scale stream).

SECTION ISOLATION (round 7): each section runs in its OWN subprocess with a
fresh JVM — round 6 showed that appending sections to one long-lived JVM
moved the *earlier* sections' numbers (+24% on dedup_minhash_lsh, +26% on
the stream seed) with byte-identical plans, i.e. the harness was measuring
accumulated process state (GC pressure, codegen cache, shuffle dirs), not
the plans. `python bench.py` orchestrates; `python bench.py --section X`
runs one section and prints its JSON fragment. Adding a new section can
never again perturb the cross-round trend lines of the existing ones.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SECTIONS = [
    "headline", "r5ops", "r6ops", "r7ops", "r8ops", "r9ops", "r10ops",
    "r11ops", "scaling", "stream", "incdedup", "live",
]


def _spark():
    from tiflow_spark.session import get_spark

    spark = get_spark("tiflow-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _time_registry_set(spark, sf_dir: str, names: list[str]) -> dict:
    """min-of-5 per query after one untimed warm pass (JVM startup /
    Catalyst planning / whole-stage-codegen compile — these pipelines are
    *standing* in production, so steady-state is the meaningful number).
    min-of-5 because this box carries a variable background load; the min
    is the plan's cost, the spread is the co-tenant's."""
    from tiflow_spark.plans.parity import REGISTRY

    names = [q for q in names if q in REGISTRY]
    for name in names:
        REGISTRY[name][0](spark, sf_dir).count()
    out: dict[str, float] = {}
    for name in names:
        fn, _ = REGISTRY[name]
        best, n = None, 0
        for _rep in range(5):
            _fresh_cache(spark)
            t0 = time.perf_counter()
            n = fn(spark, sf_dir).count()
            el = time.perf_counter() - t0
            best = el if best is None or el < best else best
        out[name] = round(best, 3)
        print(f"# {name}: {n} rows in {out[name]}s", file=sys.stderr)
    return out


def _fresh_cache(spark) -> None:
    """MEASUREMENT-BUG FIX (r14, disclosed in OPTIMIZATION_r14.md):
    several operators ``persist()`` an internal frame so that multiple
    branches of ONE query share one computation. Spark's CacheManager
    keys those entries on the canonicalized logical plan, so a SECOND
    invocation of the same registry query in the same session silently
    reads the first invocation's cache instead of recomputing from
    parquet — min-of-N was partially timing cache hits (measured: e.g.
    dedup_index_compact 1.5 s cached vs 3.2 s honest). Clearing the
    session cache before every timed rep makes each rep compute from the
    parquet inputs, per the no-cross-run-caching bench contract. The
    untimed warm pass still covers codegen/planning warmup."""
    spark.catalog.clearCache()


def section_headline(sf_dir: str) -> dict:
    spark = _spark()
    bench_queries = [
        "cdc_envelope",
        "cdc_filter_stack",
        "cdc_route_split",
        "cdc_compact",
        "cdc_apply",
        "cdc_dispatch",
        "validate_checksum",
        # round-2/3 capability paths — typed decode+apply, DDL-driven
        # registry fold + as-of decode across a rename, MinHash+LSH dedup
        "cdc_typed_apply",
        "ddl_rename_table",
        "dedup_minhash_lsh",
        # round-4: end-to-end curation funnel (quality → dedup → decontam)
        "corpus_funnel",
    ]
    timings = _time_registry_set(spark, sf_dir, bench_queries)
    total = round(sum(timings.values()), 3)
    core7 = round(
        sum(v for k, v in timings.items() if k in bench_queries[:7]), 3
    )
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    return {
        "value": total,
        "core7_sec": core7,
        "queries": timings,
        "apply_rows_per_sec": round(n_events / timings["cdc_apply"])
        if timings.get("cdc_apply")
        else None,
    }


def section_r5ops(sf_dir: str) -> dict:
    # round-5/6 ops (separate totals: the legacy headline set stays
    # untouched for cross-round trend) — per-domain salted top-K, corpus
    # LM scoring, the two heaviest olap analogs, and the capped
    # incremental-dedup parity path (now against a PREBUILT parquet index
    # fixture, so its number is per-batch ingest, not fixture rebuild)
    spark = _spark()
    timings = _time_registry_set(
        spark,
        sf_dir,
        [
            "sample_domain_cap",
            "text_lm_score",
            "olap_volume_shipping",
            "olap_market_share",
            "olap_product_profit",
            "dedup_incremental_capped",
        ],
    )
    return {"r5_queries": timings, "r5_total_sec": round(sum(timings.values()), 3)}


def section_r6ops(sf_dir: str) -> dict:
    # clustering/semantic dedup, span-level dup coverage (the linear
    # no-pairs plan), scheduler move planning / keyspan splitting,
    # sync_diff summary report + resumable-diff replay cost
    spark = _spark()
    timings = _time_registry_set(
        spark,
        sf_dir,
        [
            "cluster_kmeans_lloyd",
            "dedup_semdedup",
            "dedup_span_coverage",
            "sched_rebalance",
            "sched_split_spans",
            "validate_summary_report",
        ],
    )
    return {"r6_queries": timings, "r6_total_sec": round(sum(timings.values()), 3)}


def section_r7ops(sf_dir: str) -> dict:
    # round-7 surface: Glue-framed avro round trip, checkpoint/resume
    # diff, exact LSH-index re-cap — plus the broker consumer-replay e2e
    # (encode → file broker → DDL-tracking replay), the one significant
    # r6 path that had no timing (VERDICT r6 #8).
    # r8 note: sample_ppl_buckets moved ~2.9 → ~3.4 s BY DESIGN — the
    # cutoffs are now exact true ranks (VERDICT r7 #4). The scored frame
    # is parquet-checkpointed so scoring still runs ONCE; the remaining
    # delta is the histogram shuffle + checkpoint I/O that exactness
    # costs over the old 1%-sample cutoff stage.
    import shutil
    import tempfile

    spark = _spark()
    timings = _time_registry_set(
        spark,
        sf_dir,
        [
            "codec_avro_glue",
            "validate_resume",
            "dedup_index_compact",
            "text_gopher_rules",
            "sample_ppl_buckets",
            "dedup_keep_best",
            "sample_dsir",
            "text_top_ngrams",
        ],
    )

    from tiflow_spark.envelope import events_to_changes, load_table
    from tiflow_spark.plans.parity import DEMO_CFG
    from tiflow_spark.streaming.consumer import replay_broker_to_state
    from tiflow_spark.tools import create_changefeed

    env = events_to_changes(load_table(spark, sf_dir, "events"))
    work = tempfile.mkdtemp(prefix="tiflow_bench_replay_")
    src = f"{work}/source"
    env.repartition(8).write.parquet(src)
    _spec, broker = create_changefeed(
        spark, src, DEMO_CFG,
        "kafka://broker:9092/cdc-demo?protocol=canal-json&partition-num=8",
        work,
    )
    types = {"id": "bigint", "balance": "double", "note": "string"}
    replay_broker_to_state(spark, broker, types).count()  # warm
    best, n = None, 0
    for _rep in range(5):
        _fresh_cache(spark)
        t0 = time.perf_counter()
        n = replay_broker_to_state(spark, broker, types).count()
        el = time.perf_counter() - t0
        best = el if best is None or el < best else best
    replay_sec = round(best, 3)
    shutil.rmtree(work, ignore_errors=True)
    print(f"# consumer_replay_canal: {n} rows in {replay_sec}s",
          file=sys.stderr)
    timings["consumer_replay_canal"] = replay_sec
    return {
        "r7_queries": timings,
        "r7_total_sec": round(sum(timings.values()), 3),
    }


def section_r8ops(sf_dir: str) -> dict:
    # round-8 surface: the debezium-configured consumer replay e2e, the
    # loader query-status facade, steady-state per-batch ingest of the
    # standing LLM funnel (Gopher hard-filter gate + incremental dedup vs
    # a persisted full-corpus index — the VERDICT r7 #3 ask), and the
    # schema-evolving simple-protocol replay (VERDICT r7 #8)
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    spark = _spark()
    timings = _time_registry_set(
        spark,
        sf_dir,
        [
            "consumer_replay_debezium",
            "snapshot_load_status",
            "text_line_dedup",
            "dedup_span_remove",
        ],
    )

    # per-batch standing ingest: full corpus is the PERSISTED state (its
    # build is the fixture, untimed); timed = gate + incremental dedup +
    # atomic batch commit for a 10% batch. Same batch_id every rep — the
    # replay-idempotent overwrite makes reps identical work.
    from tiflow_spark.llm.textstats import gopher_rules
    from tiflow_spark.streaming.llm_ingest import (
        ingest_batch,
        init_ingest_state,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    state = tempfile.mkdtemp(prefix="tiflow_bench_ingest_")
    init_ingest_state(spark, state, seed=docs)
    batch = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 500000
    )

    def gate(df):
        keep = gopher_rules(df).filter("passes").select("doc_id")
        return df.join(keep, "doc_id", "left_semi")

    ingest_batch(spark, batch, 1, state, quality_gate=gate)  # warm
    best = None
    for _rep in range(5):
        _fresh_cache(spark)
        t0 = time.perf_counter()
        ingest_batch(spark, batch, 1, state, quality_gate=gate)
        el = time.perf_counter() - t0
        best = el if best is None or el < best else best
    timings["ingest_batch_gopher"] = round(best, 3)
    print(f"# ingest_batch_gopher: {timings['ingest_batch_gopher']}s",
          file=sys.stderr)
    shutil.rmtree(state, ignore_errors=True)

    # schema-evolving simple-protocol consumer replay: changefeed with a
    # CREATE TABLE DDL side-channel per source table, replayed through
    # the registry-building consumer
    from tiflow_spark.envelope import events_to_changes, load_table
    from tiflow_spark.operators import filters as flt
    from tiflow_spark.plans.parity import DEMO_CFG
    from tiflow_spark.streaming.consumer import replay_simple_broker_with_ddl
    from tiflow_spark.tools import create_changefeed

    env = events_to_changes(load_table(spark, sf_dir, "events"))
    work = tempfile.mkdtemp(prefix="tiflow_bench_simple_")
    src = f"{work}/source"
    env.repartition(8).write.parquet(src)
    filtered = flt.apply_filters(env, DEMO_CFG)
    tables = filtered.select("schema", "table").distinct().collect()
    t0_ts = filtered.agg(F.min("commit_ts")).collect()[0][0] - 1
    ddl = spark.createDataFrame(
        [
            (
                "DDL", r["schema"], r["table"], t0_ts, i, "create table",
                f"CREATE TABLE {r['table']} (id BIGINT PRIMARY KEY, "
                "balance DOUBLE, note VARCHAR)",
            )
            for i, r in enumerate(sorted(tables, key=tuple))
        ],
        "op string, schema string, table string, commit_ts long, seq long, "
        "ddl_type string, query string",
    )
    _spec, broker = create_changefeed(
        spark, src, DEMO_CFG,
        "kafka://broker:9092/cdc-demo?protocol=simple&partition-num=8",
        work, ddl_events=ddl,
    )
    replay_simple_broker_with_ddl(spark, broker).count()  # warm
    best, n = None, 0
    for _rep in range(5):
        _fresh_cache(spark)
        t0 = time.perf_counter()
        n = replay_simple_broker_with_ddl(spark, broker).count()
        el = time.perf_counter() - t0
        best = el if best is None or el < best else best
    timings["consumer_replay_simple_ddl"] = round(best, 3)
    print(
        f"# consumer_replay_simple_ddl: {n} rows in "
        f"{timings['consumer_replay_simple_ddl']}s",
        file=sys.stderr,
    )
    shutil.rmtree(work, ignore_errors=True)
    return {
        "r8_queries": timings,
        "r8_total_sec": round(sum(timings.values()), 3),
    }


def section_r9ops(sf_dir: str) -> dict:
    # round-9 surface: the storage-consumer CSV replay e2e (the sixth and
    # last reference consumer binary), Lee-et-al span-length dedup, and
    # the budget cut re-timed after its band-offset window became a
    # bounded driver prefix-sum.
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    spark = _spark()
    timings = _time_registry_set(
        spark,
        sf_dir,
        [
            "consumer_replay_storage_csv",
            "dedup_span_remove_minlen",
            "corpus_select_budget",
        ],
    )
    # the two ingest-subsystem paths were single-run fixture-dominated
    # numbers in r9 (the registry query builds corpus clone + file writes
    # + streaming query + compaction inside one call). r10 (VERDICT #3):
    # split fixture construction (untimed per rep where shareable) from
    # the timed machinery — min-of-3 on the drain/fold — so the reported
    # number is the streaming/compaction cost, comparable to
    # ingest_batch_gopher's per-batch number in r8ops.
    from tiflow_spark.plans.parity import _docs, _ingest_fixture_files
    from tiflow_spark.llm.dedup import corpus_with_dups
    from tiflow_spark.streaming.llm_ingest import (
        compact_ingest_state,
        ingest_batch,
        init_ingest_state,
        run_corpus_ingest,
    )

    base = tempfile.mkdtemp(prefix="tiflow_bench_ingest_stream_")
    t0 = time.perf_counter()
    src = _ingest_fixture_files(spark, sf_dir, base)
    stream_fixture_sec = round(time.perf_counter() - t0, 3)
    drain_reps = []
    batch_stats = []
    for r in range(3):
        state = f"{base}/state{r}"
        init_ingest_state(spark, state)
        per_batch: list = []
        t0 = time.perf_counter()
        run_corpus_ingest(
            spark, src, state, f"{base}/ckpt{r}",
            quality_gate=lambda df: df.filter(F.length("text") >= 200),
            compact_every=2,
            batch_seconds=per_batch,
        )
        drain_reps.append(round(time.perf_counter() - t0, 3))
        batch_stats.append((round(sum(per_batch), 3), len(per_batch)))
    best_rep = drain_reps.index(min(drain_reps))
    timings["llm_ingest_stream_drain"] = min(drain_reps)
    # r11 (VERDICT #4): decompose the drain — batch-body seconds are the
    # steady-state cost a processingTime production trigger pays per
    # micro-batch; the remainder is availableNow query startup +
    # offset/commit machinery, paid once per stream start. (The r10
    # guess that startup dominated was wrong: with maxFilesPerTrigger=1
    # the drain is n_batches × per-batch LSH/index work.)
    drain_batches, n_batches = batch_stats[best_rep]
    drain_startup = round(min(drain_reps) - drain_batches, 3)
    per_batch_mean = round(drain_batches / max(n_batches, 1), 3)
    print(
        f"# llm_ingest_stream: fixture {stream_fixture_sec}s, drain "
        f"{min(drain_reps)}s (min of {drain_reps}) = {n_batches} batch "
        f"bodies {drain_batches}s (mean {per_batch_mean}s/batch) + stream "
        f"startup/commit {drain_startup}s",
        file=sys.stderr,
    )

    # compaction fold: the 3-batch delta'd state is the fixture (built
    # once, copied untimed per rep because the fold mutates it)
    docs = corpus_with_dups(_docs(spark, sf_dir))
    cbase = tempfile.mkdtemp(prefix="tiflow_bench_compact_")
    t0 = time.perf_counter()
    state0 = f"{cbase}/state"
    init_ingest_state(spark, state0)
    for k in range(3):
        ingest_batch(
            spark, docs.filter(F.col("doc_id") % 3 == k), k, state0,
            quality_gate=lambda df: df.filter(F.length("text") >= 200),
        )
    compact_fixture_sec = round(time.perf_counter() - t0, 3)
    fold_reps = []
    for r in range(3):
        cp = f"{cbase}/rep{r}"
        shutil.copytree(state0, cp)
        t0 = time.perf_counter()
        folded = compact_ingest_state(spark, cp, keep_last=1)
        fold_reps.append(round(time.perf_counter() - t0, 3))
        assert folded >= 2, f"fold consumed only {folded} dirs"
    timings["compact_ingest_state_fold"] = min(fold_reps)
    print(
        f"# compact_ingest_state: fixture {compact_fixture_sec}s, fold "
        f"{min(fold_reps)}s (min of {fold_reps})", file=sys.stderr,
    )
    shutil.rmtree(base, ignore_errors=True)
    shutil.rmtree(cbase, ignore_errors=True)
    return {
        "r9_queries": timings,
        "r9_total_sec": round(sum(timings.values()), 3),
        "ingest_fixture_sec": {
            "llm_ingest_stream": stream_fixture_sec,
            "compact_ingest_state": compact_fixture_sec,
        },
        "ingest_drain_decomposition": {
            "batch_bodies_sec": drain_batches,
            "n_batches": n_batches,
            "per_batch_mean_sec": per_batch_mean,
            "stream_startup_commit_sec": drain_startup,
        },
    }


def section_r10ops(sf_dir: str) -> dict:
    # round-10 surface: topic sanitization (regexp/substring map stage)
    # and the two checksum-in-message wire paths (encode -> decode ->
    # recompute-and-verify round trips; avro is the Arrow-batched pandas
    # UDF pair, simple is pure JVM to_json/from_json)
    spark = _spark()
    timings = _time_registry_set(
        spark,
        sf_dir,
        [
            "cdc_topic_sanitize",
            "codec_avro_checksum",
            "codec_simple_checksum",
            "codec_csv_binary_handle",
            "codec_simple_bootstrap_resend",
            "codec_compress_roundtrip",
            "codec_canal_trimmed_images",
            "codec_open_old_value",
            "codec_debezium_schema_block",
        ],
    )
    return {
        "r10_queries": timings,
        "r10_total_sec": round(sum(timings.values()), 3),
    }


def section_r11ops(sf_dir: str) -> dict:
    # round-11 surface: the claim-check protocol-fidelity quartet (all
    # CASE-projection encodes + one broadcast join reassembly each; the
    # open row additionally frames/unframes binary through JVM built-ins)
    spark = _spark()
    timings = _time_registry_set(
        spark,
        sf_dir,
        [
            "codec_claim_check_raw_value",
            "codec_claim_check_canal_envelope",
            "codec_open_claim_check",
            "codec_simple_claim_check",
            "codec_open_handle_key_only",
            "codec_simple_handle_key_only",
            "codec_simple_avro_roundtrip",
            "codec_simple_avro_events",
            "codec_simple_avro_ddl",
            "codec_canal_protobuf",
            "codec_canal_protobuf_ddl",
            "dedup_paragraph_first_wins",
            "codec_avro_handling_modes",
        ],
    )
    return {
        "r11_queries": timings,
        "r11_total_sec": round(sum(timings.values()), 3),
    }


def section_scaling(sf_dir: str) -> dict:
    # scaling-slope evidence (VERDICT r8 #7): time the most expensive
    # registry paths at the next sf DOWN (10x less data) AND the bench sf
    # and report the ratio — a superlinearity tripwire for the 100x claim.
    # With fixed per-job overhead (planning, codegen, task launch)
    # dominating at these scales, a linear plan shows a ratio well UNDER
    # 10; >= 10 means the data term already dominates AND grows no faster
    # than linearly only if the ratio stays ~10. Verdict bands: <= 12
    # ~linear-or-better, <= 30 watch (noise/overhead mix), > 30 red flag.
    # r10 (ADVICE): small_dir is DERIVED from sf_dir (sf/10), never
    # hardcoded — running the bench at sf0.01 now compares against
    # sf0.001 instead of silently comparing a scale to itself.
    spark = _spark()
    sf_txt = sf_dir.rstrip("/").split("sf")[-1]
    sf_val = float(sf_txt)
    small_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")),
                             f"sf{sf_val / 10:g}")
    assert small_dir != sf_dir.rstrip("/"), "scaling needs two scales"
    assert os.path.isdir(small_dir), f"missing small scale {small_dir}"
    # r10 (VERDICT #5): the headline rows/s claim rested on plan reading
    # alone — add the apply path (cdc_apply, cdc_compact) and the storage
    # consumer replay e2e to the slope evidence.
    names = [
        "sample_ppl_buckets",
        "dedup_keep_best",
        "dedup_semdedup",
        "dedup_index_compact",
        "validate_resume",
        "cdc_apply",
        "cdc_compact",
        "consumer_replay_storage_csv",
        # r11 (VERDICT #5): the two newest heavy paths — the Python-side
        # block codec (the one place per-row Python cost could hide) and
        # the Kafka-Connect schema-envelope string concat
        "codec_compress_roundtrip",
        "codec_debezium_schema_block",
        # r11: the simple-avro and canal-protobuf binary wires are the
        # other pandas-UDF paths — same per-row-Python tripwire
        # rationale as the block codec
        "codec_simple_avro_roundtrip",
        "codec_canal_protobuf",
        # r11 session 2: the two heaviest claim-check rows (CASE-projection
        # encode + broadcast reassembly join + frame parse) — the most
        # expensive registry entries of the round, slope-proven
        "codec_open_claim_check",
        "codec_claim_check_raw_value",
        # r12 (VERDICT r11 #8): the remaining two claim-check quartet
        # members — same envelope+external-payload rendering shape,
        # completing the quartet's slope coverage
        "codec_claim_check_canal_envelope",
        "codec_simple_claim_check",
        # r15 (VERDICT r14 #3): slope-prove the r14-restructured paths —
        # the binsearch round collapse, the storage recursive listing and
        # the typed-replay checkpoint boundary (dedup_keep_best, the CC
        # loop, is already covered above). The driver runs the bench at
        # two core counts, so each gets a data slope at both widths.
        "validate_binsearch",
        "sink_storage_roundtrip",
        "consumer_replay_debezium_typed",
    ]
    from tiflow_spark.plans.parity import REGISTRY

    out: dict = {}
    for name in names:
        ts = {}
        for label, d in (("small", small_dir), ("big", sf_dir)):
            fn, _ = REGISTRY[name]
            fn(spark, d).count()  # warm
            best = None
            for _rep in range(3):
                _fresh_cache(spark)
                t0 = time.perf_counter()
                fn(spark, d).count()
                el = time.perf_counter() - t0
                best = el if best is None or el < best else best
            ts[label] = round(best, 3)
        ratio = round(ts["big"] / ts["small"], 2) if ts["small"] else None
        verdict = (
            "~linear-or-better at 10x data"
            if ratio is not None and ratio <= 12
            else "mildly superlinear - watch"
            if ratio is not None and ratio <= 30
            else "SUPERLINEAR - red flag"
        )
        out[name] = {
            "sf0.01_sec": ts["small"],
            "sf_big_sec": ts["big"],
            "ratio_10x": ratio,
            "verdict": verdict,
        }
        print(
            f"# scaling {name}: {ts['small']}s -> {ts['big']}s "
            f"(x{ratio}) {verdict}",
            file=sys.stderr,
        )
    return {"scaling_10x": out}


def section_stream(sf_dir: str) -> dict:
    # steady-state streaming apply: seed the hash-bucket target with the
    # full state once, then time small incremental merges — per-batch cost
    # must be O(batch + touched buckets), flat as the target grows (the
    # 100-TB property of sinks/bucketed.merge_hash_bucketed)
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from tiflow_spark.envelope import events_to_changes, load_table
    from tiflow_spark.sinks.bucketed import compact_deltas, merge_hash_bucketed

    spark = _spark()
    env = events_to_changes(load_table(spark, sf_dir, "events"))
    changes = env.select(
        "op",
        F.col("table").alias("target_table"),
        "key",
        "commit_ts",
        "seq",
        F.col("after.id").alias("id"),
        F.col("after.balance").alias("balance"),
        F.col("after.note").alias("note"),
    )
    work = tempfile.mkdtemp(prefix="tiflow_bench_stream_")
    target = f"{work}/target"
    n_buckets = 1024
    # untimed warm pass on a scratch target: with section isolation (r7)
    # this is the FIRST job of a fresh JVM, so a cold timed seed would pay
    # whole-stage-codegen compile + committer warmup that r5/r6's
    # shared-JVM numbers never did — warm the same operators on a 1/16
    # subset, then time the real seed steady-state like every other section
    merge_hash_bucketed(
        changes.filter(F.col("seq") % 16 == 0),
        f"{work}/warm",
        n_buckets=n_buckets,
        batch_id=0,
    )
    t0 = time.perf_counter()
    merge_hash_bucketed(changes, target, n_buckets=n_buckets, batch_id=0)
    seed_sec = round(time.perf_counter() - t0, 3)
    batch_secs = []
    for i in (1, 2, 3):
        small = changes.filter(F.col("seq") % 1000 == i)
        t0 = time.perf_counter()
        merge_hash_bucketed(small, target, n_buckets=n_buckets, batch_id=i)
        batch_secs.append(round(time.perf_counter() - t0, 3))
    # merge-on-read steady state: O(batch) single-file delta appends, then
    # one compaction folding them into the buckets (maintenance cadence) —
    # the per-batch number is the standing-changefeed cost at any target size
    delta_secs = []
    for i in (4, 5, 6):
        small = changes.filter(F.col("seq") % 1000 == i)
        t0 = time.perf_counter()
        merge_hash_bucketed(
            small, target, n_buckets=n_buckets, batch_id=i, mode="delta"
        )
        delta_secs.append(round(time.perf_counter() - t0, 3))
    # compact_deltas mutates the target, so reps each run on a fresh COPY
    # of the delta'd state (copy untimed). r7's 16.9 s (vs r6's 5.95 s on
    # an identical plan) was a single COLD run in the isolated JVM — the
    # only stream op with neither a warm pass nor repetitions; warm +
    # min-of-3 pins the plan's cost instead of first-run codegen/committer
    # warmup (the same fix the r6→r7 headline got).
    warm_cp = f"{work}/compact_warm"
    shutil.copytree(target, warm_cp)
    compact_deltas(spark, warm_cp)
    compact_reps = []
    for r in range(3):
        cp = f"{work}/compact_rep{r}"
        shutil.copytree(target, cp)
        t0 = time.perf_counter()
        compact_deltas(spark, cp)
        compact_reps.append(round(time.perf_counter() - t0, 3))
    compact_sec = min(compact_reps)
    shutil.rmtree(work, ignore_errors=True)
    print(
        f"# stream seed {seed_sec}s; batches {batch_secs}; "
        f"delta batches {delta_secs}; compact {compact_sec}s "
        f"(min of {compact_reps})",
        file=sys.stderr,
    )
    return {
        "stream_seed_sec": seed_sec,
        "stream_batch_secs": batch_secs,
        "stream_delta_batch_secs": delta_secs,
        "stream_compact_sec": compact_sec,
        "stream_compact_reps": compact_reps,
    }


def section_incdedup(sf_dir: str) -> dict:
    # incremental dedup at a realistic batch:index ratio (~1:10): the full
    # sf corpus is the PERSISTED (capped) index on parquet — its build is
    # amortized across the ingest lifetime — and the timed path is the
    # per-batch cost: shingle the batch + band-keyed join against the index
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from tiflow_spark.llm.dedup import dedup_incremental, minhash_index

    spark = _spark()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    batch = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 500000).alias("doc_id"), "text"
    )
    idx_work = tempfile.mkdtemp(prefix="tiflow_bench_lshidx_")
    idx_sh_f, idx_banded_f = minhash_index(docs, 16, 4, max_bucket=8)
    idx_sh_f.write.parquet(f"{idx_work}/sh")
    idx_banded_f.write.parquet(f"{idx_work}/banded")
    idx_sh = spark.read.parquet(f"{idx_work}/sh")
    idx_banded = spark.read.parquet(f"{idx_work}/banded")
    dedup_incremental(batch, idx_sh, idx_banded, 16, 4, 0.5,
                      max_bucket=8).count()  # warm
    inc_best, n_pairs = None, 0
    for _rep in range(5):
        _fresh_cache(spark)
        t0 = time.perf_counter()
        n_pairs = dedup_incremental(
            batch, idx_sh, idx_banded, 16, 4, 0.5, max_bucket=8
        ).count()
        el = time.perf_counter() - t0
        inc_best = el if inc_best is None or el < inc_best else inc_best
    inc_sec = round(inc_best, 3)
    n_batch = batch.count()
    shutil.rmtree(idx_work, ignore_errors=True)
    print(
        f"# incremental dedup 1:10 ({n_batch} new vs {docs.count()} indexed):"
        f" {n_pairs} pairs in {inc_sec}s",
        file=sys.stderr,
    )
    return {"incremental_dedup_1to10_sec": inc_sec}


def section_live(sf_dir: str) -> dict:
    # live-trigger steady state: a STANDING processing-time changefeed
    # tails the source; report per-micro-batch trigger latencies for the
    # batches that actually carried rows (the standing-changefeed cost the
    # availableNow harness above can't see)
    import shutil
    import tempfile
    import time as _t

    from pyspark.sql import functions as F

    from tiflow_spark.envelope import events_to_changes, load_table
    from tiflow_spark.plans.parity import DEMO_CFG
    from tiflow_spark.streaming.pipeline import run_changefeed

    spark = _spark()
    env = events_to_changes(load_table(spark, sf_dir, "events"))
    live_work = tempfile.mkdtemp(prefix="tiflow_bench_live_")
    live_src = f"{live_work}/source"
    env.filter(F.col("seq") % 50 == 0).coalesce(1).write.parquet(live_src)
    q, _tgt = run_changefeed(
        spark, live_src, DEMO_CFG, live_work,
        processing_time="200 milliseconds",
    )
    try:
        # 5 appended files → ≥5 row-carrying batches (r7's 3 samples were
        # too few to separate first-batch warmup from steady state; the
        # MIN is the standing changefeed's per-trigger cost)
        for i in (1, 2, 3, 4, 5):
            env.filter(F.col("seq") % 50 == i).coalesce(1).write.mode(
                "append"
            ).parquet(live_src)
            _t.sleep(2.5)
        deadline = _t.time() + 45
        while _t.time() < deadline:
            p = q.lastProgress
            if p and p["numInputRows"] == 0:
                break
            _t.sleep(0.5)
        carrying = [p for p in q.recentProgress if p["numInputRows"] > 0]
        live_batch_ms = [
            p["durationMs"].get("triggerExecution") for p in carrying
        ]
    finally:
        q.stop()
    shutil.rmtree(live_work, ignore_errors=True)
    print(f"# live-trigger batch latencies (ms): {live_batch_ms}",
          file=sys.stderr)
    out = {
        "live_batch_ms": live_batch_ms,
        "live_batch_ms_min": min(live_batch_ms) if live_batch_ms else None,
    }
    # VERDICT r12 #7: decompose the first batch vs steady state. The
    # progress durationMs splits triggerExecution into addBatch (the
    # micro-batch's actual job: whole-stage-codegen compile on first run,
    # state/shuffle init, then steady execution), queryPlanning,
    # getBatch/latestOffset (source listing), walCommit/commitOffsets
    # (checkpoint I/O). If the first-vs-min delta sits in addBatch while
    # the bookkeeping components stay flat, the first-batch spike is
    # one-time session/stream warmup, not a recurring per-stream cost.
    if carrying:
        first, fastest = (
            carrying[0]["durationMs"],
            min(carrying, key=lambda p: p["durationMs"]["triggerExecution"])[
                "durationMs"
            ],
        )
        out["live_first_batch_decomposition"] = {
            "first_ms": dict(first),
            "steady_min_ms": dict(fastest),
            "delta_addbatch_ms": first.get("addBatch", 0)
            - fastest.get("addBatch", 0),
            "delta_other_ms": (
                first.get("triggerExecution", 0)
                - fastest.get("triggerExecution", 0)
            )
            - (first.get("addBatch", 0) - fastest.get("addBatch", 0)),
        }
    return out


def _flat_queries(merged: dict) -> dict[str, float]:
    """Every per-query scalar from the section dicts, flattened."""
    out: dict[str, float] = {}
    for v in merged.values():
        if isinstance(v, dict) and v and all(
            isinstance(x, (int, float)) and not isinstance(x, bool)
            for x in v.values()
        ):
            out.update(v)
    return out


# section keys whose dict values are genuine per-query timings (seconds,
# min-of-N) — the per-query payload of the driver-facing headline line.
# The decomposition dicts (ingest_fixture_sec, ingest_drain_decomposition)
# are deliberately NOT query timings and stay out of it.
_QUERY_SECTION_KEYS = (
    "queries", "r5_queries", "r6_queries", "r7_queries", "r8_queries",
    "r9_queries", "r10_queries", "r11_queries",
)


def _driver_queries(merged: dict, budget: int) -> dict[str, float]:
    """Per-query dict for the driver-parsed headline line (VERDICT r14 #2:
    per-query numbers must reach the driver's tail parse so PERF regains
    per_query/geomean/regression detection). The driver records a
    2000-char stdout tail and parses the LAST JSON line, so the whole line
    must fit — values keep 3 significant digits (a 4 ms query stays
    0.004, not 0.0) and, if the full registry set still overflows
    ``budget``, entries are greedily kept shortest-name-first to maximize
    coverage; every entry left out is named on stderr. The 11 legacy
    headline queries (present in the parsed line since round 1) are always
    kept — entries may be added, never removed."""
    flat: dict[str, float] = {}
    for key in _QUERY_SECTION_KEYS:
        flat.update(merged.get(key) or {})
    for k in ("stream_seed_sec", "stream_compact_sec",
              "incremental_dedup_1to10_sec"):
        if isinstance(merged.get(k), (int, float)):
            flat[k] = merged[k]
    flat = {k: float(f"{float(v):.3g}") for k, v in flat.items()}
    mandatory = set((merged.get("queries") or {}).keys())
    out = {k: v for k, v in flat.items() if k in mandatory}
    used = len(json.dumps(out, separators=(",", ":")))
    dropped = []
    for k in sorted(set(flat) - mandatory, key=lambda s: (len(s), s)):
        cost = len(json.dumps({k: flat[k]})) - 1  # {+} minus the comma
        if used + cost > budget:
            dropped.append(k)
            continue
        out[k] = flat[k]
        used += cost
    if dropped:
        print(f"# headline line over its {budget}-char budget; left out: "
              f"{', '.join(dropped)}", file=sys.stderr)
    return out


def _run_full_bench() -> dict:
    """One complete bench pass (all sections, each in its own JVM);
    returns the merged fragment dict."""
    merged: dict = {}
    for sec in SECTIONS:
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--section", sec],
            capture_output=True,
            text=True,
            env=os.environ,
        )
        sys.stderr.write(r.stderr)
        if r.returncode != 0:
            print(f"# section {sec} FAILED rc={r.returncode}",
                  file=sys.stderr)
            continue
        for line in reversed(r.stdout.strip().splitlines()):
            try:
                frag = json.loads(line)
            except (json.JSONDecodeError, ValueError):
                continue
            merged.update(frag)
            print(json.dumps({"section": sec, **frag},
                             separators=(",", ":")))
            break
    return merged


def variance(n: int) -> None:
    """VERDICT r12 #3: pin the bench noise floor — N back-to-back full
    runs on a quiet box, per-query mean±spread, and a noise-vs-real
    verdict for each query the r12 verdict flagged as a >15% regression
    on unchanged code. Written to bench_variance.json; main() merges it
    into bench_full.json['variance'] so the evidence survives the
    driver's round-end bench run."""
    runs = [_flat_queries(_run_full_bench()) for _ in range(n)]
    names = sorted(set().union(*[set(r) for r in runs]))
    per_query = {}
    for q in names:
        vals = [r[q] for r in runs if q in r]
        if not vals:
            continue
        mean = sum(vals) / len(vals)
        spread = max(vals) - min(vals)
        per_query[q] = {
            "vals": [round(v, 3) for v in vals],
            "mean": round(mean, 3),
            "spread_pct": round(100 * spread / mean, 1) if mean else 0.0,
        }
    # the r12-flagged noise suspects with their r11/r12 recorded values
    # (from bench_full.json at commits bf6c709 / 36f91e3). Verdict rule:
    # the regression is NOISE if the quiet-box min returns to within 10%
    # of the r11 value (it did not reproduce), REAL if even the quiet-box
    # min stays >15% above r11.
    flagged = {
        "consumer_replay_debezium": (0.635, 0.845),
        "dedup_span_remove_minlen": (0.553, 0.753),
        "dedup_semdedup": (3.113, 3.690),
        "codec_claim_check_canal_envelope": (5.894, 7.034),
        "compact_ingest_state_fold": (0.685, 0.950),
        "dedup_span_coverage": (0.400, 0.550),
        "consumer_replay_canal": (0.860, 1.042),
        "codec_claim_check_raw_value": (4.597, 5.500),
        "snapshot_load_status": (2.270, 2.659),
    }
    verdicts = {}
    for q, (r11, r12) in flagged.items():
        if q not in per_query:
            continue
        lo = min(per_query[q]["vals"])
        ratio = lo / r11
        verdicts[q] = {
            "r11": r11,
            "r12": r12,
            "quiet_min": lo,
            "quiet_min_over_r11": round(ratio, 2),
            "verdict": "noise"
            if ratio <= 1.10
            else ("real" if ratio >= 1.15 else "borderline"),
        }
    out = {"n_runs": n, "per_query": per_query, "verdicts": verdicts}
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "bench_variance.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"variance_runs": n, "verdicts": verdicts},
                     separators=(",", ":")))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    sf_num = float(sf) if sf.replace(".", "").isdigit() else sf

    if len(sys.argv) >= 3 and sys.argv[1] == "--section":
        frag = globals()[f"section_{sys.argv[2]}"](sf_dir)
        print(json.dumps(frag))
        return

    if len(sys.argv) >= 2 and sys.argv[1] == "--variance":
        variance(int(sys.argv[2]) if len(sys.argv) >= 3 else 3)
        return

    # EMISSION CONTRACT (round 10): the driver records only a 2000-char
    # tail of stdout, and round 9's single merged mega-line outgrew it
    # ("parsed": null — the only broken hard signal that round). Emit one
    # compact JSON line per section AS IT COMPLETES (full detail near the
    # tail for humans), dump the complete merged object to bench_full.json
    # for the evidence archive, and make the LAST stdout line a slim
    # headline summary (~150 chars) so the driver's tail parse always
    # lands on valid, headline-bearing JSON.
    merged = _run_full_bench()
    full = {
        "metric": "headline_queries_total_sec",
        "value": merged.get("value"),
        "unit": "sec",
        **{k: v for k, v in merged.items() if k != "value"},
        # ADVICE r14: record the core count so a scaling-probe run (e.g.
        # SPARK_GRAFT_CPUS=8) can never masquerade as a canonical
        # full-bench record when this file is compared across rounds.
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8)),
        "sf": sf_num,
    }
    # merge the quiet-box variance evidence (bench.py --variance N) so it
    # survives this file being rewritten by the driver's round-end run
    var_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_variance.json"
    )
    if os.path.exists(var_path):
        with open(var_path) as f:
            full["variance"] = json.load(f)
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "bench_full.json"), "w") as f:
        json.dump(full, f, indent=1)
    # VERDICT r14 #2: the final driver-parsed line carries the per-query
    # timings again (dropped in round 10 when the merged mega-line outgrew
    # the 2000-char tail — since then PERF per_query/geomean/regression
    # detection had no data). Budgeted so the WHOLE line always fits the
    # tail: ≤ 1900 chars incl. the wrapper keys, per-query values at 3
    # significant digits.
    slim = {
        "metric": "headline_queries_total_sec",
        "value": merged.get("value"),
        "unit": "sec",
        "queries": _driver_queries(merged, budget=1700),
        "core7_sec": merged.get("core7_sec"),
        "apply_rows_per_sec": merged.get("apply_rows_per_sec"),
        "sf": sf_num,
    }
    line = json.dumps(slim, separators=(",", ":"))
    assert len(line) <= 1900, f"headline line too long: {len(line)}"
    print(line)


if __name__ == "__main__":
    main()
