"""The workloads. Each drives the program only through the public entry
points a user calls:

* ``cdc_live``     - ``streaming.pipeline.run_changefeed(processing_time=...)``
  fed open-loop by a separate generator process;
* ``cdc_catchup``  - ``run_changefeed`` (availableNow) draining a backlog
  into a pre-seeded target, then ``validation.syncdiff.summary_report`` of
  the upstream table against ``sinks.bucketed.read_state`` of the target;
* ``mq_roundtrip`` - ``tools.create_changefeed("kafka://...canal-json")``
  then ``streaming.consumer.replay_broker_to_state``.

A workload prepares its inputs (``prepare``), warms, runs timed operations
for the requested seconds, and checks every output against ``oracle``.
"""

from __future__ import annotations

import dataclasses
import math
import multiprocessing
import os
import shutil
import statistics
import time
from collections import Counter
from datetime import datetime

import numpy as np
import pyarrow.parquet as pq

import gen
import oracle
import tracing as tr

N_BUCKETS = 32  # StreamingTarget's bucket count

# one file every 2.5 s (160 events/s offered): slower than the changefeed
# applies a file, so every micro-batch holds one file and its lag is the
# batch's own cost, not queueing behind earlier batches
LIVE = gen.StreamSpec(files=0, rows_per_file=400, key_space=1_000_000)
LIVE_INTERVAL_S = 2.5
LIVE_WARM_FILES = 3
LIVE_BACKLOG_GROWTH = 2  # files: a run whose backlog grows this much fails
LIVE_SNAPSHOT = 20_000
# one full micro-batch (run_changefeed reads 8 files per trigger): the
# saturation unit
CATCHUP = gen.StreamSpec(files=8, rows_per_file=5_000, key_space=100_000, zipf_s=1.1)
CATCHUP_SNAPSHOT = 50_000
MQ = gen.StreamSpec(files=5, rows_per_file=8_000, key_space=1_000_000)
MQ_PARTITIONS = 8
MQ_SINK = f"kafka://localhost:9092/cdc?protocol=canal-json&partition-num={MQ_PARTITIONS}"
DIFF = gen.DiffSpec(chunk_width=5_000, bad_chunks=3, missing=40, extra=25, different=30)
PAYLOAD_COLS = ["id", "balance", "note"]
SYNC_COLS = ["id", "target_table", "balance", "note"]


def task_config():
    """Table filter, delete filter on one table, shard-merge route and an
    index-value dispatcher - the rules ``oracle`` re-implements."""
    from tiflow_spark.config import (
        Dispatcher,
        EventFilterRule,
        RouteRule,
        TableRule,
        TaskConfig,
    )

    return TaskConfig(
        ignore_tables=(TableRule("*", "audit_*"),),
        event_filters=(
            EventFilterRule(tables=(TableRule("shop_0", "accounts"),), events=("D",)),
        ),
        routes=(RouteRule("shop_*", "orders", "shop", "orders_all"),),
        dispatchers=(Dispatcher(tables=(TableRule("*", "*"),), partition="index-value"),),
    )


@dataclasses.dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    tracer: tr.Tracer
    log: object
    traced: bool = False
    layer: dict = dataclasses.field(default_factory=dict)  # per-layer metrics (traced run)


@dataclasses.dataclass
class Outcome:
    rows_s: float
    latencies_ms: list[float]
    attempted: int
    failed: int
    samples: int = 0  # events behind the latency percentiles; 0 = one per op


def _fmt(values) -> str:
    return "[" + ", ".join(f"{v:.2f}" for v in values) + "]"


def percentile(values, q: float) -> float:
    return float(np.percentile(values, q)) if len(values) else 0.0


def _read_state_arrow(spark, target: str):
    from tiflow_spark.sinks.bucketed import read_state

    return read_state(spark, target).select(
        "target_table", "key", *PAYLOAD_COLS
    ).toArrow()


def _seed_target(spark, snapshot_path: str, target: str) -> None:
    from tiflow_spark.sinks.bucketed import merge_hash_bucketed

    merge_hash_bucketed(
        spark.read.parquet(snapshot_path), target, n_buckets=N_BUCKETS, batch_id=0
    )


def _timed_reps(ctx: Ctx, op, warm: int = 1):
    """Run ``op(i)`` (returns seconds measured) for ``ctx.seconds`` after
    ``warm`` untimed, untraced calls; at least 3 timed calls, or 1 in a
    traced run (its layers need one traced operation) or with 0 seconds."""
    ctx.tracer.enabled = False
    for i in range(warm):
        op(-1 - i)
    ctx.tracer.enabled = ctx.traced
    min_reps = 1 if ctx.traced or not ctx.seconds else 3
    times = []
    deadline = time.perf_counter() + ctx.seconds
    while len(times) < min_reps or time.perf_counter() < deadline:
        times.append(op(len(times)))
    return times


# ------------------------------------------------------------ streaming bits


def _progress(q) -> list[dict]:
    """Data-carrying micro-batches of a query, oldest first."""
    out = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
    return sorted(out, key=lambda p: p["batchId"])


def _file_batches(checkpoint: str) -> dict[str, int]:
    """Source file name -> micro-batch id, from the file source's metadata
    log in the checkpoint (plain and compacted entries). A batch's input
    row count cannot serve: ``foreachBatch`` actions rescan the source and
    inflate it."""
    import json

    log_dir = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f.read().splitlines()[1:]:
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def _batch_end(p: dict) -> float:
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
    return start.timestamp() + p["durationMs"]["triggerExecution"] / 1e3


def _streaming_layer(
    ctx: Ctx, batches: list[dict], wall_s: float, file_batch: dict, rows_per_file: int
) -> None:
    files_in = Counter(file_batch.values())

    def med(key):
        return statistics.median(b["durationMs"].get(key, 0) for b in batches)

    trig = [b["durationMs"]["triggerExecution"] for b in batches]
    ctx.layer.update(
        {
            "streaming.batches": len(batches),
            "streaming.rows_per_batch_p50": statistics.median(
                files_in[b["batchId"]] * rows_per_file for b in batches
            ),
            "streaming.trigger_ms_p50": statistics.median(trig),
            "streaming.addbatch_ms_p50": med("addBatch"),
            "streaming.planning_ms_p50": med("queryPlanning"),
            "streaming.wal_commit_ms_p50": med("walCommit"),
            "streaming.commit_offsets_ms_p50": med("commitOffsets"),
            "streaming.idle_ms": max(0.0, wall_s * 1e3 - sum(trig)),
            "sources.latest_offset_ms_p50": med("latestOffset"),
            "sources.get_batch_ms_p50": med("getBatch"),
        }
    )


def _trace_merges(ctx: Ctx) -> None:
    """Span + counts around ``sinks.bucketed.merge_hash_bucketed``: buckets
    whose directory was swapped, bytes under them, and rows rewritten per
    batch winner row (write amplification; the winner count is one extra
    job per merge)."""
    import tiflow_spark.sinks.bucketed as bucketed

    stats = ctx.layer.setdefault("_merges", [])

    def inodes(path):
        if not os.path.isdir(path):
            return {}
        return {
            e.name: e.inode() for e in os.scandir(path) if e.name.startswith("bucket=")
        }

    def before(changes, path, *a, **k):
        return inodes(path), changes.count()

    def after(rec, state, changes, path, *a, **k):
        old, winners = state
        new = inodes(path)
        touched = [b for b, ino in new.items() if old.get(b) != ino]
        files = [
            os.path.join(path, b, f)
            for b in touched
            for f in os.listdir(os.path.join(path, b))
            if f.endswith(".parquet")
        ]
        rows = sum(pq.read_metadata(f).num_rows for f in files)
        stats.append(
            {
                "ms": (rec["end"] - rec["start"]) * 1e3,
                "buckets": len(touched),
                "bytes": sum(os.path.getsize(f) for f in files),
                "amp": rows / winners if winners else None,
            }
        )

    ctx.tracer.wrap(bucketed, "merge_hash_bucketed", "sinks", before, after)


def _sinks_layer(ctx: Ctx, target: str) -> None:
    from tiflow_spark.sinks.bucketed import list_deltas, read_state

    merges = ctx.layer.pop("_merges", [])
    if merges:
        amps = [m["amp"] for m in merges if m["amp"] is not None]
        ctx.layer.update(
            {
                "sinks.merge_ms_p50": statistics.median(m["ms"] for m in merges),
                "sinks.buckets_touched_p50": statistics.median(
                    m["buckets"] for m in merges
                ),
                "sinks.bytes_written_per_batch": statistics.mean(
                    m["bytes"] for m in merges
                ),
                "sinks.write_amp": statistics.median(amps) if amps else 0.0,
            }
        )
    ctx.layer["sinks.pending_deltas"] = len(list_deltas(target))
    times, _ = tr.prefix_times(
        ctx.tracer, [("state", read_state(ctx.spark, target), "sinks")]
    )
    ctx.layer["sinks.read_state_ms"] = times["state"]


def _operator_prefixes(ctx: Ctx, files: list[str], mq: bool) -> None:
    """Self time of the lazy operator layers by prefix differencing over the
    workload's own input files."""
    from pyspark.sql import functions as F

    from tiflow_spark.operators import filters as flt
    from tiflow_spark.operators import transforms as tfm
    from tiflow_spark.operators.compactor import last_state_per_key
    from tiflow_spark.operators.dispatchers import dispatch
    from tiflow_spark.streaming.pipeline import ENVELOPE_SCHEMA

    cfg = task_config()
    env = ctx.spark.read.schema(ENVELOPE_SCHEMA).parquet(*files)
    kept = flt.apply_filters(env, cfg)
    split = tfm.split_updates(tfm.route(kept, cfg))
    prefixes = [
        ("read", env, "operators"),
        ("filter", kept, "operators"),
        ("split", split, "operators"),
    ]
    if mq:
        from tiflow_spark.codecs.canal_json import encode_canal_json

        prefixes.append(("dispatch", dispatch(split, cfg, num_partitions=MQ_PARTITIONS), "operators"))
        prefixes.append(("encode", encode_canal_json(split), "codecs"))
    else:
        prefixes.append(("compact", last_state_per_key(split, "target_table"), "operators"))
    t, n = tr.prefix_times(ctx.tracer, prefixes)
    ctx.layer.update(
        {
            "operators.filter_keep_ratio": n["filter"] / n["read"],
            "operators.split_ratio": n["split"] / n["filter"],
            "operators.filter_ms": t["filter"] - t["read"],
            "operators.route_split_ms": t["split"] - t["filter"],
        }
    )
    if mq:
        ctx.layer["operators.dispatch_ms"] = t["dispatch"] - t["split"]
        ctx.layer["codecs.encode_ms"] = t["encode"] - t["split"]
        parts = (
            dispatch(split, cfg, num_partitions=MQ_PARTITIONS)
            .groupBy("topic", "partition")
            .count()
            .agg(F.max("count").alias("mx"), F.avg("count").alias("avg"))
            .collect()[0]
        )
        ctx.layer["operators.partition_skew"] = parts["mx"] / parts["avg"]
    else:
        ctx.layer["operators.compact_ms"] = t["compact"] - t["split"]
        ctx.layer["operators.compact_ratio"] = n["compact"] / n["split"]


# ----------------------------------------------------------------- cdc_live


def feed(seed: int, start_at: float, n_files: int, source: str, stage: str, out):
    """Generator process: renames one envelope file into ``source`` every
    ``LIVE_INTERVAL_S`` from wall time ``start_at``, on schedule regardless
    of how the changefeed keeps up. ``commit_ts`` is the due time; the
    lateness of each file is reported back."""
    stream = gen.ChangeStream(_live_spec(n_files), seed)
    late = []
    for i in range(n_files):
        due = start_at + i * LIVE_INTERVAL_S
        pause = due - time.time()
        if pause > 0:
            time.sleep(pause)
        name = gen.file_name(i)
        stream.write(i, os.path.join(stage, name), commit_ts=int(due * 1e6))
        os.rename(os.path.join(stage, name), os.path.join(source, name))
        late.append(time.time() - due)
    out.put(late)


def _live_spec(n_files: int) -> gen.StreamSpec:
    return dataclasses.replace(LIVE, files=n_files)


class CdcLive:
    name = "cdc_live"

    def prepare(self, ctx: Ctx, d: str):
        os.makedirs(d)
        t0 = time.perf_counter()
        n_files = LIVE_WARM_FILES + math.ceil(ctx.seconds / LIVE_INTERVAL_S)
        snap = gen.snapshot_rows(LIVE_SNAPSHOT, LIVE.key_space, ctx.seed)
        pq.write_table(snap, os.path.join(d, "snapshot.parquet"))
        t1 = time.perf_counter()
        _seed_target(ctx.spark, os.path.join(d, "snapshot.parquet"), os.path.join(d, "cf", "target"))
        t2 = time.perf_counter()
        return {"dir": d, "n_files": n_files, "snap": snap}, t1 - t0, t2 - t1

    def run(self, ctx: Ctx, prep) -> Outcome:
        from tiflow_spark.streaming.pipeline import run_changefeed

        d, n_files = prep["dir"], prep["n_files"]
        warm_files = LIVE_WARM_FILES
        source, stage = os.path.join(d, "source"), os.path.join(d, "stage")
        os.makedirs(source)
        os.makedirs(stage)
        if ctx.traced:
            _trace_merges(ctx)
        ctx.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
        q, target = run_changefeed(
            ctx.spark,
            source,
            task_config(),
            os.path.join(d, "cf"),
            processing_time="100 milliseconds",
        )
        mp = multiprocessing.get_context("spawn")
        out = mp.Queue()
        start_at = time.time() + 1.0
        feeder = mp.Process(
            target=feed, args=(ctx.seed, start_at, n_files, source, stage, out)
        )
        feeder.start()
        ckpt = os.path.join(d, "cf", "checkpoint")
        try:
            late = out.get(timeout=n_files * LIVE_INTERVAL_S + 60)
            feeder.join(30)
            deadline = time.time() + 60
            while True:
                file_batch = _file_batches(ckpt)
                done = {p["batchId"] for p in _progress(q)}
                if len(file_batch) == n_files and set(file_batch.values()) <= done:
                    break
                if time.time() > deadline or q.exception() is not None:
                    raise RuntimeError("changefeed did not drain the live feed")
                time.sleep(0.1)
        finally:
            q.stop()
            if feeder.is_alive():
                feeder.terminate()
            feeder.join(30)
        batches = _progress(q)
        rpf = LIVE.rows_per_file
        end_of = {b["batchId"]: _batch_end(b) for b in batches}
        ends = [end_of[file_batch[gen.file_name(i)]] for i in range(n_files)]
        due = [start_at + i * LIVE_INTERVAL_S for i in range(n_files)]
        window = range(warm_files, n_files)
        lags = [(ends[i] - due[i]) * 1e3 for i in window]
        w0, w1 = due[warm_files], due[-1] + LIVE_INTERVAL_S
        # apply capacity: rows of the batches that applied the window's
        # files over the summed time those batches took
        files_in = Counter(file_batch.values())
        window_batches = {file_batch[gen.file_name(i)] for i in window}
        applied = [b for b in batches if b["batchId"] in window_batches]
        rows_s = sum(files_in[b["batchId"]] for b in applied) * rpf / sum(
            b["durationMs"]["triggerExecution"] / 1e3 for b in applied
        )

        # backlog (files due but not yet applied) sampled over the window
        def backlog(t):
            return sum(1 for i in range(n_files) if due[i] <= t < ends[i])

        grid = np.linspace(w0, w1, 41)
        quarter = len(grid) // 4
        first = statistics.median(backlog(t) for t in grid[:quarter])
        last = statistics.median(backlog(t) for t in grid[-quarter:])
        growing = last - first >= LIVE_BACKLOG_GROWTH
        expected = oracle.expected_target(
            sorted(os.path.join(source, f) for f in os.listdir(source)), prep["snap"]
        )
        bad = oracle.mismatches(_read_state_arrow(ctx.spark, target.target_path), expected)
        ctx.log(
            f"cdc_live: {len(window)} files in window, backlog first/last quarter "
            f"{first}/{last} files, oracle mismatches {bad}; window batches "
            f"{[(files_in[b['batchId']], b['durationMs']['triggerExecution']) for b in applied]} "
            f"(files, ms), lags {_fmt(lags)} ms"
        )
        if ctx.traced:
            in_window = [b for b in batches if _batch_end(b) >= w0]
            _streaming_layer(ctx, in_window, w1 - w0, file_batch, rpf)
            _sinks_layer(ctx, target.target_path)
            ctx.layer["sources.backlog_rows_end"] = backlog(w1) * rpf
            ctx.layer["sources.files_listed"] = len(os.listdir(source))
            ctx.layer["gen.late_ms_p99"] = percentile([x * 1e3 for x in late], 99)
            ctx.layer["gen.files"] = n_files
        failed = len(window) if (bad or growing) else 0
        return Outcome(rows_s, lags, len(window), failed, len(window) * rpf)


# -------------------------------------------------------------- cdc_catchup


class CdcCatchup:
    """Catch up, then verify: drain the backlog into a copy of the seeded
    target, then sync-diff the target against the upstream table. The
    upstream is the oracle's final state with known differences injected,
    so the report must give exactly those counts - any replication error
    shows as extra differences."""

    name = "cdc_catchup"

    def prepare(self, ctx: Ctx, d: str):
        t0 = time.perf_counter()
        stream = gen.ChangeStream(CATCHUP, ctx.seed)
        files = gen.write_backlog(stream, os.path.join(d, "source"))
        snap = gen.snapshot_rows(CATCHUP_SNAPSHOT, CATCHUP.key_space, ctx.seed)
        pq.write_table(snap, os.path.join(d, "snapshot.parquet"))
        replica = oracle.expected_target(files, snap).select(SYNC_COLS)
        upstream, want = gen.diverged_upstream(replica, DIFF, ctx.seed)
        pq.write_table(upstream, os.path.join(d, "upstream.parquet"))
        t1 = time.perf_counter()
        _seed_target(ctx.spark, os.path.join(d, "snapshot.parquet"), os.path.join(d, "seed"))
        t2 = time.perf_counter()
        return {"dir": d, "files": files, "want": want}, t1 - t0, t2 - t1

    def run(self, ctx: Ctx, prep) -> Outcome:
        from tiflow_spark.sinks.bucketed import read_state
        from tiflow_spark.streaming.pipeline import run_changefeed
        from tiflow_spark.validation import syncdiff

        d, files = prep["dir"], prep["files"]
        sp = ctx.spark
        cfg = task_config()
        if ctx.traced:
            _trace_merges(ctx)
        progress, reports, split = {}, [], []

        def op(i):
            rep = os.path.join(d, f"rep{i}")
            target = os.path.join(rep, "target")
            shutil.copytree(os.path.join(d, "seed"), target)
            sp.catalog.clearCache()
            t0 = time.perf_counter()
            q, _ = run_changefeed(sp, os.path.join(d, "source"), cfg, rep)
            t1 = time.perf_counter()
            with ctx.tracer.span("summary_report", "validation"):
                report = syncdiff.summary_report(
                    sp.read.parquet(os.path.join(d, "upstream.parquet")),
                    read_state(sp, target),
                    pk="id",
                    cols=SYNC_COLS,
                    width=DIFF.chunk_width,
                ).collect()[0]
            t2 = time.perf_counter()
            if i >= 0:
                progress[i] = (_progress(q), t1 - t0, _file_batches(os.path.join(rep, "checkpoint")))
                reports.append(report.asDict())
                split.append((t1 - t0, t2 - t1))
            else:
                shutil.rmtree(rep)
            return t2 - t0

        times = _timed_reps(ctx, op)
        want = prep["want"]
        failed = sum(any(r[k] != v for k, v in want.items()) for r in reports)
        ctx.log(
            f"cdc_catchup: {len(times)} drain+check {_fmt(times)} s, {failed} wrong; "
            f"expected {want}"
        )
        if failed:
            ctx.log(f"cdc_catchup reports: {reports}")
        if ctx.traced:
            batches, el, file_batch = progress[0]
            _streaming_layer(ctx, batches, el, file_batch, CATCHUP.rows_per_file)
            drain = statistics.median(a for a, _ in split)
            check = statistics.median(b for _, b in split)
            ctx.layer.update(
                {
                    "catchup.drain_ms_p50": drain * 1e3,
                    "catchup.drain_rows_s": CATCHUP.rows / drain,
                    "validation.report_ms_p50": check * 1e3,
                    "validation.rows_s": want["up_count"] / check,
                    "sources.files_listed": len(files),
                }
            )
            target = os.path.join(d, "rep0", "target")
            _sinks_layer(ctx, target)
            _validation_layer(ctx, os.path.join(d, "upstream.parquet"), target, reports[0])
            _operator_prefixes(ctx, files, mq=False)
        return Outcome(
            CATCHUP.rows / statistics.median(times),
            [t * 1e3 for t in times],
            len(times),
            failed,
        )


def _validation_layer(ctx: Ctx, upstream: str, target: str, report: dict) -> None:
    """Checksum pass and row-diff pass of sync-diff, timed separately."""
    from pyspark.sql import functions as F

    from tiflow_spark.sinks.bucketed import read_state
    from tiflow_spark.validation import syncdiff

    sp = ctx.spark
    src, dst = sp.read.parquet(upstream), read_state(sp, target)
    args = ("id", SYNC_COLS, DIFF.chunk_width)
    t, _ = tr.prefix_times(
        ctx.tracer, [("checksum", syncdiff.compare_checksums(src, dst, *args), "validation")]
    )
    cc = syncdiff.compare_checksums(src, dst, *args).persist()
    bad_rows = cc.filter(~F.col("match")).agg(F.sum("src_cnt")).collect()[0][0]
    row_diff = syncdiff.targeted_row_diff(src, dst, *args, checksums=cc)
    diff, _ = tr.prefix_times(
        ctx.tracer, [("row_diff", row_diff, "validation")], clear_cache=False
    )
    cc.unpersist()
    ctx.layer.update(
        {
            "validation.checksum_ms": t["checksum"],
            "validation.rowdiff_ms": diff["row_diff"],
            "validation.chunks_total": report["chunk_total"],
            "validation.chunks_failed": report["chunk_failed"],
            "validation.rowjoin_ratio": bad_rows / report["up_count"],
        }
    )


# ------------------------------------------------------------- mq_roundtrip


class MqRoundtrip:
    name = "mq_roundtrip"

    def prepare(self, ctx: Ctx, d: str):
        t0 = time.perf_counter()
        stream = gen.ChangeStream(MQ, ctx.seed)
        files = gen.write_backlog(stream, os.path.join(d, "source"))
        t1 = time.perf_counter()
        return {"dir": d, "files": files}, t1 - t0, 0.0

    def run(self, ctx: Ctx, prep) -> Outcome:
        from tiflow_spark import tools
        from tiflow_spark.streaming.consumer import replay_broker_to_state

        d, files = prep["dir"], prep["files"]
        cfg = task_config()
        if ctx.traced:
            import tiflow_spark.sinks.mq as mq

            ctx.tracer.wrap(mq, "produce_file_broker", "sinks")
        split = []

        def op(i):
            rep = os.path.join(d, f"rep{i}")
            ctx.spark.catalog.clearCache()
            t0 = time.perf_counter()
            _, broker = tools.create_changefeed(
                ctx.spark, os.path.join(d, "source"), cfg, MQ_SINK, rep
            )
            t1 = time.perf_counter()
            with ctx.tracer.span("replay_broker_to_state", "consumer"):
                state = replay_broker_to_state(ctx.spark, broker)
                state.write.mode("overwrite").parquet(os.path.join(rep, "applied"))
            t2 = time.perf_counter()
            split.append((t1 - t0, t2 - t1))
            return t2 - t0

        times = _timed_reps(ctx, op, warm=2)
        split = split[-len(times):]
        expected = oracle.expected_replay(files)
        failed = 0
        for i in range(len(times)):
            applied = pq.read_table(os.path.join(d, f"rep{i}", "applied"))
            failed += oracle.mismatches(applied, expected) > 0
        ctx.log(f"mq_roundtrip: {len(times)} round trips {_fmt(times)} s, {failed} wrong")
        rows = MQ.rows
        if ctx.traced:
            broker = os.path.join(d, "rep0", "broker")
            self._trace_layers(ctx, broker, files, split)
        return Outcome(
            rows / statistics.median(times), [t * 1e3 for t in times], len(times), failed
        )

    def _trace_layers(self, ctx: Ctx, broker: str, files, split) -> None:
        from pyspark.sql import functions as F

        from tiflow_spark.codecs.canal_json import decode_canal_json
        from tiflow_spark.sinks.mq import consume_file_broker
        from tiflow_spark.streaming.consumer import replay_broker_to_state

        produce = ctx.tracer.durations_ms("produce_file_broker")
        replay = [b for _, b in split]
        ctx.layer["sinks.mq_produce_ms"] = statistics.median(produce) if produce else 0.0
        ctx.layer["mq.produce_rows_s"] = MQ.rows / statistics.median(a for a, _ in split)
        ctx.layer["mq.replay_rows_s"] = MQ.rows / statistics.median(replay)
        ctx.layer["sinks.mq_segment_files"] = sum(
            f.endswith(".parquet") for _, _, fs in os.walk(broker) for f in fs
        )
        msgs = consume_file_broker(ctx.spark, broker)
        ctx.layer["codecs.bytes_per_msg"] = msgs.agg(
            F.avg(F.length("value"))
        ).collect()[0][0]
        t, _ = tr.prefix_times(
            ctx.tracer,
            [
                ("consume", msgs, "consumer"),
                ("decode", decode_canal_json(msgs), "codecs"),
                ("replay", replay_broker_to_state(ctx.spark, broker), "consumer"),
            ],
        )
        ctx.layer["codecs.decode_ms"] = t["decode"] - t["consume"]
        ctx.layer["consumer.replay_ms"] = t["replay"]
        ctx.layer["consumer.fold_ms"] = t["replay"] - t["decode"]
        _operator_prefixes(ctx, files, mq=True)


WORKLOADS = {w.name: w for w in (CdcLive(), CdcCatchup(), MqRoundtrip())}


def _engine_metrics():
    units = {"task_cpu_ms": "ms"}
    return [
        (f"{layer}.{f}", units.get(f, "bytes"))
        for layer in tr.ENGINE_LAYERS
        for f in tr.ENGINE_FIELDS
    ]


#: every per-layer metric of a traced run, with its unit
PER_LAYER = [
    ("streaming.batches", "count"),
    ("streaming.rows_per_batch_p50", "rows"),
    ("streaming.trigger_ms_p50", "ms"),
    ("streaming.addbatch_ms_p50", "ms"),
    ("streaming.planning_ms_p50", "ms"),
    ("streaming.wal_commit_ms_p50", "ms"),
    ("streaming.commit_offsets_ms_p50", "ms"),
    ("streaming.idle_ms", "ms"),
    ("sources.latest_offset_ms_p50", "ms"),
    ("sources.get_batch_ms_p50", "ms"),
    ("sources.backlog_rows_end", "rows"),
    ("sources.files_listed", "count"),
    ("operators.filter_keep_ratio", "ratio"),
    ("operators.split_ratio", "ratio"),
    ("operators.compact_ratio", "ratio"),
    ("operators.filter_ms", "ms"),
    ("operators.route_split_ms", "ms"),
    ("operators.compact_ms", "ms"),
    ("operators.dispatch_ms", "ms"),
    ("operators.partition_skew", "ratio"),
    ("sinks.merge_ms_p50", "ms"),
    ("sinks.buckets_touched_p50", "count"),
    ("sinks.bytes_written_per_batch", "bytes"),
    ("sinks.write_amp", "ratio"),
    ("sinks.pending_deltas", "count"),
    ("sinks.read_state_ms", "ms"),
    ("codecs.encode_ms", "ms"),
    ("codecs.bytes_per_msg", "bytes"),
    ("sinks.mq_produce_ms", "ms"),
    ("sinks.mq_segment_files", "count"),
    ("codecs.decode_ms", "ms"),
    ("consumer.replay_ms", "ms"),
    ("consumer.fold_ms", "ms"),
    ("mq.produce_rows_s", "rows/s"),
    ("mq.replay_rows_s", "rows/s"),
    ("catchup.drain_ms_p50", "ms"),
    ("catchup.drain_rows_s", "rows/s"),
    ("validation.report_ms_p50", "ms"),
    ("validation.rows_s", "rows/s"),
    ("validation.checksum_ms", "ms"),
    ("validation.rowdiff_ms", "ms"),
    ("validation.chunks_total", "count"),
    ("validation.chunks_failed", "count"),
    ("validation.rowjoin_ratio", "ratio"),
    *_engine_metrics(),
    ("jvm.gc_ms", "ms"),
    ("gen.late_ms_p99", "ms"),
    ("gen.files", "count"),
    ("setup.session_ms", "ms"),
    ("setup.datagen_ms", "ms"),
    ("setup.fixture_ms", "ms"),
    ("latency.samples", "count"),
    ("latency.p99_ms", "ms"),
    ("catchup.rows_s_1cpu", "rows/s"),
    ("catchup.cpu_scaling", "ratio"),
    ("trace.overhead_pct", "%"),
]
