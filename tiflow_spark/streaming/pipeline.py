"""Streaming changefeed — the reference's TiCDC/DM sync loop on Structured
Streaming.

Mapping (SURVEY.md §3.1/§3.2):
  puller + sorter        → readStream over the envelope source (file/Kafka);
                           per-batch sortWithinPartitions restores order
  mounter/filter/route   → the SAME batch operators (pure DataFrame
                           transforms work unchanged on streaming frames)
  sink manager           → foreachBatch → idempotent MERGE into the target
                           (max-(commit_ts,seq)-wins ≈ safe-mode REPLACE)
  resolved-ts/frontier   → withWatermark + per-batch progress rows
  checkpoint-ts          → Structured Streaming checkpoint + _progress table
  syncpoint              → per-batch (batch_id, max commit_ts) records

Exactly-once story = at-least-once delivery + idempotent apply, the same
contract the reference documents (SURVEY.md §2.10): replaying a micro-batch
re-MERGEs the same (key, commit_ts, seq) winners — a no-op.

The streaming target here is a parquet-rewrite MERGE (works everywhere, fine
for tests); on a real deployment foreachBatch swaps in Delta/Iceberg
MERGE INTO or a JDBC upsert — the batch function is the pluggable seam.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tiflow_spark.config import TaskConfig
from tiflow_spark.operators import filters as flt
from tiflow_spark.operators import transforms as tfm

def envelope_schema(payload: T.StructType) -> T.StructType:
    """CDC envelope schema for an arbitrary row payload: the fixed metadata
    columns every event carries plus ``before``/``after`` structs of the
    replicated table's shape. The payload is per-deployment data, never a
    constant in engine code."""
    return T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("schema", T.StringType()),
            T.StructField("table", T.StringType()),
            T.StructField("commit_ts", T.LongType()),
            T.StructField("start_ts", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("key", T.StringType()),
            T.StructField("before", payload),
            T.StructField("after", payload),
        ]
    )


# the test-fixture payload (FIXTURES.md bank-transfer table)
DEMO_PAYLOAD = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("balance", T.DoubleType()),
        T.StructField("note", T.StringType()),
    ]
)
ENVELOPE_SCHEMA = envelope_schema(DEMO_PAYLOAD)


def read_change_stream(
    spark: SparkSession,
    source_dir: str,
    max_files: int = 8,
    schema: T.StructType | None = None,
) -> DataFrame:
    """File-based CDC source: envelope-parquet files appearing in a directory
    (mirror of the reference's cloud-storage source / kafka-consumer input).

    maxFilesPerTrigger bounds batch size — the backpressure knob the
    reference implements with memory quotas (processor/memquota)."""
    return (
        spark.readStream.schema(schema or ENVELOPE_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(source_dir)
    )


def transform_stream(stream: DataFrame, cfg: TaskConfig) -> DataFrame:
    """filter → route → update-split — identical operators as batch mode."""
    out = flt.apply_filters(stream, cfg)
    out = tfm.route(out, cfg)
    return tfm.split_updates(out)


def _observed_progress(obs: Observation, batch: DataFrame) -> dict:
    """The batch's (resolved_ts, events), observed during the merge's scan.
    When the batch is empty (every event filtered out), AQE drops the
    observed scan from the final plan and Spark reports no metrics for it:
    ``get`` fails, and the record of an empty batch is returned. Any other
    failure is raised."""
    try:
        return obs.get
    except Py4JJavaError:
        if not batch.isEmpty():
            raise
        return {"resolved_ts": None, "events": 0}


_PROGRESS_SCHEMA = pa.schema(
    [
        ("batch_id", pa.int32()),
        ("resolved_ts", pa.int64()),
        ("events", pa.int64()),
    ]
)


def _write_progress(progress_path: str, batch_id: int, observed: dict) -> None:
    """Write one batch's progress record as ``batch-<id>.parquet`` with
    pyarrow: a fsynced dot-named temp file (invisible to Spark reads), then
    an atomic ``os.replace``."""
    os.makedirs(progress_path, exist_ok=True)
    record = pa.table(
        {
            "batch_id": [batch_id],
            "resolved_ts": [observed["resolved_ts"]],
            "events": [observed["events"]],
        },
        schema=_PROGRESS_SCHEMA,
    )
    name = f"batch-{batch_id}.parquet"
    tmp = os.path.join(progress_path, f".{name}.tmp")
    with open(tmp, "wb") as f:
        pq.write_table(record, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(progress_path, name))


@dataclass
class StreamingTarget:
    """Hash-bucket-partitioned parquet MERGE target + progress bookkeeping.

    Per-batch cost is O(batch + touched buckets), never O(target) — see
    sinks/bucketed.merge_hash_bucketed.
    """

    target_path: str
    progress_path: str
    # batches carry the target key (target_table, key); n_buckets sizes a
    # new target and must match an existing one
    n_buckets: int = 32
    # "rewrite" = copy-on-write (cheapest reads); "delta" = merge-on-read
    # O(batch) delta commits, folded by sinks/bucketed.compact_deltas at
    # maintenance cadence (see merge_hash_bucketed docstring)
    merge_mode: str = "rewrite"
    # delta mode: fold accumulated deltas every N batches (0 = manual).
    # Bounds resolve-at-read cost to <= N batches of deltas — the
    # level-0-file cap of an LSM.
    compact_every: int = 8
    # every N batches, hardlink-snapshot the target at the batch's
    # resolved_ts (syncpointstore consistent reads; 0 = off). Snapshots
    # land under <target>/../syncpoints.
    syncpoint_every: int = 0

    def merge_batch(self, batch: DataFrame, batch_id: int) -> None:
        """Idempotent MERGE of one micro-batch (runs on the driver inside
        foreachBatch, all heavy lifting stays distributed).

        1. project each event's ``after`` image to the target's columns
        2. merge into ONLY the hash buckets the batch touches; the merge is
           the one place that keeps the max-(commit_ts, seq, op) winner per
           key (replay-idempotent)
        3. write the batch's progress record, observed during step 2's
           scan (the batch is scanned once)
        """
        from tiflow_spark.sinks.bucketed import merge_hash_bucketed

        # progress rides on the merge's own scan of the batch: an
        # Observation, not a second aggregation job over the batch
        obs = Observation()
        observed = batch.observe(
            obs,
            F.max("commit_ts").alias("resolved_ts"),
            F.count(F.lit(1)).alias("events"),
        )
        # payload columns come from the batch's own `after` struct — the
        # envelope schema is per-deployment data, not engine constants
        meta = ("target_table", "key", "op", "commit_ts", "seq")
        payload = [
            f.name
            for f in observed.schema["after"].dataType.fields
            if f.name not in meta
        ]
        changes = observed.select(
            *meta, *[F.col(f"after.{c}").alias(c) for c in payload]
        )
        # every merge path (create, rewrite, delta) runs an action over
        # `changes`, so the observed plan has run before obs.get
        merge_hash_bucketed(
            changes,
            self.target_path,
            n_buckets=self.n_buckets,
            batch_id=batch_id,
            mode=self.merge_mode,
        )
        if (
            self.merge_mode == "delta"
            and self.compact_every
            and batch_id > 0
            and batch_id % self.compact_every == 0
        ):
            from tiflow_spark.sinks.bucketed import compact_deltas

            compact_deltas(batch.sparkSession, self.target_path)
        # the reference's checkpoint-ts + syncpoint store (§2.7, §2.10):
        # one (batch_id, resolved_ts, events) record per batch, keyed by
        # batch_id — a replayed batch overwrites its own record, so the
        # progress table holds every batch exactly once
        _write_progress(
            self.progress_path, batch_id, _observed_progress(obs, batch)
        )
        if self.syncpoint_every and batch_id % self.syncpoint_every == 0:
            # the syncpoint label is the resolved FRONTIER — max commit_ts
            # across every batch applied so far (monotone, like the
            # reference's primary_ts), not this batch's own max: file
            # arrival order is not ts order, so a later batch can carry
            # earlier timestamps. The frontier read is metadata-scale
            # (progress rows: one per batch).
            spark = batch.sparkSession
            frontier = (
                spark.read.parquet(self.progress_path)
                .agg(F.max("resolved_ts").alias("ts"))
                .collect()[0]["ts"]
            )
            if frontier is not None:
                from tiflow_spark.sinks.bucketed import syncpoint_snapshot

                syncpoint_snapshot(
                    self.target_path,
                    os.path.join(
                        os.path.dirname(self.target_path.rstrip("/")),
                        "syncpoints",
                    ),
                    int(frontier),
                    info={"batch_id": batch_id},
                    key=f"b{batch_id}",
                )


def _start_changefeed(
    spark: SparkSession,
    source_dir: str,
    cfg: TaskConfig,
    work_dir: str,
    target: StreamingTarget,
    max_files: int = 8,
    processing_time: str | None = None,
):
    """Start the stream ``readStream → transform_stream →
    foreachBatch(target.merge_batch)``, checkpointed under ``work_dir``:
    an availableNow drain, or a standing query on ``processing_time``."""
    writer = (
        transform_stream(read_change_stream(spark, source_dir, max_files), cfg)
        .writeStream.foreachBatch(target.merge_batch)
        .option("checkpointLocation", os.path.join(work_dir, "checkpoint"))
    )
    if processing_time is not None:
        return writer.trigger(processingTime=processing_time).start()
    return writer.trigger(availableNow=True).start()


def run_changefeed(
    spark: SparkSession,
    source_dir: str,
    cfg: TaskConfig,
    work_dir: str,
    merge_mode: str = "rewrite",
    syncpoint_every: int = 0,
    processing_time: str | None = None,
):
    """End-to-end streaming changefeed.

    Default trigger is availableNow: the call returns once the source is
    drained (the batch-boundary semantics most integration tests use). Pass
    ``processing_time`` (e.g. ``"500 milliseconds"``) for a STANDING
    changefeed that tails the source live — the reference's normal
    changefeed lifecycle; stop it with ``q.stop()`` (graceful: the
    in-flight micro-batch completes or replays on restart, same
    crash-resume contract) and resume later from the same checkpoint in
    either trigger mode (the pause→resume scenario)."""
    target = StreamingTarget(
        target_path=os.path.join(work_dir, "target"),
        progress_path=os.path.join(work_dir, "progress"),
        merge_mode=merge_mode,
        syncpoint_every=syncpoint_every,
    )
    q = _start_changefeed(
        spark, source_dir, cfg, work_dir, target,
        processing_time=processing_time,
    )
    if processing_time is None:
        q.awaitTermination()
    return q, target


class DDLStreamingTarget(StreamingTarget):
    """Streaming target with live DDL-driven schema evolution — the
    reference's ddl_sequence scenario (cdc/owner/ddl_manager.go:508 barrier
    + cdc/entry/schema_storage.go HandleDDLJob + mounter backfill).

    Each micro-batch decodes its events against the registry version in
    effect at their commit_ts (as-of join against the DDL-derived registry)
    and a column introduced by an ADD COLUMN DDL reaches the target only
    once a batch contains events at-or-past that DDL — i.e. after every
    earlier DML has drained, which is exactly the barrier ordering. The
    decoded batch then goes through the one apply loop,
    ``StreamingTarget.merge_batch`` (merge, compaction, progress,
    syncpoints).

    The per-batch max-version probe (the role the owner's barrier tick
    plays) is a second scan of each micro-batch, so ``numInputRows`` reads
    twice the events: the applied version must be known before the merge
    is planned, because it fixes the target's columns at the barrier."""

    def __init__(
        self,
        target_path: str,
        progress_path: str,
        registry,
        logical_table: str = "events",
        n_buckets: int = 32,
        truncates: list[tuple[str, int]] | None = None,
        merge_mode: str = "rewrite",
        compact_every: int = 8,
    ):
        super().__init__(
            target_path=target_path,
            progress_path=progress_path,
            n_buckets=n_buckets,
            merge_mode=merge_mode,
            compact_every=compact_every,
        )
        self.registry = registry
        self.logical_table = logical_table
        self.truncates = truncates or []
        self._state_path = f"{target_path}.ddl_state.json"

    def _load_applied_version(self) -> int:
        from tiflow_spark.sinks.bucketed import _read_json

        # torn/corrupt state files fall back to "nothing applied yet" — the
        # registry probe of the next batch re-derives the floor
        state = _read_json(self._state_path)
        return state["version"] if state else 1

    def _save_applied_version(self, v: int) -> None:
        from tiflow_spark.sinks.bucketed import _atomic_write_json

        _atomic_write_json(self._state_path, {"version": v})

    def _columns_at(self, version: int) -> list[str]:
        """Target column list of the highest registry version <= `version` —
        derived entirely from the DDL-folded registry (no per-deployment
        names in engine code). Registry is metadata-scale; cached."""
        if not hasattr(self, "_version_columns"):
            self._version_columns = {
                r.version_no: list(r.columns)
                for r in self.registry.select("version_no", "columns").collect()
            }
        vers = self._version_columns
        eligible = [v for v in vers if v <= version]
        pick = max(eligible) if eligible else min(vers)
        return vers[pick]

    def merge_batch(self, batch: DataFrame, batch_id: int) -> None:
        from tiflow_spark.sources.schema_registry import (
            asof_resolve,
            decode_with_schema,
        )

        env = batch.withColumn("logical_table", F.lit(self.logical_table))
        # asof_resolve is a left join: every event of the batch survives,
        # so the observed progress counts the batch's events
        dec = decode_with_schema(
            asof_resolve(env, self.registry), self.registry
        )
        probe = dec.agg(
            F.max("version_no").alias("vmax"),
            F.max("commit_ts").alias("hwm"),
        ).collect()[0]
        vmax = probe.vmax or 1
        # applied-DDL state persists across batches AND restarts — a
        # replayed batch of pre-DDL events must never narrow the evolved
        # target schema (the reference checkpoints executed DDL the same
        # way, ddl_manager's checkpointTs)
        applied = max(vmax, self._load_applied_version())
        # the base loop projects `after` minus the envelope's own columns
        after = F.struct(
            *[F.col(f"{c}_resolved").alias(c) for c in self._columns_at(applied)]
        )
        super().merge_batch(
            dec.select(
                "target_table", "key", "op", "commit_ts", "seq",
                after.alias("after"),
            ),
            batch_id,
        )
        # truncate DDLs whose barrier this batch reached: metadata-only
        # watermark, monotone → replay-idempotent, O(1) in target size
        if probe.hwm is not None:
            from tiflow_spark.sinks.bucketed import truncate_table

            for t, ts in self.truncates:
                if ts <= probe.hwm:
                    truncate_table(self.target_path, t, ts)
        # persist applied-DDL state only AFTER the merge committed: a failed
        # merge must not advance schema state (the replayed batch redoes
        # both). Atomic write → a crash can't tear the file.
        self._save_applied_version(applied)


def run_changefeed_with_ddl(
    spark: SparkSession,
    source_dir: str,
    cfg: TaskConfig,
    work_dir: str,
    ddl: DataFrame,
    logical_table: str = "events",
    max_files: int = 8,
):
    """Changefeed consuming BOTH channels: DML from the file source, DDL
    from the side-channel. The registry folds from the DDL stream
    (HandleDDLJob analog) and the target schema evolves at the barrier."""
    from tiflow_spark.sources.ddl_stream import (
        registry_from_ddl,
        truncate_events,
    )

    registry = registry_from_ddl(ddl).filter(
        F.col("table") == logical_table
    )
    # truncates are applied under the TARGET table name; with route rules
    # in cfg, pass pre-mapped pairs to DDLStreamingTarget directly
    target = DDLStreamingTarget(
        target_path=os.path.join(work_dir, "target"),
        progress_path=os.path.join(work_dir, "progress"),
        registry=registry,
        logical_table=logical_table,
        truncates=[
            (t, ts) for t, ts in truncate_events(ddl) if t == logical_table
        ],
    )
    q = _start_changefeed(spark, source_dir, cfg, work_dir, target, max_files)
    q.awaitTermination()
    return q, target


class OptimisticShardTarget(StreamingTarget):
    """Streaming target that ENFORCES optimistic shard-DDL conflicts
    (dm/syncer/shardddl/optimist.go): when the lattice join of per-shard
    schemas is undefined for a table (incompatible column types seen), that
    table's replication pauses — its events are parked in a pending store —
    while every other table keeps applying. When a later DDL reconciles the
    lattice, the parked events flush IN ORDER (the merge's
    max-(commit_ts, seq)-wins resolution restores per-key order across the
    pause) together with the live batch.

    The pause set is re-evaluated per micro-batch from the DDLs seen up to
    the batch's high-water mark — the same information horizon the DM
    coordinator has."""

    def __init__(
        self,
        target_path: str,
        progress_path: str,
        shard_ddl: DataFrame,
        pending_path: str,
        gate_col: str = "table",
        n_buckets: int = 32,
    ):
        super().__init__(
            target_path=target_path,
            progress_path=progress_path,
            n_buckets=n_buckets,
        )
        self.shard_ddl = shard_ddl
        self.pending_path = pending_path
        self.gate_col = gate_col

    def _settle_pending(self) -> None:
        """Finish a pending-store shrink that a crash cut short. The shrink
        writes the still-held rows to ``.tmp``, moves the old store to
        ``.old``, then the new one into place: past the first move the new
        store is complete and is rolled forward; before it, the old store
        is kept and the replayed batch redoes the shrink."""
        tmp, old = f"{self.pending_path}.tmp", f"{self.pending_path}.old"
        moved = os.path.isdir(old) and not os.path.isdir(self.pending_path)
        if moved and os.path.isdir(tmp):
            os.rename(tmp, self.pending_path)
        shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)

    def merge_batch(self, batch: DataFrame, batch_id: int) -> None:
        from tiflow_spark.streaming.shardddl import conflicted_tables_asof

        self._settle_pending()
        spark = batch.sparkSession
        hwm = batch.agg(F.max("commit_ts")).collect()[0][0]
        if hwm is None:
            # an empty batch still gets its (None, 0) progress record
            super().merge_batch(batch, batch_id)
            return
        paused = conflicted_tables_asof(self.shard_ddl, hwm)
        gate = F.col(self.gate_col)
        held = batch.filter(gate.isin(*paused)) if paused else None
        live = batch.filter(~gate.isin(*paused)) if paused else batch
        # park the paused tables' events (appended; replayed batches re-park
        # the same rows — merge dedup makes the flush idempotent)
        if held is not None:
            held.write.mode("append").parquet(self.pending_path)
        # flush previously parked tables that are no longer conflicted
        still = None
        if os.path.isdir(self.pending_path):
            pend = spark.read.parquet(self.pending_path)
            resumed = (
                pend.filter(~F.col(self.gate_col).isin(*paused))
                if paused
                else pend
            )
            if not resumed.isEmpty():
                live = live.unionByName(resumed)
                still = (
                    pend.filter(F.col(self.gate_col).isin(*paused))
                    if paused
                    else pend.limit(0)
                )
        super().merge_batch(live, batch_id)
        if still is not None:
            # shrink the pending store to the still-held rows only AFTER the
            # merge committed (a crash in between re-flushes on replay — the
            # merge is idempotent), keeping the old store until the new one
            # is in place (_settle_pending). Bounded by held volume, not
            # target size.
            tmp, old = f"{self.pending_path}.tmp", f"{self.pending_path}.old"
            if not still.isEmpty():
                still.write.mode("overwrite").parquet(tmp)
            os.rename(self.pending_path, old)
            if os.path.isdir(tmp):
                os.rename(tmp, self.pending_path)
            shutil.rmtree(old)


def windowed_throughput(stream: DataFrame, watermark_delay: str = "10 seconds") -> DataFrame:
    """Event-time windowed event counts with late-data handling — the
    watermark/frontier surface (resolved-ts contract, §2.10)."""
    with_ts = stream.withColumn(
        "event_time", F.timestamp_micros(F.col("commit_ts"))
    ).withWatermark("event_time", watermark_delay)
    return with_ts.groupBy(
        F.window("event_time", "1 minute").alias("w"), F.col("table")
    ).agg(F.count(F.lit(1)).alias("events"))


def transform_stream_partitioned(
    stream: DataFrame,
    cfg: TaskConfig,
    pdir_versions: DataFrame,
    physical_col: str = "physical_table_id",
) -> DataFrame:
    """Physical→logical partition routing INSIDE the standing changefeed —
    the partition_table integration scenario run as a stream: each
    micro-batch's events resolve their physical id against the VERSIONED
    directory as-of their commit_ts, so a repartition DDL mid-stream
    reroutes later events while the filters/router/sink only ever see
    logical tables (cdc/model/sink.go PhysicalTableID; event_router
    dispatches on logical identity).

    Stream-safe by construction: route_partitions_asof is a stateless
    broadcast equi-join + map projection (no watermark, no state store),
    composing with the standard filter→route→split chain.
    """
    from tiflow_spark.operators.partition_table import route_partitions_asof

    routed = route_partitions_asof(stream, pdir_versions, physical_col).drop(
        "partition_name", physical_col
    )
    return transform_stream(routed, cfg)


def read_change_streams(
    spark: SparkSession,
    source_dirs: list[str],
    max_files: int = 8,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Multi-upstream CDC source — DM's multi-source task / the
    multi_source integration scenario: one file stream per upstream
    directory, unioned into the single canonical change stream the
    pipeline consumes. Each upstream keeps its own file-discovery cursor
    in the shared checkpoint; per-key ordering across upstreams is by
    (commit_ts, seq) exactly as within one stream (the apply side's
    max-wins MERGE needs nothing else — same contract as the reference's
    multi-capture sort)."""
    streams = [
        read_change_stream(spark, d, max_files, schema) for d in source_dirs
    ]
    out = streams[0]
    for s in streams[1:]:
        out = out.unionByName(s)
    return out
