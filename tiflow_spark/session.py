"""SparkSession factory tuned for the engine.

Defaults are sized for local[32] testing but every knob is the one you would
set on a real cluster: AQE handles skew/coalescing at 100 TB, Arrow keeps the
Python boundary vectorized, UTC keeps epoch math portable across engines.

PySpark's per-call origin capture
(``spark.python.sql.dataFrameDebugging.enabled``) is off. With it on, each
``DataFrame`` and ``functions`` call walks the Python stack, looks for
IPython on ``sys.path`` and sends about five extra py4j commands to record
its call site: building the MQ changefeed's plan
(``tools.create_changefeed``) took 2,623 round trips instead of 935, a
median of 406 ms against 253 ms on a 4-core VM. What an error loses is PySpark's
Python call-site block (the ``== DataFrame ==`` file:line context); Spark's
own message, error class and JVM stack trace stay. PySpark reads the flag
once per process, from the first active session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "tiflow-spark", master: str | None = None) -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-shape the output partitioning of persist()
        # materializations too (off by default): without it every cached
        # frame materializes at the raw shuffle-partition count, so
        # batch-scale persisted frames carry dozens of near-empty
        # partitions into every downstream stage and write (measured on
        # the ingest drain: 32 tiny files per state dir per batch, −26%
        # drain wall after enabling). Explicit repartition*(N, ...) counts
        # are still honored, so pinned-layout paths (tuple chunk
        # splitting) are unaffected.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # no per-call origin capture on the driver (module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # full java.nio charset set (GBK/BIG5/...) for types.decode_charset
        .config("spark.sql.legacy.javaCharsets", "true")
        # testdata parquet uses TIMESTAMP(NANOS); Spark reads them as LongType
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        # local file:// writes default to Hadoop's ChecksumFileSystem,
        # which creates a .crc sidecar per output file — on rotated-file
        # sinks (2064 files at sf0.1) the sidecars double the file count
        # and cost ~36% of the write wall (measured r14: staged storage
        # write 4.86 s -> 3.11 s). Production clusters write to HDFS/S3,
        # which carry their own integrity checks, so local double-
        # checksumming of scratch data buys nothing; opt back in with
        # SPARK_GRAFT_LOCAL_FS_CHECKSUM=1.
        .config(
            "spark.hadoop.fs.file.impl",
            "org.apache.hadoop.fs.LocalFileSystem"
            if os.environ.get("SPARK_GRAFT_LOCAL_FS_CHECKSUM") == "1"
            else "org.apache.hadoop.fs.RawLocalFileSystem",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/tiflow_spark_warehouse"),
        )
    )
    return builder.getOrCreate()


def materialize_boundary(df, reliable: bool | None = None):
    """Producer/consumer materialization boundary for pipelines whose
    semantics already include a persisted hand-off (claim-check payload
    store, broker-materialized typed replay): compute the frame ONCE per
    invocation and let every downstream branch read the materialized rows
    instead of re-deriving them (predicate pushdown otherwise re-inlines
    the multi-KB render into each consumer's filter condition — r14 §1/§24).

    Default: ``localCheckpoint(eager=False)`` — executor-local, no lineage,
    rebuilt on every invocation (RDD-level, never CacheManager-keyed, so
    bench reps always recompute). At 100 TB local checkpointing pins the
    full stream on executor disk with NO lineage: one lost executor fails
    the query instead of recomputing (guide §5). The production swap is the
    pipeline's own external hand-off (broker / claim-check object store); a
    RELIABLE checkpoint variant stands in for it here — select it with
    ``reliable=True`` or ``SPARK_GRAFT_RELIABLE_CHECKPOINT=1``: the frame
    is written to the fault-tolerant checkpoint dir (survives executor
    loss; set ``SPARK_GRAFT_CHECKPOINT_DIR`` to point it at durable
    storage), same rebuilt-per-invocation property."""
    if reliable is None:
        reliable = (
            os.environ.get("SPARK_GRAFT_RELIABLE_CHECKPOINT") == "1"
        )
    if not reliable:
        return df.localCheckpoint(eager=False)
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        import tempfile

        sc.setCheckpointDir(
            os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
            or tempfile.mkdtemp(prefix="tiflow_reliable_ckpt_")
        )
    return df.checkpoint(eager=False)
