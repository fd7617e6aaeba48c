"""Cloud-storage sink — the reference's storage-sink file layout on Spark.

Layout parity (pkg/sink/cloudstorage/path.go:113-300, table_definition.go):

    data:   {base}/{schema}/{table}/{version}/{date}/CDC{index:0Nd}.csv
    index:  {base}/{schema}/{table}/{version}/{date}/meta/CDC.index
            (contents: the last data-file name written + newline)
    schema: {base}/{schema}/{table}/meta/schema_{version}_{checksum:010d}.json
            (TableDefinition JSON: Table/Schema/TableVersion/TableColumns...)

Date separator modes year/month/day/none mirror
FilePathGenerator.GenerateDateStr (path.go:275-292); file rotation mirrors
the size/interval rotation (dml_worker.go) via ``maxRecordsPerFile``; commit
order inside each file is restored by a per-partition sort, the job the
reference's defragmenter does across its encoding workers
(cloudstorage/defragmenter.go:25).

Scale shape: encode is a pure codegen'd map stage; one shuffle on
(schema, table, date) co-locates each output directory's rows in a single
task, so files rotate deterministically at ``max_records_per_file`` rows.
The driver-side finalize step only *renames* finished files into the
CDC{n}.csv contract and writes the small meta files — O(#files) metadata
ops, the same commit work the reference sink performs per flush; data bytes
move exactly once, on the executors.

Deployment contract: tasks write straight into a staging directory that
the driver then renames, so driver and executors must share one POSIX
filesystem and each task must run once. :func:`write_storage_sink` refuses,
before writing anything, a master that is not ``local*`` (a cluster's
output would be silently empty) and ``spark.speculation=true`` (attempts
would interleave their writes into the same files).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import zlib
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tiflow_spark.codecs.csv_codec import CsvConfig, decode_csv, encode_csv

_DATE_FMT = {"year": "yyyy", "month": "yyyy-MM", "day": "yyyy-MM-dd"}

# default file-rotation threshold when StorageSinkConfig.max_records_per_file
# is left unset (None)
DEFAULT_MAX_RECORDS_PER_FILE = 100_000


@dataclass(frozen=True)
class StorageSinkConfig:
    date_separator: str = "day"  # year | month | day | none
    table_version: int = 1
    file_index_width: int = 6  # config.DefaultFileIndexWidth
    # rotation knob (reference: bytes). None = the default
    # (DEFAULT_MAX_RECORDS_PER_FILE); a non-None value is an EXPLICIT user
    # setting — the header-mode guard keys off that distinction, so an
    # explicit 100_000 is rejected in header mode just like any other
    # explicit rotation tune (ADVICE r13: never compare against the magic
    # number itself).
    max_records_per_file: int | None = None
    csv: CsvConfig = CsvConfig()
    # data-file encoding: "csv" or "canal-json" (the two formats the
    # reference storage sink ships, cloud_storage_dml_sink.go; canal-json
    # files carry one message per line, extension .json)
    protocol: str = "csv"
    # primary-key columns for schema.json ColumnIsPk/ColumnNullable —
    # supplied by the caller from the DDL registry (pk_cols) or changefeed
    # config; empty means unknown and no column is flagged (the reference
    # reads this off TableInfo, table_definition.go FromTableInfo)
    pk_cols: tuple[str, ...] = ()
    # record terminator inside the data files (sink-URI `terminator`;
    # pkg/config/sink.go:783-785 defaults it to CRLF "\r\n" — the
    # reference's cloud-storage byte surface). "\n" keeps this repo's
    # established LF surface; both round-trip via the text source's
    # lineSep option on write AND read.
    terminator: str = "\n"


def _escape_path(v: str) -> str:
    """Partition-directory name escaping, mirroring Hadoop/Spark's
    ``escapePathName`` (ExternalCatalogUtils) so the staging layout is
    byte-identical to what the built-in partitioned writer produced."""
    out = []
    for ch in v:
        if ch < " " or ch in '"#%\'*/:=?\\{[]^' or ch == "\x7f":
            out.append("%%%02X" % ord(ch))
        else:
            out.append(ch)
    return "".join(out)


def _direct_rotated_write(
    df: DataFrame, staging: str, max_records: int | None, terminator: str
) -> None:
    """Executor-direct rotated text write into the staging tree.

    The built-in partitioned text writer paid ~1.5 ms of per-FILE
    machinery (FSDataOutputStream setup + committer bookkeeping + commit
    renames) on a layout whose rotation contract produces thousands of
    small files — the write wall was file count, not bytes (measured r14
    §29: raw creates of the same 2064 files cost 0.19 s). Tasks here
    write their directory groups' final rotated files straight into the
    staging tree (manifest-style: data moves once, executor-side; the
    driver's existing finalize pass renames them into the CDC{n}
    contract). Rotation, grouping and order are byte-identical to the
    old writer: each (schema, table, date) group lands wholly in one
    task (hash repartition upstream), rows arrive (commit_ts, seq)-
    sorted, a new file starts every ``max_records`` rows (None = no
    rotation, the header mode), and ``part-{partition:05d}-{file:04d}``
    names keep the finalize pass's sorted-glob rename in rotation order.
    Idempotent under task retry: a re-run attempt re-creates the same
    deterministic file names with O_TRUNC."""
    term = terminator.encode("utf-8")

    def _write(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        state = {"key": None, "fh": None, "idx": 0, "rows": 0, "files": 0}

        def _open_next() -> None:
            s, t, d = state["key"]
            dir_ = os.path.join(
                staging,
                f"schema={_escape_path(s)}",
                f"table={_escape_path(t)}",
                f"date={_escape_path(d)}",
            )
            os.makedirs(dir_, exist_ok=True)
            state["fh"] = open(
                os.path.join(dir_, f"part-{pid:05d}-{state['idx']:04d}"),
                "wb",
            )
            state["files"] += 1

        for b in batches:
            cols = [b.column(i).to_pylist() for i in range(4)]
            for s, t, d, line in zip(*cols):
                key = (s, t, d)
                if key != state["key"]:
                    if state["fh"] is not None:
                        state["fh"].close()
                    state.update(key=key, idx=0, rows=0)
                    _open_next()
                elif max_records is not None and state["rows"] == max_records:
                    state["fh"].close()
                    state["idx"] += 1
                    state["rows"] = 0
                    _open_next()
                state["fh"].write(line.encode("utf-8"))
                state["fh"].write(term)
                state["rows"] += 1
        if state["fh"] is not None:
            state["fh"].close()
        import pyarrow as pa

        yield pa.RecordBatch.from_pylist(
            [{"files": state["files"]}],
            schema=pa.schema([("files", pa.int64())]),
        )

    df.mapInArrow(_write, "files long").agg(F.sum("files")).collect()


def _with_date(env: DataFrame, cfg: StorageSinkConfig) -> DataFrame:
    if cfg.date_separator == "none":
        return env.withColumn("date", F.lit("all"))
    fmt = _DATE_FMT[cfg.date_separator]
    return env.withColumn(
        "date", F.date_format(F.timestamp_micros(F.col("commit_ts")), fmt)
    )


def write_storage_sink(
    env: DataFrame,
    base_dir: str,
    cfg: StorageSinkConfig = StorageSinkConfig(),
    schema_col: str = "schema",
    table_col: str = "table",
) -> list[str]:
    """Write an envelope batch in the reference's storage-sink layout.

    Returns the relative paths of the data files written (sorted).
    Raises ``RuntimeError`` outside the module's deployment contract.
    """
    sc = env.sparkSession.sparkContext
    if not sc.master.startswith("local"):
        raise RuntimeError(f"storage sink: master {sc.master!r} is not local")
    if sc.getConf().get("spark.speculation", "false").lower() == "true":
        raise RuntimeError("storage sink: spark.speculation must be off")
    renamed = env.withColumnRenamed(schema_col, "schema").withColumnRenamed(
        table_col, "table"
    )
    if cfg.protocol == "canal-json":
        from tiflow_spark.codecs.canal_json import encode_canal_json

        enc = encode_canal_json(
            renamed, pk_names=cfg.pk_cols or ("id",)
        ).withColumnRenamed("value", "line")
    elif cfg.protocol == "csv":
        enc = encode_csv(renamed, cfg.csv)
    else:
        raise ValueError(
            f"storage sink protocol {cfg.protocol!r} not supported "
            "(csv | canal-json)"
        )
    encoded = _with_date(enc, cfg)
    header_mode = cfg.protocol == "csv" and cfg.csv.output_field_header
    if header_mode and cfg.max_records_per_file is not None:
        # ADVICE r12: header mode disables rotation (one file per group =
        # one header per file); a user tuning BOTH knobs would otherwise
        # get unbounded file sizes with no signal. The reference writes a
        # header per rotated file (csv_encoder.go:40 per batch) — until
        # this sink does the same, refuse the combination loudly.
        # Sentinel None (ADVICE r13): ANY explicit setting — including one
        # equal to the default — is rejected; only the untouched default
        # slips through.
        raise ValueError(
            "storage sink: csv.output-field-header disables "
            "max_records_per_file rotation (one file per table/date "
            "group); unset one of the two options"
        )
    if header_mode:
        # csv.output-field-header: one header line per data file
        # (csv_encoder.go:40 emits it before the batch's first row). The
        # header rides as a commit_ts/seq = -1 row per (schema, table,
        # date) group so the executor-side sort places it first — no
        # driver-side file rewriting. Rotation is disabled in this mode
        # (one file per group = one header per file, the reference's
        # batch-per-file shape); the distinct is metadata-scale.
        from tiflow_spark.codecs.csv_codec import with_csv_headers

        payload_names = [
            f.name
            for f in renamed.schema["after"].dataType.fields  # type: ignore[union-attr]
        ]
        encoded = with_csv_headers(
            encoded, payload_names, cfg.csv,
            group_cols=("table", "schema", "date"),
        )
    staging = os.path.join(base_dir, "_staging")
    # sort key leads with the partition columns: rotation and file order
    # depend on each directory group arriving as one contiguous,
    # (commit_ts, seq)-ordered run within its task
    sort_cols = ["schema", "table", "date", "commit_ts", "seq"]
    if "pos" in encoded.columns:
        # old-value mode: the D/I halves of one update share
        # (commit_ts, seq); `pos` keeps the reference's old-row-first
        # order through the (unstable) sort
        sort_cols.append("pos")
    # Explicit partition count (same fix as sinks/bucketed.py
    # _bucket_write_partitions, r14): a keyless-N repartition on the
    # directory key lets AQE coalesce the exchange by SIZE — a batch of a
    # few tens of MB collapses to ~1 task that then writes every
    # {schema}/{table}/{date} directory's rotated files sequentially (the
    # wall cost is per-FILE creation, not bytes). One task per core,
    # scale-adaptive via defaultParallelism; each directory group still
    # lands in exactly ONE task (hash on the full directory key), so
    # rotation boundaries and CDC{n} numbering are unchanged.
    n_write_tasks = max(1, env.sparkSession.sparkContext.defaultParallelism)
    shutil.rmtree(staging, ignore_errors=True)
    _direct_rotated_write(
        encoded.repartition(n_write_tasks, "schema", "table", "date")
        .sortWithinPartitions(*sort_cols)
        .select("schema", "table", "date", "line"),
        staging,
        None
        if header_mode
        else (
            cfg.max_records_per_file
            if cfg.max_records_per_file is not None
            else DEFAULT_MAX_RECORDS_PER_FILE
        ),
        cfg.terminator,
    )
    written: list[str] = []
    ext = "json" if cfg.protocol == "canal-json" else "csv"
    for part_dir in sorted(glob.glob(f"{staging}/schema=*/table=*/date=*")):
        rel = {
            k: v
            for k, v in (
                seg.split("=", 1) for seg in part_dir.split(os.sep)[-3:]
            )
        }
        dest = os.path.join(
            base_dir,
            rel["schema"],
            rel["table"],
            str(cfg.table_version),
            rel["date"],
        )
        os.makedirs(os.path.join(dest, "meta"), exist_ok=True)
        last = ""
        for i, part in enumerate(
            sorted(glob.glob(os.path.join(part_dir, "part-*"))), start=1
        ):
            last = f"CDC{i:0{cfg.file_index_width}d}.{ext}"
            os.replace(part, os.path.join(dest, last))
            written.append(
                os.path.relpath(os.path.join(dest, last), base_dir)
            )
        with open(os.path.join(dest, "meta", "CDC.index"), "w") as fh:
            fh.write(last + "\n")
    shutil.rmtree(staging, ignore_errors=True)
    _write_schema_files(env, base_dir, cfg, schema_col, table_col)
    return sorted(written)


def _spark_to_mysql_type(dt: T.DataType) -> str:
    # reference stores MySQL type names (table_definition.go TableCol.Tp)
    return {
        "bigint": "BIGINT",
        "int": "INT",
        "double": "DOUBLE",
        "float": "FLOAT",
        "string": "VARCHAR",
        "binary": "BLOB",
        "boolean": "TINYINT",
        "timestamp": "DATETIME",
        "timestamp_ntz": "DATETIME",
        "date": "DATE",
    }.get(dt.simpleString(), dt.simpleString().upper())


def _write_schema_files(
    env: DataFrame,
    base_dir: str,
    cfg: StorageSinkConfig,
    schema_col: str,
    table_col: str,
) -> None:
    """TableDefinition JSON per (schema, table) — table_definition.go:184-195;
    filename checksum mirrors path.go generateSchemaFilePath."""
    side = env.schema["after"].dataType
    cols = [
        {
            "ColumnName": f.name,
            "ColumnType": _spark_to_mysql_type(f.dataType),
            "ColumnNullable": "false"
            if f.name in cfg.pk_cols
            else ("true" if f.nullable else "false"),
            "ColumnIsPk": "true" if f.name in cfg.pk_cols else "false",
        }
        for f in side.fields  # type: ignore[union-attr]
    ]
    pairs = (
        env.select(
            F.col(schema_col).alias("s"), F.col(table_col).alias("t")
        )
        .distinct()
        .collect()
    )
    for row in pairs:
        defn = {
            "Table": row["t"],
            "Schema": row["s"],
            "Version": 1,
            "TableVersion": cfg.table_version,
            "Query": "",
            "Type": 0,
            "TableColumns": cols,
            "TableColumnsTotal": len(cols),
        }
        payload = json.dumps(defn, indent=4).encode()
        checksum = zlib.crc32(payload) & 0xFFFFFFFF
        meta_dir = os.path.join(base_dir, row["s"], row["t"], "meta")
        os.makedirs(meta_dir, exist_ok=True)
        name = f"schema_{cfg.table_version}_{checksum:010d}.json"
        with open(os.path.join(meta_dir, name), "wb") as fh:
            fh.write(payload)


def _layout_lines(
    spark: SparkSession, base_dir: str, ver: int, ext: str,
    terminator: str = "\n",
) -> DataFrame:
    """One distributed text scan over the sink layout's data files.

    Listing is ONE recursive directory walk (`recursiveFileLookup` +
    `pathGlobFilter`) instead of per-level glob expansion — the 4-level
    glob's driver-side globStatus cost ~4.5 s on a ~2000-file layout
    (measured r14; and prefix listing is also the scalable shape on
    object stores, where per-level globs issue one LIST per wildcard
    branch). The rlike pins the exact layout the glob matched:
    {schema}/{table}/{version}/{date}/CDC*.{ext}, version-exact, so
    meta/ files and other table versions stay excluded."""
    reader = spark.read.option("recursiveFileLookup", "true").option(
        "pathGlobFilter", f"CDC*.{ext}"
    )
    if terminator != "\n":
        reader = reader.option("lineSep", terminator)
    return (
        reader.text(base_dir)
        .withColumn("_path", F.input_file_name())
        .where(
            F.col("_path").rlike(
                rf"/[^/]+/[^/]+/{ver}/[^/]+/CDC[^/]*\.{ext}$"
            )
        )
    )


def read_storage_sink(
    spark: SparkSession,
    base_dir: str,
    payload_schema: T.StructType,
    cfg: StorageSinkConfig = StorageSinkConfig(),
) -> DataFrame:
    """Read a storage-sink directory back into decoded change rows — the
    storage-consumer path (cmd/storage-consumer, csv decoder).

    Partition identity (schema/table/date/file) is recovered from the file
    path; the scan is a plain distributed text read (one recursive
    listing, filename + layout filters pinned at the scan)."""
    ver = cfg.table_version
    ext = "json" if cfg.protocol == "canal-json" else "csv"
    lines = (
        _layout_lines(spark, base_dir, ver, ext, cfg.terminator)
        .select(
            F.col("value").alias("line"),
            F.regexp_extract(F.col("_path"), rf"/([^/]+)/[^/]+/{ver}/", 1).alias(
                "dir_schema"
            ),
            F.regexp_extract(F.col("_path"), rf"/[^/]+/([^/]+)/{ver}/", 1).alias(
                "dir_table"
            ),
            F.regexp_extract(F.col("_path"), rf"/{ver}/([^/]+)/CDC", 1).alias(
                "dir_date"
            ),
            F.regexp_extract(
                F.col("_path"), rf"/(CDC\d+\.{ext})$", 1
            ).alias("file"),
        )
    )
    if cfg.protocol == "canal-json":
        from tiflow_spark.codecs.canal_json import decode_canal_json

        dec = decode_canal_json(
            lines.withColumnRenamed("line", "value"),
            extra_cols=("dir_schema", "dir_table", "dir_date", "file"),
        )
        typed = [
            F.element_at(F.col("image"), f.name)
            .cast(f.dataType)
            .alias(f.name)
            for f in payload_schema.fields
        ]
        return dec.select(
            "op", "schema", "table", "commit_ts_ms_scaled", *typed,
            "dir_schema", "dir_table", "dir_date", "file",
        )
    return decode_csv(
        lines,
        payload_schema,
        cfg.csv,
        keep_cols=("dir_schema", "dir_table", "dir_date", "file"),
    )


def storage_layout_stats(
    spark: SparkSession, base_dir: str, cfg: StorageSinkConfig = StorageSinkConfig()
) -> DataFrame:
    """Files/rows per output directory — the sink's rotation contract:
    files = ceil(rows / max_records_per_file) per (schema, table, date)."""
    ver = cfg.table_version
    lines = _layout_lines(spark, base_dir, ver, "csv")
    return (
        lines.select(
            F.regexp_extract(F.col("_path"), rf"/([^/]+)/[^/]+/{ver}/", 1).alias(
                "schema"
            ),
            F.regexp_extract(F.col("_path"), rf"/[^/]+/([^/]+)/{ver}/", 1).alias(
                "table"
            ),
            F.regexp_extract(F.col("_path"), rf"/{ver}/([^/]+)/CDC", 1).alias(
                "date"
            ),
            F.regexp_extract(F.col("_path"), r"/(CDC\d+\.csv)$", 1).alias("file"),
        )
        .groupBy("schema", "table", "date")
        .agg(
            F.count_distinct("file").alias("files"),
            F.count(F.lit(1)).alias("rows"),
        )
    )


def write_ddl_schema_versions(
    registry: DataFrame,
    base_dir: str,
    schema_name: str = "target",
    type_of: dict[str, str] | None = None,
) -> list[str]:
    """Cloud-storage DDL sink (cdc/sink/ddlsink/cloudstorage/cloud_storage_
    ddl_sink.go + pkg/sink/cloudstorage/path.go generateSchemaFilePath):
    every version of the DDL-driven schema registry lands as its own
    ``{schema}/{table}/meta/schema_{version_ts}_{crc}.json`` so a consumer
    can decode data files written under ANY historical table version.

    Column types come from the registry's DDL-parsed ``types`` map (the
    TableInfo analog); ``type_of`` only overrides/fills gaps. ColumnIsPk /
    ColumnNullable derive from the registry's DDL-parsed key metadata
    (``pk_cols`` / ``handle_cols``, cdc/model/sink.go:62-205 ColumnFlagType;
    pkg/sink/cloudstorage/table_definition.go) — no positional or name
    heuristics.

    The registry is tiny (one row per version) — the driver-side loop is
    bounded metadata work, same as the reference's DDL sink. Returns the
    written paths."""
    type_of = type_of or {}
    written = []
    has_keys = "pk_cols" in registry.columns
    for row in registry.collect():
        row_types = dict(row["types"]) if "types" in row and row["types"] else {}
        pk = set(row["pk_cols"] or ()) if has_keys else set()
        handle = set(row["handle_cols"] or ()) if has_keys else set()
        cols = [
            {
                "ColumnName": c,
                "ColumnType": type_of.get(c, row_types.get(c, "VARCHAR")),
                "ColumnNullable": "false" if c in pk or c in handle else "true",
                "ColumnIsPk": "true" if c in pk else "false",
                **(
                    {"ColumnDefault": row["defaults"][c]}
                    if row["defaults"] and c in row["defaults"]
                    else {}
                ),
            }
            for c in row["columns"]
        ]
        defn = {
            "Table": row["table"],
            "Schema": schema_name,
            "Version": 1,
            "TableVersion": int(row["version_ts"]),
            "Query": "",
            "Type": 0,
            "TableColumns": cols,
            "TableColumnsTotal": len(cols),
        }
        payload = json.dumps(defn, indent=4).encode()
        checksum = zlib.crc32(payload) & 0xFFFFFFFF
        meta_dir = os.path.join(base_dir, schema_name, row["table"], "meta")
        os.makedirs(meta_dir, exist_ok=True)
        name = f"schema_{int(row['version_ts'])}_{checksum:010d}.json"
        p = os.path.join(meta_dir, name)
        with open(p, "wb") as fh:
            fh.write(payload)
        written.append(p)
    return written


def cleanup_storage_sink(
    base_dir: str,
    retain_from_date: str,
    cfg: StorageSinkConfig = StorageSinkConfig(),
    dry_run: bool = False,
) -> list[str]:
    """Expired-file cleanup for the storage-sink layout — the reference's
    `cleanup-worker` (tests/integration_tests/storage_cleanup; storage sink
    file-expiration-days/file-cleanup-cron-spec config): date directories
    lexicographically below ``retain_from_date`` are removed per
    (schema, table, version) subtree; the meta/index and schema.json of
    retained dates are untouched. Returns the removed directory paths
    (``dry_run`` only lists them).

    O(#directories) driver-side metadata walk — date dirs, not data files,
    are enumerated; deletion per dir is a recursive remove exactly like
    the reference's batch expiration. Lexicographic compare is correct
    because the layout's date formats are zero-padded (YYYY-MM-DD).
    """
    import os
    import shutil

    removed: list[str] = []
    ver = cfg.table_version
    if not os.path.isdir(base_dir):
        return removed
    for schema in sorted(os.listdir(base_dir)):
        sdir = os.path.join(base_dir, schema)
        if not os.path.isdir(sdir):
            continue
        for table in sorted(os.listdir(sdir)):
            vdir = os.path.join(sdir, table, str(ver))
            if not os.path.isdir(vdir):
                continue
            for date in sorted(os.listdir(vdir)):
                ddir = os.path.join(vdir, date)
                if not os.path.isdir(ddir) or date.startswith(("_", ".")):
                    continue
                if date < retain_from_date:
                    if dry_run:
                        removed.append(ddir)
                        continue
                    # report only verified deletions — a silent rmtree
                    # failure must not read as purged in a retention audit
                    shutil.rmtree(ddir, ignore_errors=True)
                    if not os.path.isdir(ddir):
                        removed.append(ddir)
    return removed
