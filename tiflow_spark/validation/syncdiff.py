"""sync_diff — table equality validation (the reference's batch query workload).

Reference: sync_diff_inspector/
  - chunk splitting by PK quantiles ... splitter/random.go:55-310 (sampling),
    bucket.go (stats buckets) → here: approxQuantile on the PK
  - per-chunk checksum compare ....... diff/diff.go:618-651 + utils/utils.go:860-918
  - mismatch → row-level compare ..... diff/diff.go:652-791 (merge iteration)
    → here: full outer join on PK
  - repair SQL generation ............ diff/diff.go:793 (writeSQLs)

Scale shape: :func:`summary_report` is ONE full outer join on the pk,
aggregated in the same job: it shuffles O(rows) of (pk, payload). The
two-phase path — :func:`compare_checksums`, then :func:`targeted_row_diff`
over the mismatched chunks, as the reference runs against remote databases
— shuffles O(chunks) plus the failed chunks' rows but scans both sides
twice. For tables too large for one shuffle, the checkpointed
:func:`resumable_chunk_compare` / :func:`summary_report_from_checkpoint`
path (pk-range batch jobs) and :func:`bin_search_diff` are the tools; only
they put pk RANGE predicates on the scan, which parquet pushes down.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tiflow_spark.functions.hashing import chunk_checksum_agg


def chunk_id_col(pk: str, width: int) -> Column:
    """Fixed-width chunking (deterministic, oracle-friendly alternative to
    quantile bounds)."""
    return F.floor(F.col(pk) / width).cast("bigint").alias("chunk_id")


def chunk_checksums(
    df: DataFrame, pk: str, cols: list[str], width: int
) -> DataFrame:
    return df.groupBy(chunk_id_col(pk, width)).agg(*chunk_checksum_agg(cols))


def compare_checksums(
    src: DataFrame, dst: DataFrame, pk: str, cols: list[str], width: int
) -> DataFrame:
    """Chunk-level compare: returns (chunk_id, src_cnt, dst_cnt, match)."""
    s = chunk_checksums(src, pk, cols, width).alias("s")
    d = chunk_checksums(dst, pk, cols, width).alias("d")
    j = s.join(d, on="chunk_id", how="full_outer")
    return j.select(
        "chunk_id",
        F.coalesce(F.col("s.cnt"), F.lit(0)).alias("src_cnt"),
        F.coalesce(F.col("d.cnt"), F.lit(0)).alias("dst_cnt"),
        (
            F.col("s.cnt").eqNullSafe(F.col("d.cnt"))
            & F.col("s.checksum").eqNullSafe(F.col("d.checksum"))
        ).alias("match"),
    )


def _row_compare(
    src: DataFrame, dst: DataFrame, pk: str, cols: list[str]
) -> DataFrame:
    """compareRows (diff.go:652) as one full outer join on PK: every
    joined row with its ``kind`` — missing (in src only) / extra (in dst
    only) / different (both, payload differs) / NULL (equal) — and the
    markers ``_src`` / ``_dst``, NULL on a side not holding the key and
    else (n, i): the key is on ``n`` rows of that side, this is the
    ``i``-th. A key on m rows upstream and n downstream joins m·n times.
    The markers' window runs on the join's own exchange and sort."""
    payload = [c for c in cols if c != pk]
    key = Window.partitionBy(pk).orderBy(pk)
    whole = key.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    marker = F.struct(
        F.count(F.lit(1)).over(whole).alias("n"),
        F.row_number().over(key).alias("i"),
    )
    s = src.select(*cols, marker.alias("_src")).alias("s")
    d = dst.select(*cols, marker.alias("_dst")).alias("d")
    j = s.join(d, on=F.col(f"s.{pk}") == F.col(f"d.{pk}"), how="full_outer")
    differs = F.lit(False)
    for c in payload:
        differs = differs | ~F.col(f"s.{c}").eqNullSafe(F.col(f"d.{c}"))
    kind = (
        F.when(F.col("_dst").isNull(), "missing")
        .when(F.col("_src").isNull(), "extra")
        .when(differs, "different")
    )
    return j.select(
        F.coalesce(F.col(f"s.{pk}"), F.col(f"d.{pk}")).alias(pk),
        kind.alias("kind"),
        "_src", "_dst",
        *[F.col(f"s.{c}").alias(f"src_{c}") for c in payload],
        *[F.col(f"d.{c}").alias(f"dst_{c}") for c in payload],
    )


def _kind_counts() -> list[Column]:
    """One count per row-diff kind, over a frame with a ``kind`` column."""
    return [
        F.count(F.when(F.col("kind") == k, 1)).alias(f"n_{k}")
        for k in ("missing", "extra", "different")
    ]


def row_diff(
    src: DataFrame, dst: DataFrame, pk: str, cols: list[str]
) -> DataFrame:
    """Row-level diff on PK: the rows of :func:`_row_compare` that differ,
    as (pk, kind, src_<payload>..., dst_<payload>...)."""
    diff = _row_compare(src, dst, pk, cols).filter(F.col("kind").isNotNull())
    return diff.drop("_src", "_dst")


def targeted_row_diff(
    src: DataFrame,
    dst: DataFrame,
    pk: str,
    cols: list[str],
    width: int,
    checksums: DataFrame | None = None,
) -> DataFrame:
    """Two-phase diff: checksum chunks first, row-join only mismatched chunks.

    The bad chunks are picked by joining both sides against a broadcast
    of the mismatched chunk ids — a map-side filter after the scan, not a
    predicate pushed down to parquet: the scan reads every row, but only
    rows of bad chunks reach the row join's shuffle.

    ``checksums``: a precomputed :func:`compare_checksums` frame over the
    same inputs — callers that already hold one pass it so the checksum
    pass is not recomputed.
    """
    if checksums is None:
        checksums = compare_checksums(src, dst, pk, cols, width)
    bad = checksums.filter(~F.col("match")).select("chunk_id")
    s = src.withColumn("chunk_id", chunk_id_col(pk, width)).join(
        F.broadcast(bad), "chunk_id"
    )
    d = dst.withColumn("chunk_id", chunk_id_col(pk, width)).join(
        F.broadcast(bad), "chunk_id"
    )
    return row_diff(s.drop("chunk_id"), d.drop("chunk_id"), pk, cols)


def _failed_chunks(spark, bad: list[int]) -> DataFrame:
    """Failed chunk ids as a ``checksums=`` frame for
    :func:`targeted_row_diff`, built from one Arrow batch. (An ``IN`` list
    costs planning time per id: ~10 s at 20,000 failed chunks.)"""
    return spark.createDataFrame(
        pa.table(
            {
                "chunk_id": pa.array(bad, pa.int64()),
                "match": pa.array([False] * len(bad)),
            }
        )
    )


def repair_sql(
    diff: DataFrame, table: str, pk: str, cols: list[str]
) -> DataFrame:
    """Repair statements making dst equal to src (writeSQLs diff.go:793):
    missing/different → REPLACE INTO src-image; extra → DELETE.

    Generated as string expressions (no driver-side loop) so repair-SQL for a
    billion-row diff is itself a distributed dataset.
    """
    payload = [c for c in cols if c != pk]

    def sql_quote(c: Column) -> Column:
        return F.when(c.isNull(), F.lit("NULL")).otherwise(
            F.concat(F.lit("'"), F.replace(c.cast("string"), F.lit("'"), F.lit("''")), F.lit("'"))
        )

    src_vals = F.concat_ws(
        ", ",
        sql_quote(F.col(pk)),
        *[sql_quote(F.col(f"src_{c}")) for c in payload],
    )
    col_list = ", ".join([pk] + payload)
    replace_stmt = F.concat(
        F.lit(f"REPLACE INTO {table} ({col_list}) VALUES ("),
        src_vals,
        F.lit(");"),
    )
    delete_stmt = F.concat(
        F.lit(f"DELETE FROM {table} WHERE {pk} = "),
        sql_quote(F.col(pk)),
        F.lit(" LIMIT 1;"),
    )
    stmt = F.when(F.col("kind") == "extra", delete_stmt).otherwise(replace_stmt)
    return diff.select(F.col(pk), F.col("kind"), stmt.alias("sql"))


def _report_frame(
    src: DataFrame, dst: DataFrame, cols: list[str],
    schema: str, table: str, counts: dict,
) -> DataFrame:
    """The report row (report/report.go:58-76 TableResult) from ``counts``
    (up_count, down_count, chunk_total, chunk_failed, n_<kind>).
    ``struct_equal`` compares column names and types in order, not Spark's
    plan-derived nullability (a parquet read is always nullable). Literals
    over VALUES fold into a LocalTableScan: collecting the row runs no job."""
    src_shape, dst_shape = (
        [(f.name, f.dataType.simpleString()) for f in df.select(*cols).schema]
        for df in (src, dst)
    )
    n = dict(counts)
    if not n["chunk_total"]:  # sums over zero chunks stay NULL, as in SQL
        n.update(up_count=None, down_count=None, chunk_failed=None)
    values = [
        ("schema_name", schema, "string"),
        ("table_name", table, "string"),
        ("struct_equal", src_shape == dst_shape, "boolean"),
        ("data_equal", n["chunk_failed"] == 0 if n["chunk_total"] else None, "boolean"),
        ("up_count", n["up_count"], "bigint"),
        ("down_count", n["down_count"], "bigint"),
        ("chunk_total", n["chunk_total"], "bigint"),
        ("chunk_failed", n["chunk_failed"], "bigint"),
        ("n_missing", n["n_missing"], "bigint"),
        ("n_extra", n["n_extra"], "bigint"),
        ("n_different", n["n_different"], "bigint"),
        ("rows_add", n["n_missing"] + n["n_different"], "bigint"),
        ("rows_delete", n["n_extra"] + n["n_different"], "bigint"),
    ]
    return src.sparkSession.sql("VALUES (0)").select(
        *[F.lit(v).cast(t).alias(name) for name, v, t in values]
    )


def summary_report(
    src: DataFrame,
    dst: DataFrame,
    pk: str,
    cols: list[str],
    width: int,
    schema: str = "test",
    table: str = "t",
) -> DataFrame:
    """Per-table check summary — the reference's final report
    (report/report.go:58-76 TableResult: StructEqual/DataEqual/UpCount/
    DownCount; ChunkResult rows-add/rows-delete aggregated per table,
    report.go:147-152; counter semantics from diff.go:740-768: missing →
    rows-add, extra → rows-delete, different → both).

    One row out, run EAGERLY as ONE Spark action: a single aggregate over
    :func:`_row_compare`'s full outer join counts the rows of each side,
    the ``width``-wide chunks, the chunks holding a differing row or a key
    on another number of rows per side (a key written twice downstream)
    and each kind. This shuffles O(rows) of (pk, payload); checksumming
    chunks first shuffles O(chunks) plus the failed chunks' rows, but
    scans both sides twice. For tables too large for one shuffle, use the checkpointed
    :func:`resumable_chunk_compare` / :func:`summary_report_from_checkpoint`
    path (pk-range batch jobs) or :func:`bin_search_diff`.
    """
    chunk = chunk_id_col(pk, width)
    # a key on another number of rows on each side fails its chunk too
    failed = F.when(
        F.col("kind").isNotNull() | (F.col("_src.n") != F.col("_dst.n")), chunk
    )

    def rows(side: str, other: str) -> Column:
        """The side's rows, each counted once among its key's m·n joined
        rows: where the other side's row is absent or its first."""
        first = F.coalesce(F.col(f"{other}.i"), F.lit(1)) == 1
        return F.count(F.when(first, F.col(side)))

    counts = _row_compare(src, dst, pk, cols).agg(
        rows("_src", "_dst").alias("up_count"),
        rows("_dst", "_src").alias("down_count"),
        F.count_distinct(chunk).alias("chunk_total"),
        F.count_distinct(failed).alias("chunk_failed"),
        *_kind_counts(),
    ).collect()[0]
    return _report_frame(src, dst, cols, schema, table, counts.asDict())


def _check_geometry(what: str, meta: dict, geometry: dict) -> None:
    """Raise unless checkpoint ``meta`` was written under ``geometry``
    (pk, cols, width); a checkpoint lacking any of them is untrusted."""
    saved = {k: meta.get(k) for k in geometry}
    if saved != geometry:
        raise ValueError(
            f"{what} checkpoint geometry mismatch: "
            f"saved {saved}, requested {geometry}"
        )


def resumable_chunk_compare(
    spark,
    src: DataFrame,
    dst: DataFrame,
    pk: str,
    cols: list[str],
    width: int,
    checkpoint_dir: str,
    chunks_per_batch: int | None = None,
    fail_after_batches: int | None = None,
    computed_batches: list[int] | None = None,
) -> DataFrame:
    """Checkpointed chunk-checksum compare — sync_diff's resume capability
    (sync_diff_inspector/checkpoints/checkpoints.go: per-chunk success/
    failed Nodes persisted so an interrupted diff skips completed chunks;
    wired into diff.go's worker loop). A 100 TB table diff is a multi-hour
    job; a crash at 90% must not restart from zero.

    Spark shape: chunks are grouped into BATCHES of ``chunks_per_batch``
    contiguous chunk ids; each batch is ONE job whose scan carries a
    pushed-down pk range predicate (parquet reads only that range — the
    same pruning the reference gets from its chunk WHERE clauses). After
    each batch, its per-chunk results (bounded: ≤ chunks_per_batch rows)
    are written atomically (tmp+rename) to ``checkpoint_dir`` — the Spark
    analog of SaveChunk's minimum-continuous-checkpoint, coarsened to
    batch granularity so driver round-trips stay O(chunks/batch), not
    O(chunks). On resume, completed batch files are simply not re-run: a
    crash loses at most one batch of work.

    ``fail_after_batches`` injects a crash after N newly computed batches
    (fault-injection hook for the resume e2e test). ``computed_batches``
    (if given) collects the batch ids actually computed THIS run — the
    test's proof that resume re-checksums only unfinished chunks.

    Returns the full per-chunk frame (chunk_id, src_cnt, dst_cnt, match),
    equal to :func:`compare_checksums` over the same inputs.
    """
    import json as _json
    import os as _os

    _os.makedirs(checkpoint_dir, exist_ok=True)
    bounds_path = _os.path.join(checkpoint_dir, "_chunks.json")
    geometry = {"pk": pk, "cols": list(cols), "width": width}
    if _os.path.exists(bounds_path):
        with open(bounds_path) as f:
            meta = _json.load(f)
        # batch files hold chunks of the geometry they were computed under
        _check_geometry("chunk", meta, geometry)
        # batching geometry is part of the checkpoint: a resumed run must
        # slice the worklist identically or batch files would misalign
        worklist, chunks_per_batch = meta["chunks"], meta["chunks_per_batch"]
    else:
        # one distinct-agg job over both sides builds the OCCUPIED chunk
        # worklist — the analog of the reference's in-memory chunk list
        # (checkpoints.go keeps one Node per produced chunk). Batching
        # over a dense [min,max] chunk range instead would explode under
        # sparse keys (one stray key at +10^9 → millions of empty
        # batches); the worklist is O(occupied chunks), driver-bounded
        # exactly like the reference's.
        both = src.select(F.col(pk).alias("k")).unionByName(
            dst.select(F.col(pk).alias("k"))
        )
        worklist = sorted(
            r["c"]
            for r in both.select(
                F.floor(F.col("k") / width).cast("long").alias("c")
            )
            .distinct()
            .collect()
        )
        if chunks_per_batch is None:
            # auto: ~5 batches whatever the scale — each batch is one
            # pk-range job, so batch count (not chunk count) is the knob
            # that trades crash-loss granularity against job overhead
            chunks_per_batch = max(1, -(-len(worklist) // 5))
        tmp = bounds_path + ".tmp"
        with open(tmp, "w") as f:
            _json.dump(
                {
                    "chunks": worklist,
                    **geometry,
                    "chunks_per_batch": chunks_per_batch,
                },
                f,
            )
        _os.replace(tmp, bounds_path)
    n_batches = max(1, (len(worklist) + chunks_per_batch - 1) // chunks_per_batch)

    pending = [
        b
        for b in range(n_batches)
        # resume: completed batches are simply not re-run
        if not _os.path.exists(
            _os.path.join(checkpoint_dir, f"batch_{b:06d}.json")
        )
    ]

    def _run_batch(b: int) -> None:
        out_path = _os.path.join(checkpoint_dir, f"batch_{b:06d}.json")
        chunk_slice = worklist[
            b * chunks_per_batch : (b + 1) * chunks_per_batch
        ]
        if not chunk_slice:
            payload: list = []
        else:
            # the slice is contiguous in sorted order, so ONE pk range
            # predicate prunes the scan; interior gaps hold no rows on
            # either side by construction of the worklist
            pred = (F.col(pk) >= chunk_slice[0] * width) & (
                F.col(pk) < (chunk_slice[-1] + 1) * width
            )
            rows = compare_checksums(
                src.filter(pred), dst.filter(pred), pk, cols, width
            ).collect()
            payload = [
                {
                    "chunk_id": r["chunk_id"],
                    "src_cnt": r["src_cnt"],
                    "dst_cnt": r["dst_cnt"],
                    "match": r["match"],
                }
                for r in rows
            ]
        tmp = out_path + ".tmp"
        with open(tmp, "w") as f:
            _json.dump(payload, f)
        _os.replace(tmp, out_path)  # atomic: a crash mid-write leaves .tmp
        if computed_batches is not None:
            computed_batches.append(b)  # GIL-atomic list append

    if fail_after_batches is not None:
        # fault-injection path stays strictly SEQUENTIAL so "crash after
        # N batches" deterministically commits exactly N batch files
        done_this_run = 0
        for b in pending:
            _run_batch(b)
            done_this_run += 1
            if done_this_run >= fail_after_batches and b < n_batches - 1:
                raise RuntimeError(
                    f"injected crash after batch {b} "
                    f"({done_this_run} this run)"
                )
    elif len(pending) == 1:
        _run_batch(pending[0])
    elif pending:
        # the batches are INDEPENDENT pk-range jobs over disjoint ranges:
        # run a few in flight so one batch's task tail back-fills the
        # cluster with the next batch's scan (the reference diffs chunks
        # from a worker pool too, diff.go). The commit protocol is
        # unchanged — every batch file is still an independent atomic
        # rename; a crash now loses at most the in-flight batches instead
        # of exactly one, the same coarsened-granularity trade the batch
        # knob itself makes (r14).
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(
            max_workers=min(3, len(pending))
        ) as pool:
            list(pool.map(_run_batch, pending))

    all_rows = []
    for b in range(n_batches):
        with open(_os.path.join(checkpoint_dir, f"batch_{b:06d}.json")) as f:
            all_rows.extend(_json.load(f))
    return spark.createDataFrame(
        [
            (r["chunk_id"], r["src_cnt"], r["dst_cnt"], r["match"])
            for r in all_rows
        ],
        "chunk_id long, src_cnt long, dst_cnt long, match boolean",
    )


def resume_row_diff(
    spark,
    src: DataFrame,
    dst: DataFrame,
    pk: str,
    cols: list[str],
    width: int,
    checkpoint_dir: str,
) -> DataFrame:
    """Row-diff phase over the checkpointed chunk results: reads the
    mismatched chunk ids from ``checkpoint_dir`` (no re-checksum pass at
    all — the reference's resume reuses its chunk report the same way)
    and row-joins ONLY those chunks, picked by :func:`targeted_row_diff`'s
    broadcast join against their ids after the scan.

    The row-diff OUTCOMES are themselves checkpointed (checkpoints.go
    SavedState persists report + row results alongside chunk state): once
    the chunk phase is complete, the first call computes the pruned join
    and atomically commits its rows (tagged per chunk) as a ``rowdiff``
    parquet dir next to the batch files; every later call — including a
    resumed :func:`summary_report_from_checkpoint` — reads that dir and
    touches ZERO table data. Mismatch-set-scale by construction (the join
    was already pruned to bad chunks), and written distributed, so no
    driver collect. A crash mid-write leaves only ``rowdiff.staging`` and
    the next call recomputes — one pruned job of loss, while the
    expensive full-table checksum phase keeps its batch granularity."""
    import json as _json
    import os as _os
    import shutil as _shutil

    rd_dir = _os.path.join(checkpoint_dir, "rowdiff")
    rd_meta = _os.path.join(checkpoint_dir, "rowdiff_meta.json")
    geometry = {"pk": pk, "cols": list(cols), "width": width}
    if _os.path.isdir(rd_dir):
        # the cached diff is only valid for the geometry it was computed
        # under — same discipline as the _chunks.json check in
        # resumable_chunk_compare (a silent col/pk drift would hand back
        # a stale diff with the wrong column set)
        # a rd_dir WITHOUT its meta file (pre-r9 checkpoint, or a
        # partially deleted one) is treated as a geometry mismatch too —
        # trusting it would silently hand back a diff computed under an
        # unknown pk/cols/width (ADVICE r9); recompute instead
        if not _os.path.exists(rd_meta):
            _shutil.rmtree(rd_dir, ignore_errors=True)
        else:
            with open(rd_meta) as f:
                _check_geometry("rowdiff", _json.load(f), geometry)
            return spark.read.parquet(rd_dir).drop("chunk_id")

    bad: list[int] = []
    batch_files = 0
    for name in sorted(_os.listdir(checkpoint_dir)):
        if not (name.startswith("batch_") and name.endswith(".json")):
            continue
        batch_files += 1
        with open(_os.path.join(checkpoint_dir, name)) as f:
            for r in _json.load(f):
                if not r["match"]:
                    bad.append(r["chunk_id"])
    # the rowdiff outcome is only durable once the chunk worklist is fully
    # checksummed — freezing it against a partial checkpoint would pin a
    # partial mismatch set
    complete = False
    bounds_path = _os.path.join(checkpoint_dir, "_chunks.json")
    if _os.path.exists(bounds_path):
        with open(bounds_path) as f:
            meta = _json.load(f)
        # the failed chunk ids are only meaningful at their own width
        _check_geometry("chunk", meta, geometry)
        cpb = meta["chunks_per_batch"]
        complete = batch_files >= max(
            1, (len(meta["chunks"]) + cpb - 1) // cpb
        )

    if not bad:
        diff = row_diff(src.limit(0), dst.limit(0), pk, cols)
    else:
        diff = targeted_row_diff(
            src, dst, pk, cols, width, checksums=_failed_chunks(spark, bad)
        )
    if not complete:
        return diff
    staging = rd_dir + ".staging"
    _shutil.rmtree(staging, ignore_errors=True)
    diff.withColumn("chunk_id", chunk_id_col(pk, width)).write.mode(
        "overwrite"
    ).parquet(staging)
    tmp = rd_meta + ".tmp"
    with open(tmp, "w") as f:
        _json.dump(geometry, f)
    _os.replace(tmp, rd_meta)
    _os.rename(staging, rd_dir)
    return spark.read.parquet(rd_dir).drop("chunk_id")


def summary_report_from_checkpoint(
    spark,
    src: DataFrame,
    dst: DataFrame,
    pk: str,
    cols: list[str],
    width: int,
    checkpoint_dir: str,
    schema: str = "test",
    table: str = "t",
) -> DataFrame:
    """The final per-table report assembled FROM the checkpoint state —
    the reference's SavedState persists report state alongside chunk
    state precisely so a resumed diff finishes its report without
    re-checksumming (checkpoints.go SavedState/Report). The chunk
    aggregates come straight from the persisted per-batch results (zero
    table scans); the row-diff phase reads its own checkpointed outcomes
    when present (:func:`resume_row_diff`'s rowdiff parquet) — a fully
    checkpointed diff assembles this report touching NO table data at
    all. Both aggregates are tiny and collected here; the row is built by
    :func:`summary_report`'s own builder, so it is column-identical."""
    cc = resumable_chunk_compare(
        spark, src, dst, pk, cols, width, checkpoint_dir
    )
    chunks = cc.agg(
        F.count(F.lit(1)).alias("chunk_total"),
        F.count(F.when(~F.col("match"), 1)).alias("chunk_failed"),
        F.sum("src_cnt").alias("up_count"),
        F.sum("dst_cnt").alias("down_count"),
    ).collect()[0]
    kinds = resume_row_diff(
        spark, src, dst, pk, cols, width, checkpoint_dir
    ).agg(*_kind_counts()).collect()[0]
    return _report_frame(
        src, dst, cols, schema, table, {**chunks.asDict(), **kinds.asDict()}
    )


def _rid_range_pred(pk: str, lo, width: int, rids: set[int]):
    """``floor((pk - lo) / width) ∈ rids`` rewritten as pk RANGE predicates
    (adjacent rids merged into one interval). Width is always a power of
    two and pk ≥ lo, so the double division is exact and the rewrite is
    row-identical — but unlike the derived-column isin, plain min/max
    comparisons on the pk column PUSH DOWN to the parquet scan (guide §6:
    filters on derived columns never reach PushedFilters), so later rounds
    prune row groups instead of re-scanning the full table."""
    intervals: list[list[int]] = []
    for r in sorted(rids):
        a, b = lo + r * width, lo + (r + 1) * width
        if intervals and intervals[-1][1] == a:
            intervals[-1][1] = b
        else:
            intervals.append([a, b])
    pred = None
    for a, b in intervals:
        p = (F.col(pk) >= a) & (F.col(pk) < b)
        pred = p if pred is None else pred | p
    return pred


def bin_search_diff(
    src: DataFrame,
    dst: DataFrame,
    pk: str,
    cols: list[str],
    min_width: int = 64,
    leaf_agg_max: int = 1 << 18,
) -> DataFrame:
    """Binary-search drill-down to the mismatching rows
    (diff/diff.go:505-616 BinGenerate/binSearch): start from the whole key
    span, halve any range whose (count, checksum) differs between source
    and target, stop at ``min_width``-wide leaves, then row-compare ONLY
    inside the bad leaves.

    Spark shape: level-synchronous — each round is ONE aggregation job over
    both sides (side-tagged union) grouped by the dyadic range id at that
    depth, with the scan filtered to the surviving parent ranges as
    PUSHED-DOWN pk range predicates (the reference's chunk WHERE). The
    driver touches only per-range (count, checksum) pairs. Final
    row-compare reads just the bad leaves. On a 100 TB table with three
    bad chunks this scans the full table once (round 1) and near-nothing
    afterwards.

    Round collapse (r14): once the surviving candidate volume fits
    ``leaf_agg_max`` leaf cells, the remaining rounds are computed from
    ONE aggregation at leaf (``min_width``) granularity plus a driver-side
    dyadic fold — exact because the chunk aggregate is (COUNT, BIT_XOR):
    a parent range's pair is the column-wise (sum, xor) of its children,
    so every level's (count, checksum) maps are reproduced bit-identically
    without re-scanning per level (measured: 14 sequential ~0.45 s jobs →
    1 at sf0.1). At data scale the early wide rounds still run as pruned
    per-level jobs until the candidate volume is bounded, then one final
    sweep of the surviving ranges finishes the search — the driver only
    ever holds ≤ 2·leaf_agg_max (rid, cnt, checksum) rows.
    """
    both = src.select(*cols).withColumn("_side", F.lit("s")).unionByName(
        dst.select(*cols).withColumn("_side", F.lit("d"))
    )
    lo_hi = both.agg(
        F.min(pk).alias("lo"), (F.max(pk) + 1).alias("hi")
    ).collect()[0]
    lo, hi = lo_hi["lo"], lo_hi["hi"]
    span = 1
    while span < hi - lo:
        span <<= 1  # pad to a power of two so halves stay dyadic

    # final leaf width the level loop would reach (span halved while
    # > min_width); powers of two keep every level dyadic
    leaf_w = span
    while leaf_w > min_width:
        leaf_w >>= 1

    width = span
    cand: set[int] = {0}
    while width > min_width and cand:
        parent_width, width = width, width >> 1
        if len(cand) * (parent_width // leaf_w) <= leaf_agg_max:
            # ---- one leaf-granularity pass + exact driver fold
            scoped = both.filter(
                _rid_range_pred(pk, lo, parent_width, cand)
            )
            leaf_rows = (
                scoped.groupBy(
                    "_side",
                    ((F.col(pk) - lo).cast("long") / leaf_w)
                    .cast("long")
                    .alias("_rid"),
                )
                .agg(*chunk_checksum_agg(cols))
                .collect()
            )
            leaves: dict[str, dict[int, tuple]] = {"s": {}, "d": {}}
            for r in leaf_rows:
                leaves[r["_side"]][r["_rid"]] = (r["cnt"], r["checksum"])
            w = width
            while True:
                fac = w // leaf_w
                rolled: dict[str, dict[int, tuple]] = {"s": {}, "d": {}}
                for side, d in leaves.items():
                    m = rolled[side]
                    for r, (c, x) in d.items():
                        rid = r // fac
                        if rid in m:
                            pc, px = m[rid]
                            m[rid] = (pc + c, px ^ x)
                        else:
                            m[rid] = (c, x)
                # a level's candidates must descend from the previous
                # level's survivors (the per-level jobs enforced this by
                # scoping the scan; parent rid = rid // 2 level-to-level)
                cand = {
                    rid
                    for rid in set(rolled["s"]) | set(rolled["d"])
                    if rid // 2 in cand
                    and rolled["s"].get(rid) != rolled["d"].get(rid)
                }
                if w == leaf_w or not cand:
                    width = w
                    break
                w >>= 1
            break
        # ---- classic per-level job for the wide rounds
        scoped = both.filter(_rid_range_pred(pk, lo, parent_width, cand))
        agg = (
            scoped.groupBy(
                "_side",
                ((F.col(pk) - lo).cast("long") / width)
                .cast("long")
                .alias("_rid"),
            )
            .agg(*chunk_checksum_agg(cols))
            .collect()
        )
        per_side: dict[str, dict[int, tuple]] = {"s": {}, "d": {}}
        for r in agg:
            per_side[r["_side"]][r["_rid"]] = (r["cnt"], r["checksum"])
        cand = {
            rid
            for rid in set(per_side["s"]) | set(per_side["d"])
            if per_side["s"].get(rid) != per_side["d"].get(rid)
        }

    if not cand:
        return row_diff(src.limit(0), dst.limit(0), pk, cols)
    leaf_pred = _rid_range_pred(pk, lo, width, cand)
    return row_diff(src.filter(leaf_pred), dst.filter(leaf_pred), pk, cols)


# ------------------------------------------------- composite / string PKs
#
# The numeric chunk_id_col above needs a single numeric PK. The reference
# splits on arbitrary index-field TUPLES: the limit splitter walks the
# index order and takes every chunk_size-th row's index tuple as a bound
# (splitter/limit.go:306-317: SELECT idx_cols .. ORDER BY idx LIMIT k,1
# repeated), and each chunk becomes a lexicographic (lower, upper] range
# rendered as tuple-comparison WHERE clauses (chunk/chunk.go:278-380
# Range.ToString: common-prefix equality collapse + an OR chain per
# remaining column, `<=` on the last upper bound). index-fields
# configuration picks the index (splitter/index_fields.go). The functions
# below re-express that for any column mix (VARCHAR / composite / ...).


def lex_tuple_compare(
    cols: Sequence[str], vals: Sequence, op: str, side: str = ""
) -> Column:
    """Lexicographic tuple comparison column, expanded exactly like the
    reference's Range.ToString OR chain (chunk/chunk.go:316-349):
    op='>'  → (c1 > v1) OR (c1 = v1 AND c2 > v2) OR ...
    op='<=' → (c1 < v1) OR (c1 = v1 AND c2 < v2) ... with <= on the last
    column (the upper bound of a chunk is inclusive, lowerSymbol=gt /
    upperSymbol=lt|lte, chunk.go:320-325). ``side`` optionally prefixes
    column refs ('s.' / 'd.')."""
    assert op in (">", "<="), op
    last = len(cols) - 1
    terms: list[Column] = []
    prefix_eq: Column | None = None
    for i, (c, v) in enumerate(zip(cols, vals)):
        col = F.col(side + c)
        if op == ">":
            cmp_c = col > F.lit(v)
        else:
            cmp_c = col <= F.lit(v) if i == last else col < F.lit(v)
        terms.append(cmp_c if prefix_eq is None else (prefix_eq & cmp_c))
        eq = col == F.lit(v)
        prefix_eq = eq if prefix_eq is None else (prefix_eq & eq)
    out = terms[0]
    for t in terms[1:]:
        out = out | t
    return out


def limit_chunk_bounds(
    df: DataFrame, cols: Sequence[str], chunk_size: int
) -> list[tuple]:
    """Every chunk_size-th index tuple in index order — the limit
    splitter's bound discovery (splitter/limit.go:306-317), distributed.

    No global single-task window: range-repartition on the index columns,
    sort within partitions (global order across range-disjoint
    partitions), per-partition row_number + exact driver-side offsets
    (one metadata-scale count per partition crosses the driver), filter
    rank % chunk_size == 0. The bounds list itself is metadata-scale
    (rows / chunk_size entries), same as the reference's chunk table.
    """
    from pyspark.sql import Window

    idx = df.select(*cols)
    parts = max(2, idx.sparkSession.sparkContext.defaultParallelism)
    ranged = idx.repartitionByRange(parts, *cols).sortWithinPartitions(*cols)
    withpid = ranged.withColumn("_pid", F.spark_partition_id())
    # PERSIST before the two actions: repartitionByRange SAMPLES its
    # boundaries per job, so without pinning the layout the counts job
    # and the rank job can see DIFFERENT partition assignments and the
    # per-partition offsets corrupt the global ranks near boundaries
    # (caught by the sf0.1 sweep — sf0.01 was too small to resample
    # differently). Persisting materializes the exchange once; both
    # downstream jobs read the same layout.
    withpid = withpid.persist()
    try:
        counts = {
            r._pid: r.cnt
            for r in withpid.groupBy("_pid")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        offsets, acc = {}, 0
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        off_col = F.lit(0)
        for pid, off in offsets.items():
            off_col = F.when(F.col("_pid") == pid, F.lit(off)).otherwise(
                off_col
            )
        w = Window.partitionBy("_pid").orderBy(*[F.col(c) for c in cols])
        ranked = withpid.withColumn(
            "_rank", F.row_number().over(w) + off_col
        )
        bounds = (
            ranked.filter(F.col("_rank") % chunk_size == 0)
            .orderBy("_rank")
            .select(*cols)
            .collect()
        )
    finally:
        withpid.unpersist()
    return [tuple(r) for r in bounds]


def sample_chunk_bounds(
    df: DataFrame,
    cols: Sequence[str],
    target_rows: int = 50_000,
    sample_cap: int = 100_000,
    seed: int = 7,
) -> list[tuple]:
    """Sampling bound discovery for huge tables — the reference's random
    splitter (splitter/random.go:55-310: ORDER BY RAND() LIMIT n, sort
    the sample, pick evenly spaced tuples). The collect is bounded by
    sample_cap regardless of table size; bounds are approximate but
    chunk count matches rows/target_rows in expectation."""
    n = df.count()
    n_chunks = max(1, n // target_rows)
    if n_chunks == 1:
        return []
    frac = min(1.0, sample_cap / max(n, 1))
    sample = sorted(
        tuple(r) for r in df.select(*cols).sample(frac, seed=seed).collect()
    )
    if not sample:
        return []
    step = max(1, len(sample) // n_chunks)
    return [sample[i] for i in range(step - 1, len(sample) - 1, step)][: n_chunks - 1]


def tuple_chunk_id(cols: Sequence[str], bounds: list[tuple]) -> Column:
    """Chunk index for a row given sorted tuple bounds: the number of
    bounds strictly below the row's index tuple — (lower, upper] ranges,
    matching the per-chunk WHERE semantics. Pure column expression: one
    when-term per bound, fine at the oracle's chunk counts but a codegen
    hazard at CalculateChunkSize's 10k-chunk clamp — callers with big
    bound lists go through :func:`with_tuple_chunk_id`, which switches to
    a broadcast-array binary search (VERDICT r13 #6)."""
    cid: Column = F.lit(0)
    for b in bounds:
        cid = cid + F.when(lex_tuple_compare(cols, b, ">"), 1).otherwise(0)
    return cid.cast("bigint").alias("chunk_id")


def _row_gt_bound(cols: Sequence[str], b: Column) -> Column:
    """Row tuple > bound struct (fields c0..ck), the same lexicographic
    OR-chain as :func:`lex_tuple_compare` with column-valued bounds;
    null comparisons collapse to False exactly like the when-chain's
    ``otherwise(0)``."""
    terms: list[Column] = []
    prefix_eq: Column | None = None
    for j, c in enumerate(cols):
        col, v = F.col(c), b[f"c{j}"]
        cmp_c = col > v
        terms.append(cmp_c if prefix_eq is None else (prefix_eq & cmp_c))
        eq = col == v
        prefix_eq = eq if prefix_eq is None else (prefix_eq & eq)
    out = terms[0]
    for t in terms[1:]:
        out = out | t
    return F.coalesce(out, F.lit(False))


def with_tuple_chunk_id(
    df: DataFrame,
    cols: Sequence[str],
    bounds: list[tuple],
    codegen_max: int = 32,
) -> DataFrame:
    """``df`` + ``chunk_id`` column, scale-safe in the bound count.

    ≤ ``codegen_max`` bounds: the :func:`tuple_chunk_id` when-chain, one
    codegen term per bound (a left-deep chain much past ~256 terms
    StackOverflows Spark 4's plan converter). Default 32 (was 256, r14):
    the chain's ANALYSIS + codegen cost is linear in the bound count and
    paid per invocation — measured fresh-plan cost at sf0.1 per checksum
    agg: 0.92 s @32 / 1.4 @64 / 2.8 @128 / 5.1 @234 terms, while the
    binsearch fold sits flat at ~0.9 s — so the crossover is ~32, far
    below the StackOverflow bound the old default guarded.

    Beyond that — CalculateChunkSize clamps at 10k chunks, and a
    10k-term when-chain is a JVM codegen blowup — the bounds ride as ONE
    broadcast array-of-structs (a 1-row frame crossJoined in, so the
    array is never an expression literal and never re-shipped per task)
    and each row binary-searches it with a fixed ceil(log2(n+1))-step
    ``F.aggregate`` fold: codegen size O(log n) regardless of bound
    count, runtime O(log n) per row instead of the when-chain's O(n).
    Same (lower, upper] lexicographic semantics — chunk_id = #bounds
    strictly below the row. NULL bound components behave like the
    when-chain's SQL three-valued compare — a null component reads as
    +∞ in its position (``(5, NULL)`` is below exactly the rows with
    ``m > 5``) — so the array is re-sorted here with nulls LAST per
    component, restoring the prefix property the search needs even when
    the caller's list came nulls-first (Spark's sort default)."""
    import math

    if len(bounds) <= codegen_max:
        return df.withColumn("chunk_id", tuple_chunk_id(cols, bounds))
    spark = df.sparkSession
    n = len(bounds)
    # null-aware total order: null component = +∞ in its position
    ordered = sorted(
        bounds,
        key=lambda b: tuple((1, None) if v is None else (0, v) for v in b),
    )
    dtypes = {c: df.schema[c].dataType for c in cols}
    schema = T.StructType(
        [T.StructField("_i", T.LongType())]
        + [T.StructField(f"c{j}", dtypes[c]) for j, c in enumerate(cols)]
    )
    bdf = spark.createDataFrame(
        [(i, *b) for i, b in enumerate(ordered)], schema
    )
    # _i leads the struct so array_sort restores the null-aware order
    # regardless of collect_list's partition order
    barr = bdf.agg(
        F.array_sort(
            F.collect_list(
                F.struct("_i", *[f"c{j}" for j in range(len(cols))])
            )
        ).alias("_bounds")
    )
    steps = max(1, math.ceil(math.log2(n + 1)))
    mid = lambda acc: F.floor((acc["lo"] + acc["hi"]) / 2).cast("int")  # noqa: E731
    search = F.aggregate(
        F.sequence(F.lit(1), F.lit(steps)),
        F.struct(
            F.lit(0).cast("int").alias("lo"), F.lit(n).cast("int").alias("hi")
        ),
        lambda acc, _: F.when(
            acc["lo"] < acc["hi"],
            F.when(
                _row_gt_bound(cols, F.element_at(F.col("_bounds"), mid(acc) + 1)),
                F.struct(
                    (mid(acc) + 1).alias("lo"), acc["hi"].alias("hi")
                ),
            ).otherwise(
                F.struct(acc["lo"].alias("lo"), mid(acc).alias("hi"))
            ),
        ).otherwise(acc),
    )
    return (
        df.crossJoin(F.broadcast(barr))
        .withColumn("chunk_id", search["lo"].cast("bigint"))
        .drop("_bounds")
    )


def tuple_compare_checksums(
    src: DataFrame,
    dst: DataFrame,
    index_cols: Sequence[str],
    cols: list[str],
    chunk_size: int,
) -> DataFrame:
    """compare_checksums over an arbitrary index tuple: bounds from the
    limit splitter on the SOURCE (the reference also derives chunks
    upstream and applies the same ranges downstream), chunk assignment by
    lexicographic range, per-chunk count+BIT_XOR checksum, full-outer
    chunk compare."""
    bounds = limit_chunk_bounds(src, index_cols, chunk_size)
    s = (
        with_tuple_chunk_id(src, index_cols, bounds)
        .groupBy("chunk_id")
        .agg(*chunk_checksum_agg(cols))
        .alias("s")
    )
    d = (
        with_tuple_chunk_id(dst, index_cols, bounds)
        .groupBy("chunk_id")
        .agg(*chunk_checksum_agg(cols))
        .alias("d")
    )
    j = s.join(d, on="chunk_id", how="full_outer")
    return j.select(
        "chunk_id",
        F.coalesce(F.col("s.cnt"), F.lit(0)).alias("src_cnt"),
        F.coalesce(F.col("d.cnt"), F.lit(0)).alias("dst_cnt"),
        (
            F.col("s.cnt").eqNullSafe(F.col("d.cnt"))
            & F.col("s.checksum").eqNullSafe(F.col("d.checksum"))
        ).alias("match"),
    )


def calculate_chunk_size(row_count: int) -> int:
    """utils.CalculateChunkSize (sync_diff_inspector/utils/utils.go:
    1096-1105): 50k rows per chunk, but clamp to ~10k chunks per table —
    tables beyond 500M rows scale the chunk up to rowCount/10000."""
    chunk_size = 50_000
    if row_count > chunk_size * 10_000:
        chunk_size = row_count // 10_000
    return chunk_size


def better_index(
    df: DataFrame,
    indexes: Sequence[tuple[str, Sequence[str], bool, bool]],
) -> list[tuple[str, float]]:
    """Split-index selection — utils.GetBetterIndex (utils.go:1051-1076):
    the first PRIMARY or UNIQUE index wins outright; otherwise every
    index is ranked by the selectivity of its FIRST column,
    COUNT(DISTINCT col)/COUNT(1) (GetSelectivity, utils.go:1078-1094),
    highest first.

    ``indexes``: (name, cols, primary, unique) tuples in index order.
    Returns [(index_name, selectivity)] ranked; the PK/UK short-circuit
    reports selectivity 1.0. ONE aggregate job computes every candidate's
    distinct count (map-side partial agg — a single pass over the table
    regardless of candidate count, vs the reference's one query per
    index)."""
    for name, _cols, primary, unique in indexes:
        if primary or unique:
            return [(name, 1.0)]
    firsts = [(name, tuple(cols)[0]) for name, cols, _p, _u in indexes]
    row = df.agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.count_distinct(F.col(col)).alias(f"_d_{i}")
            for i, (_name, col) in enumerate(firsts)
        ],
    ).collect()[0]
    n = row._n or 0
    sels = [
        (name, (row[f"_d_{i}"] / n) if n else 0.0)
        for i, (name, _col) in enumerate(firsts)
    ]
    # sort.Slice is stable in Go only via SliceStable; GetBetterIndex uses
    # sort.Slice (unstable) on strictly > — ties keep arbitrary order
    # there; we keep input order on ties (deterministic superset)
    return sorted(sels, key=lambda t: -t[1])
