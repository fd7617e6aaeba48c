"""Seeded input generator: CDC envelope files and an upstream table.

Every input the benchmark feeds the program comes from here, as parquet
files conforming to ``streaming.pipeline.ENVELOPE_SCHEMA`` (envelopes), the
initial target rows, or the sync-diff upstream table. The same seed gives
the same files, except for live commit timestamps, which are the wall clock
at creation by design.

Source tables and what the benchmark's task config does to them:

* ``shop_0..shop_3.orders`` - four shards, merged by a route rule into
  ``shop.orders_all``; the shard is ``id % 4`` so shard key ranges are disjoint.
* ``shop_0.accounts`` - its DELETE events are dropped by an event filter;
  its ids start at ``ACCOUNTS_BASE``.
* ``shop_0.audit_log`` - dropped entirely by the table filter.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_SHARDS = 4
# (table, share of events); orders spread over the shards by key
TABLE_MIX = (("orders", 0.6), ("accounts", 0.3), ("audit_log", 0.1))
# accounts ids live above this, so one numeric PK spans every target table
ACCOUNTS_BASE = 1_000_000_000
# fixed synthetic commit-ts origin (microseconds) for pre-generated backlogs
BASE_TS = 1_700_000_000_000_000

PAYLOAD = pa.struct(
    [("id", pa.int64()), ("balance", pa.float64()), ("note", pa.string())]
)
ENVELOPE = pa.schema(
    [
        ("op", pa.string()),
        ("schema", pa.string()),
        ("table", pa.string()),
        ("commit_ts", pa.int64()),
        ("start_ts", pa.int64()),
        ("seq", pa.int64()),
        ("key", pa.string()),
        ("before", PAYLOAD),
        ("after", PAYLOAD),
    ]
)


@dataclass(frozen=True)
class StreamSpec:
    """Input properties of one change stream."""

    files: int
    rows_per_file: int
    key_space: int
    zipf_s: float = 0.0  # 0 = uniform keys; >0 = bounded Zipf exponent
    op_mix: tuple[float, float, float] = (0.3, 0.55, 0.15)  # I, U, D
    identity_update_share: float = 0.05  # share of U that change the id

    @property
    def rows(self) -> int:
        return self.files * self.rows_per_file


def _keys(rng: np.random.Generator, n: int, space: int, zipf_s: float):
    if zipf_s <= 0:
        return rng.integers(0, space, n)
    weights = 1.0 / np.arange(1, space + 1) ** zipf_s
    # hot ranks land on random ids so hot keys spread over shards/buckets
    ids = rng.permutation(space)
    return ids[rng.choice(space, n, p=weights / weights.sum())]


def _payload(rng: np.random.Generator, ids: np.ndarray) -> pa.StructArray:
    balance = rng.integers(0, 10_000_000, len(ids)) / 100.0
    note = np.char.add("n", rng.integers(0, 1_000_000, len(ids)).astype(str))
    return pa.StructArray.from_arrays(
        [pa.array(ids, pa.int64()), pa.array(balance), pa.array(note)],
        fields=list(PAYLOAD),
    )


def _with_nulls(arr: pa.StructArray, valid: np.ndarray) -> pa.StructArray:
    return pa.StructArray.from_arrays(
        arr.flatten(), fields=list(PAYLOAD), mask=pa.array(~valid)
    )


class ChangeStream:
    """Pre-generated change events, emitted file by file.

    Everything except ``commit_ts`` is drawn up front from the seed, so
    writing a file on the live schedule costs only the parquet write."""

    def __init__(self, spec: StreamSpec, seed: int):
        self.spec = spec
        rng = np.random.default_rng(seed)
        n = spec.rows
        names = [t for t, _ in TABLE_MIX]
        table = rng.choice(len(names), n, p=[w for _, w in TABLE_MIX])
        key = _keys(rng, n, spec.key_space, spec.zipf_s)
        op = rng.choice(3, n, p=spec.op_mix)  # 0=I 1=U 2=D
        new_key = key.copy()
        moved = (op == 1) & (rng.random(n) < spec.identity_update_share)
        # an identity change stays inside the key's shard (id % N_SHARDS)
        new_key[moved] = key[moved] + N_SHARDS * rng.integers(
            1, 1000, moved.sum()
        )
        base = np.where(table == 1, ACCOUNTS_BASE, 0)
        key += base
        new_key += base
        shard = np.where(table == 0, key % N_SHARDS, 0)
        self.op = np.array(["I", "U", "D"])[op]
        self.schema = np.char.add("shop_", shard.astype(str))
        self.table = np.array(names)[table]
        self.key = np.where(op == 2, key, new_key).astype(str)
        self.before = _with_nulls(_payload(rng, key), op != 0)
        self.after = _with_nulls(_payload(rng, new_key), op != 2)

    def table_for(self, i: int, commit_ts: int | None = None) -> pa.Table:
        """Envelope rows of file ``i``. Events of one file are one upstream
        transaction: they share ``commit_ts`` and carry increasing seqs."""
        r = self.spec.rows_per_file
        lo, hi = i * r, (i + 1) * r
        ts = BASE_TS + i * 1_000 if commit_ts is None else commit_ts
        seq = np.arange(lo, hi, dtype=np.int64)
        return pa.Table.from_arrays(
            [
                pa.array(self.op[lo:hi]),
                pa.array(self.schema[lo:hi]),
                pa.array(self.table[lo:hi]),
                pa.array(np.full(r, ts, dtype=np.int64)),
                pa.array(np.full(r, ts - 1, dtype=np.int64)),
                pa.array(seq),
                pa.array(self.key[lo:hi]),
                self.before.slice(lo, r),
                self.after.slice(lo, r),
            ],
            schema=ENVELOPE,
        )

    def write(self, i: int, path: str, commit_ts: int | None = None) -> None:
        pq.write_table(self.table_for(i, commit_ts), path)


def file_name(i: int) -> str:
    return f"part-{i:06d}.parquet"


def write_backlog(stream: ChangeStream, source_dir: str) -> list[str]:
    """All files of ``stream`` into ``source_dir``, in generation order."""
    os.makedirs(source_dir, exist_ok=True)
    paths = []
    for i in range(stream.spec.files):
        p = os.path.join(source_dir, file_name(i))
        stream.write(i, p)
        paths.append(p)
    return paths


def snapshot_rows(n: int, key_space: int, seed: int) -> pa.Table:
    """Initial target content (shape of ``StreamingTarget`` change rows):
    ``n`` distinct keys of the routed tables, older than every event."""
    rng = np.random.default_rng(seed + 7_919)
    is_orders = rng.random(n) < TABLE_MIX[0][1] / (TABLE_MIX[0][1] + TABLE_MIX[1][1])
    ids = rng.choice(key_space, n, replace=False) + np.where(is_orders, 0, ACCOUNTS_BASE)
    pay = _payload(rng, ids).flatten()
    return pa.table(
        {
            "target_table": np.where(is_orders, "orders_all", "accounts"),
            "key": ids.astype(str),
            "op": np.full(n, "I"),
            "commit_ts": np.full(n, BASE_TS - 1_000_000, dtype=np.int64),
            "seq": np.arange(-n, 0, dtype=np.int64),
            "id": pay[0],
            "balance": pay[1],
            "note": pay[2],
        }
    )


@dataclass(frozen=True)
class DiffSpec:
    """Differences injected between an upstream table and its replica, all
    inside ``bad_chunks`` chunks of ``chunk_width`` ids."""

    chunk_width: int
    bad_chunks: int
    missing: int  # upstream rows the replica lacks
    extra: int  # replica rows the upstream lacks
    different: int  # rows whose balance differs


def diverged_upstream(replica: pa.Table, spec: DiffSpec, seed: int):
    """Upstream table for sync-diff: the replica's rows ``(id, target_table,
    balance, note)`` with ``spec``'s differences injected. Returns the
    upstream and the report counts a correct check must give."""
    rng = np.random.default_rng(seed + 15_485_863)
    ids = replica.column("id").to_numpy()
    chunk = ids // spec.chunk_width
    chunks, counts = np.unique(chunk, return_counts=True)
    need = (spec.extra + spec.different) // spec.bad_chunks + 1
    bad = rng.choice(chunks[counts > need], spec.bad_chunks, replace=False)
    in_bad = np.flatnonzero(np.isin(chunk, bad))
    picked = rng.choice(in_bad, spec.extra + spec.different, replace=False)
    extra, different = picked[: spec.extra], picked[spec.extra :]
    taken = set(ids[in_bad].tolist())
    missing: list[int] = []
    while len(missing) < spec.missing:  # free ids, round-robin over bad chunks
        c = bad[len(missing) % spec.bad_chunks]
        cand = int(c * spec.chunk_width + rng.integers(spec.chunk_width))
        if cand not in taken:
            taken.add(cand)
            missing.append(cand)
    balance = replica.column("balance").to_numpy().copy()
    balance[different] += 0.5
    keep = np.ones(len(ids), dtype=bool)
    keep[extra] = False
    kept = replica.set_column(
        replica.column_names.index("balance"), "balance", pa.array(balance)
    ).filter(pa.array(keep))
    miss = np.array(missing, dtype=np.int64)
    added = pa.table(
        {
            "id": miss,
            "target_table": np.where(miss >= ACCOUNTS_BASE, "accounts", "orders_all"),
            "balance": rng.integers(0, 1000, len(miss)) / 4.0,
            "note": np.full(len(miss), "missing"),
        }
    ).cast(kept.schema)
    upstream = pa.concat_tables([kept, added])
    want = {
        "up_count": upstream.num_rows,
        "down_count": replica.num_rows,
        "chunk_failed": spec.bad_chunks,
        "n_missing": spec.missing,
        "n_extra": spec.extra,
        "n_different": spec.different,
    }
    return upstream, want
