"""Property-based tests — randomized DML sequences (the reference's
dm/simulator/sqlgen role): for ANY event sequence, compact() must agree
with a direct Python fold of the truth table (compactor.go:154-162), and
changes_to_state must agree with replaying events in order.

One hypothesis example = one whole multi-key batch (single Spark job per
example; examples capped for runtime).
"""

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

OPS = ("I", "U", "D")

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("key", T.StringType()),
        T.StructField("commit_ts", T.LongType()),
        T.StructField("seq", T.LongType()),
        T.StructField(
            "before",
            T.StructType(
                [
                    T.StructField("id", T.LongType()),
                    T.StructField("balance", T.DoubleType()),
                    T.StructField("note", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "after",
            T.StructType(
                [
                    T.StructField("id", T.LongType()),
                    T.StructField("balance", T.DoubleType()),
                    T.StructField("note", T.StringType()),
                ]
            ),
        ),
    ]
)

# a batch: per key, a sequence of (op, commit_ts, value)
batch_strategy = st.dictionaries(
    st.integers(min_value=0, max_value=9),  # key id
    st.lists(
        st.tuples(
            st.sampled_from(OPS),
            st.integers(min_value=1, max_value=5),  # commit_ts (ties likely)
            st.integers(min_value=0, max_value=99),  # payload value
        ),
        min_size=1,
        max_size=6,
    ),
    min_size=1,
    max_size=5,
)


def _rows(batch):
    rows, seq = [], 0
    for k, evs in sorted(batch.items()):
        for op, ts, val in evs:
            seq += 1
            img = (k, float(val), f"n{val}")
            rows.append(
                (
                    op,
                    "t",
                    str(k),
                    ts,
                    seq,
                    img if op != "I" else None,
                    img if op != "D" else None,
                )
            )
    return rows


def _fold_net_op(ordered_ops):
    """Reference truth table (compactor.go:154-162)."""
    first, last = ordered_ops[0], ordered_ops[-1]
    if first == "I" and last == "D":
        return None
    if first == "I":
        return "I"
    if last == "D":
        return "D"
    if first == "D":
        return "U"  # D..I → REPLACE-shaped
    return "U"


def _order(rows):
    w = {"D": 0, "U": 1, "I": 2}
    return sorted(rows, key=lambda r: (r[3], r[4], w[r[0]]))


@st.composite
def _hot_key_batches(draw):
    """Randomized HOT-KEY distribution: key 0 gets an update storm, cold
    keys get 1-3 events — one batch mixes both regimes."""
    batch = {0: draw(st.lists(
        st.tuples(
            st.sampled_from(OPS),
            st.integers(min_value=1, max_value=5),
            st.integers(min_value=0, max_value=99),
        ),
        min_size=25,
        max_size=80,
    ))}
    n_cold = draw(st.integers(min_value=0, max_value=6))
    for k in range(1, n_cold + 1):
        batch[k] = draw(st.lists(
            st.tuples(
                st.sampled_from(OPS),
                st.integers(min_value=1, max_value=5),
                st.integers(min_value=0, max_value=99),
            ),
            min_size=1,
            max_size=3,
        ))
    return batch


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.one_of(batch_strategy, _hot_key_batches()))
def test_compact_matches_truth_table_fold(spark, batch):
    from tiflow_spark.operators.compactor import compact

    rows = _rows(batch)
    env = spark.createDataFrame(rows, EVENT_SCHEMA)
    got = {r.key: r for r in compact(env, table_col="table").collect()}

    for k in batch:
        key_rows = _order([r for r in rows if r[2] == str(k)])
        ops = [r[0] for r in key_rows]
        net = _fold_net_op(ops)
        if net is None:
            assert str(k) not in got, f"key {k}: I..D must annihilate"
            continue
        r = got[str(k)]
        assert r.op == net, f"key {k}: net op {r.op} != {net} (ops={ops})"
        # last event's image and timestamps win
        last_row = key_rows[-1]
        assert r.commit_ts == last_row[3] and r.seq == last_row[4]
        if net in ("I", "U"):
            assert r.after is not None
        if net in ("U", "D"):
            # before = FIRST event's before image
            first_before = key_rows[0][5]
            assert (r.before is None) == (first_before is None)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(batch_strategy)
def test_changes_to_state_matches_sequential_replay(spark, batch):
    from tiflow_spark.operators.apply import changes_to_state

    rows = _rows(batch)
    env = spark.createDataFrame(rows, EVENT_SCHEMA)
    got = {
        r.key: (r.id, r.balance, r.note)
        for r in changes_to_state(env, table_col="table").collect()
    }
    # sequential replay per key: last op wins; D removes
    expect = {}
    for r in _order(rows):
        k = r[2]
        if r[0] == "D":
            expect.pop(k, None)
        else:
            expect[k] = r[6]
    assert got == {k: v for k, v in expect.items()}
