"""bench.py's driver-facing headline line: per-query values keep three
significant digits, and every query left out of the line is named."""

import bench


def test_driver_queries_rounds_to_three_significant_digits():
    merged = {
        "queries": {"cdc_apply": 0.0041234, "cdc_compact": 12.3456},
        "r6_queries": {"sched_rebalance": 0.98765},
        "stream_seed_sec": 1.23456,
    }
    assert bench._driver_queries(merged, budget=1700) == {
        "cdc_apply": 0.00412,
        "cdc_compact": 12.3,
        "sched_rebalance": 0.988,
        "stream_seed_sec": 1.23,
    }


def test_driver_queries_names_every_dropped_query(capsys):
    merged = {
        "queries": {"cdc_apply": 1.0},
        "r7_queries": {f"query_{i:02d}": 1.0 for i in range(10)},
    }
    out = bench._driver_queries(merged, budget=60)
    dropped = sorted(set(merged["r7_queries"]) - set(out))
    assert "cdc_apply" in out
    assert dropped
    err = capsys.readouterr().err
    assert all(q in err for q in dropped)
    assert not any(q in err for q in out)
