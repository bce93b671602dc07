"""Semantics goldens for the as-of join (operators/windows.py:
asof_join): inclusive tie handling, missing-history nulls, key
isolation, and the single-exchange plan shape."""

from __future__ import annotations

from datetime import datetime

import pytest

from cybersecurity_miw_spark.operators.windows import asof_join


def _ts(s):
    return datetime(2024, 1, 1, 0, 0, s)


@pytest.fixture(scope="module")
def joined(spark):
    left = spark.createDataFrame(
        [
            (1, "a", _ts(10)),
            (2, "a", _ts(20)),
            (3, "a", _ts(5)),   # before any snapshot
            (4, "b", _ts(10)),  # key isolation: b has no snapshots
            (5, "a", _ts(15)),  # exactly at a snapshot ts
        ],
        "event_id long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("a", _ts(8), 100),
            ("a", _ts(15), 200),
            ("c", _ts(1), 999),  # other-key snapshot never leaks
        ],
        "k string, ts timestamp, snap long",
    )
    out = asof_join(left, right, on="k", right_cols=("snap",))
    return {r["event_id"]: r["asof_snap"] for r in out.collect()}, out


def test_asof_backward_latest(joined):
    got, _ = joined
    assert got[1] == 100   # ts=10 -> snapshot at 8
    assert got[2] == 200   # ts=20 -> snapshot at 15


def test_asof_no_earlier_right_is_null(joined):
    got, _ = joined
    assert got[3] is None  # ts=5 predates all 'a' snapshots


def test_asof_key_isolation(joined):
    got, _ = joined
    assert got[4] is None  # 'b' never sees 'a' or 'c' snapshots


def test_asof_equal_ts_inclusive(joined):
    got, _ = joined
    assert got[5] == 200   # snapshot AT the event ts is visible


def test_asof_single_exchange(spark):
    # plan BEFORE execution: after a collect, AQE's finalized plan
    # string nests the original Exchange under AQEShuffleRead and the
    # count double-reports the single logical shuffle
    left = spark.createDataFrame(
        [(1, "a", _ts(10))], "event_id long, k string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("a", _ts(8), 100)], "k string, ts timestamp, snap long"
    )
    out = asof_join(left, right, on="k", right_cols=("snap",))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_requires_right_cols(spark):
    df = spark.createDataFrame([(1,)], "x long")
    with pytest.raises(ValueError):
        asof_join(df, df, on="x")


def test_asof_matches_python_model_on_random_data(spark):
    """300 random events × random snapshot sets across 12 keys,
    compared against the obvious python 'latest snapshot at or before
    ts' model."""
    import random

    rng = random.Random(20260814)
    keys = [f"k{i}" for i in range(12)]
    left_rows = [
        (i, rng.choice(keys), _ts(rng.randint(0, 59)))
        for i in range(300)
    ]
    right_rows = [
        (k, _ts(s), 1000 + 60 * ki + s)
        for ki, k in enumerate(keys[:8])  # 4 keys have NO snapshots
        for s in sorted(rng.sample(range(60), rng.randint(1, 6)))
    ]
    left = spark.createDataFrame(
        left_rows, "event_id long, k string, ts timestamp"
    )
    right = spark.createDataFrame(
        right_rows, "k string, ts timestamp, snap long"
    )
    got = {
        r["event_id"]: r["asof_snap"]
        for r in asof_join(left, right, on="k", right_cols=("snap",)).collect()
    }
    by_key: dict = {}
    for k, ts, snap in right_rows:
        by_key.setdefault(k, []).append((ts, snap))
    for eid, k, ts in left_rows:
        cands = [(t, s) for t, s in by_key.get(k, []) if t <= ts]
        want = max(cands)[1] if cands else None
        assert got[eid] == want, (eid, k, ts)


def test_dup_clusters_empty_pairs(spark):
    from cybersecurity_miw_spark.operators import dedup

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup.dup_clusters(empty).count() == 0
