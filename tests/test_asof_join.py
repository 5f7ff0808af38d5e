"""AS-OF join: window reference vs distributed two-phase plan vs a
pandas merge_asof oracle; plan test asserting the distributed variant
has no single-partition exchange."""

import numpy as np
import pandas as pd
import pytest

from pyogrio_spark.operators.asof_join import asof_join, asof_join_distributed


@pytest.fixture(scope="module")
def frames():
    rng = np.random.default_rng(13)
    n_left, n_right = 3000, 400
    left = pd.DataFrame(
        {
            "event_id": np.arange(n_left, dtype=np.int64),
            "key": rng.integers(0, 5, n_left).astype(np.int64),
            "ts": rng.integers(0, 100_000, n_left).astype(np.int64) * 2 + 1,  # odd: never ties a rate
        }
    )
    right = pd.DataFrame(
        {
            "key": rng.integers(0, 5, n_right).astype(np.int64),
            "rts": np.sort(rng.choice(np.arange(100_000, dtype=np.int64) * 2, n_right, replace=False)),
            "rate": rng.normal(0, 1, n_right).round(6),
        }
    )
    right = right.drop_duplicates(["key", "rts"]).reset_index(drop=True)
    want = (
        pd.merge_asof(
            left.sort_values("ts"), right.sort_values("rts").rename(columns={"rts": "ts_r"}),
            left_on="ts", right_on="ts_r", by="key", direction="backward",
        )
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    return left, right, want


def _check(got: pd.DataFrame, want: pd.DataFrame):
    got = got.sort_values("event_id").reset_index(drop=True)
    a = got.rate.to_numpy(np.float64)
    b = want.rate.to_numpy(np.float64)
    assert len(a) == len(b)
    assert (np.isnan(a) == np.isnan(b)).all()
    m = ~np.isnan(a)
    assert (a[m] == b[m]).all()


def test_asof_window_matches_pandas(spark, frames):
    left, right, want = frames
    l = spark.createDataFrame(left)
    r = spark.createDataFrame(right)
    got = asof_join(l, r, ["key"], left_ts="ts", right_ts="rts", right_vals=["rate"]).toPandas()
    _check(got, want)


def test_asof_distributed_matches_pandas_and_window(spark, frames):
    left, right, want = frames
    l = spark.createDataFrame(left)
    r = spark.createDataFrame(right)
    got = asof_join_distributed(
        l, r, ["key"], left_ts="ts", right_ts="rts", right_vals=["rate"], num_partitions=13
    ).toPandas()
    _check(got, want)


def test_asof_tie_right_row_applies(spark):
    # a right row at exactly left_ts applies (>= semantics, like DuckDB ASOF)
    l = spark.createDataFrame(pd.DataFrame({"event_id": [0], "key": [1], "ts": [100]}))
    r = spark.createDataFrame(pd.DataFrame({"key": [1, 1], "rts": [100, 50], "rate": [9.0, 1.0]}))
    for fn in (asof_join, asof_join_distributed):
        got = fn(l, r, ["key"], left_ts="ts", right_ts="rts", right_vals=["rate"]).collect()
        assert got[0]["rate"] == 9.0, fn.__name__


def test_asof_distributed_left_tail_beyond_last_right_partition(spark):
    """Regression (round-2 ADVICE high): a hot key whose left rows keep
    flowing long after its last right row must still receive the carry
    in partitions >= 2 past the partition holding that last right row.
    The old carry loop stopped at max_pid+1 (the last pid with ANY
    right row), leaving those tails NULL."""
    # key 1: one rate at ts=10, then 2000 left rows at ts 100..2099 —
    # with 16 range partitions over (key, ts) the left tail spans many
    # partitions past the single right row's partition.
    left = pd.DataFrame(
        {
            "event_id": np.arange(2000, dtype=np.int64),
            "key": np.ones(2000, dtype=np.int64),
            "ts": np.arange(100, 2100, dtype=np.int64),
        }
    )
    right = pd.DataFrame({"key": [1], "rts": [10], "rate": [7.5]})
    l = spark.createDataFrame(left)
    r = spark.createDataFrame(right)
    got = asof_join_distributed(
        l, r, ["key"], left_ts="ts", right_ts="rts", right_vals=["rate"], num_partitions=16
    ).toPandas()
    assert len(got) == 2000
    assert (got.rate.to_numpy(np.float64) == 7.5).all(), (
        f"{got.rate.isna().sum()} left rows lost the carry"
    )


def test_asof_distributed_mixed_null_right_values_coalesce_per_value(spark):
    """Per-VALUE carry: a later right row with a NULL in one value column
    must not erase an earlier partition's non-null carry for that column."""
    left = pd.DataFrame({"event_id": [0], "key": [1], "ts": [5000]})
    right = spark.createDataFrame(
        [(1, 10, 1.5, 100), (1, 20, None, 200)],
        schema="key long, rts long, rate_a double, rate_b long",
    )
    l = spark.createDataFrame(left)
    got = asof_join_distributed(
        l, right, ["key"], left_ts="ts", right_ts="rts",
        right_vals=["rate_a", "rate_b"], num_partitions=8,
    ).collect()
    assert got[0]["rate_a"] == 1.5 and got[0]["rate_b"] == 200


def test_asof_distributed_no_single_partition_exchange(spark, frames):
    left, right, _ = frames
    l = spark.createDataFrame(left)
    r = spark.createDataFrame(right)
    out = asof_join_distributed(l, r, ["key"], left_ts="ts", right_ts="rts", right_vals=["rate"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert "hashpartitioning(_bucket" in plan


def test_asof_distributed_operator_has_no_driver_collect():
    # The round-4 verdict flagged the carry-in materializing on the
    # driver; the carry is now a window-over-summary DataFrame
    # broadcast back, so the operator module must contain no collect().
    import inspect

    import pyogrio_spark.operators.asof_join as mod

    src = inspect.getsource(mod)
    assert ".collect()" not in src
    assert "createDataFrame" not in src
