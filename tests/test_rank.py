"""Range-bucket rank (operators/rank.py): buckets are monotone in any
ORDER BY (directions, NULLs, NaN), and the four operators built on it
return identical rows when the session configuration changes between
building a plan and running it."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from pyogrio_spark.io.reader import read_table
from pyogrio_spark.operators.asof_join import asof_join, asof_join_distributed
from pyogrio_spark.operators.budget import budget_filter, budget_filter_window
from pyogrio_spark.operators.chunking import chunk_documents, pack_chunks_global
from pyogrio_spark.operators.rank import BUCKET, bucket_offsets, range_bucket, sort_exprs

@pytest.fixture(scope="module")
def keyed(spark):
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {
            "a": rng.integers(0, 6, 400).astype(float),
            "b": rng.integers(0, 40, 400),
            "g": rng.choice(["x", "y", "z"], 400),
            "v": rng.integers(1, 9, 400),
        }
    )
    df = spark.createDataFrame(pdf, "a double, b long, g string, v long")
    # NULLs and NaNs in the leading key, NULL groups
    return df.select(
        F.when(F.col("b") % 7 == 0, F.lit(None))
        .when(F.col("b") % 11 == 0, F.lit(float("nan")))
        .otherwise(F.col("a"))
        .alias("a"),
        "b",
        F.when(F.col("b") % 5 == 0, F.lit(None)).otherwise(F.col("g")).alias("g"),
        "v",
    )


@pytest.mark.parametrize(
    "order",
    [["a", "b"], [("a", False), "b"], [("b", False), ("a", False)], [("g", False), "a", "b"]],
)
def test_range_bucket_is_monotone_and_ranks_globally(keyed, order):
    bucketed = range_bucket(keyed, order, 5)
    seq = [r[0] for r in bucketed.orderBy(*sort_exprs(order)).select(BUCKET).collect()]
    assert seq == sorted(seq) and len(set(seq)) > 1
    rank = F.rank().over(Window.partitionBy(BUCKET).orderBy(*sort_exprs(order)))
    got = bucketed.select("a", "b", "g", "v", (rank + bucket_offsets(bucketed, F.lit(1))).alias("r"))
    want = keyed.withColumn("r", F.rank().over(Window.orderBy(*sort_exprs(order))))
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))


def test_budget_filter_keeps_null_group_like_window_plan(keyed):
    kw = dict(budget=60, group_col="g", value_col="v", order_cols=("b", "a"))
    got = budget_filter(keyed, num_partitions=6, **kw)
    want = budget_filter_window(keyed, **kw)
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))
    assert got.filter(F.col("g").isNull()).count() > 0


def test_empty_input(keyed):
    empty = keyed.filter(F.col("b") < 0)
    assert range_bucket(empty, ["a"]).count() == 0
    assert budget_filter(empty, 10, group_col="g", value_col="v", order_cols=("b",)).count() == 0


CONFIGS = (
    {
        "spark.sql.shuffle.partitions": "4",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
    },
    {
        "spark.sql.shuffle.partitions": "7",
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    },
)


def _inputs(spark):
    """Seeded sf0.001-sized inputs: (500 documents with a length value,
    1,000 as-of events, as-of rates)."""
    rng = np.random.default_rng(7)
    vocab = np.array([f"w{i}" for i in range(300)])
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": np.arange(500),
                "text": [" ".join(rng.choice(vocab, rng.integers(5, 120))) for _ in range(500)],
                "lang": rng.choice(["en", "de", "fr", "es", "zh"], 500),
            }
        ),
        "doc_id long, text string, lang string",
    ).withColumn("n", F.length("text").cast("bigint"))
    ev = spark.createDataFrame(
        pd.DataFrame(
            {
                "event_id": np.arange(1000),
                "event_type": rng.choice(["click", "view", "buy", "share"], 1000),
                "value": rng.normal(0, 1, 1000).round(6),
                "t": rng.integers(0, 86_400, 1000),
            }
        ),
        "event_id long, event_type string, value double, t long",
    )
    rates = (
        ev.filter(F.col("event_id") % 5 == 0)
        .groupBy("event_type", F.col("t").alias("rt"))
        .agg(F.max("value").alias("rate"))
    )
    return docs, ev.drop("value"), rates


BUDGET = dict(budget=20_000, group_col="lang", value_col="n", order_cols=("doc_id",))
ASOF = dict(key_cols=["event_type"], left_ts="t", right_ts="rt", right_vals=["rate"])


def _plans(spark):
    docs, events, rates = _inputs(spark)
    return {
        "skip": read_table(spark, docs, skip_features=120, columns=["doc_id", "lang"], read_geometry=False),
        "budget": budget_filter(docs, **BUDGET).select("doc_id", "lang", "n"),
        "pack": pack_chunks_global(chunk_documents(docs, 32, 8), budget_tokens=128, chunk_tokens=32)
        .select("doc_id", "chunk_id", "global_idx", "pack_id"),
        "asof": asof_join_distributed(events, rates, **ASOF),
    }


def _run(plans):
    return {k: sorted(tuple(r) for r in df.collect()) for k, df in plans.items()}


def _set(spark, conf):
    for k, v in conf.items():
        spark.conf.set(k, v)


def test_two_phase_operators_survive_config_change_between_build_and_run(spark):
    saved = {k: spark.conf.get(k) for k in CONFIGS[0]}
    try:
        results = []
        for build, run in ((0, 0), (0, 1), (1, 0)):
            _set(spark, CONFIGS[build])
            plans = _plans(spark)
            _set(spark, CONFIGS[run])
            results.append(_run(plans))
    finally:
        _set(spark, saved)
    assert results[0] == results[1] == results[2]

    # and the rows are the reference plans' rows
    got = results[0]
    docs, events, rates = _inputs(spark)
    want = {
        "skip": docs.withColumn("_rn", F.row_number().over(Window.orderBy("doc_id")))
        .filter("_rn > 120").select("doc_id", "lang"),
        "budget": budget_filter_window(docs, **BUDGET).select("doc_id", "lang", "n"),
        "asof": asof_join(events, rates, **ASOF),
    }
    for k, df in want.items():
        assert got[k] == sorted(tuple(r) for r in df.collect()), k
    # rows sort by (doc_id, chunk_id): global_idx must count 0..n-1 in that order
    assert [r[2] for r in got["pack"]] == list(range(len(got["pack"])))
