"""AS-OF join: match each left row to the latest right row with
right_ts <= left_ts per key — the classic operator Spark's built-ins
lack (task brief: "when the reference has an operator Spark lacks
(e.g., as-of join, range join), implement it as a composition of
existing DataFrame ops").

Two plans:

- ``asof_join`` (semantic reference): tag + union + per-key ordered
  window with last(ignorenulls). ONE shuffle, but each key funnels
  through one reducer — fine for high-cardinality keys, serial for a
  handful of hot keys.
- ``asof_join_distributed`` (scale plan for FEW/HOT keys): the
  two-phase rank of ``operators/rank.py`` — cut the union into
  deterministic (key, ts) range buckets, take each bucket's last
  right-value per key, broadcast the running "carry-in" value back,
  then fill within buckets in parallel. A single hot key spreads over
  many buckets instead of one reducer.

Decision matrix: the carry summary is one row per (bucket, key)
PRESENT — range buckets keep keys contiguous so it is
O(keys + buckets) rows. It stays a DataFrame end-to-end (a per-key
window over ``_bucket``, broadcast-joined back — no driver
``collect()`` of data), so even a high-cardinality key set never
materializes on the driver. HIGH-cardinality keys are also exactly the case where the
per-key window plan already parallelizes (millions of small groups),
so: many keys -> ``asof_join``; few/hot keys -> the distributed plan.

Tie rule: a right row at exactly left_ts applies (>=), matching
DuckDB's ASOF JOIN — the engine orders (ts, src) with right rows first
so ``last`` picks them up at equal timestamps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyogrio_spark.operators.rank import BUCKET, range_bucket


def _tag_union(left, right, key_cols, left_ts, right_ts, right_vals):
    lcols = left.columns
    l = left.withColumn("_ts", F.col(left_ts)).withColumn("_src", F.lit(1))
    for v in right_vals:
        l = l.withColumn(v, F.lit(None).cast(right.schema[v].dataType))
    r = right.select(*key_cols, F.col(right_ts).alias("_ts"), *right_vals).withColumn("_src", F.lit(0))
    for c in lcols:
        if c not in r.columns:
            r = r.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    return l.unionByName(r.select(*l.columns)), lcols


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_vals: list[str] | None = None,
) -> DataFrame:
    """Reference plan (one reducer per key): left columns + the latest
    right_vals as of each left row's timestamp (NULL when no right row
    precedes it)."""
    right_vals = right_vals or [c for c in right.columns if c not in (*key_cols, right_ts)]
    unioned, lcols = _tag_union(left, right, key_cols, left_ts, right_ts, right_vals)
    w = Window.partitionBy(*key_cols).orderBy("_ts", "_src").rowsBetween(Window.unboundedPreceding, 0)
    filled = unioned.select(
        "*", *[F.last(v, ignorenulls=True).over(w).alias(f"_f_{v}") for v in right_vals]
    )
    return filled.filter(F.col("_src") == 1).select(
        *lcols, *[F.col(f"_f_{v}").alias(v) for v in right_vals]
    )


def asof_join_distributed(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_vals: list[str] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Scale plan: two-phase distributed as-of fill (see module doc)."""
    right_vals = right_vals or [c for c in right.columns if c not in (*key_cols, right_ts)]
    unioned, lcols = _tag_union(left, right, key_cols, left_ts, right_ts, right_vals)

    # one explicit exchange that the summary and the fill both consume,
    # so the two branches share it instead of re-reading the input
    parts = range_bucket(unioned, [*key_cols, "_ts", "_src"], num_partitions).repartition(
        BUCKET, *key_cols
    )

    # per-(bucket, key) summary: each right column's last non-NULL value
    # in (ts, src) order, one row per (bucket, key) PRESENT — left-only
    # buckets included, so a key's left rows long after its last right
    # row still get a carry in every later bucket.
    order = F.struct("_ts", "_src")
    lasts = parts.groupBy(BUCKET, *key_cols).agg(
        *[F.max_by(v, F.when(F.col(v).isNotNull(), order)).alias(v) for v in right_vals]
    )
    # carry-in per key, as a DataFrame (no driver collect): per VALUE
    # column, the last non-NULL summary value of STRICTLY-PRECEDING
    # buckets, so a right row with one NULL value does not erase an
    # earlier carry for it. O(keys + buckets) rows, broadcast back.
    w_carry = Window.partitionBy(*key_cols).orderBy(BUCKET).rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = lasts.select(
        BUCKET, *key_cols, *[F.last(v, ignorenulls=True).over(w_carry).alias(f"_c_{v}") for v in right_vals]
    ).dropna(how="all", subset=[f"_c_{v}" for v in right_vals])

    w = Window.partitionBy(BUCKET, *key_cols).orderBy("_ts", "_src").rowsBetween(Window.unboundedPreceding, 0)
    filled = (
        parts.join(F.broadcast(carry), [BUCKET, *key_cols], "left")
        .select(
            "*",
            *[
                F.coalesce(F.last(v, ignorenulls=True).over(w), F.col(f"_c_{v}")).alias(f"_f_{v}")
                for v in right_vals
            ],
        )
    )
    return filled.filter(F.col("_src") == 1).select(
        *lcols, *[F.col(f"_f_{v}").alias(v) for v in right_vals]
    )
