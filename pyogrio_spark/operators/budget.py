"""Token-budget selection: keep, per group (e.g. language), documents in
a defined order until a cumulative token budget is reached.

The obvious plan — ``sum(tokens) over (partition by lang order by ...)``
— funnels each group through ONE reducer task: with 3 languages over a
100-TB corpus that is 3 tasks doing all the work. ``budget_filter``
therefore runs the two-phase distributed prefix sum of
``operators/rank.py``: ordered (group, order) range buckets, so a hot
group spreads over many buckets; per-bucket cumulative sums in parallel
over ``(_bucket, group)`` plus the literal prefix offset of the group's
earlier buckets; keep rows whose running total starts inside the budget.

``budget_filter_window`` (the one-reducer-per-group plan) is kept as
the semantic reference; tests assert both produce identical rows.

Ordering uses integer keys only (token_count desc, doc_id) — floats
order differently across engines in the last bit, integers never do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyogrio_spark.operators.rank import BUCKET, bucket_offsets, range_bucket


def budget_filter_window(
    df: DataFrame,
    budget: int,
    group_col: str = "lang",
    value_col: str = "token_count",
    order_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Reference plan: single window per group (one reducer per group —
    correct, but serializes each group; use only for many small groups)."""
    w = Window.partitionBy(group_col).orderBy(*[F.col(c) for c in order_cols])
    cum = F.sum(value_col).over(w)
    return df.withColumn("_cum", cum).filter(F.col("_cum") - F.col(value_col) < budget).drop("_cum")


def budget_filter(
    df: DataFrame,
    budget: int,
    group_col: str = "lang",
    value_col: str = "token_count",
    order_cols: tuple[str, ...] = ("doc_id",),
    num_partitions: int | None = None,
) -> DataFrame:
    """Scale plan: two-phase distributed prefix sum (see module doc).

    Selected rows are exactly those whose cumulative sum in
    (group, *order_cols) order *starts* below the budget — a document
    straddling the boundary is kept whole (first-fit semantics).
    """
    parts = range_bucket(df, [group_col, *order_cols], num_partitions)
    w = Window.partitionBy(BUCKET, group_col).orderBy(*[F.col(c) for c in order_cols])
    cum = F.sum(value_col).over(w) + bucket_offsets(parts, value_col, by=(group_col,))
    out = parts.withColumn("_cum", cum).filter(F.col("_cum") - F.col(value_col) < budget)
    return out.drop(BUCKET, "_cum")
