"""Two-phase distributed rank (skip_features, budget_filter,
pack_chunks_global, asof_join_distributed): a per-bucket summary, then
a window inside each bucket plus the bucket's prefix offset. Split
points from one sample (as in SpatialHadoop) and the offsets are plan
literals, so a row's bucket depends only on the row: nothing is cached
and re-planning between jobs cannot move a row. The input must give the
same rows on every evaluation.
"""

from __future__ import annotations

from itertools import accumulate

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BUCKET = "_bucket"
SAMPLE_PER_BUCKET = 20


def _terms(order) -> list[tuple[str, bool]]:
    """ORDER BY terms as ``(column, ascending)``; a bare name is
    ascending. NULLs order as in Spark: first for ASC, last for DESC."""
    return [(t, True) if isinstance(t, str) else tuple(t) for t in order]


def sort_exprs(order) -> list[Column]:
    return [F.col(c).asc() if asc else F.col(c).desc() for c, asc in _terms(order)]


def _ident(c: str) -> str:
    return "`" + c.replace("`", "``") + "`"


def _sql_lit(v, dtype) -> str:
    """A collected value as SQL text: one SQL string is one py4j call,
    Column objects cost one per node (seconds at ~200 split points)."""
    if v is None:
        return f"CAST(NULL AS {dtype.simpleString()})"
    if isinstance(v, str):
        return f"CAST(X'{v.encode().hex()}' AS STRING)"
    if isinstance(v, (bytes, bytearray)):
        return f"X'{bytes(v).hex()}'"
    return f"CAST('{repr(v) if isinstance(v, float) else v}' AS {dtype.simpleString()})"


def _struct(fields) -> str:
    return "struct(" + ", ".join(f"{x} AS k{i}" for i, x in enumerate(fields)) + ")"


def _after(terms, schema, split) -> str:
    """SQL predicate: the row sorts strictly after ``split``. Structs
    compare field by field with NULLs first, so ASC terms put the row
    on the left and DESC terms the split (NULLs last, as Spark sorts)."""
    row = [_ident(c) for c, _ in terms]
    lit = [_sql_lit(v, schema[c].dataType) for (c, _), v in zip(terms, split)]
    left = [r if asc else x for (_, asc), r, x in zip(terms, row, lit)]
    right = [x if asc else r for (_, asc), r, x in zip(terms, row, lit)]
    return f"{_struct(left)} > {_struct(right)}"


def range_bucket(df: DataFrame, order, n: int | None = None) -> DataFrame:
    """``df`` plus an int ``_bucket`` in ``[0, n)``, monotone in
    ``order``; equal keys share a bucket. One action collects at most
    ``20 * n`` key tuples (smallest key hash first: a deterministic
    sample); their n-1 quantiles become a literal binary search.
    ``n`` defaults to ``spark.sql.shuffle.partitions``."""
    terms = _terms(order)
    cols = [c for c, _ in terms]
    n = n or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sample = (
        df.select(*cols).orderBy(F.xxhash64(*cols)).limit(SAMPLE_PER_BUCKET * n)
        .orderBy(*sort_exprs(terms)).collect()
    )
    picks = [tuple(sample[i * len(sample) // n]) for i in range(1, n)] if sample else []
    after = [_after(terms, df.schema, s) for i, s in enumerate(picks) if i == 0 or s != picks[i - 1]]

    def search(lo: int, hi: int) -> str:  # bucket index in [lo, hi]
        if lo == hi:
            return str(lo)
        mid = (lo + hi) // 2
        return f"CASE WHEN {after[mid]} THEN {search(mid + 1, hi)} ELSE {search(lo, mid)} END"

    return df.withColumn(BUCKET, F.expr(search(0, len(after))))


def bucket_offsets(bucketed: DataFrame, value, by=()) -> Column:
    """Per row, the sum of ``value`` over the rows of its ``by`` group in
    earlier buckets. One action collects the per-(``_bucket``, *by)
    totals; the result is a literal ``element_at(array, _bucket + 1)``,
    behind a literal map keyed by the ``by`` struct when ``by`` is given."""
    by = list(by)
    agg = bucketed.groupBy(BUCKET, *by).agg(F.sum(value).alias("_t"))
    rows, ttype = agg.collect(), agg.schema["_t"].dataType
    if not rows:
        return F.lit(None).cast(ttype)
    nb = 1 + max(r[BUCKET] for r in rows)
    totals: dict[tuple, list] = {}
    for r in rows:
        totals.setdefault(tuple(r[c] for c in by), [0] * nb)[r[BUCKET]] = r["_t"] or 0

    def prefix(ts: list) -> str:  # exclusive running sum per bucket
        return "array(" + ", ".join(_sql_lit(o, ttype) for o in list(accumulate(ts, initial=0))[:-1]) + ")"

    if not by:
        return F.expr(f"element_at({prefix(totals[()])}, {BUCKET} + 1)")
    lookup = ", ".join(
        f"{_struct(_sql_lit(v, bucketed.schema[c].dataType) for c, v in zip(by, g))}, {prefix(ts)}"
        for g, ts in totals.items()
    )
    key = _struct(_ident(c) for c in by)
    return F.expr(f"element_at(element_at(map({lookup}), {key}), {BUCKET} + 1)")
