"""Document chunking for training-data pipelines.

Splits documents into fixed token-count windows with overlap — the
standard pretraining/RAG prep step (context-window packing). This is a
per-row expansion with no shuffle at all: tokenize, compute the chunk
count arithmetically, ``explode`` a chunk-index sequence, and slice the
token array per chunk. Everything is built-in expressions, so a 100 TB
corpus chunks as a pure map stage — partition-local, no Python, no
exchange (the array HOFs run interpreted outside codegen, but per
CHUNK, not per token; see BENCH notes on HOF cost).

The chunk grid: window ``chunk_tokens`` sliding by
``chunk_tokens - overlap_tokens``; the last window is allowed to be
short (covers the tail) and a document shorter than one window yields
exactly one chunk. ``n_chunks = max(1, ceil((n - c) / s) + 1)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from pyogrio_spark.operators.rank import BUCKET, bucket_offsets, range_bucket


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 32,
    overlap_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = " ",
) -> DataFrame:
    """-> (id_col, chunk_id, chunk_text, n_tokens) — one row per chunk.

    ``n_tokens`` is the actual token count of the chunk (the final
    window may be short). Chunks of one document are index-contiguous
    from 0, so downstream packing can group on ``id_col`` and order by
    ``chunk_id`` deterministically.
    """
    if overlap_tokens >= chunk_tokens:
        raise ValueError(
            f"overlap_tokens ({overlap_tokens}) must be < chunk_tokens ({chunk_tokens})"
        )
    c, s = int(chunk_tokens), int(chunk_tokens - overlap_tokens)
    # sep is a LITERAL separator (array_join re-joins with it verbatim),
    # but F.split takes a regex — escape so a "." or "|" separator
    # splits literally instead of on every character
    import re as _re

    toks = F.split(F.col(text_col), _re.escape(sep))
    n = F.size(toks)
    n_chunks = F.greatest(
        F.lit(1), (F.ceil((n - F.lit(c)) / F.lit(float(s)))).cast("int") + F.lit(1)
    )
    start = F.col("chunk_id") * F.lit(s)  # 0-based token offset
    return (
        docs.select(id_col, F.col(text_col))
        .withColumn("_toks", toks)
        .withColumn("_n", n)
        .withColumn("chunk_id", F.explode(F.sequence(F.lit(0), n_chunks - F.lit(1))))
        .select(
            id_col,
            F.col("chunk_id"),
            F.array_join(F.slice(F.col("_toks"), start + F.lit(1), F.lit(c)), sep).alias(
                "chunk_text"
            ),
            F.least(F.lit(c), F.col("_n") - start).alias("n_tokens"),
        )
    )


def pack_chunks(
    chunks: DataFrame,
    budget_tokens: int,
    chunk_tokens: int = 32,
) -> DataFrame:
    """Fixed-capacity sequence packing: adds ``pack_id`` assigning each
    document's chunks, in chunk order, to packs of
    ``m = budget_tokens // chunk_tokens`` chunks. Every chunk holds at
    most ``chunk_tokens`` tokens (the tail may be short), so every pack
    is guaranteed within ``budget_tokens`` — capacity-safe without the
    sequential pass exact greedy packing would need. Pure codegen
    (integer division on ``chunk_id``): packing a 100 TB corpus is a
    zero-shuffle map. Packs are per-document; cross-document packing is
    inherently sequential and left to the caller's final assembler.
    """
    if budget_tokens < chunk_tokens:
        raise ValueError(
            f"budget_tokens ({budget_tokens}) must be >= chunk_tokens ({chunk_tokens})"
        )
    m = budget_tokens // chunk_tokens
    return chunks.withColumn(
        "pack_id", (F.col("chunk_id") / F.lit(m)).cast("bigint")
    )


def pack_chunks_global(
    chunks: DataFrame,
    budget_tokens: int,
    chunk_tokens: int = 32,
    order_cols: tuple[str, ...] = ("doc_id", "chunk_id"),
) -> DataFrame:
    """Cross-document fixed-capacity packing: assign ALL chunks, in
    global (doc_id, chunk_id) order, to packs of
    ``m = budget_tokens // chunk_tokens`` chunks — the final context
    assembly step ``pack_chunks`` leaves to the caller, made
    distributed.

    A naive global ``row_number`` puts the whole corpus through ONE
    window task; instead ``global_idx`` is the row number within a
    literal range bucket plus the bucket's literal offset (the two-phase
    rank of ``operators/rank.py``): one hash exchange, every stage
    partition-parallel.

    Adds ``global_idx`` and overwrites ``pack_id`` with the global
    assignment; every pack is within budget for the same reason as
    ``pack_chunks`` (chunks never exceed ``chunk_tokens``).
    """
    if budget_tokens < chunk_tokens:
        raise ValueError(
            f"budget_tokens ({budget_tokens}) must be >= chunk_tokens ({chunk_tokens})"
        )
    m = budget_tokens // chunk_tokens
    cols = list(order_cols)
    parts = range_bucket(chunks.drop("pack_id"), cols)
    rank = F.row_number().over(Window.partitionBy(BUCKET).orderBy(*cols))
    return (
        parts.withColumn("global_idx", rank - 1 + bucket_offsets(parts, F.lit(1)))
        .withColumn("pack_id", (F.col("global_idx") / F.lit(m)).cast("bigint"))
        .drop(BUCKET)
    )
