"""Pinned-cache registry: ``semantic_dedup`` caches its cluster
assignment (read three times) and the BPE trainer and segmenter cache
each merge round or stage (a barrier that bounds codegen depth). A pin
must outlive the operator, until its returned DataFrame is
materialized; call ``release_pins()`` then, or the blocks hold executor
storage for the session. A lost pin only costs a recompute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_PINS: list[DataFrame] = []

# sessions that never call release_pins() hold at most MAX_PINS frames
MAX_PINS = 16


def pin_cache(df: DataFrame) -> DataFrame:
    """cache() + register in the session-wide pin list. The registry is
    bounded: beyond ``MAX_PINS`` entries the oldest pin is unpersisted
    (FIFO), so sessions that never call ``release_pins()`` hold at most
    a fixed number of pinned frames."""
    pinned = df.cache()
    _PINS.append(pinned)
    while len(_PINS) > MAX_PINS:
        old = _PINS.pop(0)
        try:
            old.unpersist()
        except Exception:  # session already stopped: nothing to free
            pass
    return pinned


def pinned_count() -> int:
    return len(_PINS)


def release_pins() -> int:
    """Unpersist every pinned frame; returns how many were released.
    Meant for after the outputs of the pinning operators have been
    materialized; releasing earlier only costs a recompute."""
    n = 0
    for df in _PINS:
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped: nothing to free
            pass
    _PINS.clear()
    return n
