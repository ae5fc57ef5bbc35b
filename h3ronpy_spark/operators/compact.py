"""Distributed compact/uncompact over DataFrames.

`compact` has no Spark primitive (SURVEY.md §4.2 custom item 4).  Key
property: sibling promotion never crosses a res-K ancestor boundary — the
compact of a cell set is the disjoint union of the compacts of its
subtrees.  So the distributed operator is ONE shuffle: group by the res-2
ancestor (pure bit math, 5882 groups globally) and run the vectorized
numpy compact kernel per group via applyInPandas; the only cross-group
promotions possible involve cells at res <= 2, a globally bounded set
(<= 5882 + 964 rows) compacted with the same kernel in a lazy
single-group second stage.  Replaces the round-1 per-resolution fixpoint (2 Spark
actions per level, ~10s on the contract query; this shape is ~5x faster
and has ONE stage boundary regardless of resolution span).
"""

from __future__ import annotations

import threading

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import functions as H

_GROUP_RES = 2

_ALL_SESSIONS = object()


class SessionSlot:
    """One persisted DataFrame per SparkSession (round-5, ADVICE r04):
    hold(df) persists df and releases the one held before in its
    session, so default cache growth stays at one frame per session.
    Keyed by session id and guarded by a lock, so two driver threads on
    different sessions cannot unpersist each other's frame mid-query.
    A caller still running an action on an OLDER frame of the same
    session simply recomputes it (correctness unaffected)."""

    def __init__(self):
        self.lock = threading.Lock()
        self.held: dict = {}  # session key -> DataFrame

    def hold(self, df: DataFrame) -> DataFrame:
        try:
            key = id(df.sparkSession)
        except Exception:
            key = None
        h = df.persist()
        with self.lock:
            old = self.held.pop(key, None)
            self.held[key] = h
        if old is not None:
            _unpersist(old)
        return h

    def release(self, session_key=_ALL_SESSIONS) -> None:
        """Release the frame held for one session key, or with no
        argument every session's."""
        with self.lock:
            keys = (list(self.held) if session_key is _ALL_SESSIONS
                    else [session_key])
            olds = [self.held.pop(k) for k in keys if k in self.held]
        for old in olds:
            _unpersist(old)


def _unpersist(df: DataFrame) -> None:
    try:
        df.unpersist()
    except Exception:
        pass


# the most recent compact_cells call's persisted intermediate
_INTERMEDIATES = SessionSlot()


def unpersist_intermediates(session_key=_ALL_SESSIONS) -> None:
    """Release intermediates compact_cells persisted (blocking=False).
    With no argument, releases across ALL sessions."""
    _INTERMEDIATES.release(session_key)


def compact_cells(
    df: DataFrame, cell_col: str = "cell", persist_intermediate: bool = True
) -> DataFrame:
    """Compact a DataFrame of (distinct) cells; returns one `cell` column.

    Mixed resolutions allowed (reference requires mixed_resolutions=True
    for that, h3ronpy/python/h3ronpy/__init__.py:160-167; the eager
    arrays.compact mirrors that gate).

    The grouped-kernel output feeds two branches (fine output + the
    bounded coarse tail); Spark does NOT reuse the exchange between them
    (verified: no ReusedExchange in the executed plan), so by default the
    intermediate is persisted (MEMORY_AND_DISK) — otherwise the full input
    scan + kernel would run twice.  The cached set is the *compacted*
    output (small); only the MOST RECENT call's intermediate stays cached
    (each call releases the previous one's), and
    `unpersist_intermediates()` releases that too — callers that never
    want caching pass persist_intermediate=False."""
    from ..h3core import index as IDX

    cur = df.select(F.col(cell_col).alias("cell")).distinct()
    res = H.cells_resolution(F.col("cell"))
    fine = cur.filter(res > _GROUP_RES).withColumn(
        "__anc", H.change_resolution_parent(F.col("cell"), _GROUP_RES)
    )

    def _compact_group(pdf: pd.DataFrame) -> pd.DataFrame:
        cells = IDX.compact(pdf["cell"].to_numpy(np.int64))
        return pd.DataFrame({"cell": cells})

    grouped = fine.groupBy("__anc").applyInPandas(_compact_group, "cell long")
    if persist_intermediate:
        grouped = _INTERMEDIATES.hold(grouped)
    # cells promoted all the way to the group ancestor (res == _GROUP_RES)
    # may form complete sibling sets ACROSS groups; finish them with the
    # same kernel in a single-group second stage together with the
    # originally-coarse input rows.  Both sets are globally bounded
    # (#res-2 cells = 5882, #res<=1 = 964), so one group is fine.  No
    # driver-side action is taken here; the persist materializes lazily on
    # the first downstream action.
    out_res = H.cells_resolution(F.col("cell"))
    final_fine = grouped.filter(out_res > _GROUP_RES)
    tail = (
        grouped.filter(out_res <= _GROUP_RES)
        .unionByName(cur.filter(res <= _GROUP_RES))
        .withColumn("__anc", F.lit(-1).cast("long"))
        .groupBy("__anc")
        .applyInPandas(_compact_group, "cell long")
    )
    return final_fine.unionByName(tail)


def uncompact_cells(df: DataFrame, target_res: int, cell_col: str = "cell") -> DataFrame:
    """Expand to target res (finer-than-target rows dropped), exploded."""
    return (
        df.withColumn(
            "__kids", H.uncompact_list(F.col(cell_col), F.lit(target_res))
        )
        .withColumn(cell_col, F.explode("__kids"))
        .drop("__kids")
    )
