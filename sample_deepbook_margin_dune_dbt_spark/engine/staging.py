"""Stage a frame for the duration of a scope, and release it.

A cache (``persist``) and a local checkpoint (``localCheckpoint``, which
also cuts the lineage) both hold a frame's rows so that several actions
read them once, but they are freed differently: a cache by
``df.unpersist()``, a checkpoint only by ``RDD.unpersist`` on the RDD
under its ``LogicalRDD`` plan (``df.unpersist()`` leaves its blocks in
the block manager). :func:`release` is the one place that knows both.

The rule for callers: a frame that a function stages and consumes before
it returns goes through :func:`stage` (a scope) or, for per-round frames
whose lifetimes overlap, :func:`release` once the next round has
materialized; everything the returned plan does not read is released
before returning. A ``localCheckpoint`` that feeds the returned frame is a
bare lineage cut owned by the caller, freed by Spark's ContextCleaner once
that frame is unreachable.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


@contextmanager
def stage(
    df: DataFrame,
    checkpoint: bool = False,
    eager: bool = True,
    storage_level: StorageLevel | None = None,
) -> Iterator[DataFrame]:
    """Yield ``df`` staged, and release it on exit.

    ``checkpoint=False`` caches (``df.persist()``, filled by the first
    action); ``checkpoint=True`` yields ``df.localCheckpoint(eager,
    storage_level)``. Read the yielded frame, not ``df``.
    """
    if checkpoint:
        staged = df.localCheckpoint(eager=eager, storageLevel=storage_level)
    else:
        staged = df.persist()
    try:
        yield staged
    finally:
        release(staged)


def release(df: DataFrame) -> None:
    """Free the blocks of a cached or local-checkpointed frame.

    Pass the frame that was staged, not a projection of it: a projection
    is neither cached nor a checkpoint and raises ``ValueError``. Reading
    a released checkpoint fails; a released cache recomputes."""
    if df.storageLevel != StorageLevel.NONE:
        df.unpersist()
        return
    plan = df._jdf.logicalPlan()
    if plan.getClass().getSimpleName() != "LogicalRDD":
        raise ValueError("release() takes a cached or local-checkpointed frame")
    plan.rdd().unpersist(False)
