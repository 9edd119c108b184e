"""The one owner of persisted frames, per Spark application.

One owner does both memoisation and tracking. ``memo(spark, key, build)``
persists ``build()`` once per (application, key) and hands the same frame
to every later caller, so queries that share an intermediate (the
registry's signature frame) compute it once. ``track(df)`` persists an
operator-internal frame (band/gram tables that the cap filter and both
self-join sides consume) that callers cannot unpersist by reference.
``release_tracked(spark)`` unpersists both kinds for that session's
application. Unpersisting is always safe — a later action merely
recomputes — so eager release never affects correctness, only warmth.

Frames are keyed by the owning application's applicationId, never by
``id(spark)``, which CPython can reuse. A release from one application
cannot unpersist frames a pipeline in another application still needs.
Sessions sharing one SparkContext share an applicationId and therefore
one pool, which matches Spark's storage model (persisted blocks live in
the shared context).
"""

from __future__ import annotations

from collections import defaultdict
from collections.abc import Callable, Hashable

from pyspark.sql import DataFrame, SparkSession

_FRAMES: dict[str, dict[Hashable, DataFrame]] = defaultdict(dict)


def memo(
    spark: SparkSession, key: Hashable, build: Callable[[], DataFrame]
) -> DataFrame:
    """The persisted frame held under key for spark's application, built
    and persisted on first use."""
    frames = _FRAMES[spark.sparkContext.applicationId]
    if key not in frames:
        frames[key] = build().persist()
    return frames[key]


def track(df: DataFrame) -> DataFrame:
    """Persist df and hold it until the next release (an anonymous memo)."""
    return memo(df.sparkSession, object(), lambda: df)


def release_tracked(spark: SparkSession) -> int:
    """Unpersist and forget every frame held for spark's application.
    Returns the number released."""
    frames = _FRAMES.pop(spark.sparkContext.applicationId, {})
    for df in frames.values():
        df.unpersist()
    return len(frames)
