"""The one owner of intermediate-cache lifetime.

Invariant: whatever a registered query persists lives exactly as long
as the DataFrame the query returned. ``registry.query`` records the
build's persists and releases them when that DataFrame is garbage-
collected, so no caller needs ``clearCache``. A persist is only an
optimisation: a plan chained on a dropped result recomputes the same
rows. No result depends on a cache surviving.

Spark keeps one cache entry per plan (``sameResult``): results that
persisted equal plans share it until the last of them is dropped, and
a plan the caller cached before the build is never released here.

Local checkpoints are not owned here: their blocks are the data, so a
checkpoint is released only by the loop that made it, and never while
a returned plan reads it (``release_checkpoint``).
"""

from __future__ import annotations

import functools
import threading
import weakref
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark import SparkContext, StorageLevel
from pyspark.sql import DataFrame

_local = threading.local()
_live: dict[int, tuple] = {}  # id -> (sc, JVM handle) of every owned persist


def _stack() -> list[list]:
    """Open scopes, innermost last; each lists its persists' JVM handles."""
    return _local.__dict__.setdefault("stack", [])


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, recorded in the innermost open scope. Outside
    any scope (an operator called directly) the caller owns it."""
    if not _stack():
        return df.persist()
    sc = df.sparkSession.sparkContext
    if df.storageLevel != StorageLevel.NONE and not _shared(sc, df._jdf):
        return df  # the caller's cache of an equal plan
    df = df.persist()
    _stack()[-1].append(df._jdf)
    _live[id(df._jdf)] = (sc, df._jdf)
    return df


def _shared(sc: SparkContext, jdf) -> bool:
    """Whether a live owner holds a persist of a plan equal to ``jdf``'s."""
    return any(s is sc and jdf.sameSemantics(o) for s, o in list(_live.values()))


def _unpersist(sc: SparkContext | None, jdfs: list) -> None:
    """Newest first, so a derived cache goes before its source; an entry
    another live owner shares stays; nothing once ``sc`` has stopped."""
    for jdf in jdfs:
        _live.pop(id(jdf), None)
    if sc is None or sc is not SparkContext._active_spark_context or sc._jsc is None:
        return
    for jdf in reversed(jdfs):
        if not _shared(sc, jdf):
            jdf.unpersist(False)


@contextmanager
def scope() -> Iterator[list]:
    """Release on exit everything persisted inside the block: for a
    build that materializes an intermediate result before returning."""
    jdfs: list = []
    _stack().append(jdfs)
    try:
        yield jdfs
    finally:
        _stack().pop()
        _unpersist(SparkContext._active_spark_context, jdfs)


def owned_by_result(fn: Callable[..., DataFrame]) -> Callable[..., DataFrame]:
    """Release what ``fn`` persists when the DataFrame it returned is
    dropped; built inside another owner, ``fn`` records into that one."""

    @functools.wraps(fn)
    def build(*args, **kwargs) -> DataFrame:
        if _stack():
            return fn(*args, **kwargs)
        with scope() as jdfs:  # a failed build releases at once
            df = fn(*args, **kwargs)
            if jdfs:  # JVM handles only: a finalizer holding df never runs
                sc = SparkContext._active_spark_context
                weakref.finalize(df, _unpersist, sc, jdfs[:]).atexit = False
                jdfs.clear()  # handed to the result
        return df

    return build


def release_checkpoint(checkpoint: DataFrame) -> None:
    """Drop a local checkpoint's blocks: the RDD behind its ``LogicalRDD``
    leaf (``DataFrame.unpersist`` does nothing for a checkpoint)."""
    checkpoint._jdf.logicalPlan().rdd().unpersist(False)
