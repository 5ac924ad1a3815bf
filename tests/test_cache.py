"""cache.py: a query's persists live exactly as long as its result."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cassowary_spark import cache


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _squares(spark, n):
    base = cache.persist(spark.range(n).select((F.col("id") * F.col("id")).alias("sq")))
    return base.union(base)  # two consumers of the cache


def test_release_on_drop_and_chained_plan_recomputes(spark):
    before = _persisted(spark)
    df = cache.owned_by_result(_squares)(spark, 5)
    chained = df.filter("sq > 1")
    df.collect()
    assert _persisted(spark) - before  # the build's cache is live
    del df
    assert not _persisted(spark) - before
    # the released persist is recomputed, same rows
    assert sorted(r.sq for r in chained.collect()) == [4, 4, 9, 9, 16, 16]


def test_scope_releases_on_exit_and_nested_query_joins_owner(spark):
    before = _persisted(spark)
    with cache.scope():
        df = cache.owned_by_result(_squares)(spark, 3)
        assert df.count() == 6
        assert _persisted(spark) - before
    assert not _persisted(spark) - before
    assert df.count() == 6


def test_failed_build_releases(spark):
    def broken(spark):
        cache.persist(spark.range(3)).count()
        raise RuntimeError("boom")

    before = _persisted(spark)
    with pytest.raises(RuntimeError):
        cache.owned_by_result(broken)(spark)
    assert not _persisted(spark) - before


def test_equal_plans_share_one_entry_until_the_last_owner_drops(spark):
    def level(df):
        return df.storageLevel.useMemory or df.storageLevel.useDisk

    first = cache.owned_by_result(_squares)(spark, 7)
    second = cache.owned_by_result(_squares)(spark, 7)
    probe = spark.range(7).select((F.col("id") * F.col("id")).alias("sq"))
    assert level(probe)
    del first
    assert level(probe)  # the second result still owns the entry
    del second
    assert not level(probe)


def test_callers_own_cache_of_an_equal_plan_survives(spark):
    mine = spark.range(9).select((F.col("id") * F.col("id")).alias("sq")).persist()
    try:
        df = cache.owned_by_result(_squares)(spark, 9)
        assert df.count() == 18
        del df
        assert mine.storageLevel.useMemory or mine.storageLevel.useDisk
    finally:
        mine.unpersist()
