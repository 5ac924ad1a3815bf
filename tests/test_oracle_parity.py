"""Oracle-differential test: every registered query with an oracle must
match DuckDB on the same parquet — the local twin of the driver's gate.

Both tests also check that a query's caches live exactly as long as its
result: once the result is dropped, no RDD the build persisted remains.
"""

from __future__ import annotations

import pytest

from cassowary_spark import registry
from cassowary_spark.oracle import compare

registry.load_all()

ORACLE_KEYS = sorted(registry.ORACLES)
ROWS_ONLY_KEYS = sorted(set(registry.QUERIES) - set(registry.ORACLES))

# q_dedup_clusters' result reads the local checkpoints of
# connected_components' rounds, which only the ContextCleaner frees;
# exempt until CC no longer returns a plan over its checkpoints.
LEAK_EXEMPT = {"q_dedup_clusters"}


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _assert_released(name, spark, before):
    # "no new ids" rather than set equality: the context cleaner may
    # free RDDs of earlier tests meanwhile
    if name not in LEAK_EXEMPT:
        left = _persisted(spark) - before
        assert not left, f"{name}: {len(left)} persisted RDDs outlive the result"


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_oracle_parity(name, spark, sf_dir, duck):
    before = _persisted(spark)
    # no local name for the result: DuckDB's replacement scan snapshots
    # the caller's frame locals, which would keep a `df` alive past `del`
    compare(registry.QUERIES[name](spark, sf_dir), registry.ORACLES[name], duck, name)
    _assert_released(name, spark, before)


@pytest.mark.parametrize("name", ROWS_ONLY_KEYS)
def test_rows_only_runs(name, spark, sf_dir):
    """Rows-only queries must at least execute and return a stable schema."""
    before = _persisted(spark)
    df = registry.QUERIES[name](spark, sf_dir)
    n = df.count()
    assert n >= 0
    assert df.columns
    del df
    _assert_released(name, spark, before)
