"""The benchmark's workloads: which registry keys, at which fixture
scale, and which one-time fixtures each needs before its first pass.

Each workload stresses a different layer of the engine, so a change to
one layer should move one workload and leave the other flat:

- ``sstable_rw``: the ``sources`` layer. Python DataSource planning,
  Python-worker decode of flat, clustered and collection snapshots,
  bloom-pruned point lookups, and the SSTable writer (cold snapshot
  builds in set-up, ``q_sstable_sink`` on every call).
- ``llm_iterative``: the ``queries`` and ``cache`` layers. A BFS loop
  that launches jobs and local checkpoints while the query is built, LSH
  near-dup with Python UDFs, a Theil-Sen fit over a persisted frame,
  TF-IDF and exact dedup over the corpus.

Every key list has an odd length, so the pooled median of a pass falls
inside one key's samples instead of between two keys'.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class Workload:
    name: str
    scale: float  # fixture scale, 1.0 = 6 M lineitem rows
    keys: tuple[str, ...]
    # a cheap key run once per set-up, so set-up pays a fresh session's
    # first-use costs (Python-worker start, DataSource registration)
    first_touch: str
    # typical warm pass on a 4-core host; a run makes seconds / pass_s
    # passes, rounded, at least one, so every run of a workload does the
    # same work and yields the same sample count
    pass_s: float
    # names of ``queries.scan`` functions that write a snapshot for ``sf_dir``
    snapshots: tuple[str, ...] = field(default=())


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="sstable_rw",
            scale=0.001,
            keys=(
                "q_sstable_scan", "q_sstable_lookup", "q_sstable_clustered",
                "q_sstable_collections", "q_sstable_sink",
            ),
            first_touch="q_sstable_lookup",
            pass_s=5.0,
            snapshots=(
                "build_sstable_snapshot", "build_clustered_snapshot",
                "build_collections_snapshot",
            ),
        ),
        Workload(
            name="llm_iterative",
            scale=0.001,
            keys=(
                "q_shortest_path", "q_dedup_near", "q_theil_sen",
                "q_tfidf", "q_dedup_exact",
            ),
            first_touch="q_dedup_exact",
            pass_s=10.0,
        ),
    )
}
