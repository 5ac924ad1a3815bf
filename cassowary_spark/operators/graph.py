"""Iterative graph traversal operators (level-synchronous BFS).

Complements ``operators/dedup.connected_components`` (min-label
propagation): CC answers "which nodes belong together", BFS answers
"how far apart are they".

Invariants of ``bfs_level_sizes``:

- One broadcast and one observed checkpoint job per round. The
  frontier and the level before it are broadcast once, as one frame
  tagged ``f`` (is-frontier), which serves both the frontier join and
  the already-settled test; the new level's size is read from an
  ``Observation`` on the eager checkpoint that materializes it, so no
  separate count job runs.
- The adjacency frame is hash-partitioned by ``t``, so collapsing the
  frontier's neighbours to distinct ``t`` needs no exchange.
- Between rounds at most two round checkpoints hold blocks (the
  frontier and the level before it, the only ones the next round
  reads); every one is released before the function returns.
- The seed is a JVM-side ``spark.range`` frame: no round scans a
  Python-backed frame. The caller gets plain integers back, so no
  result depends on a cache surviving.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from cassowary_spark.cache import release_checkpoint


def bfs_level_sizes(
    sym: DataFrame, source: int | None, n_nodes: int, max_hops: int = 20
) -> list[int]:
    """Single-source BFS over an undirected graph → level sizes:
    element ``k - 1`` is the number of nodes at hop distance ``k``
    from ``source``. The list stops before the first empty level and
    holds at most ``max_hops`` elements (the contract "distance, if
    ≤ max_hops", which a bounded recursive-CTE oracle can express; a
    100 TB graph with a larger diameter wants a landmark index, not
    more BFS rounds).

    ``sym`` is the symmetric adjacency ``(s long, t long)`` (every edge
    in both directions), ``repartition("t")``-ed and persisted by the
    caller. ``source`` is a node of ``sym`` and ``n_nodes`` its node
    count; once ``n_nodes`` are settled the next level is known to be
    empty and is not run. An empty edge set
    (``n_nodes == 0``, so no source) raises ``ValueError``.

    Round k joins ``sym`` to the broadcast ``seen`` (levels k-1 and
    k-2) on ``s``, keeps the ``t`` with a frontier neighbour, and
    drops the ``t`` already in ``seen``. On an undirected graph a
    neighbour of level k-1 lies at level k-2, k-1 or k, so the last
    two levels suffice: the broadcast is frontier-bounded, never
    O(settled), and each edge is traversed at most twice overall.
    """
    if n_nodes == 0:
        raise ValueError(
            "bfs_level_sizes: edge set is empty — no source node "
            "(pass a node of the edge set)"
        )
    spark = sym.sparkSession
    frontier = spark.range(1).select(F.lit(source).cast("long").alias("node"))
    prev = frontier.limit(0)
    live: list[DataFrame] = []  # round checkpoints, oldest first
    sizes: list[int] = []
    try:
        for _ in range(max_hops):
            seen = F.broadcast(
                frontier.select("node", F.lit(True).alias("f")).unionByName(
                    prev.select("node", F.lit(False).alias("f"))
                )
            )
            level = Observation()
            nxt = (
                sym.join(seen, F.col("s") == F.col("node"))
                .groupBy("t")
                .agg(F.max("f").alias("hf"))
                # a left join that reads f (rather than a left_anti
                # join, whose pruning would drop f) keeps both build
                # sides identical, so the broadcast is reused
                .join(seen, F.col("t") == F.col("node"), "left")
                .where(F.col("hf") & F.col("f").isNull())
                .select(F.col("t").alias("node"))
                .observe(level, F.count(F.lit(1)).alias("n"))
                .localCheckpoint(eager=True)
            )
            live.append(nxt)
            n = level.get["n"]
            if n == 0:
                break
            sizes.append(n)
            if 1 + sum(sizes) == n_nodes:  # all settled: next level empty
                break
            if len(live) > 2:
                release_checkpoint(live.pop(0))
            prev, frontier = frontier, nxt
    finally:
        for checkpoint in live:
            release_checkpoint(checkpoint)
    return sizes
