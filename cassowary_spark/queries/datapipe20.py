"""Iterative graph traversal: single-source BFS hop distances over
the co-purchase graph, histogrammed, with the unreachable remainder
accounted for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassowary_spark import cache
from cassowary_spark.exprs import literal_frame
from cassowary_spark.registry import query
from cassowary_spark.tables import load_table

_SP_SUPPORT = 2
_SP_MAX_HOPS = 20


@query(
    "q_shortest_path",
    oracle=f"""
    WITH RECURSIVE li AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    edges AS (
        SELECT a.p AS x, b.p AS y
        FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        GROUP BY 1, 2 HAVING count(*) >= {_SP_SUPPORT}
    ),
    sym AS (
        SELECT x AS s, y AS t FROM edges
        UNION ALL SELECT y, x FROM edges
    ),
    nodes AS (SELECT DISTINCT s AS v FROM sym),
    deg AS (SELECT s AS v, count(*) AS d FROM sym GROUP BY 1),
    src AS (SELECT v AS sv FROM deg ORDER BY d DESC, v LIMIT 1),
    reach(v, d) AS (
        SELECT sv, 0 FROM src
        UNION
        SELECT sym.t, reach.d + 1
        FROM reach JOIN sym ON sym.s = reach.v
        WHERE reach.d < {_SP_MAX_HOPS}
    ),
    dmin AS (
        SELECT v, CAST(min(d) AS INTEGER) AS dist FROM reach GROUP BY v
    ),
    hist AS (
        SELECT dist, CAST(count(*) AS BIGINT) AS n_parts
        FROM dmin GROUP BY 1
        UNION ALL
        SELECT -1, CAST(count(*) AS BIGINT)
        FROM nodes WHERE v NOT IN (SELECT v FROM dmin)
    )
    SELECT dist, n_parts FROM hist
    """,
)
def q_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS distances (C132): hop distance from the
    HIGHEST-DEGREE part (the top co-purchase hub; ties broken by
    smaller id — an arbitrary min-id source usually lands in a tiny
    island and answers nothing) in the support-≥2 co-purchase graph
    (C127's edge set) to every other part, histogrammed by distance
    with the unreachable remainder reported at dist = −1 — the
    reachability/radius profile of a product graph ("how many
    recommendation hops from the anchor product cover the catalog"),
    and the engine's frontier-iteration representative alongside C2's
    min-label CC and B-family PageRank. Distances are hop-capped at
    20 (``operators/graph.bfs_level_sizes``).

    Invariants:

    - Edge generation is bounded-basket pair expansion: each order's
      ≤7-part basket is collected once (``collect_set`` also dedups)
      and its C(k,2) pairs are emitted row-locally.
    - The symmetric adjacency is hash-partitioned by ``t`` and
      persisted once; the degree count (``groupBy t``) and every BFS
      round read it without a new exchange.
    - One 1-row reduce yields both the hub (min over struct(-d, node))
      and the node count.
    - BFS settles each node exactly once, so the level sizes give the
      histogram and unreached = n_nodes − 1 − Σ level sizes.
    - The result is a literal frame built from driver-side integers:
      no cache or checkpoint outlives the build, and the returned plan
      reads none.

    Determinism: pure integer counting end to end; the source (max
    degree, min-id tiebreak) and the edge set are deterministic.
    """
    from cassowary_spark.operators.graph import bfs_level_sizes

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    baskets = li.groupBy("o").agg(
        F.sort_array(F.collect_set("p")).alias("ps")
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (a, i) -> "
                "transform(slice(ps, i+2, size(ps)-i-1), "
                "b -> struct(a as x, b as y))))"
            )
        ).alias("pr")
    )
    edges = (
        pairs.groupBy(F.col("pr.x").alias("x"), F.col("pr.y").alias("y"))
        .agg(F.count("*").alias("m"))
        .filter(F.col("m") >= _SP_SUPPORT)
        .select(F.col("x").cast("long").alias("s"), F.col("y").cast("long").alias("t"))
    )
    # the BFS reads sym while the query is built; the result does not
    with cache.scope():
        sym = cache.persist(
            edges.unionAll(edges.select(F.col("t").alias("s"), F.col("s").alias("t")))
            .repartition("t")
        )
        deg = (
            sym.groupBy("t")
            .agg(F.count("*").alias("d"))
            .agg(
                F.count("*").alias("n_nodes"),
                F.min(
                    F.struct((-F.col("d")).alias("nd"), F.col("t").alias("v"))
                ).alias("h"),
            )
            .collect()[0]
        )
        n_nodes = deg["n_nodes"]
        if n_nodes == 0:
            # no pair reaches support: the oracle's lone (-1, 0) row
            rows = [(-1, 0)]
        else:
            levels = bfs_level_sizes(sym, deg["h"]["v"], n_nodes, _SP_MAX_HOPS)
            rows = [(0, 1), *enumerate(levels, 1), (-1, n_nodes - 1 - sum(levels))]
    return literal_frame(spark, rows, [("dist", "int"), ("n_parts", "long")])
