"""Planted-input tests for wave 22 (C132): a planted path graph with
known hop distances, an unreachable side component, the
support-threshold exclusion, and a Python BFS replication over the
same edge-construction rule.
"""

from __future__ import annotations

import datetime as dt
from collections import deque

import pyarrow as pa
import pyarrow.parquet as pq

from cassowary_spark import registry
from cassowary_spark.registry import QUERIES

registry.load_all()


def _write_lineitem(tmp_path, rows):
    """rows = [(orderkey, partkey)]."""
    tbl = pa.table(
        {
            "l_orderkey": pa.array([r[0] for r in rows], pa.int64()),
            "l_partkey": pa.array([r[1] for r in rows], pa.int64()),
            "l_linenumber": pa.array(
                list(range(1, len(rows) + 1)), pa.int32()
            ),
            "l_quantity": pa.array([1.0] * len(rows), pa.float64()),
            "l_extendedprice": pa.array([1.0] * len(rows), pa.float64()),
            "l_returnflag": pa.array(["N"] * len(rows), pa.string()),
            "l_shipdate": pa.array(
                [dt.datetime(1996, 1, 1)] * len(rows), pa.timestamp("us")
            ),
        }
    )
    pq.write_table(tbl, str(tmp_path / "lineitem.parquet"))
    return str(tmp_path)


def _py_bfs(edges, src, cap=20):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist = {src: 0}
    dq = deque([src])
    while dq:
        v = dq.popleft()
        if dist[v] >= cap:
            continue
        for w in adj.get(v, ()):
            if w not in dist:
                dist[w] = dist[v] + 1
                dq.append(w)
    return dist


class TestShortestPath:
    def test_path_graph_isolated_component_and_python_bfs(
        self, spark, tmp_path
    ):
        """Path 1-2-3-4-5 (each consecutive pair co-ordered twice):
        the max-degree hub is node 2 (degree 2, min-id tiebreak among
        2/3/4), so dists are {2:0, 1:1, 3:1, 4:2, 5:3}. Parts 8-9
        co-ordered twice form an unreachable component (n=2 at dist
        -1). Part 1 and part 6 co-ordered ONCE stay below support: 6
        is not even a node."""
        rows = []
        ok = 0
        for a, b in ((1, 2), (2, 3), (3, 4), (4, 5), (8, 9)):
            for _ in range(2):  # support = 2
                ok += 1
                rows.extend([(ok, a), (ok, b)])
        ok += 1
        rows.extend([(ok, 1), (ok, 6)])  # support 1: excluded
        sf = _write_lineitem(tmp_path, rows)
        out = {
            r["dist"]: r["n_parts"]
            for r in QUERIES["q_shortest_path"](spark, sf).collect()
        }
        edges = [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9)]
        # hub = max degree, min id: node 2
        ref = _py_bfs(edges, 2)
        exp = {}
        for v, d in ref.items():
            exp[d] = exp.get(d, 0) + 1
        exp[-1] = 2  # parts 8, 9
        assert out == exp
        assert out[0] == 1 and out[3] == 1 and out[-1] == 2
        assert 6 not in ref and sum(out.values()) == 7

    def test_hop_cap_sends_far_nodes_to_minus_one(self, spark, tmp_path):
        """Path 1-2-…-25, every edge at support 2: the hub is node 2,
        so node 25 sits 23 hops out. Nodes beyond the 20-hop cap
        (23, 24, 25) land in dist -1 via n_nodes - 1 - Σ level sizes."""
        edges = [(i, i + 1) for i in range(1, 25)]
        rows = []
        for k, (a, b) in enumerate(edges * 2, 1):
            rows.extend([(k, a), (k, b)])
        sf = _write_lineitem(tmp_path, rows)
        out = {
            r["dist"]: r["n_parts"]
            for r in QUERIES["q_shortest_path"](spark, sf).collect()
        }
        ref = _py_bfs(edges, 2, cap=20)
        exp = {}
        for d in ref.values():
            exp[d] = exp.get(d, 0) + 1
        exp[-1] = 25 - len(ref)
        assert out == exp
        assert max(out) == 20 and out[-1] == 3

    def test_no_supported_pair_is_one_empty_unreached_row(
        self, spark, tmp_path
    ):
        """No pair reaches support 2: the oracle's histogram is the
        lone (-1, 0) row (no source, so no dist-0 row)."""
        sf = _write_lineitem(tmp_path, [(1, 1), (1, 2), (2, 2), (2, 3)])
        got = [tuple(r) for r in QUERIES["q_shortest_path"](spark, sf).collect()]
        assert got == [(-1, 0)]

    def test_leaves_no_persisted_rdds_and_reads_no_cache(self, spark, tmp_path):
        """Path 1-…-5 from hub 2: every node is settled after level 3,
        so the loop stops without running an empty level. Every BFS
        checkpoint and the adjacency cache are released while the
        query is built: build + collect (no clearCache in between) add
        no persisted RDD, and the returned plan has no cached or
        checkpointed leaf. (Ids may vanish meanwhile: the context
        cleaner frees other tests' dead RDDs at any time.)"""
        rows = []
        for k, (a, b) in enumerate([(1, 2), (2, 3), (3, 4), (4, 5)] * 2, 1):
            rows.extend([(k, a), (k, b)])
        sf = _write_lineitem(tmp_path, rows)
        jsc = spark.sparkContext._jsc

        def persisted():
            return set(jsc.getPersistentRDDs().keySet().toArray())

        before = persisted()
        df = QUERIES["q_shortest_path"](spark, sf)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" not in plan and "InMemoryRelation" not in plan
        got = sorted(tuple(r) for r in df.collect())
        assert got == [(-1, 0), (0, 1), (1, 2), (2, 1), (3, 1)]
        assert persisted() <= before
