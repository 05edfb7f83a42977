"""Fixed-point PageRank: bit-reproducibility + parity with float math,
and BFS hop counts.

pagerank_fixed carries the repo's only iterative-algorithm value-hash
oracle (registered query graph_pagerank); these tests pin the two
properties that oracle relies on:

1. the BIGINT fixed-point iteration agrees with an independent numpy
   double power iteration to within the floor-division loss bound, and
2. the result is IDENTICAL (every fixed-point unit) across different
   input partitionings — the whole reason the fixed-point variant
   exists, since float SUM order varies with partitioning.
"""

from __future__ import annotations

import pytest

from cc_pyspark_spark.operators.pagerank import (
    PAGERANK_SCALE,
    pagerank_fixed,
)
from tests.test_pagerank import EDGES, _numpy_pagerank

#: symmetrized edge list — every vertex has an out-edge (no dangling)
SYM_EDGES = sorted({(s, t) for s, t in EDGES} | {(t, s) for s, t in EDGES})


def test_fixed_matches_numpy_reference(spark):
    edges = spark.createDataFrame(EDGES, "s long, t long")
    got = {r["id"]: r["rank"] for r in pagerank_fixed(edges, n_iter=10).collect()}
    want = _numpy_pagerank(EDGES, n_iter=10)
    assert set(got) == set(want)
    # Each of the 10 iterations floors away < 1 fixed-point unit per
    # division; 1e-9 dwarfs the accumulated 1e-15-scale loss while
    # still failing on any real logic divergence.
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_fixed_assume_no_dangling_equals_general_path(spark):
    """On a symmetrized graph the dangling aggregate is identically 0,
    so the fast path must produce the same fixed-point units."""
    edges = spark.createDataFrame(SYM_EDGES, "s long, t long")
    fast = {r["id"]: r["r"] for r in pagerank_fixed(
        edges, n_iter=6, assume_no_dangling=True).collect()}
    slow = {r["id"]: r["r"] for r in pagerank_fixed(
        edges, n_iter=6, assume_no_dangling=False).collect()}
    assert fast == slow


def test_fixed_point_partition_invariance(spark):
    """The exact BIGINT unit values must not change with partitioning —
    the property the float variant cannot offer."""
    base = spark.createDataFrame(SYM_EDGES, "s long, t long")
    results = []
    for parts in (1, 7):
        got = pagerank_fixed(
            base.repartition(parts), n_iter=6, assume_no_dangling=True
        ).collect()
        results.append({r["id"]: r["r"] for r in got})
    assert results[0] == results[1]
    # rank is the exact BIGINT -> DOUBLE conversion of r
    got = pagerank_fixed(base, n_iter=6, assume_no_dangling=True).collect()
    for row in got:
        assert row["rank"] == row["r"] / float(PAGERANK_SCALE)


def test_fixed_tracks_float_variant(spark):
    """The fixed-point no-dangling path and double power iteration
    (numpy) iterate the same rule; on a dangling-free graph they agree
    far beyond rank-ordering."""
    edges = spark.createDataFrame(SYM_EDGES, "s long, t long")
    fx = {r["id"]: r["rank"] for r in pagerank_fixed(
        edges, n_iter=8, assume_no_dangling=True).collect()}
    fl = _numpy_pagerank(SYM_EDGES, n_iter=8)
    for v in fl:
        assert fx[v] == pytest.approx(fl[v], abs=1e-9)


def test_bfs_hops_small_graph(spark):
    from cc_pyspark_spark.operators.pagerank import bfs_hops

    # path 1-2-3-4, isolated pair 10-11 (unreachable from sources)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "s long, t long"
    )
    sources = spark.createDataFrame([(1,)], "id long")
    got = {r["id"]: r["hops"] for r in bfs_hops(edges, sources, max_iter=6).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 10: None, 11: None}


def test_bfs_hops_multi_source_partition_invariance(spark):
    from cc_pyspark_spark.operators.pagerank import bfs_hops

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 30)], "s long, t long"
    )
    sources = spark.createDataFrame([(1,), (30,)], "id long")
    runs = []
    for parts in (1, 8):
        got = bfs_hops(
            edges.repartition(parts), sources, max_iter=20
        ).collect()
        runs.append(sorted((r["id"], r["hops"]) for r in got))
    assert runs[0] == runs[1]
    # hops from the nearer of the two endpoints of the path
    want = {v: min(v - 1, 30 - v) for v in range(1, 31)}
    assert dict(runs[0]) == want
