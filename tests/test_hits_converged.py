"""hits_converged (r11, VERDICT r10 ask #4): quantized-fixed-point
power iteration with an exact integer stop rule and a raising
max-rounds guard — mirrors tests/test_community.py's converged-wrapper
pins."""

from __future__ import annotations

import pytest

from cc_pyspark_spark.operators.pagerank import hits_converged, hits_fixed

#: Star: 1..4 all point at 9, one back-edge 9 -> 1. The normalized
#: eigenvector concentrates all authority on 9 and all hubness on
#: 1..4; auth(1)/auth(9) decays by 1/4 per round, so the quantized
#: iterate reaches its rest state (auth(1) -> 0) in ~scale_bits/2
#: rounds.
_STAR = [(1, 9), (2, 9), (3, 9), (4, 9), (9, 1)]


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "s long, t long")


def test_hits_converged_matches_fixed_at_rest(spark):
    conv = {
        (r["id"], r["kind"]): r["score"]
        for r in hits_converged(_edges(spark, _STAR)).collect()
    }
    # the fixed-round twin at a deep-enough round count approximates
    # the same eigenvector (ratios decay 4x per round; at rounds=8 the
    # residual is 4^-7 ~ 6e-5)
    fixed = {
        (r["id"], r["kind"]): r["score"]
        for r in hits_fixed(_edges(spark, _STAR), rounds=8).collect()
    }
    assert conv.keys() == fixed.keys()
    for key, v in conv.items():
        assert abs(v - fixed[key]) < 1e-4, key
    # rest state exactly: authority concentrated on 9, hubness on 1..4
    assert conv[(9, "auth")] == 1.0
    assert all(conv[(u, "hub")] == 1.0 for u in (1, 2, 3, 4))
    assert conv[(1, "auth")] <= 2 ** -19
    assert conv[(9, "hub")] <= 2 ** -19


def test_hits_converged_uniform_graph_converges_immediately(spark):
    # complete bipartite K_{2,3}: hubs and auths are uniform, so the
    # quantized frames are constant from round 1 — detection fires at
    # the first comparable round (round 2)
    pairs = [(u, v) for u in (1, 2) for v in (10, 11, 12)]
    rows = hits_converged(_edges(spark, pairs), max_rounds=2).collect()
    assert {r["score"] for r in rows} == {1.0}
    assert {(r["id"], r["kind"]) for r in rows} == {
        (1, "hub"), (2, "hub"), (10, "auth"), (11, "auth"), (12, "auth"),
    }


def test_hits_converged_guard_trips(spark):
    # the star needs ~10 rounds to quantize auth(1) down to rest;
    # a 2-round budget must RAISE, never return a drifting frame
    with pytest.raises(RuntimeError, match="no integer fixed point"):
        hits_converged(_edges(spark, _STAR), max_rounds=2)


def test_hits_converged_deterministic_across_partitionings(spark):
    a = hits_converged(_edges(spark, _STAR)).collect()
    b = hits_converged(
        _edges(spark, _STAR).repartition(7, "s")
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_hits_converged_slow_graph_settles_under_default_guard(spark):
    # the cycle 1->2->3->1 with tails 4->3, 5->1 and 3->6->7->8 needs
    # more than 40 rounds to reach its integer rest state; the default
    # guard must leave room for it (graph_analyze passes no max_rounds)
    pairs = [(1, 2), (2, 3), (3, 1), (4, 3), (5, 1), (3, 6), (6, 7), (7, 8)]
    rows = hits_converged(_edges(spark, pairs)).collect()
    assert len(rows) == 13
