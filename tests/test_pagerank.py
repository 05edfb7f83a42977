"""PageRank vs an independent dense power iteration (numpy), connected
components and triangles."""

from __future__ import annotations

import numpy as np
import pytest

from cc_pyspark_spark.operators.pagerank import pagerank_fixed

EDGES = [
    (1, 2), (1, 3), (2, 3), (3, 1), (4, 3),  # 4 → 3, 3 ↔ 1 cycle
    (5, 1),  # 5 dangles into the cycle; nothing points at 5
]


def _numpy_pagerank(edges, n_iter=10, d=0.85):
    ids = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    out = {v: 0 for v in ids}
    for s, _ in edges:
        out[s] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        dangling = sum(r[idx[v]] for v in ids if out[v] == 0)
        contrib = np.zeros(n)
        for s, t in edges:
            contrib[idx[t]] += r[idx[s]] / out[s]
        r = (1 - d) / n + d * (contrib + dangling / n)
    return {v: r[idx[v]] for v in ids}


def test_pagerank_matches_reference_math(spark):
    """pagerank_fixed's rank against double power iteration: each of
    the 10 rounds floors away < 1 unit (1e-15 of mass) per division,
    far inside 1e-12."""
    edges = spark.createDataFrame(EDGES, "s long, t long")
    got = {
        r["id"]: r["rank"] for r in pagerank_fixed(edges, n_iter=10).collect()
    }
    want = _numpy_pagerank(EDGES, n_iter=10)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # structural sanity: the cycle hub (3) outranks the dangling feeder (5)
    assert got[3] > got[5]


def test_connected_components(spark):
    from cc_pyspark_spark.operators.pagerank import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (20, 20)], "s long, t long"
    )
    got = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20}


def test_connected_components_raises_when_max_iter_runs_out(spark):
    """A component whose diameter outruns max_iter must raise, never
    come back as labels that are not components (a 30-vertex path
    under the default 20 rounds used to return 10 labels)."""
    from cc_pyspark_spark.operators.pagerank import connected_components

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(29)], "s long, t long"
    )
    with pytest.raises(RuntimeError, match="labels still changing after 20"):
        connected_components(path)
    got = connected_components(path, max_iter=40, probe_every=2).collect()
    assert len(got) == 30
    assert {r["component"] for r in got} == {0}

def test_pagerank_no_per_iteration_driver_actions(spark, monkeypatch):
    """The dangling-mass scalar must live inside the plan: on the
    dangling path pagerank_fixed truncates the rank frame every round,
    and net of the jobs those eager checkpoints run, building more
    rounds may launch no further job (VERDICT r1 #6)."""
    edges = spark.createDataFrame(EDGES, "s long, t long")
    tracker = spark.sparkContext.statusTracker()

    def max_job_id():
        # job ids are monotonic; max is immune to the status tracker
        # evicting old entries (spark.ui.retainedJobs) mid-measurement,
        # which made len()-based deltas flaky in long shared sessions
        ids = tracker.getJobIdsForGroup()
        return max(ids) if ids else -1

    ckpt = {"calls": 0, "jobs": 0}
    frame_cls = type(edges)
    local_checkpoint = frame_cls.localCheckpoint

    def counting(self, eager=True, storageLevel=None):
        before = max_job_id()
        out = local_checkpoint(self, eager, storageLevel)
        if eager:
            ckpt["calls"] += 1
            ckpt["jobs"] += max_job_id() - before
        return out

    monkeypatch.setattr(frame_cls, "localCheckpoint", counting)

    def jobs_to_build(n_iter):
        ckpt.update(calls=0, jobs=0)
        before = max_job_id()
        ranks = pagerank_fixed(edges, n_iter=n_iter)
        assert ckpt["calls"] == n_iter  # the derived every-round cadence
        return ranks, max_job_id() - before - ckpt["jobs"]

    _, d2 = jobs_to_build(2)
    ranks, d4 = jobs_to_build(4)
    # caching can make the second build cheaper, and ambient AQE state
    # from earlier queries in a shared session can add ±1 setup job —
    # but a per-iteration collect would show d4 >= d2 + 2 (two extra
    # iterations = two extra jobs), which is what this pins against
    assert d4 <= d2 + 1, f"driver jobs scale with iterations: {d2} -> {d4}"
    assert len(ranks.collect()) == 5  # still computes correctly


def test_triangle_stats_hand_built_graph(spark):
    """Known graph: a 4-clique (4 triangles) plus a pendant path.

    Vertices 1-4 fully connected; 5 attached to 4; 6 attached to 5.
    Triangles: C(4,3) = 4. Wedges: deg [3,3,3,4,2,1] -> 3+3+3+6+1+0=16.
    Degree orientation must not over- or under-count any of them.
    """
    from cc_pyspark_spark.operators.pagerank import triangle_stats

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)],
        "a long, b long",
    )
    row = triangle_stats(edges).first()
    assert row.n_vertices == 6
    assert row.n_edges == 8
    assert row.n_wedges == 16
    assert row.n_triangles == 4
    assert row.clustering == 12 / 16


def test_triangle_stats_triangle_free(spark):
    """A star has wedges but no triangles (clustering = 0)."""
    from cc_pyspark_spark.operators.pagerank import triangle_stats

    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "a long, b long"
    )
    row = triangle_stats(edges).first()
    assert row.n_triangles == 0
    assert row.n_wedges == 10
    assert row.clustering == 0.0


def test_triangle_stats_random_graphs(spark):
    """Property check: on random Erdős–Rényi graphs the degree-ordered
    orientation must count exactly the brute-force triangle set — the
    orientation is an optimization, never an approximation."""
    import itertools
    import random

    from cc_pyspark_spark.operators.pagerank import triangle_stats

    rng = random.Random(20260814)
    for trial, p in [(0, 0.25), (1, 0.5), (2, 0.75)]:
        edges = [
            (a, b)
            for a, b in itertools.combinations(range(10), 2)
            if rng.random() < p
        ]
        if not edges:
            continue
        row = triangle_stats(
            spark.createDataFrame(edges, "a long, b long")
        ).first()
        es = set(edges)
        tri = sum(
            1
            for a, b, c in itertools.combinations(range(10), 3)
            if (a, b) in es and (b, c) in es and (a, c) in es
        )
        deg: dict[int, int] = {}
        for a, b in edges:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        wedges = sum(d * (d - 1) // 2 for d in deg.values())
        assert row.n_triangles == tri, (trial, row.n_triangles, tri)
        assert row.n_wedges == wedges
        assert row.n_edges == len(edges)


def test_cc_alternating_equals_propagation(spark):
    """Two independent CC algorithms must label identically: alternating
    large-star/small-star (O(log n) rounds) vs min-label propagation
    (O(diameter) rounds), on a random graph plus a 64-node path — the
    path pins the logarithmic contraction (6 rounds = log2 64; 5 is
    provably insufficient for the chain, which the propagation twin
    needs 63 rounds for)."""
    import random

    from cc_pyspark_spark.operators.pagerank import (
        cc_alternating,
        connected_components,
    )

    rng = random.Random(5)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    path = [(1000 + i, 1000 + i + 1) for i in range(63)]
    df = spark.createDataFrame(edges + path, "s long, t long")
    stars = {
        (r["id"], r["component"])
        for r in cc_alternating(df, rounds=6).collect()
    }
    prop = {
        (r["id"], r["component"])
        for r in connected_components(df, max_iter=80).collect()
    }
    assert stars == prop


def test_cc_alternating_registered_rounds_converge(spark):
    """Fixture tripwire (the test_scale_minhash_full_recall pattern):
    the registered query runs a FIXED 3 alternating rounds, enough for
    the fixture's near-clique dup clusters. A regenerated fixture with
    a deeper component would need more rounds — this must fail locally
    before the driver sees an oracle mismatch. Checked at both driver
    SFs against the propagation implementation."""
    from cc_pyspark_spark.plans import QUERIES

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        fixed = {
            (r["id"], r["component"])
            for r in QUERIES["graph_cc_alternating"].spark(spark, sf).collect()
        }
        from cc_pyspark_spark.operators.dedup import minhash_lsh_pairs
        from cc_pyspark_spark.operators.pagerank import connected_components

        docs = spark.read.parquet(f"{sf}/documents.parquet")
        from pyspark.sql import functions as F

        edges = minhash_lsh_pairs(docs, threshold=0.5).select(
            F.col("a_id").alias("s"), F.col("b_id").alias("t")
        )
        prop = {
            (r["id"], r["component"])
            for r in connected_components(edges, max_iter=20).collect()
        }
        assert fixed == prop, f"3 rounds insufficient at {sf}"


def test_cc_alternating_property_random_graphs(spark):
    """Property check across graph shapes (hypothesis-style explicit
    corpus — a Spark job per example makes @given too slow): star
    alternation with ceil(log2(n))+2 rounds equals min-label
    propagation on stars, cliques, disjoint cliques + isolated chains,
    two-level trees, and dense random multigraphs with self-loops and
    duplicate edges (which the canonicalization must absorb)."""
    import math
    import random

    from cc_pyspark_spark.operators.pagerank import (
        cc_alternating,
        connected_components,
    )

    cases = []
    cases.append([(0, i) for i in range(1, 12)])  # star
    cases.append(
        [(i, j) for i in range(8) for j in range(i + 1, 8)]
    )  # clique
    cases.append(
        [(i, j) for b in range(3) for i in range(10 * b, 10 * b + 4)
         for j in range(i + 1, 10 * b + 4)]
        + [(100 + i, 101 + i) for i in range(10)]
    )  # disjoint cliques + chain
    cases.append(
        [(i, 2 * i + 1) for i in range(15)]
        + [(i, 2 * i + 2) for i in range(15)]
    )  # binary tree
    rng = random.Random(31)
    cases.append(
        [(rng.randrange(40), rng.randrange(40)) for _ in range(120)]
    )  # dense random w/ self-loops + dups
    for edges in cases:
        df = spark.createDataFrame(edges, "s long, t long")
        n = len({v for e in edges for v in e})
        rounds = int(math.ceil(math.log2(max(n, 2)))) + 2
        a = {
            (r["id"], r["component"])
            for r in cc_alternating(df, rounds=rounds).collect()
        }
        b = {
            (r["id"], r["component"])
            for r in connected_components(df, max_iter=60).collect()
        }
        assert a == b, f"mismatch on case with {len(edges)} edges"


def test_cc_converged_equals_propagation_without_round_knob(spark):
    """The deployment wrapper (VERDICT r8 ask #3) must find the fixed
    point on its own: same labels as min-label propagation on a
    64-node path (where the r8 fixed rounds=3 default would be wrong)
    plus a random graph — no caller-chosen round count anywhere."""
    import random

    from cc_pyspark_spark.operators.pagerank import (
        cc_alternating,
        cc_alternating_converged,
        connected_components,
    )

    rng = random.Random(7)
    edges = [(rng.randrange(120), rng.randrange(120)) for _ in range(90)]
    path = [(2000 + i, 2000 + i + 1) for i in range(63)]
    df = spark.createDataFrame(edges + path, "s long, t long")
    conv = {
        (r["id"], r["component"])
        for r in cc_alternating_converged(df).collect()
    }
    prop = {
        (r["id"], r["component"])
        for r in connected_components(df, max_iter=80).collect()
    }
    assert conv == prop
    # and the footgun the wrapper removes is real: 1 fixed round is NOT
    # enough for the 64-path, so a fixed-round caller must know n
    under = {
        (r["id"], r["component"])
        for r in cc_alternating(df, rounds=1).collect()
    }
    assert under != prop


def test_cc_converged_max_rounds_guard(spark):
    """Exhausting max_rounds raises (never silently-unconverged labels)."""
    import pytest as _pytest

    from cc_pyspark_spark.operators.pagerank import cc_alternating_converged

    path = [(i, i + 1) for i in range(40)]
    df = spark.createDataFrame(path, "s long, t long")
    with _pytest.raises(RuntimeError, match="no fixed point"):
        cc_alternating_converged(df, max_rounds=1)
    # and with the default guard the same graph converges fine
    out = cc_alternating_converged(df)
    assert {r["component"] for r in out.collect()} == {0}


def test_cc_converged_registered_query_matches_fixed_twin(spark):
    """graph_cc_converged (registered) == graph_cc_alternating on the
    fixture — identical labels, same oracle."""
    from cc_pyspark_spark.plans import QUERIES

    sf = "/root/testdata/sf0.001"
    a = {
        tuple(r)
        for r in QUERIES["graph_cc_converged"].spark(spark, sf).collect()
    }
    b = {
        tuple(r)
        for r in QUERIES["graph_cc_alternating"].spark(spark, sf).collect()
    }
    assert a == b
