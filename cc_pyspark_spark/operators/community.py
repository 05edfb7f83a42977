"""Community structure over edge frames: synchronous label propagation
and k-core decomposition by iterative peeling (beyond-reference; the
reference builds host graphs — hostlinks_to_graph.py:1-60 — but runs no
community analytics).

Both operators follow the repo's graph discipline (operators/
pagerank.py): the edge frame is cached once, every round is a constant
number of key-partitioned shuffles over frames whose size never grows,
and all state is integer-or-string columns so results are bit-identical
across partitionings, runs, and engines — which is what lets even these
ITERATIVE algorithms carry full value-hash DuckDB oracles. Each
algorithm has one round step that its fixed-round and converged entry
points share; the loops run through operators/adaptive.py.

Scale shapes (100 TB / 10^9-vertex web graph):

* label_propagation — per round: one join of the O(V) label frame to
  the cached symmetric adjacency (shuffle keyed by source vertex), one
  (vertex, label) partial-aggregated count, one per-vertex arg-min.
  Nothing but the label frame moves per round; the mode-of-neighbors
  aggregation is map-side combinable because (t, lab) pairs repeat
  within partitions. Hub vertices receive at most deg(v) distinct
  labels — fan-in equals degree, the same envelope PageRank's
  contribution sum already survives.
* kcore — per round: one degree count over the current edge frame and
  one double semi-join dropping edges with a dead endpoint. The edge
  frame only ever SHRINKS, so round cost is monotone non-increasing;
  the classic result that peeling needs O(n) rounds in the worst case
  applies to pathological chains — on web graphs the fixture-style
  2-4 round fixpoint is typical, and `kcore_converged` probes the
  fixed point with a max-rounds guard for unknown graphs.
"""

from __future__ import annotations

from contextlib import nullcontext
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cc_pyspark_spark.caching import track_cache
from cc_pyspark_spark.operators.adaptive import iterate, loop_shuffle


def _symmetrize(edges: DataFrame) -> DataFrame:
    """Canonical undirected (a, b) → directed sym(s, t) both ways."""
    return edges.select(
        F.col("a").alias("s"), F.col("b").alias("t")
    ).unionAll(edges.select(F.col("b").alias("s"), F.col("a").alias("t")))


def _lpa_setup(
    e: DataFrame,
) -> "tuple[DataFrame, Callable[[DataFrame], DataFrame]]":
    """Cached adjacency + round step shared by the LPA entry points ->
    (round-0 labels, step).

    The adjacency holds the neighbour edges plus one self-loop per
    vertex (the self-vote) and is cached pre-partitioned on the
    per-round join key, so with the label frame partitioned by id from
    its regroup the round's only exchange is the (t, lab) plurality
    regroup."""
    verts = _symmetrize(e).select(F.col("s").alias("id")).distinct()
    sym = (
        _symmetrize(e)
        .unionAll(verts.select(F.col("id").alias("s"), F.col("id").alias("t")))
        .repartition("s")
        .sortWithinPartitions("s")
        .persist()
        .transform(track_cache)
    )

    def step(lab: DataFrame) -> DataFrame:
        cnt = (
            sym.join(lab, sym.s == lab.id)
            .groupBy(sym.t, lab.lab)
            .agg(F.count("*").alias("cnt"))
        )
        # plurality label, smallest label on ties: min over the
        # lexicographic struct (-cnt, lab) — one aggregation, no window
        return (
            cnt.groupBy("t")
            .agg(
                F.min(
                    F.struct((-F.col("cnt")).alias("nc"), F.col("lab"))
                ).alias("m")
            )
            .select(F.col("t").alias("id"), F.col("m.lab").alias("lab"))
        )

    return verts.select("id", F.col("id").alias("lab")), step


def label_propagation(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007), fixed
    round count, deterministic tie-break, self-inclusive voting.

    ``edges``: undirected canonical (a, b), a != b, each pair once.
    Every vertex starts labeled with its own id; each round every
    vertex adopts the PLURALITY label among its neighbors PLUS its own
    current label (one self-vote — equivalently a self-loop at every
    vertex), ties broken by the SMALLEST label — the arg-min of
    (-count, label), a total order, so the sweep is deterministic and
    engine-independent (the async/random-order variant of the paper
    converges faster but is irreproducible; fixed synchronous rounds
    are what a regression-gated pipeline wants). The self-vote is the
    standard damper for the oscillation pure synchronous LPA exhibits
    on bipartite-ish substructures (two cliques joined by a bridge
    flip-flop forever without it — pinned in tests).

    Returns (id, community) — community = the round-``rounds`` label.

    ``rounds=0`` returns the round-0 identity labeling (every vertex
    its own community) — the loop-free contract the history variant
    can't express (its history would be empty).
    """
    if rounds <= 0:
        return (
            _symmetrize(edges)
            .select(F.col("s").alias("id"))
            .distinct()
            .select("id", F.col("id").alias("community"))
        )
    return label_propagation_history(edges, rounds)[-1]


def label_propagation_history(
    edges: DataFrame, rounds: int, checkpoint_each: bool = False
) -> list[DataFrame]:
    """Per-round label frames of :func:`label_propagation` (element r-1
    is the round-r partition) — exposed so partition-quality metrics
    (graph_modularity's Q-vs-round curve) can evaluate every sweep
    without re-running the propagation.

    Each round adds one join + two aggregations on top of the previous
    label frame, so plan depth grows linearly with rounds; the label
    frame is truncated every 4 rounds except the last (the caller's
    action materialises that one). Callers that consume EVERY round's
    frame (each metric reads a frame several times) pass
    ``checkpoint_each=True``: every round is then eagerly materialized
    once, so downstream multi-reference cost is O(rounds), not
    multiplicative lineage replay (the modularity bench row read 29 s
    before this, 3^rounds replays of round 1).

    Only the ``checkpoint_each`` path takes a loop_shuffle scope: the
    plain path runs no action of its own, so its plan executes at the
    caller's action after a scope is restored (operators/adaptive.py).
    The loop is written out rather than run by ``iterate``: it keeps
    every round's frame, and the plain path leaves its last round
    without a checkpoint.
    """
    e = edges.persist().transform(track_cache)
    scope = (
        loop_shuffle(e.sparkSession, e.count(), n_cols=2)
        if checkpoint_each
        else nullcontext()
    )
    with scope:
        lab, step = _lpa_setup(e)
        history: list[DataFrame] = []
        for i in range(1, rounds + 1):
            lab = step(lab)
            if checkpoint_each or (i % 4 == 0 and i < rounds):
                lab = lab.localCheckpoint(eager=True)
            history.append(lab.select("id", F.col("lab").alias("community")))
        return history


def _label_mismatches(a: DataFrame, *others: DataFrame) -> "list[int]":
    """Per frame in ``others``, how many ids carry a different label
    than in ``a``: one join of the id-partitioned checkpoints and one
    action, however many frames are compared."""
    joined = a
    for i, o in enumerate(others):
        joined = joined.join(
            o.select(F.col("id").alias(f"id{i}"), F.col("lab").alias(f"lab{i}")),
            a.id == F.col(f"id{i}"),
        )
    row = joined.agg(
        *(
            F.count(F.when(F.col("lab") != F.col(f"lab{i}"), 1)).alias(f"d{i}")
            for i in range(len(others))
        )
    ).collect()[0]
    return [int(d) for d in row]


def lpa_converged(edges: DataFrame, max_rounds: int = 64) -> DataFrame:
    """Deployment wrapper for :func:`label_propagation`: iterate until
    the per-round label-change count hits zero OR a period-2
    oscillation is detected, with a ``max_rounds`` guard that RAISES —
    completing the converged-wrapper family (cc_alternating_converged,
    kcore_converged).

    Synchronous LPA has no convergence guarantee: even WITH the
    self-vote damper there are graphs whose label frames alternate
    between two states forever (a 6-vertex example is pinned in tests —
    exhaustive search over all <=6-vertex graphs finds period-2 cycles,
    never longer, matching the theory that synchronous threshold/
    majority dynamics settle into cycles of period at most 2; Goles &
    Olivos 1980). So the stop rule needs BOTH probes:

    * change-count == 0 -> genuine fixed point, return it;
    * labels equal to the round-2-ago frame -> period-2 cycle; return
      the ELEMENTWISE MINIMUM of the two alternating frames — canonical
      regardless of which phase the detector fires in, so the result is
      independent of max_rounds and of when detection happens.

    Both counts come from one action per round over the checkpointed
    label frames. Per round the only moving data is the O(V) label
    frame against the cached adjacency, identical to the fixed-round
    plan.
    """
    e = edges.persist().transform(track_cache)
    with loop_shuffle(e.sparkSession, e.count(), n_cols=2):
        lab, step = _lpa_setup(e)
        prev2: "DataFrame | None" = None

        def settled(new: DataFrame, old: DataFrame) -> "DataFrame | None":
            nonlocal prev2
            if prev2 is None:
                (d1,), d2 = _label_mismatches(new, old), 1
            else:
                d1, d2 = _label_mismatches(new, old, prev2)
            prev2 = old
            if d1 == 0:
                return new.select("id", F.col("lab").alias("community"))
            if d2 == 0:
                # period-2 cycle: the elementwise min of the two phases
                return new.join(
                    old.select(F.col("id").alias("id2"), F.col("lab").alias("lab2")),
                    new.id == F.col("id2"),
                ).select("id", F.least("lab", "lab2").alias("community"))
            return None

        return iterate(
            step, lab.localCheckpoint(eager=True), max_rounds, stop=settled,
            guard="lpa_converged: no fixed point or 2-cycle",
        )


def _core_degrees(cur: DataFrame) -> DataFrame:
    """(id, deg) of every vertex of the edge frame ``cur``."""
    return (
        _symmetrize(cur)
        .groupBy("s")
        .agg(F.count("*").alias("deg"))
        .select(F.col("s").alias("id"), "deg")
    )


def _peel(k: int) -> Callable[[DataFrame], DataFrame]:
    """k-core round step: drop the edges with an endpoint of degree < k
    (one degree count + a double semi-join)."""

    def step(cur: DataFrame) -> DataFrame:
        alive = _core_degrees(cur).filter(F.col("deg") >= k).select(
            F.col("id").alias("v")
        )
        return cur.join(alive, cur.a == alive.v, "left_semi").join(
            alive, cur.b == alive.v, "left_semi"
        )

    return step


def kcore(edges: DataFrame, k: int, rounds: int = 4) -> DataFrame:
    """k-core by iterative peeling: drop vertices of degree < k, drop
    edges with a dropped endpoint, repeat ``rounds`` times.

    ``edges``: undirected canonical (a, b), a != b, each pair once.
    Returns (id, deg) — the degree of each surviving vertex within the
    surviving edge set. At the fixed point every listed degree is >= k
    (the defining property of the k-core); callers on unknown graphs
    should use :func:`kcore_converged`, which probes for the fixed
    point instead of trusting a round count.

    The edge frame is referenced three times per round (two degree
    legs + the filter join), so every round is truncated, which also
    makes each round's shrinking edge set compute once. The seed stays
    lazy: round 1's three reads share their exchanges, and an eager
    seed checkpoint measured +8%. The loop_shuffle scope is therefore
    sized after round 1, from a count of its checkpoint, and keeps AQE
    (the alive side shrinks every round; operators/adaptive.py).

    r15 note: a window-degree formulation (count over partitionBy(s) +
    canonical-pair min regroup — two exchanges, zero joins) was tried
    and MEASURED SLOWER isolated at sf0.1 (5.59 -> 6.08 s / 3.27 ->
    3.67 s): the window's full sort of the 2|E| symmetrized frame
    costs more than the partial-aggregated degree count plus two
    semi-joins whose alive side is post-filter small. Kept the join
    formulation.
    """
    cur, peel = edges.select("a", "b"), _peel(k)
    if rounds > 0:
        cur = iterate(peel, cur, 1)
        with loop_shuffle(cur.sparkSession, cur.count(), n_cols=2, aqe="on"):
            cur = iterate(peel, cur, rounds - 1)
    return _core_degrees(cur)


def kcore_converged(edges: DataFrame, k: int, max_rounds: int = 64) -> DataFrame:
    """Deployment wrapper: peel until an edge-count fixed point (a
    round that removes nothing), with a ``max_rounds`` guard.

    The probe is one driver-side scalar count per round — O(1) rows to
    the driver, same discipline as cc_alternating_converged. Raises if
    the guard trips (a pathological chain graph peels one vertex per
    round; the caller should raise the guard knowingly, not silently
    get a non-core).
    """
    cur = edges.select("a", "b").localCheckpoint(eager=True)
    n = cur.count()
    # aqe="on": the alive side shrinks every round (see kcore)
    with loop_shuffle(cur.sparkSession, n, n_cols=2, aqe="on"):

        def settled(new: DataFrame, _old: DataFrame) -> "DataFrame | None":
            nonlocal n
            m = new.count()
            if m == n:
                return _core_degrees(new)
            n = m
            return None

        return iterate(
            _peel(k), cur, max_rounds, stop=settled,
            guard="kcore_converged: no fixed point",
        )
