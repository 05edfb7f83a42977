"""Graph operators over integer (or string) vertex ids: PageRank,
connected components, triangles, BFS and HITS, in pure DataFrame
algebra (no GraphX/GraphFrames dependency).

The reference stops at building the graph tables
(hostlinks_to_graph.py); ranking and analysing them is the natural next
tier of a web-graph pipeline. Every loop state is integer or
fixed-point, so results are bit-identical across partitionings, runs
and engines, which lets each iterative operator carry a DuckDB
value-hash oracle. Every loop caches its adjacency once, pre-partitioned
on the per-round join key, so per round only the O(V) state frame
shuffles. The loops run through operators/adaptive.py: ``loop_shuffle``
scopes the loop's partition count and ``iterate`` owns the rounds,
checkpoints, probes and guard.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cc_pyspark_spark.caching import track_cache
from cc_pyspark_spark.operators.adaptive import (
    iterate,
    loop_shuffle,
    truncate_lineage,
)

#: Fixed-point scale for :func:`pagerank_fixed` — 1.0 of rank mass is
#: 10^15 units, leaving headroom to BIGINT overflow at
#: damping_pct * mass = 100 * 10^15 << 2^63.
PAGERANK_SCALE = 10**15


def _pagerank_setup(
    edges: DataFrame, damping_pct: int, assume_no_dangling: bool,
    assume_symmetric: bool,
) -> "tuple[DataFrame, Callable[[DataFrame], DataFrame]]":
    """Caches and round step shared by :func:`pagerank_fixed` and
    :func:`pagerank_converged` -> (round-0 ranks, step).

    Degree rides the edge list (attached once) and the adjacency is
    cached pre-partitioned on the join key: InMemoryRelation keeps its
    outputPartitioning, so every round's rank join reuses the cached
    layout and the O(E) edge side crosses the wire once in total. The
    dangling flag is static (a vertex with no out-edge never gains
    one), so it rides the seed frame and each round reduces the
    dangling mass with a filter over the rank frame. The mass is a
    1-row broadcast folded into the plan, never a per-round collect.
    (A variant that carried the dangling mass through the contribution
    exchange as a NULL-sentinel row measured wat_host_pagerank 3.8 ->
    6.5 s: it hangs the whole contribution aggregate under the
    broadcast subquery.)"""
    vertices = (
        edges.select(F.col("s").alias("id"))
        .union(edges.select(F.col("t").alias("id")))
        .distinct()
        .sortWithinPartitions("id")
        .persist().transform(track_cache)
    )
    n = vertices.count()
    out_deg = (
        edges.groupBy("s").agg(F.count("*").alias("deg"))
        .repartition("s").sortWithinPartitions("s")
        .persist().transform(track_cache)
    )
    base = (PAGERANK_SCALE * (100 - damping_pct)) // (100 * n)
    adj = (
        edges.join(out_deg, "s")
        .select("s", "t", "deg")
        .repartition("s")
        .sortWithinPartitions("s")
        .persist().transform(track_cache)
    )
    adj.count()  # materialize the layout before the loop
    seed = vertices
    if not assume_no_dangling:
        seed = (
            vertices.join(out_deg, vertices.id == out_deg.s, "left")
            .select("id", F.col("s").isNull().alias("dang"))
            .sortWithinPartitions("id")
            .persist().transform(track_cache)
        )
    new_r = (
        F.lit(base).cast("bigint")
        + F.expr(f"({damping_pct} * inflow) div 100")
    ).alias("r")
    zero = F.lit(0).cast("bigint")

    def step(ranks: DataFrame) -> DataFrame:
        contribs = (
            adj.join(ranks, adj.s == ranks.id)
            .select(F.col("t").alias("id"), F.expr("r div deg").alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("contrib"))
        )
        if assume_symmetric:
            # every vertex has an in-edge: contribs is the vertex set
            return contribs.select(
                "id", F.col("contrib").alias("inflow")
            ).select("id", new_r)
        new = seed.join(contribs, "id", "left")
        if assume_no_dangling:
            return new.withColumn(
                "inflow", F.coalesce("contrib", zero)
            ).select("id", new_r)
        dangling = ranks.filter("dang").agg(
            F.coalesce(F.sum("r"), zero).alias("dangling")
        )
        return (
            new.crossJoin(F.broadcast(dangling))
            .withColumn(
                "inflow",
                F.coalesce("contrib", zero) + F.expr(f"dangling div {n}"),
            )
            .select("id", new_r, "dang")
        )

    return seed.withColumn("r", F.lit(PAGERANK_SCALE // n).cast("bigint")), step


def _with_rank(ranks: DataFrame) -> DataFrame:
    return ranks.select(
        "id", "r", (F.col("r") / F.lit(float(PAGERANK_SCALE))).alias("rank")
    )


def pagerank_fixed(
    edges: DataFrame,
    n_iter: int = 8,
    damping_pct: int = 85,
    assume_no_dangling: bool = False,
    assume_symmetric: bool = False,
) -> DataFrame:
    """Bit-reproducible PageRank: damped power iteration carried out
    entirely in BIGINT fixed-point arithmetic (rank mass scaled by
    ``PAGERANK_SCALE``), edges(s, t) -> (id, r, rank).

    Floating-point ``SUM`` is order-dependent, so a double-valued
    PageRank drifts in the last ulp between partitionings and engines.
    Integer addition is associative: every sum here is exact however
    Spark splits the partial aggregates, so the result is identical
    run-to-run, cluster-to-cluster and engine-to-engine (a DuckDB
    recursive CTE replays it bit-for-bit; see the ``graph_pagerank``
    registered query). Each division floors away less than one unit
    (10^-15 of total mass), so after ``n_iter`` rounds total mass is
    short by at most ``n_iter * (|E| + |V| + 1)`` units.

    Update rule (all BIGINT, ``div`` = floor division):

        r'(v) = (SCALE*(100-p)) div (100*n)
                + (p * (Σ_{u→v} r(u) div outdeg(u)  +  dangling div n))
                  div 100

    with ``p = damping_pct``. ``assume_no_dangling=True`` skips the
    dangling-mass aggregate, valid when every vertex has an out-edge
    (e.g. any symmetrized graph). ``assume_symmetric=True`` (implies
    ``assume_no_dangling``) also asserts every vertex has an in-edge,
    so the contribution aggregate already covers every vertex and the
    per-round backfill join against the vertices frame is skipped.

    Checkpoint cadence: on the dangling path each round's plan reads
    the previous rank frame twice (contribution join + dangling
    aggregate), so lineage doubles per round and the rank frame is
    truncated every round (wat_host_pagerank measured 18 -> 5.7 s at
    sf0.1 against every 4 rounds). Without the dangling term the frame
    is read once and every 4 rounds is enough.

    ``rank`` is the exact BIGINT -> DOUBLE conversion of ``r``.
    """
    no_dangling = assume_no_dangling or assume_symmetric
    with loop_shuffle(edges.sparkSession, edges.count(), n_cols=3):
        ranks, step = _pagerank_setup(
            edges, damping_pct, no_dangling, assume_symmetric
        )
        ranks = iterate(step, ranks, n_iter, every=4 if no_dangling else 1)
    return _with_rank(ranks)


def pagerank_converged(
    edges: DataFrame,
    tol_units: int = 10**9,
    damping_pct: int = 85,
    max_rounds: int = 128,
    probe_every: int = 4,
    assume_no_dangling: bool = False,
    assume_symmetric: bool = False,
) -> DataFrame:
    """:func:`pagerank_fixed`'s update iterated to an L1 stop, with a
    ``max_rounds`` guard that raises.

    Stop rule: every ``probe_every`` rounds the probe compares the
    current frame with the one from the previous probe and stops when
    the TOTAL moved mass across that span is ``<= tol_units`` (default
    10^9 units = 10^-6 of total mass), a strictly stronger condition
    than a single-step delta, so probing sparsely never stops early.
    Damped power iteration is an affine contraction with factor
    ``damping_pct/100`` in L1, so moved mass shrinks geometrically on
    any graph and the stop fires within ``log(mass/tol)/log(100/p)``
    rounds (~85 at p=85, tol=1e-6); the guard exists for a caller who
    tightens tol below the 1-unit quantization floor. The probe is one
    O(V) join between checkpointed rank frames -> a scalar.

    Returns (id, r BIGINT, rank DOUBLE) like pagerank_fixed, identical
    across partitionings and runs.
    """
    no_dangling = assume_no_dangling or assume_symmetric
    with loop_shuffle(edges.sparkSession, edges.count(), n_cols=3):
        ranks, step = _pagerank_setup(
            edges, damping_pct, no_dangling, assume_symmetric
        )
        last = ranks = ranks.localCheckpoint(eager=True)

        def settled(new: DataFrame, _old: DataFrame) -> "DataFrame | None":
            nonlocal last
            row = (
                new.join(
                    last.select(
                        F.col("id").alias("id2"), F.col("r").alias("r2")
                    ),
                    new.id == F.col("id2"),
                )
                .agg(F.sum(F.abs(F.col("r") - F.col("r2"))).alias("d"))
                .collect()[0]
            )
            if (row["d"] or 0) <= tol_units:
                return _with_rank(new)
            last = new
            return None

        return iterate(
            step, ranks, max_rounds, every=probe_every, stop=settled,
            guard=f"pagerank_converged: moved mass above {tol_units} units",
        )


def connected_components(
    edges: DataFrame, max_iter: int = 20, probe_every: int = 4
) -> DataFrame:
    """Undirected connected components by min-label propagation ->
    (id, component), component = min vertex id in the component.

    Each round is one join + min-aggregation against the symmetric
    adjacency; it converges in O(graph diameter) rounds. Every
    ``probe_every`` rounds (and on the last) the labels are
    checkpointed and compared with the previous round's; a round that
    changes no label stops the loop. A graph whose diameter outruns
    ``max_iter`` raises instead of returning labels that are not yet
    components.

    The adjacency carries one self-edge per vertex, so min over
    N(u) ∪ {u} is the one join + aggregation (no second join to apply
    least(own, neighbour-min)), and it is cached pre-partitioned on the
    join key, so each round exchanges only the O(V) label frame. The
    input is cut off its caller lineage first (:func:`truncate_lineage`:
    the dedup callers feed an LSH pair pipeline in here).

    The probe is a join against the PREVIOUS round, not a label-sum
    checksum compared probe-to-probe: the checksum confirms a fixed
    point one probe span later, and the extra rounds measured
    curation_soft_dedup 2.70 -> 13.99 s at sf0.1.
    """
    base = truncate_lineage(edges.select("s", "t"))
    with loop_shuffle(base.sparkSession, base.count(), n_cols=2):
        sym = base.union(
            base.select(F.col("t").alias("s"), F.col("s").alias("t"))
        )
        sym = sym.union(
            sym.select("s").distinct().select("s", F.col("s").alias("t"))
        ).repartition("t").sortWithinPartitions("t").persist().transform(
            track_cache
        )
        labels = (
            sym.select(F.col("s").alias("id"))
            .distinct()
            .withColumn("comp", F.col("id"))
        )

        def step(lab: DataFrame) -> DataFrame:
            return (
                sym.join(lab, sym.t == lab.id)
                .groupBy("s")
                .agg(F.min("comp").alias("comp"))
                .select(F.col("s").alias("id"), "comp")
            )

        def settled(new: DataFrame, old: DataFrame) -> "DataFrame | None":
            changed = (
                new.alias("n")
                .join(old.alias("o"), "id")
                .filter(F.col("n.comp") != F.col("o.comp"))
                .limit(1)
                .count()
            )
            if changed:
                return None
            return new.select("id", F.col("comp").alias("component"))

        return iterate(
            step, labels, max_iter, every=probe_every, stop=settled,
            guard="connected_components: labels still changing",
        )


def cc_alternating(edges: DataFrame, rounds: int = 6) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond").

    → (id, component), component = min vertex id, same contract as
    :func:`connected_components`. The difference is ROUND COMPLEXITY:
    min-label propagation needs O(graph diameter) rounds — a 10^6-hop
    chain of near-dup documents (crawl snapshots of the same page
    drifting gradually) needs 10^6 shuffles — while star alternation
    contracts every tree toward its minimum by roughly squaring rank
    gaps, converging in O(log n) practical rounds (O(log^2 n) proven).
    Each round is two grouped min-aggregations over the current edge
    multiset; edges only ever REWIRE toward smaller ids, so the edge
    count never grows.

    large-star(u): every neighbor v > u rewires to m = min(N(u) ∪ u).
    small-star(u): every neighbor v <= u (and u) rewires to that m.
    At the fixed point the edge set is a star forest rooted at the
    component minima; the label of v is its star root (v itself for
    isolated roots).

    The edge frame is referenced four times per round, so the logical
    plan grows ~16x per round and is truncated every round; by round 3
    an untruncated tree overflows the planner stack.

    ``rounds`` is fixed (deterministic plan for the oracle twin);
    callers with unknown-diameter graphs should use
    :func:`cc_alternating_converged`. Tests pin label equality with
    the propagation implementation on random graphs and a 64-node path.
    """
    e, verts = _cc_normalize(edges)
    with loop_shuffle(e.sparkSession, e.count(), n_cols=2):
        cur = iterate(_star_round, e, rounds)
    return _cc_labels(cur, verts)


def _cc_normalize(edges: DataFrame) -> "tuple[DataFrame, DataFrame]":
    """Canonical (a < b) distinct edge set, cut off its caller lineage
    (:func:`truncate_lineage`: graph_cc_alternating feeds the LSH pair
    pipeline in here) + the vertex frame that labels the output."""
    e = truncate_lineage(
        edges.select(
            F.least("s", "t").alias("a"), F.greatest("s", "t").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    verts = (
        e.select(F.col("a").alias("id"))
        .union(e.select(F.col("b").alias("id")))
        .distinct()
        .persist().transform(track_cache)
    )
    return e, verts


def _star(cur: DataFrame, large: bool) -> DataFrame:
    """One large- or small-star rewiring round (Kiveris et al.).

    m(u) = min(N(u) ∪ u) is computed with a window min over the SAME
    (a)-keyed exchange the rewiring reads — one exchange of the
    symmetrized frame per star and one computation of it, where the
    r8-r14 groupBy+join formulation exchanged sym twice (partial-agg
    rows for the min table, the full frame for the join) and computed
    the union subtree once per consumer (guide §2.4: operations keyed
    the same way share one exchange). The small-star's two outputs
    ((b, m) for b <= a plus (a, m) for every row) are emitted in one
    pass via a conditional explode instead of two reads of the joined
    frame. Output multiset differences are erased by the trailing
    distinct, so labels are bit-identical to the old formulation
    (pinned against min-label propagation in tests).
    """
    from pyspark.sql import Window  # noqa: PLC0415

    sym = cur.select("a", "b").union(
        cur.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    m = F.least(F.min("b").over(Window.partitionBy("a")), F.col("a"))
    withm = sym.select("a", "b", m.alias("m"))
    if large:
        out = withm.filter(F.col("b") > F.col("a")).select(
            F.col("b").alias("x"), F.col("m").alias("y")
        )
    else:
        pair = lambda v: F.struct(v.alias("x"), F.col("m").alias("y"))  # noqa: E731
        out = withm.select(
            F.explode(
                F.when(
                    F.col("b") <= F.col("a"),
                    F.array(pair(F.col("b")), pair(F.col("a"))),
                ).otherwise(F.array(pair(F.col("a"))))
            ).alias("e")
        ).select(F.col("e.x").alias("x"), F.col("e.y").alias("y"))
    return (
        out.select(
            F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _star_round(cur: DataFrame) -> DataFrame:
    return _star(_star(cur, large=True), large=False)


def _cc_labels(cur: DataFrame, verts: DataFrame) -> DataFrame:
    # star forest -> labels: the min neighbor is the root; roots and
    # isolated vertices label themselves
    root = (
        cur.select("a", "b")
        .union(cur.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .groupBy(F.col("a").alias("id"))
        .agg(F.min("b").alias("nb"))
        .select("id", F.least("nb", F.col("id")).alias("component"))
    )
    return verts.join(root, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )


def cc_alternating_converged(
    edges: DataFrame,
    max_rounds: int = 40,
) -> DataFrame:
    """Deployment wrapper for :func:`cc_alternating` on graphs of
    UNKNOWN diameter: alternate large-star/small-star until a full
    round changes nothing, instead of trusting a caller-chosen fixed
    round count (the r8 footgun — a too-small `rounds` silently
    returns wrong labels on a deeper-than-expected graph).

    Fixed-point probe, per round: the canonical edge set is distinct
    and only ever rewires toward smaller ids, so the probe is one
    `count()` of the round's checkpoint plus — only when counts match —
    one `exceptAll` emptiness check against the previous round. Star
    alternation converges in O(log^2 n) rounds proven / O(log n)
    practical, so `max_rounds=40` covers any graph that fits in an
    exabyte; exhausting it means the input violates the algorithm's
    contract (e.g. a nondeterministic edge source) and raises.

    Same output contract and label equality as :func:`cc_alternating`
    (pinned in tests on path graphs, random graphs, and the fixture's
    near-dup clusters).
    """
    e, verts = _cc_normalize(edges)
    n = e.count()
    with loop_shuffle(e.sparkSession, n, n_cols=2):

        def settled(new: DataFrame, old: DataFrame) -> "DataFrame | None":
            nonlocal n
            m = new.count()
            if m == n and old.exceptAll(new).isEmpty():
                return _cc_labels(new, verts)
            n = m
            return None

        return iterate(
            _star_round, e, max_rounds, stop=settled,
            guard="cc_alternating_converged: no fixed point (check the "
            "edge source for nondeterminism)",
        )


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Undirected-graph triangle count + clustering coefficient.

    ``edges``: canonical undirected edges (a, b) with a != b, each pair
    listed once. Degree-ordered orientation (Schank node-iterator++):
    every edge is directed from its lower-(degree, id) endpoint, wedges
    are generated only at tails, and a triangle closes iff the wedge's
    two heads are themselves an oriented edge. Per-vertex wedge fan-out
    is bounded by out-degree <= O(sqrt(|E|)), which is what survives
    celebrity-vertex skew at scale; correctness is independent of the
    orientation order (any total order counts each triangle once).

    Returns one row: n_vertices, n_edges, n_wedges (unordered paths of
    length 2), n_triangles, clustering (= 3*triangles/wedges).
    """
    # deg feeds the two orientation joins AND the final vertex/wedge
    # aggregate; oriented feeds both wedge legs AND the closing join
    # (different join keys, so exchange reuse cannot cover them).
    # Persisted (r15): without the caches each consumer replays the
    # degree aggregation / the two orientation joins from the edge
    # lineage — for callers whose edge frame is itself a join+filter
    # pipeline (graph_triangle_stats' thresholded co-order pairs)
    # that re-ran the whole base three times.
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
        .persist().transform(track_cache)
    )
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("deg_b"))
    lower_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        edges.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(lower_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias(
                "deg_head"
            ),
        )
        .persist().transform(track_cache)
    )
    w1 = oriented.select(
        "u", F.col("v").alias("v1"), F.col("deg_head").alias("dh1")
    )
    w2 = oriented.select(
        "u", F.col("v").alias("v2"), F.col("deg_head").alias("dh2")
    )
    # v1 ≺ v2 in the same (deg, id) total order the orientation used —
    # the head id doubles as the tie-break, no extra column shuffled.
    wedges = w1.join(w2, "u").filter(
        (F.col("dh1") < F.col("dh2"))
        | ((F.col("dh1") == F.col("dh2")) & (F.col("v1") < F.col("v2")))
    )
    closed = wedges.join(
        oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2")),
        ["v1", "v2"],
    )
    tri = closed.agg(F.count("*").alias("n_triangles"))
    return (
        deg.agg(
            F.count("*").alias("n_vertices"),
            F.sum(F.expr("(deg * (deg - 1)) div 2")).alias("n_wedges"),
        )
        .crossJoin(edges.agg(F.count("*").alias("n_edges")))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_vertices",
            "n_edges",
            "n_wedges",
            "n_triangles",
            (
                (F.lit(3) * F.col("n_triangles")).cast("double")
                / F.col("n_wedges").cast("double")
            ).alias("clustering"),
        )
    )


def bfs_hops(
    edges: DataFrame, sources: DataFrame, max_iter: int = 10
) -> DataFrame:
    """Multi-source BFS: minimum hop count from any vertex in
    `sources` — the reachability/radius primitive (seed-page distance,
    crawl-frontier depth) next to PageRank and connected components.

    ``edges``: (s, t) pairs, followed in both directions.
    ``sources``: one column ``id``. Returns (id, hops BIGINT) for every
    vertex, hops = NULL when unreachable within ``max_iter``.

    FRONTIER-based (textbook distributed BFS): a vertex's hop count
    never changes once settled, so each round propagates ONLY from the
    vertices settled in the previous round — per-round work is
    O(edges touching the frontier), not O(all edges x all labels)
    (the naive relaxation re-propagates every settled vertex every
    round; 2.5x slower at sf0.1 already). Rounds past exhaustion join
    an empty frontier and cost nothing, so a fixed max_iter stays
    exact — what lets a DuckDB recursive CTE replay it for the
    graph_bfs_hops oracle. Settled and frontier frames are truncated
    every 2 rounds; the frontier shrinks toward exhaustion, so the
    loop keeps AQE (operators/adaptive.py).
    """
    sym = edges.select("s", "t").union(
        edges.select(F.col("t").alias("s"), F.col("s").alias("t"))
    ).persist().transform(track_cache)
    verts = sym.select(F.col("s").alias("id")).distinct()
    with loop_shuffle(sym.sparkSession, sym.count(), n_cols=2, aqe="on"):
        settled = sources.select(
            "id", F.lit(0).cast("bigint").alias("hops")
        ).join(verts, "id", "left_semi").persist().transform(track_cache)

        def step(
            state: "tuple[DataFrame, DataFrame]",
        ) -> "tuple[DataFrame, DataFrame]":
            settled, frontier = state
            cand = (
                sym.join(frontier, sym.s == frontier.id)
                .groupBy(F.col("t").alias("id"))
                .agg((F.min("hops") + F.lit(1)).cast("bigint").alias("hops"))
            )
            frontier = cand.join(settled, "id", "left_anti")
            return settled.union(frontier), frontier  # disjoint

        settled, _ = iterate(step, (settled, settled), max_iter, every=2)
    return verts.join(settled, "id", "left").select("id", "hops")


def _hits_spread(e: DataFrame, frame: DataFrame, src: str, dst: str) -> DataFrame:
    """Sum ``frame``'s scores over edges ``src -> dst``, keyed by dst."""
    return (
        e.join(frame, e[src] == frame.id)
        .groupBy(dst)
        .agg(F.sum("v").cast("bigint").alias("v"))
        .select(F.col(dst).alias("id"), "v")
    )


def _hits_layouts(base: DataFrame) -> "tuple[DataFrame, DataFrame]":
    """The edge frame cached twice, pre-partitioned on each join key
    (the rounds alternate join sides), so every per-round join reuses a
    cached layout and only the score frame moves. e_t re-reads the e_s
    cache, so an uncached edge pipeline computes once."""
    e_s = base.repartition("s").sortWithinPartitions("s").persist().transform(track_cache)
    e_t = e_s.repartition("t").sortWithinPartitions("t").persist().transform(track_cache)
    return e_s, e_t


def _hits_scores(
    auth: DataFrame, hub: DataFrame,
    norm: Callable[[DataFrame], "tuple[DataFrame, Column]"],
) -> DataFrame:
    """(id, kind, score_fp, score) for both kinds; ``norm(frame)``
    returns the frame and the column that score_fp is divided by."""
    out = []
    for kind, frame in (("auth", auth), ("hub", hub)):
        frame, denom = norm(frame)
        out.append(
            frame.select(
                "id",
                F.lit(kind).alias("kind"),
                F.col("v").alias("score_fp"),
                (F.col("v").cast("double") / denom).alias("score"),
            )
        )
    return out[0].unionAll(out[1])


def hits_fixed(edges: DataFrame, rounds: int = 2) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) by ``rounds`` power-
    iteration steps in EXACT integer arithmetic — no per-round float
    normalization, so every score is an associative BIGINT sum and the
    run carries a full value-hash oracle like pagerank_fixed.

    Update order is the standard one: from hub0 = 1, each round does
    auth(v) = sum of hub over in-neighbors, then hub(u) = sum of auth
    over out-neighbors. Unnormalized scores grow as deg^(2*rounds):
    with the default 2 rounds they stay inside int64 for max degree up
    to ~30k; host-level web graphs pass that only after the standard
    degree capping, and a deployment needing more rounds or hotter hubs
    switches the sums to decimal(38,0) (Spark) / HUGEINT (DuckDB) —
    same algebra, wider lanes. Output normalizes once at the end by the
    per-kind maximum (one broadcast row; exact integer division to
    double is engine-identical).

    Per round: two shuffles (one keyed by target, one by source) over
    the O(V) score frame against the cached edge layouts. The loop runs
    no action of its own, so it takes no loop_shuffle scope
    (operators/adaptive.py), and its lazy checkpoints are materialised
    by the final normalization or the caller's action.
    """
    e_s, e_t = _hits_layouts(edges.select("s", "t"))
    # round 1 auth: hub0 = 1 everywhere -> auth1(v) = in-degree
    auth = (
        e_t.groupBy("t")
        .agg(F.count("*").cast("bigint").alias("v"))
        .select(F.col("t").alias("id"), "v")
    )
    hub = _hits_spread(e_t, auth, "t", "s")
    for _ in range(rounds - 1):
        auth = _hits_spread(e_s, hub, "s", "t").localCheckpoint(eager=False)
        hub = _hits_spread(e_t, auth, "t", "s").localCheckpoint(eager=False)

    def by_max(frame: DataFrame) -> "tuple[DataFrame, Column]":
        mx = frame.agg(F.max("v").alias("mx"))
        return frame.crossJoin(F.broadcast(mx)), F.col("mx").cast("double")

    return _hits_scores(auth, hub, by_max)


def hits_converged(
    edges: DataFrame,
    scale_bits: int = 20,
    max_rounds: int = 128,
) -> DataFrame:
    """:func:`hits_fixed`'s power iteration QUANTIZED and run to an
    exact integer fixed point, with a ``max_rounds`` guard that RAISES.

    Raw HITS scores grow as deg^(2*rounds) — exact integer arithmetic
    overflows after a handful of rounds, and the normalized vector
    converges to an (irrational) eigenvector, so a float L1 threshold
    would reintroduce partition-order nondeterminism. Instead each
    half-round renormalizes IN FIXED POINT: the frame rescales to
    ``floor(v * 2^scale_bits / max(v))`` — all-BIGINT arithmetic (the
    multiply is split ``(v div m)*S + ((v mod m)*S) div m`` so no
    intermediate exceeds ``max_raw * 2^scale_bits``, inside int64 for
    max weighted degree < 2^(63 - scale_bits)). Quantization makes the
    iterate a deterministic map on a FINITE state space, so geometric
    eigenvector convergence reaches an exact integer rest state in
    finitely many rounds: the stop probe is L-infinity delta <= 1 ulp
    on BOTH frames (the 1-ulp tolerance absorbs the adjacent-level
    flicker a floor can oscillate between), both deltas in one action
    over checkpointed frames, from round 2 on. Small graphs can settle
    slowly (a 3-cycle with in- and out-tails needs more than 40
    rounds), so the default guard is 128; it only stops a loop that
    never settles.

    Returns (id, kind, score_fp, score) like hits_fixed: score_fp is
    the fixed-point integer (max = 2^scale_bits by construction),
    score = score_fp / 2^scale_bits, bit-deterministic across
    partitionings.
    """
    scale = 1 << scale_bits
    # persisted so the loop's partition count can come from a measured
    # row count without re-running the caller's edge pipeline
    base = edges.select("s", "t").persist().transform(track_cache)
    with loop_shuffle(base.sparkSession, base.count(), n_cols=2):
        e_s, e_t = _hits_layouts(base)

        def rescale(frame: DataFrame) -> DataFrame:
            mx = frame.agg(F.max("v").alias("m"))
            return frame.crossJoin(F.broadcast(mx)).select(
                "id",
                F.expr(
                    f"(v DIV m) * {scale}L + ((v % m) * {scale}L) DIV m"
                ).alias("v"),
            )

        def deltas(x: DataFrame, px: DataFrame) -> DataFrame:
            return x.join(
                px.select(F.col("id").alias("id2"), F.col("v").alias("v2")),
                x.id == F.col("id2"),
            ).select(F.abs(F.col("v") - F.col("v2")).alias("d"))

        auth = prev_auth = None

        def step(hub: DataFrame) -> DataFrame:
            nonlocal auth
            # a side cut: the hub half and the probe both read auth (an
            # uncut one re-runs the auth rescale's broadcast jobs inside
            # the hub half); lazy, as the round's probe materializes it
            auth = rescale(_hits_spread(e_s, hub, "s", "t")).localCheckpoint(
                eager=False
            )
            return rescale(_hits_spread(e_t, auth, "t", "s"))

        def settled(hub: DataFrame, prev: DataFrame) -> "DataFrame | None":
            """max(L-inf(auth delta), L-inf(hub delta)) <= 1, in one
            action, from round 2 on."""
            nonlocal prev_auth
            if prev_auth is not None:
                row = (
                    deltas(auth, prev_auth)
                    .unionAll(deltas(hub, prev))
                    .agg(F.max("d").alias("d"))
                    .collect()[0]
                )
                if (row["d"] or 0) <= 1:
                    return _hits_scores(
                        auth, hub, lambda f: (f, F.lit(float(scale)))
                    )
            prev_auth = auth
            return None

        verts_s = e_s.select(F.col("s").alias("id")).distinct()
        hub = verts_s.select("id", F.lit(scale).cast("bigint").alias("v"))
        return iterate(
            step, hub, max_rounds, stop=settled,
            guard="hits_converged: no integer fixed point",
        )
