"""Graph analytics over a co-occurrence graph (beyond-reference).

The reference builds host-link graphs (hostlinks_to_graph.py) but runs
no graph *analytics*; PageRank/connected components live in
operators/pagerank.py under pytest. This registers a driver-gated graph
query: triangle counting with the degree-ordered orientation trick —
the standard distributed formulation (Schank's node-iterator++ /
Cohen's MapReduce variant): orient every edge from its lower-(degree,
id) endpoint to the higher one, build wedges only at each edge's tail,
and close them against the oriented edge set. Orientation bounds
per-vertex wedge fan-out by out-degree ≤ O(sqrt(|E|)) — the reason the
self-join doesn't explode on skewed (celebrity) vertices at 100 TB.

The graph: suppliers co-occurring in the same order (bounded fan-out:
an order has ≤ 7 lineitems, so the pair-generation join is keyed by
orderkey with ≤ 21 pairs per key). The oracle counts the SAME triangles
with a structurally different algorithm (id-ordered a<b<c triple join),
so the two engines agree only if both formulations are correct.
"""

from __future__ import annotations

from cc_pyspark_spark.caching import track_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cc_pyspark_spark.catalog import Catalog
from cc_pyspark_spark.plans.registry import register


def co_order_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (c=custkey, s=suppkey) co-order pairs — the ONE edge
    base every bipartite graph_* query (and bench.py's converged-
    wrapper rows) builds on. Downstream tagging is always the
    disjoint 2c / 2s+1 scheme (see graph_pagerank's note: a fixed
    offset silently merges vertices once custkeys outgrow it), so the
    definition lives here exactly once — a change to the edge base
    cannot diverge between the registered queries and the bench rows.
    """
    t = Catalog(spark, sf_dir)
    return (
        t.orders.join(t.lineitem, t.orders.o_orderkey == t.lineitem.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )


@register(
    "graph_triangle_stats",
    oracle="""
WITH os AS (
  SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem
), p AS (
  SELECT x.s AS a, y.s AS b, CAST(COUNT(*) AS BIGINT) AS c
  FROM os x JOIN os y ON x.o = y.o AND x.s < y.s
  GROUP BY 1, 2
), thr AS (
  SELECT quantile_cont(c, 0.5) AS thr FROM p
), e AS (
  SELECT a, b FROM p CROSS JOIN thr WHERE CAST(c AS DOUBLE) > thr
), d AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e
  ) GROUP BY 1
), tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM e e1
  JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_vertices,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
       (SELECT CAST(SUM((deg * (deg - 1)) // 2) AS BIGINT) FROM d) AS n_wedges,
       tri.n_triangles,
       CAST(3 * tri.n_triangles AS DOUBLE)
         / CAST((SELECT SUM((deg * (deg - 1)) // 2) FROM d) AS DOUBLE)
         AS clustering
FROM tri
""",
    description="Triangle counting + global clustering coefficient over the "
    "supplier co-order graph, using degree-ordered edge orientation (wedges "
    "built only at the lower-degree endpoint — caps fan-out at O(sqrt(E)) "
    "per vertex, which is what survives skew at 100 TB). Oracle counts the "
    "same triangles via the independent id-ordered a<b<c formulation, so "
    "agreement cross-checks the algorithm, not just the arithmetic",
    tags=("graph",),
)
def graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    os_ = t.lineitem.select(
        F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s")
    ).distinct()
    # Edge = supplier pair co-occurring in MORE orders than the median
    # pair (relative threshold: scale-free sparsification — an absolute
    # cutoff would keep a complete graph at one SF and nothing at
    # another). quantile_cont interpolation is IEEE-identical in both
    # engines over the same integer multiset.
    pairs = (
        os_.alias("x")
        .join(os_.alias("y"), (F.col("x.o") == F.col("y.o")) & (F.col("x.s") < F.col("y.s")))
        .select(F.col("x.s").alias("a"), F.col("y.s").alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("c"))
    )
    # thr: exact interpolated median of the pair counts. Spark's exact
    # percentile aggregates a value->count map with MAP-SIDE partial
    # merge (Percentile.scala buffers O(distinct values), not O(rows))
    # — over small-integer co-occurrence counts (12 distinct at sf0.1)
    # this IS the histogram-median, distributed and scale-safe, and it
    # shares the pairs exchange with the edge filter inside one action
    # (a DataFrame-level reformulation measured +30% by losing that
    # reuse; see SCALING.md r12-late notes). The degenerate case is
    # CONTINUOUS value columns, where the counts map grows O(rows) —
    # curation_dsir_importance switched to W2 distributed selection
    # for exactly that reason.
    thr = pairs.agg(F.expr("percentile(c, 0.5)").alias("thr"))
    # Persisted (r15): triangle_stats references its edge frame from
    # three differently-keyed subtrees (degree agg, orientation join,
    # edge count), and this edge frame is itself the co-order self-join
    # + threshold — without the cache that base replayed per consumer.
    e = (
        pairs.crossJoin(F.broadcast(thr))
        .filter(F.col("c").cast("double") > F.col("thr"))
        .select("a", "b")
        .persist().transform(track_cache)
    )
    from cc_pyspark_spark.operators.pagerank import triangle_stats  # noqa: PLC0415

    return triangle_stats(e)


from cc_pyspark_spark.operators.pagerank import PAGERANK_SCALE as _PR_SCALE

_PR_ITER = 8


@register(
    "graph_pagerank",
    oracle=f"""
WITH RECURSIVE
raw AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
edges AS (
  SELECT 2 * c AS s, 2 * s + 1 AS t FROM raw
  UNION ALL
  SELECT 2 * s + 1 AS s, 2 * c AS t FROM raw
),
verts AS (SELECT DISTINCT s AS id FROM edges),
deg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY s),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM verts),
pr(iter, id, r) AS (
  SELECT 0, id, CAST({_PR_SCALE} // (SELECT n FROM nn) AS BIGINT) FROM verts
  UNION ALL
  SELECT v.iter + 1, v.id,
         CAST({_PR_SCALE}::BIGINT * 15 // (100 * x.n)
              + (85 * COALESCE(c.contrib, 0)) // 100 AS BIGINT)
  FROM pr v CROSS JOIN nn x
  LEFT JOIN (
    SELECT e.t AS id, CAST(SUM(p.r // dg.deg) AS BIGINT) AS contrib
    FROM edges e JOIN pr p ON e.s = p.id JOIN deg dg ON e.s = dg.s
    GROUP BY e.t
  ) c ON v.id = c.id
  WHERE v.iter < {_PR_ITER}
)
SELECT id, r, CAST(r AS DOUBLE) / {float(_PR_SCALE)} AS rank
FROM pr WHERE iter = {_PR_ITER}
""",
    description="Damped PageRank over the symmetrized customer-supplier "
    "order graph (vertices disjointly tagged 2c / 2s+1 — collision-free "
    "at any key scale), run for a fixed 8 rounds in BIGINT fixed-point "
    "arithmetic (mass scaled by 1e15) — integer sums are associative, so "
    "the ranks are bit-identical across partitionings, runs, and engines, "
    "and even this ITERATIVE algorithm carries a full value-hash oracle "
    "(a DuckDB recursive CTE replays all 8 rounds exactly). Each Spark "
    "iteration is one shuffle keyed by target vertex plus lineage "
    "truncation every 4 rounds; the symmetrized graph has no dangling "
    "vertices, so the dangling-mass aggregate is skipped "
    "(assume_no_dangling)",
    tags=("graph", "scale"),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cc_pyspark_spark.operators.pagerank import pagerank_fixed  # noqa: PLC0415

    raw = co_order_raw(spark, sf_dir)
    # Symmetrize: customer <-> supplier. Vertex ids are DISJOINTLY
    # TAGGED (customer -> 2c, supplier -> 2s+1) rather than offset by a
    # constant — a fixed offset silently merges vertices once custkeys
    # outgrow it (TPC-H custkeys pass 1e6 at SF 7). Every vertex has an
    # out-edge, so the dangling term is identically zero and skipped.
    edges = raw.select(
        (2 * F.col("c")).alias("s"), (2 * F.col("s") + 1).alias("t")
    ).unionAll(
        raw.select((2 * F.col("s") + 1).alias("s"), (2 * F.col("c")).alias("t"))
    ).persist().transform(track_cache)
    return pagerank_fixed(
        edges, n_iter=_PR_ITER, damping_pct=85, assume_symmetric=True
    )


_BFS_ITER = 6


@register(
    "graph_bfs_hops",
    oracle=f"""
WITH RECURSIVE
raw AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
sym AS (
  SELECT 2 * c AS s, 2 * s + 1 AS t FROM raw
  UNION ALL
  SELECT 2 * s + 1 AS s, 2 * c AS t FROM raw
),
verts AS (SELECT DISTINCT s AS id FROM sym),
src AS (SELECT DISTINCT 2 * s + 1 AS id FROM raw WHERE s <= 3),
bfs(iter, id, hops) AS (
  SELECT 0, v.id,
         CASE WHEN src.id IS NOT NULL THEN CAST(0 AS BIGINT) END
  FROM verts v LEFT JOIN src ON v.id = src.id
  UNION ALL
  SELECT v.iter + 1, v.id,
         CASE
           WHEN v.hops IS NULL THEN nm.m
           WHEN nm.m IS NULL THEN v.hops
           ELSE LEAST(v.hops, nm.m)
         END
  FROM bfs v
  LEFT JOIN (
    SELECT sym.s AS id, CAST(MIN(l2.hops) + 1 AS BIGINT) AS m
    FROM sym JOIN bfs l2 ON sym.t = l2.id
    WHERE l2.hops IS NOT NULL
    GROUP BY sym.s
  ) nm ON v.id = nm.id
  WHERE v.iter < {_BFS_ITER}
)
SELECT id, hops FROM bfs WHERE iter = {_BFS_ITER}
""",
    description="Multi-source BFS hop counts over the symmetrized "
    "customer-supplier graph (seed set: suppliers 1-3) — the "
    "reachability/frontier-depth primitive beside PageRank, components, "
    "and triangles; one neighbor-min shuffle per round, all-integer "
    "labels (min over BIGINT is associative → bit-identical across "
    "partitionings), rounds past exhaustion join an empty frontier, so "
    "the fixed 6-round run carries a full value-hash oracle via a "
    "DuckDB recursive-CTE replay",
    tags=("graph",),
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cc_pyspark_spark.operators.pagerank import bfs_hops  # noqa: PLC0415

    raw = co_order_raw(spark, sf_dir)
    edges = raw.select(
        (2 * F.col("c")).alias("s"), (2 * F.col("s") + 1).alias("t")
    )
    sources = (
        raw.filter(F.col("s") <= 3)
        .select((2 * F.col("s") + 1).alias("id"))
        .distinct()
    )
    return bfs_hops(edges, sources, max_iter=_BFS_ITER)


# ---------------------------------------------------------------------------
# Community structure (r9): label propagation + k-core peeling.
# Both oracles are round-chained MATERIALIZED CTEs — a plain CTE chain
# where round r references round r-1 more than once re-expands
# exponentially in DuckDB (see plans/dedup.py kcenter / text_bpe_train).
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 4

#: Shared edge CTE: supplier co-order graph, above-median pair count
#: (same construction as graph_triangle_stats' oracle — a relative
#: threshold keeps the sparsification scale-free across SFs).
_CO_ORDER_EDGE_CTE = """
os AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem
),
p AS MATERIALIZED (
  SELECT x.s AS a, y.s AS b, CAST(COUNT(*) AS BIGINT) AS c
  FROM os x JOIN os y ON x.o = y.o AND x.s < y.s
  GROUP BY 1, 2
),
thr AS (SELECT quantile_cont(c, 0.5) AS thr FROM p),
e AS MATERIALIZED (
  SELECT a, b FROM p CROSS JOIN thr WHERE CAST(c AS DOUBLE) > thr
)"""


def _lpa_oracle(rounds: int) -> str:
    parts = [
        "WITH " + _CO_ORDER_EDGE_CTE + """,
nbr AS (
  SELECT a AS s, b AS t FROM e UNION ALL SELECT b AS s, a AS t FROM e
),
sym AS MATERIALIZED (
  SELECT s, t FROM nbr
  UNION ALL
  SELECT DISTINCT s, s FROM nbr
),
l0 AS MATERIALIZED (SELECT DISTINCT s AS id, s AS lab FROM sym)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
l{r} AS MATERIALIZED (
  SELECT id, lab FROM (
    SELECT c.t AS id, c.lab,
           ROW_NUMBER() OVER (PARTITION BY c.t
                              ORDER BY c.cnt DESC, c.lab ASC) AS rn
    FROM (SELECT sym.t AS t, l{r-1}.lab AS lab,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM sym JOIN l{r-1} ON sym.s = l{r-1}.id
          GROUP BY 1, 2) c
  ) WHERE rn = 1
)""")
    parts.append(f"\nSELECT id, lab AS community FROM l{rounds}")
    return "".join(parts)


@register(
    "graph_label_propagation",
    oracle=_lpa_oracle(_LPA_ROUNDS),
    description="Community detection by synchronous label propagation "
    "(Raghavan et al. 2007) over the supplier co-order graph, fixed "
    f"{_LPA_ROUNDS} rounds: every vertex adopts the plurality label "
    "among its neighbors plus one self-vote (the standard damper for "
    "sync-LPA oscillation on bipartite-ish substructures), ties to the "
    "smallest — the arg-min of (-count, label), a total order, so the "
    "sweep is deterministic and the iterative run carries a full "
    "value-hash oracle (DuckDB replays each round with an independent "
    "ROW_NUMBER formulation of the same tie-break; Spark uses a single "
    "min-over-struct aggregation, no window). Per round only the O(V) "
    "label frame shuffles against the cached adjacency — the PageRank "
    "discipline — and the plurality count is map-side combinable",
    tags=("graph",),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cc_pyspark_spark.operators.community import label_propagation  # noqa: PLC0415

    return label_propagation(_co_order_edges(spark, sf_dir), rounds=_LPA_ROUNDS)


def _co_order_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier co-order edges, above-median pair count — the Spark
    twin of _CO_ORDER_EDGE_CTE (same construction graph_triangle_stats
    uses inline)."""
    t = Catalog(spark, sf_dir)
    os_ = t.lineitem.select(
        F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s")
    ).distinct()
    pairs = (
        os_.alias("x")
        .join(os_.alias("y"), (F.col("x.o") == F.col("y.o")) & (F.col("x.s") < F.col("y.s")))
        .select(F.col("x.s").alias("a"), F.col("y.s").alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("c"))
    )
    thr = pairs.agg(F.expr("percentile(c, 0.5)").alias("thr"))  # see graph_triangle_stats thr note
    return (
        pairs.crossJoin(F.broadcast(thr))
        .filter(F.col("c").cast("double") > F.col("thr"))
        .select("a", "b")
    )


_KCORE_K = 8
_KCORE_ROUNDS = 4


def _kcore_oracle(k: int, rounds: int) -> str:
    parts = ["""WITH raw AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
e0 AS MATERIALIZED (SELECT 2 * c AS a, 2 * s + 1 AS b FROM raw)"""]
    for r in range(1, rounds + 1):
        parts.append(f""",
d{r} AS MATERIALIZED (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT a AS v FROM e{r-1} UNION ALL SELECT b AS v FROM e{r-1}
  ) GROUP BY 1
),
a{r} AS MATERIALIZED (SELECT v FROM d{r} WHERE deg >= {k}),
e{r} AS MATERIALIZED (
  SELECT a, b FROM e{r-1}
  WHERE a IN (SELECT v FROM a{r}) AND b IN (SELECT v FROM a{r})
)""")
    parts.append(f"""
SELECT v AS id, CAST(COUNT(*) AS BIGINT) AS deg FROM (
  SELECT a AS v FROM e{rounds} UNION ALL SELECT b AS v FROM e{rounds}
) GROUP BY 1""")
    return "".join(parts)


@register(
    "graph_kcore",
    oracle=_kcore_oracle(_KCORE_K, _KCORE_ROUNDS),
    description=f"k-core decomposition (k={_KCORE_K}) of the customer-"
    "supplier bipartite graph by iterative peeling: drop vertices of "
    "degree < k and edges with a dead endpoint, repeat — the standard "
    "distributed formulation (one degree count + one double semi-join "
    "per round over an edge frame that only ever SHRINKS). Fixed "
    f"{_KCORE_ROUNDS} rounds for the oracle twin (the fixture reaches "
    "its fixed point in 2 — pinned by a convergence tripwire test); "
    "kcore_converged probes the fixed point for unknown graphs. "
    "Returns each core vertex with its within-core degree, all-integer, "
    "so the iterative run hash-matches a DuckDB materialized-CTE replay",
    tags=("graph",),
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cc_pyspark_spark.operators.community import kcore  # noqa: PLC0415

    raw = co_order_raw(spark, sf_dir)
    edges = raw.select(
        (2 * F.col("c")).alias("a"), (2 * F.col("s") + 1).alias("b")
    )
    return kcore(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS)


# ---------------------------------------------------------------------------
# Converged deployment wrappers under the oracle gate (r11, VERDICT r10
# ask #3): lpa_converged / kcore_converged exist as operators with
# pytest pins (tests/test_community.py), but deployment configs should
# carry driver rows like the fixed-round twins — following the
# graph_cc_converged pattern (plans/dedup.py).

#: Replay depth for the converged-LPA oracle. The co-order fixture
#: reaches its genuine fixed point at round 2 (sf0.001/sf0.01) and
#: round 3 (sf0.1) — probed empirically — so 6 rounds is double the
#: worst observed; the LEAST() canonicalization below keeps the oracle
#: correct even if a future fixture lands in a period-2 cycle instead.
_LPA_CONV_ROUNDS = 6


def _lpa_converged_oracle(rounds: int = _LPA_CONV_ROUNDS) -> str:
    """lpa_converged's replay: chain ``rounds + 1`` LPA sweeps, emit
    the ELEMENTWISE MIN of the last two label frames. At a fixed point
    the two frames are equal, so the min IS the converged labeling; in
    a period-2 cycle the min of the two alternating phases is exactly
    the canonicalization lpa_converged returns — so one formula covers
    both stop rules, phase-independently."""
    base = _lpa_oracle(rounds + 1)
    head = base.rsplit("\nSELECT", 1)[0]
    return head + (
        f"\nSELECT a.id, LEAST(a.lab, b.lab) AS community"
        f" FROM l{rounds} a JOIN l{rounds + 1} b ON a.id = b.id"
    )


@register(
    "graph_lpa_converged",
    oracle=_lpa_converged_oracle(),
    description="graph_label_propagation's DEPLOYMENT entry: the "
    "lpa_converged wrapper iterates until the per-round label-change "
    "count hits zero OR a period-2 oscillation is detected (sync LPA "
    "has no convergence guarantee — Goles-Olivos period<=2 theory; "
    "cycles canonicalize to the elementwise min of the two phases, so "
    "the result is independent of when detection fires), with a "
    "max-rounds guard that RAISES. Per-round cost is identical to the "
    "fixed-round twin (one O(V) label-frame shuffle against the cached "
    "adjacency) plus one O(V) diff-count probe between checkpointed "
    "frames. The oracle replays " + str(_LPA_CONV_ROUNDS + 1) + " "
    "sweeps (double the fixture's observed fixed-point round) and "
    "emits LEAST over the last two frames — exact for both the "
    "fixed-point and the 2-cycle stop rule",
    tags=("graph", "scale"),
)
def graph_lpa_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cc_pyspark_spark.operators.community import lpa_converged  # noqa: PLC0415

    return lpa_converged(_co_order_edges(spark, sf_dir), max_rounds=32)


@register(
    "graph_kcore_converged",
    oracle=_kcore_oracle(_KCORE_K, _KCORE_ROUNDS),
    description="graph_kcore's DEPLOYMENT entry: kcore_converged peels "
    f"to the edge-count fixed point (k={_KCORE_K}) with a max-rounds "
    "guard that RAISES instead of returning a silently-non-core set. "
    "Because peeling is MONOTONE (the edge frame only shrinks), the "
    f"fixed point equals any fixed-round run that overshoots it — the "
    f"fixture converges in 2 rounds (pinned by a tripwire test), so "
    f"the {_KCORE_ROUNDS}-round oracle replay is exact. Per round: one "
    "degree count + one double semi-join + one driver-side scalar "
    "count probe over the checkpointed edge frame",
    tags=("graph", "scale"),
)
def graph_kcore_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cc_pyspark_spark.operators.community import kcore_converged  # noqa: PLC0415

    raw = co_order_raw(spark, sf_dir)
    edges = raw.select(
        (2 * F.col("c")).alias("a"), (2 * F.col("s") + 1).alias("b")
    )
    return kcore_converged(edges, k=_KCORE_K, max_rounds=32)


_HITS_ROUNDS = 2


@register(
    "graph_hits",
    oracle=f"""
WITH raw AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
e AS MATERIALIZED (SELECT 2 * c AS s, 2 * s + 1 AS t FROM raw),
a1 AS MATERIALIZED (
  SELECT t AS id, CAST(COUNT(*) AS BIGINT) AS v FROM e GROUP BY t
),
h1 AS MATERIALIZED (
  SELECT e.s AS id, CAST(SUM(a1.v) AS BIGINT) AS v
  FROM e JOIN a1 ON e.t = a1.id GROUP BY e.s
),
a2 AS MATERIALIZED (
  SELECT e.t AS id, CAST(SUM(h1.v) AS BIGINT) AS v
  FROM e JOIN h1 ON e.s = h1.id GROUP BY e.t
),
h2 AS MATERIALIZED (
  SELECT e.s AS id, CAST(SUM(a2.v) AS BIGINT) AS v
  FROM e JOIN a2 ON e.t = a2.id GROUP BY e.s
)
SELECT id, 'auth' AS kind, v AS score_fp,
       CAST(v AS DOUBLE) / CAST((SELECT MAX(v) FROM a2) AS DOUBLE) AS score
FROM a2
UNION ALL
SELECT id, 'hub', v,
       CAST(v AS DOUBLE) / CAST((SELECT MAX(v) FROM h2) AS DOUBLE)
FROM h2
""",
    description="HITS hubs & authorities (Kleinberg) over the DIRECTED "
    f"customer->supplier order graph, {_HITS_ROUNDS} power-iteration "
    "rounds in exact integer arithmetic: from hub=1, each round sums "
    "hub over in-neighbors (auth) then auth over out-neighbors (hub) — "
    "associative BIGINT sums, bit-identical under any partitioning, so "
    "the iterative run carries a full value-hash oracle (chained "
    "MATERIALIZED CTE replay). Scores normalize ONCE at the end by the "
    "per-kind max (broadcast row; exact int->double division). "
    "Unnormalized growth is deg^(2*rounds) — inside int64 here; hotter "
    "graphs widen the sums to decimal(38,0)/HUGEINT, same algebra. Per "
    "round: two O(V)-frame shuffles against the cached edge frame",
    tags=("graph", "scale"),
)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cc_pyspark_spark.operators.pagerank import hits_fixed  # noqa: PLC0415

    raw = co_order_raw(spark, sf_dir)
    edges = raw.select(
        (2 * F.col("c")).alias("s"), (2 * F.col("s") + 1).alias("t")
    )
    return hits_fixed(edges, rounds=_HITS_ROUNDS)
_MODULARITY_ROUNDS = 4


def _modularity_oracle(rounds: int = _MODULARITY_ROUNDS) -> str:
    """Q-vs-round replay: LPA rounds over the bipartite customer-
    supplier graph, each round's partition scored with Newman
    modularity terms — chained MATERIALIZED CTEs (the kcenter/BPE
    convention for round-referencing chains)."""
    parts = ["""raw AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
e AS MATERIALIZED (SELECT 2 * c AS a, 2 * s + 1 AS b FROM raw),
nbr AS (SELECT a AS s, b AS t FROM e UNION ALL SELECT b AS s, a AS t FROM e),
sym AS MATERIALIZED (
  SELECT s, t FROM nbr UNION ALL SELECT DISTINCT s, s FROM nbr
),
l0 AS MATERIALIZED (SELECT DISTINCT s AS id, s AS lab FROM sym),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
deg AS (SELECT s AS id, CAST(COUNT(*) AS BIGINT) AS deg FROM nbr GROUP BY s)"""]
    selects = []
    for r in range(1, rounds + 1):
        parts.append(f"""l{r} AS MATERIALIZED (
  SELECT id, lab FROM (
    SELECT c.t AS id, c.lab,
           ROW_NUMBER() OVER (PARTITION BY c.t
                              ORDER BY c.cnt DESC, c.lab ASC) AS rn
    FROM (SELECT sym.t AS t, l{r - 1}.lab AS lab,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM sym JOIN l{r - 1} ON sym.s = l{r - 1}.id
          GROUP BY 1, 2) c
  ) WHERE rn = 1
),
comm{r} AS MATERIALIZED (
  SELECT l.lab AS community, CAST(COUNT(*) AS BIGINT) AS n_members,
         CAST(SUM(deg.deg) AS BIGINT) AS d_tot
  FROM l{r} l JOIN deg ON l.id = deg.id GROUP BY l.lab
),
ein{r} AS MATERIALIZED (
  SELECT la.lab AS community, CAST(COUNT(*) AS BIGINT) AS e_in
  FROM e JOIN l{r} la ON e.a = la.id JOIN l{r} lb ON e.b = lb.id
  WHERE la.lab = lb.lab GROUP BY la.lab
)""")
        selects.append(f"""SELECT CAST({r} AS BIGINT) AS round,
       c.community, c.n_members,
       COALESCE(ein{r}.e_in, CAST(0 AS BIGINT)) AS e_in, c.d_tot,
       (CAST(COALESCE(ein{r}.e_in, 0) AS DOUBLE)
          / CAST((SELECT m FROM m) AS DOUBLE))
       - ((CAST(c.d_tot AS DOUBLE) / (2.0 * CAST((SELECT m FROM m) AS DOUBLE)))
          * (CAST(c.d_tot AS DOUBLE)
             / (2.0 * CAST((SELECT m FROM m) AS DOUBLE)))) AS q_term
FROM comm{r} c LEFT JOIN ein{r} ON c.community = ein{r}.community""")
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


@register(
    "graph_modularity",
    oracle=_modularity_oracle(),
    description="Newman-modularity-vs-round curve of label propagation "
    "on the bipartite customer-supplier graph — the partition-QUALITY "
    "readout that tells you which LPA sweep to deploy (Q collapses when "
    "LPA over-merges; the curve makes the merge visible). For each of "
    f"the {_MODULARITY_ROUNDS} rounds, every community's member count, "
    "internal edge count, total degree, and modularity term "
    "e_c/m - (d_c/2m)^2 — all row-level math over exact integer "
    "aggregates (no cross-row float fold, so no fold-order "
    "sensitivity; per-round Q = sum of q_term). Cost beyond LPA (whose "
    "per-round labels are reused, not re-run — "
    "label_propagation_history): per round two keyed edge-label joins "
    "+ two grouped aggs",
    tags=("graph", "scale"),
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cc_pyspark_spark.operators.community import (  # noqa: PLC0415
        label_propagation_history,
    )

    raw = co_order_raw(spark, sf_dir)
    # Cached pre-partitioned/pre-sorted on the e_in join's first key
    # (r15, guide §2.4): every round's within-community edge count
    # joins edges by a then by b — with hashpartitioning(a) in the
    # cache the per-round exchanges of the O(E) frame drop to one.
    edges = raw.select(
        (2 * F.col("c")).alias("a"), (2 * F.col("s") + 1).alias("b")
    ).repartition("a").sortWithinPartitions("a").persist().transform(track_cache)
    m_row = edges.agg(F.count("*").cast("bigint").alias("m"))
    sym = edges.select(F.col("a").alias("id")).unionAll(
        edges.select(F.col("b").alias("id"))
    )
    # consumed by every round's comm aggregation — computed once, and
    # cached pre-partitioned/pre-sorted on the label join key so the
    # per-round labels-deg join moves only the O(V) label frame.
    deg = (
        sym.groupBy("id")
        .agg(F.count("*").cast("bigint").alias("deg"))
        .sortWithinPartitions("id")
        .persist()
        .transform(track_cache)
    )

    history = label_propagation_history(edges, rounds=_MODULARITY_ROUNDS)
    md = F.col("m").cast("double")
    dt = F.col("d_tot").cast("double")
    out = None
    for r, labels in enumerate(history, start=1):
        comm = (
            labels.join(deg, "id")
            .groupBy("community")
            .agg(
                F.count("*").cast("bigint").alias("n_members"),
                F.sum("deg").cast("bigint").alias("d_tot"),
            )
        )
        la = labels.select(
            F.col("id").alias("a"), F.col("community").alias("ca")
        )
        lb = labels.select(
            F.col("id").alias("b"), F.col("community").alias("cb")
        )
        # Aggregate BEFORE the second label attach (r15 optimization
        # round, guide §2.3): the old edges⋈la⋈lb shape exchanged the
        # full O(E) joined frame by b; counting per (b, ca) first is
        # map-side combinable on the a-partitioned join output, so the
        # b-keyed exchange carries only the collapsed (b, ca, cnt)
        # rows — at most min(|E|, |B|·|C|), and shrinking every round
        # as communities merge. Σ cnt over lab(b) == ca is the same
        # exact integer as counting matching edges directly.
        g = (
            edges.join(la, "a")
            .groupBy("b", "ca")
            .agg(F.count("*").cast("bigint").alias("cnt"))
        )
        ein = (
            g.join(lb, "b")
            .filter(F.col("ca") == F.col("cb"))
            .groupBy(F.col("ca").alias("ein_c"))
            .agg(F.sum("cnt").cast("bigint").alias("e_in"))
        )
        part = (
            comm.join(ein, comm.community == F.col("ein_c"), "left")
            .crossJoin(F.broadcast(m_row))
            .select(
                F.lit(r).cast("bigint").alias("round"),
                "community",
                "n_members",
                F.coalesce("e_in", F.lit(0).cast("bigint")).alias("e_in"),
                "d_tot",
                (
                    F.coalesce("e_in", F.lit(0)).cast("double") / md
                    - (dt / (F.lit(2.0) * md)) * (dt / (F.lit(2.0) * md))
                ).alias("q_term"),
            )
        )
        out = part if out is None else out.unionAll(part)
    return out


@register(
    "graph_degree_assortativity",
    oracle="""
WITH raw AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
), e AS (SELECT 2 * c AS a, 2 * s + 1 AS b FROM raw),
sym AS (
  SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e
), deg AS (
  SELECT u AS id, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u
), xy AS (
  SELECT du.d AS x, dv.d AS y
  FROM sym JOIN deg du ON sym.u = du.id JOIN deg dv ON sym.v = dv.id
), sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sx2,
         CAST(SUM(y * y) AS BIGINT) AS sy2
  FROM xy
)
SELECT n, sx, sy, sxy, sx2, sy2,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / (sqrt(CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          * sqrt(CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         AS assortativity
FROM sums
""",
    description="Degree assortativity (Newman r) of the customer-"
    "supplier graph — the web-graph mixing diagnostic (real web graphs "
    "are disassortative: hubs link to leaves; a positive r on a crawl "
    "slice usually means mirror farms). Both edge orientations enter "
    "the Pearson correlation of endpoint degrees, as the standard "
    "estimator requires. Every aggregate is an EXACT integer sum "
    "(degree products stay in int64 for deg^2 * E < 2^63 — wider "
    "graphs switch the sums to decimal(38,0)/HUGEINT, same algebra); "
    "r itself is computed ROW-LEVEL from the six exact scalars with "
    "IEEE-correct sqrt, so the double hashes identically cross-engine. "
    "Plan: one degree agg + two broadcast-able degree joins + one "
    "partial/final scalar agg — no window, no iteration",
    tags=("graph",),
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = co_order_raw(spark, sf_dir)
    e = raw.select((2 * F.col("c")).alias("a"), (2 * F.col("s") + 1).alias("b"))
    sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("id")).agg(
        F.count("*").cast("bigint").alias("d")
    )
    xy = (
        sym.join(deg.select(F.col("id").alias("iu"), F.col("d").alias("x")),
                 sym.u == F.col("iu"))
        .join(deg.select(F.col("id").alias("iv"), F.col("d").alias("y")),
              sym.v == F.col("iv"))
        .select("x", "y")
    )
    sums = xy.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sx2"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("sy2"),
    )
    n, sx, sy = F.col("n").cast("double"), F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sx2, sy2 = F.col("sxy").cast("double"), F.col("sx2").cast("double"), F.col("sy2").cast("double")
    return sums.select(
        "n", "sx", "sy", "sxy", "sx2", "sy2",
        (
            (n * sxy - sx * sy)
            / (F.sqrt(n * sx2 - sx * sx) * F.sqrt(n * sy2 - sy * sy))
        ).alias("assortativity"),
    )


#: Link-prediction parameters. Wedge centers with degree above the hub
#: cap are excluded from candidate generation: a hub of degree d emits
#: d*(d-1)/2 candidate pairs (quadratic — THE blow-up at 100 TB), and
#: common-neighbor evidence through a promiscuous hub is the weakest
#: signal anyway (same reasoning as the containment DF cap and the LSH
#: bucket cap: the hottest keys are the least informative). CN_MIN
#: keeps only pairs with at least 2 independent witnesses.
LP_HUB_CAP = 64
LP_CN_MIN = 2


@register(
    "graph_link_prediction",
    oracle="WITH " + _CO_ORDER_EDGE_CTE + f""",
sym AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
deg AS (SELECT u AS id, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY 1),
ctr AS (SELECT id FROM deg WHERE d <= {LP_HUB_CAP}),
w AS (SELECT s.u, s.v FROM sym s JOIN ctr ON s.u = ctr.id),
cand AS (
  SELECT m1.v AS u, m2.v AS v, CAST(COUNT(*) AS BIGINT) AS cn
  FROM w m1 JOIN w m2 ON m1.u = m2.u AND m1.v < m2.v
  GROUP BY 1, 2
),
nonedge AS (
  SELECT c.u, c.v, c.cn FROM cand c
  ANTI JOIN e ON c.u = e.a AND c.v = e.b
)
SELECT ne.u, ne.v, ne.cn, du.d AS deg_u, dv.d AS deg_v,
       ne.cn * 1.0 / (du.d + dv.d - ne.cn) AS jac
FROM nonedge ne
JOIN deg du ON ne.u = du.id
JOIN deg dv ON ne.v = dv.id
WHERE ne.cn >= {LP_CN_MIN}
""",
    description="Link prediction on the supplier co-order graph: "
    "common-neighbor count + neighbor-set Jaccard for every "
    "NON-adjacent pair with >= 2 shared neighbors (the triadic-closure "
    "candidates a recommender would rank). Wedge generation is the "
    "adjacency self-join keyed by the CENTER vertex, and centers are "
    "degree-capped (deg <= 64) BEFORE the join — a hub of degree d "
    "emits d^2/2 wedges, so the cap is what keeps candidate count "
    "~linear in edges at 100 TB (the same hot-key discipline as the "
    "LSH bucket cap; hub-mediated evidence is also the weakest "
    "signal). Existing edges leave via a broadcast-able anti-join; "
    "jac = cn/(deg_u + deg_v - cn) is one division of exact BIGINTs "
    "(no float folds). Oracle replays the identical cap + anti-join "
    "with DuckDB's joins",
    tags=("graph", "join", "llm"),
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _co_order_edges(spark, sf_dir).persist().transform(track_cache)
    sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("id")).agg(
        F.count("*").cast("bigint").alias("d")
    )
    # Hub cap on wedge CENTERS only: u/v endpoints keep full degrees
    # (the Jaccard denominator must see the true neighborhood size).
    ctr = deg.filter(F.col("d") <= LP_HUB_CAP).select("id")
    w = sym.join(ctr, sym.u == ctr.id).select("u", "v")
    cand = (
        w.alias("m1")
        .join(
            w.alias("m2"),
            (F.col("m1.u") == F.col("m2.u"))
            & (F.col("m1.v") < F.col("m2.v")),
        )
        .groupBy(F.col("m1.v").alias("u"), F.col("m2.v").alias("v"))
        .agg(F.count("*").cast("bigint").alias("cn"))
        .filter(F.col("cn") >= LP_CN_MIN)
    )
    nonedge = cand.join(
        e, (cand.u == e.a) & (cand.v == e.b), "left_anti"
    )
    du = deg.select(F.col("id").alias("iu"), F.col("d").alias("deg_u"))
    dv = deg.select(F.col("id").alias("iv"), F.col("d").alias("deg_v"))
    return (
        nonedge.join(du, nonedge.u == du.iu)
        .join(dv, nonedge.v == dv.iv)
        .select(
            "u",
            "v",
            "cn",
            "deg_u",
            "deg_v",
            (
                F.col("cn") * 1.0
                / (F.col("deg_u") + F.col("deg_v") - F.col("cn"))
            ).alias("jac"),
        )
    )
