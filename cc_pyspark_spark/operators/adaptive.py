"""Scale-adaptive shuffle-partition counts for iterative loops (r15
optimization round; guide §2.2 "fewer, larger reduce partitions", and
the round brief's "make partitioning scale-adaptive (AQE coalescing /
derive from input size) rather than a constant tuned for either local
mode or the cluster").

Why AQE cannot do this here: the iterative operators persist their
adjacency frames pre-partitioned on the per-round join key
(InMemoryRelation keeps outputPartitioning), so every per-round
exchange must co-partition with a CACHED side — and AQE's partition
coalescing does not apply to an exchange whose sibling is an
InMemoryTableScan rather than another shuffle query stage. The cache's
partition count therefore pins the whole loop at
``spark.sql.shuffle.partitions`` (32 in the bench profile) regardless
of frame size. At sf0.1 the loop frames are a few MB, so a
convergence loop pays ~32 task launches per stage per round for
partitions of ~100 KB — measured as a ~0.3 s/stage scheduling floor
(OPTIMIZATION_r15.md §11) that dominated pagerank_converged.

The fix: derive the loop's partition count from the frame's MEASURED
row count (every operator counts its edge frame anyway, or reads a
frame that is persisted/checkpointed so the count is a cache scan),
at ~LOOP_TARGET_BYTES of fixed-width row data per partition, CAPPED at
the session's configured ``spark.sql.shuffle.partitions``. The cap
means behavior at scale is unchanged: any frame large enough to fill
the configured partitions with >= LOOP_TARGET_BYTES each (sf1 already
is) plans exactly as before, and a cluster job's own
shuffle-partition setting stays in charge upward. Only genuinely
small loop frames shrink — which is the scale-adaptivity the brief
asks for, not a constant tuned to local[32]. Measured at sf0.1
(idle-host isolated A/B, conf 32 vs derived ~7): pagerank_converged
9.41 -> ~4.2 s, graph_pagerank 5.04 -> ~2.8 s.

The override is applied with :func:`loop_shuffle`, a context manager
scoped to the operator's loop, because ``spark.sql.shuffle.partitions``
is read at PHYSICAL PLANNING time — i.e. at each internal action
(cache-materializing count, eager localCheckpoint, convergence probe).
Operators whose loops run no internal action (hits_fixed, the plain
fixed-round label_propagation path) execute their whole plan at the
caller's action, AFTER the override is restored — for those, shrinking
only the caches would ADD one exchange per round (the label frame,
partitioned by the conf-count aggregation, would no longer co-partition
with the smaller cache), so they deliberately do not use this helper
unless they materialize each round inside the scope.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import SparkSession

#: Fixed-width loop-frame bytes per shuffle partition before the cap.
#: Small on purpose: loop stages are latency-bound (every round is a
#: barrier), and per-partition scheduling overhead stops paying for
#: itself well below the 100 MB-1 GB guide target for throughput-bound
#: stages. Env-overridable for cluster profiles; clamped to >= 1 so a
#: zero/negative override fails soft instead of ZeroDivisionError-ing
#: every iterative operator (ADVICE r15).
LOOP_TARGET_BYTES = max(
    1, int(os.environ.get("SPARK_GRAFT_LOOP_TARGET_BYTES", str(4 << 20)))
)


def loop_partitions(spark: SparkSession, n_rows: int, n_cols: int = 2) -> int:
    """Partition count for an iterative loop over a frame of ``n_rows``
    measured rows of ``n_cols`` fixed-width columns: enough partitions
    that each holds ~LOOP_TARGET_BYTES of row data, floored at 1 and
    capped at the session's configured shuffle partitions (the
    cluster-scale knob stays in charge upward)."""
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    row_bytes = 8 * n_cols + 8  # 8 B/fixed-width col + tungsten row overhead
    n = (max(int(n_rows), 1) * row_bytes + LOOP_TARGET_BYTES - 1) // (
        LOOP_TARGET_BYTES
    )
    return max(1, min(int(n), cap))


@contextmanager
def loop_shuffle(
    spark: SparkSession, n_rows: int, n_cols: int = 2, aqe: str = "off"
) -> Iterator[int]:
    """Scope ``spark.sql.shuffle.partitions`` to
    :func:`loop_partitions` for the duration of an iterative loop's
    internal actions; always restores the caller's value (the bench /
    driver contract keeps the session default at the core count).

    ``aqe="off"`` (the default) ALSO disables AQE inside the scope
    (r16 optimization round). Rationale, measured not assumed: inside
    the pre-partitioned-cache loops AQE's levers are inert — partition
    coalescing does not apply to an exchange whose join sibling is an
    InMemoryTableScan (the r15 finding that motivated the derived
    count) or a LogicalRDD checkpoint, and skew-join splitting likewise
    requires both sides to be shuffle query stages — while AQE's
    per-stage re-planning makes EVERY ``localCheckpoint(eager=False)``
    materialise the whole probe span stage-by-stage just to create its
    RDD (measured ~0.9 s per pagerank_converged probe span at sf0.1;
    ~0.13 s with AQE off, the probe collect then executing the span in
    one job). AQE off additionally lets a checkpoint's LogicalRDD keep
    the physical plan's outputPartitioning, so post-checkpoint rounds
    and probe joins stop re-exchanging state frames. Interleaved
    same-session A/B at sf0.1: graph_pagerank 0.72x, wat_host_pagerank
    0.81x, graph_lpa_converged 0.82x, graph_modularity 0.94x,
    pagerank_converged 0.95x, CC family 0.95-1.01x.

    ``aqe="on"`` keeps AQE for loops whose per-round join sides SHRINK
    (k-core peeling's alive set, BFS frontiers): there AQE's runtime
    SMJ -> broadcast conversion is worth more than the checkpoint
    laziness — measured graph_kcore 1.19x / graph_kcore_converged
    1.16x WORSE with AQE off. AQE never changes results, only physical
    planning; the caller's session values are restored on exit either
    way. ``SPARK_GRAFT_LOOP_AQE`` overrides the parameter globally
    (the A/B probe knob; scripts/r16_ab_probe.py); both are
    case-insensitive, and any value other than on/off raises
    ValueError before the session conf is touched.

    Concurrency note (ADVICE r15): this mutates session-global conf
    keys, assuming single-threaded query planning per session — the
    bench/driver/runner contract today. A future threaded driver must
    plan concurrent queries on separate sessions (``newSession()``) or
    serialise planning around these scopes."""
    mode = os.environ.get("SPARK_GRAFT_LOOP_AQE", aqe).strip().lower()
    if mode not in ("on", "off"):
        raise ValueError(
            f"loop AQE mode must be 'on' or 'off', got {mode!r} "
            "(aqe= or SPARK_GRAFT_LOOP_AQE)"
        )
    key = "spark.sql.shuffle.partitions"
    aqe_key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key)
    old_aqe = spark.conf.get(aqe_key)
    n = loop_partitions(spark, n_rows, n_cols)
    try:
        spark.conf.set(key, str(n))
        if mode == "off":
            spark.conf.set(aqe_key, "false")
        yield n
    finally:
        spark.conf.set(key, old)
        spark.conf.set(aqe_key, old_aqe)
