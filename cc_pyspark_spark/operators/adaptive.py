"""One mechanism for the engine's iterative loops: a shuffle scope, a
round driver, and an input lineage cut. The round driver runs the graph
operators (operators/pagerank.py, operators/community.py) and the
plan-level loops that cut their state: k-center
(``plans/similarity.kcenter_coreset_frame``) and the sparse classifier
trainer (``plans/text.classifier_train_sparse_frame``).

Scope -- :func:`loop_shuffle`. Each graph operator wraps its setup
caches and its loop in this context manager. Inside it
``spark.sql.shuffle.partitions`` is derived from the measured row count
of the loop frame (~LOOP_TARGET_BYTES of fixed-width row data per
partition, floor 1, capped at the session's configured count, so a
frame big enough to fill the configured partitions plans exactly as
without the scope), and AQE is off unless the operator passes
``aqe="on"``. The reasons, measured at sf0.1 (OPTIMIZATION_r15.md §11):

* the loops cache their adjacency pre-partitioned on the per-round join
  key, and AQE does not coalesce an exchange whose sibling is an
  InMemoryTableScan or a checkpoint's LogicalRDD, so without the
  derived count every loop stage ran at the configured 32 partitions of
  ~100 KB each (pagerank_converged 9.41 -> ~4.2 s, graph_pagerank 5.04
  -> ~2.8 s with it);
* with AQE on, every lazy ``localCheckpoint`` materialises its span
  stage by stage just to create its RDD (~0.9 s vs ~0.13 s per
  pagerank_converged probe span), and a checkpoint loses its
  outputPartitioning, so the next round re-exchanges it (graph_pagerank
  0.72x, wat_host_pagerank 0.81x, graph_lpa_converged 0.82x);
* loops whose join side shrinks every round (k-core's alive set, BFS
  frontiers) keep AQE: its runtime sort-merge -> broadcast switch is
  worth more there (graph_kcore 1.19x, graph_kcore_converged 1.16x
  slower with AQE off).

The conf is read at physical planning, that is at each action. A loop
that runs no action of its own executes its whole plan at the caller's
action, after the scope is restored, so such a loop takes no scope:
caches built at the smaller count would add one exchange per round
against a state frame regrouped at the configured count. The scope
mutates session conf, so it assumes one planning thread per session.

Rounds -- :func:`iterate`. The driver runs an operator's round step
and owns the round count, the checkpoint cadence and kind, the probe
schedule and the guard. A round is checkpointed every ``every`` rounds:

* lazily (``eager=False``) when a stop probe follows, because the
  probe's action materialises the checkpoint in the same job (an eager
  one ran a second job for the same bytes);
* eagerly otherwise: a lazy checkpoint with no action behind it is
  computed by whichever later stage reads it first, and a plan that
  reads the state several times computes its partitions concurrently
  from parallel stages (measured slower on wat_host_pagerank,
  graph_cc_alternating and graph_kcore).

A converged loop probes every ``every`` rounds and on its last round,
and raises ``RuntimeError`` when the guard runs out instead of
returning a state that has not settled. Results are bit-identical
under any cadence and partition count: every loop state is integer or
fixed-point, and its aggregates are associative.

The loop state is cut only here. A step may cut a side frame that its
own round reads twice (hits_converged's auth frame, lazily; the sparse
trainer's gradient table, eagerly), but it cuts no state of its own.
Two loops stay written out:

* ``hits_fixed``: its lazy cuts, with no action of its own, measured
  faster than the eager cuts ``iterate`` makes when there is no probe
  (OPTIMIZATION_r15.md §10: graph_hits 1.91 -> 1.63/1.80 s);
* ``text_bpe_train``: its loop state (the vocab) is persisted, not cut,
  so it can be recomputed after eviction; its per-round cut is the
  1-row argmax side frame.

Lineage -- :func:`truncate_lineage` cuts a large caller lineage off an
edge input before an operator derives several frames from it.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable, Iterator, Optional, Tuple, Union

from pyspark.sql import DataFrame, SparkSession

from cc_pyspark_spark.caching import track_cache

#: Fixed-width loop-frame bytes per shuffle partition before the cap.
#: Small on purpose: loop stages are latency-bound (every round is a
#: barrier), and per-partition scheduling overhead stops paying for
#: itself well below the 100 MB-1 GB target for throughput-bound
#: stages.
LOOP_TARGET_BYTES = 4 << 20

#: A loop state: one frame, or a tuple of frames checkpointed together.
State = Union[DataFrame, Tuple[DataFrame, ...]]


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
    """Scope ``spark.sql.shuffle.partitions`` to :func:`loop_partitions`
    and, with ``aqe="off"`` (the default), disable AQE; ``aqe="on"``
    leaves it as the session has it. ``aqe`` is case-insensitive and
    anything but on/off raises ValueError before the conf is touched.
    The caller's values are restored on every exit path."""
    mode = aqe.strip().lower()
    if mode not in ("on", "off"):
        raise ValueError(f"loop AQE mode must be 'on' or 'off', got {aqe!r}")
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


def _checkpoint(state: State, eager: bool) -> State:
    if isinstance(state, DataFrame):
        return state.localCheckpoint(eager=eager)
    return tuple(f.localCheckpoint(eager=eager) for f in state)


def iterate(
    step: Callable[[State], State],
    state: State,
    rounds: int,
    every: int = 1,
    stop: Optional[Callable[[State, State], Optional[DataFrame]]] = None,
    guard: str = "no fixed point",
) -> State:
    """Run up to ``rounds`` rounds of ``step`` from ``state``, a frame
    or a tuple of frames (each one checkpointed, in order).

    Without ``stop`` the loop runs every round, checkpoints eagerly
    every ``every`` rounds and returns the last state. With it, rounds
    ``every``, ``2*every``, ... and the last one are probed:
    ``stop(new, old)`` gets the round's lazily checkpointed state and
    the previous round's state, and returns the loop's result or None
    to go on; when no probe returns a result, the loop raises
    ``RuntimeError("<guard> after <rounds> rounds")``."""
    for i in range(1, rounds + 1):
        new = step(state)
        probe = stop is not None and (i % every == 0 or i == rounds)
        if probe or i % every == 0:
            new = _checkpoint(new, eager=not probe)
        if probe:
            result = stop(new, state)
            if result is not None:
                return result
        state = new
    if stop is not None:
        raise RuntimeError(f"{guard} after {rounds} rounds")
    return state


def truncate_lineage(edges: DataFrame) -> DataFrame:
    """Persist + eager ``localCheckpoint`` of an operator's edge input
    whose caller lineage is large (an LSH pair pipeline, a WAT parse).

    Every plan built downstream re-analyses the full lineage of every
    frame it reads; for those callers that analysis alone measured
    6.5 s to materialise 81 edges and 5 s per convergence probe at
    sf0.1. The checkpoint replaces the lineage with a LogicalRDD; the
    plan-keyed persist underneath keeps the computed edges warm across
    rebuilt identical pipelines (a checkpoint alone re-ran the caller's
    pipeline per rebuild: wat_host_pagerank 5.5 -> 7.7 s).

    Not for small co-order inputs: a LogicalRDD is identity-keyed, so
    caches derived from it miss the CacheManager on every rebuilt
    pipeline (pagerank_converged measured 12 -> 17 s warm)."""
    return edges.persist().transform(track_cache).localCheckpoint(eager=True)
