"""Spark job counts of the iterative operators on small inputs.

The loops run through one round driver (operators/adaptive.py
``iterate``) whose checkpoint rule decides how many jobs a run
launches: an eager ``localCheckpoint`` is a job of its own, a lazy
one is materialised by the probe action that follows it. A wrong
kind or cadence leaves every result unchanged and shows only here.
The counts cover building the operator's frame and collecting it.
"""

from __future__ import annotations

import pytest

from cc_pyspark_spark.operators.community import (
    kcore,
    kcore_converged,
    label_propagation,
    label_propagation_history,
    lpa_converged,
)
from cc_pyspark_spark.operators.pagerank import (
    bfs_hops,
    cc_alternating,
    cc_alternating_converged,
    connected_components,
    hits_converged,
    hits_fixed,
    pagerank_converged,
    pagerank_fixed,
)
from cc_pyspark_spark.plans.similarity import kcenter_coreset_frame
from cc_pyspark_spark.plans.text import classifier_train_sparse_frame

SF_DIR = "/root/testdata/sf0.001"

#: Directed edges: a 3-cycle fed by two leaves, a path whose end (8)
#: has no out-edge (the dangling path of pagerank_fixed), a back-edge.
_ST = [(1, 2), (2, 3), (3, 1), (4, 3), (5, 1), (6, 7), (7, 8), (3, 6)]
#: Undirected canonical edges: two 4-cliques joined by a bridge plus a
#: pendant path that k-core peeling removes over several rounds.
_AB = [
    (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
    (4, 5), (4, 6), (4, 7), (5, 6), (5, 7), (6, 7),
    (3, 4), (7, 8), (8, 9), (9, 10),
]


def _st(spark):
    return spark.createDataFrame(_ST, "s long, t long")


def _sym(spark):
    return spark.createDataFrame(
        sorted(set(_ST) | {(t, s) for s, t in _ST}), "s long, t long"
    )


def _star(spark):
    # hits_converged reaches an integer rest state on this star
    return spark.createDataFrame(
        [(1, 9), (2, 9), (3, 9), (4, 9), (9, 1)], "s long, t long"
    )


def _ab(spark):
    return spark.createDataFrame(_AB, "a long, b long")


def _history(spark):
    frames = label_propagation_history(_ab(spark), 3)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionAll(f)
    return out


def _docs(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "def main(): return 0 if x else 1",
        "spark plans every round of an iterative loop again",
        "a b c d e f g a b c",
        "import os; print(os.getcwd())",
        "label propagation settles in a few rounds on small graphs",
    ]
    return spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )


#: name -> (frame builder, jobs launched at build + collect)
CASES = {
    "pagerank_fixed_dangling": (
        lambda s: pagerank_fixed(_st(s), n_iter=6), 24
    ),
    "pagerank_fixed_symmetric": (
        lambda s: pagerank_fixed(_sym(s), n_iter=6, assume_symmetric=True), 10
    ),
    "pagerank_converged": (
        lambda s: pagerank_converged(_st(s), tol_units=10**12), 112
    ),
    "connected_components": (
        lambda s: connected_components(_st(s), probe_every=2), 17
    ),
    "cc_alternating": (lambda s: cc_alternating(_st(s), rounds=3), 7),
    "cc_alternating_converged": (
        lambda s: cc_alternating_converged(_st(s)), 9
    ),
    "bfs_hops": (
        lambda s: bfs_hops(_st(s), s.createDataFrame([(1,)], "id long"), 4),
        17,
    ),
    "hits_fixed": (lambda s: hits_fixed(_st(s), rounds=3), 3),
    "hits_converged": (lambda s: hits_converged(_star(s)), 58),
    "label_propagation": (lambda s: label_propagation(_ab(s), rounds=6), 4),
    # round 4 is cut; the last round (8) is left to the collect
    "label_propagation_rounds_8": (
        lambda s: label_propagation(_ab(s), rounds=8), 4
    ),
    "label_propagation_history": (lambda s: _history(s), 8),
    "lpa_converged": (lambda s: lpa_converged(_ab(s)), 17),
    "kcore": (lambda s: kcore(_ab(s), k=2, rounds=4), 6),
    "kcore_converged": (lambda s: kcore_converged(_ab(s), k=2), 7),
    # 9 rounds: the center frame is cut at round 8
    "kcenter_coreset": (
        lambda s: kcenter_coreset_frame(
            s.read.parquet(f"{SF_DIR}/embeddings.parquet"), k=10
        ),
        15,
    ),
    "classifier_train_sparse": (
        lambda s: classifier_train_sparse_frame(s, _docs(s)), 28
    ),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_loop_operator_job_count(spark, name):
    """Counted with AQE off in the session (the aqe="on" loop scopes
    then leave it off): under AQE the number of query-stage jobs
    depends on which stage finishes first (bfs_hops and
    label_propagation were seen one job apart run to run), while the
    checkpoint rule this pins does not depend on AQE."""
    build, want = CASES[name]
    sc = spark.sparkContext
    key = "spark.sql.adaptive.enabled"
    aqe = spark.conf.get(key)
    # a job group of its own, so a job another thread launches in a
    # long shared session is not counted
    group = f"test_loop_jobs-{name}"
    sc.setJobGroup(group, name)
    spark.conf.set(key, "false")
    try:
        rows = build(spark).collect()
    finally:
        spark.conf.set(key, aqe)
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == want
