"""Scale-adaptive loop partitioning (operators/adaptive.py, r15
optimization round): the derived count follows measured size with a
floor of 1 and a cap at the configured shuffle partitions; the scope
always restores the session conf; and operator RESULTS are invariant
to the derived count (the loops are integer-state algorithms)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import cc_pyspark_spark.operators.adaptive as adaptive
from cc_pyspark_spark.operators.adaptive import (
    iterate,
    loop_partitions,
    loop_shuffle,
)


def test_loop_partitions_floor_cap_and_scaling(spark):
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # tiny frame -> 1 partition
    assert loop_partitions(spark, 1, n_cols=2) == 1
    assert loop_partitions(spark, 0, n_cols=2) == 1
    # big frame -> capped at the configured count (cluster knob wins)
    assert loop_partitions(spark, 10**12, n_cols=2) == cap
    # in between: proportional to rows x row bytes
    rows_per_part = adaptive.LOOP_TARGET_BYTES // (8 * 2 + 8)
    if cap >= 3:
        assert loop_partitions(spark, 3 * rows_per_part, n_cols=2) in (3, 4)
    # wider rows -> more partitions for the same row count
    assert loop_partitions(spark, 10**12, n_cols=3) == cap


def test_loop_shuffle_sets_and_restores(spark):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with loop_shuffle(spark, 1, n_cols=2) as n:
        assert n == 1
        assert spark.conf.get(key) == "1"
    assert spark.conf.get(key) == before
    # restored on exception too
    with pytest.raises(RuntimeError):
        with loop_shuffle(spark, 1, n_cols=2):
            raise RuntimeError("boom")
    assert spark.conf.get(key) == before


def test_loop_shuffle_aqe_scope(spark):
    """r16: aqe="off" (default) disables AQE inside the scope and
    restores it; aqe="on" keeps it."""
    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    with loop_shuffle(spark, 1, n_cols=2):
        assert spark.conf.get(key) == "false"
    assert spark.conf.get(key) == before
    with loop_shuffle(spark, 1, n_cols=2, aqe="on"):
        assert spark.conf.get(key) == before
    assert spark.conf.get(key) == before


def test_loop_shuffle_aqe_mode_is_case_normalised_and_validated(spark):
    key = "spark.sql.adaptive.enabled"
    shuffle_key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    before_shuffle = spark.conf.get(shuffle_key)
    with loop_shuffle(spark, 1, n_cols=2, aqe=" ON "):
        assert spark.conf.get(key) == before
    with loop_shuffle(spark, 1, n_cols=2, aqe="Off"):
        assert spark.conf.get(key) == "false"
    assert spark.conf.get(key) == before
    # anything else fails loudly, before the session conf is touched
    for bad in ("auto", "true", "1", ""):
        with pytest.raises(ValueError, match="'on' or 'off'"):
            with loop_shuffle(spark, 1, n_cols=2, aqe=bad):
                pass
    assert spark.conf.get(key) == before
    assert spark.conf.get(shuffle_key) == before_shuffle


def test_loop_shuffle_restores_when_entering_the_scope_fails(spark):
    """A conf.set that fails while the scope is entered must not leak
    the overrides already applied."""
    key = "spark.sql.shuffle.partitions"
    aqe_key = "spark.sql.adaptive.enabled"

    class _FailingAqeConf:
        def __init__(self, conf):
            self._conf = conf

        def get(self, k):
            return self._conf.get(k)

        def set(self, k, v):
            if k == aqe_key and v == "false":
                raise RuntimeError("conf rejected")
            self._conf.set(k, v)

    class _Session:
        conf = _FailingAqeConf(spark.conf)

    before = spark.conf.get(key)
    before_aqe = spark.conf.get(aqe_key)
    with pytest.raises(RuntimeError, match="conf rejected"):
        with loop_shuffle(_Session(), 1, n_cols=2):
            pass
    assert spark.conf.get(key) == before
    assert spark.conf.get(aqe_key) == before_aqe


def test_loop_operators_invariant_to_derived_count(spark, monkeypatch):
    """Same labels/ranks whether the derivation lands at 1 partition or
    at the conf cap — the adaptive count must never change results
    (everything in the loops is associative integer arithmetic)."""
    from cc_pyspark_spark.operators.community import lpa_converged
    from cc_pyspark_spark.operators.pagerank import (
        connected_components,
        pagerank_fixed,
    )

    edges_st = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 5), (6, 6 + 0)], "s long, t long"
    ).filter("s != t or s = 6")
    edges_ab = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "a long, b long"
    )

    def run_all():
        cc = sorted(
            (r.id, r.component)
            for r in connected_components(edges_st).collect()
        )
        pr = sorted(
            (r.id, r.r) for r in pagerank_fixed(edges_st, n_iter=4).collect()
        )
        lpa = sorted(
            (r.id, r.community) for r in lpa_converged(edges_ab).collect()
        )
        return cc, pr, lpa

    monkeypatch.setattr(adaptive, "LOOP_TARGET_BYTES", 1)  # derive cap
    at_cap = run_all()
    from cc_pyspark_spark.caching import release_caches

    release_caches()
    monkeypatch.setattr(adaptive, "LOOP_TARGET_BYTES", 1 << 30)  # derive 1
    at_one = run_all()
    assert at_cap == at_one


class _Frame:
    """Stands in for a loop-state frame; records its checkpoint kind."""

    def __init__(self, n, kind=None):
        self.n, self.kind = n, kind

    def localCheckpoint(self, eager=True):
        return _Frame(self.n, "eager" if eager else "lazy")


def test_iterate_checkpoint_schedule_probes_and_guard():
    """The driver's rule: eager checkpoints every `every` rounds in a
    fixed loop; in a converged loop the probed rounds (every `every`-th
    and the last) are checkpointed lazily, the probe sees the previous
    round's state, and running out of rounds raises."""
    seen = []

    def step(state):
        seen.append(state[0].kind)  # how the previous round was cut
        return (_Frame(state[0].n + 1),)

    out = iterate(step, (_Frame(0),), 6, every=4)
    assert seen[1:] == [None, None, None, "eager", None]
    assert (out[0].n, out[0].kind) == (6, None)

    seen.clear()
    probes = []

    def never(new, old):
        probes.append((new[0].n, new[0].kind, old[0].n))

    with pytest.raises(RuntimeError, match="^nope after 5 rounds$"):
        iterate(step, (_Frame(0),), 5, every=2, stop=never, guard="nope")
    assert probes == [(2, "lazy", 1), (4, "lazy", 3), (5, "lazy", 4)]
    assert seen[1:] == [None, "lazy", None, "lazy"]

    def at_three(new, old):
        return "result" if new[0].n == 3 else None

    assert iterate(step, (_Frame(0),), 9, stop=at_three) == "result"
