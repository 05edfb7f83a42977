"""bench.py's harness: one sampler times every row from the builder
call to the sink, settings are validated before any session starts,
and the final stdout line carries per-row medians within its limit."""

from __future__ import annotations

import json
import time

import pytest

import bench


def _sleepy_row(spark, sf_dir):
    time.sleep(0.2)
    return spark.range(1)


def test_sampler_counts_builder_time(spark, monkeypatch, tmp_path):
    # a builder that does its work while building (like an eager
    # checkpoint loop) must show up in the row, not only the sink
    monkeypatch.setitem(bench.EXTRA_OPS, "sleepy_row", _sleepy_row)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_ONLY", "sleepy_row")
    sf_dir, _, _, only = bench.settings()
    builder = bench.EXTRA_OPS[only[0]]
    total, build = bench._sample(spark, sf_dir, builder)
    assert total >= build >= 0.2
    row = bench.measure_row(spark, sf_dir, builder, 1)
    assert row["median"] >= 0.2
    assert row["build_sec"] >= 0.2
    assert row["cold_sec"] >= 0.2
    assert row["n_runs"] == 1


def _fail_session(**_kw):
    raise AssertionError("build_session reached")


def test_bench_rejects_unknown_only_name_before_session(monkeypatch, tmp_path):
    monkeypatch.setattr(bench, "build_session", _fail_session)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path))
    monkeypatch.setenv(
        "SPARK_GRAFT_ONLY", "tpch_q1_pricing_summary,tpch_q1_pricing_sumary"
    )
    with pytest.raises(SystemExit, match="tpch_q1_pricing_sumary"):
        bench.main()


@pytest.mark.parametrize(
    "var, value",
    [
        ("SPARK_GRAFT_CPUS", "0"),
        ("SPARK_GRAFT_CPUS", "eight"),
        ("SPARK_GRAFT_SF_DIR", "no/such/sf0.1"),
    ],
)
def test_bench_rejects_bad_settings_before_session(
    monkeypatch, tmp_path, var, value
):
    monkeypatch.setattr(bench, "build_session", _fail_session)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path))
    monkeypatch.setenv(var, value)
    with pytest.raises(SystemExit, match=f"{var}.*{value}"):
        bench.main()


def test_bench_only_accepts_any_registered_row_in_given_order(
    monkeypatch, tmp_path
):
    assert "graph_bfs_hops" not in bench.HEADLINERS
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path))
    monkeypatch.setenv(
        "SPARK_GRAFT_ONLY", "graph_bfs_hops, hits_converged,graph_bfs_hops"
    )
    sf_dir, cpus, n_runs, only = bench.settings()
    assert only == ["graph_bfs_hops", "hits_converged"]
    assert sf_dir == str(tmp_path)


def test_tail_line_fits_and_lists_slowest_rows():
    # worst-case widths: every median has four decimals and two digits
    timings = {
        n: round(10 + i * 0.0731, 4) for i, n in enumerate(bench.HEADLINERS)
    }
    head = {
        "metric": "total_headline_sec",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "sf": 0.1,
        "n_queries": len(timings),
        "host_factor": 1.2345,
        "host_factor_shuffle": 1.2345,
    }
    line = bench.tail_line(head, timings)
    assert len(line) <= bench.TAIL_LIMIT <= 1900
    rec = json.loads(line)
    assert rec["n_queries"] == len(bench.HEADLINERS) == 101
    assert rec["value"] == head["value"]
    shown = rec["queries"]
    assert len(shown) >= 40
    assert all(timings[n] == v for n, v in shown.items())
    left_out = set(timings) - set(shown)
    assert min(shown.values()) >= max(timings[n] for n in left_out)
    # a short suite fits whole
    few = dict(list(timings.items())[:3])
    assert json.loads(bench.tail_line(head, few))["queries"] == few
