"""Tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import copy
import gzip
import json
import os
import sys
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

harness.require_engine()

import corpus  # noqa: E402
import workloads  # noqa: E402
from checks import digest, read_parquet_dir  # noqa: E402
from tables import generate_tables  # noqa: E402


def _archive_bytes(out_dir: str, seed: int) -> list[bytes]:
    c = corpus.generate_corpus(out_dir, seed)
    return [open(f, "rb").read() for f in c["files"]]


def test_corpus_same_seed_same_bytes(tmp_path):
    a = _archive_bytes(str(tmp_path / "a"), 5)
    b = _archive_bytes(str(tmp_path / "b"), 5)
    c = _archive_bytes(str(tmp_path / "c"), 6)
    assert len(a) == corpus.ARCHIVES
    assert a == b
    assert all(x != y for x, y in zip(a, c))


def test_corpus_plants_duplicates_and_drops(tmp_path):
    c = corpus.generate_corpus(str(tmp_path), 5)
    exp = corpus.expected_outputs(c["docs"])
    n = corpus.ARCHIVES * corpus.RESPONSES
    assert 0.8 * n < len(exp["docs"]) < n  # redirects and non-HTML dropped
    assert len(exp["exported"]) < len(exp["docs"])  # exact duplicates
    merged = sum(1 for i, k in exp["survivors"].items() if i != k)
    assert merged > len(exp["docs"]) - len(exp["exported"])  # near duplicates too


def test_tables_fixed_content(tmp_path):
    generate_tables(str(tmp_path / "a"), 0.001)
    generate_tables(str(tmp_path / "b"), 0.001)
    for f in sorted(os.listdir(tmp_path / "a")):
        assert pq.read_table(tmp_path / "a" / f).equals(pq.read_table(tmp_path / "b" / f))


def test_digest_is_reader_independent(tmp_path):
    df = pd.DataFrame({
        "b": [2.5, None, 1.0],
        "a": [[1, 2], [3], []],
        "t": pd.to_datetime(["2024-01-01", "2024-01-02", None]),
    })
    pq.write_table(
        pa.table({
            "a": pa.array([[1, 2], [3], []]),
            "b": [2.5, None, 1.0],
            "t": pa.array(df["t"]).cast(pa.timestamp("ms", tz="UTC")),
        }),
        tmp_path / "part.parquet",
    )
    assert digest(read_parquet_dir(str(tmp_path))) == digest(df.iloc[::-1])
    assert digest(df) != digest(df.assign(b=[2.5, None, 1.5]))


class _FakeWriter:
    def __init__(self, frame):
        self.frame = frame

    def parquet(self, path):
        os.makedirs(path)
        pq.write_table(pa.Table.from_pandas(self.frame), f"{path}/part-0.parquet")


class _FakeFrame:
    def __init__(self, frame):
        self.write = _FakeWriter(frame)


class _NoStorage:
    peak_mb = 0.0

    def __init__(self, spark):
        pass

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        pass


class _FakeStorage:
    """A SparkSession stand-in whose RDD storage the test sets."""

    def __init__(self):
        self.bytes = 0
        info = type("Info", (), {"memSize": lambda _: self.bytes, "diskSize": lambda _: 0})()
        sc = type("SC", (), {"getRDDStorageInfo": lambda _: [info]})()
        jsc = type("JSC", (), {"sc": lambda _: sc})()
        self.sparkContext = type("Ctx", (), {"_jsc": jsc})()


def test_storage_peak_sees_caches_released_inside_the_op():
    spark = _FakeStorage()
    with harness.StoragePeak(spark, interval=0.005) as storage:
        spark.bytes = 5_000_000  # the op caches ...
        time.sleep(0.1)
        spark.bytes = 0  # ... and releases before it returns
    assert storage.peak_mb == 5.0


@pytest.mark.parametrize("corrupt", [False, True])
def test_query_pass_counts_corrupted_output(tmp_path, monkeypatch, corrupt):
    good = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    bad = good.assign(v=[0.5, 1.5, 2.0])
    monkeypatch.setattr(workloads, "OPS", ["q"])
    monkeypatch.setitem(workloads.DIGESTS, "q", digest(good))
    monkeypatch.setattr(
        harness, "build", lambda spark, name, sf: _FakeFrame(bad if corrupt else good)
    )
    monkeypatch.setattr(harness, "release", lambda spark: (0, 0))
    monkeypatch.setattr(harness, "StoragePeak", _NoStorage)
    box = harness.Sandbox()
    try:
        wl = workloads.QueryWorkload("query_mix", box, seed=1)
        (op,) = wl.run_pass(spark=None).ops
    finally:
        box.__exit__(None, None, None)
    assert op[0] == "q" and op[2] is (not corrupt)


def _write_outputs(tmp_path, exp) -> dict[str, str]:
    """The three jobs' outputs, as the engine writes them, from ``exp``."""
    outs = {job: str(tmp_path / job) for job in workloads.CRAWL_JOBS}
    for d in outs.values():
        os.makedirs(d)
    docs = sorted(exp["docs"].items())
    pq.write_table(pa.table({
        "doc_id": [i for i, _ in docs],
        "url": [u for _, (u, _) in docs],
        "text": [t for _, (_, t) in docs],
    }), f"{outs['warc_to_documents']}/part-0.parquet")
    surv = sorted(exp["survivors"].items())
    pq.write_table(pa.table({
        "doc_id": [i for i, _ in surv],
        "keep_id": [k for _, k in surv],
    }), f"{outs['dedup_documents']}/part-0.parquet")
    with gzip.open(f"{outs['export_training_jsonl']}/part-0.json.gz", "wt") as fh:
        for i, t in sorted(exp["exported"].items()):
            fh.write(json.dumps({"doc_id": i, "text": t}) + "\n")
    return outs


@pytest.mark.parametrize("corrupt", [None, "docs", "survivors", "exported"])
def test_crawl_check_counts_corrupted_output(tmp_path, corrupt):
    wl = workloads.CrawlWorkload("crawl_to_shards", box=None, seed=3)
    c = corpus.generate_corpus(str(tmp_path / "corpus"), 3)
    wl.corpus, wl.expected = c, corpus.expected_outputs(c["docs"])
    written = copy.deepcopy(wl.expected)
    if corrupt == "docs":
        i = min(written["docs"])
        written["docs"][i] = (written["docs"][i][0], written["docs"][i][1] + " x")
    elif corrupt == "survivors":
        i = max(written["survivors"])
        written["survivors"][i] = -1
    elif corrupt == "exported":
        written["exported"].pop(max(written["exported"]))
    outs = _write_outputs(tmp_path, written)
    reports = {"export_training_jsonl": {"exported_docs": len(written["exported"])}}
    ok = wl.check(outs, reports)
    job_of = {"docs": "warc_to_documents", "survivors": "dedup_documents",
              "exported": "export_training_jsonl"}
    assert ok == {job: job != job_of.get(corrupt) for job in workloads.CRAWL_JOBS}


def test_benchmark_json_matches_code():
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert set(workloads.OPS) == set(workloads.DIGESTS)
