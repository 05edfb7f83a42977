"""Incremental WARC ingestion: only newly published manifests are parsed."""

from __future__ import annotations

import os

import pytest

from cc_pyspark_spark.sources.fixtures import generate_warc_corpus
from cc_pyspark_spark.sources.warcio_lite import iter_warc_records
from cc_pyspark_spark.streaming.warc_stream import stream_warc_records


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    out = tmp_path_factory.mktemp("stream-corpus")
    return generate_warc_corpus(str(out))


def _drain_to_parquet(spark, manifest_dir, ckpt, out_dir):
    stream = stream_warc_records(spark, manifest_dir, record_types={"response"})
    q = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_incremental_manifest_processing(spark, corpus, tmp_path):
    mdir = tmp_path / "manifests"
    mdir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "records")

    warcs = [f for f in corpus["files"] if f.endswith(".warc.gz")
             and "robotstxt" not in f]
    (mdir / "m1.txt").write_text("\n".join(warcs[:2]) + "\n")
    _drain_to_parquet(spark, str(mdir), ckpt, out)
    first = spark.read.parquet(out)
    n1 = first.count()
    assert n1 > 0
    assert set(
        r[0] for r in first.select("warc_filename").distinct().collect()
    ) == set(warcs[:2])

    # publish a second manifest → only its files are newly processed
    (mdir / "m2.txt").write_text("\n".join(warcs[2:]) + "\n")
    _drain_to_parquet(spark, str(mdir), ckpt, out)
    both = spark.read.parquet(out)
    assert set(
        r[0] for r in both.select("warc_filename").distinct().collect()
    ) == set(warcs)
    # no duplicates: file count equals per-file record sums exactly
    per_file = dict(both.groupBy("warc_filename").count().collect())
    assert all(v > 0 for v in per_file.values())
    assert both.count() == both.dropDuplicates(
        ["warc_filename", "warc_record_offset"]
    ).count()


def test_corrupt_archives_do_not_fail_the_stream(spark, corpus, tmp_path):
    """A manifest listing a good archive next to corrupt ones: the
    corrupt files are skipped, as in the batch source, and the query
    finishes with exactly the good archive's records."""
    good = corpus["files"][0]
    bad_gzip = tmp_path / "bad.warc.gz"
    bad_gzip.write_bytes(b"\x1f\x8b" + b"\x00garbage-not-a-gzip-stream")
    bad_len = tmp_path / "badlen.warc"
    bad_len.write_bytes(
        b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: NaN\r\n\r\n"
    )
    mdir = tmp_path / "manifests"
    mdir.mkdir()
    (mdir / "m1.txt").write_text(f"{good}\n{bad_gzip}\n{bad_len}\n")
    out = str(tmp_path / "records")
    _drain_to_parquet(spark, str(mdir), str(tmp_path / "ckpt"), out)

    got = sorted(
        (r["warc_filename"], r["warc_record_offset"], r["target_uri"], bytes(r["payload"]))
        for r in spark.read.parquet(out).collect()
    )
    with open(good, "rb") as f:
        want = sorted(
            (good, rec.offset, rec.target_uri, bytes(rec.payload))
            for rec in iter_warc_records(f, record_types={"response"})
        )
    assert got and got == want
