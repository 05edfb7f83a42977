"""End-to-end crawl-analytics pipeline: one flow from raw archives to a
published web graph — manifest → records → page links → host links →
graph → gzip text + parquet sinks — exercising every seam between the
stages the unit tests cover individually.
"""

from __future__ import annotations

import gzip
import os

import pytest

from cc_pyspark_spark.jobs.pipelines import wat_extract_host_links
from cc_pyspark_spark.operators.graph import host_links_to_graph
from cc_pyspark_spark.sources.fixtures import generate_warc_corpus
from cc_pyspark_spark.sources.tables import write_table, write_text_gz
from cc_pyspark_spark.sources.warc import WarcMetrics, warc_records


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    return generate_warc_corpus(str(tmp_path_factory.mktemp("e2e-corpus")))


def test_crawl_to_graph_pipeline(spark, corpus, tmp_path):
    metrics = WarcMetrics(spark)
    # persist: the graph build runs several actions over the records —
    # without a cache each action would re-parse the archives (and
    # re-increment the accumulators; Spark counts per recompute).
    records = warc_records(
        spark, corpus["manifest"], num_input_partitions=4, metrics=metrics
    ).persist()
    records.count()  # materialize once; accumulators now final
    edges = wat_extract_host_links(records)
    vertices, int_edges = host_links_to_graph(edges, validate_host_names=True)

    vtxt = str(tmp_path / "vertices_txt")
    write_text_gz(vertices, vtxt)
    epq = str(tmp_path / "edges_parquet")
    write_table(int_edges, epq, fmt="parquet", compression="zstd")

    # sinks are readable and mutually consistent
    names = {}
    for p in os.listdir(vtxt):
        if p.endswith(".txt.gz"):
            with gzip.open(os.path.join(vtxt, p), "rt") as fh:
                for ln in fh:
                    name, vid = ln.rsplit("\t", 1)
                    names[int(vid)] = name
    e = spark.read.parquet(epq).collect()
    assert names and e
    assert all(r["s"] in names and r["t"] in names for r in e)
    assert all(r["s"] != r["t"] for r in e)
    # validated: every vertex TLD label is from the whitelist
    assert all(n.split(".")[0] in {"com", "org", "net", "de"} for n in names.values())
    # accumulators saw every archive in the manifest
    assert metrics.log()["files_processed"] == len(corpus["files"])
    assert metrics.log()["files_failed"] == 0


def test_warc_to_documents_bridge(spark, corpus):
    """Crawl → documents-table bridge: every HTML response becomes one
    gated, scored row with dense 1..N doc_ids; lang/quality columns
    agree with the registry operators' logic on the same text."""
    from pyspark.sql import functions as F

    from cc_pyspark_spark.jobs.pipelines import warc_to_documents
    from cc_pyspark_spark.plans.text import lang_id_col, quality_ok_col
    from cc_pyspark_spark.sources.warc import warc_records

    recs = warc_records(
        spark, corpus["files"], num_input_partitions=2, decode_payload_text=True
    )
    docs = warc_to_documents(recs, min_tokens=1)
    rows = docs.collect()
    assert rows, "fixture corpus produced no documents?"
    assert sorted(r["doc_id"] for r in rows) == list(range(1, len(rows) + 1))
    assert {r["lang"] for r in rows} <= {"en", "es", "de", "fr", "zh"}
    assert all(r["n_chars"] == len(r["text"]) for r in rows)
    # recompute the gates over the produced text: must agree exactly
    re_scored = docs.select(
        "doc_id",
        (lang_id_col("text") == F.col("lang")).alias("lang_same"),
        (quality_ok_col("text") == F.col("quality_ok")).alias("q_same"),
    ).collect()
    assert all(r["lang_same"] and r["q_same"] for r in re_scored)
    # min_tokens gate actually gates
    assert warc_to_documents(recs, min_tokens=10_000).count() == 0


def test_warc_to_documents_keeps_html_without_content_type(spark, tmp_path):
    """Responses with HTTP headers but no Content-Type: the one known as
    HTML by WARC-Identified-Payload-Type becomes a document (charset '',
    the decode chain runs), the other is not HTML and is dropped. A JVM
    `[0]` / `element_at(.., 1)` lookup of the header fails such a task
    with INVALID_ARRAY_INDEX under ANSI mode."""
    from cc_pyspark_spark.jobs.pipelines import warc_to_documents
    from cc_pyspark_spark.sources.warcio_lite import WarcWriter, http_response_block

    path = tmp_path / "no-content-type.warc.gz"
    body = "<html><body>una página sin cabecera de tipo</body></html>"
    with open(path, "wb") as fh:
        w = WarcWriter(fh, gzip_members=True)
        for uri, identified in (("http://no-ct.test/", "text/html"),
                                ("http://no-ct.test/unknown", None)):
            w.write_record(
                "response",
                http_response_block(body.encode("latin-1"), headers=[("Server", "x")]),
                target_uri=uri,
                content_type="application/http; msgtype=response",
                identified_payload_type=identified,
            )
    recs = warc_records(
        spark, [str(path)], num_input_partitions=1, decode_payload_text=True
    )
    rows = warc_to_documents(recs, min_tokens=1).select("url", "text").collect()
    assert [tuple(r) for r in rows] == [
        ("http://no-ct.test/", "una página sin cabecera de tipo")
    ]
