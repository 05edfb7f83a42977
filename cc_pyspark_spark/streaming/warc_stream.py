"""Incremental WARC ingestion: a stream of manifest files.

A crawl publishes manifests (text files listing new archive files)
into a directory; `stream_warc_records` turns that into a streaming
records DataFrame — Structured Streaming's file source tracks which
manifests were already processed (checkpointed, exactly-once), and each
micro-batch parses only the newly listed archives through the same
Arrow-batched parser as the batch source.

This is the streaming analog of the reference's restartable
intermediate output (wat_extract_links.py:298-312): restart-safety
comes from the checkpoint instead of manual table bookkeeping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from cc_pyspark_spark.sources.warc import _manifest_records


def stream_warc_records(
    spark: SparkSession,
    manifest_dir: str,
    record_types: set[str] | None = None,
    parse_http: bool = True,
    with_payload: bool = True,
) -> DataFrame:
    """Streaming records DataFrame over the manifests published into
    `manifest_dir`, read by the batch source's `_manifest_records`: the
    same manifest rule, the same bounded record batches and the same
    skip semantics (a corrupt or missing archive is skipped, never fatal
    to the query)."""
    return _manifest_records(
        spark.readStream.format("text").load(manifest_dir),
        num_input_partitions=None,
        decode_payload_text=False,
        record_types=record_types,
        parse_http=parse_http,
        with_payload=with_payload,
    )
