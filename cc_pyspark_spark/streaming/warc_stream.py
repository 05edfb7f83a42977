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

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cc_pyspark_spark.sources.warc import WARC_RECORD_SCHEMA, _parse_paths


def stream_warc_records(
    spark: SparkSession,
    manifest_dir: str,
    record_types: set[str] | None = None,
    parse_http: bool = True,
    with_payload: bool = True,
) -> DataFrame:
    """Streaming records DataFrame over the manifests published into
    `manifest_dir`, parsed by the batch source's `_parse_paths`: the
    same bounded record batches and the same skip semantics (a corrupt
    or missing archive is skipped, never fatal to the query)."""
    paths = (
        spark.readStream.format("text")
        .load(manifest_dir)
        .select(F.trim("value").alias("path"))
        .filter(F.col("path") != "")
    )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield from _parse_paths(
                pdf["path"],
                record_types=record_types,
                parse_http=parse_http,
                with_payload=with_payload,
            )

    return paths.mapInPandas(parse, WARC_RECORD_SCHEMA)
