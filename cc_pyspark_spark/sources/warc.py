"""WARC record source: manifest of file URIs → records DataFrame.

Spark-first re-expression of the reference's job skeleton
(sparkcc.py:212-217 `textFile → mapPartitionsWithIndex(process_warcs)`):
the *manifest* is the partitioned input (one task per archive file —
gzip WARC is non-splittable, so per-file parallelism is the scaling
knob, sparkcc.py:53), and parsing happens in Arrow-batched
`mapInPandas` workers instead of pickled RDD generators.

Downstream of `warc_records(...)` everything is ordinary DataFrame
algebra: record-type predicates (sparkcc.py:424-451) become `filter`
on the `record_type` column, HTML detection (sparkcc.py:453-466)
becomes a boolean expression over `identified_payload_type` /
`http_headers`, and each reference job is a select/explode/groupBy
pipeline (see jobs/).

Scale design: `record_types` / `parse_http` / `with_payload` are
pushed into the parser (the FastWARC parse-time filter, P10) so
request records and unused payload bytes never cross into Arrow.
`decode_payload_text` decodes response bodies in the same worker that
parses them (the reference's decode inside `process_record`,
sparkcc.py:381-410): a job that needs text then reads a `payload_text`
column, and its stage runs one Python node. A decode UDF over the
records frame would instead be copied by Catalyst into every filter
pushed below it — one more Python worker per task and one more decode
per payload for each copy. The records DataFrame arrives partitioned
by archive file, which is also the natural clustering for downstream
dedup (partition by `warc_filename`, no shuffle before the first
aggregation).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cc_pyspark_spark.functions.encoding import decode_bytes
from cc_pyspark_spark.sources.fetch import resolve
from cc_pyspark_spark.sources.warcio_lite import iter_warc_records, read_record_at

#: §1.4 record schema — one row per WARC/WAT/WET record.
WARC_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("warc_filename", T.StringType()),
        T.StructField("warc_record_offset", T.LongType()),
        T.StructField("warc_record_length", T.LongType()),
        T.StructField("record_type", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("target_uri", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("warc_ip_address", T.StringType()),
        T.StructField("identified_payload_type", T.StringType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField(
            "http_headers",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("name", T.StringType()),
                        T.StructField("value", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField("payload", T.BinaryType()),
    ]
)

#: `WARC_RECORD_SCHEMA` plus the decoded body, for `decode_payload_text`.
WARC_TEXT_SCHEMA = T.StructType(
    WARC_RECORD_SCHEMA.fields + [T.StructField("payload_text", T.StringType())]
)

#: The JVM's `regexp_extract(ct, 'charset=([^;\\s]+)', 1)`: case-sensitive,
#: and ASCII `\s`, which is Java's whitespace class.
_CHARSET_RE = re.compile(r"charset=([^;\s]+)", re.ASCII)


def header_charset(http_headers) -> str:
    """The charset the first Content-Type header declares, or ''.

    Bit for bit the JVM expression `regexp_extract(coalesce(get(filter(
    http_headers, h -> lower(h.name) = 'content-type'), 0).value, ''),
    'charset=([^;\\s]+)', 1)`, so a parse-time decode picks the same
    codec as the column-level `decode_payload` over that expression.
    (Its `[0]` spelling fails the task under ANSI mode when a record
    has HTTP headers but no Content-Type; `get` gives NULL, as here.)
    """
    for name, value in http_headers or ():
        if name.lower() == "content-type":
            m = _CHARSET_RE.search(value or "")
            return m.group(1) if m else ""
    return ""


def _record_schema(decode_payload_text: bool) -> T.StructType:
    return WARC_TEXT_SCHEMA if decode_payload_text else WARC_RECORD_SCHEMA


def _record_row(rec, filename: str, with_payload: bool, text_charset: str | None) -> dict:
    """One record as a `WARC_TEXT_SCHEMA` row.

    `payload_text` is the body decoded with `text_charset` ('' when
    none is declared), or NULL when `text_charset` is None. Callers
    frame rows on their schema's columns, so a frame without
    `payload_text` drops the key.
    """
    payload = bytes(rec.payload)
    return {
        "warc_filename": filename,
        "warc_record_offset": rec.offset,
        "warc_record_length": rec.length,
        "record_type": rec.rec_type,
        "content_type": rec.content_type,
        "target_uri": rec.target_uri,
        "warc_date": rec.headers.get("WARC-Date"),
        "warc_ip_address": rec.headers.get("WARC-IP-Address"),
        "identified_payload_type": rec.headers.get("WARC-Identified-Payload-Type"),
        "http_status": rec.http_status,
        "http_headers": rec.http_headers or None,
        "payload": payload if with_payload else None,
        "payload_text": (
            None if text_charset is None else decode_bytes(payload, text_charset)
        ),
    }


def _record_rows(
    filename: str,
    uri: str,
    record_types: set[str] | None,
    parse_http: bool,
    with_payload: bool,
    local_temp_dir: str | None = None,
    decode_payload_text: bool = False,
):
    """Stream one archive's records as plain dicts.

    The archive is never materialized: local (and spooled) files hand
    `iter_warc_records` the open file object, remote URIs hand it the
    backend's readable stream (`open_stream`), and the parser consumes
    either in 1 MiB slices, gzip member by member (sparkcc.py:381-410
    `ArchiveIterator`-over-spool semantics). Worker memory is bounded
    by one record, not one archive. Response bodies are decoded with
    the charset their Content-Type header declares (`header_charset`)
    when `decode_payload_text` is set.
    """
    import contextlib  # noqa: PLC0415
    import os  # noqa: PLC0415

    from cc_pyspark_spark.sources.fetch import open_stream, spool_to_local  # noqa: PLC0415

    with contextlib.ExitStack() as stack:
        if local_temp_dir:
            # Spool remote archives to local disk first
            # (sparkcc.py:308-318 --local_temp_dir behavior).
            local = spool_to_local(uri, local_temp_dir)
            if local != uri.removeprefix("file://"):
                stack.callback(os.unlink, local)
            stream = stack.enter_context(open(local, "rb"))
        else:
            stream = stack.enter_context(
                contextlib.closing(open_stream(uri))
            )
        for rec in iter_warc_records(
            stream, parse_http=parse_http, record_types=record_types
        ):
            decode = decode_payload_text and rec.rec_type == "response"
            yield _record_row(
                rec, filename, with_payload,
                header_charset(rec.http_headers) if decode else None,
            )


class WarcMetrics:
    """A8 accumulator parity (sparkcc.py:152-160): driver-visible
    counters updated from the Python parse workers."""

    def __init__(self, spark: SparkSession):
        sc = spark.sparkContext
        self.records_processed = sc.accumulator(0)
        self.files_processed = sc.accumulator(0)
        self.files_failed = sc.accumulator(0)
        self.records_fetched = sc.accumulator(0)
        self.fetch_failed = sc.accumulator(0)

    def log(self) -> dict[str, int]:
        return {
            "records_processed": self.records_processed.value,
            "files_processed": self.files_processed.value,
            "files_failed": self.files_failed.value,
            "records_fetched": self.records_fetched.value,
            "fetch_failed": self.fetch_failed.value,
        }


#: Records per emitted Arrow batch. Peak worker memory for the parse
#: stage is O(batch_records · record size + one in-flight record) —
#: independent of archive size and of how many archives share a task.
_BATCH_RECORDS = 256


def _parse_paths(
    paths,
    record_types: set[str] | None = None,
    parse_http: bool = True,
    with_payload: bool = True,
    input_base_url: str | None = None,
    metrics: WarcMetrics | None = None,
    local_temp_dir: str | None = None,
    batch_records: int = _BATCH_RECORDS,
    decode_payload_text: bool = False,
) -> Iterator[pd.DataFrame]:
    """Stream pandas batches of records across a sequence of archives.

    One batch per `batch_records` records — never one per archive or
    per path-batch — mirroring the reference's record-at-a-time
    `iterate_records` (sparkcc.py:381-410). A batch may span a file
    boundary; a mid-file parse error discards only the failing file's
    unflushed tail (records already emitted stand, exactly as the
    reference's generator had already yielded them before
    ArchiveLoadFailed fires, sparkcc.py:390-392).
    """
    cols = _record_schema(decode_payload_text).names
    buf: list[dict] = []
    for path in paths:
        uri = resolve(path, input_base_url)
        in_buf = 0  # current file's rows still sitting in buf
        emitted = 0
        try:
            for row in _record_rows(
                path, uri, record_types, parse_http, with_payload,
                local_temp_dir=local_temp_dir,
                decode_payload_text=decode_payload_text,
            ):
                buf.append(row)
                in_buf += 1
                if len(buf) >= batch_records:
                    yield pd.DataFrame(buf, columns=cols)
                    emitted += in_buf
                    buf = []
                    in_buf = 0
            if metrics:
                metrics.files_processed += 1
                metrics.records_processed += emitted + in_buf
        except Exception:  # noqa: BLE001 — skip-and-count, never fatal
            # Corrupt archives surface as OSError (missing file),
            # zlib.error (bad gzip member) or ValueError (garbage
            # Content-Length); the reference counts *any* archive
            # load failure and moves on (sparkcc.py:390-392
            # ArchiveLoadFailed → warc_input_failed += 1).
            if in_buf:
                del buf[-in_buf:]
            if metrics:
                metrics.files_failed += 1
                metrics.records_processed += emitted
            continue
    if buf:
        yield pd.DataFrame(buf, columns=cols)


def warc_records(
    spark: SparkSession,
    manifest: str | list[str],
    record_types: set[str] | None = None,
    parse_http: bool = True,
    with_payload: bool = True,
    input_base_url: str | None = None,
    num_input_partitions: int = 32,
    metrics: WarcMetrics | None = None,
    local_temp_dir: str | None = None,
    batch_records: int = _BATCH_RECORDS,
    decode_payload_text: bool = False,
) -> DataFrame:
    """Manifest (path to a text file of URIs, or an in-memory list) →
    records DataFrame with `WARC_RECORD_SCHEMA`.

    `local_temp_dir` spools remote archives to local disk before
    parsing (the reference's --local_temp_dir, sparkcc.py:308-318).

    With ``decode_payload_text=True`` the output gains a
    ``payload_text`` column (`WARC_TEXT_SCHEMA`): each response body
    decoded by `decode_bytes` with the charset its first Content-Type
    header declares (`header_charset`); NULL for every other record
    type. ``payload`` keeps the raw bytes either way.

    Per-file fault tolerance matches the reference (sparkcc.py:390-392):
    an unreadable archive is skipped, never fatal. Records flow out in
    `batch_records`-sized Arrow batches (see `_parse_paths`), so a task
    holding several 1 GB archives never materializes one of them.
    """
    if isinstance(manifest, str):
        lines = spark.read.text(manifest)
    else:
        lines = spark.createDataFrame([(p,) for p in manifest], "value string")
    return _manifest_records(
        lines,
        num_input_partitions=num_input_partitions,
        decode_payload_text=decode_payload_text,
        record_types=record_types,
        parse_http=parse_http,
        with_payload=with_payload,
        input_base_url=input_base_url,
        metrics=metrics,
        local_temp_dir=local_temp_dir,
        batch_records=batch_records,
    )


def _manifest_records(
    lines: DataFrame,
    num_input_partitions: int | None,
    decode_payload_text: bool,
    **parse_options,
) -> DataFrame:
    """Manifest lines (the `value` column of a batch or streaming text
    read) → records, parsed by `_parse_paths` in `mapInPandas`.

    The one manifest rule for every WARC entry point: leading and
    trailing whitespace is stripped (`trim` alone strips only spaces,
    not tabs) and blank lines are dropped, so a padded line names the
    same archive as a bare one. `num_input_partitions` hash-partitions
    the paths first (None keeps the input's partitioning).
    """
    paths = lines.select(
        F.regexp_replace("value", r"^\s+|\s+$", "").alias("path")
    ).filter(F.col("path") != "")
    if num_input_partitions is not None:
        paths = paths.repartition(num_input_partitions, "path")

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield from _parse_paths(
                pdf["path"], decode_payload_text=decode_payload_text, **parse_options
            )

    return paths.mapInPandas(parse, _record_schema(decode_payload_text))


def fetch_warc_records(
    spark: SparkSession,
    coordinates: DataFrame,
    parse_http: bool = True,
    num_input_partitions: int = 32,
    input_base_url: str | None = None,
    metrics: WarcMetrics | None = None,
    decode_payload_text: bool = False,
) -> DataFrame:
    """Coordinate table → records, by byte-range access (J2 / S3).

    `coordinates` must carry (url, warc_filename, warc_record_offset,
    warc_record_length) — the cc-index pointer-table shape
    (sparkcc.py:617-651). One ranged read per row; repartitioned first
    to spread fetch load (sparkcc.py:600-603).

    `warc_filename` values may be relative archive keys (the cc-index
    convention, e.g. ``crawl-data/CC-MAIN-.../x.warc.gz``) — pass
    `input_base_url` to resolve them against local/http(s)/s3 storage
    (ranged GETs via sources/fetch.py). Failed or missing fetches are
    skipped and counted in ``metrics.fetch_failed`` so an all-miss run
    is visible, not silently empty (sparkcc.py:636-640).

    With ``decode_payload_text=True`` the output gains a ``payload_text``
    column decoded via the charset fallback chain (utf-8 → the table's
    ``content_charset`` column if present → latin-1; sparkcc.py:609-615).
    """
    cols = ["url", "warc_filename", "warc_record_offset", "warc_record_length"]
    has_charset = "content_charset" in coordinates.columns
    if has_charset:
        cols.append("content_charset")
    src = coordinates.select(*cols).repartition(
        num_input_partitions, "warc_filename"
    )

    schema = _record_schema(decode_payload_text)

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                uri = resolve(row.warc_filename, input_base_url)
                try:
                    rec = read_record_at(
                        uri,
                        int(row.warc_record_offset),
                        int(row.warc_record_length),
                        parse_http=parse_http,
                    )
                except Exception:  # noqa: BLE001 — skip-and-count
                    rec = None
                if rec is None:  # skip-and-count (sparkcc.py:636-640)
                    if metrics:
                        metrics.fetch_failed += 1
                    continue
                if metrics:
                    metrics.records_fetched += 1
                if not rec.target_uri:
                    rec.headers["WARC-Target-URI"] = row.url
                charset = getattr(row, "content_charset", None) or ""
                rows.append(_record_row(
                    rec, row.warc_filename, True, charset if decode_payload_text else None
                ))
            yield pd.DataFrame(rows, columns=schema.names)

    return src.mapInPandas(fetch, schema)


# ------------------------------------------------- column-level helpers


def header_values(name: str, col: str = "http_headers") -> F.Column:
    """All values of one (lower-cased) HTTP header → array<string>.

    Multi-valued headers preserved (server_count.py:52-67); pure
    Catalyst higher-order functions, no Python.
    """
    return F.expr(f"transform(filter({col}, h -> h.name = '{name}'), h -> h.value)")


def is_html() -> F.Column:
    """MIME/HTML detection (P9, sparkcc.py:453-466): identified payload
    type first, else Content-Type header contains an HTML MIME.

    `get` returns NULL for a record without a Content-Type header;
    `element_at` fails the task there under ANSI mode."""
    ct = header_values("content-type")
    return (
        F.col("identified_payload_type").isin("text/html", "application/xhtml+xml")
    ) | (
        F.coalesce(F.get(ct, 0), F.lit("")).rlike(
            "text/html|application/xhtml\\+xml"
        )
    )
