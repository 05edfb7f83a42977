"""The reference's concrete jobs, each as a declarative DataFrame pipeline.

Input is always the records DataFrame from sources/warc.py. Where the
reference runs per-record Python generators + `reduceByKey`
(sparkcc.py:212-217), these pipelines are select/filter/explode/groupBy
— Catalyst's partial aggregation replaces the hand-rolled map-side
combine, and the hot path stays in whole-stage codegen.

Output schemas mirror the reference jobs' `output_schema` (flattened:
nested `(tf, df)` structs become columns — same information, hash-
checkable shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cc_pyspark_spark.functions.text import tokenize, tokenize_unicode
from cc_pyspark_spark.functions.url import surt_host_udf, urljoin_udf
from cc_pyspark_spark.sources.warc import header_values, is_html

NO_SERVER = "(no server in HTTP header)"
NO_IP = "(no IP address)"

#: F14 lenient bytes→str: invalid UTF-8 becomes U+FFFD instead of
#: failing the task (reference warn-and-skip semantics,
#: sitemaps_from_robotstxt.py:75-80) — ANSI `decode` would throw.
PAYLOAD_TEXT = "make_valid_utf8(cast(payload as string))"


def server_count(records: DataFrame) -> DataFrame:
    """server_count.py:40-67: count HTTP Server header values over
    response records; values dedup'd per record, fallback when absent."""
    resp = records.filter(F.col("record_type") == "response")
    servers = F.array_distinct(header_values("server"))
    key = F.explode(
        F.when(F.size(servers) > 0, servers).otherwise(F.array(F.lit(NO_SERVER)))
    )
    return (
        resp.select(key.alias("key"))
        .groupBy("key")
        .agg(F.count("*").alias("val"))
    )


def html_tag_count(records: DataFrame) -> DataFrame:
    """html_tag_count.py:14-26: per-page *distinct* HTML tag names
    (regex `<([a-z0-9]+)` on the payload), count = pages containing tag."""
    resp = records.filter((F.col("record_type") == "response") & is_html())
    tags = F.array_distinct(
        F.expr("regexp_extract_all(" + PAYLOAD_TEXT + ", '<([a-z0-9]+)', 1)")
    )
    return (
        resp.select(F.explode(tags).alias("key"))
        .groupBy("key")
        .agg(F.count("*").alias("val"))
    )


def word_count(records: DataFrame) -> DataFrame:
    """word_count.py:16-39 over WET conversion records: per-word term
    frequency (tf) + document frequency (df). The reference's per-doc
    `Counter` pre-agg is the inner groupBy; Catalyst makes both levels
    partial+final hash aggregations."""
    wet = records.filter(F.col("record_type") == "conversion")
    toks = wet.select(
        "target_uri",
        F.explode(tokenize_unicode(PAYLOAD_TEXT)).alias("word"),
    )
    per_doc = toks.groupBy("target_uri", "word").agg(F.count("*").alias("cnt"))
    return per_doc.groupBy("word").agg(
        F.sum("cnt").cast("bigint").alias("tf"), F.count("*").alias("df")
    )


def server_ip_address(records: DataFrame) -> DataFrame:
    """server_ip_address.py:16-64: count (host, ip) pairs over response
    records with fallback for missing IPs."""
    resp = records.filter(F.col("record_type") == "response")
    return (
        resp.select(
            F.lower(F.try_parse_url("target_uri", F.lit("HOST"))).alias("host"),
            F.coalesce(F.col("warc_ip_address"), F.lit(NO_IP)).alias("ip"),
        )
        .filter(F.col("host").isNotNull())
        .groupBy("host", "ip")
        .agg(F.count("*").alias("val"))
    )


#: `Sitemap:` line pattern — leading whitespace allowed (the reference
#: strips each line before matching, sitemaps_from_robotstxt.py:69-71).
SITEMAP_PATTERN = r"(?i)^\s*sitemap:\s*(\S+)"


def _robots_responses(records: DataFrame) -> DataFrame:
    return records.filter(
        (F.col("record_type") == "response")
        & F.col("target_uri").endswith("/robots.txt")
    )


def sitemaps_from_robotstxt(records: DataFrame) -> DataFrame:
    """sitemaps_from_robotstxt.py:55-106: extract `Sitemap:` lines from
    robots.txt bodies, resolve relative URLs against the robots.txt URL
    (urljoin UDF — F6 has no builtin), aggregate announcing hosts per
    sitemap. Host list sorted for deterministic compare (FIXTURES.md).

    Reference skip semantics (test corpus :365-529): a sitemap URL whose
    bytes are not strict-UTF-8 is dropped (the lenient decode marks it
    with U+FFFD — the relational twin of `decode("utf-8","strict")`
    raising, :76-80), and a robots.txt whose own URL has no parseable
    host emits nothing (:85-89, parse_url NULL ↔ urlparse raising).
    Accumulator-parity counts live in `sitemaps_metrics`.

    Known limit of the post-decode marker: a URL whose bytes hold a
    VALIDLY-encoded U+FFFD (EF BF BD) is indistinguishable from a
    decode failure after the lenient decode, so it is dropped where the
    reference would emit it — accepted; a replacement character inside
    a sitemap URL is itself malformed input.
    """
    robots = _robots_responses(records)
    lines = robots.select(
        "target_uri",
        F.explode(F.split(F.expr("" + PAYLOAD_TEXT + ""), "\r?\n")).alias("line"),
    )
    sitemap_raw = F.regexp_extract(F.col("line"), SITEMAP_PATTERN, 1)
    found = lines.select(
        "target_uri", sitemap_raw.alias("raw")
    ).filter((F.col("raw") != "") & ~F.col("raw").contains("�"))
    resolved = found.select(
        urljoin_udf(F.col("target_uri"), F.col("raw")).alias("sitemap_url"),
        F.lower(F.try_parse_url("target_uri", F.lit("HOST"))).alias("host"),
    ).filter(F.col("host").isNotNull())
    return resolved.groupBy("sitemap_url").agg(
        F.sort_array(F.collect_list("host")).alias("hosts")
    )


def sitemaps_metrics(records: DataFrame) -> DataFrame:
    """A8 accumulator parity for the sitemaps job
    (sitemaps_from_robotstxt.py:44-52), computed relationally — one row:
    (robots_txt_processed, sitemap_urls_found,
    sitemap_url_invalid_encoding, robots_txt_announcing_sitemap,
    robots_txt_with_more_than_50_sitemaps).

    Replicates the reference's per-record control flow exactly,
    including the early `return` when the robots.txt URL has no
    parseable host (:85-89): that abort happens while processing the
    FIRST strict-decodable sitemap line, so later matched lines are
    never scanned — `found` counts only matches up to that line for
    bad-host records.
    """
    robots = _robots_responses(records)
    rid = [F.col("warc_filename"), F.col("warc_record_offset")]
    lines = robots.select(
        *rid,
        "target_uri",
        F.posexplode(F.split(F.expr("" + PAYLOAD_TEXT + ""), "\r?\n")).alias(
            "pos", "line"
        ),
    )
    raw = F.regexp_extract(F.col("line"), SITEMAP_PATTERN, 1)
    matched = (
        lines.select(
            *rid,
            "pos",
            raw.alias("raw"),
            F.lower(F.try_parse_url("target_uri", F.lit("HOST"))).alias("host"),
        )
        .filter(F.col("raw") != "")
        .withColumn("invalid", F.col("raw").contains("�"))
    )
    fvp = matched.filter(~F.col("invalid")).groupBy(*rid).agg(
        F.min("pos").alias("first_valid_pos")
    )
    m = matched.join(fvp, ["warc_filename", "warc_record_offset"], "left")
    bad_host = F.col("host").isNull() & F.col("first_valid_pos").isNotNull()
    counted = F.when(
        bad_host, F.col("pos") <= F.col("first_valid_pos")
    ).otherwise(F.lit(True))
    per_rec = m.groupBy("warc_filename", "warc_record_offset").agg(
        F.sum(counted.cast("bigint")).alias("n_found"),
        F.sum((counted & F.col("invalid")).cast("bigint")).alias("n_invalid"),
        F.sum(
            (~F.col("invalid") & F.col("host").isNotNull()).cast("bigint")
        ).alias("n_emitted"),
    )
    totals = per_rec.agg(
        F.coalesce(F.sum("n_found"), F.lit(0)).alias("sitemap_urls_found"),
        F.coalesce(F.sum("n_invalid"), F.lit(0)).alias(
            "sitemap_url_invalid_encoding"
        ),
        F.coalesce(
            F.sum((F.col("n_emitted") > 0).cast("bigint")), F.lit(0)
        ).alias("robots_txt_announcing_sitemap"),
        F.coalesce(
            F.sum((F.col("n_emitted") > 50).cast("bigint")), F.lit(0)
        ).alias("robots_txt_with_more_than_50_sitemaps"),
    )
    return robots.agg(
        F.count("*").alias("robots_txt_processed")
    ).crossJoin(totals)


#: The WAT JSON envelope subtree the link extractor reads
#: (wat_extract_links.py:211-255) — an explicit from_json schema keeps
#: parsing JVM-side instead of the reference's per-record json.loads.
#: HTTP headers are NOT in this schema: their values are dynamically
#: typed (string or list of strings), which a typed map mangles — they
#: go through the VariantType walk in functions/json.py instead.
WAT_ENVELOPE_SCHEMA = (
    "struct<Envelope: struct<"
    "`WARC-Header-Metadata`: struct<`WARC-Type`: string, `WARC-Target-URI`: string>, "
    "`Payload-Metadata`: struct<`HTTP-Response-Metadata`: struct<"
    "`HTML-Metadata`: struct<"
    "Head: struct<Base: string, "
    "Link: array<struct<url: string>>, "
    "Metas: array<struct<name: string, property: string, content: string>>, "
    "Scripts: array<struct<url: string>>>, "
    "Links: array<struct<path: string, url: string, href: string, text: string>>"
    ">>>>>"
)

#: Meta properties/names that usually carry links (F17 allowlists,
#: wat_extract_links.py:48-55).
HTML_META_PROPERTY_LINKS = (
    "og:url", "og:image", "og:image:secure_url",
    "og:video", "og:video:url", "og:video:secure_url",
    "twitter:url", "twitter:image:src",
)
HTML_META_LINKS = (
    "twitter:image", "thumbnail", "application-url",
    "msapplication-starturl", "msapplication-TileImage", "vb_meta_bburl",
)

URL_ABS_PATTERN = "^(?:https?:)?//"


def wat_extract_links(records: DataFrame) -> DataFrame:
    """wat_extract_links.py ExtractLinksJob: page-level (s, t) URL edges
    from WAT metadata records + WARC redirect responses.

    Link sources, all walked in Catalyst (wat_extract_links.py:158-255):
    HTTP headers (Content-Location, Link with `<url>` syntax — string
    OR JSON-list values, via the VariantType walk), Head.Link,
    Head.Metas (property/name allowlists or absolute content), Head.Scripts,
    body Links (url, or href when absolute), each resolved against
    Head.Base ?? page URL (urljoin UDF); HTTP 30[12378] Location targets;
    and the self-edge for pages with no outgoing links (F18).
    """
    from cc_pyspark_spark.functions.json import wat_header_links_variant  # noqa: PLC0415

    wat = records.filter(
        (F.col("record_type") == "metadata")
        & F.col("content_type").contains("application/json")
    )
    w = F.from_json(F.expr(PAYLOAD_TEXT), WAT_ENVELOPE_SCHEMA)
    meta_root = "w.Envelope.`Payload-Metadata`.`HTTP-Response-Metadata`"
    parsed = (
        wat.select(
            w.alias("w"),
            # list-or-scalar tolerant header links (F11): typed maps
            # mangle JSON-list values, so headers take the variant path
            wat_header_links_variant(F.expr(PAYLOAD_TEXT)).alias("header_links"),
        )
        .filter(F.col("w.Envelope.`WARC-Header-Metadata`.`WARC-Type`") == "response")
        .select(
            F.col("w.Envelope.`WARC-Header-Metadata`.`WARC-Target-URI`").alias(
                "page_url"
            ),
            F.col("header_links"),
            F.col(f"{meta_root}.`HTML-Metadata`.Head.Base").alias("base"),
            F.col(f"{meta_root}.`HTML-Metadata`.Head.Link.url").alias("head_links"),
            F.col(f"{meta_root}.`HTML-Metadata`.Head.Metas").alias("metas"),
            F.col(f"{meta_root}.`HTML-Metadata`.Head.Scripts.url").alias("scripts"),
            F.col(f"{meta_root}.`HTML-Metadata`.Links").alias("links"),
        )
        .filter(F.col("page_url").isNotNull())
    )
    empty = F.array().cast("array<string>")
    header_links = F.col("header_links")
    meta_links = F.expr(
        "transform(filter(coalesce(metas, array()), m -> "
        f"m.property IN {HTML_META_PROPERTY_LINKS} "
        f"OR m.name IN {HTML_META_LINKS} "
        f"OR (m.content IS NOT NULL AND m.content rlike '{URL_ABS_PATTERN}')"
        "), m -> m.content)"
    )
    body_links = F.expr(
        "transform(coalesce(links, array()), l -> CASE WHEN l.url IS NOT NULL "
        f"THEN l.url WHEN l.href IS NOT NULL AND l.href rlike '{URL_ABS_PATTERN}' "
        "THEN l.href END)"
    )
    all_links = F.filter(
        F.concat(
            F.coalesce(header_links, empty),
            F.coalesce(F.col("head_links"), empty),
            F.coalesce(meta_links, empty),
            F.coalesce(F.col("scripts"), empty),
            F.coalesce(body_links, empty),
        ),
        lambda x: x.isNotNull(),
    )
    wat_edges = (
        parsed.select(
            "page_url",
            F.coalesce("base", "page_url").alias("base_url"),
            F.explode(
                # self-edge fallback keeps every visited page in the graph
                F.when(F.size(all_links) > 0, all_links).otherwise(
                    F.array(F.col("page_url"))
                )
            ).alias("raw_link"),
        )
        .select(
            F.col("page_url").alias("s"),
            urljoin_udf(F.col("base_url"), F.col("raw_link")).alias("t"),
        )
    )
    # WARC redirect responses: Location header target (wat_extract_links.py:125-155).
    # `get` gives NULL for a redirect without Location (dropped below);
    # `element_at` fails the task there under ANSI mode.
    redirects = (
        records.filter(
            (F.col("record_type") == "response")
            & F.col("http_status").isin(301, 302, 303, 307, 308)
        )
        .select(
            F.col("target_uri").alias("s"),
            F.get(header_values("location"), 0).alias("t"),
        )
        .filter(F.col("t").isNotNull())
    )
    return wat_edges.unionByName(redirects).filter(
        F.col("s").isNotNull() & F.col("t").isNotNull()
    )


def wat_extract_host_links(records: DataFrame) -> DataFrame:
    """ExtractHostLinksJob: page-level edges → host-level SURT edge list
    (s, t), deduplicated and clustered for compression
    (wat_extract_links.py:314-320). SURT keys via the pandas UDF (F7)."""
    edges = wat_extract_links(records).select(
        surt_host_udf(F.col("s")).alias("s"),
        surt_host_udf(F.col("t")).alias("t"),
    ).filter(F.col("s").isNotNull() & F.col("t").isNotNull())
    return edges.dropDuplicates().sortWithinPartitions("s", "t")


def linkmap_to_parquet(spark, tsv_path: str, out_path: str):
    """linkmap2parquet.py:10-34 parity: TSV (s, t) pairs → dedup →
    sortWithinPartitions → parquet (clustered for compression)."""
    from cc_pyspark_spark.sources.tables import load_tsv_pairs, write_table  # noqa: PLC0415

    pairs = (
        load_tsv_pairs(spark, tsv_path)
        .dropna()
        .dropDuplicates()
        .sortWithinPartitions("s", "t")
    )
    write_table(pairs, out_path, fmt="parquet", compression="zstd")
    return spark.read.parquet(out_path)


def warc_to_documents(
    records: DataFrame,
    min_tokens: int = 5,
    html_parser: str = "regex",
) -> DataFrame:
    """The crawl→training-data bridge: WARC response records → a
    `documents`-shaped table (doc_id, url, text, lang, n_chars, quality).

    Each stage is the engine's own §2/LLM-pipeline operator: charset
    decode chain (F13/F14), HTML→text via the parser-backend registry
    (F12), language ID + quality scoring (plans/text.py heuristics),
    token gating, and distributed dense doc_ids (W2 scale path — no
    global-sort window). `records` must carry the parse-time decode's
    `payload_text` (`warc_records(..., decode_payload_text=True)`), so
    the only Python in the stage is the parse itself; with the default
    regex parser everything downstream of it is JVM-side.
    """
    from cc_pyspark_spark.functions.html import html_backend  # noqa: PLC0415
    from cc_pyspark_spark.functions.text import tokenize  # noqa: PLC0415
    from cc_pyspark_spark.operators.ids import assign_sequential_ids  # noqa: PLC0415
    from cc_pyspark_spark.plans.text import lang_id_col, quality_ok_col  # noqa: PLC0415

    if "payload_text" not in records.columns:
        raise ValueError(
            "warc_to_documents needs a payload_text column: build the "
            "records with warc_records(..., decode_payload_text=True)"
        )
    to_text = html_backend(html_parser)
    html = records.filter(
        (F.col("record_type") == "response") & is_html()
    ).select(
        F.col("target_uri").alias("url"),
        to_text(F.col("payload_text")).alias("text"),
    )
    gated = html.filter(F.size(tokenize("text")) >= min_tokens)
    docs = gated.select(
        "url",
        "text",
        lang_id_col("text").alias("lang"),
        F.length("text").alias("n_chars"),
        quality_ok_col("text").alias("quality_ok"),
    )
    return assign_sequential_ids(docs, ["url", "text"], id_col="doc_id").select(
        "doc_id", "url", "text", "lang", "n_chars", "quality_ok"
    )


def wat_anchor_texts(records: DataFrame) -> DataFrame:
    """Anchor-text extraction from WAT body links (beyond-reference:
    the classic anchor-text aggregation over ExtractLinksJob's input —
    the reference keeps only the edge, this keeps what the linking
    page SAYS about the target). Emits (t, anchor) for every body
    <a href> whose url is recorded absolute AND whose anchor text is
    non-empty; t is the SURT host key (F7), so downstream aggregation
    is host-level like the host graph. Typed from_json walk only —
    no header/meta/script families (those links carry no text)."""
    wat = records.filter(
        (F.col("record_type") == "metadata")
        & F.col("content_type").contains("application/json")
    )
    w = F.from_json(F.expr(PAYLOAD_TEXT), WAT_ENVELOPE_SCHEMA)
    meta_root = "w.Envelope.`Payload-Metadata`.`HTTP-Response-Metadata`"
    parsed = (
        wat.select(w.alias("w"))
        .filter(
            F.col("w.Envelope.`WARC-Header-Metadata`.`WARC-Type`")
            == "response"
        )
        .select(
            F.col(f"{meta_root}.`HTML-Metadata`.Links").alias("links")
        )
        .filter(F.col("links").isNotNull())
    )
    pairs = parsed.select(
        F.explode(
            F.filter(
                F.col("links"),
                lambda l: l.getField("url").isNotNull()
                & l.getField("text").isNotNull()
                & (l.getField("text") != ""),
            )
        ).alias("l")
    ).select(
        surt_host_udf(F.col("l.url")).alias("t"),
        F.col("l.text").alias("anchor"),
    )
    return pairs.filter(F.col("t").isNotNull())
