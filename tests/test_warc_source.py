"""WARC source + reference-job parity tests on the deterministic fixture
corpus (FIXTURES.md shapes). Oracles are independent pure-Python
recounts over warcio_lite — not the Spark pipeline under test.
"""

from __future__ import annotations

import collections
import re
from urllib.parse import urljoin, urlparse

import pytest

from cc_pyspark_spark.jobs import (
    server_count,
    server_ip_address,
    sitemaps_from_robotstxt,
    wat_extract_host_links,
    word_count,
)
from cc_pyspark_spark.operators.graph import host_links_to_graph
from cc_pyspark_spark.sources.fixtures import generate_warc_corpus
from cc_pyspark_spark.sources.warc import (
    WARC_RECORD_SCHEMA,
    WarcMetrics,
    fetch_warc_records,
    warc_records,
)
from cc_pyspark_spark.sources.warcio_lite import iter_warc_records


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    out = tmp_path_factory.mktemp("warc-corpus")
    return generate_warc_corpus(str(out))


@pytest.fixture(scope="module")
def records_py(corpus):
    """Pure-Python parse of every fixture file (oracle side)."""
    recs = []
    for path in corpus["files"]:
        with open(path, "rb") as f:
            for rec in iter_warc_records(f.read()):
                rec.headers["__file__"] = path
                recs.append(rec)
    return recs


@pytest.fixture(scope="module")
def records_df(spark, corpus):
    return warc_records(
        spark, corpus["manifest"], num_input_partitions=4
    ).cache()


def test_record_counts_by_type(records_df, records_py):
    got = dict(
        records_df.groupBy("record_type").count().orderBy("record_type").collect()
    )
    want = collections.Counter(r.rec_type for r in records_py)
    assert got == dict(want)


def test_record_type_pushdown(spark, corpus):
    for record_types in ({"response"}, {"conversion"}):
        df = warc_records(
            spark, corpus["manifest"], record_types=record_types, num_input_partitions=2
        )
        assert {r[0] for r in df.select("record_type").distinct().collect()} == record_types


def test_padded_manifest_lines_name_the_same_archives(spark, corpus, tmp_path):
    """Whitespace around a manifest line is not part of the archive path:
    a padded manifest parses the clean manifest's records and counts
    every archive as processed, none as failed."""
    padded = tmp_path / "padded.txt"
    pads = [" ", "\t", " \t "]
    padded.write_text(
        "".join(f"{pads[i % 3]}{p}{pads[i % 3]}\n \n" for i, p in enumerate(corpus["files"]))
    )
    key = ["warc_filename", "warc_record_offset", "record_type"]
    clean = warc_records(spark, corpus["manifest"], num_input_partitions=2)
    m = WarcMetrics(spark)
    got = warc_records(spark, str(padded), num_input_partitions=2, metrics=m)
    got_rows = {tuple(r) for r in got.select(*key).collect()}
    assert got_rows == {tuple(r) for r in clean.select(*key).collect()}
    assert got_rows
    assert m.files_processed.value == len(corpus["files"])
    assert m.files_failed.value == 0


def test_ranged_fetch_matches_coordinates(spark, corpus):
    coords = spark.read.parquet(corpus["ccindex_parquet"])
    fetched = fetch_warc_records(spark, coords, num_input_partitions=2)
    assert fetched.count() == coords.count()
    got_uris = {r[0] for r in fetched.select("target_uri").collect()}
    want_uris = {c[0] for c in corpus["coordinates"]}
    assert got_uris == want_uris


def test_server_count_parity(records_df, records_py):
    want: collections.Counter = collections.Counter()
    for r in records_py:
        if r.rec_type != "response":
            continue
        servers = {v for (k, v) in r.http_headers if k == "server"}
        if not servers:
            servers = {"(no server in HTTP header)"}
        want.update(servers)
    got = dict(server_count(records_df).collect())
    assert got == dict(want)


def test_word_count_parity(records_df, records_py):
    tf: collections.Counter = collections.Counter()
    df: collections.Counter = collections.Counter()
    for r in records_py:
        if r.rec_type != "conversion":
            continue
        toks = re.findall(r"\w+", r.payload.decode().lower(), re.UNICODE)
        tf.update(toks)
        df.update(set(toks))
    got = {row["word"]: (row["tf"], row["df"]) for row in word_count(records_df).collect()}
    want = {w: (tf[w], df[w]) for w in tf}
    assert got == want


def test_server_ip_parity(records_df, records_py):
    want: collections.Counter = collections.Counter()
    for r in records_py:
        if r.rec_type != "response":
            continue
        host = (urlparse(r.target_uri).hostname or "").lower()
        ip = r.headers.get("WARC-IP-Address") or "(no IP address)"
        if host:
            want[(host, ip)] += 1
    got = {
        (row["host"], row["ip"]): row["val"]
        for row in server_ip_address(records_df).collect()
    }
    assert got == dict(want)


def test_sitemaps_parity(records_df, records_py):
    want: dict[str, list[str]] = {}
    pat = re.compile(r"(?i)^\s*sitemap:\s*(\S+)")
    for r in records_py:
        if r.rec_type != "response" or not (r.target_uri or "").endswith(
            "/robots.txt"
        ):
            continue
        text = r.payload.decode("utf-8", "replace")
        for line in re.split(r"\r?\n", text):
            m = pat.match(line)
            if m:
                if "�" in m.group(1):
                    continue  # strict-decode skip (ref :76-80 semantics)
                host = urlparse(r.target_uri).hostname
                if host is None:
                    continue
                sm = urljoin(r.target_uri, m.group(1))
                want.setdefault(sm, []).append(host)
    want = {k: sorted(v) for k, v in want.items()}
    got = {
        row["sitemap_url"]: list(row["hosts"])
        for row in sitemaps_from_robotstxt(records_df).collect()
    }
    assert got == want
    # fixture: absolute + relative survive; the latin-1 sitemap URL is
    # dropped by the strict-decode rule (reference parity)
    assert len(got) >= 2
    assert not any("sitem�p" in u for u in got)


def _expected_page_links(records_py):
    """Independent recount of the WAT link-tree walk + redirects."""
    import json as _json

    meta_props = {
        "og:url", "og:image", "og:image:secure_url", "og:video",
        "og:video:url", "og:video:secure_url", "twitter:url",
        "twitter:image:src",
    }
    meta_names = {
        "twitter:image", "thumbnail", "application-url",
        "msapplication-starturl", "msapplication-TileImage", "vb_meta_bburl",
    }
    abs_re = re.compile(r"^(?:https?:)?//")
    edges = []
    for r in records_py:
        if r.rec_type == "metadata" and "application/json" in r.content_type:
            env = _json.loads(r.payload.decode())["Envelope"]
            if env["WARC-Header-Metadata"]["WARC-Type"] != "response":
                continue
            url = env["WARC-Header-Metadata"]["WARC-Target-URI"]
            meta = env["Payload-Metadata"]["HTTP-Response-Metadata"]
            html = meta.get("HTML-Metadata", {})
            head = html.get("Head", {})
            base = head.get("Base") or url
            raw = []
            for k, v in meta.get("Headers", {}).items():
                vals = v if isinstance(v, list) else [v]  # list-or-scalar
                if k.lower() == "content-location":
                    raw += vals
                elif k.lower() == "link":
                    for val in vals:
                        raw += re.findall(r"<([^>]*)>", val)
            raw += [l["url"] for l in head.get("Link", []) if "url" in l]
            for m in head.get("Metas", []):
                if (
                    m.get("property") in meta_props
                    or m.get("name") in meta_names
                    or (m.get("content") and abs_re.match(m["content"]))
                ):
                    raw.append(m["content"])
            raw += [s["url"] for s in head.get("Scripts", []) if "url" in s]
            for l in html.get("Links", []):
                if l.get("url"):
                    raw.append(l["url"])
                elif l.get("href") and abs_re.match(l["href"]):
                    raw.append(l["href"])
            if raw:
                edges += [(url, urljoin(base, x)) for x in raw]
            else:
                edges.append((url, url))
        elif r.rec_type == "response" and r.http_status in (301, 302, 303, 307, 308):
            loc = [v for (k, v) in r.http_headers if k == "location"]
            if loc:
                edges.append((r.target_uri, loc[0]))
    return edges


def test_wat_page_links_parity(records_df, records_py):
    from cc_pyspark_spark.jobs.pipelines import wat_extract_links

    got = sorted((r["s"], r["t"]) for r in wat_extract_links(records_df).collect())
    want = sorted(_expected_page_links(records_py))
    assert got == want
    assert len(got) > 10


def test_redirect_without_location_is_dropped(spark):
    """A 30x response with no Location header yields no edge and does
    not fail the job under ANSI mode; a 301 with one is an edge."""
    from cc_pyspark_spark.jobs.pipelines import wat_extract_links

    def response(uri, status, headers):
        return (
            "f", 0, 1, "response", "application/http; msgtype=response", uri,
            None, None, None, status, headers, b"",
        )

    records = spark.createDataFrame(
        [
            response("http://a.example.com/", 302, [("server", "x")]),
            response(
                "http://b.example.com/", 301,
                [("location", "http://c.example.com/")],
            ),
        ],
        WARC_RECORD_SCHEMA,
    )
    got = [(r["s"], r["t"]) for r in wat_extract_links(records).collect()]
    assert got == [("http://b.example.com/", "http://c.example.com/")]


def test_wat_links_and_graph(records_df):
    edges = wat_extract_host_links(records_df)
    rows = edges.collect()
    assert len(rows) > 0
    assert all(r["s"] and r["t"] for r in rows)
    # SURT form: reversed labels (leading label is the TLD), www-stripped
    tlds = {"com", "org", "net", "de", "invalid"}
    assert all(r["s"].split(".")[0] in tlds for r in rows)
    assert all(not r["s"].startswith("www.") for r in rows)

    vertices, int_edges = host_links_to_graph(edges)
    v = {row["name"]: row["id"] for row in vertices.collect()}
    # ids dense + sorted by name
    assert sorted(v.values()) == list(range(1, len(v) + 1))
    assert [n for n, _ in sorted(v.items(), key=lambda kv: kv[1])] == sorted(v)
    e = int_edges.collect()
    assert all(row["s"] in v.values() and row["t"] in v.values() for row in e)
    assert all(row["s"] != row["t"] for row in e)


def test_graph_validation_flags(spark):
    edges = spark.createDataFrame(
        [
            ("com.example", "org.example"),
            ("invalid.example", "com.example"),
            ("com.example", "com.example"),
        ],
        ["s", "t"],
    )
    vertices, int_edges = host_links_to_graph(edges, validate_host_names=True)
    names = {row["name"] for row in vertices.collect()}
    assert names == {"com.example", "org.example"}
    assert int_edges.count() == 1  # self-loop removed, invalid dropped
