"""Seeded WARC corpus for the crawl workload, with its expected outputs.

``generate_corpus(out_dir, seed)`` writes ``ARCHIVES`` gzip WARC files
of ``RESPONSES`` HTTP responses each, plus a manifest, and returns the
ground truth the CLI pipeline must reproduce:

* ``docs`` — url → extracted text for every HTML page (the text is
  what the engine's regex HTML backend yields: tags dropped, entities
  decoded, whitespace collapsed);
* the survivor mapping of ``dedup_documents --dedup_method cluster``
  and the export set of ``export_training_jsonl``, derived from the
  planted exact and near duplicates (see ``expected_outputs``).

Input properties the layers depend on:

* body length: log-normal words per page, median 90, clipped to
  [20, 400] — the same multiset of lengths for every seed;
* exact duplicates: ``EXACT_DUP_SHARE`` of pages copy another page's
  body under a new URL, each from a different page;
* near duplicates: ``NEAR_DUP_SHARE`` of pages copy a body of at least
  200 words (each a different one) and append one word (word-3-shingle Jaccard >= 0.995, so
  the engine's 4x4-band MinHash-LSH finds the pair with probability
  > 1 - 1e-6);
* ``NON_HTML_SHARE`` text/plain responses and ``REDIRECT_SHARE``
  empty-bodied 301s, which the pipeline must drop;
* charsets: utf-8, iso-8859-1 and windows-1252 in ``CHARSET_P``
  proportions, declared in Content-Type; the non-utf-8 pages carry
  accented words, so the declared-charset branch of the decode chain
  runs.

Every share is an exact count, so seeds differ only in the words, the
order of pages and their hosts. Same seed, same bytes: the WARC writer
is fed only from the seeded RNG and fixed dates and record ids.
"""

from __future__ import annotations

import math
import os
import random
from statistics import NormalDist

ARCHIVES = 4
RESPONSES = 60
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.05
NON_HTML_SHARE = 0.05
REDIRECT_SHARE = 0.05
CHARSETS = ("utf-8", "iso-8859-1", "windows-1252")
CHARSET_P = (0.7, 0.15, 0.15)
WORDS_MEDIAN = 90
WORDS_MIN, WORDS_MAX = 20, 400
NEAR_DUP_MIN_WORDS = 200
VOCAB_SIZE = 4000
ACCENTED = ("café", "naïve", "über", "façade", "señor", "déjà", "crème", "à")


def _vocab() -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    rng = random.Random(0)
    words = set()
    while len(words) < VOCAB_SIZE:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(2, 9))))
    return sorted(words)


VOCAB = _vocab()


def _lengths(n: int) -> list[int]:
    """Words per page for ``n`` pages: the quantiles of the log-normal,
    so every seed gets the same length distribution."""
    dist = NormalDist(0.0, 0.6)
    return [
        min(WORDS_MAX, max(WORDS_MIN, round(WORDS_MEDIAN * math.exp(dist.inv_cdf((i + 0.5) / n)))))
        for i in range(n)
    ]


def _body(rng: random.Random, n: int, charset: str) -> str:
    # A Zipf-like head over a uniform tail.
    words = [
        VOCAB[min(int(rng.paretovariate(1.0)), VOCAB_SIZE) - 1]
        if rng.random() < 0.3 else rng.choice(VOCAB)
        for _ in range(n)
    ]
    if charset != "utf-8":
        for _ in range(3):
            words[rng.randrange(n)] = rng.choice(ACCENTED)
    return " ".join(words)


def _shares(n: int, shares: dict[str, float], rest: str) -> list[str]:
    """Exactly round(share * n) of each kind, the rest ``rest``."""
    kinds = [k for k, p in shares.items() for _ in range(round(p * n))]
    return kinds + [rest] * (n - len(kinds))


def _pages(rng: random.Random) -> list[tuple[str, str, str]]:
    """(kind, charset, body) per response, shuffled; duplicates copy a
    fresh page's body and charset."""
    n = ARCHIVES * RESPONSES
    kinds = _shares(n, {"redirect": REDIRECT_SHARE, "text": NON_HTML_SHARE,
                        "exact": EXACT_DUP_SHARE, "near": NEAR_DUP_SHARE}, "fresh")
    n_fresh = kinds.count("fresh")
    charsets = _shares(n_fresh, dict(zip(CHARSETS[1:], CHARSET_P[1:])), CHARSETS[0])
    rng.shuffle(charsets)
    lengths = _lengths(n_fresh)
    rng.shuffle(lengths)
    fresh = [(cs, _body(rng, k, cs)) for cs, k in zip(charsets, lengths)]
    # Distinct sources: every planted duplicate forms its own pair.
    long = [i for i, p in enumerate(fresh) if p[1].count(" ") + 1 >= NEAR_DUP_MIN_WORDS]
    near_src = iter(rng.sample(long, kinds.count("near")))
    short = sorted(set(range(n_fresh)) - set(long))
    exact_src = iter(rng.sample(short, kinds.count("exact")))
    pages, it = [], iter(fresh)
    for kind in kinds:
        if kind == "fresh":
            cs, body = next(it)
        elif kind == "exact":
            cs, body = fresh[next(exact_src)]
        elif kind == "near":
            cs, body = fresh[next(near_src)]
            body += " " + rng.choice(VOCAB)
        else:
            cs, body = "utf-8", _body(rng, WORDS_MEDIAN, "utf-8")
        pages.append((kind, cs, body))
    rng.shuffle(pages)
    return pages


def _html(body: str) -> str:
    """Page markup; the regex backend turns it back into exactly
    ``extracted_text(body)``."""
    words = body.split(" ")
    title = " ".join(words[:3])
    half = len(words) // 2
    return (
        "<!DOCTYPE html><html><head><title>" + title + "</title>"
        "<script>if (a < b) { x = 1; }</script>"
        "<style>p { color: red }</style></head>\n<body><!-- nav -->&amp; more"
        "<p>" + " ".join(words[:half]) + "</p>\n  <div class='c'>"
        + " ".join(words[half:]) + "</div></body></html>"
    )


def extracted_text(body: str) -> str:
    return " ".join(body.split(" ")[:3]) + " & more " + body


def generate_corpus(out_dir: str, seed: int) -> dict:
    from cc_pyspark_spark.sources.warcio_lite import (  # noqa: PLC0415
        WarcWriter,
        http_response_block,
    )

    rng = random.Random(seed)
    pages = iter(_pages(rng))
    os.makedirs(out_dir, exist_ok=True)
    docs: dict[str, str] = {}
    manifest = []
    for fi in range(ARCHIVES):
        path = os.path.join(out_dir, f"crawl-{fi:03d}.warc.gz")
        with open(path, "wb") as fh:
            w = WarcWriter(fh, gzip_members=True)
            w.write_record("warcinfo", b"software: perfbench\r\n",
                           content_type="application/warc-fields")
            for ri in range(RESPONSES):
                url = f"http://host{rng.randrange(50)}.example.com/a{fi}/p{ri}"
                kind, charset, body = next(pages)
                headers = [("Content-Type", f"text/html; charset={charset}")]
                status, payload = 200, b""
                if kind == "redirect":
                    status = 301
                    headers.append(("Location", url + "/"))
                elif kind == "text":
                    headers = [("Content-Type", "text/plain; charset=utf-8")]
                    payload = body.encode()
                else:
                    payload = _html(body).encode(charset)
                    docs[url] = extracted_text(body)
                w.write_record(
                    "request", b"GET / HTTP/1.1\r\nHost: x\r\n\r\n", target_uri=url,
                    content_type="application/http; msgtype=request",
                )
                w.write_record(
                    "response",
                    http_response_block(payload, status=status, headers=headers),
                    target_uri=url,
                    content_type="application/http; msgtype=response",
                    record_id=f"<urn:uuid:{seed & 0xFFFFFFFF:08x}-0000-0000-{fi:04x}-{ri:012x}>",
                )
        manifest.append(path)
    manifest_path = os.path.join(out_dir, "manifest.txt")
    with open(manifest_path, "w") as fh:
        fh.write("\n".join(manifest) + "\n")
    return {"manifest": manifest_path, "files": manifest, "docs": docs}


def _shingles(text: str, k: int = 3) -> set[str]:
    import re  # noqa: PLC0415

    toks = re.findall("[a-z0-9]+", text.lower())
    return {" ".join(toks[i:i + k]) for i in range(max(1, len(toks) - k + 1))}


def expected_outputs(docs: dict[str, str]) -> dict:
    """What the three CLI jobs must produce from ``docs`` (url → text).

    doc_ids are dense, 1-based, in url order. Two pages are duplicates
    when their word-3-shingle Jaccard is >= 0.9 (the planted pairs sit
    at >= 0.995; unrelated pages near 0), and the survivor of a
    duplicate cluster is its least doc_id. Export keeps the least
    doc_id of each distinct text.
    """
    ids = {url: i for i, url in enumerate(sorted(docs), start=1)}
    parent = {i: i for i in ids.values()}

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    by_text: dict[str, int] = {}
    for url in sorted(docs):
        by_text.setdefault(docs[url], ids[url])
    reps = sorted(by_text.items(), key=lambda kv: kv[1])
    sh = {i: _shingles(t) for t, i in reps}
    for url, i in ids.items():
        parent[find(i)] = find(by_text[docs[url]])
    # Candidate near pairs share their first 12 words (a near duplicate
    # is its source plus a suffix); confirm with the exact Jaccard.
    by_prefix: dict[str, list[int]] = {}
    for t, i in reps:
        by_prefix.setdefault(" ".join(t.split(" ")[:12]), []).append(i)
    for group in by_prefix.values():
        for a in group:
            for b in group:
                if a < b and len(sh[a] & sh[b]) >= 0.9 * len(sh[a] | sh[b]):
                    ra, rb = find(a), find(b)
                    parent[max(ra, rb)] = min(ra, rb)
    low: dict[int, int] = {}
    for i in sorted(ids.values()):
        low.setdefault(find(i), i)
    return {
        "docs": {ids[u]: (u, t) for u, t in docs.items()},
        "survivors": {i: low[find(i)] for i in ids.values()},
        "exported": {i: t for t, i in by_text.items()},
    }

