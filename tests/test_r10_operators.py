"""r10 operators: domain cap, token-budget apportionment, vocabulary
coverage, URL canonicalization, HITS, MMR re-rank, tar indexing —
structural/property pins beyond the DuckDB value-hash oracles (which
tests/test_oracle_parity.py already replays at sf0.001)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cc_pyspark_spark.plans import QUERIES
from tests.conftest import SF_DIR


def test_token_budget_mix_sums_to_budget(spark):
    from cc_pyspark_spark.plans.curation import MIX_BUDGET

    rows = QUERIES["curation_token_budget_mix"].spark(spark, SF_DIR).collect()
    assert sum(r["alloc"] for r in rows) == MIX_BUDGET
    # temperature damping: allocation shares are flatter than raw
    # token-count shares (the biggest stratum gets LESS than its
    # proportional share, the smallest MORE)
    tot_tok = sum(r["n_tokens"] for r in rows)
    big = max(rows, key=lambda r: r["n_tokens"])
    small = min(rows, key=lambda r: r["n_tokens"])
    assert big["alloc"] / MIX_BUDGET < big["n_tokens"] / tot_tok
    assert small["alloc"] / MIX_BUDGET > small["n_tokens"] / tot_tok


def test_domain_cap_caps_every_domain(spark):
    from cc_pyspark_spark.plans.curation import DOMAIN_CAP_K

    df = QUERIES["curation_domain_cap"].spark(spark, SF_DIR)
    per = {r["source"]: r["n"] for r in
           df.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert per and all(n <= DOMAIN_CAP_K for n in per.values())
    # fixture has 25 docs per domain, so the cap binds everywhere
    assert all(n == DOMAIN_CAP_K for n in per.values())


def test_vocab_coverage_monotone_and_bounded(spark):
    rows = sorted(
        QUERIES["text_vocab_coverage"].spark(spark, SF_DIR).collect(),
        key=lambda r: r["vocab_size"],
    )
    cov = [r["covered_tokens"] for r in rows]
    tot = rows[0]["total_tokens"]
    assert cov == sorted(cov)
    assert all(0 < c <= tot for c in cov)
    assert cov[-1] == tot  # 64 >= fixture vocab: full coverage


def test_canonicalize_url_rules(spark):
    from cc_pyspark_spark.functions.url import canonicalize_url

    cases = [
        ("HTTP://WWW.A.Example.COM:80/p?utm_source=x&b=2&a=1#f",
         "http://a.example.com/p?a=1&b=2"),
        ("http://a.example.com/p?utm_campaign=z",
         "http://a.example.com/p"),
        ("https://www.example.org/x", "https://www.example.org/x"
         .replace("www.", "")),
        # two-label host keeps its www (stripping would change the host)
        ("http://www.com/p", "http://www.com/p"),
        # NON-default ports name distinct origins and must survive;
        # scheme defaults (http:80, https:443) are dropped
        ("http://a.example.com:8080/p", "http://a.example.com:8080/p"),
        ("https://a.example.com:443/p", "https://a.example.com/p"),
        ("https://a.example.com:80/p", "https://a.example.com:80/p"),
        ("not a url", None),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r[0] for r in df.select(canonicalize_url("url")).collect()]
    assert got == [want for _, want in cases]


def test_hits_star_graph(spark):
    """On a star of sources 1..4 all pointing at vertex 9 plus one
    back-edge 9->1: vertex 9 is the unique top authority, 9 the top
    hub is... compute against a tiny hand replay."""
    from cc_pyspark_spark.operators.pagerank import hits_fixed

    edges = spark.createDataFrame(
        [(1, 9), (2, 9), (3, 9), (4, 9), (9, 1)], "s long, t long"
    )
    got = {(r["id"], r["kind"]): r["score_fp"]
           for r in hits_fixed(edges, rounds=2).collect()}
    # hand replay: a1 = indeg -> a1(9)=4, a1(1)=1; h1(u)=sum a1 over
    # out: h1(1..4)=4, h1(9)=1; a2(9)=h1(1..4 sum)=16, a2(1)=h1(9)=1;
    # h2(1..4)=a2(9)=16, h2(9)=a2(1)=1
    assert got[(9, "auth")] == 16 and got[(1, "auth")] == 1
    assert got[(1, "hub")] == 16 and got[(9, "hub")] == 1


def test_mmr_first_pick_is_most_relevant_and_diverse_after(spark):
    rows = sorted(
        QUERIES["sim_mmr_rerank"].spark(spark, SF_DIR).collect(),
        key=lambda r: r["rnk"],
    )
    assert len(rows) == 8
    assert len({r["vec_id"] for r in rows}) == 8  # no repeats
    # rank 0 is the pure-relevance argmax of the pool
    assert rows[0]["rel"] == max(r["rel"] for r in rows)


def _mmr_on_embeddings(spark, tmp_path, vectors):
    """sim_mmr_rerank and its DuckDB oracle over an embeddings table of
    ``vectors`` ({vec_id: [floats]}), both as pandas frames."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cc_pyspark_spark.plans.similarity import _duck_mmr_oracle

    ids = sorted(vectors)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(
                    [vectors[i] for i in ids], pa.list_(pa.float32())
                ),
                "label": pa.array([0] * len(ids), pa.int32()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    got = QUERIES["sim_mmr_rerank"].spark(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"'{tmp_path / 'embeddings.parquet'}'"
    )
    want = con.sql(_duck_mmr_oracle()).df()
    con.close()
    return got, want


@pytest.mark.parametrize(
    "vectors,n_picked",
    [
        # only the query vector: the candidate pool is empty
        pytest.param({0: [1.0, 0.0]}, 0, id="empty_pool"),
        # zero-norm candidates 1 and 3: their cosines are NULL, so they
        # are left out of max-similarity and picked after every scored
        # candidate
        pytest.param(
            {
                0: [1.0, 0.5, 0.0],
                1: [0.0, 0.0, 0.0],
                2: [1.0, 0.4, 0.1],
                3: [0.0, 0.0, 0.0],
                4: [0.2, 1.0, 0.3],
                5: [0.9, 0.6, 0.0],
                6: [0.1, 0.1, 1.0],
            },
            6,
            id="zero_norm_candidates",
        ),
        # a zero query vector makes every relevance NULL: all picks fall
        # back to the vec_id tie-break
        pytest.param(
            {0: [0.0, 0.0], **{i: [float(i % 3), 1.0] for i in range(1, 12)}},
            8,
            id="zero_query",
        ),
    ],
)
def test_mmr_degenerate_inputs_match_oracle(spark, tmp_path, vectors, n_picked):
    """Empty pools and zero norms follow the DuckDB oracle's NULL
    division instead of raising in the greedy pass."""
    from tests.oracle_compare import assert_frames_match

    got, want = _mmr_on_embeddings(spark, tmp_path, vectors)
    assert list(got.columns) == ["rnk", "vec_id", "rel"]
    assert len(got) == n_picked
    assert_frames_match(got, want, "sim_mmr_rerank")


def test_tar_index_matches_stdlib_listing(spark):
    """The hand-rolled header walk must agree with the stdlib reader
    on the same shard bytes (independent implementations)."""
    import io
    import tarfile

    from cc_pyspark_spark.operators.multimodal import tar_members

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        for name, payload in (
            ("00000001.txt", b"hello world"),
            ("00000001.cls", b"en"),
            ("00000002.txt", b"x" * 1500),
        ):
            info = tarfile.TarInfo(name)
            info.size = len(payload)
            tf.addfile(info, io.BytesIO(payload))
    blob = buf.getvalue()
    df = spark.createDataFrame([(1, blob)], "shard_id long, blob binary")
    got = {(r["name"], r["size"]) for r in tar_members(df).collect()}
    with tarfile.open(fileobj=io.BytesIO(blob)) as tf:
        want = {(m.name, m.size) for m in tf.getmembers()}
    assert got == want
    # corrupt the SECOND member's header (first member = 512B header +
    # 512B padded data, so the next header starts at offset 1024):
    # non-octal size field -> walk stops cleanly, keeps parsed prefix
    h2 = 1024
    bad = blob[: h2 + 124] + b"not-octal!!!" + blob[h2 + 136 :]
    got_bad = tar_members(
        spark.createDataFrame([(2, bad)], "shard_id long, blob binary")
    ).collect()
    assert [(r["name"], r["size"]) for r in got_bad] == [("00000001.txt", 11)]


def test_zip_blobs_are_real_zips(spark):
    """The Catalyst-built fixture must be a genuine archive: stdlib
    zipfile opens the actual bytes, lists the same members, the CRCs
    verify (testzip), and extraction returns the exact payloads."""
    import hashlib
    import io
    import zipfile

    from cc_pyspark_spark.plans.multimodal import zip_fixture_blobs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    row = docs.orderBy("doc_id").limit(1).collect()[0]
    blob = bytes(
        zip_fixture_blobs(docs.limit(1)).collect()[0]["blob"]
    )
    l1 = int(hashlib.md5(row["text"].encode()).hexdigest()[:2], 16) % 32 + 1
    want = {
        "a.txt": row["text"].encode()[:l1],
        "b.cls": row["lang"].encode(),
    }
    with zipfile.ZipFile(io.BytesIO(blob)) as zf:
        assert zf.testzip() is None  # every CRC verifies
        assert {i.filename for i in zf.infolist()} == set(want)
        for name, payload in want.items():
            assert zf.read(name) == payload
