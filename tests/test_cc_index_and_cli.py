"""cc-index path (index SQL → ranged fetch → word count) + CLI runner."""

from __future__ import annotations

import pytest

from cc_pyspark_spark.jobs.cc_index import (
    cc_index_word_count,
    execute_query,
    fetch_records_for_query,
    load_ccindex,
)
from cc_pyspark_spark.jobs.runner import main as runner_main
from cc_pyspark_spark.sources.fixtures import generate_warc_corpus


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    out = tmp_path_factory.mktemp("ccindex-corpus")
    return generate_warc_corpus(str(out))


def test_index_query_and_fetch(spark, corpus):
    load_ccindex(spark, corpus["ccindex_parquet"])
    sqldf = execute_query(
        spark,
        "SELECT url, warc_filename, warc_record_offset, warc_record_length "
        "FROM ccindex WHERE url LIKE '%.com/%'",
    )
    n = sqldf.count()
    assert 0 < n < len(corpus["coordinates"])
    fetched = fetch_records_for_query(spark, sqldf, num_input_partitions=2)
    assert fetched.count() == n
    assert fetched.filter("record_type = 'response'").count() == n


def test_fetch_forwards_content_charset(spark, tmp_path):
    """content_charset selected by the index query must reach the
    per-record decode (sparkcc.py:645-648): a windows-1251 payload that
    is invalid utf-8 decodes to Cyrillic only if the charset column is
    forwarded through the coordinate projection — the latin-1 fallback
    would yield mojibake."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cc_pyspark_spark.sources.warcio_lite import (
        WarcWriter,
        http_response_block,
    )

    url = "http://cyrillic.example.com/p"
    # mostly-ASCII with one Cyrillic letter: invalid as utf-8, and too
    # little non-ASCII evidence for the statistical sniffer's clear-win
    # threshold — only the index-declared charset can decode it right
    payload = "price 100 я ok".encode("windows-1251")
    warc = str(tmp_path / "one.warc.gz")
    with open(warc, "wb") as fh:
        w = WarcWriter(fh, gzip_members=True)
        block = http_response_block(
            payload,
            status=200,
            headers=[("Content-Type", "text/plain; charset=windows-1251")],
        )
        off, length = w.write_record(
            "response",
            block,
            target_uri=url,
            content_type="application/http; msgtype=response",
        )
    idx = str(tmp_path / "ccindex.parquet")
    pq.write_table(
        pa.table(
            {
                "url": [url],
                "warc_filename": [warc],
                "warc_record_offset": [off],
                "warc_record_length": [length],
                "content_charset": ["windows-1251"],
            }
        ),
        idx,
    )
    load_ccindex(spark, idx, table_name="ccindex_cs")
    sqldf = execute_query(
        spark,
        "SELECT url, warc_filename, warc_record_offset, "
        "warc_record_length, content_charset FROM ccindex_cs",
    )
    got = fetch_records_for_query(
        spark, sqldf, num_input_partitions=1, decode_payload_text=True
    ).collect()
    assert len(got) == 1
    assert got[0]["payload_text"] == "price 100 я ok"

    # without the charset column the chain falls back to latin-1 —
    # proving the forwarded column (not a sniffer) did the work above
    plain = fetch_records_for_query(
        spark,
        sqldf.drop("content_charset"),
        num_input_partitions=1,
        decode_payload_text=True,
    ).collect()
    assert plain[0]["payload_text"] == "price 100 ÿ ok"  # latin-1 fallback mojibake


def test_cc_index_word_count(spark, corpus):
    out = cc_index_word_count(
        spark,
        corpus["ccindex_parquet"],
        "SELECT url, warc_filename, warc_record_offset, warc_record_length "
        "FROM ccindex",
        num_input_partitions=2,
    )
    rows = {r["word"]: (r["tf"], r["df"]) for r in out.collect()}
    # every fixture HTML page has exactly one <title>t</title> → text "t x..."
    assert rows, "no words extracted"
    assert all(tf >= df > 0 for tf, df in rows.values())
    # tag names must NOT appear (html_to_text strips markup)
    assert "html" not in rows and "href" not in rows


def test_cli_runner_end_to_end(spark, corpus, tmp_path):
    out_dir = str(tmp_path / "server_count_out")
    rc = runner_main(
        [
            "server_count",
            corpus["manifest"],
            out_dir,
            "--num_input_partitions",
            "2",
            "--num_output_partitions",
            "1",
            "--output_format",
            "parquet",
            "--output_compression",
            "snappy",
        ]
    )
    assert rc == 0
    result = spark.read.parquet(out_dir)
    got = {r["key"]: r["val"] for r in result.collect()}
    assert got and sum(got.values()) > 0
    assert "(no server in HTTP header)" in got or "Apache" in got


def test_cli_hostlinks_to_graph(spark, tmp_path):
    edges_path = str(tmp_path / "edges_in")
    spark.createDataFrame(
        [("com.a", "com.b"), ("com.b", "com.a"), ("com.a", "com.a")], ["s", "t"]
    ).write.parquet(edges_path)
    out = str(tmp_path / "graph_out")
    rc = runner_main(
        [
            "hostlinks_to_graph",
            edges_path,
            out,
            "--num_output_partitions",
            "1",
        ]
    )
    assert rc == 0
    v = {tuple(r) for r in spark.read.parquet(out + "/vertices").collect()}
    e = {tuple(r) for r in spark.read.parquet(out + "/edges").collect()}
    assert v == {("com.a", 1), ("com.b", 2)}
    assert e == {(1, 2), (2, 1)}  # self-loop removed


def test_cc_index_export(spark, corpus, tmp_path):
    from cc_pyspark_spark.jobs.cc_index import cc_index_export

    out = str(tmp_path / "export")
    n = cc_index_export(
        spark,
        corpus["ccindex_parquet"],
        "SELECT url, warc_filename FROM ccindex WHERE url LIKE '%.com/%'",
        out,
        num_output_partitions=1,
    )
    back = spark.read.parquet(out)
    assert back.count() == n > 0
    assert set(back.columns) == {"url", "warc_filename"}


def test_cli_emits_job_metrics(spark, corpus, tmp_path, capsys):
    """Every archive is parsed once per job. warc_to_documents' range
    exchange samples its input before it shuffles it; evaluating the
    input twice would count every file and record twice."""
    import json as _json

    for job in ("word_count", "warc_to_documents"):
        rc = runner_main(
            [
                job,
                corpus["manifest"],
                str(tmp_path / f"{job}_out"),
                "--num_input_partitions",
                "2",
                "--num_output_partitions",
                "1",
            ]
        )
        assert rc == 0
        lines = [
            ln for ln in capsys.readouterr().out.splitlines() if ln.startswith("{")
        ]
        m = _json.loads(lines[-1])
        assert m["job"] == job
        assert m["files_processed"] == len(corpus["files"])
        assert m["files_failed"] == 0
        assert m["records_processed"] > 0
        assert m["output_rows"] > 0


def test_cli_keeps_a_live_sessions_shuffle_width(spark, corpus, tmp_path):
    """A CLI job run inside a live session must not re-impose the
    session profile's defaults on it, from the session's own thread or
    from another one (the active session is thread-local; the session
    getOrCreate reuses is not)."""
    import threading

    from cc_pyspark_spark.session import build_session

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)

    def run_job(out):
        out.append(
            runner_main(
                [
                    "server_count",
                    corpus["manifest"],
                    str(tmp_path / f"sc_out_{len(out)}"),
                    "--num_output_partitions",
                    "1",
                ]
            )
        )

    try:
        live = build_session(shuffle_partitions=5)
        assert live.conf.get(key) == "5"
        rcs: list[int] = []
        run_job(rcs)
        assert rcs == [0]
        assert live.conf.get(key) == "5"
        worker = threading.Thread(target=run_job, args=(rcs,))
        worker.start()
        worker.join()
        assert rcs == [0, 0]
        assert live.conf.get(key) == "5"
        # passing nothing keeps it too; passing a width applies it
        assert build_session().conf.get(key) == "5"
        assert build_session(shuffle_partitions=6).conf.get(key) == "6"
    finally:
        spark.conf.set(key, before)


def test_cli_dedup_documents_cluster(tmp_path):
    """End-to-end CLI: documents parquet → cluster survivors parquet."""
    import json as _json

    from cc_pyspark_spark.jobs.runner import main

    out = str(tmp_path / "survivors")
    rc = main([
        "dedup_documents", "/root/testdata/sf0.001/documents.parquet", out,
        "--dedup_method", "cluster", "--num_output_partitions", "2",
        "--spark_master", "local[4]", "--output_compression", "snappy",
    ])
    assert rc == 0
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    got = spark.read.parquet(out)
    assert set(got.columns) == {"doc_id", "keep_id", "is_canonical"}
    n_docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).count()
    assert got.count() == n_docs
    # survivors are closed under the mapping: every keep_id is canonical
    keeps = {r["keep_id"] for r in got.select("keep_id").distinct().collect()}
    canon = {r["doc_id"] for r in got.filter("is_canonical = 1").collect()}
    assert keeps <= canon


def test_cli_export_training_jsonl(tmp_path, capsys):
    from cc_pyspark_spark.jobs.runner import main

    out = str(tmp_path / "jsonl")
    rc = main([
        "export_training_jsonl", "/root/testdata/sf0.001/documents.parquet",
        out, "--min_tokens", "1", "--num_output_partitions", "2",
        "--spark_master", "local[4]",
    ])
    assert rc == 0
    import json as _json

    line = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")][-1]
    payload = _json.loads(line)
    assert payload["job"] == "export_training_jsonl"
    assert payload["exported_docs"] > 0


import pytest as _pytest


@_pytest.mark.parametrize(
    "method,expected_cols",
    [
        ("exact", {"doc_id", "text", "lang", "source", "n_chars"}),
        ("minhash", {"a_id", "b_id", "jac"}),
        ("simhash", {"doc_id", "simhash"}),
    ],
)
def test_cli_dedup_documents_methods(tmp_path, method, expected_cols):
    from cc_pyspark_spark.jobs.runner import main

    out = str(tmp_path / f"out_{method}")
    rc = main([
        "dedup_documents", "/root/testdata/sf0.001/documents.parquet", out,
        "--dedup_method", method, "--num_output_partitions", "1",
        "--spark_master", "local[4]", "--output_compression", "snappy",
    ])
    assert rc == 0
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    got = spark.read.parquet(out)
    assert set(got.columns) == expected_cols
    if method == "exact":
        # survivors: one row per distinct text, first doc_id kept
        src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        assert got.count() == src.select("text").distinct().count()


def test_cli_incremental_dedup_roundtrip(tmp_path):
    """build_dedup_index on a corpus half, then incremental_exact over
    the full table: survivors are exactly the docs whose content the
    index has not seen."""
    from pyspark.sql import SparkSession, functions as F

    from cc_pyspark_spark.jobs.runner import main

    spark = SparkSession.getActiveSession() or SparkSession.builder.master(
        "local[4]"
    ).getOrCreate()
    src = "/root/testdata/sf0.001/documents.parquet"
    old_dir = str(tmp_path / "old.parquet")
    spark.read.parquet(src).filter(F.col("doc_id") < 30).write.parquet(old_dir)
    idx = str(tmp_path / "index")
    assert main(["build_dedup_index", old_dir, idx,
                 "--spark_master", "local[4]"]) == 0

    out = str(tmp_path / "delta_out")
    assert main([
        "dedup_documents", src, out, "--dedup_method", "incremental_exact",
        "--corpus_index", idx, "--num_output_partitions", "1",
        "--spark_master", "local[4]", "--output_compression", "snappy",
    ]) == 0
    got = spark.read.parquet(out)
    old_texts = {r["text"] for r in spark.read.parquet(old_dir).collect()}
    rows = got.collect()
    assert rows and all(r["text"] not in old_texts for r in rows)
    # plus the band-index probe path runs end-to-end
    out2 = str(tmp_path / "cand_out")
    assert main([
        "dedup_documents", src, out2, "--dedup_method", "incremental_minhash",
        "--corpus_index", idx, "--num_output_partitions", "1",
        "--spark_master", "local[4]", "--output_compression", "snappy",
    ]) == 0
    assert set(spark.read.parquet(out2).columns) == {"new_id", "old_id"}


def test_cli_quality_gate(tmp_path):
    """End-to-end CLI: documents parquet → gopher signal frame, and the
    --gate_filter variant keeps exactly the gopher_pass=1 subset."""
    from cc_pyspark_spark.jobs.runner import main

    out_all = str(tmp_path / "signals")
    rc = main([
        "quality_gate", "/root/testdata/sf0.001/documents.parquet", out_all,
        "--num_output_partitions", "2", "--spark_master", "local[4]",
        "--output_compression", "snappy",
    ])
    assert rc == 0
    out_kept = str(tmp_path / "kept")
    rc = main([
        "quality_gate", "/root/testdata/sf0.001/documents.parquet", out_kept,
        "--gate_filter", "--num_output_partitions", "2",
        "--spark_master", "local[4]", "--output_compression", "snappy",
    ])
    assert rc == 0
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    signals = spark.read.parquet(out_all)
    kept = spark.read.parquet(out_kept)
    assert "gopher_pass" in signals.columns
    n_pass = signals.filter("gopher_pass = 1").count()
    assert 0 < n_pass < signals.count()  # the gate is discriminative
    assert kept.count() == n_pass


def test_cli_pack_sequences(tmp_path):
    """End-to-end CLI: documents parquet → packing manifest; every pack
    respects the capacity and every doc appears exactly once."""
    from cc_pyspark_spark.jobs.runner import main

    out = str(tmp_path / "packs")
    rc = main([
        "pack_sequences", "/root/testdata/sf0.001/documents.parquet", out,
        "--pack_capacity", "128", "--num_output_partitions", "2",
        "--spark_master", "local[4]", "--output_compression", "snappy",
    ])
    assert rc == 0
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    packs = spark.read.parquet(out)
    n_docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).count()
    assert packs.count() == n_docs
    # docs larger than capacity get singleton packs; multi-doc packs
    # never exceed capacity
    from pyspark.sql import functions as F

    singleton_over = packs.groupBy("lang", "shard", "pack_seq").agg(
        F.count("*").alias("n"), F.sum("n_tokens").alias("toks")
    ).filter("toks > 128").collect()
    assert all(r["n"] == 1 for r in singleton_over), "oversized multi-doc pack"


def test_cli_analyze_documents(tmp_path):
    """End-to-end CLI: documents parquet → one-pass analysis frame
    (heuristic signals + corpus-trained bigram LM score)."""
    from cc_pyspark_spark.jobs.runner import main

    out = str(tmp_path / "analysis")
    rc = main([
        "analyze_documents", "/root/testdata/sf0.001/documents.parquet", out,
        "--num_output_partitions", "2", "--spark_master", "local[4]",
        "--output_compression", "snappy",
    ])
    assert rc == 0
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    df = spark.read.parquet(out)
    assert set(df.columns) == {
        "doc_id", "lang_pred", "quality_ok", "n_tokens", "n_chars",
        "fp_md5", "n_bigrams", "mean_p",
    }
    n_docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).count()
    assert df.count() == n_docs  # left join keeps <2-token docs
    row = df.filter("mean_p IS NOT NULL").first()
    assert 0.0 < row.mean_p <= 1.0 and len(row.fp_md5) == 32


def test_cli_dedup_prefix_jaccard(tmp_path):
    """CLI exact similarity join: same pair set as the minhash method
    at the same threshold (full fixture recall both ways)."""
    from cc_pyspark_spark.jobs.runner import main

    src = "/root/testdata/sf0.001/documents.parquet"
    out = str(tmp_path / "pairs")
    rc = main([
        "dedup_documents", src, out, "--dedup_method", "prefix_jaccard",
        "--jaccard_threshold", "0.5", "--num_output_partitions", "1",
        "--spark_master", "local[4]", "--output_compression", "snappy",
    ])
    assert rc == 0
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    got = {
        (r.a_id, r.b_id)
        for r in spark.read.parquet(out).collect()
    }
    out2 = str(tmp_path / "mh")
    assert main([
        "dedup_documents", src, out2, "--dedup_method", "minhash",
        "--jaccard_threshold", "0.5", "--num_output_partitions", "1",
        "--spark_master", "local[4]", "--output_compression", "snappy",
    ]) == 0
    mh = {
        tuple(sorted((r.a_id, r.b_id)))
        for r in spark.read.parquet(out2).collect()
    }
    assert got and mh == got


def test_dataset_card_cli(spark, tmp_path):
    from cc_pyspark_spark.jobs.runner import main as runner_main
    from tests.conftest import SF_DIR

    out = str(tmp_path / "card")
    rc = runner_main(
        ["dataset_card", f"{SF_DIR}/documents.parquet", out,
         "--num_output_partitions", "1"]
    )
    assert rc == 0
    card = spark.read.parquet(out).collect()
    assert len(card) == 1
    row = card[0]
    assert row["n_docs"] > 0 and row["total_tokens"] > 0
    assert 0.0 <= row["lang_gini"] < 1.0 and 0.0 <= row["dup_rate"] <= 1.0


def test_cli_dsir_select(tmp_path):
    """End-to-end CLI (r9): documents parquet → DSIR importance frame,
    and --keep_selected resamples exactly the above-median half with
    full document rows, matching the registered query's gate."""
    from cc_pyspark_spark.jobs.runner import main

    src = "/root/testdata/sf0.001/documents.parquet"
    scored_out = str(tmp_path / "scored")
    kept_out = str(tmp_path / "kept")
    rc = main([
        "dsir_select", src, scored_out,
        "--num_output_partitions", "2", "--spark_master", "local[4]",
        "--output_compression", "snappy",
    ])
    assert rc == 0
    rc = main([
        "dsir_select", src, kept_out, "--keep_selected",
        "--num_output_partitions", "2", "--spark_master", "local[4]",
        "--output_compression", "snappy",
    ])
    assert rc == 0
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    scored = spark.read.parquet(scored_out)
    assert set(scored.columns) == {"doc_id", "n_feats", "weight", "selected"}
    n_docs = spark.read.parquet(src).count()
    assert scored.count() == n_docs
    n_sel = scored.filter("selected").count()
    assert 0 < n_sel < n_docs, "median gate must split the corpus"
    kept = spark.read.parquet(kept_out)
    assert kept.count() == n_sel
    # full document rows survive the resample, plus the weight column
    assert {"doc_id", "text", "lang", "weight"} <= set(kept.columns)
    sel_ids = {r["doc_id"] for r in scored.filter("selected").collect()}
    kept_ids = {r["doc_id"] for r in kept.collect()}
    assert kept_ids == sel_ids


def test_cli_coreset_select(tmp_path):
    """End-to-end CLI (r9): embeddings parquet → k-center assignment;
    a larger-than-default k exercises the checkpoint-every-8 path and
    must produce exactly k distinct centers covering every vector."""
    from cc_pyspark_spark.jobs.runner import main

    src = "/root/testdata/sf0.001/embeddings.parquet"
    out = str(tmp_path / "coreset")
    rc = main([
        "coreset_select", src, out, "--coreset_k", "10",
        "--num_output_partitions", "2", "--spark_master", "local[4]",
        "--output_compression", "snappy",
    ])
    assert rc == 0
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    got = spark.read.parquet(out)
    assert set(got.columns) == {"vec_id", "center_id", "d"}
    n = spark.read.parquet(src).count()
    assert got.count() == n
    centers = {r["center_id"] for r in got.select("center_id").distinct().collect()}
    assert len(centers) == 10
    # centers assign to themselves at distance exactly 0
    self_rows = got.filter(got.vec_id == got.center_id).collect()
    assert len(self_rows) == 10 and all(r["d"] == 0.0 for r in self_rows)


def test_cli_container_probe(tmp_path):
    """End-to-end CLI (late r9): parquet of binary blobs -> typed
    container metadata; custom column names exercise the knobs."""
    from pyspark.sql import SparkSession

    from cc_pyspark_spark.jobs.runner import main

    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    f48 = bytes([0xFF, 0xFB, 0x94, 0x00]) + b"\x00" * 380
    src = str(tmp_path / "blobs")
    spark.createDataFrame(
        [(1, f48 * 3), (2, b"opaque junk")], "bid long, payload binary"
    ).write.parquet(src)
    out = str(tmp_path / "probed")
    rc = main([
        "container_probe", src, out, "--blob_id_col", "bid",
        "--blob_col", "payload", "--num_output_partitions", "1",
        "--spark_master", "local[2]",
    ])
    assert rc == 0
    got = {r["bid"]: r.asDict() for r in spark.read.parquet(out).collect()}
    assert got[1]["container"] == "mp3"
    assert got[1]["duration_ms"] == 3 * 1152 * 1000 // 48000
    assert got[2]["container"] is None


def test_cli_snapshot_diff(tmp_path):
    """End-to-end CLI (late r9): old/new parquet releases -> O(churn)
    added/removed/changed report over (key, md5) projections."""
    from pyspark.sql import SparkSession

    from cc_pyspark_spark.jobs.runner import main

    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    old = str(tmp_path / "old")
    new = str(tmp_path / "new")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
    ).write.parquet(old)
    spark.createDataFrame(
        [(1, "a"), (2, "B!"), (4, "d")], "doc_id long, text string"
    ).write.parquet(new)
    out = str(tmp_path / "diff")
    rc = main([
        "snapshot_diff", old, out, "--diff_against", new,
        "--num_output_partitions", "1", "--spark_master", "local[2]",
    ])
    assert rc == 0
    got = {
        r["doc_id"]: r["change"] for r in spark.read.parquet(out).collect()
    }
    assert got == {2: "changed", 3: "removed", 4: "added"}


def test_snapshot_diff_null_payloads():
    """NULL payloads must not confuse the classifier: md5(NULL) is NULL,
    so presence flags (not digest nullability) decide added/removed, and
    the changed branch uses a null-safe comparison — NULL->'x' and
    'b'->NULL are 'changed', NULL->NULL is unchanged (filtered), and a
    key only in new with a NULL payload is still 'added'."""
    from pyspark.sql import SparkSession

    from cc_pyspark_spark.plans.curation import snapshot_diff_frame

    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    old = spark.createDataFrame(
        [(1, None), (2, "b"), (3, None), (5, "e")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "x"), (2, None), (3, None), (4, None)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["change"]
        for r in snapshot_diff_frame(old, new).collect()
    }
    assert got == {1: "changed", 2: "changed", 4: "added", 5: "removed"}


def test_cli_blocklist_filter(tmp_path):
    """End-to-end CLI (r9): documents parquet → Aho-Corasick blocklist
    annotations; --drop_matched emits exactly the zero-hit survivors
    with full rows; --blocklist_file overrides the built-in phrases."""
    from cc_pyspark_spark.jobs.runner import main

    src = "/root/testdata/sf0.001/documents.parquet"
    scored_out = str(tmp_path / "scored")
    kept_out = str(tmp_path / "kept")
    custom_out = str(tmp_path / "custom")
    rc = main([
        "blocklist_filter", src, scored_out,
        "--num_output_partitions", "2", "--spark_master", "local[4]",
        "--output_compression", "snappy",
    ])
    assert rc == 0
    rc = main([
        "blocklist_filter", src, kept_out, "--drop_matched",
        "--num_output_partitions", "2", "--spark_master", "local[4]",
        "--output_compression", "snappy",
    ])
    assert rc == 0
    bl = tmp_path / "phrases.txt"
    bl.write_text("table scan\nzzz never occurs\n")
    rc = main([
        "blocklist_filter", src, custom_out, "--blocklist_file", str(bl),
        "--num_output_partitions", "2", "--spark_master", "local[4]",
        "--output_compression", "snappy",
    ])
    assert rc == 0
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    scored = spark.read.parquet(scored_out)
    assert set(scored.columns) == {"doc_id", "n_hits", "hits"}
    n_docs = spark.read.parquet(src).count()
    assert scored.count() == n_docs
    n_clean = scored.filter("n_hits = 0").count()
    assert 0 < n_clean < n_docs, "fixture phrases must fire on some docs"
    kept = spark.read.parquet(kept_out)
    assert kept.count() == n_clean
    assert {"doc_id", "text", "lang"} <= set(kept.columns)
    clean_ids = {r["doc_id"] for r in scored.filter("n_hits = 0").collect()}
    kept_ids = {r["doc_id"] for r in kept.collect()}
    assert kept_ids == clean_ids
    custom = spark.read.parquet(custom_out)
    hits = {r["hits"] for r in custom.filter("n_hits > 0").collect()}
    assert hits == {"table scan"}, "custom list must replace the default"


def test_cli_corpus_overlap(tmp_path):
    """End-to-end CLI (r9): pairwise KMV overlap estimates between the
    per-source shingle sets; --kmv_k above the universe gives exact
    counts, so the lang grouping (5 sets, 10 pairs) is fully checkable."""
    from cc_pyspark_spark.jobs.runner import main

    src = "/root/testdata/sf0.001/documents.parquet"
    out = str(tmp_path / "overlap")
    rc = main([
        "corpus_overlap", src, out, "--overlap_set_col", "lang",
        "--kmv_k", "1000000",
        "--num_output_partitions", "1", "--spark_master", "local[4]",
        "--output_compression", "snappy",
    ])
    assert rc == 0
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    got = spark.read.parquet(out)
    assert set(got.columns) == {
        "src_a", "src_b", "est_a", "est_b", "est_union",
        "est_intersect", "jaccard_est",
    }
    langs = {r["lang"] for r in spark.read.parquet(src).select("lang").distinct().collect()}
    assert got.count() == len(langs) * (len(langs) - 1) // 2
    row = got.collect()[0]
    # exact mode: union <= a + b, intersect = a + b - union, jaccard in (0,1]
    assert row["est_union"] <= row["est_a"] + row["est_b"]
    assert abs((row["est_a"] + row["est_b"] - row["est_union"]) - row["est_intersect"]) < 1e-9
    assert 0.0 < row["jaccard_est"] <= 1.0


def test_cli_priority_sample(tmp_path):
    """End-to-end CLI (r9): top-k priority sample with unbiased
    adj_weight; --keep_selected joins the kept set back to full rows."""
    from cc_pyspark_spark.jobs.runner import main

    src = "/root/testdata/sf0.001/documents.parquet"
    scored_out = str(tmp_path / "scored")
    kept_out = str(tmp_path / "kept")
    rc = main([
        "priority_sample", src, scored_out, "--sample_k", "50",
        "--num_output_partitions", "1", "--spark_master", "local[4]",
        "--output_compression", "snappy",
    ])
    assert rc == 0
    rc = main([
        "priority_sample", src, kept_out, "--sample_k", "50",
        "--keep_selected",
        "--num_output_partitions", "1", "--spark_master", "local[4]",
        "--output_compression", "snappy",
    ])
    assert rc == 0
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    scored = spark.read.parquet(scored_out)
    assert scored.count() == 50
    assert set(scored.columns) == {"doc_id", "w", "pri", "adj_weight"}
    # adj_weight = max(w, tau) >= w everywhere
    assert scored.filter("adj_weight < w").count() == 0
    kept = spark.read.parquet(kept_out)
    assert kept.count() == 50
    assert {"doc_id", "text", "lang", "adj_weight"} <= set(kept.columns)
    assert {r["doc_id"] for r in kept.collect()} == {
        r["doc_id"] for r in scored.collect()
    }


def test_cli_mine_hard_negatives(tmp_path):
    """End-to-end CLI (r9): per-anchor hard negatives over the
    embeddings table; every row's negative label differs from the
    anchor's and margins reference the best positive."""
    from cc_pyspark_spark.jobs.runner import main

    src = "/root/testdata/sf0.001/embeddings.parquet"
    out = str(tmp_path / "negs")
    rc = main([
        "mine_hard_negatives", src, out,
        "--num_output_partitions", "1", "--spark_master", "local[4]",
        "--output_compression", "snappy",
    ])
    assert rc == 0
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    got = spark.read.parquet(out)
    assert got.count() == 50  # 10 anchors x top-5
    labels = {
        r["vec_id"]: r["label"]
        for r in spark.read.parquet(src).select("vec_id", "label").collect()
    }
    for r in got.collect():
        assert labels[r["n_id"]] != labels[r["q_id"]]
        assert abs((r["pos_cos"] - r["cos"]) - r["margin"]) < 1e-12


def test_cli_graph_analyze(spark, tmp_path):
    """graph_analyze CLI (r9): the analytics tier over
    hostlinks_to_graph's integer edge output — kcore and lpa on a
    two-cliques-plus-bridge graph, pagerank shape sanity."""
    from cc_pyspark_spark.jobs.runner import main

    cliques = [
        (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
        (4, 5), (4, 6), (4, 7), (5, 6), (5, 7), (6, 7),
        (3, 7),
    ]
    edges_path = str(tmp_path / "edges")
    spark.createDataFrame(
        [(int(s), int(t)) for s, t in cliques], "s long, t long"
    ).write.parquet(edges_path)

    out = str(tmp_path / "kcore")
    rc = main([
        "graph_analyze", edges_path, out,
        "--graph_algo", "kcore", "--kcore_k", "3",
        "--num_output_partitions", "1", "--spark_master", "local[4]",
        "--output_compression", "snappy",
    ])
    assert rc == 0
    got = {
        r["id"]: r["deg"] for r in spark.read.parquet(out).collect()
    }
    assert got == {0: 3, 1: 3, 2: 3, 3: 4, 4: 3, 5: 3, 6: 3, 7: 4}

    out = str(tmp_path / "lpa")
    rc = main([
        "graph_analyze", edges_path, out,
        "--graph_algo", "lpa", "--graph_rounds", "4",
        "--num_output_partitions", "1", "--spark_master", "local[4]",
        "--output_compression", "snappy",
    ])
    assert rc == 0
    comm = {
        r["id"]: r["community"] for r in spark.read.parquet(out).collect()
    }
    assert len({comm[v] for v in (0, 1, 2, 3)}) == 1
    assert len({comm[v] for v in (4, 5, 6, 7)}) == 1
    assert comm[0] != comm[4]

    out = str(tmp_path / "pr")
    rc = main([
        "graph_analyze", edges_path, out,
        "--graph_algo", "pagerank", "--graph_rounds", "4",
        "--num_output_partitions", "1", "--spark_master", "local[4]",
        "--output_compression", "snappy",
    ])
    assert rc == 0
    pr = spark.read.parquet(out)
    assert pr.count() == 8
    total = sum(r["rank"] for r in pr.collect())
    assert abs(total - 1.0) < 1e-9


def test_cli_graph_analyze_converged_variants(spark, tmp_path):
    """r11: every converged wrapper is reachable from the CLI — the
    deployment surface, not just the operator layer."""
    from cc_pyspark_spark.jobs.runner import main

    edges_path = str(tmp_path / "edges")
    # directed star with a back-edge: exercises hits (directed) and the
    # undirected canonicalization paths alike
    spark.createDataFrame(
        [(1, 9), (2, 9), (3, 9), (4, 9), (9, 1)], "s long, t long"
    ).write.parquet(edges_path)

    out = str(tmp_path / "hits_conv")
    rc = main([
        "graph_analyze", edges_path, out,
        "--graph_algo", "hits_converged",
        "--num_output_partitions", "1", "--spark_master", "local[4]",
        "--output_compression", "snappy",
    ])
    assert rc == 0
    got = {
        (r["id"], r["kind"]): r["score"]
        for r in spark.read.parquet(out).collect()
    }
    assert got[(9, "auth")] == 1.0 and got[(1, "hub")] == 1.0

    out = str(tmp_path / "lpa_conv")
    rc = main([
        "graph_analyze", edges_path, out,
        "--graph_algo", "lpa_converged",
        "--num_output_partitions", "1", "--spark_master", "local[4]",
        "--output_compression", "snappy",
    ])
    assert rc == 0
    comm = {
        r["id"]: r["community"] for r in spark.read.parquet(out).collect()
    }
    assert len(set(comm.values())) == 1  # one connected blob

    out = str(tmp_path / "pr_conv")
    rc = main([
        "graph_analyze", edges_path, out,
        "--graph_algo", "pagerank_converged",
        "--num_output_partitions", "1", "--spark_master", "local[4]",
        "--output_compression", "snappy",
    ])
    assert rc == 0
    pr = spark.read.parquet(out)
    assert pr.count() == 5
    total = sum(r["r"] for r in pr.collect())
    from cc_pyspark_spark.operators.pagerank import PAGERANK_SCALE

    assert PAGERANK_SCALE * 0.999 < total <= PAGERANK_SCALE


def test_cli_classifier_train(spark, tmp_path):
    """End-to-end CLI (late r9): batch-GD trainer over a documents
    parquet -> 65-row (feature_idx, mu, sd, weight) model table that
    matches the registered query on the same table."""
    from cc_pyspark_spark.jobs.runner import main
    from cc_pyspark_spark.plans.text import CLS_TRAIN_DIM, text_classifier_train

    src = "/root/testdata/sf0.001/documents.parquet"
    out = str(tmp_path / "model")
    rc = main([
        "classifier_train", src, out,
        "--num_output_partitions", "1", "--spark_master", "local[4]",
    ])
    assert rc == 0
    got = {
        r["feature_idx"]: r["weight"]
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r["feature_idx"]: r["weight"]
        for r in text_classifier_train(spark, "/root/testdata/sf0.001").collect()
    }
    assert len(got) == CLS_TRAIN_DIM + 1
    assert got == want


def test_cli_classifier_score(spark, tmp_path):
    """End-to-end CLI (late r9): train -> score serving round-trip;
    --score_filter keeps exactly the predicted-positive docs."""
    from cc_pyspark_spark.jobs.runner import main

    src = "/root/testdata/sf0.001/documents.parquet"
    model = str(tmp_path / "model")
    rc = main([
        "classifier_train", src, model,
        "--num_output_partitions", "1", "--spark_master", "local[4]",
    ])
    assert rc == 0
    scored = str(tmp_path / "scored")
    rc = main([
        "classifier_score", src, scored, "--model_path", model,
        "--num_output_partitions", "1", "--spark_master", "local[4]",
    ])
    assert rc == 0
    ann = spark.read.parquet(scored)
    assert "score" in ann.columns and "pred" in ann.columns
    assert ann.count() == spark.read.parquet(src).count()
    kept_out = str(tmp_path / "kept")
    rc = main([
        "classifier_score", src, kept_out, "--model_path", model,
        "--score_filter",
        "--num_output_partitions", "1", "--spark_master", "local[4]",
    ])
    assert rc == 0
    kept = spark.read.parquet(kept_out)
    want = {r["doc_id"] for r in ann.filter("pred").collect()}
    assert {r["doc_id"] for r in kept.collect()} == want
    assert 0 < len(want) < ann.count()


def test_cli_domain_cap(tmp_path):
    """End-to-end CLI (r10): per-domain cap keeps at most K docs per
    source; --keep_selected emits full annotated rows."""
    from pyspark.sql import SparkSession

    from cc_pyspark_spark.jobs.runner import main

    out = str(tmp_path / "capped")
    rc = main([
        "domain_cap", "/root/testdata/sf0.001/documents.parquet", out,
        "--cap_k", "5", "--num_output_partitions", "1",
        "--spark_master", "local[4]", "--output_compression", "snappy",
    ])
    assert rc == 0
    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    got = spark.read.parquet(out)
    per = {r["source"]: r["n"] for r in
           got.groupBy("source").count().withColumnRenamed("count", "n").collect()}
    assert per and all(n <= 5 for n in per.values())


def test_cli_mix_select(tmp_path):
    """End-to-end CLI (r10): kept docs' token mass never exceeds the
    apportioned budget, and the cutoff bites."""
    from pyspark.sql import SparkSession

    from cc_pyspark_spark.jobs.runner import main

    out = str(tmp_path / "mix")
    rc = main([
        "mix_select", "/root/testdata/sf0.001/documents.parquet", out,
        "--mix_budget", "4000", "--num_output_partitions", "1",
        "--spark_master", "local[4]", "--output_compression", "snappy",
    ])
    assert rc == 0
    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    rows = spark.read.parquet(out).collect()
    assert rows
    assert sum(r["n_tok"] for r in rows) <= 4000
    assert len(rows) < 500  # the budget cutoff actually dropped docs


def test_cli_soft_dedup(tmp_path):
    """End-to-end CLI (r10): every document keeps weight
    1/cluster_size; singletons weigh 1.0 and at least one genuine
    near-dup cluster exists in the fixture."""
    from pyspark.sql import SparkSession

    from cc_pyspark_spark.jobs.runner import main

    out = str(tmp_path / "soft")
    rc = main([
        "soft_dedup", "/root/testdata/sf0.001/documents.parquet", out,
        "--num_output_partitions", "1", "--spark_master", "local[4]",
        "--output_compression", "snappy",
    ])
    assert rc == 0
    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 500  # every document kept (reweighted, not dropped)
    assert all(abs(r["weight"] * r["cluster_size"] - 1.0) < 1e-12 for r in rows)
    assert any(r["cluster_size"] > 1 for r in rows)
    assert any(r["cluster_size"] == 1 and r["weight"] == 1.0 for r in rows)


def _last_report(capsys) -> dict:
    import json as _json

    lines = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    return _json.loads(lines[-1])


def _host_edges(spark, tmp_path) -> str:
    path = str(tmp_path / "host_edges")
    spark.createDataFrame(
        [("com.a", "com.b"), ("com.b", "com.a"), ("com.a", "com.a")], ["s", "t"]
    ).write.parquet(path)
    return path


def test_cli_c4_clean(spark, tmp_path, capsys):
    """End-to-end CLI: documents parquet → one C4 line-rules row per
    document, and --gate_filter keeps exactly the c4_pass=1 subset; each
    report line counts the rows written."""
    from cc_pyspark_spark.jobs.runner import main

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [
            (1, "The first line is fine.\nPlease enable javascript to continue."),
            (2, "no terminal punctuation here"),
            (3, "A good sentence stays.\nvar x = {y};"),
            (4, "Another fine sentence here!\nAnd a second one too."),
        ],
        "doc_id long, text string",
    ).write.parquet(src)
    out_all = str(tmp_path / "cleaned")
    out_kept = str(tmp_path / "kept")
    common = ["--num_output_partitions", "2", "--output_compression", "snappy"]
    assert main(["c4_clean", src, out_all, *common]) == 0
    assert _last_report(capsys) == {
        "job": "c4_clean", "gate_filter": False, "output_rows": 4,
    }
    assert main(["c4_clean", src, out_kept, "--gate_filter", *common]) == 0
    assert _last_report(capsys) == {
        "job": "c4_clean", "gate_filter": True, "output_rows": 2,
    }
    got = {
        r["doc_id"]: (r["n_lines"], r["n_kept"], r["cleaned_text"], r["c4_pass"])
        for r in spark.read.parquet(out_all).collect()
    }
    assert got == {
        1: (2, 1, "The first line is fine.", 1),
        2: (1, 0, "", 0),
        3: (2, 1, "A good sentence stays.", 0),
        4: (2, 2, "Another fine sentence here!\nAnd a second one too.", 1),
    }
    kept = spark.read.parquet(out_kept)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 4]


def test_cli_graph_analyze_cc_and_triangles(spark, tmp_path, capsys):
    """graph_analyze --graph_algo cc labels each component with its
    smallest id; triangles gives one stats row (two K4s joined by a
    bridge: 8 triangles, 30 wedges); each report line counts the rows
    written."""
    from cc_pyspark_spark.jobs.runner import main

    edges = [
        (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
        (4, 5), (4, 6), (4, 7), (5, 6), (5, 7), (6, 7),
        (3, 7), (7, 3), (9, 10), (10, 10),
    ]
    edges_path = str(tmp_path / "edges")
    spark.createDataFrame(edges, "s long, t long").write.parquet(edges_path)
    common = ["--num_output_partitions", "1", "--spark_master", "local[4]",
              "--output_compression", "snappy"]

    out = str(tmp_path / "cc")
    assert main(["graph_analyze", edges_path, out, "--graph_algo", "cc", *common]) == 0
    got = {r["id"]: r["component"] for r in spark.read.parquet(out).collect()}
    assert got == {**dict.fromkeys(range(8), 0), 9: 9, 10: 9}
    assert _last_report(capsys) == {
        "job": "graph_analyze", "algo": "cc", "output_rows": 10,
    }

    out = str(tmp_path / "tri")
    assert main(
        ["graph_analyze", edges_path, out, "--graph_algo", "triangles", *common]
    ) == 0
    (row,) = spark.read.parquet(out).collect()
    assert (row["n_vertices"], row["n_edges"], row["n_triangles"]) == (10, 14, 8)
    assert row["n_wedges"] == 30
    assert abs(row["clustering"] - 0.8) < 1e-12
    assert _last_report(capsys) == {
        "job": "graph_analyze", "algo": "triangles", "output_rows": 1,
    }


def test_cli_hostlinks_to_graph_keeps_output_options(spark, tmp_path, capsys):
    """hostlinks_to_graph writes both outputs through the job writer:
    --output_option reaches them (a CSV header line) and one report
    line gives each output's row count."""
    import glob

    out = str(tmp_path / "graph_csv")
    rc = runner_main([
        "hostlinks_to_graph", _host_edges(spark, tmp_path), out,
        "--num_output_partitions", "1", "--output_format", "csv",
        "--output_compression", "none", "--output_option", "header=true",
    ])
    assert rc == 0
    assert _last_report(capsys) == {
        "job": "hostlinks_to_graph", "vertices_rows": 2, "edges_rows": 2,
    }
    for name, header in (("vertices", "name,id"), ("edges", "s,t")):
        (part,) = glob.glob(f"{out}/{name}/part-*.csv")
        with open(part) as f:
            assert f.readline().strip() == header


def test_cli_hostlinks_to_graph_rejects_save_as_table(spark, tmp_path):
    """The job has two outputs, so one table name cannot hold them:
    it exits before writing anything."""
    edges = _host_edges(spark, tmp_path)
    table = str(tmp_path / "graph_tbl")
    with _pytest.raises(SystemExit, match="save_as_table"):
        runner_main(["hostlinks_to_graph", edges, table, "--save_as_table"])
    assert not (tmp_path / "graph_tbl").exists()


def test_cli_text_output_is_tab_joined(spark, tmp_path):
    """--output_format text writes any job's rows as tab-joined lines
    (the write_text_gz rule), not only hostlinks_to_graph's."""
    import glob

    edges_path = str(tmp_path / "edges")
    spark.createDataFrame([(1, 2), (3, 4)], "s long, t long").write.parquet(edges_path)
    out = str(tmp_path / "cc_text")
    rc = runner_main([
        "graph_analyze", edges_path, out, "--graph_algo", "cc",
        "--num_output_partitions", "1", "--output_format", "text",
        "--output_compression", "none",
    ])
    assert rc == 0
    lines = set()
    for part in glob.glob(f"{out}/part-*"):
        with open(part) as f:
            lines |= set(f.read().splitlines())
    assert lines == {"1\t1", "2\t1", "3\t3", "4\t3"}


@_pytest.mark.parametrize(
    "flag",
    ["--coreset_k", "--pack_capacity", "--kmv_k", "--sample_k", "--cap_k",
     "--mix_budget"],
)
def test_cli_count_flags_reject_zero(monkeypatch, capsys, flag):
    """A count flag of 0 is an argument error, raised before any
    session is built (not a silent fallback to the default)."""
    from cc_pyspark_spark.jobs import runner

    def no_session(*a, **k):
        raise AssertionError("session built before the flag was checked")

    monkeypatch.setattr(runner, "build_session", no_session)
    with _pytest.raises(SystemExit):
        runner.main(["dedup_documents", "in", "out", flag, "0"])
    assert flag in capsys.readouterr().err
