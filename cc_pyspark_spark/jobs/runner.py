"""CLI job runner — the reference's `python job.py <input> <output>`
surface (sparkcc.py:64-120 argparse contract) over the DataFrame jobs.

    python -m cc_pyspark_spark.jobs.runner server_count \
        manifest.txt out_dir --output_format parquet \
        --output_compression zstd --num_input_partitions 64

`output` is a path (directory sink) or, with --save_as_table, a Spark
SQL warehouse table name (reference saveAsTable behavior,
sparkcc.py:219-225). Writes coalesce to --num_output_partitions and
sort within partitions when the job declares a clustering key
(output clustering for compression, wat_extract_links.py:314-320).

Every job ends in `_dispatch_job`'s one tail: write the job's frame,
then print one JSON report line, `{"job", **facts, "output_rows"}`
(plus the WARC parse counters for the crawl jobs).
"""

from __future__ import annotations

import argparse
import importlib
import json
import re
import sys

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from cc_pyspark_spark.functions.text import TOKEN_PATTERN, tokenize
from cc_pyspark_spark.jobs.pipelines import (
    html_tag_count,
    server_count,
    server_ip_address,
    sitemaps_from_robotstxt,
    warc_to_documents,
    wat_extract_host_links,
    word_count,
)
from cc_pyspark_spark.session import build_session
from cc_pyspark_spark.sources.tables import _tab_joined
from cc_pyspark_spark.sources.warc import WarcMetrics, warc_records

#: name → (pipeline, output sort key, `warc_records` parse options).
JOBS = {
    "server_count": (server_count, None, {}),
    "html_tag_count": (html_tag_count, None, {}),
    "word_count": (word_count, None, {}),
    "server_ip_address": (server_ip_address, None, {}),
    "sitemaps_from_robotstxt": (sitemaps_from_robotstxt, None, {}),
    "wat_extract_host_links": (wat_extract_host_links, ["s", "t"], {}),
    # crawl → documents-table bridge (parse-time decode → html→text →
    # lang/quality gates → distributed dense doc_ids)
    "warc_to_documents": (
        warc_to_documents, ["doc_id"], {"decode_payload_text": True}
    ),
}


#: Jobs over a parquet table (documents, embeddings, edges, …): name →
#: `job(spark, table, args)` returning (frame to write or None when the
#: job wrote its own output, output sort key, report facts). Filled by
#: `_doc_job` below.
DOC_JOBS: dict = {}


def _doc_job(name: str):
    def register(fn):
        DOC_JOBS[name] = fn
        return fn

    return register


def _rounds(args: argparse.Namespace, default: int) -> int:
    """Per-algorithm --graph_rounds default that still honours an
    explicit 0 (``or default`` would swallow it — the
    label_propagation rounds=0 identity contract is CLI-reachable
    only with a None-test; r11 ADVICE)."""
    return args.graph_rounds if args.graph_rounds is not None else default


def _op(module: str, name: str):
    """`cc_pyspark_spark.operators.<module>.<name>`, imported when the
    algorithm runs."""
    return getattr(importlib.import_module(f"cc_pyspark_spark.operators.{module}"), name)


#: graph_analyze --graph_algo → (operator call over (edges, args),
#: canonical undirected edges?, output sort key).
GRAPH_ALGOS = {
    "pagerank": (
        lambda e, a: _op("pagerank", "pagerank_fixed")(e, n_iter=_rounds(a, 10)),
        False, ["id"],
    ),
    "pagerank_converged": (
        lambda e, a: _op("pagerank", "pagerank_converged")(e), False, ["id"],
    ),
    "cc": (
        lambda e, a: _op("pagerank", "cc_alternating_converged")(e), False, ["id"],
    ),
    "lpa": (
        lambda e, a: _op("community", "label_propagation")(e, rounds=_rounds(a, 4)),
        True, ["id"],
    ),
    "lpa_converged": (
        lambda e, a: _op("community", "lpa_converged")(e), True, ["id"],
    ),
    "kcore": (
        lambda e, a: _op("community", "kcore_converged")(e, k=a.kcore_k),
        True, ["id"],
    ),
    "hits": (
        lambda e, a: _op("pagerank", "hits_fixed")(e, rounds=_rounds(a, 2)),
        False, ["id", "kind"],
    ),
    "hits_converged": (
        lambda e, a: _op("pagerank", "hits_converged")(e), False, ["id", "kind"],
    ),
    "triangles": (
        lambda e, a: _op("pagerank", "triangle_stats")(e), True, None,
    ),
}


def _positive_int(text: str) -> int:
    """argparse type of the count flags: an integer >= 1, so `args.x or
    DEFAULT` falls back only when the flag is absent."""
    try:
        n = int(text)
    except ValueError:
        n = 0
    if n < 1:
        raise argparse.ArgumentTypeError(f"expected an integer >= 1, got {text!r}")
    return n


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="cc-pyspark-spark")
    p.add_argument("job", choices=sorted([*JOBS, *DOC_JOBS]))
    p.add_argument("input", help="manifest of WARC/WAT/WET file URIs "
                   "(for hostlinks_to_graph: parquet edge table; for "
                   "dedup_documents/export_training_jsonl: parquet "
                   "documents — or embeddings — table)")
    p.add_argument("output", help="output path (or table name with --save_as_table)")
    p.add_argument("--num_input_partitions", type=int, default=400)
    p.add_argument("--num_output_partitions", type=int, default=10)
    p.add_argument("--input_base_url", default=None)
    p.add_argument("--validate_host_names", action="store_true")
    p.add_argument("--normalize_host_names", action="store_true")
    p.add_argument(
        "--output_format",
        default="parquet",
        choices=["parquet", "orc", "json", "csv", "text"],
    )
    p.add_argument("--output_compression", default="gzip")
    p.add_argument(
        "--output_option", action="append", default=[], metavar="KEY=VALUE"
    )
    p.add_argument("--save_as_table", action="store_true")
    p.add_argument("--log_level", default="WARN")
    p.add_argument("--spark_master", default=None)
    p.add_argument(
        "--local_temp_dir",
        default=None,
        help="spool remote archives to this local directory before "
        "parsing (sparkcc.py:308-318)",
    )
    p.add_argument(
        "--profile",
        action="store_true",
        help="profile the driver with cProfile and print cumulative "
        "top-50 to stderr (sparkcc.py:180-191)",
    )
    # ---- LLM-pipeline knobs (dedup_documents / export_training_jsonl)
    p.add_argument(
        "--dedup_method",
        default="minhash",
        choices=[
            "exact", "minhash", "prefix_jaccard", "simhash",
            "embedding_lsh", "cluster",
            "incremental_exact", "incremental_minhash",
        ],
        help="dedup_documents: exact survivors, minhash/embedding pairs, "
        "simhash signatures, cluster (pairs → components → canonical), or "
        "incremental_* (delta vs a --corpus_index built by "
        "build_dedup_index)",
    )
    p.add_argument(
        "--corpus_index",
        default=None,
        help="index directory from build_dedup_index (fp/ + bands/) for "
        "the incremental_* dedup methods",
    )
    p.add_argument("--jaccard_threshold", type=float, default=0.5)
    p.add_argument("--cosine_threshold", type=float, default=0.42)
    p.add_argument(
        "--lsh_band_bits", type=int, default=None,
        help="sign-LSH band width (default: production 16; couple to "
        "--cosine_threshold — narrow bands for low thresholds)",
    )
    p.add_argument("--lsh_bands", type=int, default=None)
    p.add_argument(
        "--lsh_multiprobe", action="store_true",
        help="also probe Hamming-1 buckets per band (recall lever)",
    )
    p.add_argument("--min_tokens", type=int, default=5)
    p.add_argument("--max_tokens", type=int, default=100_000)
    p.add_argument(
        "--gate_filter",
        action="store_true",
        help="quality_gate / c4_clean: keep only gate-passing docs "
        "instead of emitting the full signals frame",
    )
    p.add_argument(
        "--pack_capacity",
        type=_positive_int,
        default=None,
        help="pack_sequences: max tokens per pack (default "
        "plans.curation.PACK_CAPACITY)",
    )
    p.add_argument(
        "--tokenizer",
        choices=["regex", "bpe"],
        default="regex",
        help="pack_sequences capacity unit: regex word proxy or the "
        "vendored byte-level BPE tokenizer (functions/bpe.py)",
    )
    p.add_argument(
        "--zorder_cols",
        default=None,
        help="zorder_table: comma-separated integer columns to "
        "interleave into the layout key",
    )
    p.add_argument(
        "--dsir_target_lang",
        default=None,
        help="dsir_select: lang value defining the TARGET distribution "
        "(default plans.curation.DSIR_TARGET_LANG)",
    )
    p.add_argument(
        "--keep_selected",
        action="store_true",
        help="dsir_select / priority_sample: emit the selected "
        "documents' full rows (joined back) instead of the scored "
        "frame",
    )
    p.add_argument(
        "--model_path",
        default=None,
        help="classifier_score: parquet path of the trained "
        "(feature_idx, mu, sd, weight) model table (the "
        "classifier_train output); --score_filter keeps only "
        "predicted-quality rows",
    )
    p.add_argument(
        "--score_filter",
        action="store_true",
        help="classifier_score: drop predicted-negative documents "
        "instead of annotating",
    )
    p.add_argument(
        "--diff_against",
        default=None,
        help="snapshot_diff: parquet path of the NEW release (the "
        "positional input is the old one); --key_col/--payload_col "
        "name the join key and hashed payload column",
    )
    p.add_argument("--key_col", default="doc_id")
    p.add_argument("--payload_col", default="text")
    p.add_argument(
        "--blob_id_col",
        default="blob_id",
        help="container_probe: name of the id column in the input table",
    )
    p.add_argument(
        "--blob_col",
        default="blob",
        help="container_probe: name of the binary blob column",
    )
    p.add_argument(
        "--coreset_k",
        type=_positive_int,
        default=None,
        help="coreset_select: number of greedy farthest-point centers "
        "(default plans.similarity.KCENTER_K; center lineage "
        "checkpoints every 8 rounds for large k)",
    )
    p.add_argument(
        "--blocklist_file",
        default=None,
        help="blocklist_filter: newline-separated phrase list (word-"
        "boundary, lowercase tokens); default is the built-in fixture "
        "list. The Aho-Corasick pass costs the same at 10 or 10^6 "
        "phrases",
    )
    p.add_argument(
        "--drop_matched",
        action="store_true",
        help="blocklist_filter: emit the SURVIVING full document rows "
        "(curation-gate mode) instead of per-doc match annotations",
    )
    p.add_argument(
        "--overlap_set_col",
        default="source",
        help="corpus_overlap: grouping column whose shingle sets are "
        "compared pairwise (e.g. source, lang)",
    )
    p.add_argument(
        "--kmv_k",
        type=_positive_int,
        default=None,
        help="corpus_overlap: KMV sketch size (default "
        "plans.sketches.KMV_K; rel-err ~ 1/sqrt(k-1); k larger than "
        "the set universe degrades gracefully to exact counts)",
    )
    p.add_argument(
        "--graph_algo",
        default="pagerank",
        choices=list(GRAPH_ALGOS),
        help="graph_analyze: algorithm over the (s, t) integer edge "
        "table (the hostlinks_to_graph edges output). pagerank/hits "
        "use the directed edges; cc/lpa/kcore/triangles canonicalize "
        "to undirected first. The *_converged variants and cc/kcore "
        "run their fixed-point probe wrappers (no round count to "
        "guess; exhaustion RAISES); pagerank/lpa/hits run "
        "--graph_rounds fixed rounds",
    )
    p.add_argument(
        "--graph_rounds",
        type=int,
        default=None,
        help="graph_analyze: round count for pagerank (default 10) / "
        "lpa (default 4); ignored by the fixed-point algorithms",
    )
    p.add_argument(
        "--kcore_k",
        type=int,
        default=8,
        help="graph_analyze --graph_algo kcore: minimum within-core "
        "degree",
    )
    p.add_argument(
        "--sample_k",
        type=_positive_int,
        default=None,
        help="priority_sample: kept-set size (default "
        "plans.curation.PRIORITY_SAMPLE_K); with --keep_selected the "
        "full document rows of the kept set are emitted with their "
        "unbiased adj_weight",
    )
    p.add_argument(
        "--cap_k",
        type=_positive_int,
        default=None,
        help="domain_cap: documents kept per source domain (default "
        "plans.curation.DOMAIN_CAP_K); with --keep_selected the full "
        "document rows of the kept set are emitted",
    )
    p.add_argument(
        "--mix_budget",
        type=_positive_int,
        default=None,
        help="mix_select: total token budget apportioned across "
        "language strata (default plans.curation.MIX_EXEC_BUDGET); "
        "with --keep_selected the full document rows of the kept set "
        "are emitted",
    )
    return p


def write_output(
    df: DataFrame, args: argparse.Namespace, sort_cols, path: str | None = None
) -> int:
    """Write `df` to `path` (default: the job's output) and return its
    row count, observed at the write. `text` output is one tab-joined
    line per row (the write_text_gz rule)."""
    obs = Observation("job_metrics")
    out = df.observe(obs, F.count(F.lit(1)).alias("output_rows"))
    out = out.coalesce(args.num_output_partitions)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    if args.output_format == "text":
        out = _tab_joined(out)
    writer = out.write.format(args.output_format).option(
        "compression", args.output_compression
    )
    for kv in args.output_option:
        k, _, v = kv.partition("=")
        writer = writer.option(k, v)
    if args.save_as_table:
        writer.saveAsTable(path or args.output)
    else:
        writer.mode("overwrite").save(path or args.output)
    return obs.get["output_rows"]


def _join_back(args, table: DataFrame, frame: DataFrame, *cols, where=None):
    """With --keep_selected, the full `table` rows of the documents
    `frame` kept (the rows `where` selects, if given) plus its `cols`;
    otherwise `frame` itself."""
    if not args.keep_selected:
        return frame
    kept = frame if where is None else frame.filter(where)
    return table.join(kept.select("doc_id", *cols), "doc_id")


@_doc_job("dedup_documents")
def _dedup_documents(spark, table, args):
    from cc_pyspark_spark.operators import dedup as D  # noqa: PLC0415

    method = args.dedup_method
    if method == "exact":
        df = D.exact_dedup_keep_first(table, ["text"], "doc_id")
    elif method == "minhash":
        df = D.minhash_lsh_pairs(table, threshold=args.jaccard_threshold)
    elif method == "prefix_jaccard":
        # Exact similarity join (AllPairs/PPJoin): recall by theorem —
        # for audits where LSH's probabilistic recall is unacceptable.
        df = D.prefix_filter_jaccard_pairs(
            table, threshold=args.jaccard_threshold
        )
    elif method == "simhash":
        df = D.simhash_signatures(table)
    elif method == "embedding_lsh":
        kw = {}
        if args.lsh_band_bits is not None:
            kw["band_bits"] = args.lsh_band_bits
        if args.lsh_bands is not None:
            kw["n_bands"] = args.lsh_bands
        df = D.sign_lsh_pairs(
            table,
            threshold=args.cosine_threshold,
            multiprobe=1 if args.lsh_multiprobe else 0,
            **kw,
        )
    elif method.startswith("incremental_"):
        if not args.corpus_index:
            raise SystemExit(f"{method} needs --corpus_index")
        base = args.corpus_index.rstrip("/")
        if method == "incremental_exact":
            df = D.incremental_exact_dedup(table, spark.read.parquet(f"{base}/fp"))
        else:
            idx = spark.read.parquet(f"{base}/bands")
            df = D.incremental_minhash_candidates(table, idx)
    else:  # cluster
        pairs = D.minhash_lsh_pairs(table, threshold=args.jaccard_threshold)
        df = D.canonical_survivors(table, pairs)
    return df, None, {"method": method}


@_doc_job("build_dedup_index")
def _build_dedup_index(spark, table, args):
    from cc_pyspark_spark.operators.dedup import (  # noqa: PLC0415
        content_fingerprints,
        minhash_band_index,
    )

    base = args.output.rstrip("/")
    content_fingerprints(table).write.mode("overwrite").parquet(f"{base}/fp")
    minhash_band_index(table).write.mode("overwrite").parquet(f"{base}/bands")
    return None, None, {"index": base}


@_doc_job("export_training_jsonl")
def _export_training_jsonl(spark, table, args):
    from cc_pyspark_spark.operators.export import export_training_jsonl  # noqa: PLC0415

    n = export_training_jsonl(
        table, args.output,
        min_tokens=args.min_tokens, max_tokens=args.max_tokens,
        n_shards=args.num_output_partitions,
    )
    return None, None, {"exported_docs": n}


@_doc_job("analyze_documents")
def _analyze_documents(spark, table, args):
    from cc_pyspark_spark.plans.text import (  # noqa: PLC0415
        bigram_lm_scores_frame,
        lang_id_col,
        quality_ok_col,
    )

    # One-pass per-document analysis: heuristics are pure columns;
    # the LM score adds the corpus-trained bigram model (left join —
    # <2-token docs keep NULL LM columns rather than vanishing).
    sig = table.select(
        "doc_id",
        lang_id_col("text").alias("lang_pred"),
        quality_ok_col("text").alias("quality_ok"),
        F.size(tokenize("text")).cast("bigint").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
        F.md5(F.col("text").cast("binary")).alias("fp_md5"),
    )
    return sig.join(bigram_lm_scores_frame(table), "doc_id", "left"), ["doc_id"], {}


@_doc_job("quality_gate")
def _quality_gate(spark, table, args):
    from cc_pyspark_spark.plans.text import gopher_signals_frame  # noqa: PLC0415

    df = gopher_signals_frame(table)
    if args.gate_filter:
        df = df.filter(F.col("gopher_pass") == 1)
    return df, None, {"gate_filter": args.gate_filter}


@_doc_job("c4_clean")
def _c4_clean(spark, table, args):
    from cc_pyspark_spark.plans.c4 import c4_clean_frame  # noqa: PLC0415

    df = c4_clean_frame(table)
    if args.gate_filter:
        df = df.filter(F.col("c4_pass") == 1)
    return df, None, {"gate_filter": args.gate_filter}


@_doc_job("pack_sequences")
def _pack_sequences(spark, table, args):
    from cc_pyspark_spark.plans.curation import (  # noqa: PLC0415
        PACK_CAPACITY,
        pack_sequences_frame,
    )

    df = pack_sequences_frame(
        table,
        capacity=args.pack_capacity or PACK_CAPACITY,
        tokenizer=args.tokenizer,
    )
    return df, ["lang", "shard", "doc_id"], {"tokenizer": args.tokenizer}


@_doc_job("dataset_card")
def _dataset_card(spark, table, args):
    from cc_pyspark_spark.plans.curation import dataset_card_frame  # noqa: PLC0415

    return dataset_card_frame(table), None, {}


@_doc_job("coreset_select")
def _coreset_select(spark, table, args):
    from cc_pyspark_spark.plans.similarity import (  # noqa: PLC0415
        KCENTER_K,
        kcenter_coreset_frame,
    )

    k = args.coreset_k or KCENTER_K
    return kcenter_coreset_frame(table, k=k), ["vec_id"], {"k": k}


@_doc_job("classifier_train")
def _classifier_train(spark, table, args):
    from cc_pyspark_spark.plans.text import (  # noqa: PLC0415
        CLS_TRAIN_LR,
        CLS_TRAIN_ROUNDS,
        classifier_train_frame,
    )

    facts = {"rounds": CLS_TRAIN_ROUNDS, "lr": CLS_TRAIN_LR}
    return classifier_train_frame(spark, table), ["feature_idx"], facts


@_doc_job("classifier_score")
def _classifier_score(spark, table, args):
    from cc_pyspark_spark.plans.text import classifier_score_frame  # noqa: PLC0415

    if not args.model_path:
        raise SystemExit("classifier_score requires --model_path MODEL")
    df = classifier_score_frame(table, spark.read.parquet(args.model_path))
    if args.score_filter:
        df = df.filter(F.col("pred")).drop("pred")
    return df, ["doc_id"], {"filter": args.score_filter}


@_doc_job("snapshot_diff")
def _snapshot_diff(spark, table, args):
    from cc_pyspark_spark.plans.curation import snapshot_diff_frame  # noqa: PLC0415

    if not args.diff_against:
        raise SystemExit("snapshot_diff requires --diff_against NEW_PATH")
    df = snapshot_diff_frame(
        table, spark.read.parquet(args.diff_against),
        key=args.key_col, payload=args.payload_col,
    )
    return df, [args.key_col], {}


@_doc_job("container_probe")
def _container_probe(spark, table, args):
    from cc_pyspark_spark.operators.multimodal import probe_containers  # noqa: PLC0415

    df = probe_containers(table, id_col=args.blob_id_col, blob_col=args.blob_col)
    return df, [args.blob_id_col], {}


@_doc_job("blocklist_filter")
def _blocklist_filter(spark, table, args):
    from cc_pyspark_spark.plans.text import (  # noqa: PLC0415
        BLOCKLIST_PHRASES,
        blocklist_hits_frame,
    )

    phrases = BLOCKLIST_PHRASES
    if args.blocklist_file:
        # The match side runs over tokenize()-normalized text
        # (lowercase tokens, single-space joined) — phrases must
        # go through the SAME normalization or 'Table Scan' /
        # 'hash-join' could never match and the gate fails OPEN.
        with open(args.blocklist_file) as f:
            phrases = tuple(
                dict.fromkeys(  # dedup, preserve order
                    " ".join(re.findall(TOKEN_PATTERN, line.lower()))
                    for line in f
                )
            )
        phrases = tuple(p for p in phrases if p)
        if not phrases:
            raise SystemExit(
                f"blocklist file {args.blocklist_file} contains no "
                "usable phrases after normalization"
            )
    df = blocklist_hits_frame(table, phrases)
    if args.drop_matched:
        df = table.join(df.filter(F.col("n_hits") == 0).select("doc_id"), "doc_id")
    return df, ["doc_id"], {"n_phrases": len(phrases)}


@_doc_job("corpus_overlap")
def _corpus_overlap(spark, table, args):
    from cc_pyspark_spark.plans.sketches import (  # noqa: PLC0415
        KMV_K,
        theta_sketch_pairs_frame,
    )

    k = args.kmv_k or KMV_K
    df = theta_sketch_pairs_frame(table, k=k, set_col=args.overlap_set_col)
    return df, ["src_a", "src_b"], {"k": k}


@_doc_job("priority_sample")
def _priority_sample(spark, table, args):
    from cc_pyspark_spark.plans.curation import (  # noqa: PLC0415
        PRIORITY_SAMPLE_K,
        priority_sample_frame,
    )

    k = args.sample_k or PRIORITY_SAMPLE_K
    df = _join_back(args, table, priority_sample_frame(table, k=k), "adj_weight")
    return df, ["doc_id"], {"k": k}


@_doc_job("domain_cap")
def _domain_cap(spark, table, args):
    from cc_pyspark_spark.plans.curation import (  # noqa: PLC0415
        DOMAIN_CAP_K,
        domain_cap_frame,
    )

    k = args.cap_k or DOMAIN_CAP_K
    df = _join_back(args, table, domain_cap_frame(table, k), "rk")
    return df, ["doc_id"], {"cap_k": k}


@_doc_job("mix_select")
def _mix_select(spark, table, args):
    from cc_pyspark_spark.plans.curation import (  # noqa: PLC0415
        MIX_EXEC_BUDGET,
        mix_execute_frame,
    )

    budget = args.mix_budget or MIX_EXEC_BUDGET
    df = _join_back(args, table, mix_execute_frame(table, budget), "cum_tok")
    return df, ["doc_id"], {"mix_budget": budget}


@_doc_job("soft_dedup")
def _soft_dedup(spark, table, args):
    from cc_pyspark_spark.operators.dedup import (  # noqa: PLC0415
        minhash_lsh_pairs,
        soft_dedup_weights,
    )

    pairs = minhash_lsh_pairs(table, threshold=args.jaccard_threshold)
    # with --keep_selected: full rows annotated with their training weight
    df = _join_back(
        args, table, soft_dedup_weights(table, pairs), "cluster_size", "weight"
    )
    return df, ["doc_id"], {}


@_doc_job("mine_hard_negatives")
def _mine_hard_negatives(spark, table, args):
    from cc_pyspark_spark.plans.similarity import sim_hard_negatives_frame  # noqa: PLC0415

    return sim_hard_negatives_frame(table), ["q_id", "rnk"], {}


@_doc_job("dsir_select")
def _dsir_select(spark, table, args):
    from cc_pyspark_spark.plans.curation import (  # noqa: PLC0415
        DSIR_TARGET_LANG,
        dsir_importance_frame,
    )

    target = args.dsir_target_lang or DSIR_TARGET_LANG
    # with --keep_selected: the FULL document rows of the above-median
    # half — the resampled training subset, ready for export jobs
    df = _join_back(
        args, table, dsir_importance_frame(table, target_lang=target),
        "weight", where=F.col("selected"),
    )
    return df, ["doc_id"], {"target_lang": target, "keep_selected": args.keep_selected}


@_doc_job("zorder_table")
def _zorder_table(spark, table, args):
    from cc_pyspark_spark.sources.tables import write_zordered  # noqa: PLC0415

    cols = [c.strip() for c in (args.zorder_cols or "").split(",") if c.strip()]
    if not cols:
        raise SystemExit("zorder_table needs --zorder_cols a,b[,c]")
    bits = min(63 // len(cols), 16)
    # RANGE-scale each column into [0, 2^bits): (v - min) spread
    # over the actual value range. A modulo here would destroy the
    # min/max pruning the job exists to create — every output file
    # would span the full raw domain once values exceed 2^bits
    # (code-review r7). Min/max come from a 1-row broadcast; exact
    # while (range * 2^bits) fits BIGINT (range <= ~1.4e14).
    stats = table.agg(
        *[
            f
            for c in cols
            for f in (
                F.min(F.col(c).cast("bigint")).alias(f"__mn_{c}"),
                F.max(F.col(c).cast("bigint")).alias(f"__mx_{c}"),
            )
        ]
    )
    scaled = table.crossJoin(F.broadcast(stats)).select(
        *table.columns,
        *[
            F.expr(
                f"CAST(((cast({c} AS bigint) - __mn_{c}) * {1 << bits}) "
                f"div (__mx_{c} - __mn_{c} + 1) AS BIGINT)"
            ).alias(f"__zs_{c}")
            for c in cols
        ],
    )
    write_zordered(
        scaled,
        args.output,
        [f"__zs_{c}" for c in cols],
        bits=bits,
        num_files=args.num_output_partitions,
        drop_zcols=True,
    )
    return None, None, {"cols": cols, "bits": bits}


@_doc_job("hostlinks_to_graph")
def _hostlinks_to_graph(spark, table, args):
    """(s, t) host-name edge table → <output>/vertices + <output>/edges."""
    from cc_pyspark_spark.operators.graph import host_links_to_graph  # noqa: PLC0415

    if args.save_as_table:
        raise SystemExit(
            "hostlinks_to_graph writes two outputs (vertices, edges); "
            "--save_as_table takes one table name"
        )
    vertices, edges = host_links_to_graph(
        table,
        validate_host_names=args.validate_host_names,
        normalize_host_names=args.normalize_host_names,
    )
    base = args.output.rstrip("/")
    return None, None, {
        f"{name}_rows": write_output(df, args, None, f"{base}/{name}")
        for name, df in (("vertices", vertices), ("edges", edges))
    }


@_doc_job("graph_analyze")
def _graph_analyze(spark, table, args):
    """Graph analytics over an integer (s, t) edge table — the
    downstream consumer of hostlinks_to_graph's edges output (the
    reference stops at graph CONSTRUCTION, hostlinks_to_graph.py; this
    is the analytics tier over it)."""
    run, undirected, sort_cols = GRAPH_ALGOS[args.graph_algo]
    edges = table.select("s", "t")
    if undirected:
        edges = (
            edges.select(
                F.least("s", "t").alias("a"), F.greatest("s", "t").alias("b")
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
    return run(edges, args), sort_cols, {"algo": args.graph_algo}


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.profile:
        # Driver-side profile (sparkcc.py:180-191 parity). Worker-side
        # Python profiling is spark.python.profile, orthogonal to this.
        import cProfile  # noqa: PLC0415
        import pstats  # noqa: PLC0415

        args.profile = False
        prof = cProfile.Profile()
        rc = prof.runcall(main_with_args, args)
        pstats.Stats(prof, stream=sys.stderr).sort_stats("cumulative").print_stats(50)
        return rc
    return main_with_args(args)


def main_with_args(args: argparse.Namespace) -> int:
    spark = build_session(app_name=f"cc-pyspark-spark:{args.job}", master=args.spark_master)
    spark.sparkContext.setLogLevel(args.log_level)
    try:
        return _dispatch_job(spark, args)
    finally:
        # Operator-internal persists (LSH band tables, adjacency, …)
        # are tracked; free their blocks once the job's action ran so
        # repeated invocations in a long-lived session don't accumulate
        # cached partitions until eviction pressure (ADVICE r8).
        from cc_pyspark_spark.caching import release_caches  # noqa: PLC0415

        release_caches()


def _dispatch_job(spark, args: argparse.Namespace) -> int:
    """Read the input, run the job, write its frame and print the one
    report line."""
    metrics = None
    if args.job in JOBS:
        pipeline, sort_cols, parse_opts = JOBS[args.job]
        metrics = WarcMetrics(spark)
        records = warc_records(
            spark,
            args.input,
            input_base_url=args.input_base_url,
            num_input_partitions=args.num_input_partitions,
            metrics=metrics,
            local_temp_dir=args.local_temp_dir,
            **parse_opts,
        )
        df, facts = pipeline(records), {}
    else:
        df, sort_cols, facts = DOC_JOBS[args.job](
            spark, spark.read.parquet(args.input), args
        )
    if df is not None:
        facts["output_rows"] = write_output(df, args, sort_cols)
    if metrics is not None:
        # A8 dataflow metrics: the parse stage's accumulators, read
        # after the write (the job's single action).
        facts.update(metrics.log())
    print(json.dumps({"job": args.job, **facts}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
