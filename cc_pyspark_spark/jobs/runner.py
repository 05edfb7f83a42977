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
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame

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


#: Jobs over a parquet documents/embeddings table (LLM-pipeline surface)
#: — input is the table path, not a WARC manifest.
DOC_JOBS = (
    "dedup_documents",
    "build_dedup_index",
    "export_training_jsonl",
    "quality_gate",
    "pack_sequences",
    "c4_clean",
    "analyze_documents",
    "zorder_table",
    "dataset_card",
    "dsir_select",
    "coreset_select",
    "container_probe",
    "snapshot_diff",
    "blocklist_filter",
    "corpus_overlap",
    "priority_sample",
    "mine_hard_negatives",
    "classifier_train",
    "classifier_score",
    "domain_cap",
    "mix_select",
    "soft_dedup",
)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="cc-pyspark-spark")
    p.add_argument(
        "job",
        choices=sorted([*JOBS, "hostlinks_to_graph", "graph_analyze", *DOC_JOBS]),
    )
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
        type=int,
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
        type=int,
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
        type=int,
        default=None,
        help="corpus_overlap: KMV sketch size (default "
        "plans.sketches.KMV_K; rel-err ~ 1/sqrt(k-1); k larger than "
        "the set universe degrades gracefully to exact counts)",
    )
    p.add_argument(
        "--graph_algo",
        default="pagerank",
        choices=[
            "pagerank",
            "pagerank_converged",
            "cc",
            "lpa",
            "lpa_converged",
            "kcore",
            "hits",
            "hits_converged",
            "triangles",
        ],
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
        type=int,
        default=None,
        help="priority_sample: kept-set size (default "
        "plans.curation.PRIORITY_SAMPLE_K); with --keep_selected the "
        "full document rows of the kept set are emitted with their "
        "unbiased adj_weight",
    )
    p.add_argument(
        "--cap_k",
        type=int,
        default=None,
        help="domain_cap: documents kept per source domain (default "
        "plans.curation.DOMAIN_CAP_K); with --keep_selected the full "
        "document rows of the kept set are emitted",
    )
    p.add_argument(
        "--mix_budget",
        type=int,
        default=None,
        help="mix_select: total token budget apportioned across "
        "language strata (default plans.curation.MIX_EXEC_BUDGET); "
        "with --keep_selected the full document rows of the kept set "
        "are emitted",
    )
    return p


def write_output(df: DataFrame, args: argparse.Namespace, sort_cols) -> None:
    out = df.coalesce(args.num_output_partitions)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    writer = out.write.format(args.output_format).option(
        "compression", args.output_compression
    )
    for kv in args.output_option:
        k, _, v = kv.partition("=")
        writer = writer.option(k, v)
    if args.save_as_table:
        writer.saveAsTable(args.output)
    else:
        writer.mode("overwrite").save(args.output)



def _run_doc_job(spark, args: argparse.Namespace) -> int:
    """LLM-pipeline jobs over a parquet documents/embeddings table."""
    from cc_pyspark_spark.operators import dedup as D  # noqa: PLC0415

    table = spark.read.parquet(args.input)
    if args.job == "build_dedup_index":
        from cc_pyspark_spark.operators.dedup import (  # noqa: PLC0415
            content_fingerprints,
            minhash_band_index,
        )

        base = args.output.rstrip("/")
        content_fingerprints(table).write.mode("overwrite").parquet(f"{base}/fp")
        minhash_band_index(table).write.mode("overwrite").parquet(f"{base}/bands")
        print(json.dumps({"job": args.job, "index": base}))
        return 0
    if args.job == "analyze_documents":
        from pyspark.sql import functions as F  # noqa: PLC0415

        from cc_pyspark_spark.functions.text import tokenize  # noqa: PLC0415
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
        df = sig.join(bigram_lm_scores_frame(table), "doc_id", "left")
        write_output(df, args, ["doc_id"])
        print(json.dumps({"job": args.job}))
        return 0
    if args.job == "quality_gate":
        from pyspark.sql import functions as F  # noqa: PLC0415

        from cc_pyspark_spark.plans.text import gopher_signals_frame  # noqa: PLC0415

        df = gopher_signals_frame(table)
        if args.gate_filter:
            df = df.filter(F.col("gopher_pass") == 1)
        write_output(df, args, None)
        print(json.dumps({"job": args.job, "gate_filter": args.gate_filter}))
        return 0
    if args.job == "pack_sequences":
        from cc_pyspark_spark.plans.curation import (  # noqa: PLC0415
            PACK_CAPACITY,
            pack_sequences_frame,
        )

        df = pack_sequences_frame(
            table,
            capacity=args.pack_capacity or PACK_CAPACITY,
            tokenizer=args.tokenizer,
        )
        write_output(df, args, ["lang", "shard", "doc_id"])
        print(json.dumps({"job": args.job, "tokenizer": args.tokenizer}))
        return 0
    if args.job == "c4_clean":
        from pyspark.sql import functions as F  # noqa: PLC0415

        from cc_pyspark_spark.plans.c4 import c4_clean_frame  # noqa: PLC0415

        df = c4_clean_frame(table)
        if args.gate_filter:
            df = df.filter(F.col("c4_pass") == 1)
        write_output(df, args, None)
        print(json.dumps({"job": args.job, "gate_filter": args.gate_filter}))
        return 0
    if args.job == "dataset_card":
        from cc_pyspark_spark.plans.curation import dataset_card_frame  # noqa: PLC0415

        write_output(dataset_card_frame(table), args, None)
        print(json.dumps({"job": args.job}))
        return 0
    if args.job == "coreset_select":
        from cc_pyspark_spark.plans.similarity import (  # noqa: PLC0415
            KCENTER_K,
            kcenter_coreset_frame,
        )

        k = args.coreset_k or KCENTER_K
        df = kcenter_coreset_frame(table, k=k)
        write_output(df, args, ["vec_id"])
        print(json.dumps({"job": args.job, "k": k}))
        return 0
    if args.job == "classifier_score":
        from pyspark.sql import functions as F  # noqa: PLC0415

        from cc_pyspark_spark.plans.text import (  # noqa: PLC0415
            classifier_score_frame,
        )

        if not args.model_path:
            raise SystemExit("classifier_score requires --model_path MODEL")
        model = spark.read.parquet(args.model_path)
        df = classifier_score_frame(table, model)
        if args.score_filter:
            df = df.filter(F.col("pred")).drop("pred")
        write_output(df, args, ["doc_id"])
        print(json.dumps({"job": args.job, "filter": args.score_filter}))
        return 0
    if args.job == "classifier_train":
        from cc_pyspark_spark.plans.text import (  # noqa: PLC0415
            CLS_TRAIN_LR,
            CLS_TRAIN_ROUNDS,
            classifier_train_frame,
        )

        df = classifier_train_frame(spark, table)
        write_output(df, args, ["feature_idx"])
        print(json.dumps({
            "job": args.job,
            "rounds": CLS_TRAIN_ROUNDS,
            "lr": CLS_TRAIN_LR,
        }))
        return 0
    if args.job == "snapshot_diff":
        from cc_pyspark_spark.plans.curation import (  # noqa: PLC0415
            snapshot_diff_frame,
        )

        if not args.diff_against:
            raise SystemExit("snapshot_diff requires --diff_against NEW_PATH")
        new = spark.read.parquet(args.diff_against)
        df = snapshot_diff_frame(
            table, new, key=args.key_col, payload=args.payload_col
        )
        write_output(df, args, [args.key_col])
        print(json.dumps({"job": args.job}))
        return 0
    if args.job == "container_probe":
        from cc_pyspark_spark.operators.multimodal import (  # noqa: PLC0415
            probe_containers,
        )

        df = probe_containers(
            table, id_col=args.blob_id_col, blob_col=args.blob_col
        )
        write_output(df, args, [args.blob_id_col])
        print(json.dumps({"job": args.job}))
        return 0
    if args.job == "blocklist_filter":
        from pyspark.sql import functions as F  # noqa: PLC0415

        from cc_pyspark_spark.plans.text import (  # noqa: PLC0415
            BLOCKLIST_PHRASES,
            blocklist_hits_frame,
        )

        if args.blocklist_file:
            import re as _re  # noqa: PLC0415

            from cc_pyspark_spark.functions.text import (  # noqa: PLC0415
                TOKEN_PATTERN,
            )

            # The match side runs over tokenize()-normalized text
            # (lowercase tokens, single-space joined) — phrases must
            # go through the SAME normalization or 'Table Scan' /
            # 'hash-join' could never match and the gate fails OPEN.
            with open(args.blocklist_file) as f:
                phrases = tuple(
                    dict.fromkeys(  # dedup, preserve order
                        " ".join(_re.findall(TOKEN_PATTERN, line.lower()))
                        for line in f
                    )
                )
            phrases = tuple(p for p in phrases if p)
            if not phrases:
                raise SystemExit(
                    f"blocklist file {args.blocklist_file} contains no "
                    "usable phrases after normalization"
                )
        else:
            phrases = BLOCKLIST_PHRASES
        scored = blocklist_hits_frame(table, phrases)
        if args.drop_matched:
            clean = scored.filter(F.col("n_hits") == 0).select("doc_id")
            df = table.join(clean, "doc_id")
        else:
            df = scored
        write_output(df, args, ["doc_id"])
        print(json.dumps({"job": args.job, "n_phrases": len(phrases)}))
        return 0
    if args.job == "corpus_overlap":
        from cc_pyspark_spark.plans.sketches import (  # noqa: PLC0415
            KMV_K,
            theta_sketch_pairs_frame,
        )

        k = args.kmv_k if args.kmv_k is not None else KMV_K
        if k < 1:
            raise SystemExit("--kmv_k must be >= 1")
        df = theta_sketch_pairs_frame(
            table, k=k, set_col=args.overlap_set_col
        )
        write_output(df, args, ["src_a", "src_b"])
        print(json.dumps({"job": args.job, "k": k}))
        return 0
    if args.job == "priority_sample":
        from cc_pyspark_spark.plans.curation import (  # noqa: PLC0415
            PRIORITY_SAMPLE_K,
            priority_sample_frame,
        )

        k = args.sample_k if args.sample_k is not None else PRIORITY_SAMPLE_K
        if k < 1:
            raise SystemExit("--sample_k must be >= 1")
        kept = priority_sample_frame(table, k=k)
        if args.keep_selected:
            df = table.join(
                kept.select("doc_id", "adj_weight"), "doc_id"
            )
        else:
            df = kept
        write_output(df, args, ["doc_id"])
        print(json.dumps({"job": args.job, "k": k}))
        return 0
    if args.job == "domain_cap":
        from cc_pyspark_spark.plans.curation import (  # noqa: PLC0415
            DOMAIN_CAP_K,
            domain_cap_frame,
        )

        k = args.cap_k if args.cap_k is not None else DOMAIN_CAP_K
        if k < 1:
            raise SystemExit("--cap_k must be >= 1")
        kept = domain_cap_frame(table, k)
        if args.keep_selected:
            df = table.join(kept.select("doc_id", "rk"), "doc_id")
        else:
            df = kept
        write_output(df, args, ["doc_id"])
        print(json.dumps({"job": args.job, "cap_k": k}))
        return 0
    if args.job == "mix_select":
        from cc_pyspark_spark.plans.curation import (  # noqa: PLC0415
            MIX_EXEC_BUDGET,
            mix_execute_frame,
        )

        budget = (
            args.mix_budget if args.mix_budget is not None else MIX_EXEC_BUDGET
        )
        if budget < 1:
            raise SystemExit("--mix_budget must be >= 1")
        kept = mix_execute_frame(table, budget)
        if args.keep_selected:
            df = table.join(kept.select("doc_id", "cum_tok"), "doc_id")
        else:
            df = kept
        write_output(df, args, ["doc_id"])
        print(json.dumps({"job": args.job, "mix_budget": budget}))
        return 0
    if args.job == "soft_dedup":
        from cc_pyspark_spark.operators.dedup import (  # noqa: PLC0415
            minhash_lsh_pairs,
            soft_dedup_weights,
        )

        pairs = minhash_lsh_pairs(table, threshold=args.jaccard_threshold)
        weights = soft_dedup_weights(table, pairs)
        if args.keep_selected:
            # full rows annotated with their training weight
            df = table.join(
                weights.select("doc_id", "cluster_size", "weight"), "doc_id"
            )
        else:
            df = weights
        write_output(df, args, ["doc_id"])
        print(json.dumps({"job": args.job}))
        return 0
    if args.job == "mine_hard_negatives":
        from cc_pyspark_spark.plans.similarity import (  # noqa: PLC0415
            sim_hard_negatives_frame,
        )

        df = sim_hard_negatives_frame(table)
        write_output(df, args, ["q_id", "rnk"])
        print(json.dumps({"job": args.job}))
        return 0
    if args.job == "dsir_select":
        from cc_pyspark_spark.plans.curation import (  # noqa: PLC0415
            DSIR_TARGET_LANG,
            dsir_importance_frame,
        )

        target = args.dsir_target_lang or DSIR_TARGET_LANG
        scored = dsir_importance_frame(table, target_lang=target)
        if args.keep_selected:
            # emit the FULL document rows for the above-median half —
            # the resampled training subset, ready for export jobs
            from pyspark.sql import functions as F  # noqa: PLC0415

            kept = scored.filter(F.col("selected")).select(
                "doc_id", "weight"
            )
            df = table.join(kept, "doc_id")
        else:
            df = scored
        write_output(df, args, ["doc_id"])
        print(json.dumps({
            "job": args.job,
            "target_lang": target,
            "keep_selected": args.keep_selected,
        }))
        return 0
    if args.job == "zorder_table":
        from pyspark.sql import functions as F  # noqa: PLC0415

        from cc_pyspark_spark.sources.tables import write_zordered  # noqa: PLC0415

        if not args.zorder_cols:
            raise SystemExit("zorder_table needs --zorder_cols a,b[,c]")
        cols = [c.strip() for c in args.zorder_cols.split(",") if c.strip()]
        bits = 63 // len(cols) if 63 // len(cols) < 16 else 16
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
        print(json.dumps({"job": args.job, "cols": cols, "bits": bits}))
        return 0
    if args.job == "export_training_jsonl":
        from cc_pyspark_spark.operators.export import export_training_jsonl  # noqa: PLC0415

        n = export_training_jsonl(
            table, args.output,
            min_tokens=args.min_tokens, max_tokens=args.max_tokens,
            n_shards=args.num_output_partitions,
        )
        print(json.dumps({"job": args.job, "exported_docs": n}))
        return 0
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
    elif method == "incremental_exact":
        if not args.corpus_index:
            raise SystemExit("incremental_exact needs --corpus_index")
        seen = spark.read.parquet(args.corpus_index.rstrip("/") + "/fp")
        df = D.incremental_exact_dedup(table, seen)
    elif method == "incremental_minhash":
        if not args.corpus_index:
            raise SystemExit("incremental_minhash needs --corpus_index")
        idx = spark.read.parquet(args.corpus_index.rstrip("/") + "/bands")
        df = D.incremental_minhash_candidates(table, idx)
    else:  # cluster
        pairs = D.minhash_lsh_pairs(table, threshold=args.jaccard_threshold)
        df = D.canonical_survivors(table, pairs)
    from pyspark.sql import Observation  # noqa: PLC0415
    from pyspark.sql import functions as F  # noqa: PLC0415

    obs = Observation("doc_job_metrics")
    df = df.observe(obs, F.count(F.lit(1)).alias("output_rows"))
    write_output(df, args, None)
    print(json.dumps({"job": args.job, "method": method, **obs.get}))
    return 0


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


def _rounds(args: argparse.Namespace, default: int) -> int:
    """Per-algorithm --graph_rounds default that still honours an
    explicit 0 (``or default`` would swallow it — the
    label_propagation rounds=0 identity contract is CLI-reachable
    only with a None-test; r11 ADVICE)."""
    return args.graph_rounds if args.graph_rounds is not None else default


def _run_graph_analyze(spark, args: argparse.Namespace) -> int:
    """Graph analytics over an integer (s, t) edge table — the
    downstream consumer of hostlinks_to_graph's edges output (the
    reference stops at graph CONSTRUCTION, hostlinks_to_graph.py; this
    is the analytics tier over it)."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    edges = spark.read.parquet(args.input).select("s", "t")
    algo = args.graph_algo
    if algo == "pagerank":
        from cc_pyspark_spark.operators.pagerank import pagerank_fixed  # noqa: PLC0415

        df = pagerank_fixed(edges, n_iter=_rounds(args, 10))
        sort_cols = ["id"]
    elif algo == "pagerank_converged":
        from cc_pyspark_spark.operators.pagerank import (  # noqa: PLC0415
            pagerank_converged,
        )

        df = pagerank_converged(edges)
        sort_cols = ["id"]
    elif algo == "hits":
        from cc_pyspark_spark.operators.pagerank import hits_fixed  # noqa: PLC0415

        df = hits_fixed(edges, rounds=_rounds(args, 2))
        sort_cols = ["id", "kind"]
    elif algo == "hits_converged":
        from cc_pyspark_spark.operators.pagerank import (  # noqa: PLC0415
            hits_converged,
        )

        df = hits_converged(edges)
        sort_cols = ["id", "kind"]
    elif algo == "cc":
        from cc_pyspark_spark.operators.pagerank import (  # noqa: PLC0415
            cc_alternating_converged,
        )

        df = cc_alternating_converged(edges)
        sort_cols = ["id"]
    else:
        canon = (
            edges.select(
                F.least("s", "t").alias("a"), F.greatest("s", "t").alias("b")
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        if algo == "lpa":
            from cc_pyspark_spark.operators.community import (  # noqa: PLC0415
                label_propagation,
            )

            df = label_propagation(canon, rounds=_rounds(args, 4))
            sort_cols = ["id"]
        elif algo == "lpa_converged":
            from cc_pyspark_spark.operators.community import (  # noqa: PLC0415
                lpa_converged,
            )

            df = lpa_converged(canon)
            sort_cols = ["id"]
        elif algo == "kcore":
            from cc_pyspark_spark.operators.community import (  # noqa: PLC0415
                kcore_converged,
            )

            df = kcore_converged(canon, k=args.kcore_k)
            sort_cols = ["id"]
        else:  # triangles
            from cc_pyspark_spark.operators.pagerank import (  # noqa: PLC0415
                triangle_stats,
            )

            df = triangle_stats(canon)
            sort_cols = None
    write_output(df, args, sort_cols)
    print(json.dumps({"job": args.job, "algo": algo}))
    return 0


def _dispatch_job(spark, args: argparse.Namespace) -> int:
    if args.job == "hostlinks_to_graph":
        # input = (s, t) edge table (parquet), output = <out>/vertices + <out>/edges
        from cc_pyspark_spark.operators.graph import host_links_to_graph  # noqa: PLC0415

        edges_in = spark.read.parquet(args.input)
        vertices, int_edges = host_links_to_graph(
            edges_in,
            validate_host_names=args.validate_host_names,
            normalize_host_names=args.normalize_host_names,
        )
        base = args.output.rstrip("/")
        for name, df in (("vertices", vertices), ("edges", int_edges)):
            out = df.coalesce(args.num_output_partitions)
            if args.output_format == "text":
                from cc_pyspark_spark.sources.tables import write_text_gz  # noqa: PLC0415

                write_text_gz(out, f"{base}/{name}")
            else:
                out.write.format(args.output_format).option(
                    "compression", args.output_compression
                ).mode("overwrite").save(f"{base}/{name}")
        return 0
    if args.job == "graph_analyze":
        return _run_graph_analyze(spark, args)
    if args.job in DOC_JOBS:
        return _run_doc_job(spark, args)
    job_fn, sort_cols, parse_opts = JOBS[args.job]
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
    df = job_fn(records)
    # A8 dataflow metrics: accumulators for the parse stage +
    # df.observe for the output stage, logged after the single action.
    from pyspark.sql import Observation  # noqa: PLC0415
    from pyspark.sql import functions as F  # noqa: PLC0415

    obs = Observation("job_metrics")
    df = df.observe(obs, F.count(F.lit(1)).alias("output_rows"))
    write_output(df, args, sort_cols)
    print(json.dumps({"job": args.job, **metrics.log(), **obs.get}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
