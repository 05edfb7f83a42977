#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints the full record as one JSON line, then a compact final line
(at most TAIL_LIMIT characters) with the headline total and the
medians of the slowest rows:
  {"metric": "total_headline_sec", "value": N, "unit": "sec", "sf": ...,
   "n_queries": ..., "queries": {name: sec, ...}}

Every row is timed by one sampler (_sample): the clock starts before
the row's builder is called and stops when the `noop` sink (which
materializes every row and writes nothing) returns. Catalyst analysis
and every Spark job a builder runs while it builds (eager checkpoints,
loop rounds, driver-side scalars) therefore count toward the row, and
the builder's share is recorded as "build_sec". Run 0 of a row is
recorded as "cold_sec"; the row's number is the MEDIAN of the next
SPARK_GRAFT_RUNS runs, with the relative spread ((max-min)/median)
under "spread". A row whose spread exceeds 0.4 is re-measured once
and the tighter batch is kept. Records written before the sampler
timed 75 of the 101 rows write-only (builder outside the clock), so
their totals are not comparable with later ones.

Calibration (r6, idle guest): two back-to-back runs of identical code
still differ ~±20% *wholesale* — min, median, and p25 over the same
raw samples all drift together, so the noise is host-level (shared
hypervisor CPU), not per-sample jitter a better estimator could
remove. Interpretation rule: a round-over-round per-query delta is
signal only if it exceeds that query's recorded "spread"; headline
totals within ~20% of the previous round are noise.

Environment (validated by settings() before any session starts):
  SPARK_GRAFT_SF_DIR  table directory (default: the sf0.1 test data;
                      scripts/gen_scaled_sf.py builds larger ones)
  SPARK_GRAFT_CPUS    local[N] and shuffle width (default 32)
  SPARK_GRAFT_RUNS    timed runs per row (default 5)
  SPARK_GRAFT_ONLY    comma-separated row names, run in the order
                      given: any registered query or EXTRA_OPS name.
                      A subset run writes no record file.
A full run writes bench_result_sf{sf}_c{cpus}.json next to this file.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from cc_pyspark_spark.caching import release_caches
from cc_pyspark_spark.plans import QUERIES
from cc_pyspark_spark.session import build_session

HEADLINERS = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q4_late_shipments",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q10_returned_items",
    "tpch_q14_promo_revenue",
    "tpch_q18_large_volume",
    "tpch_q19_disjunctive",
    "text_word_count_tfdf",
    # Deployment dedup variants (operators/dedup.py): xxhash64 IDs, no
    # global-sort window, no all-pairs join — the plans you'd run at 100 TB.
    # The oracle twins (dedup_minhash_lsh, dedup_ngram_jaccard) stay in the
    # driver correctness gate but out of the benchmark.
    "dedup_exact",
    "dedup_minhash_scale",
    "dedup_simhash_scale",
    "dedup_embedding_scale_wide",
    "sim_cosine_topk",
    "sim_ann_ivf",
    "events_tumbling_hourly",
    "events_session_window",
    # r3 additions: the curation gate (pure codegen columns) and the
    # packing stage (applyInPandas) — the two plan shapes a training-data
    # pipeline spends its time in beyond dedup.
    "text_gopher_rules",
    "curation_pack_sequences",
    # r6 additions: the BPE capacity unit (Arrow-batched pandas UDF with
    # per-pretoken cache) and the composed end-to-end curation pipeline
    # (gate -> dedup -> split -> pack in ONE Catalyst plan).
    "text_bpe_token_count",
    "curation_pipeline_e2e",
    # r7 additions: the PQ pair, so the whole ANN story (IVF + PQ encode
    # + ADC search) sits under the regression gate.
    "embedding_pq_codes",
    "sim_ann_pq_adc",
    # r7 new operators: mergeable sketches, the single-scan hypertable
    # rollup, bigram LM scoring, two-stage ANN serving, the sparse
    # (lexical) similarity twin, and the quantile-sketch gate.
    "agg_hll_sketch_union",
    "agg_count_min_heavy_hitters",
    "events_hypertable_rollup",
    "text_bigram_lm_score",
    "sim_ann_pq_rerank",
    "sim_sparse_tfidf_topk",
    "agg_approx_percentile_bound",
    "dedup_prefix_jaccard",
    "agg_salted_distinct_count",
    "events_gapfill_locf",
    "sim_hybrid_rrf",
    "agg_exact_median_histogram",
    "text_drift_chi2",
    "events_funnel_conversion",
    "events_retention_cohorts",
    "events_rolling_zscore",
    # r8 additions (VERDICT r7 ask #7): the iterative graph family —
    # checkpoint-truncated loop plans are the likeliest place for a
    # silent perf regression, so both now carry a bench row + spread.
    # graph_triangle_stats runs the degree-ordered orientation on the
    # sf0.1 co-order graph; its absolute cost dominates the table, so
    # read the per-query rows (not the total) when comparing rounds.
    "graph_pagerank",
    "graph_triangle_stats",
    # r8: the Hamming-1 multi-probe sign-LSH variant (17x band-row
    # fan-out, the cheap recall lever; its bench row prices that
    # fan-out). r9: the embedding-dedup core slot above now runs the
    # production 16-bit x 8 geometry directly (dedup_embedding_scale_wide
    # — the 4-bit demo was renamed dedup_embedding_fixture and left
    # unbenched, so the `scale` tag always points at deployed geometry).
    "dedup_embedding_scale_probe",
    # r8: log-round star-alternation CC — the third iterative plan
    # under the regression gate (pagerank, triangles, CC).
    "graph_cc_alternating",
    # late r9: the MP4/MP3 structural probe (Arrow mapInPandas, map-
    # only) and BPE merge induction (10 checkpointed argmax rounds) —
    # both new surface, so the round-over-round comparison is the
    # query-level intersection, not the total.
    "multimodal_container_probe",
    "text_bpe_train",
    "curation_snapshot_diff",
    # latest r9: Aho-Corasick blocklist matching (one automaton pass
    # per doc, the phrase-count-independent shape), Okapi BM25 (the
    # query-doc lexical ranker), and the JL sign projection (map-only,
    # should run at scan throughput — its bench row is the regression
    # tripwire for accidentally de-codegen-ing the fold).
    "text_blocklist_phrases",
    "sim_bm25_topk",
    "embedding_random_projection",
    # latest r9: KMV/theta sketch set algebra — the windowed bottom-k
    # build (WindowGroupLimit) plus a broadcast pairwise stage; its
    # bench row watches the only per-set window in the sketch family.
    "agg_theta_sketch_intersect",
    # latest r9: weighted priority sampling (TakeOrderedAndProject
    # head + broadcast tau) and hard-negative mining (broadcast-anchor
    # exact scoring — the contrastive-training epoch pass).
    "curation_priority_sample",
    "sim_hard_negatives",
    # latest r9: token-weighted percentiles — the distinct-value
    # cumulative window (the scale claim its bench row watches).
    "agg_weighted_percentiles",
    # latest r9: distributed classifier training — three broadcast-
    # weight GD rounds whose only shuffle is the 65-key gradient agg;
    # its bench row watches the per-round overhead of the loop plan.
    "text_classifier_train",
    # r10 (VERDICT r9 ask #2): the remaining iterative/loop plans under
    # the regression gate — exactly the family where write-only timers
    # silently under-report and perf regressions hide. LPA is the
    # 4th-most-expensive query in the repo (6.4 s at sf0.1 per
    # SCALING.md) and was regression-ungated until now.
    "graph_label_propagation",
    "graph_kcore",
    "graph_cc_converged",
    "embedding_kcenter_coreset",
    "curation_dsir_importance",
    # r10 new operators — each carries a bench row from birth: the WAT
    # link pipeline (the reference's largest job: archive scan + typed
    # JSON walk + urljoin/SURT UDFs), the sparse-layout trainer (O(nnz)
    # per-round gradient agg), HITS (2 integer power rounds), MMR
    # (TakeOrdered pool + greedy broadcast rounds), URL canonical dedup
    # (pure-codegen canonicalizer — its row is the de-codegen tripwire),
    # head-domain capping (WindowGroupLimit), Hamilton budget mix,
    # vocab coverage (range-prefix scan), and WebDataset tar indexing
    # (applyInPandas build + header-walk probe).
    "wat_links_host_graph",
    # r12 late: the end-to-end WAT -> host graph -> host-rank
    # composition (first oracle row on the dangling-mass path); its
    # cost = the extraction row above + 8 fixed-point rounds over the
    # host-count-sized rank frame.
    "wat_host_pagerank",
    "text_classifier_train_sparse",
    "graph_hits",
    "sim_mmr_rerank",
    "dedup_url_canonical",
    "curation_domain_cap",
    "curation_token_budget_mix",
    "text_vocab_coverage",
    "multimodal_tar_index",
    # r10 continuation: mix execution (global range-prefix scan turned
    # per-stratum by broadcast bases) and margin bitext mining (one
    # map-only scoring pass, WindowGroupLimit top-k on |X| keys).
    "curation_mix_execute",
    "sim_bitext_mine",
    # r10 continuation: Kneser-Ney estimation (two map-side-combinable
    # aggs over the bigram frame) and the ZIP central-directory probe
    # (Catalyst-built real archives + end-anchored O(members) walk).
    "text_kneser_ney_bigram",
    "multimodal_zip_probe",
    # r10 continuation: modularity (LPA + two keyed edge-label joins)
    # and soft dedup (cluster components + a reciprocal reweight).
    "graph_modularity",
    "curation_soft_dedup",
    # r11: the converged deployment wrappers (fixed-point probes add
    # one O(V) diff-count action per round on top of the fixed-round
    # twins — their bench rows price exactly that overhead) and the
    # batch-vs-streaming quota-semantics contract (two row_number
    # windows sharing one domain-keyed exchange).
    "graph_lpa_converged",
    "graph_kcore_converged",
    "curation_quota_semantics",
    # r11: CCNet paragraph-level dedup — posexplode + digest-keyed
    # first-occurrence agg + doc-keyed reconstruct; its bench row
    # watches the two keyed exchanges staying partial-agg'd.
    "dedup_paragraph",
    # r11: tokenizer fertility by lang — one BPE pandas-UDF pass + one
    # grouped sum; the row watches the UDF pass staying the only
    # Python stage.
    "text_tokenizer_fertility",
    # r11: strided chunking — map-only, zero-shuffle; its row is the
    # de-codegen / accidental-exchange tripwire for the chunker.
    "curation_chunk_overlap",
    # r11: cluster-size histogram (composes the components loop — the
    # histogram stage must stay asymptotically free next to it) and
    # degree assortativity (two degree joins + one scalar agg).
    "dedup_cluster_histogram",
    "graph_degree_assortativity",
    # r11: the LSH blow-up estimator — its row watches the O(corpus)
    # claim (banding scan + bucket count, never the pair join).
    "dedup_lsh_blowup_report",
    # r12 (VERDICT r11 asks #4/#5): the last two iterative operators
    # without a perf gate — pagerank_converged and hits_converged run
    # via EXTRA_OPS builders on the same co-order bipartite graph as
    # their fixed-round twins (they have no registered query: round
    # count is data-dependent, no SQL replay), pricing the probe/
    # checkpoint overhead r11's LPA data showed is material; plus
    # curation_pipeline_full, the heaviest registered query (144-row
    # e2e composition), previously driver-gated but unbenched.
    "pagerank_converged",
    "hits_converged",
    "curation_pipeline_full",
    # r12: the enforced LSH bucket cap — its row watches the cap's
    # window count sharing the pair join's (band, key) exchange.
    "dedup_minhash_capped",
    # r12 late: the DF-capped containment self-join and the
    # source-scoped boilerplate join both ride shingle exchanges —
    # the two places a fixture change could quietly reintroduce a
    # fan-out blow-up; the SCD2 build stacks two windows + an island
    # agg on one user ordering (window-chain regression canary); the
    # hub-capped wedge join prices candidate generation; the bucketed
    # join row times construction (two bucketed writes) + the
    # zero-exchange query, pricing the pay-shuffle-once trade.
    "dedup_containment",
    "text_boilerplate_shingles",
    "events_scd2_asof",
    "graph_link_prediction",
    "layout_bucketed_join",
    # r12 late: the forced-SMJ salted join prices the 8x dim
    # replication + (k, salt) exchange; epoch shuffle prices E range
    # shuffles through the W2 operator (construction-inclusive — the
    # checkpoint pin executes the range exchange at build).
    "join_skew_salted",
    "curation_epoch_shuffle",
    # r12 late: the impact-pruned sparse variant — its row should sit
    # at-or-below the unpruned family's and STAY there as SF grows
    # (the 64^2-per-token ceiling is the claim).
    "sim_sparse_impact_topk",
    # r12 late: the S-curve eval joins the direct shingle-self-join
    # truth pairs at t=0.5 (sum(df^2)-bounded, NOT the PPJoin prefix
    # filter — commit 4e1ee29) against the uncapped banding
    # candidates, so its row prices the heaviest honest read of the
    # dedup measurement stack.
    "dedup_lsh_recall_eval",
    # r13 (VERDICT r12 ask #3): the deployed MinHash geometry under its
    # PRODUCTION default cap (salt@64 + broadcast audit columns). The
    # extra cost over dedup_minhash_scale is one window count on the
    # join's own (band, key) exchange + the 1-row audit agg — measured
    # ~+0.4 s at sf0.1 (0.81 -> 1.18 s; frame sizes there are tiny, so
    # the fixed window overhead shows; at scale the pair join dominates
    # and the cap is what keeps IT bounded). The row watches that
    # premium staying fixed, not growing with SF.
    "dedup_minhash_scale_capped",
    # r13: the sign-LSH twin of the row above — the production 16-bit
    # x 8 embedding geometry under the same salt@64 default; its
    # premium over dedup_embedding_scale_wide is the same window
    # count, on the (band, bkey) exchange the band join already pays.
    "dedup_embedding_scale_capped",
    # r13: SemDeDup — k-means assignment (broadcast-centroid argmin)
    # + cluster-local cosine anti-join; its row watches the Lloyd
    # rounds' (cluster, dim)-keyed aggs staying K x dim-sized and the
    # pair join staying cluster-equi-keyed.
    "curation_semdedup",
]


def _co_order_raw(spark, sf_dir):
    """The SAME edge base the registered graph_* queries use — imported,
    not re-built, so bench rows can never measure a different graph."""
    from cc_pyspark_spark.plans.graphq import co_order_raw  # noqa: PLC0415

    return co_order_raw(spark, sf_dir)


def _bench_pagerank_converged(spark, sf_dir):
    """graph_pagerank's symmetrized tagged bipartite edges through the
    converged wrapper. tol = 10^14 (1e-1 of total mass) stops at the
    FOURTH probe, round 16, on this graph (4-round-span L1 decays
    x0.52 per probe: 2.0e14 at rounds 4->8, 5.5e13 at 12->16 — the
    crossing), so the row prices four full probe/checkpoint cycles ON
    TOP of the 8-round fixed twin without the ~85 rounds a deployment
    tol=1e-6 would run (a cluster-sized budget, not a bench row; tol
    is the caller's knob either way)."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from cc_pyspark_spark.caching import track_cache  # noqa: PLC0415
    from cc_pyspark_spark.operators.pagerank import pagerank_converged  # noqa: PLC0415

    # Persisted like graph_pagerank's edge frame (r15 optimization
    # round, guide §2.4/§5): the wrapper's out_deg and adj caches each
    # read `edges`, and each edges read is two replays of the
    # orders⋈lineitem+distinct pipeline — uncached that pipeline ran
    # 4x before the first round.
    raw = _co_order_raw(spark, sf_dir).persist().transform(track_cache)
    edges = raw.select(
        (2 * F.col("c")).alias("s"), (2 * F.col("s") + 1).alias("t")
    ).unionAll(
        raw.select((2 * F.col("s") + 1).alias("s"), (2 * F.col("c")).alias("t"))
    )
    return pagerank_converged(
        edges, tol_units=10**14, assume_symmetric=True
    )


def _bench_hits_converged(spark, sf_dir):
    """graph_hits' directed bipartite edges through the quantized
    fixed-point HITS wrapper (runs to its exact integer rest state)."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from cc_pyspark_spark.operators.pagerank import hits_converged  # noqa: PLC0415

    raw = _co_order_raw(spark, sf_dir)
    edges = raw.select(
        (2 * F.col("c")).alias("s"), (2 * F.col("s") + 1).alias("t")
    )
    return hits_converged(edges)


#: Bench-only builders for operators with no registered query (round
#: count is data-dependent, so no DuckDB oracle exists — correctness
#: lives in pytest; the bench row gates performance).
EXTRA_OPS = {
    "pagerank_converged": _bench_pagerank_converged,
    "hits_converged": _bench_hits_converged,
}


#: Pinned reference for the calibration row (r13, VERDICT r12 ask #2:
#: two consecutive rounds of ~1.3x uniform host drift had to be
#: diagnosed by hand A/B — make it mechanical). Pinned to the IDLE
#: r13 host: the first full bench session bracketed 0.59/0.48 s
#: (first/last) with nothing else running, so 0.54 = "nominal host"
#: and host_factor ~ 1.0 on an idle r13-grade session. (An earlier
#: 0.65 pin was accidentally measured while a background oracle sweep
#: was contending for the CPUs — exactly the mistake the mechanical
#: row exists to make visible.) host_factor = measured / this —
#: divide committed per-query seconds by their round's host_factor
#: before comparing across rounds.
CALIBRATION_REF_SEC = 0.54

#: Pinned reference for the SHUFFLE-class calibration row (r15,
#: VERDICT r14 ask #2). The integer-codegen row above demonstrably
#: under-reads shuffle-stage contention: the r14 driver record ran
#: ~15% hot per-query at host_factor 0.993 while the judge's
#: hf-1.431 run normalized to the round's best total — contention
#: taxes exchange/sort/Arrow stages harder than pure-codegen
#: throughput measures. This second yardstick times a tiny
#: sort-merge-join + regroup (3 exchanges, 2M rows, SF-independent,
#: no I/O) so every record carries a factor for the stage class most
#: of the suite actually spends its time in. Pinned on the idle r15
#: host: first full session bracketed its readings around this
#: median with nothing else running, so host_factor_shuffle ~= 1.0 on
#: an idle r15-grade session.
CALIBRATION_SHUFFLE_REF_SEC = 1.15

#: Stage-class tags for normalization (r15, VERDICT r14 ask #2).
#: Rows whose wall-clock is dominated by parquet scan + whole-stage
#: codegen (filter/project/local agg, broadcast-only joins) track the
#: integer-codegen yardstick; EVERYTHING ELSE defaults to "shuffle"
#: — the r14 evidence is that exchange/sort/Arrow stages are what
#: ambient contention actually taxes, and nearly every non-scan row
#: in the suite is exchange- or Arrow-bound. compare_bench.py
#: normalizes each row by its class factor when both records carry
#: both factors.
CODEGEN_BOUND = frozenset({
    "tpch_q1_pricing_summary",   # scan + single 4-group exchange; agg codegen dominates
    "tpch_q6_forecast_revenue",  # pure scan-filter-agg
    "tpch_q14_promo_revenue",    # broadcast join + scan-agg
    "tpch_q19_disjunctive",      # broadcast join + scan filter
})


def _row_class(name: str) -> str:
    return "codegen" if name in CODEGEN_BOUND else "shuffle"


def _calibration_sec(spark) -> float:
    """Fixed constant-work CPU yardstick: 256M rows x 8 chained
    xxhash64 rounds -> bit_xor, pure whole-stage-codegen, no I/O, no
    meaningful shuffle (32 partial rows), SF-independent. Tracks
    exactly what shared-hypervisor drift scales: JVM integer
    throughput. One untimed JIT warm-up, then median of 5."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    h = F.col("id")
    for _ in range(8):
        h = F.xxhash64(h)
    samples: list[float] = []
    for i in range(6):
        t0 = time.perf_counter()
        spark.range(0, 256_000_000, 1, 32).select(h.alias("h")).agg(
            F.expr("bit_xor(h)").alias("s")
        ).write.format("noop").mode("overwrite").save()
        if i:
            samples.append(time.perf_counter() - t0)
    return round(statistics.median(samples), 4)


def _calibration_shuffle_sec(spark) -> float:
    """Fixed constant-work SHUFFLE yardstick (r15, VERDICT r14 ask
    #2): 1M rows x 2 sides -> sort-merge join on a 200k-key hash
    (merge hint defeats the broadcast that would elide the exchanges)
    -> regroup on a derived key -> bit_xor. Three exchanges + two
    sorts, SF-independent, no I/O. Tracks what the codegen row
    misses: exchange/sort-stage throughput under ambient contention.
    One untimed JIT warm-up, then median of 5 (same discipline as
    the codegen row)."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    def run() -> None:
        left = spark.range(0, 1_000_000, 1, 32).select(
            (F.xxhash64("id") % 200_000).alias("k"), F.col("id").alias("v")
        )
        right = spark.range(0, 1_000_000, 1, 32).select(
            (F.xxhash64(F.col("id") + 7) % 200_000).alias("k"),
            F.col("id").alias("w"),
        )
        (
            left.join(right.hint("merge"), "k")
            .groupBy((F.col("k") % 1024).alias("g"))
            .agg(F.sum(F.col("v") + F.col("w")).alias("s"))
            .agg(F.expr("bit_xor(s)").alias("x"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    samples: list[float] = []
    for i in range(6):
        t0 = time.perf_counter()
        run()
        if i:
            samples.append(time.perf_counter() - t0)
    return round(statistics.median(samples), 4)


def _sweep_persistent_state(spark) -> int:
    """Between-queries cache hygiene (r13, VERDICT r12 ask #4): after
    ``release_caches()`` frees every tracked persist, the iterative
    operators' ``localCheckpoint(eager=True)`` blocks are STILL alive
    (a checkpoint is its plan's data source, so the operator can never
    release it itself, and the Python wrapper going out of scope does
    not unpersist JVM blocks). 90 queries deep, those blocks are the
    eviction/GC pressure behind dedup_prefix_jaccard's 42.4 s-vs-24.4 s
    suite-vs-isolated gap at sf1. Nothing is reused across bench
    queries, so force-unpersist every surviving persistent RDD. The
    per-query ``swept_blocks`` count is the leak signal: a query that
    leaves non-checkpoint persists behind shows up as an unexplained
    count there. (r14, ADVICE r13: an earlier version also ASSERTED
    emptiness after the loop, but unpersist() synchronously removes
    each RDD from the persistent-RDD map — only block deletion is
    async — so the check could never fire and promised a loudness it
    didn't deliver; the recorded counts are the real contract.)
    Returns how many leftover RDDs were swept."""
    jsc = spark.sparkContext._jsc
    swept = 0
    for jrdd in list(jsc.getPersistentRDDs().values()):
        jrdd.unpersist()
        swept += 1
    # One explicit full GC between queries: Spark's ContextCleaner
    # reaps broadcast blocks and shuffle files only when the JVM
    # garbage-collects their driver-side handles, and a 128 GiB heap
    # 90 queries deep may simply never GC — the residual
    # suite-vs-isolated gap on the big-output sf1 rows after the RDD
    # sweep (dedup_prefix_jaccard 60.5 s in-suite vs 27.0 s isolated,
    # r13) is exactly accumulated broadcast/shuffle state. Costs
    # ~0.1-1 s between queries, outside every timed section.
    spark._jvm.System.gc()
    return swept


#: The driver keeps only the last ~2000 characters of stdout, so the
#: final line must fit inside that with room to spare.
TAIL_LIMIT = 1900


def _positive_int(var: str, default: str) -> int:
    raw = os.environ.get(var, default)
    try:
        value = int(raw)
    except ValueError:
        value = 0
    if value < 1:
        raise SystemExit(f"{var} must be an integer >= 1, got {raw!r}")
    return value


def settings() -> tuple[str, int, int, list[str] | None]:
    """Read and validate the bench environment before any session
    starts or query runs: (sf_dir, cpus, n_runs, only). ``only`` is
    None for a full run. Raises SystemExit naming the bad value."""
    n_runs = _positive_int("SPARK_GRAFT_RUNS", "5")
    cpus = _positive_int("SPARK_GRAFT_CPUS", "32")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if not os.path.isdir(sf_dir):
        raise SystemExit(f"SPARK_GRAFT_SF_DIR: no such directory {sf_dir!r}")
    raw = os.environ.get("SPARK_GRAFT_ONLY")
    if not raw:
        return sf_dir, cpus, n_runs, None
    only = list(dict.fromkeys(n.strip() for n in raw.split(",") if n.strip()))
    unknown = [n for n in only if n not in QUERIES and n not in EXTRA_OPS]
    if unknown or not only:
        raise SystemExit(f"SPARK_GRAFT_ONLY: unknown rows {unknown or raw!r}")
    return sf_dir, cpus, n_runs, only


def _sf(sf_dir: str) -> float:
    """Scale factor from a directory named sf<N>, else -1."""
    try:
        return float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        return -1.0


def _sample(spark, sf_dir, builder) -> tuple[float, float]:
    """One timed run of a row: (builder call to sink, builder call).

    DELIBERATELY NO sweep between runs (r13, measured): Spark's cache
    manager matches by logical-plan equality, so run i's construction
    silently reuses run i-1's operator caches — the documented
    warm-run semantics every round's numbers carry. An r13 experiment
    swept between runs and it DOUBLED the iterative rows
    (graph_pagerank+LPA 8.0 -> 15.4 s same-session A/B) by making every
    run rebuild the edge/adjacency caches cold. The between-QUERY
    sweep in main() still stops cross-query accumulation."""
    start = time.perf_counter()
    df = builder(spark, sf_dir)
    built = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - start, built - start


def measure_row(spark, sf_dir, builder, n_runs: int) -> dict:
    """A row's record: run 0 as cold_sec, then the median and spread
    of n_runs samples plus the median builder time. A batch whose
    spread exceeds 0.4 (r14, VERDICT r13 ask #6: one contended run
    poisons max-min forever, and the worst offenders are iterative
    rows) gets ONE fresh batch (warm continuation) and the tighter
    batch is kept; if both exceed 0.4 the row says so in spread_note."""

    def batch() -> tuple[list[float], list[float], float, float]:
        runs = [_sample(spark, sf_dir, builder) for _ in range(n_runs)]
        samples = [t for t, _ in runs]
        med = statistics.median(samples)
        spr = (max(samples) - min(samples)) / med
        return samples, [b for _, b in runs], med, spr

    cold_sec, _ = _sample(spark, sf_dir, builder)
    samples, builds, med, spr = batch()
    retry_spreads = None
    if spr > 0.4 and n_runs >= 3:
        retry = batch()
        retry_spreads = [round(spr, 3), round(retry[3], 3)]
        if retry[3] < spr:
            samples, builds, med, spr = retry
    row = {
        "median": round(med, 4),
        "spread": round(spr, 3),
        "n_runs": len(samples),
        "cold_sec": round(cold_sec, 4),
        "build_sec": round(statistics.median(builds), 4),
    }
    if retry_spreads is not None:
        row["retry_spreads"] = retry_spreads
    if retry_spreads is not None and spr > 0.4:
        # r15 (ADVICE r14): samples that climb near-monotonically
        # (text_bpe_train's within-query checkpoint accumulation) fail
        # both batches deterministically — workload-level drift, not
        # ambient noise; anything else asserts no cause.
        inversions = sum(
            1 for a, b in zip(samples, samples[1:]) if a > b * 1.05
        )
        climbs = (
            inversions <= max(1, len(samples) // 4)
            and samples[-1] > samples[0] * 1.2
        )
        row["spread_note"] = (
            f"variance persisted across 2 batches of {n_runs}"
            + (
                " and samples climb near-monotonically (workload-level "
                "accumulation, e.g. within-query cache/checkpoint growth; "
                if climbs
                else " (persistent for this row; "
            )
            + "compare via samples, not the point median)"
        )
    # raw samples for slow rows (where host drift can hide a real
    # regression) and re-measured ones, so readers can pool them
    if med > 2.0 or retry_spreads is not None:
        row["samples"] = [round(x, 4) for x in samples]
    return row


def tail_line(head: dict, timings: dict[str, float]) -> str:
    """The final stdout line: ``head`` plus the medians of as many rows
    as fit in TAIL_LIMIT characters, slowest first."""

    def line(queries: dict[str, float]) -> str:
        return json.dumps({**head, "queries": queries}, separators=(",", ":"))

    queries: dict[str, float] = {}
    for name in sorted(timings, key=timings.__getitem__, reverse=True):
        if len(line({**queries, name: timings[name]})) > TAIL_LIMIT:
            break
        queries[name] = timings[name]
    return line(queries)


def main() -> None:
    sf_dir, cpus, n_runs, only = settings()
    sf = _sf(sf_dir)
    spark = build_session(
        app_name="cc-pyspark-spark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )

    # Warm-up: JVM JIT, codegen, parquet footer caches. q6 covers the
    # scan/filter path; q1 covers the wide decimal-aggregate codegen the
    # first timed query otherwise absorbs. (BENCH_r02's q1 1.92 s vs
    # r1/r3 1.42 s reproduced as ambient round-run load, not a plan
    # change — same commit re-timed at 1.42 s — but the wider warm-up
    # removes the first-query sensitivity either way.)
    for warm in ("tpch_q6_forecast_revenue", "tpch_q1_pricing_summary"):
        QUERIES[warm].spark(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    # Calibration row (r13, VERDICT r12 ask #2): constant-work CPU
    # yardstick first and last, so every committed record carries its
    # own host-drift normalizer instead of needing a hand A/B.
    cal_first = _calibration_sec(spark)
    cal_sh_first = _calibration_shuffle_sec(spark)

    names = only or HEADLINERS
    stats: dict[str, dict] = {}
    # r14: a MID-session calibration reading joins the first/last
    # brackets. Measured blind spot (see SCALING.md "Ambient-load
    # envelope"): endpoint brackets missed mid-session contention that
    # moved iterative rows 2x while host_factor read ~1.0. Three
    # points can't see everything either, but a mid reading that
    # disagrees with the brackets is now a mechanical discard signal.
    cal_mid = None
    cal_sh_mid = None
    mid_at = len(names) // 2
    for qi, name in enumerate(names):
        if qi == mid_at and len(names) >= 20:
            cal_mid = _calibration_sec(spark)
            cal_sh_mid = _calibration_shuffle_sec(spark)
        builder = EXTRA_OPS.get(name) or QUERIES[name].spark
        stats[name] = measure_row(spark, sf_dir, builder, n_runs)
        # r15 (VERDICT r14 ask #2): stage class for normalization
        # — compare_bench divides this row by the matching factor.
        stats[name]["class"] = _row_class(name)
        # Free this query's operator-internal caches before the next
        # one: within-query warm/timed semantics are unchanged (all
        # runs share the caches), but 45 queries' LSH/adjacency blocks
        # no longer accumulate into eviction pressure on later names.
        release_caches()
        # r13: then sweep the localCheckpoint blocks release_caches()
        # cannot know about — see _sweep_persistent_state. Swept counts
        # are recorded so a round-over-round reader can see which
        # queries leave checkpoint state behind (iterative loops) and
        # how much; an unexplained count IS the leak signal (r14).
        swept = _sweep_persistent_state(spark)
        if swept:
            stats[name]["swept_blocks"] = swept

    cal_last = _calibration_sec(spark)
    cal_sh_last = _calibration_shuffle_sec(spark)
    cal_points = [c for c in (cal_first, cal_mid, cal_last) if c is not None]
    host_factor = round(
        sum(cal_points) / len(cal_points) / CALIBRATION_REF_SEC, 4
    )
    cal_sh_points = [
        c for c in (cal_sh_first, cal_sh_mid, cal_sh_last) if c is not None
    ]
    host_factor_shuffle = round(
        sum(cal_sh_points) / len(cal_sh_points) / CALIBRATION_SHUFFLE_REF_SEC, 4
    )

    timings = {name: row["median"] for name, row in stats.items()}
    result = {
        "metric": "total_headline_sec",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "spread": {name: row["spread"] for name, row in stats.items()},
        "stats": stats,
        "sf": sf,
        # Mechanical drift normalization (VERDICT r12 ask #2): divide
        # this record's seconds by host_factor before comparing to
        # another round's (also-normalized) record. first/MID/last
        # sample the session (mid added r14 after endpoint-only
        # brackets missed mid-session contention) so a drift shift is
        # visible as their disagreement. BENCH_r12 and earlier predate
        # the field — for those, fall back to the hand A/B constants
        # recorded in SCALING.md ("Bench-noise notes").
        "host_factor": host_factor,
        # r15 (VERDICT r14 ask #2): second factor for the shuffle
        # stage class — the codegen yardstick under-reads exchange/
        # sort/Arrow contention (the r14 driver record ran ~15% hot
        # at host_factor 0.993). Normalize each row by the factor
        # matching its stats[..]["class"]; the two factors
        # DISAGREEING is itself the contention signal the single
        # yardstick could not see.
        "host_factor_shuffle": host_factor_shuffle,
        "calibration": {
            "first_sec": cal_first,
            "mid_sec": cal_mid,
            "last_sec": cal_last,
            "ref_sec": CALIBRATION_REF_SEC,
            "shuffle_first_sec": cal_sh_first,
            "shuffle_mid_sec": cal_sh_mid,
            "shuffle_last_sec": cal_sh_last,
            "shuffle_ref_sec": CALIBRATION_SHUFFLE_REF_SEC,
        },
    }
    payload = json.dumps(result)
    # The full record is also a file (subset runs write none), named by
    # scale factor and core count so runs at different widths never
    # overwrite each other: the stdout tail alone lost rows (BENCH_r07).
    if not only:
        path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            f"bench_result_sf{sf:g}_c{cpus}.json",
        )
        with open(path, "w") as f:
            f.write(payload + "\n")
    print(payload)
    # The driver records only the LAST ~2000 chars of stdout, which the
    # full payload overflows (BENCH_r07..r09 recorded "parsed": null),
    # so the FINAL line is a compact complete record of its own.
    print(
        tail_line(
            {
                "metric": "total_headline_sec",
                "value": result["value"],
                "unit": "sec",
                "sf": sf,
                "n_queries": len(timings),
                "host_factor": host_factor,
                "host_factor_shuffle": host_factor_shuffle,
            },
            timings,
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
