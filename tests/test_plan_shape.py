"""Physical-plan guardrails: the optimizations the engine is designed
around must actually appear in the plan (explain-formatted), otherwise
a refactor silently turns a scan-prune into a full read or a broadcast
join into a 100 TB shuffle.
"""

from __future__ import annotations

import pytest

from cc_pyspark_spark.plans.registry import QUERIES
from tests.conftest import SF_DIR


def plan_of(spark, name: str) -> str:
    df = QUERIES[name].spark(spark, SF_DIR)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "scan_filter_project")
    assert "PushedFilters: [" in plan
    # quantity predicate must be pushed, not post-filtered only
    assert "GreaterThan(l_quantity" in plan


def test_column_pruning(spark):
    plan = plan_of(spark, "scan_filter_project")
    read_schema = [
        line for line in plan.splitlines() if "ReadSchema" in line
    ][0]
    # only the 5 referenced columns, not all 16 of lineitem
    assert "l_comment" not in read_schema
    assert read_schema.count(":") <= 7


def test_q5_broadcasts_dimensions(spark):
    plan = plan_of(spark, "tpch_q5_local_supplier_volume")
    assert "BroadcastHashJoin" in plan
    # supplier carries no F.broadcast hint: Catalyst/AQE owns its join
    # strategy (it still picks broadcast at test sf, where supplier is
    # under the autoBroadcastJoinThreshold — the point is that nothing
    # forces it when supplier grows to ~10M rows at large sf)
    from cc_pyspark_spark.plans import QUERIES
    from tests.conftest import SF_DIR

    df = QUERIES["tpch_q5_local_supplier_volume"].spark(spark, SF_DIR)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 2  # nation + region only


def test_topk_uses_take_ordered(spark):
    plan = plan_of(spark, "topk_global")
    assert "TakeOrderedAndProject" in plan


def test_agg_is_partial_final_hash(spark):
    plan = plan_of(spark, "tpch_q1_pricing_summary")
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_whole_stage_codegen_on_hot_path(spark):
    df = QUERIES["tpch_q1_pricing_summary"].spark(spark, SF_DIR)
    df.collect()  # AQE finalizes the plan only after execution
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # '*' operators / '[codegen id : N]' mark whole-stage-codegen spans
    assert "[codegen id :" in plan


def test_cosine_broadcast_no_shuffle_before_topk(spark):
    plan = plan_of(spark, "sim_cosine_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_partitioned_ccindex_prunes_partitions(spark, tmp_path_factory):
    """cc-index queries on crawl=/subset= partition dirs must prune at
    the source (SURVEY §4: partition pruning on the SQL path)."""
    from pyspark.sql import functions as F

    d = str(tmp_path_factory.mktemp("part-ccindex"))
    df = spark.range(300).select(
        F.col("id").alias("k"),
        F.concat(F.lit("CC-MAIN-2017-"), (F.col("id") % 3).cast("string")).alias(
            "crawl"
        ),
        F.when(F.col("id") % 2 == 0, "warc").otherwise("robotstxt").alias("subset"),
    )
    df.write.mode("overwrite").partitionBy("crawl", "subset").parquet(d)
    q = (
        spark.read.parquet(d)
        .filter((F.col("crawl") == "CC-MAIN-2017-1") & (F.col("subset") == "warc"))
        .select("k")
    )
    plan = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [" in plan
    assert "isnotnull(crawl" in plan
    assert q.count() == 50


def test_bucketed_join_has_no_shuffle(spark):
    """Bucketed co-located join (SURVEY scale directive): two tables
    bucketed on the join key by the same bucket count join without any
    Exchange — the 100 TB repeated-join pattern."""
    from pyspark.sql import functions as F

    spark.sql("DROP TABLE IF EXISTS bkt_a")
    spark.sql("DROP TABLE IF EXISTS bkt_b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        spark.range(10000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v1")
        ).write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bkt_a")
        spark.range(10000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v2")
        ).write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bkt_b")
        j = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        plan = j._sc._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted"
        )
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert j.count() == 10000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_embedding_scale_single_wide_shuffle(spark):
    """dedup_embedding_fixture: the only wide shuffles are the (band,
    bucket) groupBy and the final distinct — no cartesian, no
    vector-table re-join, no extra exchanges from the signature stage."""
    from cc_pyspark_spark.plans.registry import QUERIES

    import re

    df = QUERIES["dedup_embedding_fixture"].spark(spark, SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    def nodes(kind):
        return len(re.findall(rf"^\(\d+\) {kind}", plan, re.M))

    # wide shuffles: the (band, bucket) groupBy + the final distinct
    assert nodes("Exchange") <= 2, plan
    # Arrow boundaries: one signature pandas-UDF eval + the grouped scorer
    assert nodes("ArrowEvalPython") == 1, plan
    assert nodes("FlatMapGroupsInPandas") == 1, plan


def test_tld_validation_is_folded_not_joined(spark):
    """F10 over 1569 TLDs compiles to an isin probe inside the
    aggregate — no join against a TLD table, no Python eval."""
    from cc_pyspark_spark.plans.registry import QUERIES

    import re

    df = QUERIES["url_tld_validation_counts"].spark(spark, SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Join" not in plan
    assert "EvalPython" not in plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1  # final agg


def _tree_nodes(plan: str, op: str) -> int:
    """Count physical operators of a type via their numbered plan-tree
    entries ('(7) Exchange') — formatted explain repeats names in the
    detail section, so raw substring counts over-count."""
    import re as _re

    return len(_re.findall(rf"\(\d+\) {op}\b", plan))


def test_gopher_rules_is_pure_map_no_shuffle(spark):
    """All Gopher signals are column expressions: no exchange, no
    Python evaluation anywhere in the plan — at 100 TB the quality
    gate must stream through the scan stage."""
    plan = plan_of(spark, "text_gopher_rules")
    assert _tree_nodes(plan, "Exchange") == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "[codegen id :" in plan


def test_url_normalize_single_shuffle(spark):
    """Canonicalization is per-row regex; the only wide stage is the
    final groupBy on the canonical key (partial/final HashAggregate
    around a single hash exchange)."""
    plan = plan_of(spark, "dedup_url_normalize")
    assert _tree_nodes(plan, "Exchange") == 1
    assert "hashpartitioning(canonical_url" in plan
    assert _tree_nodes(plan, "HashAggregate") == 2  # partial + final
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pack_sequences_groups_once(spark):
    """Packing state lives in one FlatMapGroupsInPandas keyed by
    (lang, shard): exactly one exchange, no second pass."""
    plan = plan_of(spark, "curation_pack_sequences")
    assert _tree_nodes(plan, "FlatMapGroupsInPandas") == 1
    assert _tree_nodes(plan, "Exchange") == 1


def test_multimodal_decode_stages_inherit_partitioning(spark):
    """Pixel and audio decode are mapInPandas over the blob source —
    zero shuffle end-to-end."""
    for name in ("multimodal_decode_resize", "multimodal_audio_features"):
        plan = plan_of(spark, name)
        assert _tree_nodes(plan, "MapInPandas") == 1, name
        assert _tree_nodes(plan, "Exchange") == 0, name


def test_html_extract_stays_jvm_side(spark):
    """F12 default backend is the regex chain: no Python, no shuffle,
    whole-stage codegen intact."""
    plan = plan_of(spark, "text_html_extract")
    assert _tree_nodes(plan, "Exchange") == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "[codegen id :" in plan


def test_merge_upsert_no_cartesian(spark):
    plan = plan_of(spark, "merge_upsert")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_substring_spans_partial_agg_no_sort(spark):
    """dedup_substring_spans: the (doc, gram) pre-aggregation must show
    partial/final HashAggregate (map-side combine collapses repeated
    in-doc spans before the gram shuffle), and nothing in the plan may
    globally sort the gram stream."""
    plan = plan_of(spark, "dedup_substring_spans")
    assert "HashAggregate" in plan
    assert "partial_" in plan.lower() or "Partial" in plan
    assert "Sort [gram" not in plan


def test_semantic_clustered_broadcasts_centroids(spark):
    """dedup_semantic_clustered: the K-row centroid table joins by
    broadcast (never a shuffle of the full embedding side against it),
    and the only wide exchange after assignment is cluster-keyed."""
    plan = plan_of(spark, "dedup_semantic_clustered")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(cid" in plan


def test_token_rarity_no_body_shuffle(spark):
    """text_token_rarity: shuffles carry (tok)/(doc_id) keyed rows only;
    the document text column must be pruned before any exchange."""
    plan = plan_of(spark, "text_token_rarity")
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema, plan
    # documents scan reads only doc_id + text (projection pruning)
    assert all("lang" not in ln for ln in read_schema)
    assert "HashAggregate" in plan


def test_pipeline_e2e_single_scan(spark):
    """curation_pipeline_e2e gates via carried columns, not a join back
    to the source — exactly ONE documents scan in the plan (r6)."""
    from cc_pyspark_spark.plans import QUERIES
    from tests.conftest import SF_DIR

    df = QUERIES["curation_pipeline_e2e"].spark(spark, SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert plan.count("documents.parquet") == 1


def test_c4_line_rules_no_source_joinback(spark):
    """C4 cleaning is the two-pass frequency shape: pruned frequency
    pass + full rebuild pass, and NO third scan for a doc-level join
    back (r6). Frequency shuffle keys are 8-byte xxhash64."""
    import re

    from cc_pyspark_spark.plans import QUERIES
    from tests.conftest import SF_DIR

    df = QUERIES["text_c4_line_rules"].spark(spark, SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert plan.count("documents.parquet") <= 2
    for part in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        assert "line#" not in part and " t#" not in part, (
            f"raw line text in shuffle key: {part}"
        )


def test_pq_codes_broadcast_no_window(spark):
    """PQ assignment must broadcast the codebook and fold the argmin as
    an aggregation (map-side combine), never a window sort (r6)."""
    from cc_pyspark_spark.plans import QUERIES
    from tests.conftest import SF_DIR

    df = QUERIES["embedding_pq_codes"].spark(spark, SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan


def test_ivf_pq_lut_broadcasts_codes_stay_put(spark):
    """sim_ann_ivf_pq: the query-side LUT (queries x blocks x codebook,
    always tiny) and the centroid table broadcast; the corpus code
    table must never be the build side of a shuffle join with raw
    vectors — only the compressed codes move, which is the point of
    composing IVF with PQ."""
    import re

    from cc_pyspark_spark.plans import QUERIES
    from tests.conftest import SF_DIR

    df = QUERIES["sim_ann_ivf_pq"].spark(spark, SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan
    # centroid cross-join + LUT join + bucket join all broadcast
    assert len(re.findall(r"Broadcast(Hash|NestedLoop)Join", plan)) >= 2, plan
    # the ONE permitted big-big join: codes <-> bucket assignment,
    # co-partitioned on the unique vec_id key (linear, skew-free);
    # anything else pairing corpus-sized sides is a regression
    smj = re.findall(r"^\(\d+\) SortMergeJoin", plan, re.M)
    assert len(smj) <= 1, plan
    if smj:
        assert re.search(r"Left keys \[1\]: \[vec_id", plan), plan


def test_hashed_classifier_map_only(spark):
    """text_hashed_classifier scores with nested higher-order folds in
    the projection — no explode, no shuffle, no Python. At 100 TB it
    must stay a pure map over the corpus scan."""
    import re

    from cc_pyspark_spark.plans import QUERIES
    from tests.conftest import SF_DIR

    df = QUERIES["text_hashed_classifier"].spark(spark, SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert not re.search(r"^\(\d+\) Exchange", plan, re.M), plan
    assert "Generate" not in plan, plan  # no explode
    assert "Python" not in plan, plan


def test_hypertable_rollup_reuses_minute_exchange(spark):
    """The hour/day grains must re-aggregate the minute rollup's
    shuffle output, not re-scan raw events: after AQE finalizes, the
    two coarse branches show ReusedExchange over the minute agg's
    exchange (one raw-events scan powers all three grains)."""
    df = QUERIES["events_hypertable_rollup"].spark(spark, SF_DIR)
    df.collect()  # AQE decides reuse at runtime
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ReusedExchange") == 2, plan


def test_count_min_probe_broadcasts(spark):
    """The CMS probe joins a 20-row top-k and a <=4096-row sketch —
    both must broadcast; a sort-merge join here means the tiny sides
    got shuffled with the corpus."""
    plan = plan_of(spark, "agg_count_min_heavy_hitters")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_salted_distinct_three_stage_exchange(spark):
    """Salted COUNT(DISTINCT): stage-1 keys must include the salt
    (disjoint distinct sets), the final exchange only the group key —
    three exchanges, salt present in exactly the middle ones."""
    plan = plan_of(spark, "agg_salted_distinct_count")
    assert plan.count("+- Exchange") == 3  # tree nodes, not detail lines
    assert "__salt" in plan
    import re

    final = re.findall(r"hashpartitioning\(l_returnflag#\d+, \d+\)", plan)
    assert final, "final exchange must key on the group column alone"


def test_embedding_wide_join_verify_plan(spark):
    """Wide-geometry sign-LSH (r8): the verify is the candidate-join
    formulation — no grouped-pandas stage (whose per-group overhead
    dominated with 2^16 singleton buckets), exactly one signature
    Arrow eval per scan branch, and the band self-join keyed on
    (band, bkey). The JVM zip_with fold keeps cosine bit-equal to the
    grouped path, so the same oracle covers both."""
    import re

    from cc_pyspark_spark.plans.registry import QUERIES

    for name in ("dedup_embedding_scale_wide", "dedup_embedding_scale_probe"):
        df = QUERIES[name].spark(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "FlatMapGroupsInPandas" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        n_arrow = len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M))
        # one eval per union branch (base + twins), possibly reused
        assert n_arrow <= 2, name
        # the band self-join is a plain equi-join on (band, bkey) —
        # broadcast at fixture sf, shuffle-hash at scale; either way
        # Catalyst owns the strategy (no forced shape to pin beyond
        # the absence of the grouped-pandas stage above)
        assert "Join" in plan, name


def test_runtime_bloom_filter_available_for_selective_joins(spark):
    """Spark 4's runtime Bloom-filter join pruning must stay reachable
    under the engine's session conf (late r9): when a selective dim
    filter sits on the build side of a SHUFFLE join, Catalyst injects a
    bloom_filter_agg on the dim and a might-contain probe on the fact
    scan — at 100 TB this prunes fact rows BEFORE the exchange, the
    cheapest possible place. Broadcast joins don't need it (the small
    side already prunes via the hash table), so the test pins the
    shuffle-join case with thresholds the fixture can reach; the engine
    leaves the production 10 MB creation threshold untouched.
    """
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
        )
    }
    assert (
        conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
        == "true"
    )
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        pa = spark.read.parquet(f"{SF_DIR}/part.parquet").filter(
            "p_size = 7"
        )
        j = li.join(pa, li.l_partkey == pa.p_partkey).select(
            "l_orderkey", "p_name"
        )
        plan = j._sc._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted"
        )
        assert "bloom_filter_agg" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_blocklist_is_single_arrow_pass_no_shuffle(spark):
    """One Aho-Corasick ArrowEvalPython stage, zero exchanges, and the
    scan pruned to (doc_id, text) — the map-only shape that lets the
    gate run at ingest throughput regardless of phrase-list size."""
    plan = plan_of(spark, "text_blocklist_phrases")
    assert _tree_nodes(plan, "ArrowEvalPython") == 1
    assert _tree_nodes(plan, "Exchange") == 0
    assert "doc_id" in plan and "n_chars" not in plan


def test_random_projection_no_shuffle_no_python(spark):
    """The JL fold is pure JVM column algebra folded over the scan:
    no exchange, no Python worker anywhere in the plan."""
    plan = plan_of(spark, "embedding_random_projection")
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_bm25_prunes_index_with_broadcast_terms(spark):
    """The tiny query-term set must broadcast (pruning the inverted
    index before the scoring aggregation), and the (N, avgdl) stats
    row must arrive via a broadcast nested-loop, never a cartesian."""
    plan = plan_of(spark, "sim_bm25_topk")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_theta_sketch_bottom_k_is_window_group_limit(spark):
    """The KMV bottom-k must ride WindowGroupLimit both map-side
    (Partial, before the exchange) and finally — k rows per set per
    partition cross the wire, not the distinct stream."""
    from cc_pyspark_spark.plans.sketches import kmv_sketches_frame

    th = kmv_sketches_frame(
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
    )
    plan = th._sc._jvm.PythonSQLUtils.explainString(
        th._jdf.queryExecution(), "formatted"
    )
    assert _tree_nodes(plan, "WindowGroupLimit") >= 2
    assert "Partial" in plan


def test_priority_sample_head_is_take_ordered(spark):
    """The global top-(k+1) must be a TakeOrderedAndProject (per-
    partition heads, never a full sort) — pinned on the REAL builder's
    head frame (plans.curation.priority_head over the real priority
    columns; the final query plan is checkpoint-rooted, so the head is
    inspected pre-checkpoint)."""
    from pyspark.sql import functions as F

    from cc_pyspark_spark.plans.curation import (
        PRIORITY_SAMPLE_K,
        PS_RANGE,
        _spark_ps_hash,
        priority_head,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    from cc_pyspark_spark.functions.text import tokenize

    p = docs.select(
        "doc_id",
        F.size(tokenize("text")).cast("bigint").alias("w"),
        F.concat(F.lit("ps:"), F.col("doc_id").cast("string")).alias("key"),
    ).select(
        "doc_id",
        "w",
        (
            F.col("w").cast("double")
            * F.lit(PS_RANGE)
            / (F.expr(_spark_ps_hash("key")) + F.lit(1)).cast("double")
        ).alias("pri"),
    )
    head = priority_head(p, PRIORITY_SAMPLE_K)
    plan = head._sc._jvm.PythonSQLUtils.explainString(
        head._jdf.queryExecution(), "formatted"
    )
    assert "TakeOrderedAndProject" in plan
    assert "Sort" not in plan.replace("TakeOrderedAndProject", "")


def test_hard_negatives_broadcasts_anchors(spark):
    """Anchors and the per-anchor positive maxima broadcast; the
    corpus side never shuffles before the per-anchor rank window."""
    plan = plan_of(spark, "sim_hard_negatives")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_domain_cap_is_window_group_limit(spark):
    """The per-domain rank <= K filter must ride WindowGroupLimit
    (map-side Partial before the exchange) — a head domain ships K rows
    through the shuffle, never its full page count."""
    plan = plan_of(spark, "curation_domain_cap")
    assert _tree_nodes(plan, "WindowGroupLimit") >= 2
    assert "Partial" in plan


def test_url_canonical_is_pure_codegen(spark):
    """The canonicalizer is a Catalyst expression: no Python worker in
    the plan, and exactly the one exchange the group-by needs."""
    plan = plan_of(spark, "dedup_url_canonical")
    assert "Python" not in plan
    assert _tree_nodes(plan, "Exchange") <= 2  # partial/final agg pair


def test_mmr_pool_is_take_ordered(spark):
    """Stage 1's top-pool candidate cut must be TakeOrderedAndProject
    over the corpus — the corpus itself never shuffles; stage 2's
    greedy rounds only ever broadcast the selected set."""
    from cc_pyspark_spark.plans.similarity import MMR_QUERY_ID
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    dot_self = (
        "aggregate(zip_with(v, v, (x, y) -> x * y), 0D, (acc, z) -> acc + z)"
    )
    e = emb.select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("v")
    ).withColumn("nrm", F.expr(f"sqrt({dot_self})"))
    q = e.filter(F.col("vec_id") == MMR_QUERY_ID).select(
        F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    pool_plan = (
        e.filter(F.col("vec_id") != MMR_QUERY_ID)
        .crossJoin(F.broadcast(q))
        .withColumn(
            "rel",
            F.expr(
                "aggregate(zip_with(qv, v, (x, y) -> x * y), 0D,"
                " (acc, z) -> acc + z)"
            )
            / (F.col("qnrm") * F.col("nrm")),
        )
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(16)
    )
    plan = pool_plan._sc._jvm.PythonSQLUtils.explainString(
        pool_plan._jdf.queryExecution(), "formatted"
    )
    assert "TakeOrderedAndProject" in plan


def test_chunk_overlap_is_pure_map_no_shuffle(spark):
    """r11: strided chunking must stream through the scan — tokenize,
    sequence of starts, explode, slice are all row-local; ANY Exchange
    or Python stage here would turn scan-throughput chunking of 100 TB
    into a shuffle."""
    plan = plan_of(spark, "curation_chunk_overlap")
    assert _tree_nodes(plan, "Exchange") == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_paragraph_dedup_two_keyed_exchanges_partial_agg(spark):
    """r11: CCNet paragraph dedup pays exactly the designed wide
    stages — digest-keyed first-occurrence agg (+ its join back) and
    the doc-keyed reconstruct — with the min-keeper aggregation
    partial/final so a 10^9-copy boilerplate paragraph ships one row
    per map partition, and md5 digests (not paragraph bodies) as the
    agg key."""
    plan = plan_of(spark, "dedup_paragraph")
    assert 2 <= _tree_nodes(plan, "Exchange") <= 3, plan
    assert _tree_nodes(plan, "HashAggregate") >= 2  # partial + final min


def test_bucketed_join_has_no_join_exchange(spark):
    """r12: the co-located bucketed join is the whole point of
    write_bucketed_table — both sides hash-bucketed 8-ways on custkey
    at write time, so the custkey SortMergeJoin must read buckets
    pairwise with ZERO exchanges below it. The only Exchange allowed
    in the plan is the final mktsegment aggregation. If a refactor
    drops the bucketing (or mismatches bucket counts), a second
    Exchange appears and this pins the regression."""
    plan = plan_of(spark, "layout_bucketed_join")
    assert _tree_nodes(plan, "SortMergeJoin") == 1, plan
    assert _tree_nodes(plan, "Exchange") == 1, plan
    # and that one Exchange is the agg's, keyed by mktsegment
    import re as _re

    m = _re.search(r"\(\d+\) Exchange\n(?:.*\n)*?Arguments: ([^\n]*)", plan)
    assert m and "mktsegment" in m.group(1), plan


def test_containment_index_caps_df_before_join(spark):
    """r12: the containment self-join must join the DF-capped index
    frame (cached, reused three ways), never the raw shingle frame —
    the df<=cap filter is what bounds per-key fan-out at 100 TB."""
    plan = plan_of(spark, "dedup_containment")
    assert "InMemoryTableScan" in plan, plan
    # the hot self-join reads the cached capped index on both sides
    assert plan.count("InMemoryTableScan") >= 2, plan


def test_partition_pruning_reaches_directory_listing(spark):
    """r12: the date slice must prune PARTITIONS (directory listing),
    not rows — the scan's PartitionFilters carries the event_date
    predicate and the row-level PushedFilters does NOT need it. A
    regression that derives the date per-row (e.g. filtering on
    to_date(ts)) would read all 30 days."""
    plan = plan_of(spark, "layout_partition_pruning")
    import re as _re

    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_date" in m.group(1), plan


def test_code_detect_is_pure_map_no_shuffle(spark):
    """r12: code detection is per-row string algebra — any Exchange or
    Python stage would turn a scan-throughput router into a shuffle."""
    plan = plan_of(spark, "text_code_detect")
    assert _tree_nodes(plan, "Exchange") == 0
    assert "EvalPython" not in plan


def test_link_prediction_caps_wedge_centers(spark):
    """r12: the wedge self-join must consume the hub-capped adjacency
    (deg <= LP_HUB_CAP filtered BEFORE the join) — the cached edge
    frame feeds it, and no BroadcastNestedLoop/cartesian may appear."""
    plan = plan_of(spark, "graph_link_prediction")
    assert "CartesianProduct" not in plan
    # exactly one BNLJ: the 1-row median-threshold broadcast inside
    # _co_order_edges (the designed pattern) — the wedge join itself
    # must be a keyed join, never nested-loop
    assert _tree_nodes(plan, "BroadcastNestedLoopJoin") <= 1, plan
    assert "InMemoryTableScan" in plan


def test_skew_salted_join_keys_include_salt(spark):
    """r12: the whole point of join_skew_salted is that the join
    exchange hashes on (k, salt) — if a refactor drops the salt from
    the key, the hot key funnels into one reducer again. Pin the salt
    column into the join-side Exchange's hashpartitioning arguments,
    and that the join stayed a merge join (AQE broadcast would hide
    the pattern the query exists to demonstrate)."""
    plan = plan_of(spark, "join_skew_salted")
    assert _tree_nodes(plan, "SortMergeJoin") == 1, plan
    import re as _re

    ex_args = _re.findall(
        r"\(\d+\) Exchange\n(?:.*\n)*?Arguments: ([^\n]*)", plan
    )
    salted = [a for a in ex_args if "hashpartitioning" in a and "salt" in a]
    assert len(salted) >= 2, ex_args  # both join inputs keyed by salt


def test_epoch_shuffle_has_no_single_partition_window(spark):
    """r12: epoch ranks must come from the W2 range-shuffle operator —
    a refactor to a naive per-epoch global window would show up as a
    SinglePartition exchange (or a 3-partition window over epochs)."""
    plan = plan_of(spark, "curation_epoch_shuffle")
    # the one allowed SinglePartition exchange is the 1-row n_docs
    # count (partial counts combine map-side; one row per partition
    # reaches the single reducer) — metadata-sized, not data-sized
    assert plan.count("SinglePartition") <= 1, plan
    # the range exchange itself ran at construction (the W2 operator
    # localCheckpoints it — see operators/ids.py), so the final plan
    # reads the checkpoint; the visible guarantee is the row_number
    # window being partitioned by __pid, one group per range
    # partition, never a global (empty-partition-spec) window
    import re as _re

    wins = _re.findall(
        r"\(\d+\) Window\n(?:.*\n)*?Arguments: ([^\n]*)", plan
    )
    assert wins and all("__pid" in w for w in wins), plan


def test_interval_overlap_joins_on_bucket_equi_keys(spark):
    """r12: the interval self-join must ride (user_id, bucket) EQUI
    keys — a refactor to the direct theta form (user + two range
    predicates) turns every user into a per-user near-crossjoin at
    100 TB. No cartesian/BNLJ anywhere; exactly one SortMergeJoin."""
    plan = plan_of(spark, "events_interval_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # hash-keyed join either way (Catalyst picks broadcast-hash at
    # fixture SF, sort-merge at scale) — the pin is the EQUI keys
    assert (
        _tree_nodes(plan, "SortMergeJoin")
        + _tree_nodes(plan, "BroadcastHashJoin")
        + _tree_nodes(plan, "ShuffledHashJoin")
    ) == 1, plan
    import re as _re

    m = _re.search(
        r"\(\d+\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)"
        r"\n(?:.*\n)*?Left keys(?: \[\d+\])?: ([^\n]*)",
        plan,
    )
    assert m and "bucket" in m.group(1), plan


def test_bucketed_agg_has_zero_exchanges(spark):
    """r12: a groupBy on the bucket key of a bucket-sorted table must
    aggregate with NO exchange anywhere — each bucket is already one
    key-complete partition. This is the map-only rollup the layout
    was paid for; a second Exchange means the bucketing metadata got
    lost (path/catalog mismatch or bucket-count drift)."""
    plan = plan_of(spark, "layout_bucketed_agg")
    assert _tree_nodes(plan, "Exchange") == 0, plan


def test_capped_band_windows_live_inside_the_cache(spark):
    """r13: cap_lsh_buckets computes its count + salt row_number
    windows in ONE pass and persists the RESULT — so in the capped
    deployment queries, every Window node must sit INSIDE the
    InMemoryRelation, never above an InMemoryTableScan. A Window in
    the tree above the first cache scan means each pair-join side is
    replaying its own exchange+sort+window (the regression that
    tripled the cap premium at 10x before the fusion)."""
    for name in ("dedup_minhash_scale_capped", "dedup_embedding_scale_capped"):
        plan = plan_of(spark, name)
        head = plan.split("InMemoryTableScan")[0]
        assert "Window" not in head, (name, head)


def test_warc_to_documents_runs_one_python_node(spark, monkeypatch):
    """The payload is decoded inside the WARC parse: the optimized plan
    of warc_to_documents' input holds the parse's MapInPandas and no
    other Python node. A decode UDF over the records frame would show
    up as ArrowEvalPython twice — once under the pushed-down token-gate
    filter and once in the projection."""
    from cc_pyspark_spark.jobs.pipelines import warc_to_documents
    from cc_pyspark_spark.operators import ids
    from cc_pyspark_spark.sources.warc import warc_records

    class Captured(Exception):
        pass

    def capture(df, *args, **kwargs):
        raise Captured(df)

    monkeypatch.setattr(ids, "assign_sequential_ids", capture)
    recs = warc_records(
        spark, ["never-read.warc.gz"], num_input_partitions=1, decode_payload_text=True
    )
    with pytest.raises(Captured) as seen:
        warc_to_documents(recs)
    assert ids._python_nodes(seen.value.args[0]) == ["MapInPandas"]


def test_warc_to_documents_needs_payload_text(spark):
    from cc_pyspark_spark.jobs.pipelines import warc_to_documents
    from cc_pyspark_spark.sources.warc import warc_records

    recs = warc_records(spark, ["never-read.warc.gz"], num_input_partitions=1)
    with pytest.raises(ValueError, match="decode_payload_text=True"):
        warc_to_documents(recs)
