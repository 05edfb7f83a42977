#!/usr/bin/env python
"""Per-stage wall-clock breakdown of curation_pipeline_full (guide
§1.1/§1.5): time each pipeline stage in isolation with the noop sink
and a job description, so the 7-second suite row decomposes into
gate / C4 / banding / CC / survivor+pack shares. Measurement only —
no query change; run at the bench SF with the bench session."""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from cc_pyspark_spark.caching import release_caches, track_cache  # noqa: E402
from cc_pyspark_spark.session import build_session  # noqa: E402
from cc_pyspark_spark.catalog import Catalog  # noqa: E402


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(spark, label, fn):
    spark.sparkContext.setJobDescription(label)
    t0 = time.perf_counter()
    out = fn()
    dt = time.perf_counter() - t0
    spark.sparkContext.setJobDescription(None)
    print(f"{label:28s} {dt:7.2f} s", flush=True)
    return out


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session(app_name="pipeline-full-stages")
    from cc_pyspark_spark.operators.dedup import minhash_lsh_pairs  # noqa: PLC0415
    from cc_pyspark_spark.operators.pagerank import connected_components  # noqa: PLC0415
    from cc_pyspark_spark.plans.c4 import _AUG_SPARK, c4_clean_frame  # noqa: PLC0415
    from cc_pyspark_spark.plans.curation import pack_sequences_frame  # noqa: PLC0415
    from cc_pyspark_spark.plans.text import gopher_signals_frame  # noqa: PLC0415

    for it in range(int(os.environ.get("STAGE_RUNS", "2"))):
        docs = Catalog(spark, sf_dir).documents
        keep = (
            gopher_signals_frame(docs, carry=("lang", "text"))
            .filter(F.col("gopher_pass") == 1)
            .select("doc_id", "lang", "text")
        )
        aug = keep.select(
            "doc_id", "lang", F.expr(_AUG_SPARK).alias("text")
        ).persist().transform(track_cache)
        timed(spark, "1 gate+aug materialize", lambda: aug.count())
        cleaned = (
            c4_clean_frame(aug, carry=("lang",))
            .filter(F.col("c4_pass") == 1)
            .select("doc_id", "lang", F.col("cleaned_text").alias("text"))
            .persist().transform(track_cache)
        )
        timed(spark, "2 c4 two-pass materialize", lambda: cleaned.count())
        pairs = minhash_lsh_pairs(cleaned, threshold=0.5)
        timed(spark, "3 minhash banding pairs", lambda: noop(pairs))
        edges = pairs.select(F.col("a_id").alias("s"), F.col("b_id").alias("t"))
        comp = timed(
            spark,
            "4 connected components",
            lambda: connected_components(edges, max_iter=12, probe_every=2),
        )
        surv = (
            cleaned.join(comp, cleaned.doc_id == comp.id, "left")
            .filter(
                F.col("component").isNull()
                | (F.col("component") == F.col("doc_id"))
            )
            .select("doc_id", "lang", "text")
        )
        first = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
        train = surv.filter(first.isin(*"0123456789ab"))
        packed = pack_sequences_frame(train)
        timed(spark, "5 survivor+split+pack", lambda: noop(packed))
        print(f"--- end iteration {it} ---", flush=True)
        if os.environ.get("STAGE_SWEEP", "1") == "1":
            release_caches()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
