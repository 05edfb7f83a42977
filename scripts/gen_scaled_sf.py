#!/usr/bin/env python
"""Materialize a scaled copy of a testdata SF directory.

Replicates every table ``factor`` times with per-replica key shifts
(fresh ids, join-consistent across tables: replica i shifts every
surrogate key by i * 10_000_000), writing real parquet so the
registered queries run UNMODIFIED against the scaled directory via
their normal Catalog scans — this is what lets bench.py run any row
(SPARK_GRAFT_ONLY) or the whole headliner suite at 2x/10x/sf1
(SCALING.md, VERDICT r10 asks #5/#6).

Replica content (r12, VERDICT r11 ask #3): by default documents.text
and embeddings.embedding are deterministically perturbed per replica
(see salt_replica) so replicas are NOT near-duplicates of the base —
within-replica similarity structure is preserved exactly, cross-
replica pairs vanish, and the dedup/similarity families' scale rows
measure the PLAN, not a generator artifact. `--no-salt` restores the
r11 verbatim replication (pair counts quadratic in the factor — read
those rows as upper bounds only).

Known probe artifacts (documented, deliberate):
  * categorical columns (source, lang, event_type) replicate
    verbatim, so their group COUNTS grow by the factor (domains are
    meant to repeat, like TPC-H dims).
  * dims (region, nation) copy unscaled, like TPC-H's fixed dims.

Usage: python scripts/gen_scaled_sf.py <base_sf_dir> <out_dir> <factor> [--no-salt]
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, ".")

from cc_pyspark_spark.catalog import TABLES, load_table  # noqa: E402
from cc_pyspark_spark.session import build_session  # noqa: E402

#: Per-replica shift applied to every surrogate key (big enough that
#: replicas never collide at any base SF the driver generates).
KEY_SHIFT = 10_000_000

#: Key columns to shift per table (join-consistency: a key shifted in
#: one table is shifted identically everywhere it appears).
SHIFT_COLS: dict[str, tuple[str, ...]] = {
    "region": (),
    "nation": (),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


def check_key_ranges(base, name: str, keys: tuple[str, ...]) -> None:
    """Fail loudly if any surrogate key falls outside [0, KEY_SHIFT):
    replica i occupies [i*KEY_SHIFT, (i+1)*KEY_SHIFT) per key, so a
    base key >= KEY_SHIFT would silently overlap the next replica's
    range and corrupt every join cardinality downstream (r11 ADVICE —
    the no-collision property was previously a comment, not a check).
    One cheap min/max agg per table."""
    if not keys:
        return
    aggs = []
    for k in keys:
        aggs += [F.min(k).alias(f"min_{k}"), F.max(k).alias(f"max_{k}")]
    row = base.agg(*aggs).collect()[0]
    for k in keys:
        lo, hi = row[f"min_{k}"], row[f"max_{k}"]
        if lo is None:
            continue  # empty table: nothing to shift
        if lo < 0 or hi >= KEY_SHIFT:
            raise SystemExit(
                f"gen_scaled_sf: {name}.{k} range [{lo}, {hi}] escapes "
                f"[0, {KEY_SHIFT}) — replica key ranges would overlap; "
                "raise KEY_SHIFT or shrink the base SF"
            )


def salt_replica(rep, name: str, i: int, dim: int = 0):
    """Deterministic per-replica content perturbation (r12, VERDICT
    r11 ask #3): replicas must stop being exact near-duplicates of
    the base, or every pair-generating family's scale ratio is a
    generator artifact (the r11 sf1 table's 14-45x "upper bound"
    rows), while WITHIN-replica similarity structure must be
    preserved exactly so the workload stays the same shape.

    * documents.text — tokens are deterministically PERMUTED within
      each document (sort by md5(replica:doc_id:pos:token)). The
      token MULTISET of every doc is exactly the base multiset, so
      every token-level statistic scales faithfully: each token's
      document frequency grows exactly with the factor, df/n_docs is
      invariant, and tf/norm/tfidf weights are bit-identical per
      replica doc. Shingle (n-gram) sets, by contrast, decorrelate:
      a permuted doc shares few 3-grams with its base, so replicas
      stop being near-duplicates and pair-family reads measure the
      plan. The first salted design (disjoint per-replica vocab via
      token suffixing) FAILED this invariance the other way: per-
      token df stayed constant while n_docs grew, so every
      RELATIVE-df cap (sim_sparse_tfidf_topk's df <= n_docs/2,
      boilerplate thresholds) silently stopped filtering the
      corpus-common tokens and the posting self-join exploded
      ~quadratically at 2x — a generator artifact in the opposite
      direction (observed as a wedged ObjectHashAggregate; the
      faithful scale-up keeps the df DISTRIBUTION stable, not the
      vocabulary disjoint).
    * embeddings.embedding — circular shift of the ``dim``-length
      vector by ``i % dim`` positions (dim probed from the data by
      scaled_table). A coordinate permutation is orthogonal: all
      within-replica cosines/norms are EXACTLY the base values;
      cross-replica cosine to the base vector decorrelates. factor
      must be <= dim so shifts stay distinct and nonzero — ENFORCED
      below, not assumed.
    * everything else (dims, categorical lang/source/event_type,
      numerics) replicates verbatim — those columns' domains are
      meant to repeat, like TPC-H dims.
    """
    if name == "documents":
        toks = F.expr("regexp_extract_all(text, '([A-Za-z0-9]+)', 1)")
        permuted = F.array_sort(
            F.transform(
                toks,
                lambda t, pos: F.struct(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.lit(str(i)),
                            F.col("doc_id").cast("string"),
                            pos.cast("string"),
                            t,
                        )
                    ).alias("h"),
                    t.alias("t"),
                ),
            )
        )
        rep = rep.withColumn(
            "text",
            F.array_join(F.transform(permuted, lambda s_: s_["t"]), " "),
        ).withColumn("n_chars", F.length("text").cast("bigint"))
    elif name == "embeddings":
        # dim is probed from the data by scaled_table (loud check, not
        # a comment): shift == 0 for i > 0 would reproduce the base
        # vector order verbatim and silently reintroduce the exact
        # cross-replica near-dup artifact the salting exists to remove.
        shift = i % dim
        if shift == 0:
            raise SystemExit(
                f"replica {i} rotates the {dim}-dim embedding by 0 "
                f"(factor > embedding dim): every {dim}th replica "
                "would be a verbatim near-dup of the base. Use a "
                "factor <= the embedding dim, or extend salt_replica "
                "with a second decorrelation dimension first."
            )
        rep = rep.withColumn(
            "embedding",
            F.concat(
                F.slice("embedding", shift + 1, dim - shift),
                F.slice("embedding", 1, shift),
            ),
        )
    return rep


def scaled_table(base, factor: int, keys: tuple[str, ...], name: str, salt: bool):
    if not keys or factor <= 1:
        return base
    dim = 0
    if salt and name == "embeddings":
        # One probe job: the rotation algebra needs the real dim, and
        # ragged arrays would make slice() drop elements silently.
        lo, hi = base.select(
            F.min(F.size("embedding")), F.max(F.size("embedding"))
        ).first()
        # r12 ADVICE: an empty table probes (None, None) — which would
        # pass the raggedness check and then crash int(None); dim 0
        # would later ZeroDivisionError in the rotation. Fail cleanly.
        if not hi:
            raise SystemExit(
                "embeddings table is empty or zero-dimensional; "
                "salt rotation needs at least one non-empty vector"
            )
        if lo != hi:
            raise SystemExit(
                f"embeddings table is ragged (dims {lo}..{hi}); "
                "salt rotation requires a fixed dimension"
            )
        dim = int(hi)
    out = base
    for i in range(1, factor):
        rep = base
        for k in keys:
            rep = rep.withColumn(k, F.col(k) + F.lit(i * KEY_SHIFT))
        if salt:
            rep = salt_replica(rep, name, i, dim)
        out = out.unionAll(rep)
    return out


def main() -> None:
    base_dir, out_dir, factor = sys.argv[1], sys.argv[2], int(sys.argv[3])
    # --no-salt reproduces the r11 verbatim-replica behavior (every
    # replica an exact near-dup of the base — pair counts quadratic in
    # the factor); default is salted replicas (ask #3).
    salt = "--no-salt" not in sys.argv[4:]
    spark = build_session(
        app_name="gen-scaled-sf", master="local[32]", shuffle_partitions=32
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        df = load_table(spark, base_dir, name)
        if factor > 1:
            check_key_ranges(df, name, SHIFT_COLS[name])
        scaled_table(df, factor, SHIFT_COLS[name], name, salt).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/{name}.parquet")
        print(f"{name}: written x{factor}{' salted' if salt else ''}")
    spark.stop()


if __name__ == "__main__":
    main()
