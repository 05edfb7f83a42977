#!/usr/bin/env python
"""One-off sf1-scale graph probe (VERDICT r8 ask #6).

The three benched graph queries run on sf0.1 fixtures (~19.6 s of the
40 s headline total); this script gives the O(log n) / ship-edges-once
claims a second data point at ~10x the edge volume WITHOUT needing an
sf1 testdata drop: it synthesizes a deterministic edge table whose
size matches what sf1 lineitem would induce, runs pagerank / CC
(fixed + converged) / triangles on it, and prints one JSON line for
SCALING.md.

Graph model (all spark.range — no RNG, reproducible anywhere):
  * ~N_SUPP suppliers (sf1 has 10k; we scale the CO-ORDER graph, whose
    edge count is what matters: sf0.1's thresholded co-order graph has
    ~25k edges on 1k vertices; here we build ~10x edges on 10x
    vertices with the same right-skewed degree shape).
  * Edge i connects (i mod V, (i*i + i) mod V) — quadratic residues
    give a scale-free-ish collision pattern with hubs, self-loops and
    duplicate edges included on purpose (the operators' canonicalize
    step must absorb them, as it does for real co-order pairs).
  * A 2^k-hop path is appended so CC has a deep component — the regime
    where round complexity (O(log n) star rounds vs O(diameter)
    propagation) is visible in wall-clock, not just theory.

Usage: python scripts/graph_scale_probe.py [n_edges] [n_vertices]
Defaults: 250_000 edges on 10_000 vertices + a 4096-hop path.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from cc_pyspark_spark.caching import release_caches  # noqa: E402
from cc_pyspark_spark.session import build_session  # noqa: E402


def main() -> None:
    n_edges = int(sys.argv[1]) if len(sys.argv) > 1 else 250_000
    n_verts = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000
    path_len = 4096
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = build_session(
        app_name="graph-scale-probe",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )

    core = spark.range(n_edges).select(
        (F.col("id") % n_verts).alias("s"),
        ((F.col("id") * F.col("id") + F.col("id")) % n_verts).alias("t"),
    )
    # ring strip: (j, j+1) and (j, j+2) for every vertex — closes a
    # triangle (j, j+1, j+2) at each j, so triangle counting has real
    # work (the quadratic-residue bulk alone is triangle-free)
    strip = spark.range(2 * n_verts).select(
        (F.col("id") % n_verts).alias("s"),
        (
            (F.col("id") % n_verts + 1 + F.col("id") / n_verts).cast("bigint")
            % n_verts
        ).alias("t"),
    )
    path = spark.range(path_len).select(
        (F.col("id") + 1_000_000).alias("s"),
        (F.col("id") + 1_000_001).alias("t"),
    )
    edges = core.unionAll(strip).unionAll(path).persist()
    n_in = edges.count()

    from cc_pyspark_spark.operators.pagerank import (  # noqa: E402,PLC0415
        cc_alternating,
        cc_alternating_converged,
        pagerank_fixed,
        triangle_stats,
    )

    out: dict[str, object] = {
        "n_edges_in": n_in,
        "n_vertices": n_verts + path_len + 1,
        "path_len": path_len,
    }

    t0 = time.perf_counter()
    pr = pagerank_fixed(edges, n_iter=8)
    pr.write.format("noop").mode("overwrite").save()
    out["pagerank_8iter_sec"] = round(time.perf_counter() - t0, 2)
    release_caches()

    # star alternation needs ~log2(path_len)=12 rounds for the path
    t0 = time.perf_counter()
    cc = cc_alternating(edges, rounds=13)
    cc.write.format("noop").mode("overwrite").save()
    out["cc_fixed_13round_sec"] = round(time.perf_counter() - t0, 2)
    release_caches()

    t0 = time.perf_counter()
    ccc = cc_alternating_converged(edges)
    n_comp = ccc.select("component").distinct().count()
    out["cc_converged_sec"] = round(time.perf_counter() - t0, 2)
    out["n_components"] = n_comp
    release_caches()

    t0 = time.perf_counter()
    tri = triangle_stats(
        edges.select(F.least("s", "t").alias("a"), F.greatest("s", "t").alias("b"))
        .filter("a <> b")
        .distinct()
    )
    row = tri.collect()[0]
    out["triangles_sec"] = round(time.perf_counter() - t0, 2)
    out["n_triangles"] = row["n_triangles"]
    release_caches()

    print(json.dumps(out))


if __name__ == "__main__":
    main()
