"""W2 distributed ID assignment: equality with the global-window variant
and no single-partition exchange in the plan."""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from cc_pyspark_spark.operators.ids import assign_sequential_ids
from tests.conftest import SF_DIR


def _plan(df):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_ids_equal_global_row_number(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id")
    got = assign_sequential_ids(docs, "doc_id", num_partitions=7)
    want = docs.withColumn(
        "id", F.row_number().over(W.orderBy("doc_id")).cast("bigint")
    )
    assert {(r["doc_id"], r["id"]) for r in got.collect()} == {
        (r["doc_id"], r["id"]) for r in want.collect()
    }


def test_ids_plan_has_no_single_partition_exchange(spark):
    from cc_pyspark_spark.operators.ids import range_partitioned

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id")
    # The range shuffle lives behind a localCheckpoint (the exchange's
    # reservoir sampling is per-execution, so the counts pass and the id
    # pass must share ONE materialization) — assert its shape on the
    # pre-checkpoint builder, and the no-SinglePartition / parallel
    # window shape on the full operator.
    pre = _plan(range_partitioned(docs, ["doc_id"], 7))
    assert "rangepartitioning" in pre.lower()
    plan = _plan(assign_sequential_ids(docs, "doc_id", num_partitions=7))
    assert "SinglePartition" not in plan
    # the window sorts within range partitions, keyed by partition id
    assert "row_number" in plan


def test_ids_checkpoint_pins_one_partitioning(spark):
    # Regression: without materialization the counts job and the id job
    # re-run the range exchange with fresh sampling; with enough rows per
    # partition the partitionings diverge and the __pid join drops rows.
    # Pin the invariant directly: every input row comes back exactly once
    # with a dense, gap-free 1..N id range.
    df = spark.range(0, 20000).select(
        F.concat(F.lit("k"), F.format_string("%08d", F.col("id"))).alias("k")
    )
    out = assign_sequential_ids(df, "k", num_partitions=8).collect()
    assert len(out) == 20000
    ids = sorted(r["id"] for r in out)
    assert ids == list(range(1, 20001))


def test_ids_multi_column_order(spark):
    df = spark.createDataFrame(
        [("b", 2), ("a", 9), ("a", 1), ("c", 0)], ["k", "v"]
    )
    got = {
        (r["k"], r["v"]): r["id"]
        for r in assign_sequential_ids(df, ["k", "v"], num_partitions=3).collect()
    }
    assert got == {("a", 1): 1, ("a", 9): 2, ("b", 2): 3, ("c", 0): 4}


def test_graph_distributed_ids_match_default(spark):
    from cc_pyspark_spark.operators.graph import host_links_to_graph

    edges = spark.createDataFrame(
        [("com.a", "com.b"), ("com.b", "org.c"), ("org.c", "com.a")], ["s", "t"]
    )
    v1, e1 = host_links_to_graph(edges)
    v2, e2 = host_links_to_graph(edges, distributed_ids=True)
    assert sorted(map(tuple, v1.collect())) == sorted(map(tuple, v2.collect()))
    assert sorted(map(tuple, e1.collect())) == sorted(map(tuple, e2.collect()))


def test_range_prefix_sums_equals_global_window(spark):
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from cc_pyspark_spark.operators.ids import range_prefix_sums

    rng = random.Random(7)
    rows = [(float(k), rng.randint(0, 5), rng.randint(0, 5)) for k in range(500)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "v double, ca long, cb long")
    got = {
        r["v"]: (r["cum_ca"], r["cum_cb"])
        for r in range_prefix_sums(df, ["v"], ["ca", "cb"], num_partitions=7).collect()
    }
    glob = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    want = {
        r["v"]: (r["ia"], r["jb"])
        for r in df.select(
            "v",
            F.sum("ca").over(glob).alias("ia"),
            F.sum("cb").over(glob).alias("jb"),
        ).collect()
    }
    assert got == want


def test_range_prefix_sums_partition_invariance(spark):
    from cc_pyspark_spark.operators.ids import range_prefix_sums

    rows = [(float(k), k % 3, (k * 7) % 5) for k in range(200)]
    df = spark.createDataFrame(rows, "v double, ca long, cb long")
    outs = []
    for parts in (1, 4, 13):
        got = range_prefix_sums(
            df.repartition(5), ["v"], ["ca", "cb"], num_partitions=parts
        ).collect()
        outs.append(sorted((r["v"], r["cum_ca"], r["cum_cb"]) for r in got))
    assert outs[0] == outs[1] == outs[2]


def test_range_operators_evaluate_their_input_once(spark):
    """The range exchange samples its child before it shuffles it; the
    input must still be evaluated once per row (an upstream WARC parse
    or pandas UDF is the expensive part), and its cache must be gone
    when the operator returns."""
    from pyspark.storagelevel import StorageLevel

    from cc_pyspark_spark.operators.ids import range_prefix_sums

    n = 300
    for run in (
        lambda df: assign_sequential_ids(df, "k", num_partitions=4),
        lambda df: range_prefix_sums(df, ["k"], ["k"], num_partitions=4),
    ):
        evaluated = spark.sparkContext.accumulator(0)

        def counted(k, acc=evaluated):
            acc.add(1)
            return k

        df = spark.range(0, n, numPartitions=3).select(
            F.udf(counted, "long")("id").alias("k")
        )
        out = run(df).collect()
        assert len(out) == n
        assert evaluated.value == n
        assert df.storageLevel == StorageLevel.NONE


def test_range_operators_leave_a_callers_cache_alone(spark):
    from pyspark.storagelevel import StorageLevel

    df = spark.range(0, 100).select(F.col("id").alias("k")).cache()
    try:
        ids = sorted(
            r["id"] for r in assign_sequential_ids(df, "k", num_partitions=4).collect()
        )
        assert ids == list(range(1, 101))
        assert df.storageLevel != StorageLevel.NONE
    finally:
        df.unpersist()


def test_only_inputs_that_run_python_are_cached(spark):
    """The input cache is for inputs whose evaluation runs Python; a
    Python-free plan, or one whose Python sits behind a cache, is read
    twice rather than copied."""
    from cc_pyspark_spark.operators.ids import _evaluates_python

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert not _evaluates_python(docs.groupBy("lang").count())
    row_udf = docs.select(F.udf(lambda s: s, "string")("text").alias("u"))
    assert _evaluates_python(row_udf.filter(F.length("u") > 0))
    parsed = docs.select("doc_id").mapInPandas(lambda it: it, "doc_id long")
    assert _evaluates_python(parsed)
    cached = row_udf.cache()
    try:
        cached.count()
        assert not _evaluates_python(cached.filter(F.length("u") > 0))
    finally:
        cached.unpersist()


def test_ks_drift_matches_bruteforce_property(spark):
    """The integer-CDF KS algebra (events_ks_drift's core) equals a
    plain-Python brute-force sup|F_a - F_b| on random samples."""
    import random
    from fractions import Fraction

    from pyspark.sql import functions as F

    from cc_pyspark_spark.operators.ids import range_prefix_sums

    rng = random.Random(11)
    for trial in range(5):
        a = [rng.randint(0, 30) for _ in range(rng.randint(5, 80))]
        b = [rng.randint(0, 30) for _ in range(rng.randint(5, 80))]
        # brute force: evaluate both ECDFs at every distinct value
        pts = sorted(set(a) | set(b))
        want = max(
            abs(
                Fraction(sum(x <= v for x in a), len(a))
                - Fraction(sum(x <= v for x in b), len(b))
            )
            for v in pts
        )
        rows = [
            (float(v), sum(x == v for x in a), sum(x == v for x in b))
            for v in pts
        ]
        df = spark.createDataFrame(rows, "v double, ca long, cb long")
        cums = range_prefix_sums(df, ["v"], ["ca", "cb"], num_partitions=4)
        got_num = (
            cums.select(
                F.abs(
                    F.col("cum_ca") * len(b) - F.col("cum_cb") * len(a)
                ).alias("d")
            )
            .agg(F.max("d"))
            .collect()[0][0]
        )
        assert Fraction(got_num, len(a) * len(b)) == want, trial


def test_range_prefix_scan_min_max_property(spark):
    """Generalized scan: running min/max equal a sequential fold for
    random inputs under any partitioning."""
    import random

    rng = random.Random(3)
    rows = [(float(i), rng.randint(-50, 50)) for i in range(300)]
    rng.shuffle(rows)
    from cc_pyspark_spark.operators.ids import range_prefix_scan

    seq = sorted(rows)
    want_min, want_max, mn, mx = {}, {}, None, None
    for v, d in seq:
        mn = d if mn is None else min(mn, d)
        mx = d if mx is None else max(mx, d)
        want_min[v], want_max[v] = mn, mx
    for parts in (1, 5, 17):
        got = range_prefix_scan(
            spark.createDataFrame(rows, "v double, d long"),
            ["v"],
            [("d", "min"), ("d", "max")],
            num_partitions=parts,
        ).collect()
        assert {r["v"]: r["scan_min_d"] for r in got} == want_min, parts
        assert {r["v"]: r["scan_max_d"] for r in got} == want_max, parts


def test_cusum_matches_sequential_recursion(spark):
    """The prefix-sum-minus-running-min formulation must equal the
    textbook sequential CUSUM recursion S_i = max(0, S_{i-1} + d_i)."""
    import random

    from pyspark.sql import functions as F

    from cc_pyspark_spark.operators.ids import range_prefix_scan

    rng = random.Random(5)
    for trial in range(4):
        # first trial: all-positive initial run — the case that
        # catches a formulation missing the P_0 = 0 reset point
        if trial == 0:
            devs = [5, 3, -20, 4]
        else:
            devs = [rng.randint(-20, 20) for _ in range(rng.randint(10, 120))]
        s, seq_max = 0, 0
        for d in devs:
            s = max(0, s + d)
            seq_max = max(seq_max, s)
        rows = [(float(i), d) for i, d in enumerate(devs)]
        df = spark.createDataFrame(rows, "v double, d long")
        p = range_prefix_scan(df, ["v"], [("d", "sum")], num_partitions=4)
        p = p.withColumnRenamed("scan_sum_d", "p")
        got = (
            range_prefix_scan(p, ["v"], [("p", "min")], num_partitions=4)
            .select(
                (
                    F.col("p")
                    - F.least(F.lit(0), F.col("scan_min_p"))
                ).alias("s")
            )
            .agg(F.max("s"))
            .collect()[0][0]
        )
        assert got == seq_max, (trial, got, seq_max)
