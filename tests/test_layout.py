"""Z-order layout: key algebra + the data-skipping property itself."""

from __future__ import annotations

from pyspark.sql import functions as F

from cc_pyspark_spark.operators.layout import zorder_key


def _morton2(x: int, y: int, bits: int = 16) -> int:
    out = 0
    for j in range(bits):
        out |= ((x >> j) & 1) << (2 * j)
        out |= ((y >> j) & 1) << (2 * j + 1)
    return out


def test_zorder_key_matches_reference_bit_interleave(spark):
    rows = [(x, y) for x in range(0, 300, 7) for y in range(0, 300, 11)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = df.select("x", "y", zorder_key(["x", "y"]).alias("z")).collect()
    for r in got:
        assert r["z"] == _morton2(r["x"], r["y"]), (r["x"], r["y"])


def test_zorder_buckets_bound_both_dimensions(spark):
    """The point of the layout: partition a grid into equal row groups
    by (a) z-key ranges and (b) single-column sort ranges; the z-order
    envelopes must bound BOTH dimensions far tighter than the
    single-column layout bounds its unsorted dimension."""
    n = 64
    rows = [(x, y) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(rows, "x long, y long")
    groups = 16
    z = df.select(
        "x", "y", (zorder_key(["x", "y"], bits=6) * groups / (n * n)).cast(
            "long"
        ).alias("g")
    )
    lin = df.select("x", "y", (F.col("x") * groups / n).cast("long").alias("g"))

    def mean_span(d, col):
        spans = (
            d.groupBy("g")
            .agg((F.max(col) - F.min(col)).alias("s"))
            .agg(F.avg("s"))
            .collect()[0][0]
        )
        return spans

    # z-order: both dims bounded to ~quarter of the range per group
    assert mean_span(z, "x") <= n / 2
    assert mean_span(z, "y") <= n / 2
    # single-column sort: sorted dim tight, other dim unbounded
    assert mean_span(lin, "x") <= n / 8
    assert mean_span(lin, "y") >= n - 1


def test_zordered_write_prunes_on_both_columns(spark, tmp_path):
    """End-to-end: write the same grid (a) z-ordered and (b) sorted by
    one column; read back the ACTUAL parquet footer min/max stats per
    file. The z-ordered files must bound both columns (mean envelope
    area far below the full square); the single-sort files bound only
    the sorted column."""
    import pyarrow.parquet as pq

    from cc_pyspark_spark.sources.tables import write_zordered

    n = 128
    df = spark.createDataFrame(
        [(x, y) for x in range(n) for y in range(n)], "x long, y long"
    )
    zpath, spath = str(tmp_path / "z"), str(tmp_path / "s")
    write_zordered(df, zpath, ["x", "y"], bits=7, num_files=16)
    (
        df.repartitionByRange(16, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(spath)
    )

    def mean_spans(path):
        import glob
        import os

        spans = {"x": [], "y": []}
        for f in glob.glob(os.path.join(path, "*.parquet")):
            md = pq.ParquetFile(f).metadata
            lo = {"x": None, "y": None}
            hi = {"x": None, "y": None}
            for rg in range(md.num_row_groups):
                row = md.row_group(rg)
                for ci in range(row.num_columns):
                    col = row.column(ci)
                    name = col.path_in_schema
                    st = col.statistics
                    lo[name] = st.min if lo[name] is None else min(lo[name], st.min)
                    hi[name] = st.max if hi[name] is None else max(hi[name], st.max)
            for c in ("x", "y"):
                spans[c].append(hi[c] - lo[c] + 1)
        return {c: sum(v) / len(v) for c, v in spans.items()}

    # What a filter on each column can prune, from the real footers:
    # z-order bounds BOTH columns per file...
    zs = mean_spans(zpath)
    assert zs["x"] <= n / 2 and zs["y"] <= n / 2, zs
    # ...single-column sort bounds x tightly but leaves y unbounded —
    # a `WHERE y = k` scan reads every file of this layout.
    ss = mean_spans(spath)
    assert ss["x"] <= n / 8 and ss["y"] >= n - 1, ss


def test_zorder_table_cli_roundtrip(spark, tmp_path):
    """CLI: zorder_table re-lays-out a parquet table; schema unchanged,
    rows identical, layout helper columns never leak into the output."""
    from cc_pyspark_spark.jobs.runner import main as runner_main

    import glob

    import pyarrow.parquet as pq

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    # ids deliberately span far past 2**16: the scaling must be by
    # RANGE, not modulo — a modulo layout makes every output file span
    # the whole raw domain and prunes nothing (code-review r7)
    df = spark.range(0, 5000).selectExpr(
        "id * 2001 AS a", "(id * 37) % 4096 AS b", "id % 7 AS payload"
    )
    df.write.parquet(src)
    rc = runner_main(
        ["zorder_table", src, out, "--zorder_cols", "a,b",
         "--num_output_partitions", "16"]
    )
    assert rc == 0
    back = spark.read.parquet(out)
    assert sorted(back.columns) == ["a", "b", "payload"]
    assert back.count() == 5000
    assert sorted(r["a"] for r in back.select("a").collect()) == [
        i * 2001 for i in range(5000)
    ]
    # the layout must actually bound `a` per file (footer min/max) —
    # mean span: row-count range splits can straddle one z-quadrant
    # boundary, so individual files get slack; a modulo layout would
    # put EVERY file at ~the full range
    full = 5000 * 2001
    spans = []
    for f in glob.glob(out + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        lo = min(
            md.row_group(rg).column(0).statistics.min
            for rg in range(md.num_row_groups)
        )
        hi = max(
            md.row_group(rg).column(0).statistics.max
            for rg in range(md.num_row_groups)
        )
        spans.append(hi - lo)
    # aligned 4x4 z-cells would give span = full/4; row-count splits
    # straddle boundaries, observed mean ~0.38*full — a modulo layout
    # sits at ~1.0*full, so full/2 separates the behaviors cleanly
    assert sum(spans) / len(spans) <= full / 2, sorted(spans)


def test_zorder_table_rejects_empty_column_list(spark, tmp_path):
    """`--zorder_cols ","` parses to no columns: an error naming the
    flag, not a ZeroDivisionError from the bit split."""
    import pytest

    from cc_pyspark_spark.jobs.runner import main as runner_main

    src = str(tmp_path / "src")
    spark.range(0, 10).selectExpr("id AS a").write.parquet(src)
    with pytest.raises(SystemExit, match="--zorder_cols"):
        runner_main(["zorder_table", src, str(tmp_path / "out"), "--zorder_cols", ","])


def test_zorder_key_decode_roundtrip_property(spark):
    """Encode/decode are mutually inverse on random tuples — the key
    loses no information (hypothesis-driven)."""
    from hypothesis import given, settings, strategies as st

    from cc_pyspark_spark.operators.layout import zorder_decode

    df_cache = {}

    # each example is a Spark job — keep the count Spark-sized
    @settings(max_examples=25, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(0, (1 << 16) - 1), st.integers(0, (1 << 16) - 1)
            ),
            min_size=1,
            max_size=8,
        )
    )
    def check(rows):
        key = tuple(rows)
        if key not in df_cache:
            df = spark.createDataFrame(rows, "x long, y long")
            df_cache[key] = df.select(
                "x", "y", zorder_key(["x", "y"]).alias("z")
            ).collect()
        for r in df_cache[key]:
            assert zorder_decode(r["z"], 2) == [r["x"], r["y"]]

    check()


def test_bucketed_table_external_path(spark, tmp_path):
    """r12: write_bucketed_table(path=...) must place the data at the
    given EXTERNAL location (scratch layouts stay out of the default
    warehouse dir) while the catalog still records the bucket spec —
    Spark only trusts bucket layout it wrote itself, so the join-side
    guarantee must survive the external-path variant."""
    from pyspark.sql import functions as F

    from cc_pyspark_spark.sources.tables import write_bucketed_table

    loc = str(tmp_path / "bkt_ext")
    spark.sql("DROP TABLE IF EXISTS bkt_ext_t")
    try:
        write_bucketed_table(
            spark.range(100).select(F.col("id").alias("k")),
            "bkt_ext_t",
            "k",
            num_buckets=4,
            sort_cols="k",
            path=loc,
        )
        import os

        assert any(f.endswith(".parquet") for f in os.listdir(loc))
        ddl = spark.sql("SHOW CREATE TABLE bkt_ext_t").collect()[0][0]
        assert "CLUSTERED BY" in ddl and "4 BUCKETS" in ddl, ddl
        assert spark.table("bkt_ext_t").count() == 100
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_ext_t")


def test_partition_scratch_prune_is_source_scoped(spark):
    """r14 (ADVICE r13): layout_partition_pruning's stale-tag prune is
    scoped to the SOURCE's own path-hash directory — another sf_dir's
    live partitioned copy (a sibling path_key) must survive a rebuild
    for this one, so alternating SFs (pytest sf0.001 / bench sf0.1 /
    the sf1 suite) neither rebuild per switch nor rmtree a directory a
    concurrent run is reading."""
    import os
    import tempfile

    from cc_pyspark_spark.plans.registry import QUERIES
    from tests.conftest import SF_DIR

    root = os.path.join(tempfile.gettempdir(), "ccps_partitioned")
    other = os.path.join(root, "fake_other_sf", "deadbeef0000", "events")
    os.makedirs(other, exist_ok=True)
    sentinel = os.path.join(other, "_SUCCESS")
    open(sentinel, "w").close()
    try:
        assert QUERIES["layout_partition_pruning"].spark(spark, SF_DIR).count() > 0
        # the other source's scratch copy is untouched...
        assert os.path.exists(sentinel)
        # ...and this source's copy lives under its own path_key, with
        # exactly one live content-tag after the prune.
        import hashlib

        pk = hashlib.md5(
            os.path.abspath(os.path.join(SF_DIR, "events.parquet")).encode()
        ).hexdigest()[:12]
        tags = os.listdir(os.path.join(root, pk))
        assert len(tags) == 1
    finally:
        import shutil

        shutil.rmtree(os.path.join(root, "fake_other_sf"), ignore_errors=True)
