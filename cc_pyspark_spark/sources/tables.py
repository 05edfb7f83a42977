"""Generic tabular scans/sinks (SURVEY.md §2.1 S6-S10, K1-K3).

These are one-liners in Spark by design — listed here so the operator
inventory has a single home and jobs don't hand-roll reader options.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def load_csv(
    spark: SparkSession, path: str, header: bool = True, infer_schema: bool = True
) -> DataFrame:
    """S6: CSV coordinate tables (sparkcc.py:591-593)."""
    return (
        spark.read.format("csv")
        .option("header", str(header).lower())
        .option("inferSchema", str(infer_schema).lower())
        .load(path)
    )


def load_tsv_pairs(spark: SparkSession, path: str) -> DataFrame:
    """S9: tab-separated (s, t) link pairs (linkmap2parquet.py:15-26) —
    spark.read.csv(sep=TAB) instead of textFile+split."""
    return (
        spark.read.format("csv")
        .option("sep", "\t")
        .schema("s string, t string")
        .load(path)
    )


def load_generic(
    spark: SparkSession, path: str, fmt: str = "parquet", **options: str
) -> DataFrame:
    """S7/S8: --input_table_format/--input_table_option passthrough
    (sparkcc.py:594-598)."""
    reader = spark.read.format(fmt)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def write_table(
    df: DataFrame,
    path_or_table: str,
    fmt: str = "parquet",
    compression: str = "zstd",
    num_partitions: int | None = None,
    save_as_table: bool = False,
    partition_by: list[str] | str | None = None,
    **options: str,
) -> None:
    """K1: managed-table/path sink with compression (sparkcc.py:219-225;
    orc 'gzip'→'zlib' fixup sparkcc.py:132-134).

    `partition_by` writes hive-style directory partitions (crawl=, lang=,
    subset= …) — the layout that turns downstream equality filters into
    partition PRUNING at the scan (the cc-index layout, cc_index.py)."""
    if fmt == "orc" and compression == "gzip":
        compression = "zlib"
    out = df.coalesce(num_partitions) if num_partitions else df
    writer = out.write.format(fmt).option("compression", compression)
    if partition_by:
        if isinstance(partition_by, str):
            partition_by = [partition_by]
        writer = writer.partitionBy(*partition_by)
    for k, v in options.items():
        writer = writer.option(k, v)
    if save_as_table:
        writer.saveAsTable(path_or_table)
    else:
        writer.mode("overwrite").save(path_or_table)


def checkpoint_table(
    df: DataFrame, spark: SparkSession, path: str
) -> DataFrame:
    """K3: restartable intermediate output (wat_extract_links.py:298-312):
    materialize to parquet, read back — truncates lineage so a restart
    resumes from disk instead of recomputing the extraction stage."""
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _tab_joined(df: DataFrame, sep: str = "\t") -> DataFrame:
    """The text sinks' row format: one `value` column, the row's columns
    cast to string and joined by `sep`."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    cols = [F.col(c).cast("string") for c in df.columns]
    return df.select(F.concat_ws(sep, *cols).alias("value"))


def write_text_gz(df: DataFrame, path: str, sep: str = "\t") -> None:
    """K2: gzip text sink for graph vertices/edges
    (hostlinks_to_graph.py:115-118,162-165)."""
    _tab_joined(df, sep).write.mode("overwrite").option(
        "compression", "gzip"
    ).text(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str] | str,
    num_buckets: int = 32,
    sort_cols: list[str] | str | None = None,
    fmt: str = "parquet",
    path: str | None = None,
) -> None:
    """K1 at scale: hash-bucketed managed table for co-located joins.

    Bucketing pre-shuffles data ONCE at write time: two tables bucketed
    on the same key with the same bucket count join with ZERO exchanges
    (SortMergeJoin reads buckets pairwise), and a groupBy on the bucket
    key skips its exchange too. This is the 100 TB answer to repeated
    joins on the same key (doc_id, host, custkey): pay the shuffle once
    in the sink, never in the queries. Optional sort_cols additionally
    pre-sorts within buckets, eliminating the sort in sort-merge joins.
    Optional ``path`` makes the table EXTERNAL at that location (the
    bucketing metadata still lives in the catalog — Spark only trusts
    bucket layout it recorded itself), keeping scratch data out of the
    default warehouse directory.
    """
    if isinstance(bucket_cols, str):
        bucket_cols = [bucket_cols]
    writer = (
        df.write.format(fmt)
        .mode("overwrite")
        .bucketBy(num_buckets, *bucket_cols)
    )
    if path is not None:
        writer = writer.option("path", path)
    if sort_cols:
        if isinstance(sort_cols, str):
            sort_cols = [sort_cols]
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_zordered(
    df: DataFrame,
    path: str,
    zcols: list[str],
    bits: int = 16,
    num_files: int = 16,
    drop_zcols: bool = False,
) -> None:
    """Write parquet z-ordered on ``zcols`` — OPTIMIZE ZORDER BY as a
    write mode: one range shuffle on the Morton key + a partition-local
    sort, then the key is dropped before the write. Every output file
    then carries a tight min/max footer envelope on EVERY interleaved
    column, so scans filtering on ANY of them prune files — where a
    single-column sort prunes on one column only (the property
    tests/test_layout.py measures from the actual parquet footers).

    ``zcols`` must be non-negative integer columns < 2**bits (callers
    scale first — modulo for ids, rank bucketing for skewed measures).
    At 100 TB: the range exchange is the same cost as any sorted write;
    `num_files` maps to target file count (cluster: size by
    maxRecordsPerFile instead).
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    from cc_pyspark_spark.operators.layout import zorder_key  # noqa: PLC0415

    z = df.withColumn("__z", zorder_key([F.col(c) for c in zcols], bits=bits))
    drop = ["__z", *(zcols if drop_zcols else [])]
    (
        z.repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop(*drop)
        .write.mode("overwrite")
        .parquet(path)
    )
