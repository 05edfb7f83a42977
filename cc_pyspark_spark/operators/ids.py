"""Distributed dense ID assignment (W2) — no single-partition window.

`row_number().over(Window.orderBy(...))` gives exact dense IDs but
funnels every row through ONE task; fine for oracle replay, fatal at
100 TB. This operator is the scale path the reference reaches with RDD
`sortBy + zipWithIndex` (hostlinks_to_graph.py:102-111), re-expressed
for DataFrames:

1. `repartitionByRange(order)` — range shuffle; Spark's RangePartitioner
   assigns ascending key ranges to ascending partition ids. The ranged
   frame is `localCheckpoint(eager=True)`-pinned: range-exchange
   boundaries come from *reservoir sampling* that is re-drawn on every
   execution of the plan, so the counts pass and the id pass below MUST
   read one materialization — otherwise the two runs can partition rows
   differently, and the `__pid` join silently drops/duplicates IDs.
   zipWithIndex pays the same cost (its shuffle files persist across
   its two jobs); the checkpoint is the DataFrame equivalent.
   The checkpoint's one execution still evaluates the input twice: the
   range exchange first runs a sampling job over its child, then its
   map stage runs the child again. When the input's plan runs Python
   (a WARC parse in `mapInPandas`, a pandas UDF), that second pass
   costs a second parse of every archive, so such an input is cached
   for the duration of the checkpoint and released once it is
   materialized. A Python-free input (a parquet scan, an aggregate) is
   cheaper to evaluate twice than to cache, and is left uncached.
2. per-partition row counts — a metadata-sized aggregate
   (`num_partitions` rows) kept as a DataFrame end-to-end; the
   prefix-sum offset is a window-free broadcast self-join over those
   few rows (O(P²) pairs of *partition counts*, not data). No driver
   `.collect()` anywhere.
3. dense id = broadcast offset of the partition + `row_number` *within*
   the partition — every window group is one range partition, so the
   sort parallelism equals `num_partitions`.

Determinism contract: the order key must be unique (callers pass the
full sort key, e.g. the distinct host name) — then IDs are identical
to the global-window variant, which the equality test pins.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def range_partitioned(
    df: DataFrame, order_cols: list[str], num_partitions: int
) -> DataFrame:
    """The pre-checkpoint range-shuffle plan (exposed for plan tests)."""
    return df.repartitionByRange(num_partitions, *order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )


# Logical plan nodes that hand rows to a Python worker: ArrowEvalPython,
# BatchEvalPython (row UDFs, after ExtractPythonUDFs), MapInPandas,
# MapInArrow, FlatMapGroupsInPandas, FlatMapCoGroupsInArrow, ...
_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")


def _python_nodes(df: DataFrame) -> list[str]:
    """Names of the nodes of ``df``'s optimized logical plan that hand
    rows to a Python worker. A cached relation is a leaf here: reading
    it back runs no Python, whatever its own plan did."""
    todo, found = [df._jdf.queryExecution().optimizedPlan()], []
    while todo:
        node = todo.pop()
        if _PYTHON_NODE.search(node.nodeName()):
            found.append(node.nodeName())
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return found


def _evaluates_python(df: DataFrame) -> bool:
    """Whether evaluating ``df`` runs Python (see :func:`_python_nodes`)."""
    return bool(_python_nodes(df))


def _checkpointed_ranges(
    df: DataFrame, order_cols: list[str], num_partitions: int
) -> DataFrame:
    """:func:`range_partitioned`, materialized once by an eager local
    checkpoint. If ``df`` runs Python and is not cached already, it is
    cached while the checkpoint runs, so the exchange's sampling job
    and its map stage share one evaluation of it; a frame the caller
    cached is used as it is and left cached."""
    ranged = range_partitioned(df, order_cols, num_partitions)
    # The test reads the plan the checkpoint then executes, so a
    # Python-free input is planned once, as without the test.
    owned = df.storageLevel == StorageLevel.NONE and _evaluates_python(ranged)
    if owned:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        ranged = range_partitioned(df, order_cols, num_partitions)
    try:
        return ranged.localCheckpoint(eager=True)
    finally:
        if owned:
            df.unpersist()


def assign_sequential_ids(
    df: DataFrame,
    order_cols: list[str] | str,
    id_col: str = "id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Dense 1-based IDs ordered by `order_cols`, no global-sort window.

    One range shuffle (materialized exactly once via local checkpoint,
    reading one evaluation of ``df`` — see :func:`_checkpointed_ranges`)
    + one metadata-sized count aggregate; the per-partition
    `row_number` windows run in parallel (one group per range
    partition).
    """
    if isinstance(order_cols, str):
        order_cols = [order_cols]
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    # Eager checkpoint: see module docstring — the exchange's reservoir
    # sampling is per-execution, so both passes must share one run.
    ranged = _checkpointed_ranges(df, order_cols, num_partitions)
    # Range partitioning on a small/skewed key set may use fewer
    # populated partitions than requested — offsets come from the data.
    counts = ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    prior = counts.select(
        F.col("__pid").alias("__prior_pid"), F.col("__cnt").alias("__prior_cnt")
    )
    offsets = (
        counts.join(
            F.broadcast(prior), F.col("__prior_pid") < F.col("__pid"), "left"
        )
        .groupBy("__pid")
        .agg(F.coalesce(F.sum("__prior_cnt"), F.lit(0)).alias("__offset"))
    )
    local = W.partitionBy("__pid").orderBy(*order_cols)
    return (
        ranged.join(F.broadcast(offsets), "__pid")
        .withColumn(
            id_col,
            (F.row_number().over(local).cast("bigint") + F.col("__offset")),
        )
        .drop("__pid", "__offset")
    )


def range_prefix_sums(
    df: DataFrame,
    order_cols: list[str] | str,
    sum_cols: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Running (inclusive) cumulative sums of `sum_cols` in
    `order_cols` order — the same no-single-partition-window discipline
    as assign_sequential_ids, generalized from row counting to
    arbitrary additive measures (CDF numerators, running totals).

    One range shuffle (checkpoint-pinned: the range exchange samples
    per execution, see module docstring), per-partition totals as a
    metadata-sized aggregate, window-free broadcast prefix offsets,
    then per-partition local running sums in parallel. Adds
    `cum_<col>` for every col in `sum_cols`.

    Determinism contract: `order_cols` must be a unique key of `df`
    (pre-aggregate to distinct keys first), so results equal the
    global-window variant bit-for-bit.
    """
    out = range_prefix_scan(
        df, order_cols, [(c, "sum") for c in sum_cols], num_partitions
    )
    for c in sum_cols:
        out = out.withColumnRenamed(f"scan_sum_{c}", f"cum_{c}")
    return out


#: op name -> (column aggregate, window function) for range_prefix_scan
_SCAN_OPS = {
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
}


def range_prefix_scan(
    df: DataFrame,
    order_cols: list[str] | str,
    specs: list[tuple[str, str]],
    num_partitions: int | None = None,
) -> DataFrame:
    """Running (inclusive) prefix SCAN in ``order_cols`` order for any
    mix of associative ops — ``specs`` is [(col, "sum"|"min"|"max"),
    ...]; adds ``scan_<op>_<col>`` per spec.

    Generalizes :func:`range_prefix_sums` (which delegates here): the
    two-phase shape — range shuffle, per-partition totals, window-free
    broadcast prefix offsets, parallel local scans — is correct for ANY
    associative combine, so running minima/maxima (CUSUM drawdowns,
    watermarks, high-water marks) cost the same as running sums and
    never touch a single-partition window. Same determinism contract:
    `order_cols` must be a unique key.
    """
    if isinstance(order_cols, str):
        order_cols = [order_cols]
    for _, op in specs:
        if op not in _SCAN_OPS:
            raise ValueError(f"unsupported scan op: {op}")
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    ranged = _checkpointed_ranges(df, order_cols, num_partitions)
    totals = ranged.groupBy("__pid").agg(
        *[
            _SCAN_OPS[op](c).alias(f"__t_{op}_{c}")
            for c, op in specs
        ]
    )
    prior = totals.select(
        F.col("__pid").alias("__prior_pid"),
        *[
            F.col(f"__t_{op}_{c}").alias(f"__p_{op}_{c}")
            for c, op in specs
        ],
    )
    offsets = (
        totals.join(
            F.broadcast(prior), F.col("__prior_pid") < F.col("__pid"), "left"
        )
        .groupBy("__pid")
        .agg(
            *[
                _SCAN_OPS[op](f"__p_{op}_{c}").alias(f"__off_{op}_{c}")
                for c, op in specs
            ]
        )
    )
    local = (
        W.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    out = ranged.join(F.broadcast(offsets), "__pid")
    for c, op in specs:
        local_scan = _SCAN_OPS[op](c).over(local)
        off = F.col(f"__off_{op}_{c}")  # NULL for the first partition
        if op == "sum":
            combined = local_scan + F.coalesce(off, F.lit(0))
        elif op == "min":
            combined = F.least(local_scan, F.coalesce(off, local_scan))
        else:
            combined = F.greatest(local_scan, F.coalesce(off, local_scan))
        out = out.withColumn(f"scan_{op}_{c}", combined)
    return out.drop(
        "__pid", *[f"__off_{op}_{c}" for c, op in specs]
    )
