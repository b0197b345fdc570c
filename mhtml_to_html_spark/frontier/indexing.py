"""Distributed total-order index assignment.

``Window.orderBy`` with no ``partitionBy`` funnels every row through
ONE task — the classic Spark scale-killer. This module assigns the
identical global index with the zipWithIndex two-pass trick, fully
distributed:

1. ``repartitionByRange`` on the ordering key (partition i's rows all
   sort before partition i+1's) + ``sortWithinPartitions``;
2. one ``mapInPandas`` pass numbers rows within each partition
   (0..n_p-1) and tags the partition id;
3. the per-partition counts (one tiny row per partition) come to the
   driver, cumulative offsets go back as a literal array indexed by
   partition id (a projection, no join);
4. ``index = partition_offset + within_partition_position``.

The index is the exclusive prefix sum of weight 1, so
:func:`assign_prefix_sum` (any integral weight) runs the same two
passes.

The total order is byte-identical to the window version as long as
``order_cols`` is a TOTAL order (no ties) — every caller in the crawl
qualifies: (depth, host_rank, disc_seq) has a unique disc_seq, and
(parent_pos, child_idx) and (host, rk) are unique by construction.

:func:`index_rows` is the crawl's one rule for choosing between the two
paths: the two-pass index from :data:`DIST_INDEX_MIN_ROWS` rows up, one
window task below.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

# Rows to index at which the two-pass index takes over from a
# partitionless window. Above it the window would funnel the round's
# manifest (budget × hosts rows) or discoveries (fanout × fetched)
# through one task; below it the rows are few by definition and one
# window task is cheaper than the two-pass index's range-partition and
# totals jobs.
DIST_INDEX_MIN_ROWS = 50_000


def _local_prefix_batches(batches, weight_col: str | None):
    """Tag each row with its partition id and the exclusive prefix sum
    of ``weight_col`` (weight 1 when None) within its partition."""
    import pandas as pd
    from pyspark import TaskContext

    pid = TaskContext.get().partitionId()
    acc = 0
    for pdf in batches:
        if weight_col is None:
            w = pd.Series(1, index=pdf.index, dtype="int64")
        else:
            w = pdf[weight_col].astype("int64")
        pdf = pdf.assign(
            _pid=pd.Series(pid, index=pdf.index, dtype="int32"),
            _pcum=(w.cumsum() - w + acc).astype("int64"),
        )
        acc += int(w.sum())
        yield pdf


def _two_pass_prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    weight_col: str | None,
    out_col: str,
    start: int,
) -> tuple[DataFrame, int]:
    """``out_col`` = ``start`` + the exclusive prefix sum of
    ``weight_col`` (1 per row when None) under ``order_cols``; returns
    ``(df, total weight)``."""
    spark = df.sparkSession
    n = max(spark.sparkContext.defaultParallelism, 4)
    parted = df.repartitionByRange(n, *order_cols).sortWithinPartitions(*order_cols)

    out_schema = StructType(
        parted.schema.fields
        + [StructField("_pid", IntegerType()), StructField("_pcum", LongType())]
    )
    # localCheckpoint pins partition boundaries: the totals job and the
    # final projection must see the SAME range partitioning (range
    # boundary sampling is not otherwise guaranteed stable across jobs).
    # Under AQE the call itself runs the range exchange (its sampling
    # job and its map stage); lazy defers only the numbering stage to
    # the totals job right below, which persists the blocks — eager
    # would add a count job per call on a loop-iterated path
    indexed = parted.mapInPandas(
        functools.partial(_local_prefix_batches, weight_col=weight_col), schema=out_schema
    ).localCheckpoint(eager=False)
    weight = F.lit(1) if weight_col is None else F.col(weight_col)
    totals = {
        r["_pid"]: int(r["s"] or 0)
        for r in indexed.groupBy("_pid").agg(F.sum(weight).alias("s")).collect()
    }
    # dense by partition id, at most n values (a partition with no rows
    # gets the running offset; no row reads it)
    offsets, acc = [], int(start)
    for pid in range(max(totals, default=-1) + 1):
        offsets.append(acc)
        acc += totals.get(pid, 0)
    # the offsets are a literal array indexed by _pid: a projection,
    # no join and no driver-built frame
    off = F.element_at(F.lit(offsets).cast("array<bigint>"), F.col("_pid") + 1)
    out = indexed.withColumn(out_col, (F.col("_pcum") + off).cast("long")).drop(
        "_pid", "_pcum"
    )
    return out, acc - int(start)


def assign_global_index(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "pos",
    start: int = 0,
) -> tuple[DataFrame, int]:
    """Add ``out_col`` = the 0-based rank of each row under the total
    order ``order_cols`` (+ ``start``), with no single-partition
    exchange anywhere in the plan. ``order_cols`` must be tie-free.
    Returns ``(df, n_rows)`` — the total falls out of the offsets pass
    for free."""
    return _two_pass_prefix_sum(df, order_cols, None, out_col, start)


def assign_prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    weight_col: str,
    out_col: str = "cum_before",
) -> DataFrame:
    """Add ``out_col`` = the EXCLUSIVE prefix sum of ``weight_col``
    under the total order ``order_cols`` (sum of all strictly-preceding
    rows' weights), with the same two-pass distributed shape as
    :func:`assign_global_index` — a partitionless
    ``Window.orderBy().rowsBetween(unboundedPreceding, -1)`` computes
    the identical column through ONE task; this never does.
    ``order_cols`` must be tie-free; weights must be integral."""
    return _two_pass_prefix_sum(df, order_cols, weight_col, out_col, 0)[0]


def index_rows(
    df: DataFrame, order_cols: list[str], out_col: str, n_rows: int, start: int = 0
) -> tuple[DataFrame, int | None]:
    """Add ``out_col`` = ``start`` + the 0-based rank of each row under
    the tie-free total order ``order_cols``, choosing the physical path
    from ``n_rows``, a row count the caller already has (exact, or an
    upper bound): :func:`assign_global_index` at or above
    :data:`DIST_INDEX_MIN_ROWS`, one ``Window.orderBy`` task below it.
    Both paths give the identical column. Returns ``(df, count)``:
    ``count`` is the exact row count when the two-pass path computed
    it anyway, else ``None``."""
    if n_rows >= DIST_INDEX_MIN_ROWS:
        return assign_global_index(df, order_cols, out_col, start)
    rank = F.row_number().over(Window.orderBy(*order_cols)) - 1 + F.lit(start)
    return df.withColumn(out_col, rank.cast("long")), None
