"""Distributed, deterministic global sequence assignment.

The crawl's fetch order must be a total order that any parallelism
reproduces byte-identically (SURVEY.md §4 item 1). A naive
``row_number().over(Window.orderBy(...))`` funnels all rows through ONE
partition — fine at fixture scale, a driver-melting bottleneck at 10^10.

This helper assigns ``seq = global rank`` from one distributed sort:

  1. ``orderBy(keys)`` range-partitions and sorts the rows, and an EAGER
     ``localCheckpoint`` pins the sorted partitions: partition ``p`` holds
     a contiguous run of the order, in order, and every later pass reads
     the same blocks back (no re-sort, no second range-boundary sample);
  2. one small aggregate counts the rows of each pinned partition
     (``groupBy(spark_partition_id())``: one long per partition), and the
     driver prefix-sums the counts into per-partition offsets;
  3. ``seq = offset[p] + monotonically_increasing_id() − (p << 33)``:
     Spark's id is ``(p << 33) + row index within p``, so this is the
     row's global rank. The offsets table is a broadcast LocalRelation.

Because the sort keys are a TOTAL order (url_canon is unique and always the
final key), the rank does not depend on where the range boundaries fall —
only on the order itself — so it is the same at any partitioning. AQE only
ever coalesces ADJACENT range partitions of a sort, which keeps each
partition a contiguous run. Null key fields sort first (ascending default).

The pin is the one materialization: the id expressions read the pinned
blocks directly (no shuffle in between), so every query over the result —
the crawl's fetch and its frontier delete — sees the same partition index
and row index for each row.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def assign_global_seq(
    df: DataFrame, keys: list[str], out_col: str = "seq", start: int = 0
) -> DataFrame:
    spark = df.sparkSession
    pinned = df.orderBy(*keys).localCheckpoint(eager=True)
    counts = dict(
        pinned.groupBy(F.spark_partition_id().alias("__p")).count().collect()
    )
    offsets, acc = {}, start
    for p in sorted(counts):
        offsets[p] = acc
        acc += counts[p]
    # from pandas through Arrow, so the broadcast side plans as a
    # LocalRelation instead of a Python RDD that re-runs a job per use
    off_df = spark.createDataFrame(
        pd.DataFrame({"__p": list(offsets) or [0], "__off": list(offsets.values()) or [start]}),
        "__p int, __off long",
    )
    return (
        pinned.withColumn("__p", F.spark_partition_id())
        .withColumn("__id", F.monotonically_increasing_id())
        .join(F.broadcast(off_df), "__p")
        .withColumn(
            out_col,
            F.col("__off") + F.col("__id") - F.shiftleft(F.col("__p").cast("long"), 33),
        )
        .drop("__p", "__id", "__off")
    )
