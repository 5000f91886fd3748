"""Distributed, deterministic global sequence assignment.

The crawl's fetch order must be a total order that any parallelism
reproduces byte-identically (SURVEY.md §4 item 1). A naive
``row_number().over(Window.orderBy(...))`` funnels all rows through ONE
partition — fine at fixture scale, a driver-melting bottleneck at 10^10.

This helper assigns ``seq = global rank`` without ever materializing the
ranked data twice:

  1. pin the input once (lazy ``localCheckpoint``: the blocks land when the
     first pass runs, and every later pass reads them back);
  2. draw a bounded deterministic sample of the sort keys (top-k by
     ``xxhash64`` — a seedless, partitioning-independent pseudo-shuffle) and
     pick order-aligned bucket boundaries from it, ORDERED BY SPARK itself
     so the boundary order uses exactly the comparator the ranking uses;
  3. assign each row a bucket via a balanced ``when``-tree binary search
     over the boundary literals — a PURE function of the row, so the
     count pass and the rank pass agree with no pinned shuffle between them
     (this is what lets us drop the second materialization the previous
     ``repartitionByRange`` design needed: range boundaries come from a
     runtime sampling job and differ between query executions, bucket
     literals cannot);
  4. count rows per bucket (tiny collect: one long per bucket), prefix-sum
     to offsets, and ``seq = bucket_offset + rank-within-bucket``.

Because the sort keys are a TOTAL order (url_canon is unique and always the
final key), the resulting seq does not depend on where the boundaries fall —
only on the order itself. Determinism therefore survives AQE, speculative
execution, and any executor count. Null key fields compare as "smallest"
end-to-end: a null-keyed row fails every ``>= boundary`` probe (bucket 0)
and the in-bucket ``row_number`` window sorts nulls first.

Scale notes: buckets are capped at 1024, so the boundary literal tree stays
codegen-friendly and the per-bucket sort at 10^10 rows is ~10M rows/task —
the same order as a wide range-sort task. The hash→partition placement of
buckets is balls-in-bins; 4 buckets per shuffle partition keeps the worst
partition within ~2x of the mean.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

MAX_BUCKETS = 1024


def _bucket_search(kstruct: Column, bounds: list[Column], lo: int, hi: int) -> Column:
    """Balanced when-tree: index = #{i in [lo, hi): bounds[i] <= key} + lo.

    Each row evaluates one root-to-leaf path: log2(len(bounds)) struct
    comparisons, not a linear scan — the expression tree is O(#bounds) nodes
    but per-row work is O(log #bounds).
    """
    if lo == hi:
        return F.lit(lo)
    mid = (lo + hi) // 2
    return F.when(
        kstruct >= bounds[mid], _bucket_search(kstruct, bounds, mid + 1, hi)
    ).otherwise(_bucket_search(kstruct, bounds, lo, mid))


def order_bucket_column(df: DataFrame, keys: list[str]) -> tuple[DataFrame, Column]:
    """Pin ``df`` (lazy localCheckpoint) and return ``(pinned_df, bucket)``
    where ``bucket`` is an order-aligned, PURE-function-of-the-row bucket id
    over the total order of ``keys``: ``key_a <= key_b  =>  bucket(a) <=
    bucket(b)``. Because the bucket is deterministic (boundary literals in
    the plan, not a runtime sampling job), any number of independent query
    executions over the pinned blocks agree on it — the property both the
    global-rank assigner below and the skew-proof running sum
    (functions/skew.py) are built on."""
    spark = df.sparkSession
    n_part = max(2, int(spark.conf.get("spark.sql.shuffle.partitions", "8")))
    n_buckets = min(4 * n_part, MAX_BUCKETS)
    # Pin the input once: the boundary sample and every later pass read
    # these blocks instead of recomputing the child (the scheduler's window
    # chain, in the crawl). Lazy: the blocks land with the sample job.
    df = df.localCheckpoint(eager=False)
    kstruct = F.struct(*[F.col(k) for k in keys])

    # Deterministic bounded key sample: top-k by key hash is a fixed subset
    # of the data regardless of partitioning; ordering it BY THE KEYS in
    # Spark (never on the driver) keeps boundary order consistent with the
    # comparator the window rank uses (UTF8 binary for strings, nulls first).
    sample_n = max(2048, min(n_buckets * 64, 65_536))
    samp = (
        df.select(kstruct.alias("__k"))
        .orderBy(F.xxhash64(F.col("__k")), F.col("__k"))
        .limit(sample_n)
        .orderBy("__k")
        .collect()
    )
    step = max(1, len(samp) // n_buckets)
    raw_bounds = [r["__k"] for r in samp[step::step][: n_buckets - 1]]
    # drop equal neighbours (heavy duplicate keys): buckets stay monotone
    bounds_rows = [b for i, b in enumerate(raw_bounds) if i == 0 or b != raw_bounds[i - 1]]
    bounds = [
        F.struct(*[F.lit(b[i]).alias(keys[i]) for i in range(len(keys))])
        for b in bounds_rows
    ]
    bucket = _bucket_search(kstruct, bounds, 0, len(bounds)) if bounds else F.lit(0)
    return df, bucket


def assign_global_seq(
    df: DataFrame, keys: list[str], out_col: str = "seq", start: int = 0
) -> DataFrame:
    spark = df.sparkSession
    df, bucket = order_bucket_column(df, keys)
    bdf = df.withColumn("__b", bucket)
    counts = {
        r["__b"]: r["cnt"]
        for r in bdf.groupBy("__b").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, acc = {}, start
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]
    # from pandas through Arrow, so the broadcast side plans as a
    # LocalRelation instead of a Python RDD that re-runs a job per use
    off_df = spark.createDataFrame(
        pd.DataFrame({"__b": list(offsets) or [0], "__off": list(offsets.values()) or [start]}),
        "__b int, __off long",
    )
    w = Window.partitionBy("__b").orderBy(*keys)
    return (
        bdf.join(F.broadcast(off_df), "__b")
        .withColumn(out_col, F.col("__off") + F.row_number().over(w) - 1)
        .drop("__b", "__off")
    )
