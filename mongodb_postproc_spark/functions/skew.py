"""Skew-tolerant window plans.

A window's PARTITION BY serializes each group into one task, so one key
carrying a constant fraction of the input runs on one core however wide
the cluster. The helpers here rewrite such windows into plans that spread
the hot group over many tasks with byte-identical results.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
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
    executions over the pinned blocks agree on it — the property the
    skew-proof running sum below is built on.

    Buckets are capped at ``MAX_BUCKETS``, so the boundary literal tree
    stays codegen-friendly. The hash→partition placement of buckets is
    balls-in-bins; 4 buckets per shuffle partition keeps the worst
    partition within ~2x of the mean."""
    spark = df.sparkSession
    n_part = max(2, int(spark.conf.get("spark.sql.shuffle.partitions", "8")))
    n_buckets = min(4 * n_part, MAX_BUCKETS)
    # Pin the input once: the boundary sample and every later pass read
    # these blocks instead of recomputing the child. Lazy: the blocks land
    # with the sample job.
    df = df.localCheckpoint(eager=False)
    kstruct = F.struct(*[F.col(k) for k in keys])

    # Deterministic bounded key sample: top-k by key hash is a fixed subset
    # of the data regardless of partitioning; ordering it BY THE KEYS in
    # Spark (never on the driver) keeps boundary order consistent with the
    # comparator the windows use (UTF8 binary for strings, nulls first).
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


def skewed_running_sum(
    df: DataFrame,
    part_keys: list[str],
    order_keys: list[str],
    value_col: str,
    out_col: str = "running_sum",
) -> DataFrame:
    """``sum(value) OVER (PARTITION BY part ORDER BY order ROWS UNBOUNDED
    PRECEDING)`` with the hot partition split across tasks.

    A plain running-sum window serializes each PARTITION BY group into one
    task — a pathological key (one host carrying 90% of a shard-packing
    input; LAION-scale crawls have such hosts routinely) runs on one core no
    matter the cluster. This computes the identical integer result as a
    distributed two-level prefix sum:

      1. order-aligned buckets over (part_keys + order_keys) — a pure
         deterministic function of the row (order_bucket_column), so a hot
         part spans many buckets and every pass agrees on the assignment;
      2. local running sum per (part, bucket) — parallel across buckets;
      3. per-(part, bucket) totals, prefix-summed per part over its buckets
         (tiny: a part has at most #buckets rows here), kept only where the
         base offset is nonzero — at most one part can straddle each bucket
         boundary, so this is <= #buckets rows REGARDLESS of the number of
         distinct parts, and broadcasts for free;
      4. result = bucket base + local running sum.

    Exact (byte-identical to the single-window plan) for integral/decimal
    values; rejects floating-point value columns (addition order would
    change the low bits). ``order_keys`` must extend ``part_keys`` to a
    total order for the result to be well-defined — same contract as the
    window it replaces.
    """
    from pyspark.sql import Window

    vtype = df.schema[value_col].dataType.typeName()
    if vtype in ("double", "float"):
        raise ValueError(
            f"skewed_running_sum is exact for integral/decimal values only; "
            f"{value_col!r} is {vtype} (float addition is order-dependent)"
        )
    df, bucket = order_bucket_column(df, part_keys + order_keys)
    bdf = df.withColumn("__b", bucket)
    w_local = (
        Window.partitionBy(*part_keys, "__b")
        .orderBy(*order_keys)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = bdf.withColumn("__run", F.sum(value_col).over(w_local))
    totals = bdf.groupBy(*part_keys, "__b").agg(F.sum(value_col).alias("__tot"))
    w_base = (
        Window.partitionBy(*part_keys)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bases = (
        totals.withColumn("__base", F.sum("__tot").over(w_base))
        .filter(F.col("__base").isNotNull() & (F.col("__base") != 0))
        .select(*part_keys, "__b", "__base")
    )
    return (
        local.join(F.broadcast(bases), [*part_keys, "__b"], "left")
        .withColumn(out_col, F.col("__run") + F.coalesce(F.col("__base"), F.lit(0)))
        .drop("__b", "__run", "__base")
    )
