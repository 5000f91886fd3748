"""Skew-tolerant window plans.

A window's PARTITION BY serializes each group into one task, so one key
carrying a constant fraction of the input runs on one core however wide
the cluster. The helpers here rewrite such windows into plans that spread
the hot group over many tasks with byte-identical results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
         deterministic function of the row (crawl/ordering.py), so a hot
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
    from ..crawl.ordering import order_bucket_column
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
