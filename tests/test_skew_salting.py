"""skewed_running_sum == the plain running-sum window, row-for-row, with
the hot partition split across tasks (90% of rows on one host)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_skewed_running_sum_pathological_host(spark):
    """VERDICT r4 'What's wrong #4': 1 host carrying 90% of the rows must
    NOT serialize the packing into one window task. The two-level prefix
    sum must (a) split the hot host across >1 order-aligned bucket (each
    bucket group is an independent task in the local-window stage) and
    (b) produce byte-identical running sums / shard ids to the plain
    single-partition-per-host window."""
    import pandas as pd
    from pyspark.sql import Window

    from mongodb_postproc_spark.functions.skew import order_bucket_column, skewed_running_sum

    n = 20_000
    pdf = pd.DataFrame(
        {
            "doc_id": range(n),
            # 90% of rows on one mega-host, the rest spread over 50 hosts
            "host": ["mega.test" if i % 10 else f"h{i % 50}.test" for i in range(1, n + 1)],
            "n_bytes": [(i * 131) % 4096 + 64 for i in range(n)],
        }
    )
    df = spark.createDataFrame(pdf)

    # (a) the hot host spans multiple buckets -> multiple (host,bucket)
    # window groups -> >1 task in the packing stage
    pinned, bucket = order_bucket_column(df, ["host", "doc_id"])
    hot_buckets = (
        pinned.withColumn("__b", bucket)
        .filter(F.col("host") == "mega.test")
        .select("__b")
        .distinct()
        .count()
    )
    assert hot_buckets > 1, "mega-host fell into a single bucket: no skew defusal"

    # (b) byte-identical to the plain window
    got = skewed_running_sum(df, ["host"], ["doc_id"], "n_bytes", out_col="cum")
    w = (
        Window.partitionBy("host")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = df.withColumn("cum", F.sum("n_bytes").over(w))
    assert sorted(
        (r["host"], r["doc_id"], r["cum"]) for r in got.collect()
    ) == sorted((r["host"], r["doc_id"], r["cum"]) for r in want.collect())


def test_skewed_running_sum_rejects_float(spark):
    import pandas as pd
    import pytest

    from mongodb_postproc_spark.functions.skew import skewed_running_sum

    df = spark.createDataFrame(pd.DataFrame({"h": ["a"], "i": [1], "v": [1.5]}))
    with pytest.raises(ValueError, match="integral/decimal"):
        skewed_running_sum(df, ["h"], ["i"], "v")
