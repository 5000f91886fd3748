"""assign_global_seq must equal the sequential rank at ANY parallelism."""

import re

import pandas as pd
from pyspark.sql import functions as F

from mongodb_postproc_spark.crawl.ordering import assign_global_seq


def _null_first(k):
    return (k[0] is not None, k[0] or 0, k[1])


def test_matches_sequential_rank(spark):
    base = {
        "k1": [i % 7 for i in range(500)],
        "k2": [f"u{(i * 37) % 500:04d}" for i in range(500)],
    }
    cases = [
        (pd.DataFrame(base), 100),
        # every row shares the leading key: the order is the second key's
        (pd.DataFrame({"k1": [3] * 200, "k2": base["k2"][:200]}), 0),
        # more input partitions (16) than rows: empty partitions
        (pd.DataFrame({"k1": [2, 0, 1, 0, 2], "k2": ["e", "d", "c", "b", "a"]}), 7),
        # null leading keys sort first
        (
            pd.DataFrame(
                {"k1": [None if i % 5 == 0 else i % 3 for i in range(60)],
                 "k2": base["k2"][:60]}
            ).astype({"k1": "Int64"}),
            10**9,
        ),
    ]
    for pdf, start in cases:
        expected = sorted(
            ((None if pd.isna(a) else int(a), b) for a, b in zip(pdf.k1, pdf.k2)),
            key=_null_first,
        )
        for n_part in (1, 3, 16):
            df = spark.createDataFrame(pdf, "k1 long, k2 string").repartition(n_part)
            out = assign_global_seq(df, ["k1", "k2"], "seq", start=start)
            rows = out.orderBy("seq").collect()
            assert [(r["k1"], r["k2"]) for r in rows] == expected, (n_part, start)
            assert [r["seq"] for r in rows] == list(range(start, start + len(pdf)))


def test_single_row_and_empty(spark):
    df = spark.createDataFrame(pd.DataFrame({"k1": [1], "k2": ["a"]}))
    out = assign_global_seq(df, ["k1", "k2"]).collect()
    assert out[0]["seq"] == 0


def test_offsets_table_plans_as_local_relation(spark):
    """The partition-offset table is built through Arrow: a LocalRelation in the
    plan, not a Python RDD that re-runs a job every time it is broadcast."""
    df = spark.createDataFrame(pd.DataFrame({"k1": [3, 1, 2], "k2": ["c", "a", "b"]}))
    plan = assign_global_seq(df, ["k1", "k2"])._jdf.queryExecution().optimizedPlan().toString()
    assert re.search(r"LocalRelation \[__p#\d+, __off#\d+L\]", plan), plan
