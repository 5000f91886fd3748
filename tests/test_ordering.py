"""assign_global_seq must equal the sequential rank at ANY parallelism."""

import re

import pandas as pd
from pyspark.sql import functions as F

from mongodb_postproc_spark.crawl.ordering import assign_global_seq


def test_matches_sequential_rank(spark):
    pdf = pd.DataFrame(
        {
            "k1": [i % 7 for i in range(500)],
            "k2": [f"u{(i * 37) % 500:04d}" for i in range(500)],
        }
    )
    expected = sorted(zip(pdf.k1, pdf.k2))
    for n_part in (1, 3, 16):
        df = spark.createDataFrame(pdf).repartition(n_part)
        out = assign_global_seq(df, ["k1", "k2"], "seq", start=100)
        got = [(r["k1"], r["k2"]) for r in out.orderBy("seq").collect()]
        seqs = [r["seq"] for r in out.orderBy("seq").collect()]
        assert got == expected
        assert seqs == list(range(100, 600))


def test_single_row_and_empty(spark):
    df = spark.createDataFrame(pd.DataFrame({"k1": [1], "k2": ["a"]}))
    out = assign_global_seq(df, ["k1", "k2"]).collect()
    assert out[0]["seq"] == 0


def test_offsets_table_plans_as_local_relation(spark):
    """The bucket-offset table is built through Arrow: a LocalRelation in the
    plan, not a Python RDD that re-runs a job every time it is broadcast."""
    df = spark.createDataFrame(pd.DataFrame({"k1": [3, 1, 2], "k2": ["c", "a", "b"]}))
    plan = assign_global_seq(df, ["k1", "k2"])._jdf.queryExecution().optimizedPlan().toString()
    assert re.search(r"LocalRelation \[__b#\d+, __off#\d+L\]", plan), plan
