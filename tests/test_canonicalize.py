"""Python (oracle) and Spark (engine) canonicalizers must agree bytewise —
the crawl seen-set match hinges on it (SURVEY.md §7 step 3)."""

import pandas as pd
from pyspark.sql import functions as F

from mongodb_postproc_spark.crawl.canonicalize import (
    canonical_url_col,
    canonicalize_py,
    host_col,
    host_py,
)
from mongodb_postproc_spark.datagen.web import SyntheticWeb, WebConfig

TRICKY = [
    "HTTP://Host0.TEST/p/1",
    "http://host1.test:80/p/2",
    "https://host1.test:443/p/2",
    "https://host1.test:8443/p/2",
    "http://host2.test/p/3#frag",
    "http://host2.test",
    "http://host2.test/",
    "http://host2.test//p//4",
    "http://host2.test/./p/./5",
    "http://host2.test/x/../p/6",
    "http://host2.test/a/b/../../p/7",
    "http://host2.test/a/../b/../p/8",
    "http://host2.test/../p/9",
    "http://host2.test/p/1?b=2&a=1",
    "http://host2.test/p/1?a=1&b=2",
    "http://host2.test/p/1?a=1&b=2#x",
    "  http://host3.test/p/1  ",
    "\thttp://host3.test/p/2",
    "http://host3.test/p/3\n",
    "\r\n http://host3.test/p/4 \t",
    "\x0bhttp://host3.test/p/5\x0c",
    "\xa0http://host3.test/p/6",  # NBSP: outside the ASCII strip class on BOTH twins
    "not a url",
    "ftp://host4.test/p/1",  # valid scheme, kept
    "/relative/path",
    "",
]


def test_python_vs_spark_on_tricky(spark):
    pdf = pd.DataFrame({"raw": TRICKY})
    out = (
        spark.createDataFrame(pdf)
        .withColumn("canon", canonical_url_col(F.col("raw")))
        .toPandas()
    )
    for raw, got in zip(out["raw"], out["canon"]):
        expect = canonicalize_py(raw)
        assert got == expect or (got is None and expect is None), (raw, got, expect)


def test_python_vs_spark_on_generated_corpus(spark):
    """Every raw URL the synthetic web can emit canonicalizes identically."""
    web = SyntheticWeb(WebConfig(n_hosts=8, hot_pages=50, cold_pages=20))
    raws = list(web.seed_urls(40))
    for u in web.seed_urls(10):
        c = canonicalize_py(u)
        if c:
            raws.extend(web.links_for(c))
            for child in web.links_for(c):
                cc = canonicalize_py(child)
                if cc:
                    raws.extend(web.links_for(cc))
    pdf = pd.DataFrame({"raw": sorted(set(raws))})
    out = (
        spark.createDataFrame(pdf)
        .withColumn("canon", canonical_url_col(F.col("raw")))
        .toPandas()
    )
    mismatches = [
        (raw, got, canonicalize_py(raw))
        for raw, got in zip(out["raw"], out["canon"])
        if got != canonicalize_py(raw)
    ]
    assert not mismatches, mismatches[:5]


def test_noise_collapses_to_same_canon():
    web = SyntheticWeb(WebConfig())
    for hv in range(16):
        raw = web._noisy(1, 7, None, hv)
        assert canonicalize_py(raw) == "http://host1.test/p/7", (raw, hv)
    for hv in range(16):
        raw = web._noisy(1, 7, 5, hv)
        assert canonicalize_py(raw) == "http://host1.test/p/7?a=5&b=2", (raw, hv)


def test_host_extraction(spark):
    urls = ["http://host1.test/p/1", "https://a.b.c/p?x=1", "http://h:8080/p"]
    pdf = pd.DataFrame({"u": urls})
    out = spark.createDataFrame(pdf).withColumn("h", host_col(F.col("u"))).toPandas()
    for u, h in zip(out["u"], out["h"]):
        assert h == host_py(u)
    assert host_py("http://h:8080/p") == "h"


def test_plan_holds_each_regex_once(spark):
    """Bind-once rule (canonical_url_col's docstring): every shared
    intermediate is bound to a lambda variable, so the optimized plan of the
    canonicalizer over one column holds each of its regexes and folds once.
    Plain Python variables put 15 regexp_extract and 19 aggregate copies
    into this plan."""
    plan = (
        spark.createDataFrame([("http://a.test/x",)], "raw string")
        .select(canonical_url_col(F.col("raw")).alias("u"))
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert plan.count("regexp_extract(") == 3, plan
    for rx in (r"#.*$", r":80$", r":443$"):
        assert plan.count(rx) == 1, (rx, plan)
    assert plan.count("aggregate(") == 2, plan
