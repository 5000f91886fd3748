"""RFC 9309 robots semantics: wildcard + end-anchor patterns, longest-match
precedence with Allow winning ties — python evaluator (simulator twin) and
the engine's native-SQL evaluator must agree rule-for-rule."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mongodb_postproc_spark.crawl.engine import CrawlEngine
from mongodb_postproc_spark.datagen.web import _rule_matches, robots_blocked

R = [
    {"pattern": "/private", "allow": False},
    {"pattern": "/p/1*", "allow": False},
    {"pattern": "/p/12", "allow": True},
    {"pattern": "/p/*7$", "allow": False},
]
for r in R:
    r["plen"] = len(r["pattern"])

CASES = [
    ("/index", False),            # no rule matches
    ("/private/x", True),         # plain prefix disallow
    ("/p/10", True),              # wildcard-less prefix of /p/1*
    ("/p/12", False),             # Allow ties /p/1* on length -> allow wins
    ("/p/129", False),            # Allow /p/12 (len 5) beats /p/1* (len 5, tie->allow)
    ("/p/27", True),              # /p/*7$ end anchor
    ("/p/270", False),            # anchor: 7 not at end
    ("/p/17", True),              # both /p/1* and /p/*7$ match, both disallow
]


def test_rule_matcher_primitives():
    assert _rule_matches("/p/27", "/p/*7$")
    assert not _rule_matches("/p/270", "/p/*7$")
    assert _rule_matches("/p/anything", "/p/")
    assert _rule_matches("/p/x7y", "/p/*7")      # unanchored wildcard
    assert _rule_matches("/abc", "/abc$")
    assert not _rule_matches("/abcd", "/abc$")


@pytest.mark.parametrize("path,want", CASES)
def test_python_evaluator(path, want):
    assert robots_blocked(path, R) is want


def test_sql_evaluator_matches_python(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"url_canon": [f"http://h.test{p}" for p, _ in CASES]})
    ).withColumn(
        "rules",
        F.lit(None).cast(CrawlEngine.RULES_T),
    )
    rules_lit = F.array(
        *[
            F.struct(
                F.lit(r["pattern"]).alias("pattern"),
                F.lit(r["allow"]).alias("allow"),
                F.lit(r["plen"]).alias("plen"),
            )
            for r in R
        ]
    ).cast(CrawlEngine.RULES_T)
    got = (
        df.withColumn("rules", rules_lit)
        .withColumn("__blocked", CrawlEngine._blocked_col())
        .select("url_canon", "__blocked")
        .collect()
    )
    want = {f"http://h.test{p}": w for p, w in CASES}
    for row in got:
        assert row["__blocked"] is want[row["url_canon"]], row["url_canon"]


def test_null_rules_allowed(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"url_canon": ["http://h.test/private/x"]})
    ).withColumn("rules", F.lit(None).cast(CrawlEngine.RULES_T))
    assert df.withColumn("b", CrawlEngine._blocked_col()).collect()[0]["b"] is False


def test_robots_table_plans_as_local_relation(spark, tmp_path):
    """The robots table is built through Arrow: a LocalRelation in the plan
    (no Python RDD job per broadcast), holding exactly the web's rules."""
    from mongodb_postproc_spark.datagen.web import CrawlConfig, SyntheticWeb, WebConfig

    cfg = CrawlConfig(web=WebConfig(n_hosts=7, seed="robots-lr-v1"))
    robots = CrawlEngine(spark, cfg, str(tmp_path))._robots_df()
    plan = robots._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation", plan.toString()
    got = {r["host"]: (r["rules"], r["crawl_delay_ms"]) for r in robots.collect()}
    want = {
        r["host"]: ([(u["pattern"], u["allow"], u["plen"]) for u in r["rules"]],
                    r["crawl_delay_ms"])
        for r in SyntheticWeb(cfg.web).robots_rows()
    }
    assert {h: ([tuple(u) for u in rules], d) for h, (rules, d) in got.items()} == want
