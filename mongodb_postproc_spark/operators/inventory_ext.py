"""Coverage extension for the SURVEY.md §2 inventory — the operators not yet
named in the main battery: array predicates (P4), drop-NA (P8), disqualified
anti-join (P9), group-split (A2), single-col group mean (A4), explode-mean
(A6), threshold counting (A10, the Voronoi-CN shape), distinct values (A13),
progress counters (A16), restartable row_number scan (W3), limit/head (W4),
index-aligned concat as a full outer join (J8), quoted-span extraction (F5),
JSON map round-trip (F16), and the embedding-cosine near-dup join that
completes the dedup family.

Same contract as the rest of the battery: idiomatic DataFrame code on the
Spark side (Catalyst pushes filters/pruning; joins pick broadcast vs
sort-merge via AQE), ANSI SQL for the DuckDB oracle, identical column
aliases on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .base import load, register
from .similarity import _emb_view

# --------------------------------------------------------------------------
# Predicates / filters
# --------------------------------------------------------------------------


@register(
    "p4_array_membership",
    "SELECT doc_id, lang FROM documents "
    "WHERE list_contains(string_split(text, ' '), 'merge') ORDER BY doc_id",
    "P4 array-membership predicate (el == 'D' over elements, reference "
    "analysePauling.py:30-33) — array_contains over a tokenized text column",
)
def p4_array_membership(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "documents")
        .filter(F.array_contains(F.split(F.col("text"), " "), "merge"))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@register(
    "p8_dropna",
    """
    SELECT event_type, count(*) AS n, round(avg(v), 4) AS avg_v
    FROM (SELECT event_type, CASE WHEN value > 0.5 THEN value END AS v FROM events)
    WHERE v IS NOT NULL GROUP BY event_type
    """,
    "P8 drop-NA (df.dropna(), reference test_inverserelation.py:63) — derive a "
    "nullable column, na.drop, aggregate the survivors",
)
def p8_dropna(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "events")
        .withColumn("v", F.when(F.col("value") > 0.5, F.col("value")))
        .na.drop(subset=["v"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.avg("v"), 4).alias("avg_v"))
    )


@register(
    "p9_disqualified_antijoin",
    """
    SELECT l_returnflag, count(*) AS n FROM lineitem
    WHERE l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_size > 45)
    GROUP BY l_returnflag
    """,
    "P9 row deletion by disqualified-value list (reference CN_barchart.py:39-41 "
    "drops rows whose composition is in a disordered list) — left anti join "
    "against the disqualified key set, broadcast when small",
)
def p9_disqualified_antijoin(spark: SparkSession, sf: str) -> DataFrame:
    disq = load(spark, sf, "part").filter(F.col("p_size") > 45).select("p_partkey")
    return (
        load(spark, sf, "lineitem")
        .join(F.broadcast(disq), F.col("l_partkey") == F.col("p_partkey"), "left_anti")
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
    )


# --------------------------------------------------------------------------
# Aggregations
# --------------------------------------------------------------------------


@register(
    "a2_group_split",
    """
    SELECT l_returnflag,
           round(avg(CASE WHEN l_linestatus = 'F' THEN l_extendedprice END), 4) AS avg_f,
           round(avg(CASE WHEN l_linestatus = 'O' THEN l_extendedprice END), 4) AS avg_o
    FROM lineitem GROUP BY l_returnflag
    """,
    "A2 group split (reference analysePauling.py:193-200 splits the grouped "
    "frame into the False-group and True-group) — one conditional aggregation "
    "replaces the split + two frames",
)
def a2_group_split(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.avg(F.when(F.col("l_linestatus") == "F", F.col("l_extendedprice"))), 4).alias("avg_f"),
        F.round(F.avg(F.when(F.col("l_linestatus") == "O", F.col("l_extendedprice"))), 4).alias("avg_o"),
    )


@register(
    "a4_group_mean",
    "SELECT o_orderpriority, round(avg(o_totalprice), 4) AS avg_price "
    "FROM orders GROUP BY o_orderpriority",
    "A4 group-by single-column mean (reference CN_heatmap.py:49)",
)
def a4_group_mean(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "orders")
        .groupBy("o_orderpriority")
        .agg(F.round(F.avg("o_totalprice"), 4).alias("avg_price"))
    )


@register(
    "a6_explode_mean_per_key",
    """
    SELECT lang, count(*) AS n_tokens, round(avg(length(tok)), 4) AS avg_tok_len
    FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY lang
    """,
    "A6 mean-per-key over grouped lists (reference getCoordination.py:15-27 "
    "averages CN lists per specie) — explode (key, value) pairs, then hash agg "
    "with map-side partials",
)
def a6_explode_mean(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "documents")
        .select("lang", F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(F.length("tok")), 4).alias("avg_tok_len"),
        )
    )


@register(
    "a10_threshold_count",
    """
    SELECT l_orderkey, count(*) AS n_dominant FROM (
      SELECT l_orderkey, l_extendedprice,
             max(l_extendedprice) OVER (PARTITION BY l_orderkey) AS max_price
      FROM lineitem WHERE l_orderkey < 1000)
    WHERE l_extendedprice > 0.5 * max_price GROUP BY l_orderkey
    """,
    "A10 threshold count vs group max (the Voronoi-CN shape: facet weights > "
    "0.5*max(weights) per site, reference getCoordination.py:73-97) — window "
    "max then conditional count",
)
def a10_threshold_count(spark: SparkSession, sf: str) -> DataFrame:
    w = Window.partitionBy("l_orderkey")
    return (
        load(spark, sf, "lineitem")
        .filter(F.col("l_orderkey") < 1000)
        .withColumn("max_price", F.max("l_extendedprice").over(w))
        .filter(F.col("l_extendedprice") > 0.5 * F.col("max_price"))
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("n_dominant"))
    )


@register(
    "a13_distinct_values",
    "SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority",
    "A13 distinct value list (reference test_inverserelation.py:51 .unique())",
)
def a13_distinct_values(spark: SparkSession, sf: str) -> DataFrame:
    return load(spark, sf, "orders").select("o_orderpriority").distinct().orderBy("o_orderpriority")


@register(
    "a16_progress_counters",
    """
    SELECT chunk, count(*) AS n FROM (
      SELECT CAST(floor((row_number() OVER (ORDER BY event_id) - 1) / 1000) AS BIGINT) AS chunk
      FROM events)
    GROUP BY chunk ORDER BY chunk
    """,
    "A16 progress counting (reference analysePauling.py:99-101 prints per 1000 "
    "docs) — relational form: row_number chunks; at scale the engine uses "
    "observe()/metrics tables instead (crawl engine writes a metrics table)",
)
def a16_progress_counters(spark: SparkSession, sf: str) -> DataFrame:
    # global rank without the single-partition window funnel: the crawl
    # engine's distributed total-order assigner (one range-partitioned sort,
    # pinned, + an O(partitions) offset join) — event_id is unique, so the
    # rank is deterministic at any parallelism
    from mongodb_postproc_spark.crawl.ordering import assign_global_seq

    ranked = assign_global_seq(
        load(spark, sf, "events").select("event_id"), ["event_id"], out_col="rn"
    )
    return (
        ranked.select(F.floor(F.col("rn") / 1000).cast("bigint").alias("chunk"))
        .groupBy("chunk")
        .agg(F.count("*").alias("n"))
        .orderBy("chunk")
    )


# --------------------------------------------------------------------------
# Windows / limits / joins
# --------------------------------------------------------------------------


@register(
    "w3_rownumber_resume",
    """
    SELECT rn, o_orderkey, o_totalprice FROM (
      SELECT row_number() OVER (ORDER BY o_orderkey) AS rn, o_orderkey, o_totalprice
      FROM orders)
    WHERE rn BETWEEN 101 AND 120
    """,
    "W3 restartable sorted scan (reference sort('_id').skip(d) resume idiom, "
    "fix_incorrect_structures.py:235) as a row_number range",
)
def w3_rownumber_resume(spark: SparkSession, sf: str) -> DataFrame:
    # rn <= 120, so the global window collapses to a distributed top-k
    # (TakeOrderedAndProject) + row_number over those 120 rows — no
    # single-partition pass over the full table. For deep offsets the scale
    # path is keyset pagination (WHERE o_orderkey > last_seen), which is the
    # reference's actual resume idiom; this query pins the skip/limit form.
    # The constant partition key quiets Spark's "No Partition Defined"
    # WindowExec warning: the window input here is the 120 post-limit rows,
    # never the table, so the single-partition window is intentional and
    # O(120). A bare lit(1) does NOT work — Catalyst constant-folds foldable
    # expressions out of the partition spec and the warning comes back, so
    # the key must reference a column (pmod(k, 1) is always 0).
    w = Window.partitionBy(F.pmod(F.col("o_orderkey"), F.lit(1))).orderBy("o_orderkey")
    top = (
        load(spark, sf, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
        .limit(120)
    )
    return top.select(
        F.row_number().over(w).alias("rn"), "o_orderkey", "o_totalprice"
    ).filter(F.col("rn").between(101, 120))


@register(
    "w4_limit_head",
    "SELECT o_orderkey, o_totalprice FROM orders "
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    "W4 limit/head (reference .limit(10), fix_incorrect_structures.py:311) — "
    "TakeOrderedAndProject, no full sort",
)
def w4_limit_head(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "j8_index_aligned_concat",
    """
    SELECT coalesce(c.k, s.k) AS n_nationkey, c.n_customers, s.avg_supp_bal
    FROM (SELECT c_nationkey AS k, count(*) AS n_customers
          FROM customer GROUP BY c_nationkey) c
    FULL OUTER JOIN (SELECT s_nationkey AS k, round(avg(s_acctbal), 4) AS avg_supp_bal
          FROM supplier GROUP BY s_nationkey) s
    ON c.k = s.k
    """,
    "J8 index-aligned column concat (reference pd.concat axis=1, "
    "CN_barchart.py:46) — full outer join of per-key aggregates",
)
def j8_index_aligned_concat(spark: SparkSession, sf: str) -> DataFrame:
    c = (
        load(spark, sf, "customer")
        .groupBy(F.col("c_nationkey").alias("k"))
        .agg(F.count("*").alias("n_customers"))
    )
    s = (
        load(spark, sf, "supplier")
        .groupBy(F.col("s_nationkey").alias("k"))
        .agg(F.round(F.avg("s_acctbal"), 4).alias("avg_supp_bal"))
    )
    return (
        c.join(s, "k", "full_outer")
        .select(F.col("k").alias("n_nationkey"), "n_customers", "avg_supp_bal")
    )


# --------------------------------------------------------------------------
# Scalar functions
# --------------------------------------------------------------------------


@register(
    "f5_quoted_extract",
    """
    SELECT event_id, array_to_string(regexp_extract_all(props, '"(.+?)"', 1), ',') AS quoted
    FROM events WHERE event_id < 1000 ORDER BY event_id
    """,
    "F5 quoted-span extraction (reference re.findall(r\"'(.+?)'\"), "
    "fix_incorrect_structures.py:28) — regexp_extract_all group 1, joined for "
    "a stable compare",
)
def f5_quoted_extract(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "events")
        .filter(F.col("event_id") < 1000)
        .select(
            "event_id",
            F.array_join(F.regexp_extract_all("props", F.lit('"(.+?)"'), 1), ",").alias("quoted"),
        )
        .orderBy("event_id")
    )


@register(
    "f16_json_roundtrip",
    """
    SELECT event_id, k, '{"k":' || k || '}' AS rebuilt
    FROM (SELECT event_id, CAST(json_extract(props, '$.k') AS INT) AS k FROM events)
    WHERE event_id < 1000 AND k IS NOT NULL ORDER BY event_id
    """,
    "F16 JSON encode/decode of map columns (reference json.dumps/json.loads, "
    "analysePauling.py:168 + CN_barchart.py:30) — get_json_object decode, "
    "to_json(named_struct) re-encode",
)
def f16_json_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "events")
        .filter(F.col("event_id") < 1000)
        .withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        # explicit null contract: Spark's to_json drops null fields ('{}')
        # while DuckDB's || concat yields NULL — exclude nulls on BOTH sides
        # so the oracle equality doesn't depend on the datagen
        .filter(F.col("k").isNotNull())
        .select("event_id", "k", F.to_json(F.struct(F.col("k"))).alias("rebuilt"))
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# Dedup family completion: embedding-cosine near-dup
# --------------------------------------------------------------------------


@register(
    "dedup_embedding_cosine",
    """
    WITH n AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS e,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings)
    SELECT vec_a, vec_b, cosine FROM (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) AS cosine
      FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id) p
    WHERE cosine >= 0.30
    """,
    "Embedding-cosine near-duplicate join: block by coarse label (at scale: "
    "LSH bucket / IVF cell), exact cosine only within blocks — candidates "
    "scale with block size, never n² (completes the dedup family: exact, "
    "minhash-LSH, simhash, ngram-jaccard, embedding-cosine). Norms are "
    "precomputed once per row BEFORE the pair join, so each pair costs one "
    "zip_with/dot fold instead of three — same IEEE expression tree "
    "(dot / (sqrt(a)·sqrt(b))) as the naive form, so values are bit-identical",
)
def dedup_embedding_cosine(spark: SparkSession, sf: str) -> DataFrame:
    v = _emb_view(spark, sf)
    return spark.sql(f"""
        WITH n AS (
          SELECT vec_id, label, CAST(embedding AS ARRAY<DOUBLE>) AS e,
                 sqrt(aggregate(CAST(embedding AS ARRAY<DOUBLE>), 0.0D,
                                (acc, x) -> acc + x * x)) AS nrm
          FROM {v})
        SELECT vec_a, vec_b, cosine FROM (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                 round(aggregate(zip_with(a.e, b.e, (x, y) -> x * y), 0.0D,
                                 (acc, x) -> acc + x) / (a.nrm * b.nrm), 4) AS cosine
          FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id) p
        WHERE cosine >= 0.30
    """)


# --------------------------------------------------------------------------
# Standard-aggregate completions: exact percentiles, order-free correlation
# --------------------------------------------------------------------------


@register(
    "a18_percentiles",
    """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS p50,
           quantile_cont(l_quantity, 0.9) AS p90,
           quantile_cont(l_quantity, 0.99) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
    "Exact interpolated percentiles per group (p50/p90/p99) — Spark "
    "percentile() and DuckDB quantile_cont share the (n-1)*q linear-"
    "interpolation definition, so the doubles match exactly. Exact "
    "percentile is a full-sort-per-group at heart; Spark's implementation "
    "aggregates a per-partition counts-map first (quantities are "
    "low-cardinality), so the shuffle carries the histogram, not the rows "
    "— the approx_percentile swap is documented for truly continuous "
    "columns at 10^10 rows",
)
def a18_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.5)").alias("p50"),
            F.expr("percentile(l_quantity, 0.9)").alias("p90"),
            F.expr("percentile(l_quantity, 0.99)").alias("p99"),
        )
    )


_CORR_SQL = """
  WITH s AS (
    SELECT l_returnflag,
           count(*) AS n,
           sum(CAST(floor(l_quantity) AS BIGINT)) AS sx,
           sum(CAST(l_linenumber AS BIGINT)) AS sy,
           sum(CAST(floor(l_quantity) AS BIGINT) * CAST(l_linenumber AS BIGINT)) AS sxy,
           sum(CAST(floor(l_quantity) AS BIGINT) * CAST(floor(l_quantity) AS BIGINT)) AS sxx,
           sum(CAST(l_linenumber AS BIGINT) * CAST(l_linenumber AS BIGINT)) AS syy
    FROM lineitem GROUP BY l_returnflag)
  SELECT l_returnflag,
         round((n * sxy - sx * sy) /
               (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
                sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS corr_qty_line
  FROM s
"""


@register(
    "a19_corr_exact",
    _CORR_SQL,
    "Pearson correlation per group via exact integer moment sums: the five "
    "sums are BIGINT (order-free, overflow-safe at these magnitudes), the "
    "single closing expression is the only float op — so the result is "
    "bit-identical on any engine, any row order, any partitioning, unlike "
    "a streaming corr() whose float accumulation drifts with partition "
    "count. l_quantity is floored EXPLICITLY before the BIGINT cast: Spark "
    "CAST truncates while DuckDB CAST rounds, so a bare cast is only "
    "portable on integer-valued doubles. Map-side-combined hash aggregate, "
    "one shuffle of 3 rows",
)
def a19_corr_exact(spark: SparkSession, sf: str) -> DataFrame:
    load(spark, sf, "lineitem").createOrReplaceTempView("v_corr_lineitem")
    return spark.sql(_CORR_SQL.replace("FROM lineitem", "FROM v_corr_lineitem"))


_ROLLUP_SQL = """
  SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
         coalesce(l_linestatus, 'ALL') AS linestatus,
         count(*) AS n,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
  FROM lineitem
  GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


@register(
    "a20_rollup",
    _ROLLUP_SQL,
    "Hierarchical rollup (the hypertable-rollup shape): per-(flag, status) "
    "revenue plus per-flag subtotals plus the grand total in ONE pass — "
    "GROUP BY ROLLUP expands to grouping sets inside the aggregate, so "
    "the input is read once and partial aggregation still combines "
    "map-side; subtotal rows are marked by coalescing the rolled-up key "
    "to 'ALL' identically on both engines",
)
def a20_rollup(spark: SparkSession, sf: str) -> DataFrame:
    load(spark, sf, "lineitem").createOrReplaceTempView("v_rollup_lineitem")
    return spark.sql(_ROLLUP_SQL.replace("FROM lineitem", "FROM v_rollup_lineitem"))


_TIERS = [
    ("free", 0.0, 10.0),
    ("bronze", 10.0, 50.0),
    ("silver", 50.0, 120.0),
    ("gold", 120.0, 1e9),
]
_TIER_VALUES = ", ".join(f"('{n}', {lo}, {hi})" for n, lo, hi in _TIERS)


@register(
    "j9_range_join",
    f"""
    SELECT t.tier, count(*) AS n_events,
           round(sum(e.value), 2) AS total_value
    FROM events e
    JOIN (VALUES {_TIER_VALUES}) AS t(tier, lo, hi)
      ON e.value >= t.lo AND e.value < t.hi
    GROUP BY t.tier
    """,
    "Range join: every event matched to its value band in a tiny tier "
    "dimension via interval containment — the inequality-join shape the "
    "mission brief names. With a handful of broadcast tier rows the "
    "BroadcastNestedLoopJoin Spark picks IS the optimal plan (each event "
    "scans 4 rows in memory, no shuffle); at a large band table the "
    "rewrite is a band-key equi-join (bucketize the value to the band "
    "grid), which p6_range_banding already demonstrates",
)
def j9_range_join(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    tiers = ev.sparkSession.createDataFrame(_TIERS, "tier string, lo double, hi double")
    return (
        ev.join(
            F.broadcast(tiers),
            (ev.value >= tiers.lo) & (ev.value < tiers.hi),
        )
        .groupBy("tier")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
