"""Text-analysis + deduplication operators over the `documents` table.

The training-data-pipeline battery: exact dedup, n-gram Jaccard, MinHash+LSH,
SimHash, fingerprinting, token counting, language-ID, quality scoring. All
hashing goes through the md5-derived h60 (functions/hashes.py) so the DuckDB
oracle computes the *identical* signatures — the correctness gate covers the
hash pipelines end-to-end, not just row counts.

Spark side uses spark.sql over temp views where the logic is expression-heavy
(Catalyst plans SQL and DataFrame calls identically); generated SQL is
produced by the same Python loop for both dialects so they cannot drift.

Scale notes: every operator here is a scan + explode + hash-aggregate —
shuffle keys are (doc_id) or (signature band), both high-cardinality and
skew-free by construction of the hash. At 100 TB the LSH band join is the
classic near-dup pipeline (shingle → minhash → band → bucket join) with
bucket sizes bounded by band width; no pairwise O(n²) stage ever
materializes (the exact-Jaccard confirmer runs only on bucket-collision
candidates, the way the crawl's seen probe checks only the bucket slice a
candidate hashes to).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashes import duckdb_h60_sql, spark_h60_sql
from .base import load, register

STOPWORDS = "('the', 'a', 'of', 'and', 'to', 'in', 'is', 'for')"


def _docs_view(spark: SparkSession, sf: str, name: str = "v_documents") -> str:
    load(spark, sf, "documents").createOrReplaceTempView(name)
    return name


def _docs_view_parallel(spark: SparkSession, sf: str) -> str:
    """documents view for the hash-heavy operators (minhash/simhash): if the
    input has fewer splits than cores — one small parquet file locally —
    spread the per-char hashing cost with an explicit round-robin
    repartition. Conditional on purpose: a 100-TB corpus already has
    thousands of natural splits, and an unconditional repartition would be
    a full-corpus shuffle for nothing."""
    df = load(spark, sf, "documents")
    p = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        df = df.repartition(p)
    df.createOrReplaceTempView("v_documents_par")
    return "v_documents_par"


# --------------------------------------------------------------------------


@register(
    "text_token_stats",
    """
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
           length(text) AS n_chars_measured,
           round(length(text)::DOUBLE
                 / len(regexp_split_to_array(trim(text), '\\s+')), 4) AS avg_token_len
    FROM documents
    """,
    "Token counting (whitespace tokenizer) — training-pipeline basic",
)
def text_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    v = _docs_view(spark, sf)
    return spark.sql(f"""
        SELECT doc_id,
               size(split(trim(text), '\\\\s+')) AS n_tokens,
               length(text) AS n_chars_measured,
               round(CAST(length(text) AS DOUBLE)
                     / size(split(trim(text), '\\\\s+')), 4) AS avg_token_len
        FROM {v}
    """)


@register(
    "text_quality_score",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS tokens
      FROM documents)
    SELECT doc_id, lang,
           len(tokens) AS n_tokens,
           round(len(list_filter(tokens, t -> t IN {STOPWORDS}))::DOUBLE
                 / len(tokens), 4) AS stopword_ratio,
           round(len(list_filter(tokens, t -> length(t) > 6))::DOUBLE
                 / len(tokens), 4) AS long_token_ratio
    FROM toks
    """,
    "Quality scoring: stopword ratio + long-token ratio (length/punct "
    "heuristics of a pretraining filter)",
)
def text_quality(spark: SparkSession, sf: str) -> DataFrame:
    v = _docs_view(spark, sf)
    return spark.sql(f"""
        WITH toks AS (
          SELECT doc_id, lang, split(trim(text), '\\\\s+') AS tokens
          FROM {v})
        SELECT doc_id, lang,
               size(tokens) AS n_tokens,
               round(CAST(size(filter(tokens, t -> t IN {STOPWORDS})) AS DOUBLE)
                     / size(tokens), 4) AS stopword_ratio,
               round(CAST(size(filter(tokens, t -> length(t) > 6)) AS DOUBLE)
                     / size(tokens), 4) AS long_token_ratio
        FROM toks
    """)


@register(
    "text_lang_id_heuristic",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS tokens
      FROM documents)
    SELECT doc_id, lang AS lang_actual,
           CASE WHEN len(list_filter(tokens, t -> t IN {STOPWORDS})) * 1.0
                     / len(tokens) >= 0.05
                THEN 'en' ELSE 'other' END AS lang_guess
    FROM toks
    """,
    "Language-ID n-gram/stopword heuristic (pretraining lang filter)",
)
def text_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    v = _docs_view(spark, sf)
    return spark.sql(f"""
        WITH toks AS (
          SELECT doc_id, lang, split(trim(text), '\\\\s+') AS tokens
          FROM {v})
        SELECT doc_id, lang AS lang_actual,
               CASE WHEN size(filter(tokens, t -> t IN {STOPWORDS})) * 1.0
                         / size(tokens) >= 0.05
                    THEN 'en' ELSE 'other' END AS lang_guess
        FROM toks
    """)


@register(
    "dedup_exact_hash",
    """
    SELECT md5(lower(trim(text))) AS content_hash,
           min(doc_id) AS keeper_doc_id, count(*) AS n_copies
    FROM documents GROUP BY content_hash
    """,
    "Exact dedup: hash-groupBy on normalized content, keep lowest id "
    "(the distinct-key dedup of findMissingPages.py:38 generalized)",
)
def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    v = _docs_view(spark, sf)
    return spark.sql(f"""
        SELECT md5(lower(trim(text))) AS content_hash,
               min(doc_id) AS keeper_doc_id, count(*) AS n_copies
        FROM {v} GROUP BY content_hash
    """)


_DUCK_FP = duckdb_h60_sql("regexp_replace(lower(text), '\\s+', ' ', 'g')")
_SPARK_FP = spark_h60_sql("regexp_replace(lower(text), '\\\\s+', ' ')")


@register(
    "text_fingerprint",
    f"""
    SELECT source,
           count(DISTINCT {_DUCK_FP}) AS n_fingerprints,
           count(*) AS n_docs
    FROM documents GROUP BY source
    """,
    "Document fingerprinting: 60-bit hash of whitespace-normalized text, "
    "distinct count per source",
)
def text_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    v = _docs_view(spark, sf)
    return spark.sql(f"""
        SELECT source,
               count(DISTINCT {_SPARK_FP}) AS n_fingerprints,
               count(*) AS n_docs
        FROM {v} GROUP BY source
    """)


# --------------------------------------------------------------------------
# MinHash + LSH near-dup pipeline
# --------------------------------------------------------------------------

N_MINHASH = 4
SHINGLE = 5


def _minhash_exprs(dialect: str) -> str:
    """N_MINHASH independent min-hash lanes from ONE md5 per shingle: the
    32-hex-char digest (exposed as column ``hx`` by _HX_CTE) is sliced into
    four 32-bit lanes — one md5 call per shingle instead of one per salt;
    the hash is the dominant cost of the signature stage. Identical hex
    slicing on both engines."""
    cols = []
    for j in range(N_MINHASH):
        if dialect == "spark":
            h = f"cast(conv(substring(hx, {j * 8 + 1}, 8), 16, 10) as bigint)"
        else:
            h = f"('0x' || substr(hx, {j * 8 + 1}, 8))::BIGINT"
        cols.append(f"min({h}) AS mh{j}")
    return ", ".join(cols)


_HX_CTE = "SELECT doc_id, md5(shingle) AS hx FROM shingles"


_DUCK_SHINGLES = """
    SELECT doc_id, unnest([substr(text, CAST(i AS INT), {m})
                           for i in range(1, greatest(length(text) - {n}, 1) + 1)]) AS shingle
    FROM documents
""".strip()


def _sigs_sql(dialect: str, v: str = "documents") -> str:
    """The shingle→minhash signature stage, per dialect.

    Spark: explode(transform(sequence, i -> md5(substring))) + GROUP BY —
    exactly one md5 per shingle (computed inside the explode's child
    projection), partial min-aggregation collapses to one row per doc
    map-side, and the final-agg EXCHANGE is the materialization point the
    LSH band self-join reuses (ReusedExchange) for all four of its sigs
    references. A shuffle-free array-fold variant was measured: faster for
    the standalone signature query, but 4x slower for the pairs join —
    with no exchange, Catalyst re-inlines the whole shingle->md5 subtree
    into every join side. The explode form is the right plan for the
    pipeline; pair it with _docs_view_parallel so the hash stage spreads
    across cores when the input has few splits.

    DuckDB (oracle): list-comprehension unnest + GROUP BY — plan shape on
    the oracle side is irrelevant; values match by construction (same md5,
    same lane slices)."""
    if dialect == "spark":
        return f"""
          SELECT doc_id, {_minhash_exprs("spark")} FROM (
            SELECT doc_id,
                   explode(transform(
                     sequence(1, greatest(length(text) - {SHINGLE - 1}, 1)),
                     i -> md5(substring(text, i, {SHINGLE})))) AS hx
            FROM {v})
          GROUP BY doc_id
        """.strip()
    return f"""
      WITH shingles AS ({_DUCK_SHINGLES.format(n=SHINGLE - 1, m=SHINGLE)}),
      hashed AS ({_HX_CTE})
      SELECT doc_id, {_minhash_exprs("duckdb")}
      FROM hashed GROUP BY doc_id
    """.strip()


@register(
    "dedup_minhash_signature",
    _sigs_sql("duckdb"),
    "MinHash signatures over 5-char shingles (shingle→minhash stage of the "
    "near-dup pipeline); md5-portable hashes so the oracle checks VALUES",
)
def dedup_minhash_signature(spark: SparkSession, sf: str) -> DataFrame:
    v = _docs_view_parallel(spark, sf)
    return spark.sql(_sigs_sql("spark", v))


def _lsh_pairs_sql(dialect: str, v: str = "documents") -> str:
    # classic (b, r) banding with b=2 bands of r=2 rows: a candidate pair
    # must agree on BOTH minhash lanes of some band — collision probability
    # for dissimilar docs drops quadratically vs single-lane bands, which
    # over a shared-vocabulary corpus otherwise produce near-n² candidates
    bands = " UNION ALL ".join(
        f"SELECT {j} AS band, mh{2 * j} AS v1, mh{2 * j + 1} AS v2, doc_id FROM sigs"
        for j in range(N_MINHASH // 2)
    )
    return f"""
        WITH sigs AS ({_sigs_sql(dialect, v)}),
        bands AS ({bands})
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.v1 = b.v1 AND a.v2 = b.v2
         AND a.doc_id < b.doc_id
    """


@register(
    "dedup_minhash_lsh_pairs",
    _lsh_pairs_sql("duckdb"),
    "MinHash LSH candidate pairs: band → bucket-join (no O(n²) stage); "
    "the blocked near-dup join J7 of SURVEY.md",
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf: str) -> DataFrame:
    v = _docs_view_parallel(spark, sf)
    return spark.sql(_lsh_pairs_sql("spark", v))


# --------------------------------------------------------------------------
# MinHash + LSH, scale-tier banding (word shingles, wider bands)
# --------------------------------------------------------------------------

WG_WORDS = 3  # words per shingle
WG_LANES = 8  # minhash lanes (two md5 digests per shingle)
WG_R = 4  # lanes per band -> 2 bands


def _wg_lane_exprs(dialect: str) -> str:
    """WG_LANES min-hash lanes from TWO md5 digests per shingle (hx1, hx2
    exposed by the hashed subquery): lanes 0-3 slice hx1, lanes 4-7 slice
    hx2 — same 32-bit hex slicing as _minhash_exprs, same on both engines."""
    cols = []
    for j in range(WG_LANES):
        src = "hx1" if j < 4 else "hx2"
        off = (j % 4) * 8 + 1
        if dialect == "spark":
            h = f"cast(conv(substring({src}, {off}, 8), 16, 10) as bigint)"
        else:
            h = f"('0x' || substr({src}, {off}, 8))::BIGINT"
        cols.append(f"min({h}) AS mh{j}")
    return ", ".join(cols)


def _wg_sigs_sql(dialect: str, v: str = "documents") -> str:
    """Word-{WG_WORDS}-gram shingle → 8-lane minhash signatures.

    Word shingles are the scale-tier unit: character shingles over corpora
    with a shared token head (Zipf text, or this testdata's 31-token
    vocabulary) give UNRELATED doc pairs baseline Jaccard s ≈ 0.05-0.5, and
    any (b, r) banding admits ~n²·s^r random-collision candidates — the
    dedup soak (tools/dedup_soak.py, BENCH_DEDUP_SOAK.json) measured the
    resulting output exponent ~2. Word n-grams drive s → 0 for unrelated
    docs (a shared 3-word sequence is evidence, a shared 5-char substring
    is not), which is what keeps candidate volume ∝ n at 10^10 docs."""
    if dialect == "spark":
        shingles = f"""
            SELECT doc_id, explode(transform(
                     sequence(1, greatest(size(split(text, ' ')) - {WG_WORDS - 1}, 1)),
                     i -> concat_ws(' ', slice(split(text, ' '), i, {WG_WORDS})))) AS shingle
            FROM {v}
        """.strip()
        return f"""
          SELECT doc_id, {_wg_lane_exprs("spark")} FROM (
            SELECT doc_id, md5(shingle) AS hx1, md5(concat(shingle, '#')) AS hx2
            FROM ({shingles}))
          GROUP BY doc_id
        """.strip()
    return f"""
      WITH words AS (
        SELECT doc_id, regexp_split_to_array(text, ' ') AS w FROM {v}),
      shingles AS (
        SELECT doc_id,
               unnest([array_to_string(w[CAST(i AS INT):CAST(i AS INT) + {WG_WORDS - 1}], ' ')
                       for i in range(1, greatest(len(w) - {WG_WORDS - 1}, 1) + 1)]) AS shingle
        FROM words),
      hashed AS (
        SELECT doc_id, md5(shingle) AS hx1, md5(shingle || '#') AS hx2 FROM shingles)
      SELECT doc_id, {_wg_lane_exprs("duckdb")}
      FROM hashed GROUP BY doc_id
    """.strip()


def _wg_lsh_pairs_sql(dialect: str, v: str = "documents") -> str:
    # (b=2, r=4) banding: a candidate pair must agree on all FOUR lanes of
    # some band — random-collision probability s^4 per band vs s^2 for the
    # character-tier pipeline; with word shingles (s ~ 1e-3 for unrelated
    # docs) random candidates are ~n²·1e-12: zero in practice at any n this
    # engine targets, so the bucket join's input is the true near-dup set
    n_bands = WG_LANES // WG_R
    bands = " UNION ALL ".join(
        "SELECT {b} AS band, {vs}, doc_id FROM sigs".format(
            b=b,
            vs=", ".join(f"mh{b * WG_R + k} AS v{k + 1}" for k in range(WG_R)),
        )
        for b in range(n_bands)
    )
    on = " AND ".join(f"a.v{k + 1} = b.v{k + 1}" for k in range(WG_R))
    return f"""
        WITH sigs AS ({_wg_sigs_sql(dialect, v)}),
        bands AS ({bands})
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND {on}
         AND a.doc_id < b.doc_id
    """


@register(
    "dedup_minhash_lsh_wordgram",
    _wg_lsh_pairs_sql("duckdb"),
    "Scale-tier MinHash LSH: word-3-gram shingles, 8 lanes, (b=2, r=4) "
    "banding — the parameterization that keeps random-collision candidates "
    "~0 on shared-vocabulary corpora where the character-tier pipeline's "
    "candidates grow n²·s² (measured in BENCH_DEDUP_SOAK.json's design "
    "notes); same band → bucket-join plan shape, no O(n²) stage",
)
def dedup_minhash_lsh_wordgram(spark: SparkSession, sf: str) -> DataFrame:
    v = _docs_view_parallel(spark, sf)
    return spark.sql(_wg_lsh_pairs_sql("spark", v))


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

SIMHASH_BITS = 16


def _simhash_sql(dialect: str, tokens_cte: str) -> str:
    h = spark_h60_sql("token") if dialect == "spark" else duckdb_h60_sql("token")
    shift = "shiftright(th, {i})" if dialect == "spark" else "(th >> {i})"
    sums = ", ".join(
        f"sum(CASE WHEN ({shift.format(i=i)} & 1) = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(SIMHASH_BITS)
    )
    combine = " + ".join(f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(SIMHASH_BITS))
    return f"""
        WITH toks AS ({tokens_cte}),
        hashed AS (SELECT doc_id, {h} AS th FROM toks),
        bits AS (SELECT doc_id, {sums} FROM hashed GROUP BY doc_id)
        SELECT doc_id, {combine} AS simhash FROM bits
    """


_SPARK_TOKENS = "SELECT doc_id, explode(split(trim(text), '\\\\s+')) AS token FROM {v}"
_DUCK_TOKENS = (
    "SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token FROM documents"
)


@register(
    "dedup_simhash",
    _simhash_sql("duckdb", _DUCK_TOKENS),
    f"SimHash ({SIMHASH_BITS}-bit) per document — token-hash bit voting; "
    "near-dup docs land at small Hamming distance",
)
def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    v = _docs_view_parallel(spark, sf)
    return spark.sql(_simhash_sql("spark", _SPARK_TOKENS.format(v=v)))


# --------------------------------------------------------------------------
# Exact n-gram Jaccard (confirmer for LSH candidates)
# --------------------------------------------------------------------------


def _jaccard_sql(dialect: str, tokens_cte: str, v: str = "documents") -> str:
    """Exact token-set Jaccard computed ONLY for the MinHash-LSH candidate
    pairs — the confirmer the LSH stage promises (module docstring). The
    candidate list bounds the intersection work: each pair expands by
    |tokens(doc_a)| and joins doc_b's token set on (doc_id, token), so cost
    is O(Σ_cand |doc|) — there is no token-token self-join anywhere, which
    at corpus scale would detonate on stopwords (every doc pairs with every
    doc through 'the'). No doc-id cap."""
    return f"""
        WITH cand AS ({_lsh_pairs_sql(dialect, v)}),
        toks AS ({tokens_cte}),
        tsets AS (SELECT DISTINCT doc_id, token FROM toks),
        sizes AS (SELECT doc_id, count(*) AS n FROM tsets GROUP BY doc_id),
        inter AS (
          SELECT c.doc_a, c.doc_b, count(*) AS n_common
          FROM cand c
          JOIN tsets a ON a.doc_id = c.doc_a
          JOIN tsets b ON b.doc_id = c.doc_b AND b.token = a.token
          GROUP BY c.doc_a, c.doc_b)
        SELECT doc_a, doc_b,
               round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 4) AS jaccard
        FROM inter JOIN sizes sa ON sa.doc_id = doc_a
                   JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5
    """


@register(
    "dedup_ngram_jaccard",
    _jaccard_sql("duckdb", _DUCK_TOKENS),
    "Exact token-set Jaccard ≥0.5 over the MinHash-LSH candidate pairs "
    "(the exact confirmer behind LSH; no token self-join, no doc cap; "
    "tolerance-equality pattern of compositionMatcher.py:60)",
)
def dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    v = _docs_view_parallel(spark, sf)
    return spark.sql(_jaccard_sql("spark", _SPARK_TOKENS.format(v=v), v))


# --------------------------------------------------------------------------
# Near-dup clustering: connected components over the LSH candidate graph
# --------------------------------------------------------------------------


def _cluster_oracle_sql() -> str:
    pairs_sql = _lsh_pairs_sql("duckdb")
    return f"""
        WITH RECURSIVE pairs AS ({pairs_sql}),
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                  UNION SELECT doc_b AS src, doc_a AS dst FROM pairs),
        reach(node, comp) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node),
        comps AS (SELECT node AS doc_id, min(comp) AS cluster_id
                  FROM reach GROUP BY node)
        SELECT doc_id, cluster_id, doc_id = cluster_id AS is_keeper FROM comps
    """


@register(
    "dedup_cluster_components",
    _cluster_oracle_sql(),
    "Connected components over the MinHash-LSH candidate graph: each near-dup "
    "cluster collapses to its min-doc_id keeper — the keep-one step that "
    "turns candidate pairs into an actual dedup decision. Spark side is "
    "iterative min-label propagation (the standard distributed CC: each "
    "sweep is one shuffle on the edge key, O(cluster diameter) sweeps, no "
    "all-pairs stage); oracle is a DuckDB recursive CTE over the identical "
    "pair list.",
)
def dedup_cluster_components(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import functions as F

    v = _docs_view_parallel(spark, sf)
    pairs = spark.sql(_lsh_pairs_sql("spark", v))
    # symmetrize once and pin the edge list: every sweep re-joins it, and
    # recomputing shingle→minhash→band per sweep would dominate the loop
    edges = (
        pairs.selectExpr("doc_a AS src", "doc_b AS dst")
        .union(pairs.selectExpr("doc_b AS src", "doc_a AS dst"))
        .localCheckpoint()
    )
    labels = edges.select(F.col("src").alias("doc_id")).distinct().withColumn(
        "comp", F.col("doc_id")
    ).localCheckpoint()
    # min-label propagation to fixpoint: comp(v) <- min(comp(v), min over
    # in-neighbors u of comp(u)). Deterministic (min), converges in
    # O(diameter) sweeps; near-dup clusters are shallow (template families),
    # so the loop is short. At 10^9+ edges the same loop stands — each sweep
    # is one partial-aggregated shuffle on dst — with large-star/small-star
    # as the documented upgrade if diameters ever grow adversarial.
    from pyspark.sql import Observation

    while True:
        nbr = (
            edges.join(labels.withColumnRenamed("doc_id", "src"), "src")
            .groupBy("dst")
            .agg(F.min("comp").alias("nbr_comp"))
            .withColumnRenamed("dst", "doc_id")
        )
        # convergence detection rides the checkpoint materialization as an
        # observed metric — one Spark job per sweep, no second count() scan
        obs = Observation()
        stepped = (
            labels.join(nbr, "doc_id", "left")
            .select(
                "doc_id",
                F.least("comp", F.coalesce("nbr_comp", "comp")).alias("comp"),
                (F.coalesce("nbr_comp", "comp") < F.col("comp")).alias("_chg"),
            )
            .observe(obs, F.sum(F.col("_chg").cast("long")).alias("changed"))
            .localCheckpoint()  # materialize + cut lineage growth across sweeps
        )
        labels = stepped.select("doc_id", "comp")
        if (obs.get["changed"] or 0) == 0:
            break
    return labels.select(
        "doc_id",
        F.col("comp").alias("cluster_id"),
        (F.col("doc_id") == F.col("comp")).alias("is_keeper"),
    )


# --------------------------------------------------------------------------
# Composed corpus-curation pipeline (quality filter -> dedup -> budget)
# --------------------------------------------------------------------------


def _corpus_pipeline_sql(dialect: str) -> str:
    if dialect == "spark":
        src = "{v}"
        ntok = "size(split(trim(text), '\\\\s+'))"
        stop = f"CAST(size(filter(split(trim(text), '\\\\s+'), t -> t IN {STOPWORDS})) AS DOUBLE)"
    else:
        src = "documents"
        ntok = "len(regexp_split_to_array(trim(text), '\\s+'))"
        stop = f"len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t IN {STOPWORDS}))::DOUBLE"
    return f"""
        WITH scored AS (
          SELECT doc_id, lang, source, text,
                 {ntok} AS n_tokens,
                 {stop} / {ntok} AS stopword_ratio
          FROM {src}),
        quality AS (
          SELECT * FROM scored
          WHERE n_tokens BETWEEN 5 AND 5000 AND stopword_ratio >= 0.03),
        keepers AS (
          SELECT min(doc_id) AS keep_id
          FROM quality GROUP BY md5(lower(trim(text)))),
        corpus AS (
          SELECT q.* FROM quality q JOIN keepers k ON q.doc_id = k.keep_id)
        SELECT lang, source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               round(avg(n_tokens), 4) AS avg_tokens
        FROM corpus GROUP BY lang, source
    """


@register(
    "pipeline_corpus_curation",
    _corpus_pipeline_sql("duckdb"),
    "Composed training-data pipeline: quality filter (token count band + "
    "stopword ratio) -> exact-dedup keeper join -> per-(lang, source) token "
    "budget. One declarative plan — Catalyst fuses the scoring scan, the "
    "dedup is a map-side-combined hash aggregate joined back (no row "
    "explosion), everything shuffles on high-cardinality skew-free keys.",
)
def pipeline_corpus_curation(spark: SparkSession, sf: str) -> DataFrame:
    v = _docs_view(spark, sf)
    return spark.sql(_corpus_pipeline_sql("spark").format(v=v))


# --------------------------------------------------------------------------
# BPE-ish regex tokenizer (the non-whitespace token counter of a
# pretraining pipeline; complements text_token_stats' whitespace count)
# --------------------------------------------------------------------------

# GPT-2-style pre-tokenizer, simplified to the lookahead-free subset both
# regex engines (Java on Spark, RE2 on DuckDB) implement identically:
# contractions, space-prefixed letter runs, space-prefixed digit runs,
# space-prefixed punctuation runs.
_BPE_PAT = r"'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s']+"


def _bpe_tokens_sql(dialect: str, v: str = "documents") -> str:
    if dialect == "spark":
        # group 0 = the whole match (the pattern has no capture groups;
        # Spark's default group index is 1, DuckDB's is 0)
        pat = _BPE_PAT.replace("\\", "\\\\").replace("'", "\\'")
        pieces = f"regexp_extract_all(text, '{pat}', 0)"
        ws = "size(split(trim(text), '\\\\s+'))"
        npieces = f"size({pieces})"
        joined = f"array_join({pieces}, chr(1))"
        src = v
    else:
        pat = _BPE_PAT.replace("'", "''")
        pieces = f"regexp_extract_all(text, '{pat}')"
        ws = r"len(regexp_split_to_array(trim(text), '\s+'))"
        npieces = f"len({pieces})"
        joined = f"array_to_string({pieces}, chr(1))"
        src = "documents"
    return f"""
        SELECT doc_id,
               CAST({npieces} AS BIGINT) AS n_bpe_tokens,
               CAST({npieces} - {ws} AS BIGINT) AS n_subword_splits,
               md5({joined}) AS token_stream_hash
        FROM {src}
    """


@register(
    "text_token_bpe_regex",
    _bpe_tokens_sql("duckdb"),
    "BPE-ish regex token counting (GPT-2-style pre-tokenizer, lookahead-free "
    "subset): piece count, subword-split surplus over whitespace tokens, and "
    "an md5 of the exact piece stream — the oracle checks the token PIECES "
    "agree across engines, not just the counts",
)
def text_token_bpe_regex(spark: SparkSession, sf: str) -> DataFrame:
    v = _docs_view(spark, sf)
    return spark.sql(_bpe_tokens_sql("spark", v))


# --------------------------------------------------------------------------
# Character-entropy quality signal
# --------------------------------------------------------------------------

ENTROPY_ALPHABET = "abcdefghijklmnopqrstuvwxyz "  # letters + space


def _char_entropy_sql(table: str) -> str:
    """Shannon entropy of the per-document character distribution over
    letters + space — the gibberish/boilerplate screen in published corpus
    curation rule sets (a run of one repeated character scores ~0 bits; a
    natural-language mix scores ~4). Counting is explode-free: each
    character's count is length(text) - length(replace(text, c, '')), 27
    vectorized expressions per row, so the operator is a pure projection —
    no shuffle at any corpus size. The SAME SQL string runs on Spark and
    DuckDB (only the table name differs); entropy rounds to 4dp, well
    inside cross-engine libm agreement (precedent: a9's exp/pow oracle at
    6dp)."""
    n = len(ENTROPY_ALPHABET)
    c_exprs = ",\n               ".join(
        "CAST(length(text) - length(replace(text, "
        + ("' '" if ch == " " else f"'{ch}'")
        + f", '')) AS DOUBLE) AS c{i}"
        for i, ch in enumerate(ENTROPY_ALPHABET)
    )
    total = " + ".join(f"c{i}" for i in range(n))
    terms = " + ".join(
        f"CASE WHEN c{i} > 0 THEN (c{i} / total) * log2(c{i} / total) ELSE 0.0 END"
        for i in range(n)
    )
    return f"""
        SELECT doc_id,
               CAST(total AS BIGINT) AS n_alpha,
               round(-({terms}), 4) AS char_entropy
        FROM (
          SELECT doc_id, {total} AS total,
                 {", ".join(f"c{i}" for i in range(n))}
          FROM (
            SELECT doc_id,
               {c_exprs}
            FROM {table}) raw) t
        WHERE total > 0
    """


@register(
    "text_char_entropy",
    _char_entropy_sql("documents"),
    "Per-document character-distribution Shannon entropy over letters+space "
    "(the gibberish / repeated-character screen in corpus-curation rule "
    "sets) — 27 replace-diff counts per row, a pure shuffle-free projection "
    "at any corpus size",
)
def text_char_entropy(spark: SparkSession, sf: str) -> DataFrame:
    v = _docs_view(spark, sf)
    return spark.sql(_char_entropy_sql(v))


def _repetition_sql(d: str, table: str) -> str:
    """Per-document repetition statistics — the repetition screens in
    published corpus-curation rule sets (a template-stamped or looping
    document shows a low distinct-word ratio and a high top-word share
    long before a human reads it). Two-level hash aggregate over exploded
    words: keys are (doc_id, word) then doc_id — high-cardinality,
    skew-free, fully map-side combined; n-gram variants reuse the shingle
    machinery above."""
    if d == "spark":
        words = (f"SELECT doc_id, w FROM {table} "
                 "LATERAL VIEW explode(split(text, ' ')) AS w WHERE w <> ''")
    else:
        words = (f"SELECT doc_id, unnest(string_split(text, ' ')) AS w "
                 f"FROM {table}")
    return f"""
        WITH words AS (SELECT * FROM ({words}) x WHERE w <> ''),
        wc AS (
          SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w),
        agg AS (
          SELECT doc_id, sum(c) AS n_words, count(*) AS n_distinct,
                 max(c) AS top_c
          FROM wc GROUP BY doc_id)
        SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               round(CAST(n_distinct AS DOUBLE) / n_words, 4) AS distinct_ratio,
               round(CAST(top_c AS DOUBLE) / n_words, 4) AS top_word_ratio
        FROM agg
    """


@register(
    "text_repetition_stats",
    _repetition_sql("duckdb", "documents"),
    "Per-document repetition screens (distinct-word ratio, top-word share) "
    "— the template/looping-text filters of corpus-curation rule sets; "
    "two-level map-side-combined hash aggregate, skew-free keys",
)
def text_repetition_stats(spark: SparkSession, sf: str) -> DataFrame:
    v = _docs_view(spark, sf)
    return spark.sql(_repetition_sql("spark", v))


# --------------------------------------------------------------------------
# TF-IDF feature extraction and sequence packing
# --------------------------------------------------------------------------


def _idf_sql(dialect: str, docs: str) -> str:
    """Corpus document-frequency / IDF table. One explode + one hash agg on
    `token` (high-cardinality, skew-free at corpus scale), plus a 1-row count
    broadcast-joined in — the standard first stage of any TF-IDF / rare-word
    curation rule. At 100 TB the vocabulary table is millions of rows, never
    a funnel. IDF is rounded to 4dp so the cross-engine float hash is stable
    against last-ulp libm ln() differences."""
    if dialect == "spark":
        toks = f"SELECT doc_id, explode(array_distinct(split(trim(text), '\\\\s+'))) AS token FROM {docs}"
    else:
        toks = f"SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS token FROM {docs}"
    return f"""
        WITH toks AS ({toks}),
        df AS (SELECT token, count(*) AS df FROM toks GROUP BY token),
        n AS (SELECT count(*) AS n_docs FROM {docs})
        SELECT token, CAST(df AS BIGINT) AS df,
               round(ln(CAST(n_docs AS DOUBLE) / df), 4) AS idf
        FROM df CROSS JOIN n
    """


@register(
    "text_idf_table",
    _idf_sql("duckdb", "documents"),
    "Corpus DF/IDF vocabulary table (distinct-token document frequency + "
    "log-inverse weight) — the shared statistics stage of TF-IDF scoring "
    "and rare/common-word curation filters",
)
def text_idf_table(spark: SparkSession, sf: str) -> DataFrame:
    v = _docs_view(spark, sf)
    return spark.sql(_idf_sql("spark", v))


def _tfidf_topk_sql(dialect: str, docs: str) -> str:
    """Per-document top-3 TF-IDF terms. Ranking is by the INTEGER skeleton
    (term count DESC, document frequency ASC, token ASC) — exactly the
    ordering TF-IDF induces when n_tokens and n_docs are constant within a
    document — so the row_number is exact on both engines; the float tfidf
    value is reported (4dp) but never compared or ordered on. Plan: explode →
    two hash aggs → broadcast the vocab DF table → per-doc window over ≤
    |doc| rows. The window partitions on doc_id (perfectly parallel)."""
    if dialect == "spark":
        toks = f"SELECT doc_id, explode(split(trim(text), '\\\\s+')) AS token FROM {docs}"
    else:
        toks = f"SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token FROM {docs}"
    return f"""
        WITH toks AS ({toks}),
        tf AS (SELECT doc_id, token, count(*) AS cnt FROM toks GROUP BY doc_id, token),
        ntok AS (SELECT doc_id, sum(cnt) AS n_tokens FROM tf GROUP BY doc_id),
        df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        n AS (SELECT count(*) AS n_docs FROM {docs}),
        dfn AS (SELECT df.token, df.df, n.n_docs FROM df CROSS JOIN n),
        scored AS (
          SELECT tf.doc_id, tf.token, tf.cnt, dfn.df, ntok.n_tokens,
                 round(CAST(tf.cnt AS DOUBLE) / ntok.n_tokens
                       * ln(CAST(dfn.n_docs AS DOUBLE) / dfn.df), 4) AS tfidf,
                 row_number() OVER (PARTITION BY tf.doc_id
                                    ORDER BY tf.cnt DESC, dfn.df ASC, tf.token ASC) AS rnk
          FROM tf
          JOIN dfn ON tf.token = dfn.token
          JOIN ntok ON tf.doc_id = ntok.doc_id)
        SELECT doc_id, token, CAST(cnt AS BIGINT) AS cnt,
               CAST(df AS BIGINT) AS df, tfidf, CAST(rnk AS INT) AS rnk
        FROM scored WHERE rnk <= 3
    """


@register(
    "text_tfidf_topk",
    _tfidf_topk_sql("duckdb", "documents"),
    "Per-document top-3 TF-IDF terms (integer-exact rank, float value "
    "reported) — keyword/feature extraction for curation and retrieval",
)
def text_tfidf_topk(spark: SparkSession, sf: str) -> DataFrame:
    v = _docs_view(spark, sf)
    return spark.sql(_tfidf_topk_sql("spark", v))


PACK_BUDGET = 512  # tokens per training context window


def _context_pack_sql(dialect: str, docs: str) -> str:
    """Sequence packing: assign documents to fixed token-budget context
    windows in doc_id order WITHIN each source shard, then emit the packing
    manifest (docs + token fill per window). window_id = floor(tokens-before
    / budget), i.e. back-to-back concatenation with documents spanning a
    boundary charged to the window they start in — the deterministic packing
    rule of pretraining batch builders. Partitioning on `source` is the
    point: a real pipeline packs per input shard, so the running-sum window
    is per-shard (parallel, no global funnel); shard counts at 100 TB are
    O(10^5), far above executor count."""
    if dialect == "spark":
        ntok = "size(split(trim(text), '\\\\s+'))"
    else:
        ntok = "len(regexp_split_to_array(trim(text), '\\s+'))"
    return f"""
        WITH t AS (SELECT doc_id, source, {ntok} AS n_tokens FROM {docs}),
        packed AS (
          SELECT doc_id, source, n_tokens,
                 CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                             - n_tokens) / {PACK_BUDGET}.0) AS BIGINT) AS window_id
          FROM t)
        SELECT source, window_id,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS window_tokens,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM packed GROUP BY source, window_id
    """


@register(
    "pipeline_context_pack",
    _context_pack_sql("duckdb", "documents"),
    "Sequence packing manifest: documents concatenated into fixed "
    "token-budget context windows per source shard. The running token "
    "offset is the skew-proof two-level prefix sum "
    "(functions/skew.py:skewed_running_sum) — a source shard carrying 90% "
    "of the corpus packs across many tasks with byte-identical window ids "
    "— the batch-construction step of a pretraining data pipeline",
)
def pipeline_context_pack(spark: SparkSession, sf: str) -> DataFrame:
    from mongodb_postproc_spark.functions.skew import skewed_running_sum

    v = _docs_view(spark, sf)
    t = spark.table(v).select(
        "doc_id", "source",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens"),
    )
    packed = skewed_running_sum(t, ["source"], ["doc_id"], "n_tokens", out_col="__cum")
    # float division matches the oracle SQL's `/ {PACK_BUDGET}.0` exactly
    win = F.floor((F.col("__cum") - F.col("n_tokens")) / F.lit(float(PACK_BUDGET))).cast(
        "bigint"
    )
    return (
        packed.withColumn("window_id", win)
        .groupBy("source", "window_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("window_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# --------------------------------------------------------------------------
# Winnowed passage fingerprinting (local-overlap detection)
# --------------------------------------------------------------------------

WINNOW_K = 16  # k-gram length (chars)
WINNOW_W = 8  # winnowing window (k-grams per window)
WINNOW_DF_CAP = 10  # drop fingerprints shared by more docs (stop-boilerplate)
WINNOW_MIN_SHARED = 4  # pair survives with >= this many shared fingerprints


def _winnow_sql(d: str, v: str) -> str:
    """Winnowed k-gram fingerprints (Schleimer, Wilkerson, Aiken, SIGMOD
    2003 — the MOSS algorithm, public literature): hash every k-gram, keep
    the minimum hash of each w-window of consecutive positions, pair docs
    sharing >= WINNOW_MIN_SHARED selected fingerprints. Detects SHARED
    PASSAGES (any common substring of length >= k+w-1 = 23 chars is
    guaranteed to contribute a shared fingerprint) — the local-overlap
    complement to the whole-document similarity family (minhash / simhash /
    embedding): quotation, boilerplate and partial-copy detection.

    Scale shape: k-gram hashing is map-side; the window-min is ONE exchange
    on doc_id (each doc's positions sort within its partition group);
    winnowing thins fingerprints to a guaranteed density of 2/(w+1); the
    pair join is the posting-list self-join whose candidates scale with
    fingerprint document-frequency, hard-capped by dropping fingerprints
    with df > WINNOW_DF_CAP (the standard stop-fingerprint practice —
    ubiquitous boilerplate pairs everything with everything and carries no
    dedup signal). Hashes are the repo-standard md5 h60 slices, identical
    on both engines."""
    if d == "spark":
        kg = f"""
          SELECT doc_id, i AS pos,
                 {spark_h60_sql(f"substring(text, i, {WINNOW_K})")} AS h,
                 greatest(length(text) - {WINNOW_K - 1}, 1) AS npos
          FROM {v}
          LATERAL VIEW explode(sequence(1, greatest(length(text) - {WINNOW_K - 1}, 1))) s AS i"""
    else:
        kg = f"""
          SELECT doc_id, u.pos AS pos, u.h AS h, npos
          FROM (
            SELECT doc_id,
                   unnest([{{'pos': CAST(i AS INT),
                             'h': {duckdb_h60_sql(f"substr(text, CAST(i AS INT), {WINNOW_K})")}}}
                           for i in range(1, greatest(length(text) - {WINNOW_K - 1}, 1) + 1)]) AS u,
                   greatest(length(text) - {WINNOW_K - 1}, 1) AS npos
            FROM {v})"""
    return f"""
        WITH kg AS ({kg}),
        wm AS (
          SELECT doc_id, pos, npos,
                 min(h) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS fp
          FROM kg),
        fps AS (
          SELECT DISTINCT doc_id, fp FROM wm WHERE pos <= npos - {WINNOW_W} + 1),
        live AS (
          SELECT fp FROM fps GROUP BY fp
          HAVING count(*) BETWEEN 2 AND {WINNOW_DF_CAP})
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM fps a
        JOIN live l ON l.fp = a.fp
        JOIN fps b ON b.fp = a.fp AND b.doc_id > a.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING count(*) >= {WINNOW_MIN_SHARED}
    """


@register(
    "dedup_winnow_passages",
    _winnow_sql("duckdb", "documents"),
    f"Winnowed k-gram passage fingerprinting (MOSS, Schleimer et al. 2003): "
    f"min-hash of each {WINNOW_W}-window of {WINNOW_K}-char-gram hashes, "
    f"stop-fingerprint df-cap {WINNOW_DF_CAP}, pairs sharing >= "
    f"{WINNOW_MIN_SHARED} fingerprints — detects shared PASSAGES (any "
    f"common substring >= {WINNOW_K + WINNOW_W - 1} chars is guaranteed "
    "caught): the quotation/boilerplate/partial-copy complement to the "
    "whole-document dedup family",
)
def dedup_winnow_passages(spark: SparkSession, sf: str) -> DataFrame:
    v = _docs_view_parallel(spark, sf)
    return spark.sql(_winnow_sql("spark", v))
