"""Training-data pipeline operators beyond detection: duplicate
CLUSTER resolution (connected components -> canonical doc), document
chunking into overlapping token windows, and stratified deterministic
sampling. Registered as §2.4 additions with exact oracles (the
components oracle is a DuckDB recursive CTE computing the same
transitive closure).

The reference has no counterpart for any of these — they exist for the
LLM-pipeline surface (BASELINE.json north star).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fhir2sql_spark.operators import dedup
from fhir2sql_spark.operators.components import connected_components
from fhir2sql_spark.operators.reuse import pin
from fhir2sql_spark.registry import query
from fhir2sql_spark.tables import load

# The exact 3-gram Jaccard >= 4/5 pair derivation, shared verbatim with
# q_dedup_near's oracle (queries/llm.py) so the component structure is
# computed over the identical edge set in both engines.
_PAIRS_CTES = """
    s AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
    pos AS (
        SELECT doc_id, lang, toks,
               unnest(generate_series(1, len(toks) - 2)) AS i
        FROM s
    ),
    sh AS (
        SELECT DISTINCT doc_id, lang,
               toks[CAST(i AS INT)] || ' ' || toks[CAST(i+1 AS INT)]
                 || ' ' || toks[CAST(i+2 AS INT)] AS shingle
        FROM pos
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
        FROM sh a JOIN sh b
          ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM cand p
        JOIN sz sa ON p.doc_a = sa.doc_id
        JOIN sz sb ON p.doc_b = sb.doc_id
        WHERE common * 5 >= (sa.n + sb.n - common) * 4
    )
"""


@query(
    "q_dedup_components",
    oracle=f"""
    WITH RECURSIVE
    {_PAIRS_CTES},
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(node, label) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node
    )
    SELECT node AS doc_id, MIN(label) AS component_id,
           CAST(node = MIN(label) AS BOOLEAN) AS is_canonical
    FROM reach
    GROUP BY node
    """,
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: transitive closure of the exact near-dup
    pair relation (3-gram Jaccard >= 0.8, same edge set as
    q_dedup_near), resolved by distributed min-label propagation
    (operators/components.py). component_id = min doc_id in the
    cluster; is_canonical marks the document a dedup pass would keep.
    The oracle computes the identical closure via a recursive CTE."""
    pairs = dedup.jaccard_pairs(
        load(spark, sf_dir, "documents"), threshold_num=4, threshold_den=5
    )
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    return comp.select(
        F.col("node").alias("doc_id"),
        "component_id",
        (F.col("node") == F.col("component_id")).alias("is_canonical"),
    )


@query(
    "q_text_chunks",
    oracle="""
    WITH s AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents
    )
    SELECT doc_id, CAST(i AS INT) AS chunk_idx,
           CAST(len(toks[(CAST(i AS INT) * 24 + 1):(CAST(i AS INT) * 24 + 32)]) AS INT)
             AS n_chunk_tokens,
           array_to_string(toks[(CAST(i AS INT) * 24 + 1):(CAST(i AS INT) * 24 + 32)], ' ')
             AS chunk_text
    FROM s, range(0, 2000) t(i)
    WHERE i <= (n - 1) // 24
    """,
)
def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking for training: overlapping token windows of
    size 32 with stride 24 (8-token overlap), the standard context-
    window carving step before tokenization. Pure generator projection
    (explode of a bounded sequence) — zero shuffles, linear in input;
    at 100 TB this runs entirely map-side."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    d = d.select("doc_id", toks.alias("toks"), F.size(toks).alias("n"))
    d = d.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), F.expr("(n - 1) div 24"))).alias("chunk_idx"),
    )
    chunk = F.slice(F.col("toks"), F.col("chunk_idx") * 24 + 1, 32)
    return d.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.size(chunk).alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


@query(
    "q_sample_stratified",
    oracle="""
    SELECT doc_id, lang,
           substring(sha256(lang || '|' || CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
    FROM documents
    WHERE substring(sha256(lang || '|' || CAST(doc_id AS VARCHAR)), 1, 2) < '33'
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic ~20 % sample: the sha2 hex-prefix
    predicate is keyed on (stratum, id) so membership is independent
    across strata and reproducible across runs/engines — no rand().
    Emits the sampled rows themselves so the oracle checks exact
    membership, not just rates. Like q_sample_hash, the predicate is
    a computed expression inside the scan stage: zero shuffles."""
    d = load(spark, sf_dir, "documents")
    bucket = F.substring(
        F.sha2(F.concat(F.col("lang"), F.lit("|"), F.col("doc_id").cast("string")), 256),
        1,
        2,
    )
    return (
        d.select("doc_id", "lang", bucket.alias("bucket"))
        .where(F.col("bucket") < "33")
    )


@query(
    "q_text_tfidf",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT t.doc_id, t.token, t.tf, d.df,
             CAST(CAST(t.tf * n.n_docs AS DOUBLE) / CAST(d.df AS DOUBLE)
                  AS DOUBLE) AS score
      FROM tf t JOIN dfreq d USING (token), n
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, token) AS rn
      FROM scored
    )
    SELECT doc_id, token, tf, df, score FROM r WHERE rn <= 5
    """,
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 salient tokens per document by tf-idf, rational variant:
    score = tf * N / df (exact integer arithmetic -> one IEEE divide,
    bit-identical across engines — ln(N/df) would differ in final ulp
    between libm implementations and is monotonically equivalent for
    fixed tf anyway). Two shuffles (tf and df aggregates) + a
    broadcast of the scalar N; the per-doc top-5 plans a
    WindowGroupLimit."""
    from pyspark.sql import Window
    from fhir2sql_spark.queries.util import exact_div

    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    # df is derived FROM tf (one row per distinct (doc, token)), not
    # from toks.distinct(): the raw-token distinct re-shuffled all
    # ~200 tokens/doc a second time; aggregating the already-reduced
    # tf set drops that exchange (consistent ~15% at sf10 in a
    # same-cache-state A/B; the absolute number is page-cache-bound
    # there — the scan dominates when documents fall out of cache)
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .withColumn("score", exact_div(F.col("tf") * F.col("n_docs"), F.col("df")))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("doc_id", "token", "tf", "df", "score")
    )


@query(
    "q_corpus_carve",
    oracle=f"""
    WITH RECURSIVE
    {_PAIRS_CTES},
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(node, label) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node
    ),
    dupes AS (
        SELECT node FROM reach GROUP BY node HAVING MIN(label) <> node
    ),
    f AS (
        SELECT doc_id, lang,
               len(text) AS n_chars_m,
               len(string_split(text, ' ')) AS n_tokens,
               len(text) - len(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
               len(list_filter(string_split(lower(text), ' '),
                   x -> x IN ('the','and','of','to','a'))) AS en_hits
        FROM documents
    ),
    scored AS (
        SELECT doc_id, lang, n_tokens,
               round(CASE WHEN n_tokens >= 10 THEN 0.4 ELSE 0.0 END
                   + CASE WHEN CAST(n_chars_m AS DOUBLE)/greatest(n_tokens,1) >= 3
                           AND CAST(n_chars_m AS DOUBLE)/greatest(n_tokens,1) <= 12
                          THEN 0.3 ELSE 0.0 END
                   + CASE WHEN CAST(n_punct AS DOUBLE)/greatest(n_chars_m,1) <= 0.1
                          THEN 0.3 ELSE 0.0 END, 1) AS quality_score
        FROM f
    )
    SELECT doc_id, lang, n_tokens, quality_score,
           CASE WHEN substring(sha256('split|' || CAST(doc_id AS VARCHAR)), 1, 2)
                     < '1a'
                THEN 'heldout' ELSE 'train' END AS split
    FROM scored
    WHERE quality_score >= 0.7
      AND doc_id NOT IN (SELECT node FROM dupes)
    """,
)
def q_corpus_carve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus carve — the composition a training pipeline
    actually runs: quality-score filter (>= 0.7) -> drop non-canonical
    near-duplicates (cluster members that are not the min-id doc) ->
    deterministic ~10 % held-out split by hash prefix. Every stage is
    an already-verified fragment (q_text_quality, q_dedup_components,
    q_sample_hash discipline) composed in one plan; Catalyst fuses the
    scans and the anti-join against the (tiny) duplicate set
    broadcasts."""
    from fhir2sql_spark.operators import text as text_ops

    d = load(spark, sf_dir, "documents")
    feats = text_ops.quality_features(d)
    pairs = dedup.jaccard_pairs(d, threshold_num=4, threshold_den=5)
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    dupes = comp.where(F.col("node") != F.col("component_id")).select(
        F.col("node").alias("doc_id")
    )
    split = F.when(
        F.substring(
            F.sha2(F.concat(F.lit("split|"), F.col("doc_id").cast("string")), 256),
            1,
            2,
        )
        < "1a",
        F.lit("heldout"),
    ).otherwise(F.lit("train"))
    return (
        feats.where(F.col("quality_score") >= 0.7)
        .join(dupes, "doc_id", "left_anti")
        .join(d.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "n_tokens", "quality_score", split.alias("split"))
    )


@query(
    "q_sample_mixture",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang,
               substring(sha256(lang || '|' || CAST(doc_id AS VARCHAR)), 1, 2)
                 AS bucket,
               CASE lang WHEN 'en' THEN '80' WHEN 'de' THEN '40'
                         WHEN 'fr' THEN '20' ELSE '10' END AS thresh
        FROM documents
    )
    SELECT doc_id, lang, bucket, thresh FROM t WHERE bucket < thresh
    """,
)
def q_sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture resampling — the domain-mixing step of a
    pretraining pipeline (upweight high-value strata, downweight
    boilerplate) with NO rand(): per-stratum keep-rates are hex-prefix
    thresholds on sha2(lang|doc_id), so membership is exact, engine-
    independent, and stable under repartition/rerun (the property the
    q_sample_hash family establishes; this adds per-stratum RATES —
    en 50 %, de 25 %, fr 12.5 %, rest 6.25 %). String compare on the
    hex prefix keeps the predicate integer-exact in both engines.

    Scale shape: a computed-expression filter inside the scan stage,
    zero shuffles; rates are a broadcastable CASE, so re-mixing a
    100 TB corpus is one map-side pass."""
    d = load(spark, sf_dir, "documents")
    bucket = F.substring(
        F.sha2(F.concat(F.col("lang"), F.lit("|"), F.col("doc_id").cast("string")), 256),
        1,
        2,
    )
    thresh = (
        F.when(F.col("lang") == "en", F.lit("80"))
        .when(F.col("lang") == "de", F.lit("40"))
        .when(F.col("lang") == "fr", F.lit("20"))
        .otherwise(F.lit("10"))
    )
    return (
        d.select(
            "doc_id", "lang", bucket.alias("bucket"), thresh.alias("thresh")
        )
        .where(F.col("bucket") < F.col("thresh"))
    )


@query(
    "q_tokens_heavy_hitters",
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    )
    SELECT token, COUNT(*) AS n
    FROM toks GROUP BY token HAVING COUNT(*) >= 500
    ORDER BY n DESC, token
    """,
)
def q_tokens_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus heavy hitters (tokens with count >= 500) without
    ever shuffling the full token stream — the two-phase shape that
    survives 100 TB:

    1. candidate generation, map-side: each partition computes its own
       exact token counts in one Arrow pass (mapInPandas value_counts,
       accumulated across the partition's batches) and emits only
       tokens with local count >= ceil(T / P). Pigeonhole guarantees
       NO false negatives: a token with global count >= T must reach
       T/P in at least one of the P partitions. Everything below the
       local bar — the long tail, which is almost all distinct tokens
       — never leaves its partition.
    2. exact verification, candidates only: global counts for the
       (tiny) candidate set via broadcast semi-join + one hash agg;
       the shuffle carries at most |candidates| x P partial rows.

    False positives from phase 1 are removed by the exact phase-2
    filter, so the output equals the naive groupBy-HAVING oracle
    row-for-row. The same plan powers stopword-list mining and
    tokenizer-vocabulary seeding over web-scale corpora."""
    from fhir2sql_spark.operators.text import exact_heavy_hitters

    d = load(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("token"))
    return exact_heavy_hitters(toks, threshold=500).orderBy(
        F.desc("n"), F.asc("token")
    )


# Bigram-LM CTEs shared by q_text_lm_score and q_curriculum_order so
# both oracles score documents over the IDENTICAL model.
_LM_CTES = """
    s AS (
      SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
    ),
    bgpos AS (
      SELECT doc_id, lang, toks,
             unnest(generate_series(1, len(toks) - 1)) AS i
      FROM s
    ),
    bg AS (
      SELECT doc_id, lang,
             toks[CAST(i AS INT)] AS w1,
             toks[CAST(i AS INT)] || ' ' || toks[CAST(i+1 AS INT)] AS bg
      FROM bgpos
    ),
    c2 AS (SELECT lang, bg, w1, COUNT(*) AS n2 FROM bg GROUP BY 1, 2, 3),
    c1 AS (SELECT lang, w1, CAST(SUM(n2) AS BIGINT) AS n1 FROM c2 GROUP BY 1, 2),
    model AS (
      SELECT c2.lang, c2.bg,
             CAST(length(to_base(c2.n2, 2)) AS BIGINT)
             - CAST(length(to_base(c1.n1, 2)) AS BIGINT) AS bits
      FROM c2 JOIN c1 ON c2.lang = c1.lang AND c2.w1 = c1.w1
    ),
    lm_scored AS (
      SELECT b.doc_id, b.lang,
             COUNT(*) AS n_bigrams,
             CAST(SUM(m.bits) AS BIGINT) AS bits_sum,
             CAST(CAST(SUM(m.bits) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                  AS DOUBLE) AS avg_bits
      FROM bg b JOIN model m ON b.lang = m.lang AND b.bg = m.bg
      GROUP BY 1, 2
    )
"""


@query(
    "q_text_lm_score",
    oracle=f"""
    WITH {_LM_CTES}
    SELECT doc_id, lang, n_bigrams, bits_sum, avg_bits FROM lm_scored
    """,
)
def q_text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality scoring (round 3) — the
    perplexity-style filter of a pretraining pipeline (CCNet-shaped:
    score each document by how well a corpus-trained LM predicts it),
    made ENGINE-EXACT: the per-bigram log-likelihood
    ln P(w2|w1) = ln(c(w1 w2)) - ln(c(w1 .)) is quantized to whole
    bits via bit-length (floor(log2 n) + 1 = length(bin(n)) — pure
    integer arithmetic, no libm, so the score is bit-identical across
    engines and under any merge order; ln would differ in final ulp,
    the q_text_tfidf finding). avg_bits ~ negative cross-entropy in
    bits/bigram: higher = more predictable/fluent text.

    Scale shape: bigram explode -> two hash aggs (model counts; the
    history count c1 derived FROM the reduced c2 set, never a second
    pass over raw tokens — the q_text_tfidf exchange-elision) -> one
    equi-join of the token stream against the model on (lang, bigram)
    -> per-doc agg. Everything shuffles on compact keys; the model
    tables are corpus-vocabulary-sized, not corpus-sized."""
    from fhir2sql_spark.operators.text import lm_score_docs

    return lm_score_docs(load(spark, sf_dir, "documents"))


@query(
    "q_sample_weighted",
    oracle="""
    WITH k AS (
      SELECT doc_id, lang, n_chars,
             pow((CAST('0x' ||
                       substring(sha256('wsamp|' || CAST(doc_id AS VARCHAR)),
                                 1, 8)
                       AS BIGINT) + 1) / 4294967296.0,
                 1.0 / n_chars) AS wkey
      FROM documents
    )
    SELECT doc_id, lang, n_chars
    FROM k ORDER BY wkey DESC, doc_id LIMIT 200
    """,
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (round 3) —
    importance sampling for training-data curation (pick 200 docs with
    probability proportional to n_chars, e.g. token-budget-aware
    corpus carving). Algorithm A-ES (Efraimidis-Spirakis): each row
    gets key u^(1/w) with u a (0,1] uniform DERIVED FROM sha2(doc_id)
    — no rand(), so the sample is reproducible across runs, engines,
    and repartitioning — and the sample is the top-k by key.

    Determinism note: u = (hex32+1)/2^32 is dyadic-exact in both
    engines; pow is the one libm call, and a rank flip would need two
    keys within ~1 ulp — vanishing for hash-derived inputs (the float
    key itself is NOT emitted). Scale shape: key is a scan-stage
    expression; top-k plans TakeOrderedAndProject (per-partition heap
    + driver merge of 200-row heads — no global sort, no shuffle of
    the corpus)."""
    d = load(spark, sf_dir, "documents")
    h32 = F.conv(
        F.substring(
            F.sha2(F.concat(F.lit("wsamp|"), F.col("doc_id").cast("string")), 256),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    u = (h32 + 1) / F.lit(4294967296.0)
    wkey = F.pow(u, F.lit(1.0) / F.col("n_chars"))
    return (
        d.select("doc_id", "lang", "n_chars", wkey.alias("wkey"))
        .orderBy(F.desc("wkey"), F.asc("doc_id"))
        .limit(200)
        .select("doc_id", "lang", "n_chars")
    )


@query(
    "q_tokens_cms",
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    )
    SELECT token, COUNT(*) AS n_exact,
           TRUE AS cms_ge_exact
    FROM toks GROUP BY token HAVING COUNT(*) >= 200
    """,
)
def q_tokens_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimation (round 3) — the
    mergeable point-frequency summary (4 hash rows x 1024 buckets,
    operators/text.py cms_sketch/cms_estimate) complementing
    q_agg_hll_merge's HLL (distinct counts) and
    q_tokens_heavy_hitters' exact two-phase: at 100 TB each partition
    contributes a constant-size sketch (map-side partial agg caps
    emission at depth*width rows per partition) and sketches merge by
    cell-wise addition, so frequency queries never re-touch the
    corpus.

    Verified like the HLL query: the CMS guarantee est >= exact is
    DETERMINISTIC (each occurrence increments all of its token's
    cells), so it is emitted as a flag the exact-count oracle
    hash-checks; the estimate itself is xxhash64-layout-specific, so
    its error profile is tolerance-tested locally
    (tests/test_llm_ops.py) rather than oracled."""
    from fhir2sql_spark.operators.text import cms_estimate, cms_sketch

    d = load(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("token"))
    sketch = cms_sketch(toks, depth=4, width=1024)
    exact = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .where(F.col("n_exact") >= 200)
    )
    est = cms_estimate(sketch, exact.select("token"), depth=4, width=1024)
    return exact.join(est, "token").select(
        "token",
        "n_exact",
        (F.col("est") >= F.col("n_exact")).alias("cms_ge_exact"),
    )


def _pagerank_oracle(iters: int = 15, damping: float = 0.85) -> str:
    """Unrolled power-iteration oracle: one CTE triple (contribs,
    dangling mass, new ranks) per round, mirroring operators/
    pagerank.py's update rule term-for-term IN THE SAME OPERATION
    ORDER, so both engines evaluate the identical double-precision
    expression tree and only summation order can drift — absorbed by
    the 8-dp output rounding (drift is ~1e-13 on this graph, five
    orders below the rounding grain). Every CTE is MATERIALIZED:
    r{k} is referenced twice (contribs + dangling), so DuckDB's
    default inlining would expand the chain to 2^iters parquet scans
    — the same branch-reuse failure mode the Spark side avoids with
    localCheckpoint."""
    steps = []
    for k in range(1, iters + 1):
        p = f"r{k - 1}"
        steps.append(
            f"""
    c{k} AS MATERIALIZED (
        SELECT e.t AS node, SUM(r.rank / deg.deg) AS csum
        FROM e JOIN {p} r ON r.node = e.s JOIN deg ON deg.s = e.s
        GROUP BY e.t
    ),
    d{k} AS MATERIALIZED (
        SELECT COALESCE(SUM(r.rank), 0.0) AS dmass
        FROM {p} r LEFT JOIN deg ON deg.s = r.node WHERE deg.s IS NULL
    ),
    r{k} AS MATERIALIZED (
        SELECT n.node,
               (1.0 - {damping}) / nn.n
                 + {damping} * (COALESCE(c.csum, 0.0) + d.dmass / nn.n)
                 AS rank
        FROM nodes n CROSS JOIN nn CROSS JOIN d{k} d
        LEFT JOIN c{k} c ON c.node = n.node
    )"""
        )
    return f"""
    WITH e AS MATERIALIZED (
        SELECT DISTINCT o_custkey % 600 AS s, o_orderkey % 600 AS t
        FROM orders
    ),
    nodes AS MATERIALIZED (SELECT s AS node FROM e UNION SELECT t FROM e),
    nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    deg AS MATERIALIZED (SELECT s, COUNT(*) AS deg FROM e GROUP BY s),
    r0 AS MATERIALIZED (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
    {','.join(steps)}
    SELECT node, round(rank, 8) AS rank
    FROM r{iters}
    ORDER BY round(rank, 8) DESC, node
    LIMIT 50
    """


@query("q_graph_pagerank", oracle=_pagerank_oracle(iters=15, damping=0.85))
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PageRank (round 3) over a deterministic interaction
    graph derived from orders (src = o_custkey mod 600, dst =
    o_orderkey mod 600): top-50 central nodes. The iterative
    power-iteration operator (operators/pagerank.py) runs one shuffle
    per round with O(1) lineage via localCheckpoint — the pattern
    shared with connected_components.

    Round-5 graduation from rows-only to an EXACT oracle: a fixed
    iteration count makes the fixpoint a deterministic function of the
    edge set, so the oracle unrolls all 15 rounds as chained CTEs
    (_pagerank_oracle) computing the identical update rule; the only
    engine freedom left is float summation order, absorbed by the 8-dp
    rounding both sides apply. The numpy power-iteration parity test
    (1e-9) and structural properties (mass conservation, hub
    dominance) remain in tests/test_pagerank.py."""
    from fhir2sql_spark.operators.pagerank import pagerank

    o = load(spark, sf_dir, "orders")
    edges = o.select(
        (F.col("o_custkey") % 600).alias("src"),
        (F.col("o_orderkey") % 600).alias("dst"),
    )
    ranks = pagerank(edges, iters=15, damping=0.85)
    return (
        ranks.select("node", F.round("rank", 8).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("node"))
        .limit(50)
    )


@query(
    "q_curriculum_order",
    oracle=f"""
    WITH {_LM_CTES},
    staged AS (
      SELECT doc_id, lang, avg_bits,
             NTILE(4) OVER (PARTITION BY lang
                            ORDER BY avg_bits DESC, doc_id) AS stage,
             substring(sha256('curr|' || CAST(doc_id AS VARCHAR)), 1, 16)
               AS mix
      FROM lm_scored
    )
    SELECT doc_id, lang, stage,
           CAST(ROW_NUMBER() OVER (ORDER BY stage, mix, doc_id) - 1 AS BIGINT)
             AS train_pos
    FROM staged
    """,
)
def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering (round 3) — the easy-to-hard training
    schedule over LM-scored difficulty: per-language quartiles by
    bigram-LM predictability (stage 1 = most predictable = easiest;
    ntile tie-broken on doc_id), documents deterministically shuffled
    WITHIN each stage by a sha2 mixing key (no rand(); epoch-stable),
    and a global 0-based train_pos assigned across stages.

    Scale shape: the single-task global window a naive
    row_number() OVER (ORDER BY ...) would plan is replaced by
    operators/packing.py distributed_rank — range repartition on the
    (stage, mix) sort key, parallel per-partition windows, broadcast
    offset add — rank output identical to the global window's (which
    is exactly what the oracle computes). The ntile itself partitions
    by lang, so its parallelism is #langs; its input is the already-
    reduced per-doc score table, not the corpus."""
    from pyspark.sql import Window
    from fhir2sql_spark.operators.packing import distributed_rank
    from fhir2sql_spark.operators.text import lm_score_docs

    scored = lm_score_docs(load(spark, sf_dir, "documents"))
    w = Window.partitionBy("lang").orderBy(F.desc("avg_bits"), F.asc("doc_id"))
    staged = scored.select(
        "doc_id",
        "lang",
        F.ntile(4).over(w).alias("stage"),
        F.substring(
            F.sha2(F.concat(F.lit("curr|"), F.col("doc_id").cast("string")), 256),
            1,
            16,
        ).alias("mix"),
    )
    # r11: pin the staged table — distributed_rank's three consumers
    # (range sample, counts, final join) otherwise re-run the bigram
    # LM scoring pass each
    staged = pin(staged)
    ranked = distributed_rank(
        staged, [F.col("stage"), F.col("mix"), F.col("doc_id")],
        out_col="train_pos",
    )
    return ranked.select(
        "doc_id", "lang", "stage", F.col("train_pos").cast("long").alias("train_pos")
    )


@query(
    "q_graph_triangles",
    oracle="""
    WITH pc AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb,
               COUNT(DISTINCT a.l_orderkey) AS c
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ),
    e AS MATERIALIZED (SELECT pa, pb FROM pc WHERE c >= 2),
    tri AS (
        SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
        FROM e e1
        JOIN e e2 ON e1.pb = e2.pa
        JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    ),
    n AS (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    SELECT node, COUNT(*) AS triangles FROM n GROUP BY node
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle participation counts over the part co-purchase graph
    (edge = two parts sharing >= 2 distinct orders): the
    community-density primitive, counted with the degree-ordered wedge
    join (operators/triangles.py — every triangle enumerated exactly
    once at its lowest-(degree, id) corner, out-degrees bounded
    O(sqrt(m)) so hub skew cannot blow up the wedge stage at 100 TB).

    The oracle counts the same triangle set with the simple id-ordered
    3-way self-join — orientation changes the enumeration plan, never
    the triangle SET, so per-node counts hash-match exactly. All
    integer equi-joins + aggregations; no floats anywhere."""
    from fhir2sql_spark.operators.triangles import (
        cooccurrence_edges,
        triangle_counts,
    )

    li = load(spark, sf_dir, "lineitem")
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey", min_weight=2)
    return triangle_counts(edges.select("src", "dst"))


@query(
    "q_graph_jaccard",
    oracle="""
    WITH pc AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst,
               COUNT(DISTINCT a.l_orderkey) AS c
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ),
    e AS MATERIALIZED (SELECT src, dst FROM pc WHERE c >= 2),
    adj AS MATERIALIZED (
        SELECT src AS n, dst AS m FROM e
        UNION ALL SELECT dst AS n, src AS m FROM e
    ),
    deg AS (SELECT n, COUNT(*) AS deg FROM adj GROUP BY n),
    common AS (
      SELECT e.src, e.dst, COUNT(*) AS c
      FROM e JOIN adj a ON a.n = e.src
             JOIN adj b ON b.n = e.dst AND b.m = a.m
      GROUP BY e.src, e.dst
    )
    SELECT e.src, e.dst, CAST(COALESCE(c.c, 0) AS BIGINT) AS common,
           ROUND(CAST(COALESCE(c.c, 0) AS DOUBLE)
                 / CAST(ds.deg + dd.deg - COALESCE(c.c, 0) AS DOUBLE),
                 6) AS jaccard
    FROM e
    LEFT JOIN common c ON c.src = e.src AND c.dst = e.dst
    JOIN deg ds ON ds.n = e.src
    JOIN deg dd ON dd.n = e.dst
    """,
)
def q_graph_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood Jaccard per co-purchase edge — the classic
    link-prediction / edge-strength feature (|N(a) ∩ N(b)| over
    |N(a) ∪ N(b)| for every existing edge). The common-neighbor count
    of an edge is exactly its triangle count, so the Spark plan reuses
    the degree-ordered wedge enumeration (operators/triangles.py
    edge_jaccard): each triangle found once at its lowest-(deg, id)
    corner — O(m^1.5) total, hub-skew-proof — then credited to its
    three canonical edges; degrees join in for the union size. The
    oracle counts the same set via the naive adjacency-list join
    (enumeration plan differs, the SET cannot). The one double
    division runs over exact longs — IEEE-identical both sides."""
    from fhir2sql_spark.operators.triangles import (
        cooccurrence_edges,
        edge_jaccard,
    )

    li = load(spark, sf_dir, "lineitem")
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey", min_weight=2)
    out = edge_jaccard(edges.select("src", "dst"))
    return out.select(
        "src", "dst", "common", F.round("jaccard", 6).alias("jaccard")
    )


def _kcore_oracle(k: int = 3, rounds: int = 14) -> str:
    """Unrolled k-core peel, the q_graph_pagerank oracle technique:
    peeling is MONOTONE (once converged, further rounds are no-ops),
    so a fixed unroll >= the fixture's peeling depth computes the
    exact fixpoint. The sf0.01 co-purchase graph converges in 10
    rounds (tests assert the Spark side's actual round count fits the
    unroll); every stage is MATERIALIZED or DuckDB inlines the CTE
    chain exponentially."""
    parts = [
        """pc AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst,
               COUNT(DISTINCT a.l_orderkey) AS c
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ),
    e0 AS MATERIALIZED (SELECT src, dst FROM pc WHERE c >= 2)"""
    ]
    for i in range(rounds):
        parts.append(
            f"""b{i} AS MATERIALIZED (
        SELECT n FROM (
          SELECT n, COUNT(*) AS d
          FROM (SELECT src AS n FROM e{i} UNION ALL SELECT dst FROM e{i}) t
          GROUP BY n) dd
        WHERE d < {k}
    ),
    e{i + 1} AS MATERIALIZED (
        SELECT src, dst FROM e{i}
        WHERE src NOT IN (SELECT n FROM b{i})
          AND dst NOT IN (SELECT n FROM b{i})
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT n AS node, CAST(COUNT(*) AS BIGINT) AS deg
    FROM (SELECT src AS n FROM e{rounds} UNION ALL SELECT dst FROM e{rounds}) t
    GROUP BY n"""
    )


@query("q_graph_kcore", oracle=_kcore_oracle(k=3, rounds=14))
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the part co-purchase graph (Seidman's k-core — the
    dense-backbone primitive): iteratively peel vertices of degree
    < 3 until the fixpoint; emit survivors with their in-core degree.
    Spark side (operators/kcore.py) runs the true data-dependent
    fixpoint loop — per round one degree aggregate + two left-anti
    equi-joins, localCheckpointed so lineage stays flat (the
    pagerank/components iteration pattern); the oracle unrolls 14
    peel rounds, more than the fixture's 10-round depth, exact
    because peeling is monotone (converged rounds are no-ops). All
    integer counts — no floats anywhere."""
    from fhir2sql_spark.operators.kcore import kcore
    from fhir2sql_spark.operators.triangles import cooccurrence_edges

    li = load(spark, sf_dir, "lineitem")
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey", min_weight=2)
    # max_rounds = oracle unroll (14 peels) + the converged probe
    # round: if a deeper fixture ever needs a 15th peel, the Spark
    # side raises LOUDLY instead of silently hash-mismatching against
    # a not-yet-converged oracle edge set (ADVICE r5 — the unrolled
    # oracle is exact only while peeling depth <= its 14 rounds).
    return kcore(edges.select("src", "dst"), k=3, max_rounds=15).select(
        "node", F.col("deg").cast("long").alias("deg")
    )


@query(
    "q_graph_degree_dist",
    oracle="""
    WITH pc AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb,
               COUNT(DISTINCT a.l_orderkey) AS c
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ),
    e AS MATERIALIZED (SELECT pa, pb FROM pc WHERE c >= 2),
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
        FROM (SELECT pa AS node FROM e UNION ALL SELECT pb FROM e) n
        GROUP BY node
    )
    SELECT CAST(length(to_base(degree, 2)) AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           MIN(degree) AS min_deg, MAX(degree) AS max_deg
    FROM deg GROUP BY bucket
    """,
)
def q_graph_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-binned degree distribution of the co-purchase graph — the
    power-law diagnostic run before choosing a graph partitioning
    strategy (a heavy-tailed histogram means hub-aware algorithms like
    the degree-ordered wedge join in q_graph_triangles; a flat one
    means plain hash partitioning is fine). Shares q_graph_triangles'
    edge derivation (cooccurrence_edges, >= 2 common orders); degree =
    endpoint count over the undirected edge list; bucket =
    bit-length(degree) — pure integer (no libm), the q_text_lm_score
    convention, so every value hash-checks exactly. The histogram is
    vocabulary-sized: one edge aggregate + one node aggregate + a
    <=64-row bucket aggregate."""
    from fhir2sql_spark.operators.triangles import cooccurrence_edges

    li = load(spark, sf_dir, "lineitem")
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey", min_weight=2)
    deg = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.groupBy(
        F.length(F.bin("degree")).cast("int").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("degree").alias("min_deg"),
        F.max("degree").alias("max_deg"),
    )


@query(
    "q_dedup_cluster_select",
    oracle=f"""
    WITH RECURSIVE
    {_PAIRS_CTES},
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(node, label) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node
    ),
    comp AS (
        SELECT node, MIN(label) AS component_id FROM reach GROUP BY node
    ),
    q AS (
        SELECT doc_id,
               round(CASE WHEN len(string_split(text, ' ')) >= 10
                          THEN 0.4 ELSE 0.0 END
                   + CASE WHEN CAST(len(text) AS DOUBLE)
                               / greatest(len(string_split(text, ' ')), 1)
                               BETWEEN 3 AND 12
                          THEN 0.3 ELSE 0.0 END
                   + CASE WHEN CAST(len(text) - len(regexp_replace(
                                 text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
                               / greatest(len(text), 1) <= 0.1
                          THEN 0.3 ELSE 0.0 END, 1) AS quality_score
        FROM documents
    )
    SELECT c.node AS doc_id, c.component_id, q.quality_score,
           (ROW_NUMBER() OVER (PARTITION BY c.component_id
                               ORDER BY q.quality_score DESC, c.node) = 1)
               AS keep
    FROM comp c JOIN q ON q.doc_id = c.node
    """,
)
def q_dedup_cluster_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection per duplicate cluster — the dedup
    DECISION step q_dedup_components leaves open: within each
    transitive near-dup cluster keep the HIGHEST-QUALITY copy (banded
    quality score, ties -> lowest doc_id), not merely the first-seen.
    This is the policy real pipelines run (the cleanest crawl of a
    mirrored page wins, not the lexicographically first URL).

    Plan: the min-label components (distributed propagation,
    operators/components.py) joined to the scan-side quality features;
    the argmax is a component-partitioned window (clusters are small
    by construction — a giant cluster means the dedup threshold is
    wrong, which q_dedup_components' output already exposes). The
    oracle replays closure (recursive CTE), banded score, and window
    verbatim; the score is band-rounded to 1 dp so ties are exact on
    both engines."""
    docs = load(spark, sf_dir, "documents")
    from fhir2sql_spark.operators import text as text_ops
    from pyspark.sql import Window

    pairs = dedup.jaccard_pairs(docs, threshold_num=4, threshold_den=5)
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    q = text_ops.quality_features(docs).select("doc_id", "quality_score")
    j = comp.join(q, comp["node"] == q["doc_id"]).select(
        F.col("node").alias("doc_id"), "component_id", "quality_score"
    )
    w = Window.partitionBy("component_id").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    return j.withColumn("keep", F.row_number().over(w) == 1)


@query(
    "q_split_eval",
    oracle="""
    SELECT doc_id, lang,
           CASE WHEN h < 'cc' THEN 'train'
                WHEN h < 'e6' THEN 'val'
                ELSE 'test' END AS split
    FROM (
        SELECT doc_id, lang,
               substr(sha256(lang || '|' || CAST(doc_id AS VARCHAR)
                             || '|split'), 1, 2) AS h
        FROM documents
    )
    """,
)
def q_split_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified train/val/test assignment (~80/10/10
    by sha2 hex-prefix thresholds, salted with '|split' so it is
    independent of every other hash-derived decision in the pipeline):
    the split is a pure function of (lang, doc_id) — reproducible
    across engines, partitionings, and reruns, and documents never
    migrate between splits as the corpus grows (the property random
    splits lack). Stratification by lang comes free: within each lang
    the hash is uniform, so each stratum gets ~the same fractions.
    Zero shuffles — a scan-stage CASE (q_sample_hash discipline)."""
    d = load(spark, sf_dir, "documents")
    h = F.substring(
        F.sha2(
            F.concat(
                F.col("lang"), F.lit("|"),
                F.col("doc_id").cast("string"), F.lit("|split"),
            ),
            256,
        ),
        1,
        2,
    )
    return d.select(
        "doc_id",
        "lang",
        F.when(h < "cc", "train")
        .when(h < "e6", "val")
        .otherwise("test")
        .alias("split"),
    )
