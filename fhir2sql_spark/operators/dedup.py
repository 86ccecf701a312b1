"""Deduplication operators for training-data pipelines.

Exact dedup: normalize -> sha256 -> keep min doc_id per hash. One
shuffle on the 256-bit hash; at 100 TB the hash groupBy is uniform by
construction (no skew).

Near-dup (exact Jaccard): word 3-gram shingle sets, pairwise Jaccard
via a shingle-inverted-index self-join. Cost is O(pairs sharing a
shingle) — correct but quadratic in the worst case; it is the ORACLE
CONTRACT for the two hashed pipelines below.

Each hashed pipeline is written once and takes its hash as an
argument. A query passes either the xxhash64 form (one JVM intrinsic:
the cheap scale path) or the md5 form (a hex parse that Spark and
DuckDB compute bit-identically, so a SQL oracle can replay the whole
pipeline). The md5 run is oracle-checked; the xxhash64 run shares
every other line of code with it.

- MinHash-LSH: ``band_postings`` hashes each shingle to a 31-bit id
  (``sid``: ``xxhash_sid`` / ``md5_sid``), takes 32 affine
  permutation minima (seed 42), and folds each of 8 bands of 4 minima
  into one key (``band_key``: ``xxhash_band_key`` /
  ``concat_band_key``). ``minhash_pairs`` self-joins the postings
  within each language; ``minhash_inc_statuses`` probes a frozen,
  bucket-capped band index with a new batch. Both exact-verify their
  candidates at Jaccard >= 4/5. Hand-rolled rather than pyspark.ml's
  MinHashLSH so signatures are reproducible from the seed and stay
  pure column ops.
- SimHash: ``simhash_pairs`` packs a per-bit majority vote of the
  token hash (``hash_fn``, ``bits``) and finds Hamming <= 3 pairs
  through 4 pigeonhole segments of ``seg_bits`` bits.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fhir2sql_spark.operators.reuse import pin

# Mersenne prime 2^31-1: universal-hash modulus. Keeping the domain at
# 31 bits means a*x products stay under 2^62 — safe in JVM signed-64
# arithmetic with ANSI overflow checks on.
_P = (1 << 31) - 1

# MinHash-LSH shape shared by every caller (and replayed by the SQL
# oracles): 32 permutations from seed 42, banded 8 x 4, verified at
# Jaccard >= 4/5 over word 3-grams.
_NUM_HASHES = 32
_SEED = 42
_BANDS = 8
_ROWS_PER_BAND = 4

#: Injected MinHash hashes: shingle column -> 31-bit id, and
#: (band number, its 4 minima) -> band key.
SidFn = Callable[[Column], Column]
BandKeyFn = Callable[[int, Sequence[Column]], Column]


def normalize_text(col: F.Column) -> F.Column:
    """lower -> collapse whitespace -> trim (the q_dedup_exact norm)."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_dedup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct normalized text: (text_hash, keep_doc_id, n_docs)."""
    h = F.sha2(normalize_text(F.col(text_col)), 256)
    return (
        docs.select(F.col(id_col), h.alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def shingles(
    docs: DataFrame, n: int = 3, text_col: str = "text", distinct: bool = True
) -> DataFrame:
    """Word n-gram shingles per (doc_id, lang), distinct by default.

    ``distinct=False`` skips the dedup shuffle — correct for consumers
    that are multiset-insensitive (MinHash: min over a multiset equals
    min over its set), saving a full exchange of shingle strings.

    Guard: docs shorter than n words produce an empty set — expressed
    as a row FILTER (a filtered-out doc explodes to zero rows, same
    result as the old empty-array branch, and Spark's slice() with a
    non-positive length would error).

    Derivation is `arrays_zip(slice, slice, ...) + explode` with the
    concat running per exploded ROW, not a transform() lambda: HOF
    lambdas re-enter the interpreter per ELEMENT (two rounds of
    measurements — first the tokenization hoist, 8.9 s → 2.4 s at
    sf1, then eliminating the lambda entirely, 0.84 s → 0.24 s warm
    at sf0.1 — both on this explode), while zip+slice+explode+concat
    stay in whole-stage codegen end-to-end."""
    docs2 = docs.select(
        "doc_id", "lang", F.split(F.col(text_col), " ").alias("__toks")
    ).where(F.size("__toks") >= n)
    m = F.size("__toks") - (n - 1)
    zipped = F.arrays_zip(*[F.slice("__toks", i + 1, m) for i in range(n)])
    out = docs2.select("doc_id", "lang", F.explode(zipped).alias("__p")).select(
        "doc_id",
        "lang",
        F.concat_ws(" ", *[F.col(f"__p.{i}") for i in range(n)]).alias("shingle"),
    )
    return out.distinct() if distinct else out


def token_windows(
    docs: DataFrame, w: int, text_col: str = "text"
) -> DataFrame:
    """All consecutive w-token windows per document WITH their 0-based
    start position: (doc_id, pos, window). The positional sibling of
    ``shingles`` (same zip+slice+explode whole-stage-codegen derivation
    — no HOF lambda, no per-token explode) for consumers that need to
    map window hits back into the document: substring-level dedup span
    extraction, overlap localization. Docs shorter than w tokens emit
    zero rows (row filter, same guard as shingles)."""
    docs2 = docs.select(
        "doc_id", F.split(F.col(text_col), " ").alias("__toks")
    ).where(F.size("__toks") >= w)
    m = F.size("__toks") - (w - 1)
    zipped = F.arrays_zip(*[F.slice("__toks", i + 1, m) for i in range(w)])
    return docs2.select(
        "doc_id", F.posexplode(zipped).alias("pos", "__p")
    ).select(
        "doc_id",
        "pos",
        F.concat_ws(" ", *[F.col(f"__p.{i}") for i in range(w)]).alias("window"),
    )


def dup_window_spans(
    docs: DataFrame, w: int = 8, text_col: str = "text", hashed: bool = False
) -> DataFrame:
    """Maximal duplicated-substring spans (Lee et al. 2022 exact-
    substring dedup, re-expressed relationally): per document, every
    maximal token span all of whose w-token windows occur more than
    once in the corpus. Output (doc_id, span_start, span_len_tokens,
    n_windows) — exact integers.

    Plan: positional windows (token_windows) → corpus multiplicity
    attached via a partition-only window over the window key (ONE
    pass; an aggregate + join back re-derives every window under the
    join branch — the q_text_ngram_novelty round-5 lesson) →
    duplicated positions merged with gaps-and-islands (pos −
    row_number over the unique (doc_id, pos) order) → per-span rollup.
    Two shuffles: window key (uniform — mostly-unique windows), then
    doc_id.

    ``hashed=True`` is the 100 TB form: the multiplicity exchange
    carries xxhash64(window) — an 8-byte long — instead of the ~50-byte
    window string (same plan, ~6× narrower shuffle). Output is
    identical unless two DISTINCT windows collide in xxhash64 (would
    falsely mark both duplicated): probability ~n²/2⁶⁵, and
    deterministic for a given corpus — the fixture equality is
    asserted in tests, which is why the hashed form can share the
    raw form's exact oracle."""
    win = token_windows(docs, w=w, text_col=text_col)
    if hashed:
        # project the string away BEFORE the exchange — rekeying the
        # window alone would still ship the string through the shuffle
        win = win.select(
            "doc_id", "pos", F.xxhash64("window").alias("wkey")
        )
    else:
        win = win.withColumnRenamed("window", "wkey")
    marked = win.withColumn(
        "c", F.count(F.lit(1)).over(Window.partitionBy("wkey"))
    ).select("doc_id", "pos", "c")
    dup = marked.where(F.col("c") > 1).withColumn(
        "grp",
        F.col("pos")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
    )
    return (
        dup.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") - F.min("pos") + F.lit(w))
            .cast("long")
            .alias("span_len_tokens"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select("doc_id", "span_start", "span_len_tokens", "n_windows")
    )


def jaccard_pairs(docs: DataFrame, threshold_num: int, threshold_den: int, n: int = 3) -> DataFrame:
    """Exact pairwise Jaccard >= threshold within each lang.

    The threshold is applied in exact integer arithmetic
    (den*common >= num*union) — no float boundary; the emitted `jac`
    double is the IEEE ratio of exact ints (bit-stable cross-engine).

    The inverted-index self-join runs on xxhash64(lang, shingle)
    LONGS, not shingle strings: the shuffled posting payload drops
    from ~25 string bytes to 8, and the join/group compares are
    integer. Hash equality stands in for (lang, shingle) equality; a
    64-bit collision across the corpus' distinct shingles (birthday
    ~n^2/2^65) would perturb one `common` count — vanishing, and
    deterministic for a given corpus (the sf0.01 oracle gate
    re-verifies exact counts every round).
    """
    sh = (
        shingles(docs, n=n, distinct=False)
        .select("doc_id", F.xxhash64("lang", "shingle").alias("sid"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.select(F.col("sid"), F.col("doc_id").alias("doc_a"))
    b = sh.select(F.col("sid").alias("sid_b"), F.col("doc_id").alias("doc_b"))
    common = (
        a.join(b, (a.sid == b.sid_b) & (a.doc_a < b.doc_b))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b")
    )
    out = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("union_n", F.col("size_a") + F.col("size_b") - F.col("common"))
        .where(
            F.col("common") * threshold_den >= F.col("union_n") * threshold_num
        )
    )
    return out.select(
        "doc_a",
        "doc_b",
        "common",
        "union_n",
        (F.col("common").cast("double") / F.col("union_n").cast("double")).alias(
            "jac"
        ),
    )


def verify_candidate_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    threshold_num: int,
    threshold_den: int,
    n: int = 3,
    containment: bool = False,
) -> DataFrame:
    """Exact-Jaccard verification restricted to candidate pairs.

    With ``containment=True`` the filter becomes the DIRECTED
    predicate |Sa ∩ Sb| * den >= |Sa| * num (doc_a mostly inside
    doc_b — the containment_pairs formulation); the emitted ``jac``
    column still reports the Jaccard ratio, callers that need the
    containment ratio derive it from common / |Sa|.

    This is the second half of the LSH pipeline: per-doc shingle SETS
    (collect_set, one shuffle) joined to the (tiny) candidate list on
    both sides, intersection via array_intersect — cost O(candidates),
    never O(all pairs). Output contract matches jaccard_pairs.

    Sets hold shingle STRINGS here, unlike jaccard_pairs' hashed
    postings: with the broadcast semi-join pruning to candidate docs
    before the explode, the set build is tiny either way, and the
    measured string form beats a hash-projected variant (the extra
    projection blocked the semi-join pushdown below the generate)."""
    # The candidate list is referenced three times below (both sides
    # of the doc-id union + the final broadcast join); without a
    # lineage barrier the whole upstream LSH pipeline re-executes for
    # each reference. Candidates are tiny by construction — pin them.
    candidates = pin(candidates)
    cand_docs = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .unionByName(candidates.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # only docs that actually collided build shingle sets — the
    # collect_set shuffle carries O(candidate docs), not O(corpus)
    sets = (
        shingles(docs, n=n)
        .join(F.broadcast(cand_docs), "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("sh_set"))
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("set_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("set_b"))
    joined = (
        F.broadcast(candidates.select("doc_a", "doc_b"))
        .join(sa, "doc_a")
        .join(sb, "doc_b")
    )
    scored = joined.withColumn(
        "common", F.size(F.array_intersect("set_a", "set_b"))
    ).withColumn(
        "union_n", F.size("set_a") + F.size("set_b") - F.col("common")
    )
    if containment:
        out = scored.where(
            F.col("common") * threshold_den
            >= F.size("set_a") * threshold_num
        )
    else:
        out = scored.where(
            F.col("common") * threshold_den
            >= F.col("union_n") * threshold_num
        )
    return out.select(
        "doc_a",
        "doc_b",
        "common",
        "union_n",
        (F.col("common").cast("double") / F.col("union_n").cast("double")).alias(
            "jac"
        ),
    )


def _minhash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a*x + b) mod P."""
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, _P), rng.randrange(0, _P)) for _ in range(num_hashes)]


def md5_60(col: Column) -> Column:
    """The first 15 hex digits of md5(col) as a 60-bit integer: the
    portable hash. Spark's conv(., 16, 10) and DuckDB's hex parse
    yield the same value, so oracles can replay it."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def xxhash_sid(shingle: Column) -> Column:
    """31-bit shingle id from xxhash64 (engine-specific, cheapest)."""
    return F.pmod(F.xxhash64(shingle), F.lit(_P))


def md5_sid(shingle: Column) -> Column:
    """31-bit shingle id from ``md5_60`` (portable, oracle-replayable).
    One md5 per (doc, shingle) row, not one per permutation."""
    return F.pmod(md5_60(shingle), F.lit(_P))


def xxhash_band_key(band: int, rows: Sequence[Column]) -> Column:
    """One 8-byte key per band: xxhash64(band, rows...), lighter to
    shuffle and store than ``concat_band_key``'s ~40-character string.
    A collision only adds a candidate, which exact verification
    rejects."""
    return F.xxhash64(F.lit(band), *rows)


def concat_band_key(band: int, rows: Sequence[Column]) -> Column:
    """The band's minima as a decimal string "h1,h2,h3,h4" — the key
    the SQL oracles build with string_agg."""
    return F.concat_ws(",", *[c.cast("string") for c in rows])


def band_postings(
    docs: DataFrame, sid: SidFn, band_key: BandKeyFn, *, by_lang: bool = False
) -> DataFrame:
    """MinHash-LSH band postings: (doc_id, band, bkey), one row per
    document and band; ``by_lang`` adds the doc's lang column for the
    per-language pair join.

    Shingle ids come from ``sid``; each permutation h_i(x) = (a*x + b)
    mod (2^31 - 1) takes a min-aggregate, all map-side partial, one
    shuffle on doc_id, no Python on row data. Shingles are not
    deduplicated first: the min over a multiset equals the min over
    its set. ``band_key`` folds each band's 4 minima into one key."""
    keys = ["doc_id", "lang"] if by_lang else ["doc_id"]
    sh = shingles(docs, n=3, distinct=False).select(
        *keys, sid(F.col("shingle")).alias("__sid")
    )
    mins = [
        F.min((F.col("__sid") * F.lit(a) + F.lit(b)) % F.lit(_P)).alias(f"h{i}")
        for i, (a, b) in enumerate(_minhash_params(_NUM_HASHES, _SEED))
    ]
    sig = sh.groupBy(*keys).agg(*mins)
    r = _ROWS_PER_BAND
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            band_key(b, [F.col(f"h{i}") for i in range(b * r, (b + 1) * r)])
            .alias("bkey"),
        )
        for b in range(_BANDS)
    ]
    return sig.select(*keys, F.explode(F.array(*bands)).alias("__b")).select(
        *keys, "__b.band", "__b.bkey"
    )


def minhash_pairs(
    docs: DataFrame,
    sid: SidFn,
    band_key: BandKeyFn,
) -> DataFrame:
    """Near-dup pairs by MinHash-LSH: documents of one language that
    share a (band, bkey) bucket become candidates, which are verified
    at exact Jaccard >= 4/5. Same output contract as jaccard_pairs,
    at O(docs x bands) instead of O(shingle pairs)."""
    banded = band_postings(docs, sid, band_key, by_lang=True)
    a = banded.withColumnRenamed("doc_id", "doc_a")
    b = banded.withColumnRenamed("doc_id", "doc_b")
    cands = (
        a.join(b, ["lang", "band", "bkey"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return verify_candidate_pairs(docs, cands, threshold_num=4, threshold_den=5)


#: Per-(band, bkey) posting cap for the incremental LSH probe (the
#: winnow max_df lesson applied to band buckets). A boilerplate
#: mega-cluster puts n docs into ONE bucket; uncapped, a probe against
#: it fans out n_batch x n_index candidate rows before the distinct.
#: Keeping only the cap's smallest doc_ids per bucket per side bounds
#: fan-out at O(batch x bands x cap). Statuses are preserved for
#: TRUE-duplicate mega-clusters (every kept posting is a mutual
#: near-dup of the dropped ones — the planted-cluster test in
#: tests/test_dedup_lsh.py); in a COLLISION-polluted bucket (band
#: agreement without true similarity filling the 64 slots) a batch doc
#: whose sole true near-dup ranks past the cap flips to 'new' — the
#: same caveat class as LSH banding itself. Oracle parity is
#: unaffected: the md5 oracle replays the cap with ROW_NUMBER() OVER
#: (PARTITION BY band, bkey, side).
_INC_BUCKET_CAP = 64


def _cap_bucket_postings(banded: DataFrame) -> DataFrame:
    """Keep the _INC_BUCKET_CAP smallest doc_ids per (band, bkey).

    Callers apply it per SIDE (index / batch) so the rank is
    deterministic and SQL-replayable. The window shuffles on the key
    the probe join uses, so at scale it rides the join's exchange."""
    w = Window.partitionBy("band", "bkey").orderBy("doc_id")
    return (
        banded.withColumn("__pr", F.row_number().over(w))
        .where(F.col("__pr") <= _INC_BUCKET_CAP)
        .drop("__pr")
    )


def _minhash_inc_candidates(
    nb: DataFrame, idx: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Band-collision candidates of the incremental MinHash dedup:
    the UNCAPPED batch postings ``nb`` probe the (already capped)
    index ``idx`` and the batch's own capped postings. Shared by the
    registered queries and the stored-index probe
    (operators/frozen_index.py)."""
    a = nb.select("band", "bkey", F.col("doc_id").alias("doc_a"))

    def probe(side: DataFrame) -> DataFrame:
        return a.join(
            side.select("band", "bkey", F.col("doc_id").alias("doc_b")),
            ["band", "bkey"],
        )

    cand_corpus = probe(idx).select("doc_a", "doc_b").distinct()
    cand_batch = (
        probe(_cap_bucket_postings(nb))
        .where(F.col("doc_b") < F.col("doc_a"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return cand_corpus, cand_batch


def minhash_inc_statuses(
    docs: DataFrame,
    sid: SidFn,
    band_key: BandKeyFn,
) -> DataFrame:
    """Incremental MinHash-LSH dedup of a new batch (doc_id % 3 = 0)
    against a frozen band index of the rest: (doc_id, status) with
    status dup_corpus / dup_batch (min-id keeper) / new.

    The index is the corpus' band postings, stop-bucket-capped; the
    batch probes it with an equi-join on (band, bkey), candidates are
    exact-verified at Jaccard >= 4/5, and ``_classify_new_batch``
    assigns statuses. Unlike ``minhash_pairs`` the postings carry no
    language, so the probe matches across languages. Per-ingest cost is O(batch postings + collisions): the
    corpus is touched only through the (band, bkey) equi-join and the
    candidate-restricted verify, and an index stored bucketed by
    (band, bkey) is read with no exchange
    (operators/frozen_index.py)."""
    banded = band_postings(docs, sid, band_key)
    is_new = F.col("doc_id") % 3 == 0
    idx = _cap_bucket_postings(banded.where(~is_new))
    cand_corpus, cand_batch = _minhash_inc_candidates(banded.where(is_new), idx)
    return _classify_new_batch(docs, cand_corpus, cand_batch)


def _classify_new_batch(
    docs: DataFrame,
    cand_corpus: DataFrame,
    cand_batch: DataFrame,
    threshold_num: int = 4,
    threshold_den: int = 5,
    n: int = 3,
    containment: bool = False,
) -> DataFrame:
    """Shared tail of the incremental pairwise dedups (MinHash,
    set-similarity, containment — each passes its own threshold and
    shingle width): exact-verify the (doc_a = batch, doc_b)
    candidates, then classify every batch doc in ONE flags rollup —
    referencing the verified list
    twice would re-execute the whole verify pipeline (2 corpus shingle
    passes) per reference.

    The flags join is a PLAIN doc_id equi-join on purpose (VERDICT r8
    #1): flags holds one row per batch doc with a verified collision —
    O(batch x dup-rate), not O(constant) — so a forced broadcast would
    grow with the ingest straight into the 8 GB broadcast ceiling on a
    dup-heavy crawl. AQE still elects a broadcast when flags is
    genuinely small (the fixture case); with elective broadcasts
    disabled it degrades to a probe-sized shuffle, never a
    driver-sized build map (pinned in tests/test_frozen_probe.py) —
    the same discipline q_dedup_incremental's classification uses."""
    ver = verify_candidate_pairs(
        docs,
        cand_corpus.unionByName(cand_batch),
        threshold_num,
        threshold_den,
        n=n,
        containment=containment,
    )
    flags = ver.groupBy(F.col("doc_a").alias("doc_id")).agg(
        F.max((F.col("doc_b") % 3 != 0).cast("int")).alias("hit_corpus"),
        F.max((F.col("doc_b") % 3 == 0).cast("int")).alias("hit_batch"),
    )
    return (
        docs.where(F.col("doc_id") % 3 == 0)
        .select("doc_id")
        .join(flags, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("hit_corpus") == 1, F.lit("dup_corpus"))
            .when(F.col("hit_batch") == 1, F.lit("dup_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


def ngram_contamination(
    corpus: DataFrame, benchmark: DataFrame, n: int = 5
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing >= 1 word
    n-gram with any benchmark document (the standard eval-leakage scan
    before training).

    Shape chosen for 100 TB: the benchmark side is small by definition
    (eval suites are thousands of docs, not billions), so its distinct
    n-gram set is BROADCAST — the corpus side streams through a
    broadcast hash join with no shuffle of corpus data; the only
    exchange is the final per-doc count on doc_id. Lang is ignored:
    contamination across languages still counts.

    Emits one row per contaminated corpus doc:
    (doc_id, n_matched_grams = distinct shared n-grams)."""
    bench_grams = (
        shingles(benchmark, n=n, distinct=True)
        .select(F.col("shingle").alias("gram"))
        .distinct()
    )
    corpus_grams = shingles(corpus, n=n, distinct=True).select(
        "doc_id", F.col("shingle").alias("gram")
    )
    return (
        corpus_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matched_grams"))
    )


def simhash(
    docs: DataFrame, text_col: str = "text", bits: int = 64, hash_fn=None
) -> DataFrame:
    """64-bit SimHash over word features: per-bit majority vote of
    xxhash64(token). Expressed as explode -> per-bit sums -> pack;
    entirely JVM-side column math, one shuffle on doc_id.

    ``hash_fn`` (Column -> Column) swaps the token hash — used by the
    portable verification twin (md5-prefix hash both engines compute
    identically); default stays xxhash64, the cheap scale path."""
    hf = hash_fn if hash_fn is not None else F.xxhash64
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).withColumn("th", hf(F.col("tok")))
    # r11: per-bit ONES counts instead of ±1 vote sums. The majority
    # predicate is algebraically identical (vote sum = 2*ones - n, so
    # vote > 0 <=> 2*ones > n — exact integers, same ties), but each
    # of the ``bits`` aggregate updates codegens to a branch-free
    # buf += (th >> i) & 1 instead of a CASE WHEN, and the generated
    # HashAggregate method shrinks enough that Janino compilation
    # stops dominating the query (measured: ~2.5 s driver-side per
    # execution at 64 CASE aggregates; the compile was re-paid on
    # every run because the suite's churn evicts the codegen cache).
    one = F.lit(1).cast("long")
    bit_sums = toks.groupBy("doc_id").agg(
        F.count(one).alias("__n"),
        *[
            F.sum(F.shiftright(F.col("th"), i).bitwiseAND(one)).alias(f"b{i}")
            for i in range(bits)
        ],
    )
    packed = bit_sums.select(
        "doc_id",
        sum(
            [
                F.when(
                    F.col(f"b{i}") * 2 > F.col("__n"),
                    F.lit(1).cast("long") * (1 << i),
                ).otherwise(F.lit(0).cast("long"))
                for i in range(bits - 1)  # top bit excluded: keep value positive
            ],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )
    return packed


def simhash_pairs(
    docs: DataFrame,
    hash_fn: Callable[[Column], Column],
    bits: int,
    seg_bits: int,
) -> DataFrame:
    """Near-dup pairs by SimHash: (doc_a, doc_b, hamming) with
    doc_a < doc_b and Hamming distance <= 3 between their ``simhash``
    values (token hash ``hash_fn``, ``bits`` as in ``simhash``).

    Pigeonhole banding: the low 4 * ``seg_bits`` bits split into 4
    segments, and any pair within distance 3 agrees exactly on at
    least one of them. Candidates therefore come from an equi-join on
    (segment number, segment value), never from all pairs."""
    sh = simhash(docs, bits=bits, hash_fn=hash_fn)
    mask = F.lit((1 << seg_bits) - 1)
    segs = F.array(
        *[F.shiftright("simhash", i * seg_bits).bitwiseAND(mask) for i in range(4)]
    )
    seg = sh.select("doc_id", "simhash", F.posexplode(segs).alias("seg_no", "seg"))
    a = seg.select(
        "seg_no", "seg", F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a")
    )
    b = seg.select(
        "seg_no", "seg", F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b")
    )
    return (
        a.join(b, ["seg_no", "seg"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .distinct()
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
            .cast("long")
            .alias("hamming"),
        )
        .where(F.col("hamming") <= 3)
    )


def setsim_pairs(
    docs: DataFrame,
    threshold_num: int,
    threshold_den: int,
    n: int = 2,
) -> DataFrame:
    """Exact set-similarity join via PREFIX FILTERING (the
    AllPairs/PPJoin family: Bayardo, Ma & Srikant WWW'07; Xiao et al.
    ICDE'08): every doc pair with shingle-set Jaccard >=
    threshold_num/threshold_den, WITHOUT the inverted index's full
    O(pairs-sharing-any-token) blow-up.

    The completeness guarantee: order all tokens by one global total
    order (rarest-first document frequency, tie-broken on the token
    id); if J(A, B) >= t then A and B must share a token among each
    side's first |S| - ceil(t*|S|) + 1 tokens — so equi-joining ONLY
    those prefixes finds every qualifying pair. Rarest-first makes
    prefixes maximally selective: a token's candidate contribution is
    C(df, 2) over its PREFIX df, and the frequent tokens (the
    quadratic mass) sit at the ends of the order, outside every
    prefix.

    Plan shape (the first rendering materialized a global integer
    rank and joined it back through string keys — lineage
    re-execution plus ~40-byte shuffle payloads made it 12x slower
    at sf10; the second checkpointed the FULL (doc_id, sid) table,
    which at sf100 is ~600 M rows and pushed the decade to 10.4x —
    the checkpoint blew past page cache, VERDICT r5 §Performance):

      - shingles are hashed ONCE to xxhash64(lang, shingle) longs and
        the pipeline is LINEAR — document frequency is a count() over
        a __sid-partitioned WINDOW (not a groupBy + self-join: the
        join form re-ran the whole scan+explode+distinct on its
        second branch because ReuseExchange doesn't unify a final
        distinct aggregate with a distinct-then-count subtree, and
        the join added two more exchanges; measured 24 s vs 8 s at
        sf1), so the big table flows scan -> distinct -> sid-window
        -> docid-window with exactly three exchanges and no branch;
      - per-doc set size is a count() over the SAME doc_id window
        partitioning the prefix row_number — no separate sizes
        aggregate, no third consumer, no extra shuffle;
      - only the PREFIX slice is checkpointed: at t = num/den it is
        ~(1 - t)·|S| + 1 of each doc's tokens (~5x smaller at 0.8),
        and it is the only table read twice at candidate time (both
        sides of the self-join);
      - no rank table at all: (df, sid) IS the total order, so the
        per-doc prefix window orders by the joined df directly and
        candidates equi-join on the sid long;
      - exact verification restricted to candidates
        (verify_candidate_pairs above) re-derives sets from the
        original shingle STRINGS of the scan, so the output is exact
        regardless of hashing and never reads the checkpoint.

    Prefix lengths use pure integer arithmetic (ceil(t*s) =
    (s*num + den - 1) div den) — no float threshold boundary exists
    anywhere. Hash-equality-as-identity carries jaccard_pairs'
    convention: a 64-bit collision (birthday ~n^2/2^65 over the
    corpus' distinct shingles) could merge two tokens in the FILTER's
    view — almost always only adding false candidates the string
    verify rejects; the oracle gate re-verifies exact output every
    round. Token identity is (lang, shingle) — pairs are
    within-language by construction. Output contract matches
    jaccard_pairs/verify_candidate_pairs:
    (doc_a, doc_b, common, union_n, jac)."""
    # ONE explicit sid exchange serves the (doc, sid) distinct
    # aggregate AND the df window: hash(__sid) satisfies
    # ClusteredDistribution for the (sid, doc) grouping and for the
    # sid window partition, so neither plans its own exchange — two
    # big exchanges total (sid here, doc_id below) instead of the
    # three the planner-placed distinct needed. shingles() runs with
    # distinct=False (the (sid, doc) aggregate IS the dedup; its
    # default string-keyed distinct would add the third exchange
    # back, on wide (doc, lang, shingle) keys no less). The raw
    # shingle stream is near-distinct per doc anyway, so losing
    # map-side combine ahead of the sid exchange costs almost
    # nothing (verified: 2 exchanges in the pref plan).
    sh = (
        shingles(docs, n=n, distinct=False)
        .select("doc_id", F.xxhash64("lang", "shingle").alias("__sid"))
        .repartition(F.col("__sid"))
        .groupBy("__sid", "doc_id")
        .agg(F.lit(1))
        .select("doc_id", "__sid")
    )
    toks = sh.withColumn(
        "__df", F.count(F.lit(1)).over(Window.partitionBy("__sid"))
    )
    w = Window.partitionBy("doc_id").orderBy("__df", "__sid")
    w_size = Window.partitionBy("doc_id")
    prefix_len = (
        F.col("__s")
        - F.expr(
            f"(__s * {threshold_num} + {threshold_den} - 1) "
            f"div {threshold_den}"
        )
        + 1
    )
    pref = pin(
        toks.withColumn("__s", F.count(F.lit(1)).over(w_size))
        .withColumn("__pos", F.row_number().over(w))
        .where(F.col("__pos") <= prefix_len)
        .select("doc_id", "__sid")
    )
    a = pref.select(F.col("__sid"), F.col("doc_id").alias("doc_a"))
    b = pref.select(
        F.col("__sid").alias("__sid_b"), F.col("doc_id").alias("doc_b")
    )
    cand = (
        a.join(
            b,
            (a["__sid"] == b["__sid_b"])
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    return verify_candidate_pairs(
        docs, cand, threshold_num, threshold_den, n=n
    )


def containment_pairs(
    docs: DataFrame,
    threshold_num: int,
    threshold_den: int,
    n: int = 2,
) -> DataFrame:
    """Exact DIRECTED set-containment join: every ordered doc pair
    (a, b) with |Sa ∩ Sb| >= t·|Sa| (a's shingle set mostly inside
    b's) — the asymmetric cousin of setsim_pairs' Jaccard join, and
    the right primitive for doc-inside-doc detection (quotes, mirrored
    sections, near-supersets), where Jaccard is diluted by the larger
    side (the JOSIE/PPJoin containment formulation).

    Asymmetric prefix filter: if |A∩B| >= ceil(t|A|), then A has at
    most |A| - ceil(t|A|) tokens outside B, so among A's first
    |A| - ceil(t|A|) + 1 tokens under ANY global order at least one is
    in B — the SAME prefix length as the Jaccard filter, but the probe
    prefix joins the index side's FULL postings (containment says
    nothing about |B|, so B cannot be prefix-pruned; that asymmetry is
    inherent — JOSIE prunes further with positional upper bounds,
    a refinement this fixture's ~27-token sets never need). Rarity
    order (df, sid) keeps the probe prefixes selective exactly as in
    setsim_pairs, and the full-postings side never shuffles more than
    setsim's verify stage already does.

    Same linear window pipeline as setsim_pairs (one distinct, df via
    sid-window, size + row_number via doc-window, prefix slice
    checkpointed); exact verification re-derives sets from shingle
    STRINGS. Output: (doc_a, doc_b, common, size_a,
    containment = common/|Sa| as the IEEE ratio of exact longs),
    doc_a != doc_b, both directions possible."""
    # same 2-exchange prefix pipeline as setsim_pairs (one explicit
    # sid exchange shared by the distinct aggregate and the df
    # window; shingles' own distinct suppressed — the comment there)
    sh = (
        shingles(docs, n=n, distinct=False)
        .select("doc_id", F.xxhash64("lang", "shingle").alias("__sid"))
        .repartition(F.col("__sid"))
        .groupBy("__sid", "doc_id")
        .agg(F.lit(1))
        .select("doc_id", "__sid")
    )
    toks = sh.withColumn(
        "__df", F.count(F.lit(1)).over(Window.partitionBy("__sid"))
    )
    w = Window.partitionBy("doc_id").orderBy("__df", "__sid")
    w_size = Window.partitionBy("doc_id")
    prefix_len = (
        F.col("__s")
        - F.expr(
            f"(__s * {threshold_num} + {threshold_den} - 1) "
            f"div {threshold_den}"
        )
        + 1
    )
    pref = pin(
        toks.withColumn("__s", F.count(F.lit(1)).over(w_size))
        .withColumn("__pos", F.row_number().over(w))
        .where(F.col("__pos") <= prefix_len)
        .select("doc_id", "__sid")
    )
    a = pref.select(F.col("__sid"), F.col("doc_id").alias("doc_a"))
    # index side: FULL postings (containment cannot prune B) — taken
    # from the RAW hashed shingle stream, not the deduplicated sh:
    # per-doc duplicate sids only produce duplicate candidate pairs,
    # which the pair-level distinct absorbs, so the index side needs
    # NO aggregate at all (map-side scan+explode+hash straight into
    # the join's sid exchange; re-running sh's repartition+groupBy
    # here measured 181 s of the containment candidate stage at
    # sf100 — the raw form is one exchange of near-identical row
    # count with zero aggregation).
    b = (
        shingles(docs, n=n, distinct=False)
        .select(
            F.xxhash64("lang", "shingle").alias("__sid_b"),
            F.col("doc_id").alias("doc_b"),
        )
    )
    cand = pin(
        a.join(
            b,
            (a["__sid"] == b["__sid_b"])
            & (F.col("doc_a") != F.col("doc_b")),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sets = (
        shingles(docs, n=n)
        .join(F.broadcast(cand_docs), "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("sh_set"))
    )
    sa = sets.select(
        F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("set_a")
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("set_b")
    )
    joined = (
        F.broadcast(cand)
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("set_a", "set_b")).alias("common"),
            F.size("set_a").alias("size_a"),
        )
    )
    return joined.where(
        F.col("common") * threshold_den >= F.col("size_a") * threshold_num
    ).select(
        "doc_a",
        "doc_b",
        F.col("common").cast("long"),
        F.col("size_a").cast("long"),
        (
            F.col("common").cast("double") / F.col("size_a").cast("double")
        ).alias("containment"),
    )


def _inc_prefix_postings(
    docs: DataFrame,
    threshold_num: int,
    threshold_den: int,
    n: int,
) -> DataFrame:
    """Shared prologue of the r9 incremental prefix-filter dedups:
    per-doc rarity-ordered prefixes under the FROZEN corpus token
    order.

    The stored index's total order is (corpus document frequency,
    sid): df here is counted over the corpus shard ONLY — a
    conditional count over the same sid window setsim_pairs uses, so
    in one pass every token (corpus AND batch rows) carries the
    frozen statistic, and tokens the index has never seen rank df=0
    (rarest — they cannot hit the corpus index anyway, but order
    batch-batch prefixes). Prefix completeness holds under ANY fixed
    total order (Bayardo et al.'s theorem never uses rarity, only
    consistency), which is what makes the frozen order sound: rarity
    only buys selectivity, and a STALE rarity profile degrades speed,
    never recall — the drift monitor (q_diag_codebook_drift's role
    for the semantic index) tells you when to re-rank.

    Completeness is in SID space (ADVICE r9): |S| and prefix lengths
    are counted over xxhash64-distinct shingle ids while verification
    counts raw shingle strings, so the no-recall-caveat claim holds
    modulo a within-doc 64-bit hash collision (~2^-64 per shingle
    pair — negligible; a collision can only SHORTEN a prefix).

    Plan: the same 2-big-exchange linear pipeline as setsim_pairs
    (one explicit sid exchange shared by the distinct aggregate and
    the df window, one doc_id exchange for the size+prefix windows).
    Callers pin the returned prefix slice — it is the stored-index
    stand-in, read once as the corpus side and twice as the batch
    probe."""
    sh = (
        shingles(docs, n=n, distinct=False)
        .select("doc_id", F.xxhash64("lang", "shingle").alias("__sid"))
        .repartition(F.col("__sid"))
        .groupBy("__sid", "doc_id")
        .agg(F.lit(1))
        .select("doc_id", "__sid")
    )
    toks = sh.withColumn(
        "__df",
        F.count(F.when(F.col("doc_id") % 3 != 0, F.lit(1))).over(
            Window.partitionBy("__sid")
        ),
    )
    w = Window.partitionBy("doc_id").orderBy("__df", "__sid")
    w_size = Window.partitionBy("doc_id")
    prefix_len = (
        F.col("__s")
        - F.expr(
            f"(__s * {threshold_num} + {threshold_den} - 1) "
            f"div {threshold_den}"
        )
        + 1
    )
    return (
        toks.withColumn("__s", F.count(F.lit(1)).over(w_size))
        .withColumn("__pos", F.row_number().over(w))
        .where(F.col("__pos") <= prefix_len)
        .select("doc_id", "__sid")
    )


def _setsim_inc_candidates(
    batch_pref: DataFrame, corpus_pref: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Candidate generation of the incremental set-similarity dedup,
    factored so the registered query (in-query index rebuild) and the
    STORED-index probe path (operators/frozen_index.py, VERDICT r9
    #2) run the identical joins: batch prefixes vs corpus prefix
    postings on the token sid, plus the within-batch prefix
    self-join under the min-id order."""
    pb = batch_pref.select("__sid", F.col("doc_id").alias("doc_a"))
    pc = corpus_pref.select(
        F.col("__sid").alias("__sid_b"), F.col("doc_id").alias("doc_b")
    )
    bb = batch_pref.select(
        F.col("__sid").alias("__sid_b"), F.col("doc_id").alias("doc_b")
    )
    cand_corpus = (
        pb.join(pc, F.col("__sid") == F.col("__sid_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    cand_batch = (
        pb.join(
            bb,
            (F.col("__sid") == F.col("__sid_b"))
            & (F.col("doc_b") < F.col("doc_a")),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    return cand_corpus, cand_batch


def _containment_inc_candidates(
    batch_pref: DataFrame,
    corpus_full: DataFrame,
    batch_full: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Candidate generation of the incremental containment dedup,
    factored for the stored-index probe path (VERDICT r9 #2): the
    prefix-pruned batch side probes the corpus FULL posting index and
    the batch's own full postings (min-id order). ``corpus_full`` /
    ``batch_full`` carry (__sid_b, doc_b)."""
    pb = batch_pref.select("__sid", F.col("doc_id").alias("doc_a"))
    cand_corpus = (
        pb.join(corpus_full, F.col("__sid") == F.col("__sid_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    cand_batch = (
        pb.join(
            batch_full,
            (F.col("__sid") == F.col("__sid_b"))
            & (F.col("doc_b") < F.col("doc_a")),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    return cand_corpus, cand_batch
