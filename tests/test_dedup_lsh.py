"""Hashed near-dup pipelines of operators/dedup.py: MinHash-LSH
(band postings, pair self-join, incremental probe with its bucket cap)
and SimHash.

Each pipeline is registered twice, with an md5 hash whose SQL oracle
replays it end to end (test_oracle_parity) and with xxhash64. These
tests pin what the oracles cannot: recall and status equality of the
xxhash64 runs against exact answers and against the md5 runs, and the
fan-out bound of the bucket cap under adversarial duplication.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fhir2sql_spark import registry
from fhir2sql_spark.operators import dedup
from fhir2sql_spark.operators.dedup import _INC_BUCKET_CAP, _cap_bucket_postings
from fhir2sql_spark.tables import load

registry.load_all()

BOILER = (
    "terms of service apply to this page please read carefully "
    "before continuing to use the website"
)


@pytest.fixture(scope="module")
def megacluster_dir(spark, tmp_path_factory):
    """A documents table where 240 of 300 docs are byte-identical
    boilerplate (ONE LSH bucket per band holds 240 postings) and 60
    are unique — planted in the fixture layout load() expects."""
    rows = []
    for i in range(240):
        rows.append((i, BOILER, "en", "web", len(BOILER)))
    for j in range(60):
        i = 240 + j
        text = (
            f"unique document number {j} speaks about topic {j * 7} "
            f"with entirely distinct content alpha{j} beta{j} gamma{j}"
        )
        rows.append((i, text, "en", "web", len(text)))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = tmp_path_factory.mktemp("megacluster")
    df.coalesce(1).write.parquet(str(d / "documents.parquet"))
    return str(d)


# ------------------------------------------------------------ MinHash-LSH


def test_minhash_lsh_recall_vs_exact(spark, sf_dir):
    """Verification is exact, so the verified pairs are the exact pairs
    among the LSH candidates: their share of all exact pairs is the
    candidate recall."""
    docs = load(spark, sf_dir, "documents")
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.jaccard_pairs(docs, 4, 5).collect()
    }
    cands = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_pairs(
            docs, dedup.xxhash_sid, dedup.xxhash_band_key
        ).collect()
    }
    if exact:
        recall = len(exact & cands) / len(exact)
        # jac>=0.8 pairs collide in >=1 of 8 bands w.p. ~1-(1-0.8^4)^8 ≈ 0.985
        assert recall >= 0.75, f"LSH recall {recall} too low; {exact - cands}"


def test_minhash_band_postings_deterministic(spark, sf_dir):
    """Band postings are a pure function of the text and the injected
    hashes: two runs agree, and a different shingle hash changes them."""
    docs = load(spark, sf_dir, "documents").limit(20)

    def postings(sid):
        rows = dedup.band_postings(docs, sid, dedup.xxhash_band_key).collect()
        return {(r["doc_id"], r["band"]): r["bkey"] for r in rows}

    s1 = postings(dedup.xxhash_sid)
    assert s1 == postings(dedup.xxhash_sid)
    assert s1 != postings(dedup.md5_sid)


def test_minhash_inc_statuses_are_sound(spark, sf_dir):
    out = {
        r["doc_id"]: r["status"]
        for r in registry.QUERIES["q_dedup_minhash_inc"](
            spark, sf_dir
        ).collect()
    }
    docs = load(spark, sf_dir, "documents")
    new_ids = {
        r["doc_id"]
        for r in docs.where(F.col("doc_id") % 3 == 0)
        .select("doc_id")
        .collect()
    }
    assert set(out) == new_ids  # every batch doc classified exactly once
    # ground truth: ALL exact-Jaccard >= 4/5 pairs, language-agnostic
    # (the query dedups across langs, unlike jaccard_pairs' per-lang
    # contract), brute-forced in the driver at this fixture size
    sets: dict[int, set] = {}
    for r in dedup.shingles(docs, n=3, distinct=True).collect():
        sets.setdefault(r["doc_id"], set()).add(r["shingle"])
    pairs = []
    for a in sorted(sets):
        for b in sorted(sets):
            if a >= b:
                continue
            c = len(sets[a] & sets[b])
            u = len(sets[a] | sets[b])
            if u and c * 5 >= u * 4:
                pairs.append((a, b))
    truth_corpus, truth_batch = set(), set()
    for a, b in pairs:
        for x, y in ((a, b), (b, a)):
            if x in new_ids and y not in new_ids:
                truth_corpus.add(x)
            if x in new_ids and y in new_ids and y < x:
                truth_batch.add(x)
    # soundness: verification makes LSH candidates exact, so every
    # claimed dup is a true dup of the claimed kind
    for d, s in out.items():
        if s == "dup_corpus":
            assert d in truth_corpus
        elif s == "dup_batch":
            assert d in truth_batch and d not in truth_corpus
        else:
            assert d not in truth_corpus


def test_minhash_inc_fast_statuses_equal_md5_twin(spark):
    """The xxhash64 scale path must classify the fixture identically
    to the exact-oracled md5 twin — different hash families can in
    principle band-collide differently, but exact verification makes
    false positives impossible and the fixture's near-dup pairs are
    high-Jaccard enough that both families catch them all (the
    q_dedup_minhash recall=1.0 argument, applied to statuses)."""
    from tests.conftest import SF_MED

    slow = {
        r["doc_id"]: r["status"]
        for r in registry.QUERIES["q_dedup_minhash_inc"](
            spark, SF_MED
        ).collect()
    }
    fast = {
        r["doc_id"]: r["status"]
        for r in registry.QUERIES["q_dedup_minhash_inc_fast"](
            spark, SF_MED
        ).collect()
    }
    assert fast == slow


def test_cap_bucket_postings_keeps_min_ids(spark):
    banded = spark.createDataFrame(
        [(i, 0, "bucket") for i in range(300)]
        + [(i, 1, f"solo{i}") for i in range(300)],
        "doc_id long, band int, bkey string",
    )
    out = _cap_bucket_postings(banded)
    mega = out.where(F.col("band") == 0).select("doc_id").collect()
    assert len(mega) == _INC_BUCKET_CAP
    # deterministic min-id keep, so the SQL oracle's ROW_NUMBER replay
    # selects the identical postings
    assert sorted(r.doc_id for r in mega) == list(range(_INC_BUCKET_CAP))
    # singleton buckets are untouched
    assert out.where(F.col("band") == 1).count() == 300


def test_cap_plan_uses_window_group_limit(spark):
    """The cap must plan as a WindowGroupLimit (per-partition top-64
    prune BEFORE the full sort), not a full window + filter — this
    subtree runs inside the verify checkpoint, so tools/explain_audit
    cannot see it in the final plan and the pin lives here."""
    banded = spark.range(100).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("int").alias("band"),
        F.lit("k").alias("bkey"),
    )
    plan = (
        _cap_bucket_postings(banded)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan, plan


def test_megacluster_candidate_fanout_bounded(spark, megacluster_dir):
    """Uncapped, the 240-doc cluster yields ~80 batch probes x 160
    index postings x 8 bands = ~100k corpus candidate rows; capped,
    at most batch x bands x cap survive the probe join."""
    docs = load(spark, megacluster_dir, "documents")
    banded = dedup.band_postings(docs, dedup.xxhash_sid, dedup.xxhash_band_key)
    nb = banded.where(F.col("doc_id") % 3 == 0)
    idx = _cap_bucket_postings(banded.where(F.col("doc_id") % 3 != 0))
    n_batch = nb.select("doc_id").distinct().count()
    probe = nb.select("band", "bkey", F.col("doc_id").alias("doc_a"))
    cand = probe.join(
        idx.select("band", "bkey", F.col("doc_id").alias("doc_b")),
        ["band", "bkey"],
    )
    uncapped = probe.join(
        banded.where(F.col("doc_id") % 3 != 0).select(
            "band", "bkey", F.col("doc_id").alias("doc_b")
        ),
        ["band", "bkey"],
    )
    assert cand.count() <= n_batch * 8 * _INC_BUCKET_CAP
    # and the cap is doing real work on this fixture
    assert uncapped.count() > cand.count()


@pytest.mark.parametrize(
    "qname", ["q_dedup_minhash_inc", "q_dedup_minhash_inc_fast"]
)
def test_megacluster_statuses_survive_cap(spark, megacluster_dir, qname):
    """Every kept posting in a boilerplate bucket is a byte-identical
    twin of the dropped ones, so capping loses no dup evidence: all
    batch cluster members still classify dup_corpus, and the unique
    batch docs stay new."""
    out = {
        r["doc_id"]: r["status"]
        for r in registry.QUERIES[qname](spark, megacluster_dir).collect()
    }
    for d, s in out.items():
        if d < 240:
            assert s == "dup_corpus", (d, s)
        else:
            assert s == "new", (d, s)



# ---------------------------------------------------------------- SimHash


@pytest.mark.slow
def test_simhash_near_duplicates_close(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again", "en"),
        (2, "the quick brown fox jumps over the lazy dog again and once", "en"),
        (3, "completely unrelated text about spark shuffle partitions here", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    near = bin(sh[1] ^ sh[2]).count("1")
    far = bin(sh[1] ^ sh[3]).count("1")
    assert near < far
