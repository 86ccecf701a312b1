"""Round-9 invariants: the classification tail shared by every
incremental pairwise dedup (dedup._classify_new_batch), the
incremental prefix-filter dedups (set similarity and containment
against a frozen prefix index), the DoReMi mixture update and
winnow_pairs' argument check. The MinHash-LSH tests of this round
live in tests/test_dedup_lsh.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fhir2sql_spark import registry

registry.load_all()


def test_classification_join_is_not_forced_broadcast(spark, sf_dir):
    """flags is O(batch x dup-rate); with elective broadcasts disabled
    the LeftOuter classification join must plan as a shuffled join.
    The verify step's candidate broadcasts are FORCED by design
    (bounded, candidate-sized) and remain — so the pin targets the
    LeftOuter join specifically."""
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    adaptive_thr = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", None
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        for qname in ("q_dedup_minhash_inc", "q_dedup_minhash_inc_fast"):
            df = registry.QUERIES[qname](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            for line in plan.splitlines():
                assert not (
                    "BroadcastHashJoin" in line and "LeftOuter" in line
                ), (qname, line)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        if adaptive_thr is None:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", adaptive_thr
            )


def test_inc_prefix_postings_two_exchanges(spark, sf_dir):
    """The frozen-order prefix prologue must keep setsim_pairs' linear
    2-big-exchange shape (one sid exchange shared by the distinct
    aggregate and the frozen-df window, one doc_id exchange for the
    size+prefix windows) — the O(batch postings) claim is this plan."""
    from fhir2sql_spark.operators.dedup import _inc_prefix_postings
    from fhir2sql_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    plan = (
        _inc_prefix_postings(docs, 1, 2, 5, checkpoint=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 2, plan


@pytest.mark.parametrize(
    "qname,num,den,directed",
    [("q_dedup_setsim_inc", 1, 2, False),
     ("q_dedup_containment_inc", 4, 5, True)],
)
def test_inc_prefix_dedup_statuses_match_bruteforce(
    spark, sf_dir, qname, num, den, directed
):
    """Statuses must equal the brute-force truth: prefix filtering is
    COMPLETE (no recall loss to explain away) and verification exact,
    so unlike the LSH family there is no probabilistic slack here."""
    from fhir2sql_spark.tables import load

    out = {
        r["doc_id"]: r["status"]
        for r in registry.QUERIES[qname](spark, sf_dir).collect()
    }
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text").collect()
    sets = {}
    for r in docs:
        toks = r.text.split(" ")
        sets[r.doc_id] = (
            r.lang,
            {" ".join(toks[i : i + 5]) for i in range(len(toks) - 4)},
        )
    truth = {}
    for a, (la, sa) in sets.items():
        if a % 3 != 0:
            continue
        status = "new"
        for b, (lb, sb) in sets.items():
            if a == b or la != lb:
                continue
            common = len(sa & sb)
            if common == 0:  # candidates require a shared token
                continue
            ok = (
                common * den >= len(sa) * num
                if directed
                else common * den >= len(sa | sb) * num
            )
            if not ok:
                continue
            if b % 3 != 0:
                status = "dup_corpus"
                break
            elif b < a:
                status = "dup_batch"
        truth[a] = status
    assert out == truth


def test_doremi_weights_are_a_smoothed_distribution(spark, sf_dir):
    """The updated mixture must stay a probability distribution with
    the 20% uniform floor, and the multiplicative update must point
    the right way: domains with above-average mean doc length (the
    fixture's excess proxy) gain weight relative to their corpus
    share, below-average domains lose it."""
    rows = registry.QUERIES["q_sample_doremi"](spark, sf_dir).collect()
    k = len(rows)
    total = sum(r["w1"] for r in rows)
    assert abs(total - 1.0) < 1e-2  # 4 dp rounding slack over k rows
    floor = 0.2 / k
    for r in rows:
        assert r["w1"] >= floor - 1e-4
        if r["excess"] > 0.05:
            assert r["w1"] > r["w0"] * 0.8 + floor - 1e-4
        if r["excess"] < -0.05:
            assert r["w1"] < r["w0"] * 0.8 + floor + 1e-4


def test_winnow_pairs_rejects_ambiguous_inputs(spark):
    """ADVICE r8: docs= and fps= are mutually exclusive — passing both
    silently ignored docs/k/w, hiding parameter mismatches."""
    from fhir2sql_spark.operators.text import winnow_pairs

    df = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    with pytest.raises(ValueError, match="exactly one"):
        winnow_pairs(df, fps=df.select("doc_id", F.lit(1).alias("__fp")))
    with pytest.raises(ValueError, match="exactly one"):
        winnow_pairs()
