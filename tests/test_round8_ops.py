"""Round-8 operator invariants: CCNet paragraph dedup, prototype
pruning, SQ8 quantized search (the incremental MinHash dedup tests
live in tests/test_dedup_lsh.py). Exact end-to-end parity for all
three runs in test_oracle_parity (sf0.001) and tools/drivercheck.py
(sf0.01); these pin the semantic invariants the oracles alone would
not explain."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from fhir2sql_spark import registry
from fhir2sql_spark.tables import load

registry.load_all()


def test_paragraph_dedup_keeps_exactly_one_copy_per_chunk(spark, sf_dir):
    out = registry.QUERIES["q_dedup_paragraph"](spark, sf_dir)
    agg = out.agg(
        F.sum(F.col("n_chunks") - F.col("n_dropped")).alias("kept"),
        F.sum("n_chunks").alias("total"),
    ).collect()[0]
    docs = load(spark, sf_dir, "documents").withColumn(
        "ts", F.split("text", " ")
    )
    distinct_chunks = (
        docs.select(
            F.explode(
                F.expr(
                    "transform(sequence(0, cast(floor((size(ts)-1)/8) as int)),"
                    " i -> concat_ws(' ', slice(ts, i*8+1, 8)))"
                )
            ).alias("chunk")
        )
        .select(F.countDistinct("chunk"))
        .collect()[0][0]
    )
    # first-occurrence keeper: exactly one survivor per distinct chunk
    assert agg["kept"] == distinct_chunks
    assert agg["total"] >= distinct_chunks
    for r in out.collect():
        assert abs(
            r["kept_frac"] - (r["n_chunks"] - r["n_dropped"]) / r["n_chunks"]
        ) < 1e-6


def test_prune_prototypes_keeps_hardest_70pct_per_cell(spark, sf_dir):
    rows = registry.QUERIES["q_prune_prototypes"](spark, sf_dir).collect()
    n_vecs = load(spark, sf_dir, "embeddings").count()
    assert len(rows) == n_vecs
    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append(r)
    for cell, rs in by_cell.items():
        n = len(rs)
        assert all(r["n_cell"] == n for r in rs)
        kept = [r for r in rs if r["keep"]]
        assert len(kept) == (7 * n) // 10  # hardest floor(0.7 n)
        # kept = the LARGEST distances (hard examples), ranks 1..kept
        max_kept_rank = max((r["rnk"] for r in kept), default=0)
        assert max_kept_rank == len(kept)
        ordered = sorted(rs, key=lambda r: r["rnk"])
        d2s = [r["d2"] for r in ordered]
        assert d2s == sorted(d2s, reverse=True)


def test_embed_sq_topk_recall_vs_float_l2(spark, sf_dir):
    out = registry.QUERIES["q_embed_sq"](spark, sf_dir).collect()
    got = {}
    for r in out:
        got.setdefault(r["q_id"], []).append((r["rn"], r["c_id"]))
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in load(spark, sf_dir, "embeddings").collect()
    }
    ids = sorted(emb)
    X = np.stack([emb[i] for i in ids])
    hits = total = 0
    for q in sorted(got):
        assert sorted(rn for rn, _ in got[q]) == [1, 2, 3, 4, 5]
        d = ((X - emb[q]) ** 2).sum(axis=1)
        order = [
            ids[j]
            for j in np.lexsort((ids, d))
            if ids[j] != q
        ][:5]
        sq_ids = {c for _, c in got[q]}
        hits += len(sq_ids & set(order))
        total += 5
    # 8-bit quantization at dim 64 barely perturbs the ranking
    assert hits / total >= 0.8
