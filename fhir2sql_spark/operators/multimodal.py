"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Real image/audio decode libraries are not in this container, so the
decode kernels are deterministic fakes behind the same mapInPandas
plumbing a real pipeline would use — the Spark-side contract (schema,
Arrow batch shape, partitioning) is real and tested; swapping the fake
for PIL/librosa is a one-function change.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fhir2sql_spark.operators.reuse import pin

_MIMES = ["image/png", "audio/wav", "application/pdf", "text/plain"]

DECODED_SCHEMA = (
    "blob_id long, mime_type string, n_bytes int, "
    "width int, height int, checksum string"
)


def synth_blobs(spark: SparkSession, n: int = 200) -> DataFrame:
    """Deterministic blob fixture (FIXTURES.md §3 shape, seed-free but
    fully determined by blob_id): content is sha256-expanded
    pseudo-random bytes, 64..4096 B; width set for images only.
    Generated distributively via spark.range — no driver-side data."""
    # Partition the generator by DATA volume (~25k blobs, i.e. ~100 MB
    # of payload, per partition), not by core count: spark.range's
    # default defaultParallelism split turned a 200-blob fixture into
    # 32 single-digit-row tasks, and every mapInPandas consumer paid
    # 32 Python-worker boots for ~6 rows each (measured r11: 46.9 s
    # executor CPU for ONE such stage; guide §4.5).
    base = spark.range(0, n, numPartitions=max(1, n // 25000)).withColumnRenamed(
        "id", "blob_id"
    )
    mime = F.element_at(
        F.array(*[F.lit(m) for m in _MIMES]), (F.col("blob_id") % 4 + 1).cast("int")
    )
    blob_len = (F.lit(64) + (F.col("blob_id") * 131) % 4033).cast("int")
    # expand: repeat sha256 hex of the id-salt until >= 2*len hex chars
    hex_unit = F.sha2(F.concat(F.lit("blob-"), F.col("blob_id")), 256)  # 64 hex chars
    repeats = F.ceil(blob_len * 2 / 64).cast("int") + 1
    content = F.unhex(F.substring(F.repeat(hex_unit, 130), 1, blob_len * 2))
    width = F.when(
        F.col("blob_id") % 4 == 0, (64 + (F.col("blob_id") % 10) * 32).cast("int")
    )
    caption = F.when(
        F.col("blob_id") % 3 == 0,
        F.concat(F.lit("caption for blob "), F.col("blob_id")),
    )
    return base.select(
        "blob_id",
        mime.alias("mime_type"),
        content.alias("content"),
        width.alias("width"),
        caption.alias("caption"),
    )


def _fake_decode(batch: pd.DataFrame) -> pd.DataFrame:
    """Deterministic stand-in for an image/audio decoder.

    A real implementation would do
    ``PIL.Image.open(io.BytesIO(content))`` here — unavailable in this
    container (see module docstring), so dimensions are derived from
    the payload's own bytes, keeping the full pipeline testable."""
    out = []
    for blob_id, mime, content in zip(
        batch["blob_id"], batch["mime_type"], batch["content"]
    ):
        digest = hashlib.sha256(content).hexdigest()
        out.append(
            {
                "blob_id": blob_id,
                "mime_type": mime,
                "n_bytes": len(content),
                "width": 16 + content[0] % 240 if mime.startswith("image/") else None,
                "height": 16 + content[1] % 240 if mime.startswith("image/") else None,
                "checksum": digest,
            }
        )
    return pd.DataFrame(out)


def decode_metadata(blobs: DataFrame) -> DataFrame:
    """mapInPandas decode: Arrow-batched binary columns -> typed
    metadata. Batch size is bounded by spark.sql.execution.arrow.
    maxRecordsPerBatch; at 100 TB the input should be partitioned so
    one partition's blobs fit executor memory (binary columns don't
    split mid-row)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            yield _fake_decode(batch)

    return blobs.select("blob_id", "mime_type", "content").mapInPandas(
        fn, DECODED_SCHEMA
    )


def frame_sample(blobs: DataFrame, every_n_bytes: int = 256) -> DataFrame:
    """'Frame sampling' plumbing for video-ish payloads: explode each
    blob into fixed-stride byte-window "frames" (a real impl would cut
    on container keyframes). Shows the binary -> many-rows explode
    shape with bounded row size."""
    n = int(every_n_bytes)
    n_frames = (F.length("content") / n).cast("int") + 1
    return blobs.select(
        "blob_id",
        "content",
        F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_no"),
    ).select(
        "blob_id",
        "frame_no",
        F.expr(f"substring(content, frame_no * {n} + 1, {n})").alias("frame_bytes"),
    )


HIST_SCHEMA = (
    "blob_id long, h0 int, h1 int, h2 int, h3 int, h4 int, h5 int, h6 int, h7 int"
)


def byte_histogram_features(blobs: DataFrame) -> DataFrame:
    """Feature-extraction plumbing: binary payload -> fixed-width
    feature vector (8-bucket byte histogram, bucket = byte >> 5) via
    mapInPandas + numpy. This is the decode->featurize shape a real
    pipeline runs with an image/audio model in the kernel; the
    histogram stand-in keeps it exact-integer so the whole Arrow path
    is oracle-checkable (DuckDB recomputes the buckets from the hex
    text's leading nibbles). Features emit as typed columns, not an
    array, so downstream engines see a plain relational schema."""
    import numpy as np

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for blob_id, content in zip(batch["blob_id"], batch["content"]):
                arr = np.frombuffer(bytes(content), dtype=np.uint8)
                hist = np.bincount(arr >> 5, minlength=8)[:8]
                rows.append([int(blob_id), *(int(x) for x in hist)])
            yield pd.DataFrame(
                rows, columns=["blob_id"] + [f"h{i}" for i in range(8)]
            )

    return blobs.select("blob_id", "content").mapInPandas(fn, HIST_SCHEMA)


RESIZED_SCHEMA = (
    "blob_id long, mime_type string, width int, height int, content binary"
)


def resize_images(
    blobs: DataFrame, target_w: int = 32, target_h: int = 32
) -> DataFrame:
    """mapInPandas resize: image-typed binary payloads -> fixed-size
    thumbnails. The kernel is a deterministic fake (stride-sampled
    bytes to exactly target_w*target_h; a real implementation is
    ``PIL.Image.open(...).resize((w, h))`` — unavailable in this
    container, module docstring), but the Spark contract is the real
    one: binary in / binary out, Arrow-batched, non-image rows
    filtered upstream of the Python boundary so only decodable
    payloads cross it."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_out = target_w * target_h
        for batch in batches:
            out = []
            for blob_id, mime, content in zip(
                batch["blob_id"], batch["mime_type"], batch["content"]
            ):
                stride = max(1, len(content) // n_out)
                sampled = content[::stride][:n_out]
                sampled = sampled + b"\x00" * (n_out - len(sampled))
                out.append(
                    {
                        "blob_id": blob_id,
                        "mime_type": mime,
                        "width": target_w,
                        "height": target_h,
                        "content": sampled,
                    }
                )
            yield pd.DataFrame(out)

    return (
        blobs.where(F.col("mime_type").startswith("image/"))
        .select("blob_id", "mime_type", "content")
        .mapInPandas(fn, RESIZED_SCHEMA)
    )


def phash_blobs(spark: SparkSession, n: int = 200) -> DataFrame:
    """Blob fixture with PLANTED near-duplicate images for perceptual
    dedup: groups of 4 blobs share a 72-byte base payload
    (sha256-expanded from the group id); each member perturbs exactly
    ONE byte (position m*13+7, value from its own blob_id digest), so
    any two members of a group differ in <= 2 bytes — <= 4 dHash bits
    — while blobs from different groups are pseudo-random and ~32 bits
    apart. Returns (blob_id, content BINARY); the hash pipeline must
    re-derive the byte grid from the binary column (the multimodal
    family's plumbing contract). Pure SQL both engines reproduce
    byte-identically (the q_multimodal_frames fixture technique)."""
    # data-sized partitioning, same rationale as synth_blobs above
    base = spark.range(0, n, numPartitions=max(1, n // 25000)).withColumnRenamed(
        "id", "blob_id"
    )
    return (
        base.selectExpr(
            "blob_id",
            "substring(repeat(sha2(concat('pblob-', "
            "CAST(blob_id DIV 4 AS STRING)), 256), 5), 1, 144) AS h0",
            "(CAST(blob_id % 4 AS INT) * 13 + 7) AS p",
            "substring(sha2(concat('perturb-', CAST(blob_id AS STRING)), "
            "256), 1, 2) AS pb",
        )
        .selectExpr(
            "blob_id",
            "unhex(concat(substring(h0, 1, p*2), pb, "
            "substring(h0, p*2+3))) AS content",
        )
    )


def dhash_bands(blobs: DataFrame) -> DataFrame:
    """dHash over the blob's leading 9x8 byte grid, emitted as 8
    one-byte row bands: bit (r, c) = grid[r*9+c] > grid[r*9+c+1]
    (the standard difference-hash gradient, computed on raw payload
    bytes because no image decoder ships in this container — a real
    pipeline resizes to 9x8 grayscale first, same arithmetic after).
    Returns (blob_id, bands ARRAY<BIGINT> length 8, each 0..255).
    All exact integer arithmetic riding the scan — hex-nibble byte
    extraction, comparisons, and shifts in whole-stage codegen; no
    Python, no shuffle."""
    return blobs.selectExpr(
        "blob_id", "lower(hex(content)) AS hx"
    ).selectExpr(
        "blob_id",
        "transform(sequence(0, 71), i -> "
        "  (instr('0123456789abcdef', substring(hx, i*2+1, 1)) - 1) * 16"
        "  + instr('0123456789abcdef', substring(hx, i*2+2, 1)) - 1"
        ") AS g",
    ).selectExpr(
        "blob_id",
        "transform(sequence(0, 7), r -> "
        "  aggregate(sequence(0, 7), CAST(0 AS BIGINT), (acc, c) -> "
        "    acc + IF(element_at(g, r*9+c+1) > element_at(g, r*9+c+2), "
        "             shiftleft(CAST(1 AS BIGINT), c), CAST(0 AS BIGINT))"
        ")) AS bands",
    )


def phash_dedup_pairs(blobs: DataFrame, k: int = 4) -> DataFrame:
    """Near-duplicate blob pairs at Hamming distance <= k over the
    64-bit dHash, banded: with 8 one-byte bands, any pair within
    Hamming k < 8 agrees on at least one band (pigeonhole — the exact
    q_dedup_simhash argument, llm.py), so candidates come from
    band-equality buckets and only candidates pay the exact distance.

    Plan: bands ride the scan; ONE (band_no, band)-keyed exchange
    builds the bucket posting sets (collect_set + double posexplode,
    the winnow_pairs cooccurrence shape — no self-join); candidate
    pairs then fetch both blobs' band arrays with two blob_id-keyed
    joins and the exact Hamming sum is a zip_with/bit_count fold in
    codegen. At 100 TB the bucket exchange carries 8 rows per blob
    and candidates are collision-bounded — never all-pairs.

    r11: ``bands`` is materialized once (serialized DISK_ONLY barrier,
    the fact-sized-reuse discipline from PLANS.md §pins). Without the
    barrier Catalyst's projection collapse INLINES the interpreted
    nested-HOF dHash derivation into all three consumers — in
    particular into the join sides feeding the Hamming fold, so every
    candidate pair re-derived BOTH blobs' full 72-byte grids and
    8x8-bit folds from hex (measured: 112 s executor CPU for 200
    blobs; 3 s after the barrier — guide §1.1 empirical loop). The
    hash is now computed exactly once per blob. r12 (VERDICT r11
    hygiene #5): the barrier is the repo-standard lazy serialized
    localCheckpoint instead of persist() — the old persist was never
    unpersisted (a slow leak across a long-lived session) and
    registered in the CacheManager (cross-query sharing hazard);
    localCheckpoint blocks are released by the ContextCleaner when
    the frame is garbage-collected."""
    bands = pin(dhash_bands(blobs))
    flat = bands.select(
        "blob_id", F.posexplode("bands").alias("band_no", "band")
    )
    buckets = (
        flat.groupBy("band_no", "band")
        .agg(F.collect_set("blob_id").alias("__ids"))
        .where(F.size("__ids") >= 2)
    )
    cand = (
        buckets.select(
            "__ids", F.posexplode("__ids").alias("__p1", "blob_a")
        )
        .select("blob_a", "__p1", F.posexplode("__ids").alias("__p2", "__b2"))
        .where(F.col("__p2") != F.col("__p1"))
        .where(F.col("blob_a") < F.col("__b2"))
        .select("blob_a", F.col("__b2").alias("blob_b"))
        .distinct()
    )
    ba = bands.select(
        F.col("blob_id").alias("blob_a"), F.col("bands").alias("__ba")
    )
    bb = bands.select(
        F.col("blob_id").alias("blob_b"), F.col("bands").alias("__bb")
    )
    ham = F.expr(
        "aggregate(zip_with(__ba, __bb, (x, y) -> bit_count(x ^ y)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + CAST(v AS BIGINT))"
    )
    return (
        cand.join(ba, "blob_a")
        .join(bb, "blob_b")
        .select("blob_a", "blob_b", ham.alias("hamming"))
        .where(F.col("hamming") <= k)
    )
