"""Seeded input generators: the star-schema parquet tables the registered
queries read, and FHIR Patient bundle pages for the sync workloads.

Same seed, same bytes. Value domains follow the shapes in FIXTURES.md
(§1 table schemas and vocabularies, §2.2 bundle pages, §2.3 Patient
documents, §4 two-decimal doubles), so every registered query finds
the columns, literals and near-duplicates it expects.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table at scale 1.0 (the sf0.01 fixture sizes).
BASE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
}
DOC_ROWS = 500
EMBED_ROWS = 500
EMBED_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "hot", "old", "large", "blue", "cold", "new"]
PART_NOUN = ["ring", "widget", "plate", "rod", "bolt", "gizmo", "gear", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "join hash row batch scan column customer filter small slow merge order"
    " vector line table data agg value key stream window a spark part group"
    " big sort query fast the"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00
_EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _documents(rng: np.random.Generator) -> pa.Table:
    texts: list[str] = []
    for i in range(DOC_ROWS):
        if i > 20 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            n = int(rng.integers(8, 95))
            texts.append(" ".join(rng.choice(WORDS, n)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(DOC_ROWS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, DOC_ROWS, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(DOC_ROWS)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator) -> pa.Table:
    labels = rng.integers(0, 10, EMBED_ROWS)
    centers = rng.normal(size=(10, EMBED_DIM))
    vecs = centers[labels] * 0.5 + rng.normal(size=(EMBED_ROWS, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, EMBED_ROWS * EMBED_DIM + 1, EMBED_DIM), pa.int32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(EMBED_ROWS), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the ten star-schema tables as one parquet file each; returns
    row counts. ``scale`` multiplies the sf0.01 fact/dimension sizes;
    region, nation, documents and embeddings keep their fixed sizes."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n = {t: max(10, int(r * scale)) for t, r in BASE_ROWS.items()}
    n_users = max(10, int(150 * scale))
    ids = {t: np.arange(k) for t, k in n.items()}
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(REGIONS, pa.string()),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(ids["customer"], pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in ids["customer"]]),
                "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
                "c_mktsegment": pa.array(rng.choice(SEGMENTS, n["customer"])),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(ids["supplier"], pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in ids["supplier"]]),
                "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(ids["part"], pa.int64()),
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in rng.integers(0, 8, (n["part"], 2))
                    ]
                ),
                "p_brand": pa.array(
                    [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])]
                ),
                "p_type": pa.array(rng.choice(PART_TYPES, n["part"])),
                "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
                "p_retailprice": np.round(900.0 + (ids["part"] % 1000) * 0.1, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(ids["orders"], pa.int64()),
                "o_custkey": pa.array(
                    rng.integers(0, n["customer"], n["orders"]), pa.int64()
                ),
                "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n["orders"])),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
                "o_orderdate": _ts(
                    _EPOCH_1995_US + rng.integers(0, 2400, n["orders"]) * _DAY_US
                ),
                "o_orderpriority": pa.array(rng.choice(PRIORITIES, n["orders"])),
            }
        ),
        "lineitem": _lineitem(rng, n),
        "events": pa.table(
            {
                "event_id": pa.array(ids["events"], pa.int64()),
                "ts": _ts(
                    _EPOCH_2024_US
                    + np.sort(rng.integers(0, 30 * _DAY_US, n["events"]))
                ),
                "user_id": pa.array(rng.integers(0, n_users, n["events"]), pa.int64()),
                "event_type": pa.array(rng.choice(EVENT_TYPES, n["events"])),
                "value": _money(rng, 0.01, 490.0, n["events"]),
                "props": pa.array(
                    [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])]
                ),
            }
        ),
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def _lineitem(rng: np.random.Generator, n: dict[str, int]) -> pa.Table:
    k = n["lineitem"]
    qty = rng.integers(1, 51, k).astype(np.float64)
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], k), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], k), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, k), 2),
            "l_discount": np.round(rng.integers(0, 11, k) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, k) * 0.01, 2),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], k)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], k)),
            "l_shipdate": _ts(_EPOCH_1995_US + (1 + rng.integers(0, 2500, k)) * _DAY_US),
        }
    )


# --- FHIR Patient pages ---------------------------------------------------


def patient(key: int, version: int) -> dict:
    """One Patient in the FIXTURES.md §2.3 shape; content depends only on
    (key, version), so an unchanged resource serializes identically."""
    return {
        "resourceType": "Patient",
        "id": f"pat-{key:07d}",
        "meta": {
            "versionId": str(version),
            "lastUpdated": f"2024-{1 + version % 12:02d}-{1 + key % 28:02d}T12:00:00Z",
        },
        "gender": ("female", "male", "other")[(key + version) % 3],
        "birthDate": f"{1930 + key % 80}-{1 + key % 12:02d}-{1 + (key * 7) % 28:02d}",
        "identifier": [{"system": "urn:ex", "value": f"P{key}"}],
    }


_MALFORMED_KINDS = ("missing_id", "missing_version", "non_numeric_version")


def _malformed(key: int, version: int, kind: str) -> dict:
    res = patient(key, version)
    if kind == "missing_id":
        del res["id"]
    elif kind == "missing_version":
        del res["meta"]["versionId"]
    else:
        res["meta"]["versionId"] = f"v{version}"
    return res


@dataclass
class PageSet:
    """One generated source snapshot and the mirror state a correct sync
    of it must leave: one row per well-formed key at its version."""

    entries: list[dict]
    expected: dict[str, int]
    malformed: int
    # keys served twice; when such a key is also an insert, the
    # diff's bare full-outer join writes two mirror rows for it
    # (the duplicate-key divergence in ROADMAP, open item 3)
    duplicated: set[str] = field(default_factory=set)
    inserted_dups: set[str] = field(default_factory=set)


def base_versions(seed: int, n_keys: int) -> dict[int, int]:
    rng = np.random.default_rng([seed, 2])
    return {k: int(v) for k, v in enumerate(rng.integers(1, 4, n_keys))}


def _share(n: int, frac: float) -> int:
    return max(1, round(n * frac))


def initial_pageset(seed: int, n_keys: int) -> PageSet:
    """A first load: every key is an insert; 0.5% of keys are served
    malformed and 0.5% are served twice (identical copies on two pages)."""
    rng = np.random.default_rng([seed, 3])
    versions = base_versions(seed, n_keys)
    keys = rng.permutation(n_keys)
    n_bad = _share(n_keys, 0.005)
    bad = {int(k): _MALFORMED_KINDS[i % 3] for i, k in enumerate(keys[:n_bad])}
    dups = {int(k) for k in keys[n_bad : 2 * n_bad]}
    entries, expected = [], {}
    for k, v in versions.items():
        if k in bad:
            entries.append(_malformed(k, v, bad[k]))
            continue
        res = patient(k, v)
        entries.append(res)
        expected[res["id"]] = v
        if k in dups:
            entries.append(res)
    dup_ids = {f"pat-{k:07d}" for k in dups}
    return PageSet(_shuffle(rng, entries), expected, n_bad, dup_ids, set(dup_ids))


def resync_pageset(seed: int, cycle: int, n_keys: int) -> PageSet:
    """A daily re-read of the base snapshot: ~10% version bumps, 2% new
    keys, 2% dropped keys, 0.5% malformed rows, 0.5% of keys served twice,
    the rest unchanged. Keys served twice are drawn from the changed keys
    (bumped or new), as a resource that changes while a live server is
    being paged through is the one that moves between pages."""
    versions = base_versions(seed, n_keys)
    rng = np.random.default_rng([seed, 4, cycle])
    keys = rng.permutation(n_keys)
    n_bump, n_drop = _share(n_keys, 0.10), _share(n_keys, 0.02)
    n_bad, n_new = _share(n_keys, 0.005), _share(n_keys, 0.02)
    bumped = {int(k) for k in keys[:n_bump]}
    dropped = {int(k) for k in keys[n_bump : n_bump + n_drop]}
    rest = keys[n_bump + n_drop :]
    bad = {int(k): _MALFORMED_KINDS[i % 3] for i, k in enumerate(rest[:n_bad])}
    new = range(n_keys, n_keys + n_new)
    n_dup = _share(n_keys, 0.005)
    n_dup_new = max(1, round(n_dup * n_new / (n_new + n_bump)))
    dups = set(rng.choice(sorted(bumped), n_dup - n_dup_new, replace=False).tolist())
    new_dups = set(rng.choice(list(new), n_dup_new, replace=False).tolist())
    entries, expected = [], {}
    for k in [*versions, *new]:
        if k in dropped:
            continue
        v = versions.get(k, 1)
        if k in bumped:
            v += int(rng.integers(1, 3))
        if k in bad:
            entries.append(_malformed(k, v, bad[k]))
            continue
        res = patient(k, v)
        entries.append(res)
        expected[res["id"]] = v
        if k in dups or k in new_dups:
            entries.append(res)
    ids = lambda ks: {f"pat-{k:07d}" for k in ks}  # noqa: E731
    return PageSet(
        _shuffle(rng, entries), expected, n_bad, ids(dups | new_dups), ids(new_dups)
    )


def clean_pageset(seed: int, n_keys: int) -> PageSet:
    """The base snapshot with no anomalies: what the mirror holds before
    a re-sync."""
    versions = base_versions(seed, n_keys)
    entries = [patient(k, v) for k, v in versions.items()]
    return PageSet(entries, {r["id"]: int(r["meta"]["versionId"]) for r in entries}, 0)


def _shuffle(rng: np.random.Generator, entries: list[dict]) -> list[dict]:
    return [entries[i] for i in rng.permutation(len(entries))]


def write_pages(out_dir: str, entries: list[dict], page_size: int) -> int:
    """Write ``entries`` as searchset bundle files (FIXTURES.md §2.2), one
    file per page, replacing any earlier page set. Returns the page count."""
    os.makedirs(out_dir, exist_ok=True)
    for name in os.listdir(out_dir):
        if name.endswith(".json"):
            os.remove(os.path.join(out_dir, name))
    pages = [entries[i : i + page_size] for i in range(0, len(entries), page_size)]
    for i, page in enumerate(pages):
        links = [{"relation": "self", "url": f"Patient?page={i}"}]
        if i + 1 < len(pages):
            links.append({"relation": "next", "url": f"Patient?page={i + 1}"})
        bundle = {
            "id": f"p{i}",
            "type": "searchset",
            "resourceType": "Bundle",
            "total": len(entries),
            "entry": [{"resource": r} for r in page],
            "link": links,
        }
        with open(os.path.join(out_dir, f"page-{i:05d}.json"), "w") as fh:
            json.dump(bundle, fh, separators=(",", ":"))
    return len(pages)
