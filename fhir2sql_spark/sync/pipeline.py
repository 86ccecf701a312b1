"""The sync pipeline — the fhir2sql-equivalent product (SURVEY §7 M4).

Orchestrates: source scan (bundle pages) -> version extraction ->
distributed diff vs the mirror snapshot -> parameterized sink
(insert/update/delete) -> count reconciliation; per-resource-type,
mirroring ``run_sync`` / ``sync_blaze_2_pg``
(/root/reference/src/main.rs:176-339) with the driver-side BTreeMap
replaced by the shuffle/broadcast join in sync/diff.py.

Invariants (property-tested in tests/test_sync_properties.py, from
the reference's doc comment src/main.rs:159-175):
  1. the four op tags partition the key universe;
  2. applying the diff converges the mirror to the source;
  3. re-sync of a converged mirror is all-noop (idempotence — the
     reference's daily re-run depends on this);
  4. diff(A, A) has no effects.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Callable
from contextlib import ExitStack, closing
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fhir2sql_spark.sinks import jdbc_upsert
from fhir2sql_spark.sync.diff import OP_DELETE, OP_INSERT, OP_NOOP, OP_UPDATE, diff_snapshots
from fhir2sql_spark.sync.fhir import extract_versions, partition_malformed, well_formed

# Parallelism of insert-pk allocation (buckets = concurrent tasks).
_PK_BUCKETS = 64


@dataclass
class SyncStats:
    """Outcome of one ``sync_resources`` call. ``source_count``
    (well-formed resources) and ``malformed`` come from one aggregate
    over the same pinned source read the diff and the writes consume,
    and the op counts from one aggregate over the pinned change-set, so
    the rows counted are the rows written. ``mirror_count_after`` is
    the target's ``COUNT(*)`` once the writes have landed."""

    inserts: int
    updates: int
    deletes: int
    noops: int
    malformed: int
    source_count: int
    mirror_count_after: int

    @property
    def counts_match(self) -> bool:
        """The reference's post-sync reconciliation
        (src/main.rs:288-297) — warn-only there, surfaced here."""
        return self.source_count == self.mirror_count_after


def extract_mirror_versions(mirror_raw: DataFrame) -> DataFrame:
    """(pk_id|id, resource) -> (pk_id, res_key, mir_version), fully
    distributed — the version-extraction half of the reference's
    full-scan + BTreeMap build (src/main.rs:49-75). Accepts either
    column name for the pk so a raw ``SELECT id, resource`` JDBC frame
    plugs in unchanged. Unparseable rows keep their pk_id with NULL
    res_key/mir_version: their id is still taken, so pk allocation must
    see them, while the diff skips them (src/main.rs:60-63) through
    ``well_formed("mir_version")``."""
    id_col = "pk_id" if "pk_id" in mirror_raw.columns else "id"
    return mirror_raw.select(
        F.col(id_col).cast("int").alias("pk_id"),
        F.get_json_object("resource", "$.id").alias("res_key"),
        F.get_json_object("resource", "$.meta.versionId")
        .try_cast("long")
        .alias("mir_version"),
    )


def read_mirror_versions(
    spark: SparkSession, connect_fn: Callable[[], object], table: str
) -> DataFrame:
    """TEST-ONLY mirror snapshot: fetches the whole table through one
    driver-side connection (the in-process sqlite/duckdb databases are
    not visible to executors). This inherits the reference's BTreeMap
    scale ceiling by construction — production syncs must pass
    ``mirror_df`` to ``sync_resources`` (built from
    ``sources.jdbc.mirror_reader``'s range-partitioned read, or any
    distributed source) so the mirror never materializes on the
    driver."""
    conn = connect_fn()
    try:
        cur = conn.cursor()
        cur.execute(f"SELECT id, resource FROM {table}")  # noqa: S608
        rows = cur.fetchall()
    finally:
        conn.close()
    # normalize across drivers (the psql adapter fetches text)
    rows = [(int(r[0]), str(r[1])) for r in rows or []]
    df = spark.createDataFrame(rows or [], "pk_id int, resource string")
    return extract_mirror_versions(df)


def sync_resources(
    spark: SparkSession,
    source_resources: DataFrame,
    connect_fn: Callable[[], object],
    table: str,
    batch_size: int = 10_000,
    strategy: str = "batched",
    apply_deletes: bool = True,
    mirror_df: DataFrame | None = None,
    dialect: str = "ansi",
) -> SyncStats:
    """One full sync of raw source resources into the mirror table.

    The source is read exactly once. Its extraction is pinned, and one
    aggregate over the pin yields ``source_count`` and ``malformed``
    before the diff and the writes consume that same pinned read; the
    tagged change-set is pinned too and gives every op count and the
    insert-bucket sizes in one more aggregate. Both pins are released
    when the sync returns or raises.

    ``dialect="pg"`` routes every emitted statement through the
    PostgreSQL dialect (%s paramstyle, ::jsonb casts — see
    sinks/pg_dialect.py); wire-verified against a real server in
    tests/test_pg_roundtrip.py.

    ``mirror_df`` is the PRODUCTION mirror-read seam: a distributed
    (pk_id|id, resource) DataFrame — typically
    ``sources.jdbc.mirror_reader(spark, cfg, lo, hi).load()``, a
    range-partitioned parallel JDBC scan — from which versions are
    extracted executor-side. When omitted, the test-only
    ``read_mirror_versions`` driver fetch is used (in-process
    databases are invisible to executors). This seam is what kills
    the reference's driver-memory BTreeMap ceiling (src/main.rs:49-75):
    with it, no step of the diff ever materializes the mirror on the
    driver.

    ``apply_deletes=False`` is the INCREMENTAL form: when the source
    DataFrame is one micro-batch (a page window, not the full
    snapshot), absence from the batch does not mean deletion, so
    mirror-only rows are left untouched and reported as 0 deletes.
    Continuous pipelines (streaming/continuous_sync.py) run upsert-only
    micro-batches plus a periodic full-snapshot pass for deletes.

    Source-wins semantics: ANY version difference overwrites with the
    source copy (the reference's `<`||`>`, src/main.rs:229-230).

    ``strategy``: 'batched' = per-partition parameterized executemany
    (parallel, independent transactions — the reference's flush model
    done right); 'merge' = load the tagged change-set into a staging
    table, then ONE set-based transaction applies update/insert/delete
    (atomic visibility — the preferred shape when the target supports
    it)."""
    with ExitStack() as pins:
        extracted = extract_versions(source_resources).cache()
        pins.callback(extracted.unpersist)
        # The only read of the source: this aggregate fills the pin, and
        # the diff below consumes the pin.
        ok = well_formed()
        src_count, n_malformed = extracted.agg(
            F.count_if(ok), F.count_if(~ok)
        ).first()

        if mirror_df is not None:
            mirror = extract_mirror_versions(mirror_df)
        else:
            mirror = read_mirror_versions(spark, connect_fn, table)
        # New pks for inserts: allocated deterministically above the
        # current max over EVERY mirror row, unparseable ones included
        # (their ids are taken). The reference lets SERIAL do this; a
        # distributed sink needs explicit allocation to stay parallel.
        # A top-1, not agg(max): per-partition top-k with no exchange,
        # so one Spark job instead of two.
        top = mirror.select("pk_id").orderBy(F.desc_nulls_last("pk_id")).first()
        max_pk = (top and top[0]) or 0
        source, _ = partition_malformed(extracted)
        # Allocation is bucket-parallel: an unpartitioned row_number
        # would pull every insert through ONE task — on an initial full
        # load that serializes the whole dataset. Instead hash res_key
        # into _PK_BUCKETS buckets (inserts only), row_number inside
        # each bucket (distributed), and add per-bucket offsets computed
        # from bucket counts (a _PK_BUCKETS-row driver-side cumsum). Ids
        # are dense in (bucket, res_key) order — deterministic across
        # runs and retries, just not globally res_key-sorted.
        tagged = diff_snapshots(
            source.select("res_key", "src_version", "resource"),
            mirror.where(well_formed("mir_version")).select(
                "res_key", "mir_version", "pk_id"
            ),
        ).withColumn(
            "__bucket",
            F.when(
                F.col("op") == OP_INSERT,
                F.pmod(F.xxhash64("res_key"), F.lit(_PK_BUCKETS)).cast("int"),
            ),
        ).cache()
        pins.callback(tagged.unpersist)

        op_counts, bucket_counts = Counter(), {}
        for r in tagged.groupBy("op", "__bucket").count().collect():
            op_counts[r["op"]] += r["count"]
            if r["op"] == OP_INSERT:
                bucket_counts[r["__bucket"]] = r["count"]
        if not apply_deletes:
            op_counts[OP_DELETE] = 0

        offsets, acc = {}, 0
        for b in sorted(bucket_counts):
            offsets[b] = acc
            acc += bucket_counts[b]
        offset_col = F.coalesce(
            *[F.when(F.col("__bucket") == b, F.lit(off)) for b, off in offsets.items()],
            F.lit(0),
        ) if offsets else F.lit(0)
        w_bucket = Window.partitionBy("__bucket").orderBy("res_key")
        inserts = (
            tagged.where(F.col("op") == OP_INSERT)
            .withColumn(
                "pk_id",
                (F.row_number().over(w_bucket) + offset_col + F.lit(max_pk)).cast("int"),
            )
            .select("pk_id", "resource")
        )
        updates = tagged.where(F.col("op") == OP_UPDATE).select("resource", "pk_id")
        deletes = tagged.where(F.col("op") == OP_DELETE).select("pk_id")
        if not apply_deletes:
            deletes = deletes.limit(0)

        if strategy == "merge":
            stage = f"{table}__stage"
            staged = (
                inserts.select("pk_id", F.lit("insert").alias("op"), "resource")
                .unionByName(
                    updates.select("pk_id", F.lit("update").alias("op"), "resource")
                )
                .unionByName(
                    deletes.select(
                        "pk_id",
                        F.lit("delete").alias("op"),
                        F.lit(None).cast("string").alias("resource"),
                    )
                )
            )
            _driver_sql(
                connect_fn,
                f"DROP TABLE IF EXISTS {stage}",  # noqa: S608
                f"CREATE TABLE {stage} (pk_id INT, op TEXT, resource TEXT)",  # noqa: S608
            )
            ph = "%s, %s, %s" if dialect == "pg" else "?, ?, ?"
            jdbc_upsert.foreach_partition_write(
                staged,
                f"INSERT INTO {stage} (pk_id, op, resource) VALUES ({ph})",  # noqa: S608
                connect_fn,
                batch_size,
            )
            jdbc_upsert.merge_stage_into_target(
                connect_fn, table, stage, dialect=dialect
            )
            _driver_sql(connect_fn, f"DROP TABLE IF EXISTS {stage}")  # noqa: S608
        else:
            jdbc_upsert.apply_changeset(
                inserts, updates, deletes, table, connect_fn, batch_size,
                dialect=dialect,
            )

        (mirror_after,) = _driver_sql(
            connect_fn, f"SELECT COUNT(*) FROM {table}", fetch=True  # noqa: S608
        )
    return SyncStats(
        inserts=op_counts[OP_INSERT],
        updates=op_counts[OP_UPDATE],
        deletes=op_counts[OP_DELETE],
        noops=op_counts[OP_NOOP],
        malformed=n_malformed,
        source_count=src_count,
        mirror_count_after=int(mirror_after),
    )


def _driver_sql(
    connect_fn: Callable[[], object], *statements: str, fetch: bool = False
) -> tuple | None:
    """Run ``statements`` on one short-lived driver-side connection and
    always close it. With ``fetch`` returns the last statement's first
    row; otherwise commits."""
    with closing(connect_fn()) as conn:
        cur = conn.cursor()
        for sql in statements:
            cur.execute(sql)
        if fetch:
            return cur.fetchone()
        conn.commit()
        return None


def run_sync(
    spark: SparkSession,
    sources_by_type: dict[str, DataFrame],
    connect_fn: Callable[[], object],
    table_prefix: str = "",
    batch_size: int = 10_000,
    mirror_by_type: dict[str, DataFrame] | None = None,
    parallel: bool = False,
    dialect: str = "ansi",
) -> dict[str, SyncStats]:
    """Per-type orchestration (R10, src/main.rs:303-339): bootstrap
    DDL idempotently, then sync each resource type. The reference is
    strictly sequential (src/main.rs:319-325); types are independent,
    so ``parallel=True`` submits them as concurrent Spark jobs from
    one thread per type — the SparkSession schedules them side by
    side, overlapping each type's scan/shuffle with another's JDBC
    writes. Safe because every type owns its table and its
    ``<table>__stage``; ``connect_fn`` must hand out a fresh
    connection per call (it already must for executor use).
    ``mirror_by_type`` optionally supplies a distributed mirror
    DataFrame per resource type (the production JDBC-read path — see
    ``sync_resources``)."""
    tables = {
        rt: f"{table_prefix}{rt.lower()}" for rt in sources_by_type
    }  # lowercase table naming, src/main.rs:185
    jdbc_upsert.create_mirror_tables(
        connect_fn, list(tables.values()), dialect=dialect
    )
    mirrors = mirror_by_type or {}
    if not parallel:
        return {
            rt: sync_resources(
                spark, df, connect_fn, tables[rt], batch_size,
                mirror_df=mirrors.get(rt), dialect=dialect,
            )
            for rt, df in sources_by_type.items()
        }
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(sources_by_type)) as pool:
        futures = {
            rt: pool.submit(
                sync_resources, spark, df, connect_fn, tables[rt],
                batch_size, mirror_df=mirrors.get(rt), dialect=dialect,
            )
            for rt, df in sources_by_type.items()
        }
        return {rt: f.result() for rt, f in futures.items()}
