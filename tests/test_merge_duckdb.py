"""Merge-strategy verification against DuckDB (VERDICT r2 item 5).

No PostgreSQL exists in the container, but DuckDB's SQL parser is
derived from Postgres' own grammar (libpg_query), so parsing AND
executing the staged-merge templates (`UPDATE ... FROM`,
`INSERT ... SELECT`, `DELETE ... WHERE IN`) on DuckDB is the closest
available check that they are PG-compatible — sqlite alone accepts a
laxer dialect. The container ships DuckDB 1.0 (MERGE INTO arrived in
1.4), so the check is template-execution equivalence plus an
atomicity probe, not a native-MERGE cross-run.

DuckDB is in-process and single-writer across OS processes, so the
connect_fn hands out connections serialized by an OS-level flock —
executor partitions (separate Python workers under local[32]) queue
on the lock instead of failing. Production targets (PG) take
concurrent writers; this is purely a fixture constraint.
"""

from __future__ import annotations

import json

import pytest

from fhir2sql_spark.sinks import jdbc_upsert
from fhir2sql_spark.sinks.duckdb_local import duckdb_connect_fn
from fhir2sql_spark.sync.pipeline import sync_resources


@pytest.fixture()
def duck_db(tmp_path):
    return duckdb_connect_fn(
        str(tmp_path / "mirror.duckdb"), str(tmp_path / "mirror.lock")
    )


def _resource(rid: str, version: int) -> dict:
    return {
        "resourceType": "Patient",
        "id": rid,
        "meta": {"versionId": str(version), "lastUpdated": "2024-05-01T12:00:00Z"},
    }


def _src(spark, resources):
    return spark.createDataFrame(
        [(json.dumps(r, sort_keys=True),) for r in resources], "resource string"
    )


@pytest.mark.slow
def test_merge_strategy_full_cdc_on_duckdb(spark, duck_db):
    """update+insert+delete staged and applied set-based on a
    PG-grammar engine; mirror converges to the source snapshot."""
    jdbc_upsert.create_mirror_tables(duck_db, ["patient"])
    first = [_resource(f"pat-{i:04d}", 1) for i in range(40)]
    s1 = sync_resources(spark, _src(spark, first), duck_db, "patient",
                        batch_size=16, strategy="merge")
    assert s1.inserts == 40 and s1.counts_match

    # drop %5==0 (deletes), bump %3==0 (updates), add 5 new (inserts)
    second = [
        _resource(f"pat-{i:04d}", 1 + (1 if i % 3 == 0 else 0))
        for i in range(40)
        if i % 5 != 0
    ] + [_resource(f"new-{i:04d}", 1) for i in range(5)]
    s2 = sync_resources(spark, _src(spark, second), duck_db, "patient",
                        batch_size=16, strategy="merge")
    assert s2.deletes == 8
    assert s2.updates == sum(1 for i in range(40) if i % 5 != 0 and i % 3 == 0)
    assert s2.inserts == 5
    assert s2.counts_match

    conn = duck_db()
    rows = conn.execute("SELECT resource FROM patient").fetchall()
    conn.close()
    got = sorted(
        (json.loads(r[0])["id"], json.loads(r[0])["meta"]["versionId"])
        for r in rows
    )
    want = sorted((r["id"], r["meta"]["versionId"]) for r in second)
    assert got == want


def test_merge_is_one_transaction_on_duckdb(duck_db):
    """Atomicity: a failing INSERT (pk collision) must roll back the
    already-executed UPDATE — the whole point of the staged strategy
    vs the reference's per-batch flushes (src/main.rs:250-282)."""
    jdbc_upsert.create_mirror_tables(duck_db, ["patient"])
    conn = duck_db()
    conn.execute("INSERT INTO patient (id, resource) VALUES (1, 'one'), (2, 'two')")
    conn.execute("CREATE TABLE patient__stage (pk_id INT, op TEXT, resource TEXT)")
    # update id=1, then insert a DUPLICATE pk 2 -> PRIMARY KEY violation
    conn.execute(
        "INSERT INTO patient__stage VALUES"
        " (1, 'update', 'one-v2'), (2, 'insert', 'dup')"
    )
    conn.close()

    with pytest.raises(Exception):
        jdbc_upsert.merge_stage_into_target(duck_db, "patient", "patient__stage")

    conn = duck_db()
    rows = dict(conn.execute("SELECT id, resource FROM patient").fetchall())
    conn.close()
    assert rows == {1: "one", 2: "two"}  # update rolled back with the insert


def test_merge_failure_raises_the_statement_error_not_the_rollback_error():
    """A rollback that fails too (the connection is already gone) must
    not replace the statement's own error, and the connection is still
    closed."""

    class Cursor:
        def execute(self, sql):
            if sql != "BEGIN":
                raise ValueError("statement failed")

    class Conn:
        closed = False

        def cursor(self):
            return Cursor()

        def commit(self):
            raise AssertionError("a failed merge must not commit")

        def rollback(self):
            raise RuntimeError("rollback failed")

        def close(self):
            Conn.closed = True

    with pytest.raises(ValueError, match="statement failed"):
        jdbc_upsert.merge_stage_into_target(Conn, "patient", "patient__stage")
    assert Conn.closed
