"""Relational upsert/delete sink — the reference's write path (R6-R8).

The reference batches multi-row UPDATE/INSERT/DELETE SQL built by
string interpolation with $$-quoting (/root/reference/src/main.rs:
78-138) — injection-prone by design (a resource containing ``$$``
breaks the statement, SURVEY §2.1). This sink only ever issues
PARAMETERIZED statements.

Two strategies:

- ``foreach_partition_write``: each partition opens its own DBAPI
  connection (via a picklable ``connect_fn``) and executes
  parameterized ``executemany`` batches of ``batch_size`` rows
  (default 10k, the reference's pg_batch_size, src/main.rs:359) in a
  per-partition transaction. Executor-parallel — N partitions write
  concurrently vs the reference's single serialized pool.

- ``stage_and_merge``: write the change-set to a staging table
  (``df.write.jdbc`` append — Spark-native, parallel), then issue one
  set-based MERGE/UPDATE…FROM/DELETE…USING on the target. One
  transaction, exactly-once-ish visibility; the preferred 100 TB
  shape (the per-row path holds locks longer and retries
  non-atomically).

Tests run the DBAPI path against sqlite/duckdb in-process (no PG in
the container); the SQL templates are ANSI and PG-compatible.

DDL bootstrap mirrors src/db_utils.rs:84-144 with
``last_updated_at`` maintained by the sink itself instead of a
trigger (SURVEY §1.1).
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator, Sequence
from contextlib import closing, contextmanager, suppress

from pyspark.sql import DataFrame

MIRROR_DDL = """
CREATE TABLE IF NOT EXISTS {table} (
    id INTEGER PRIMARY KEY,
    created_at TIMESTAMP NOT NULL DEFAULT CURRENT_TIMESTAMP,
    last_updated_at TIMESTAMP NOT NULL DEFAULT CURRENT_TIMESTAMP,
    resource TEXT NOT NULL
)
"""

INSERT_SQL = "INSERT INTO {table} (id, resource) VALUES (?, ?)"
UPDATE_SQL = (
    "UPDATE {table} SET resource = ?, last_updated_at = CURRENT_TIMESTAMP"
    " WHERE id = ?"
)
DELETE_SQL = "DELETE FROM {table} WHERE id = ?"


def connect_with_retry(
    connect_fn: Callable[[], object],
    attempts: int = 20,
    backoff_s: float = 5.0,
    sleep: Callable[[float], None] = time.sleep,
):
    """Bounded-retry connection establishment, mirroring the
    reference's pool construction (/root/reference/src/db_utils.rs:
    6-32: 20 attempts, 5s backoff). Raises the final error."""
    for attempt in range(attempts):
        try:
            return connect_fn()
        except Exception:
            if attempt == attempts - 1:
                raise
            sleep(backoff_s)
    raise RuntimeError("unreachable")


@contextmanager
def transaction(conn) -> Iterator:
    """One DBAPI transaction on ``conn``: commit when the block
    succeeds; when it raises, roll back and re-raise the block's own
    error — a rollback that fails too (a dropped connection) is
    suppressed so it cannot replace that error. Always closes."""
    try:
        yield conn
        conn.commit()
    except Exception:
        with suppress(Exception):
            conn.rollback()
        raise
    finally:
        conn.close()


def create_mirror_tables(
    connect_fn: Callable[[], object],
    tables: Sequence[str],
    dialect: str = "ansi",
) -> None:
    """Idempotent DDL bootstrap (CREATE TABLE IF NOT EXISTS x N),
    mirroring src/db_utils.rs:84-111. ``dialect="pg"`` additionally
    installs the ``update_last_updated()`` plpgsql trigger pair on
    each table (src/db_utils.rs:112-134) — idempotent via
    CREATE OR REPLACE FUNCTION + drop-then-create trigger."""
    with transaction(connect_fn()) as conn:
        cur = conn.cursor()
        if dialect == "pg":
            from fhir2sql_spark.sinks.pg_dialect import pg_statements

            for t in tables:
                st = pg_statements(t)
                cur.execute(st["ddl"])
                cur.execute(st["touch_fn"])
                cur.execute(
                    f"DROP TRIGGER IF EXISTS update_last_updated_trigger"
                    f" ON {t}"  # noqa: S608
                )
                cur.execute(st["touch_trigger"])
        else:
            for t in tables:
                cur.execute(MIRROR_DDL.format(table=t))


def table_exists(connect_fn: Callable[[], object], table: str) -> bool:
    """Set-containment existence check (src/db_utils.rs:63-81),
    via a portable probe query."""
    with closing(connect_fn()) as conn:
        cur = conn.cursor()
        try:
            cur.execute(f"SELECT 1 FROM {table} WHERE 1=0")  # noqa: S608
            return True
        except Exception:
            return False


def foreach_partition_write(
    df: DataFrame,
    sql: str,
    connect_fn: Callable[[], object],
    batch_size: int = 10_000,
    retry_attempts: int = 3,
    retry_backoff_s: float = 1.0,
) -> None:
    """Executor-side parameterized writes: one connection + one
    transaction per partition, executemany per batch_size rows.
    Row tuples are taken positionally from the DataFrame columns, so
    the caller selects columns in the placeholder order."""

    def write_partition(rows) -> None:
        conn = connect_with_retry(connect_fn, attempts=retry_attempts,
                                  backoff_s=retry_backoff_s)
        with transaction(conn):
            cur = conn.cursor()
            batch = []
            for row in rows:
                batch.append(tuple(row))
                if len(batch) >= batch_size:
                    cur.executemany(sql, batch)
                    batch = []
            if batch:
                cur.executemany(sql, batch)

    df.foreachPartition(write_partition)


def apply_changeset(
    inserts: DataFrame,
    updates: DataFrame,
    deletes: DataFrame,
    table: str,
    connect_fn: Callable[[], object],
    batch_size: int = 10_000,
    dialect: str = "ansi",
) -> None:
    """Apply a CDC change-set (reference flush semantics,
    src/main.rs:250-282, with independent batch boundaries — the
    reference's coupled else-if flush is a documented quirk we do NOT
    replicate, SURVEY §2.1).

    inserts: (pk_id, resource); updates: (resource, pk_id);
    deletes: (pk_id,).

    ``dialect="pg"`` swaps in the PostgreSQL statements
    (sinks/pg_dialect.py — %s paramstyle, ::jsonb casts; same
    positional tuple contract, golden-pinned + grammar-validated in
    tests/test_pg_dialect.py). ``connect_fn`` is then expected to be a
    psycopg-style factory."""
    if dialect == "pg":
        from fhir2sql_spark.sinks.pg_dialect import (
            PG_DELETE_SQL,
            PG_INSERT_SQL,
            PG_UPDATE_SQL,
        )

        ins, upd, dele = PG_INSERT_SQL, PG_UPDATE_SQL, PG_DELETE_SQL
    elif dialect == "ansi":
        ins, upd, dele = INSERT_SQL, UPDATE_SQL, DELETE_SQL
    else:
        raise ValueError(f"unknown sink dialect {dialect!r}")
    foreach_partition_write(
        inserts, ins.format(table=table), connect_fn, batch_size
    )
    foreach_partition_write(
        updates, upd.format(table=table), connect_fn, batch_size
    )
    foreach_partition_write(
        deletes, dele.format(table=table), connect_fn, batch_size
    )


def copy_partition_write(
    df: DataFrame,
    table: str,
    columns: Sequence[str],
    connect_fn: Callable[[], object],
    retry_attempts: int = 3,
    retry_backoff_s: float = 1.0,
) -> None:
    """Bulk append via PostgreSQL ``COPY … FROM STDIN`` (VERDICT r7
    #6): one COPY stream + one transaction per partition, the real
    high-throughput ingest path — one statement parse for the whole
    partition instead of per-batch INSERT mogrification, and COPY's
    text-format escaping carries newline/tab-bearing payloads the
    row-per-line INSERT protocol must reject. ``connect_fn`` must
    produce connections exposing ``copy_rows`` (sinks/psql_dbapi.py);
    measured ~195k rows/s vs the multi-row-INSERT path's ~8.5k on the
    throwaway cluster, a ~23× speedup (SCALE.md "PG sink bulk-load").
    Executor-parallel like foreach_partition_write — N partitions COPY
    concurrently."""

    def write_partition(rows) -> None:
        conn = connect_with_retry(connect_fn, attempts=retry_attempts,
                                  backoff_s=retry_backoff_s)
        with transaction(conn):
            conn.copy_rows(table, columns, (tuple(r) for r in rows))

    df.foreachPartition(write_partition)


# --- staging + set-based merge (the scale path) ---------------------

MERGE_FROM_STAGE_SQL = """
UPDATE {table} SET resource = s.resource,
                   last_updated_at = CURRENT_TIMESTAMP
FROM {stage} s
WHERE {table}.id = s.pk_id AND s.op = 'update'
"""

INSERT_FROM_STAGE_SQL = """
INSERT INTO {table} (id, resource)
SELECT s.pk_id, s.resource FROM {stage} s WHERE s.op = 'insert'
"""

DELETE_FROM_STAGE_SQL = """
DELETE FROM {table}
WHERE id IN (SELECT s.pk_id FROM {stage} s WHERE s.op = 'delete')
"""


def merge_stage_into_target(
    connect_fn: Callable[[], object],
    table: str,
    stage: str,
    dialect: str = "ansi",
) -> None:
    """One set-based transaction applying a staged change-set. The
    stage table holds (pk_id, op, resource) loaded in parallel by
    ``df.write`` beforehand.

    The guarded BEGIN makes the three statements one transaction on
    autocommit-by-default engines (DuckDB's DBAPI); python sqlite3
    auto-begins on DML, and drivers that reject a redundant BEGIN
    simply keep their own transaction semantics (verified atomic for
    both local engines in tests/test_merge_duckdb.py).

    ``dialect="pg"`` swaps in the PostgreSQL stage statements (the
    ``::jsonb`` casts a JSONB target column requires — PG has no
    implicit text->jsonb assignment cast)."""
    if dialect == "pg":
        from fhir2sql_spark.sinks.pg_dialect import (
            PG_DELETE_FROM_STAGE_SQL,
            PG_INSERT_FROM_STAGE_SQL,
            PG_MERGE_FROM_STAGE_SQL,
        )

        merge_sql, ins_sql, del_sql = (
            PG_MERGE_FROM_STAGE_SQL,
            PG_INSERT_FROM_STAGE_SQL,
            PG_DELETE_FROM_STAGE_SQL,
        )
    else:
        merge_sql, ins_sql, del_sql = (
            MERGE_FROM_STAGE_SQL,
            INSERT_FROM_STAGE_SQL,
            DELETE_FROM_STAGE_SQL,
        )
    with transaction(connect_fn()) as conn:
        cur = conn.cursor()
        with suppress(Exception):
            cur.execute("BEGIN")
        cur.execute(merge_sql.format(table=table, stage=stage))
        cur.execute(ins_sql.format(table=table, stage=stage))
        cur.execute(del_sql.format(table=table, stage=stage))
