"""sqlite connection factories handed to the sync as its ``connect_fn``.

Both are picklable callables, so Spark ships them to the Python workers
that run the sink's per-partition writes. ``CountingConnect`` is the
traced form: it counts connections, statements (one per ``execute`` or
``executemany`` call), rows written and failed connects, and times every
database call, into Spark accumulators
that the executors' updates flow back through.
"""

from __future__ import annotations

import sqlite3
import time


class SqliteConnect:
    """The plain factory, as the sync CLI builds it."""

    def __init__(self, path: str) -> None:
        self.path = path

    def __call__(self) -> sqlite3.Connection:
        return sqlite3.connect(self.path, timeout=60, check_same_thread=False)


SINK_COUNTERS = ("connections", "statements", "rows_written", "retries", "db_s")


class CountingConnect(SqliteConnect):
    def __init__(self, path: str, accums: dict) -> None:
        super().__init__(path)
        self.accums = accums

    def __call__(self):
        try:
            conn = super().__call__()
        except sqlite3.Error:
            self.accums["retries"].add(1)
            raise
        self.accums["connections"].add(1)
        return _Conn(conn, self.accums)


class _Timed:
    def __init__(self, target, accums: dict) -> None:
        self._target = target
        self._accums = accums

    def _call(self, name: str, *args):
        t0 = time.perf_counter()
        try:
            return getattr(self._target, name)(*args)
        finally:
            self._accums["db_s"].add(time.perf_counter() - t0)


class _Conn(_Timed):
    def cursor(self):
        return _Cursor(self._target.cursor(), self._accums)

    def commit(self):
        return self._call("commit")

    def rollback(self):
        return self._call("rollback")

    def close(self):
        return self._call("close")


class _Cursor(_Timed):
    def execute(self, sql, params=()):
        self._accums["statements"].add(1)
        out = self._call("execute", sql, params)
        if _is_write(sql):
            self._accums["rows_written"].add(max(self._target.rowcount, 0))
        return out

    def executemany(self, sql, seq):
        self._accums["statements"].add(1)
        out = self._call("executemany", sql, seq)
        if _is_write(sql):
            self._accums["rows_written"].add(max(self._target.rowcount, 0))
        return out

    def fetchone(self):
        return self._call("fetchone")

    def fetchall(self):
        return self._call("fetchall")


def _is_write(sql: str) -> bool:
    return sql.lstrip().split(None, 1)[0].upper() in ("INSERT", "UPDATE", "DELETE")
