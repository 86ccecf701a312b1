"""One benchmark run inside one Spark driver process.

Started by ``perfbench/run.py``, which sets the launch environment
(cores, local dirs, worker PYTHONPATH, event log) before this process
imports pyspark. Writes its result as JSON to ``--out``.

Load model: one closed-loop client. The next sync or query is issued
only after the previous one returned; Spark runs ``local[<cores>]``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import sqlite3
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(ROOT), str(ROOT / "tools")]

import duckdb  # noqa: E402

import bench  # noqa: E402  (host_stamp, duckdb_headline)
from compare import rows_hash  # noqa: E402  (tools/compare.py)
from fhir2sql_spark import registry  # noqa: E402
from fhir2sql_spark.session import get_spark  # noqa: E402
from fhir2sql_spark.sinks import jdbc_upsert  # noqa: E402
from fhir2sql_spark.sources import rest_pages  # noqa: E402
from fhir2sql_spark.sync import pipeline  # noqa: E402
from fhir2sql_spark.tables import TABLES  # noqa: E402
from perfbench import gen, sinkdb  # noqa: E402
from perfbench.run import WORKLOADS, cpu_counters, unstolen_share  # noqa: E402
from perfbench.trace import EventLog, Tracer, covered  # noqa: E402

# Patients per page set, and resources per bundle page (one page file is
# one partition of the fhir_bundles scan).
SYNC_KEYS = 2000
PAGE_SIZE = 500
TABLE = "patient"

# Star-schema size as a multiple of the sf0.01 fixture (TESTDATA.md).
QUERY_SCALE = 1.0
FAMILIES = {
    "query_relational": ("scan", "aggs", "joins", "windows", "sort_setops", "scalars",
                         "tpch", "relational_ext", "sync", "streaming_batch", "behavior"),
    "query_llm": ("llm", "training", "vocab", "selection", "analysis", "retrieval",
                  "curation", "diagnostics", "udfs"),
}
# Queries drawn per family. The draw uses a fixed seed, so every run of a
# workload times the same queries and --seed changes only data and order.
PER_FAMILY = 1
SAMPLE_SEED = 20261017

# A run times at least three operations (sync cycles or queries) and whole
# query passes, however short --seconds is.
MIN_TIMED_OPS = 3


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.work = Path(args.work)
        self.trace = bool(args.trace)
        self.op_walls: list[float] = []
        self.op_shares: list[float] = []  # unstolen CPU share during each timed op
        self.items = 0  # resources synced or queries run in the timed ops
        # items per granted second of each sync cycle or query pass
        self.unit_rates: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.checked = 0  # keys or queries checked, for correct_rate
        self.wrong = 0
        self.unexpected: list[str] = []  # failures outside the known divergence
        self.layer: dict[str, float] = {}
        self.spark = None
        self.tracer: Tracer | None = None

    # --- set-up -------------------------------------------------------------

    def start_session(self) -> None:
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.args.workload}")
        self.layer["session.start_s"] = time.perf_counter() - t0
        # spans are recorded for the timed operations only
        self.tracer = Tracer(self.spark.sparkContext, enabled=False)

    def host_probe(self, sf_dir: str) -> dict:
        registry.load_all()
        self.sf_dir = sf_dir
        stamp = bench.host_stamp(sf_dir)
        stamp["duckdb_headline_s"] = sum(bench.duckdb_headline(sf_dir).values())
        return stamp

    # --- sync workloads -------------------------------------------------------

    def sync_setup(self) -> None:
        self.pages = str(self.work / "pages")
        self.db = str(self.work / "mirror.db")
        self.base_db = str(self.work / "mirror-base.db")
        rest_pages.register_bundle_file_source(self.spark)
        if self.trace:
            self.accums = {
                k: self.spark.sparkContext.accumulator(0.0 if k == "db_s" else 0)
                for k in sinkdb.SINK_COUNTERS
            }
            self.connect = sinkdb.CountingConnect(self.db, self.accums)
            self.tracer.wrap(pipeline, "read_mirror_versions",
                             lambda a, k: "sync.mirror_read")
            self.tracer.wrap(jdbc_upsert, "foreach_partition_write",
                             lambda a, k: "sinks.write." + a[1].split(None, 1)[0].lower())
        else:
            self.connect = sinkdb.SqliteConnect(self.db)
        if self.args.workload == "sync_resync":
            base = gen.clean_pageset(self.args.seed, SYNC_KEYS)
            self._reset_mirror()
            gen.write_pages(self.pages, base.entries, PAGE_SIZE)
            pipeline.sync_resources(self.spark, self._source(), self.connect, TABLE)
            wrong, _ = self._check_mirror(base)
            if wrong:
                raise RuntimeError(f"mirror preload left {len(wrong)} keys wrong")
            shutil.copyfile(self.db, self.base_db)
        self.cycle = 0

    def _reset_mirror(self) -> None:
        for suffix in ("", "-journal"):
            if os.path.exists(self.db + suffix):
                os.remove(self.db + suffix)
        jdbc_upsert.create_mirror_tables(sinkdb.SqliteConnect(self.db), [TABLE])

    def _source(self):
        return self.spark.read.format("fhir_bundles").option("path", self.pages).load()

    def sync_op(self, timed: bool) -> None:
        """One cycle: write the cycle's pages, reset the mirror, sync, check."""
        self.cycle += 1
        if self.args.workload == "sync_initial":
            ps = gen.initial_pageset(self.args.seed, SYNC_KEYS)
            self._reset_mirror()
        else:
            ps = gen.resync_pageset(self.args.seed, self.cycle, SYNC_KEYS)
            shutil.copyfile(self.base_db, self.db)
        gen.write_pages(self.pages, ps.entries, PAGE_SIZE)
        src = self._source()
        self.attempted += 1
        try:
            with self.tracer.span("sync", items=len(ps.entries)):
                c0, t0 = cpu_counters(), time.perf_counter()
                stats = pipeline.sync_resources(self.spark, src, self.connect, TABLE)
                wall, share = time.perf_counter() - t0, unstolen_share(c0, cpu_counters())
        except Exception as exc:  # noqa: BLE001 - a failed sync is counted, not fatal
            self.failed += 1
            self.unexpected.append(f"sync cycle {self.cycle} raised {exc!r:.300}")
            return
        wrong, known = self._check_mirror(ps)
        self.checked += len(ps.expected)
        self.wrong += len(wrong)
        if wrong - known:
            self.unexpected.append(
                f"sync cycle {self.cycle}: {len(wrong - known)} keys wrong, "
                f"e.g. {sorted(wrong - known)[:3]}")
        if stats.malformed != ps.malformed:
            self.unexpected.append(
                f"sync cycle {self.cycle}: malformed {stats.malformed} != {ps.malformed}")
        if timed:
            self.op_walls.append(wall)
            self.op_shares.append(share)
            self.items += len(ps.entries)
            self.unit_rates.append(len(ps.entries) / (wall * share))

    def _check_mirror(self, ps: gen.PageSet) -> tuple[set, set]:
        """Keys the mirror holds wrongly: absent, held more than once, held
        at another version than the source's, or not in the source at all.
        Also returns the subset explained by the known duplicate-key
        divergence (a key served twice that the sync inserts)."""
        conn = sqlite3.connect(self.db)
        try:
            rows = conn.execute(f"SELECT resource FROM {TABLE}").fetchall()  # noqa: S608
        finally:
            conn.close()
        held: dict[str, list[int]] = {}
        for (res,) in rows:
            doc = json.loads(res)
            held.setdefault(doc.get("id"), []).append(int(doc["meta"]["versionId"]))
        wrong = {k for k, v in ps.expected.items() if held.get(k) != [v]}
        wrong |= set(held) - set(ps.expected)
        return wrong, wrong & ps.inserted_dups

    # --- query workloads --------------------------------------------------------

    def query_setup(self) -> None:
        by_family: dict[str, list[str]] = {}
        for name, fn in registry.QUERIES.items():
            by_family.setdefault(fn.__module__.rsplit(".", 1)[-1], []).append(name)
        draw = random.Random(SAMPLE_SEED)
        self.names = sorted(
            q for fam in FAMILIES[self.args.workload]
            for q in draw.sample(sorted(by_family[fam]), PER_FAMILY))
        self.pass_no = 0

    def correctness_pass(self) -> None:
        """Untimed first pass: every query's order-insensitive row hash
        against its DuckDB oracle; queries without an oracle must not raise."""
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.sf_dir}/{t}.parquet')")
            for name in self._order():
                self.attempted += 1
                self.checked += 1
                try:
                    sdf = registry.QUERIES[name](self.spark, self.sf_dir)
                    cols, rows = sdf.columns, [tuple(r) for r in sdf.collect()]
                except Exception as exc:  # noqa: BLE001
                    self._query_failed(name, f"raised {exc!r:.300}")
                    continue
                if name in registry.ORACLE:
                    res = con.execute(registry.ORACLE[name])
                    d_cols = [d[0] for d in res.description]
                    d_rows = res.fetchall()
                    if sorted(cols) != sorted(d_cols) or len(rows) != len(d_rows) or (
                        rows_hash(rows, [cols.index(c) for c in sorted(cols)])
                        != rows_hash(d_rows, [d_cols.index(c) for c in sorted(d_cols)])
                    ):
                        self.wrong += 1
                        self.unexpected.append(f"{name}: result differs from its oracle")
        finally:
            con.close()

    def _query_failed(self, name: str, why: str) -> None:
        self.failed += 1
        self.wrong += 1
        self.unexpected.append(f"{name} {why}")

    def _order(self) -> list[str]:
        self.pass_no += 1
        order = list(self.names)
        random.Random(f"{self.args.seed}/{self.pass_no}").shuffle(order)
        return order

    def query_pass(self) -> None:
        granted, done = 0.0, 0
        with self.tracer.span("pass") as sp:
            for name in self._order():
                self.attempted += 1
                try:
                    with self.tracer.span("query", query=name):
                        c0, t0 = cpu_counters(), time.perf_counter()
                        with self.tracer.span("queries.plan"):
                            df = registry.QUERIES[name](self.spark, self.sf_dir)
                        with self.tracer.span("queries.exec"):
                            df.write.format("noop").mode("overwrite").save()
                        wall = time.perf_counter() - t0
                        share = unstolen_share(c0, cpu_counters())
                except Exception as exc:  # noqa: BLE001
                    self._query_failed(name, f"raised {exc!r:.300}")
                    continue
                self.op_walls.append(wall)
                self.op_shares.append(share)
                self.items += 1
                granted, done = granted + wall * share, done + 1
            if done:
                self.unit_rates.append(done / granted)
            if sp is not None:
                sp.attrs["blocks"] = sum(
                    r.numCachedPartitions()
                    for r in self.spark.sparkContext._jsc.sc().getRDDStorageInfo())

    # --- the run ----------------------------------------------------------------

    def execute(self) -> dict:
        wl, seconds = self.args.workload, self.args.seconds
        setup = {"launch": time.time() - float(os.environ["PERFBENCH_T0"])}
        mark = time.perf_counter()

        def lap(name: str) -> None:
            nonlocal mark
            setup[name] = time.perf_counter() - mark
            mark = time.perf_counter()

        sf_dir = str(self.work / "sf")
        gen.write_tables(sf_dir, self.args.seed, QUERY_SCALE)
        lap("tables")
        host = self.host_probe(sf_dir)
        lap("host_probe")
        self.start_session()
        lap("session")
        is_sync = wl.startswith("sync_")
        if is_sync:
            self.sync_setup()
            # sync_resync's cold mirror preload is its warm-up
            if wl == "sync_initial":
                self.sync_op(timed=False)  # output-checked like a timed cycle
        else:
            self.query_setup()
            self.correctness_pass()
        lap("warm_up")
        setup_s = time.time() - float(os.environ["PERFBENCH_T0"])
        setup_share = unstolen_share(
            tuple(int(x) for x in os.environ["PERFBENCH_CPU0"].split(",")), cpu_counters())

        if self.trace and is_sync:
            self.accums_start = {k: a.value for k, a in self.accums.items()}
        self.tracer.enabled = self.trace
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds or len(self.op_walls) < MIN_TIMED_OPS:
            if is_sync:
                self.sync_op(timed=True)
            else:
                self.query_pass()
            if self.failed:
                break
        if self.trace and is_sync:
            with self.tracer.span("sources.scan"):
                self._source().write.format("noop").mode("overwrite").save()
            self.accums_final = {k: a.value for k, a in self.accums.items()}
        self.spark.stop()  # closes the event log

        if not self.op_walls:
            raise RuntimeError("no operation completed: " + "; ".join(self.unexpected[:3]))
        walls = self.op_walls
        self.granted = [w * f for w, f in zip(walls, self.op_shares)]
        raw = {"setup_s": setup_s, "items_per_s": self.items / sum(walls),
               "op_s_geomean": geomean(walls)}
        metrics = {
            "setup_s": (setup_s * setup_share, "s"),
            "items_per_s": (statistics.median(self.unit_rates), "1/s"),
            "op_s_geomean": (geomean(self.granted), "s"),
            "correct_rate": (1.0 - self.wrong / max(self.checked, 1), "fraction"),
        }
        if self.trace:
            metrics = self.layer_metrics(is_sync)
        return {
            "correct": not self.unexpected,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            "notes": {"host": host, "setup": setup, "samples": len(walls),
                      "op_walls": [round(w, 3) for w in self.op_walls],
                      "op_shares": [round(f, 3) for f in self.op_shares],
                      "setup_share": setup_share,
                      "raw": raw, "unexpected": self.unexpected[:10],
                      "queries": getattr(self, "names", None)},
        }

    def layer_metrics(self, is_sync: bool) -> dict:
        log = EventLog(self.args.event_log)
        tr = self.tracer
        zero = dict.fromkeys(LAYER_UNITS, 0.0)
        out = {**zero, "session.start_s": self.layer["session.start_s"],
               "trace.op_s_geomean": geomean(self.granted)}
        if is_sync:
            syncs = tr.named("sync")
            n = len(syncs)
            costs = [log.total(tr.subtree(sp)) for sp in syncs]
            items = sum(sp.attrs["items"] for sp in syncs)
            scan = tr.named("sources.scan")[0]
            out["sources.scan_s"] = scan.wall
            out["sources.scans_per_sync"] = sum(c.source_rows for c in costs) / items
            out["sync.jobs_per_sync"] = sum(c.jobs for c in costs) / n
            out["sync.driver_s"] = statistics.median(
                sp.wall - covered(c.job_spans, sp.start, sp.end) for sp, c in zip(syncs, costs))
            out["sync.executor_cpu_s"] = sum(c.cpu_s for c in costs) / n
            out["sync.shuffle_bytes"] = sum(c.shuffle_bytes for c in costs) / n
            sync_ids = {sid for sp in syncs for sid in tr.subtree(sp)}

            def per_sync(name):
                return sum(sp.wall for sp in tr.named(name) if sp.sid in sync_ids) / n

            out["sync.mirror_read_s"] = per_sync("sync.mirror_read")
            for op in ("insert", "update", "delete"):
                out[f"sinks.{op}_write_s"] = per_sync(f"sinks.write.{op}")
            for k in sinkdb.SINK_COUNTERS:
                out[f"sinks.{k}"] = (self.accums_final[k] - self.accums_start[k]) / n
        else:
            passes = tr.named("pass")
            n = len(passes)
            costs = [log.total(tr.subtree(sp)) for sp in passes]

            def per_pass(name):
                return sum(sp.wall for sp in tr.named(name)) / n

            out["queries.plan_s"] = per_pass("queries.plan")
            out["queries.exec_s"] = per_pass("queries.exec")
            for key, attr in (("queries.jobs", "jobs"), ("queries.stages", "stages"),
                              ("queries.tasks", "tasks"), ("queries.executor_cpu_s", "cpu_s"),
                              ("queries.gc_s", "gc_s"), ("queries.shuffle_bytes", "shuffle_bytes"),
                              ("queries.spill_bytes", "spill_bytes"),
                              ("operators.python_worker_s", "python_worker_s"),
                              ("operators.pin_jobs", "pin_jobs")):
                out[key] = sum(getattr(c, attr) for c in costs) / n
            out["operators.pin_s"] = sum(
                covered(c.pin_spans, sp.start, sp.end) for sp, c in zip(passes, costs)) / n
            out["operators.blocks_left"] = statistics.median(sp.attrs["blocks"] for sp in passes)
        return {k: (v, LAYER_UNITS[k]) for k, v in out.items()}


LAYER_UNITS = {
    "session.start_s": "s",
    "sources.scan_s": "s",
    "sources.scans_per_sync": "ratio",
    "sync.jobs_per_sync": "count",
    "sync.driver_s": "s",
    "sync.executor_cpu_s": "s",
    "sync.shuffle_bytes": "bytes",
    "sync.mirror_read_s": "s",
    "sinks.insert_write_s": "s",
    "sinks.update_write_s": "s",
    "sinks.delete_write_s": "s",
    "sinks.db_s": "s",
    "sinks.statements": "count",
    "sinks.rows_written": "count",
    "sinks.connections": "count",
    "sinks.retries": "count",
    "queries.plan_s": "s",
    "queries.exec_s": "s",
    "queries.jobs": "count",
    "queries.stages": "count",
    "queries.tasks": "count",
    "queries.executor_cpu_s": "s",
    "queries.gc_s": "s",
    "queries.shuffle_bytes": "bytes",
    "queries.spill_bytes": "bytes",
    "operators.python_worker_s": "s",
    "operators.pin_jobs": "count",
    "operators.pin_s": "s",
    "operators.blocks_left": "count",
    "trace.op_s_geomean": "s",
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--event-log", default=None)
    ap.add_argument("--out", required=True)
    run = Run(ap.parse_args())
    result = run.execute()
    Path(run.args.out).write_text(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
