"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload sync_resync --seed 1 --seconds 5 --trace 0

Run from the repository root. Starts one Spark driver process
(``perfbench/worker.py``) with a self-contained launch environment,
samples the resident memory of that process tree while it runs, prints
every metric by name with its unit, and ends with one JSON line:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on the
Spark event log and the span wrappers and reports the per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("sync_initial", "sync_resync", "query_relational", "query_llm")
DEADLINE_S = 150.0


def cpu_counters() -> tuple[int, int]:
    """(busy, stolen) clock ticks summed over the host's CPUs."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in fh.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def unstolen_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    """Share of the CPU time asked for between two ``cpu_counters``
    readings that the hypervisor granted rather than stole."""
    busy, stolen = end[0] - start[0], end[1] - start[1]
    return busy / (busy + stolen) if busy + stolen > 0 else 1.0


def _processes() -> dict[int, tuple[int, int, int]]:
    """pid -> (parent pid, process group, resident pages), from /proc."""
    out = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:  # the process ended while /proc was being read
                continue
            out[int(entry)] = (int(fields[1]), int(fields[2]), int(fields[21]))
    return out


def _tree_rss_mb(root_pid: int) -> float:
    """Resident memory of ``root_pid`` and all its descendants."""
    procs = _processes()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += procs[pid][2] if pid in procs else 0
        todo.extend(children.get(pid, ()))
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


def _group_alive(pgid: int) -> bool:
    return any(pgrp == pgid for _, pgrp, _ in _processes().values())


def _stop_group(pgid: int, grace_s: float) -> None:
    """Wait up to ``grace_s`` for the processes the run started (the JVM
    finishes its shutdown hooks after the driver exits), then stop any
    that remain, and return only once all have ended."""
    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        end = time.time() + wait_s
        while _group_alive(pgid):
            if time.time() >= end:
                break
            time.sleep(0.1)
        else:
            return


def _launch_env(work: Path, trace: bool) -> dict[str, str]:
    env = dict(os.environ)
    cpus = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    conf = [
        "spark.ui.showConsoleProgress=false",
        f"spark.local.dir={work / 'spark-local'}",
        f"spark.sql.warehouse.dir={work / 'warehouse'}",
    ]
    if trace:
        (work / "eventlog").mkdir()
        conf += [
            "spark.eventLog.enabled=true",
            "spark.eventLog.compress=false",
            f"spark.eventLog.dir=file://{work / 'eventlog'}",
        ]
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(tmp),
        PYTHONPATH=os.pathsep.join(
            [str(ROOT)] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])),
        PYSPARK_SUBMIT_ARGS=" ".join(
            [f"--conf {c}" for c in conf]
            + [f'--driver-java-options "{java_opts}"', "pyspark-shell"]),
        PERFBENCH_T0=repr(time.time()),
        PERFBENCH_CPU0=",".join(map(str, cpu_counters())),
    )
    return env


def _run_worker(args, work: Path) -> tuple[dict | None, float]:
    """Run the worker process; return its result (None if it failed) and
    the peak resident memory of its process tree in MB."""
    out = work / "result.json"
    cmd = [sys.executable, str(ROOT / "perfbench" / "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(work), "--event-log", str(work / "eventlog"), "--out", str(out)]
    env = _launch_env(work, bool(args.trace))
    peak = [0.0]
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                            start_new_session=True)
    done = threading.Event()

    def sample() -> None:
        while not done.is_set():
            peak[0] = max(peak[0], _tree_rss_mb(proc.pid))
            done.wait(0.1)

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    code = None
    try:
        code = proc.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        pass
    finally:
        done.set()
        sampler.join()
        _stop_group(proc.pid, grace_s=0.0 if code is None else 15.0)
        proc.wait()
    if code != 0 or not out.exists():
        why = "timed out" if code is None else f"exited with {code}"
        print(f"error: workload {args.workload} {why}", file=sys.stderr)
        return None, peak[0]
    return json.loads(out.read_text()), peak[0]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    missing = [p for p in ("fhir2sql_spark", "bench.py", "tools/compare.py")
               if not (ROOT / p).exists()]
    if missing:
        print(f"error: {ROOT} lacks {missing}; run from a checkout of the repository",
              file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    # a terminated benchmark still stops the Spark processes it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result, peak = _run_worker(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        return 1

    notes = result.pop("notes")
    if args.trace:
        result["metrics"]["memory.peak_rss_mb"] = {"value": peak, "unit": "MB"}
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"samples={notes['samples']} host={json.dumps(notes['host'])}")
    print(f"# op_walls_s {notes['op_walls']} unstolen {notes['op_shares']}")
    print(f"# raw {json.dumps(notes['raw'])} setup_unstolen {notes['setup_share']:.3f}")
    print("# setup_parts_s " + json.dumps({k: round(v, 2) for k, v in notes["setup"].items()}))
    for msg in notes["unexpected"]:
        print(f"# check failed: {msg}")
    for name, m in result["metrics"].items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
