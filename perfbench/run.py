"""The repository benchmark: one command per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see batch.py and ingest.py for why each exists):

- ``batch_surface``   repeated passes over driver registry entries q14, q72;
- ``ingest_trickle``  open-loop 200 rows/s file trickle, default sink path;
- ``ingest_backlog``  30k-row drains through the producer/consumer graphs.

Each run starts the workload in a fresh child process (``worker.py``)
inside a fresh work directory under ``.perfbench/``, samples the
child's whole process tree (Python driver, JVM, Python workers) from
``/proc`` for peak resident memory, counts the ERROR lines it logged, checks that
no process outlives it, and prints one JSON line last:

    {"correct", "attempted", "failed", "metrics": {name: {value, unit}}}

``--trace 0`` (the timing run) reports the end-to-end metrics; ``--trace
1`` reports the per-layer metrics from a run with spans and Spark
listeners attached. Full results, including every span of a traced run,
are kept in ``.perfbench/results/``. The run fails (non-zero exit, no
result line) when the program cannot be imported or a workload errors.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("batch_surface", "ingest_trickle", "ingest_backlog")
TIMEOUT_S = 170
SAMPLE_S = 0.1

E2E_UNITS = {"setup_s": "s", "work_s": "s", "latency_p50_ms": "ms"}
LAYER_UNITS = {
    "session.start_s": "s",
    "catalyst.plan_ms_mean": "ms",
    "exec.ms_mean": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "plans.build_jobs": "count",
    "shared_frames.builds": "count",
    "streaming.batches": "count",
    "sink.writes": "count",
    "sink.rows_per_write": "rows",
    "kafkafake.lag_rows_max": "rows",
    "log.error_lines": "count",
}

# log4j's plain layout and Spark's structured JSON layout
ERROR_LINE = re.compile(r'^\d\d/\d\d/\d\d \d\d:\d\d:\d\d ERROR |"level": "ERROR"')


def _proc_stat(pid: int) -> tuple[int, int, int] | None:
    """(parent pid, start time in ticks, resident pages) or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            rest = fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return int(rest[1]), int(rest[19]), int(rest[21])


def _tree(root: int) -> dict[tuple[int, int], int]:
    """{(pid, start time): resident pages} for root and its descendants."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _proc_stat(int(d))
            if st is not None:
                stats[int(d)] = st
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[(pid, stats[pid][1])] = stats[pid][2]
            todo.extend(kids.get(pid, []))
    return out


def _reap(seen: set[tuple[int, int]]) -> int:
    """Kill every process of the run's tree that is still alive (same
    pid AND start time, so a recycled pid is never touched) and wait
    until each is gone. Returns how many had to be killed."""
    left = [(p, s) for p, s in seen if (_proc_stat(p) or (0, -1))[1] == s]
    for pid, _ in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(
            (_proc_stat(p) or (0, -1))[1] == s for p, s in left):
        time.sleep(0.05)
    return len(left)


def run_child(args, work: str, result: str, log: str) -> tuple[int, float, int]:
    """Run the workload; returns (exit code, peak tree RSS in MB,
    processes that had to be killed afterwards)."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else []))
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    if args.workload == "batch_surface":
        # two task threads leave the host's other cores to the JIT and
        # GC threads that a young JVM keeps busy; with one per core the
        # passes' warm-up, and so their times, followed the scheduler.
        # The streaming workloads keep one per core: the backlog's
        # producer and consumer queries run at the same time.
        env.setdefault("SPARK_GRAFT_CPUS", "2")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the JVM keeps native-library copies in java.io.tmpdir and, unless
    # perf data is off, a counters file in /tmp/hsperfdata_<user>
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    page_mb = os.sysconf("SC_PAGE_SIZE") / 2**20
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), args.workload,
           str(args.seed), str(args.seconds), str(args.trace), result]
    seen: set[tuple[int, int]] = set()
    peak = 0.0
    with open(log, "w") as fh:
        child = subprocess.Popen(cmd, cwd=work, env=env, stdout=fh,
                                 stderr=subprocess.STDOUT)
        deadline = time.monotonic() + TIMEOUT_S
        try:
            while child.poll() is None and time.monotonic() < deadline:
                tree = _tree(child.pid)
                seen.update(tree)
                peak = max(peak, sum(tree.values()) * page_mb)
                time.sleep(SAMPLE_S)
        finally:
            # also on timeout or SIGTERM: nothing of the run may outlive it
            if child.poll() is None:
                child.kill()
            rc = child.wait()
            killed = _reap(seen)
    return rc, peak, killed


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = os.path.join(OUT, f"work-{os.getpid()}-{time.time_ns()}")
    results = os.path.join(OUT, "results")
    os.makedirs(work)
    os.makedirs(results, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    result = os.path.join(work, "result.json")
    log = os.path.join(results, f"{tag}.log")
    try:
        rc, peak, killed = run_child(args, work, result, log)
        if rc != 0 or not os.path.exists(result):
            sys.stderr.write(f"workload {args.workload} failed (exit {rc}); "
                             f"log: {os.path.relpath(log, ROOT)}\n")
            return 1
        with open(result) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open(log, errors="replace") as fh:
        errors = sum(1 for line in fh if ERROR_LINE.search(line))
    # reported, not bounded: the JVM's heap grows by GC ergonomics, and
    # the peak spread 10-34% between runs of identical code on one host
    res["detail"]["peak_rss_mb"] = peak
    res["layer"]["log.error_lines"] = errors
    res["detail"]["processes_killed_after_run"] = killed
    with open(os.path.join(results, f"{tag}.json"), "w") as fh:
        json.dump(res, fh)

    want, got = (LAYER_UNITS, res["layer"]) if args.trace else (
        E2E_UNITS, res["e2e"])
    metrics = {k: {"value": got[k], "unit": u} for k, u in want.items()}
    detail = {k: v for k, v in res["detail"].items() if k != "layers"}
    print(json.dumps({"detail": detail, **(
        {"layers": res["detail"]["layers"]} if args.trace else {})}))
    print(json.dumps({"correct": res["correct"],
                      "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
