"""One workload in one fresh process: start the session, run, write the
result file. ``run.py`` starts this, samples its process tree and turns
the result file into the benchmark's output line.

    python3 perfbench/worker.py WORKLOAD SEED SECONDS TRACE RESULT_JSON

The working directory is the run's fresh work directory; the Spark
warehouse, checkpoints, broker and sink files all live under it.
"""

from __future__ import annotations

import json
import os
import sys
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)


class Counters:
    """Spark jobs, stages and tasks started between two marks, read from
    the scheduler's id counters and the status tracker. Ids are handed
    out in order, so everything between two marks belongs to the region.
    A mark is two cheap calls; the per-stage lookups of ``between`` cost
    a call per stage, so callers make them outside timed regions."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._dag = self._sc._jsc.sc().dagScheduler()

    def mark(self) -> tuple[int, int]:
        return self._dag.nextJobId(), self._dag.nextStageId()

    def between(self, a: tuple[int, int], b: tuple[int, int]) -> dict[str, int]:
        (job0, stage0), (job1, stage1) = a, b
        tracker = self._sc.statusTracker()
        tasks = failed = 0
        for sid in range(stage0, stage1):
            info = tracker.getStageInfo(sid)
            if info is not None:
                tasks += info.numCompletedTasks
                failed += info.numFailedTasks
        return {"jobs": job1 - job0, "stages": stage1 - stage0,
                "tasks": tasks, "failed_tasks": failed}


class Context:
    def __init__(self, spark, tracer, seed: int, seconds: int, work: str):
        self.spark = spark
        self.tracer = tracer
        self.counters = Counters(spark)
        self.seed = seed
        self.seconds = seconds
        self.work = work


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit, so the run leaves
    no process behind."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str]) -> int:
    workload, seed, seconds, trace, result_path = argv
    seed, seconds = int(seed), int(seconds)

    import statistics

    import batch
    import ingest
    from spans import Tracer

    from dataingestiontohana_spark.session import get_spark

    fn = {"batch_surface": batch.run, "ingest_trickle": ingest.run_trickle,
          "ingest_backlog": ingest.run_backlog}[workload]
    tracer = Tracer(trace == "1", f"{workload}-{seed}-{os.getpid()}")
    work = os.getcwd()
    with tracer.span("session.start"):
        spark = get_spark(
            f"perfbench-{workload}",
            extra_conf={"spark.sql.warehouse.dir":
                        os.path.join(work, "warehouse")},
        )
    session_s = time.perf_counter() - T_START
    conf = {
        "host_cpus": os.cpu_count(),
        "master": spark.sparkContext.master,
        "driver_memory": spark.sparkContext.getConf().get(
            "spark.driver.memory"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }
    try:
        res = fn(Context(spark, tracer, seed, seconds, work))
    finally:
        stop_spark(spark)

    setups = res.pop("setup_s")
    out = {
        "workload": workload,
        "seed": seed,
        "trace": trace == "1",
        "attempted": res["attempted"],
        "failed": res["failed"],
        "correct": res["failed"] == 0 and res.get("audit_ok", True),
        # process start to a live session, plus the median of the
        # workload's repeated input set-ups
        "e2e": {"setup_s": session_s + statistics.median(setups),
                **res["e2e"]},
        "layer": {"session.start_s": session_s, **res.get("layer", {})},
        "detail": {"spark": conf, "session_s": session_s,
                   "setup_reps_s": setups, **res["detail"]},
    }
    if tracer.enabled:
        out["spans"] = tracer.spans
        out["self_s"] = tracer.self_times()
    with open(result_path, "w") as fh:
        json.dump(out, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
