"""batch_surface: repeated passes over driver-facing registry entries.

Each entry is built (driver plan construction, including any job Spark
starts eagerly while building), planned by Catalyst and executed by ONE
action that returns its row count and an order-insensitive fingerprint.

Set-up, timed apart and repeated: build q72's persisted bucketed layout
in the run's own fresh warehouse, so the passes find it in place instead
of paying the rewrite inside q72's cell.

Then one pass from cold shared frames and one more while the JIT is
still compiling the planner; both are checked and reported, not
measured. The measured passes follow until the run's seconds are spent,
at least MIN_PASSES of them, and the run reports their median. A single
cold pass per process, as a driver sees it, spread 24-39% between runs
of identical code on a shared 4-core host, mostly in how far the JIT got.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# q14 is the entry whose cost is plan construction and job count (it
# builds eagerly and launches over fifty jobs); q72 reads the layout the
# set-up builds. A cold pass over the full 50-entry registry takes about
# 75 s even at sf0.001, more than a run may spend.
ENTRIES = [
    "q14_125_topk",
    "q72_bucketed_join",
]

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.001")
EXPECTED = os.path.join(HERE, "expected.json")
SETUP_REPEATS = 3
MIN_PASSES = 2


def fingerprint_frame(df: DataFrame) -> DataFrame:
    """One-row (rows, sum of 32-bit row hashes, xor of 64-bit row
    hashes). Both folds ignore row order. Doubles are rendered to nine
    significant digits first, so a last-bit difference from a changed
    aggregation order does not read as a wrong answer; -0.0 folds into
    0.0 on the way."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            c = F.format_string("%.9g", c.cast("double") + F.lit(0.0))
        cols.append(c.alias(f.name))
    norm = df.select(*cols)
    refs = [F.col(f"`{c}`") for c in norm.columns]
    return norm.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.hash(*refs).cast("bigint")).alias("sum_hash"),
        F.bit_xor(F.xxhash64(*refs)).alias("xor_hash"),
    )


def build_q72_layout(spark, data_dir: str) -> float:
    """Drop every persisted table, then build q72's bucketed layout
    anew; returns the seconds it took."""
    from dataingestiontohana_spark.plans.relational_ext import (
        bucketed_fact_tables,
    )

    for t in spark.catalog.listTables():
        if not t.isTemporary:
            spark.sql(f"DROP TABLE IF EXISTS `{t.name}`")
    t0 = time.perf_counter()
    bucketed_fact_tables(spark, data_dir)
    return time.perf_counter() - t0


def load_expected() -> dict[str, list]:
    with open(EXPECTED) as fh:
        return json.load(fh)["entries"]


def _pass(ctx, queries, label: str) -> dict:
    """One pass over ENTRIES: per entry its wall, phase times,
    fingerprint and (traced) Spark work."""
    spark, tr, counters = ctx.spark, ctx.tracer, ctx.counters
    walls: dict[str, float] = {}
    observed: dict[str, tuple | None] = {}
    errors: dict[str, str] = {}
    phases: dict[str, dict] = {}
    with tr.span("batch.pass", label=label):
        for name in ENTRIES:
            ph: dict = {}
            marks = []
            t0 = time.perf_counter()
            try:
                with tr.span("entry", entry=name):
                    if tr.enabled:
                        marks.append(counters.mark())
                    with tr.span("plans.build", entry=name):
                        df = queries[name](spark, DATA_DIR)
                    t1 = time.perf_counter()
                    if tr.enabled:
                        marks.append(counters.mark())
                    fp = fingerprint_frame(df)
                    with tr.span("catalyst.plan", entry=name):
                        fp._jdf.queryExecution().executedPlan()
                    t2 = time.perf_counter()
                    with tr.span("exec", entry=name):
                        row = fp.collect()[0]
                    t3 = time.perf_counter()
                walls[name] = t3 - t0
                observed[name] = (row["rows"], row["sum_hash"], row["xor_hash"])
                ph.update(build_s=t1 - t0, plan_s=t2 - t1, exec_s=t3 - t2)
                if tr.enabled:
                    ph["build_jobs"] = counters.between(marks[0], marks[1])
                    ph["exec_jobs"] = counters.between(marks[1], counters.mark())
            except Exception as ex:  # noqa: BLE001 — one entry fails, the pass goes on
                walls[name] = time.perf_counter() - t0
                observed[name] = None
                errors[name] = f"{type(ex).__name__}: {ex}"[:300]
            phases[name] = ph
    return {"walls": walls, "observed": observed, "errors": errors,
            "phases": phases}


def run(ctx) -> dict:
    from bench import clear_shared_caches, shared_caches

    from dataingestiontohana_spark.plans.bundles import build_registry
    from stats import fingerprint_failures, summarize

    spark, tr, counters = ctx.spark, ctx.tracer, ctx.counters
    queries, _ = build_registry()
    expected = load_expected()

    setups = []
    for i in range(SETUP_REPEATS):
        with tr.span("setup.q72_layout", rep=i):
            setups.append(build_q72_layout(spark, DATA_DIR))

    # the layout build warmed the table-plan cache; the first pass starts
    # cold, builds the shared frames and compiles every generated class.
    # The JIT is still compiling the planner through the next pass. Both
    # are checked like the measured passes but timed apart.
    clear_shared_caches()
    cold = _pass(ctx, queries, "cold")
    warm = _pass(ctx, queries, "warmup")
    passes = []
    t_end = time.perf_counter() + ctx.seconds
    while len(passes) < MIN_PASSES or time.perf_counter() < t_end:
        passes.append(_pass(ctx, queries, f"warm{len(passes)}"))

    runs = [cold, warm] + passes
    bad = [n for r in runs for n in fingerprint_failures(r["observed"], expected)]
    totals = [sum(p["walls"].values()) for p in passes]
    _, tail, tail_pct = summarize(
        [w for p in passes for w in p["walls"].values()])
    out = {
        "setup_s": setups,
        "attempted": len(ENTRIES) * len(runs),
        "failed": len(bad),
        "e2e": {
            # medians over the measured passes
            "work_s": statistics.median(totals),
            # the entries differ tenfold in cost, so a pass's entry
            # latency is its mean entry wall
            "latency_p50_ms": 1000 * statistics.median(totals) / len(ENTRIES),
        },
        "detail": {
            "unit": "registry entry, build through execution, after "
                    "a cold pass",
            "data": os.path.relpath(DATA_DIR, HERE),
            "passes_measured": len(passes),
            "pass_s": totals,
            "cold_pass_s": sum(cold["walls"].values()),
            "warmup_pass_s": sum(warm["walls"].values()),
            "cold_entry_wall_s": cold["walls"],
            "latency_tail_ms": tail * 1000,
            "tail_percentile": tail_pct,
            "batch_total_s": statistics.median(totals),
            "batch_failed": len(bad) / (len(ENTRIES) * len(runs)),
            "failed_entries": bad,
            "errors": [r["errors"] for r in runs if r["errors"]],
            "entry_wall_s": {n: statistics.median(p["walls"][n] for p in passes)
                             for n in ENTRIES},
            "rows": {n: (fp[0] if fp else None)
                     for n, fp in cold["observed"].items()},
        },
    }
    if tr.enabled:
        out["layer"], out["detail"]["layers"] = _layers(
            passes, shared_caches())
    return out


def _layers(passes: list[dict], caches: dict) -> tuple:
    """Per-entry phase times and Spark work as medians over the warm
    passes, and their sums over the entries: one pass's worth."""
    per: dict[str, dict[str, float]] = {}
    for n in ENTRIES:
        ph = [p["phases"][n] for p in passes if "exec_s" in p["phases"][n]]
        if not ph:
            continue
        per[n] = {k: statistics.median(x[k] for x in ph)
                  for k in ("build_s", "plan_s", "exec_s")}
        per[n]["build_jobs"] = statistics.median(
            x["build_jobs"]["jobs"] for x in ph)
        for k in ("jobs", "stages", "tasks", "failed_tasks"):
            per[n][f"exec_{k}"] = statistics.median(
                x["exec_jobs"][k] for x in ph)
    build_jobs = sum(p["build_jobs"] for p in per.values())
    ex = {k: sum(p[f"exec_{k}"] for p in per.values())
          for k in ("jobs", "stages", "tasks", "failed_tasks")}
    # built by the cold pass and reused by the warm ones
    builds = sum(len(c) for k, c in caches.items()
                 if not k.endswith("_TABLE_CACHE"))

    def mean_ms(key: str) -> float:
        return 1000 * sum(p[key] for p in per.values()) / max(1, len(per))

    generic = {
        "catalyst.plan_ms_mean": mean_ms("plan_s"),
        "exec.ms_mean": mean_ms("exec_s"),
        **{f"exec.{k}": v for k, v in ex.items()},
        "plans.build_jobs": build_jobs,
        "shared_frames.builds": builds,
        "streaming.batches": 0,
        "sink.writes": 0,
        "sink.rows_per_write": 0,
        "kafkafake.lag_rows_max": 0,
    }
    named = {
        "plans.build_s": sum(p["build_s"] for p in per.values()),
        "plans.build_jobs": build_jobs,
        "catalyst.plan_s": sum(p["plan_s"] for p in per.values()),
        "exec.s": sum(p["exec_s"] for p in per.values()),
        **{f"exec.{k}": v for k, v in ex.items()},
        "shared_frames.builds": builds,
    }
    for n, p in per.items():
        named[f"entry.{n}.build_s"] = p["build_s"]
        named[f"entry.{n}.plan_s"] = p["plan_s"]
        named[f"entry.{n}.exec_s"] = p["exec_s"]
        named[f"entry.{n}.jobs"] = p["build_jobs"] + p["exec_jobs"]
    return generic, named
