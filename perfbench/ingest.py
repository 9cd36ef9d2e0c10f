"""The two streaming workloads: an open-loop trickle and a backlog drain.

ingest_trickle — open loop. ``IngestionPipeline`` runs EXACTLY_ONCE into
SQLite through ``UpsertSink`` in its default (executor-side) write mode.
One pacer releases a pre-written 200-row sensor file into the source
directory every second by atomic rename, whether or not the pipeline
keeps up, like the reference's independent generator. A micro-batch
costs about 230 ms on an idle 4-core host and three times that on a
loaded one; the period keeps the queue from growing on either. A
file's latency runs from the time it was DUE to the end of the sink
commit that holds it, so a stall also charges the files queued behind
it. The fixed cost of a micro-batch dominates.

ingest_backlog — closed drains of 30,000 pre-written rows each through
the reference's two-graph topology, as the repository's JSON specs in
``examples/`` declare it: the producer graph copies the source
files into a kafkafake topic while the consumer graph parses and
upserts them into SQLite with ``write_mode="driver"`` (catch-up after a
consumer outage), in consumer batches of at most 15,000 offsets. Every
row was due when its drain started. A first, smaller drain warms both
graphs and is checked but not measured: it pays JIT, codegen and the
Python worker start, and a single cold drain per process spread 15-25%
between runs of identical code. Then drains, each with a fresh topic,
checkpoints and sink, follow until the run's seconds are spent, at
least MIN_DRAINS of them, and the run reports their medians.

Both take the sensor counter start from the seed and end with the
``rows = uniq = span`` exactly-once audit on the sink.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import sqlite3
import statistics
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime

from dataingestiontohana_spark.operators.upsert_sink import (
    SQLiteDialect,
    UpsertSink,
)
from dataingestiontohana_spark.sources.generator import sensor_csv_lines
from dataingestiontohana_spark.streaming.audit import (
    ProgressRecorder,
    audit_sink,
)

from spans import Tracer
from stats import due_latencies, range_failures, rows_lost_or_duplicated, summarize

EXAMPLES = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "examples")
TABLE = "sensor_sink"
SETUP_REPEATS = 3

FILE_ROWS = 200
PERIOD_S = 1.0
WARMUP_FILES = 3
DEADLINE_S = 1.0
LEAD_S = 0.5
GRACE_S = 10.0

BACKLOG_ROWS = 30_000
WARMUP_ROWS = 15_000
MIN_DRAINS = 3
# the consumer catches up in bounded batches, as a Kafka consumer does
BACKLOG_OFFSETS_PER_TRIGGER = 15_000

# durationMs key -> reported name
PHASES = {"latestOffset": "latestOffset", "queryPlanning": "queryPlanning",
          "addBatch": "addBatch", "walCommit": "walCommit",
          "commitOffsets": "commitOffsets", "triggerExecution": "trigger"}


def counter_start(seed: int) -> int:
    return (abs(seed) % 1000) * 1_000_000


@dataclass
class CommitClock(UpsertSink):
    """The program's UpsertSink, unchanged, plus a note after every
    write of when it returned (its commit is done by then, on the
    driver or on every executor task) and how far the sink has got,
    read back from the sink itself by ``progress_sql``."""

    progress_sql: str = ""
    tracer: Tracer | None = None
    parent: int | None = None
    commits: list[tuple[float, int]] = field(default_factory=list)

    def write(self, df, upsert: bool = True) -> None:
        with self.tracer.span("sink.write", parent=self.parent):
            super().write(df, upsert)
        t = time.perf_counter()
        con = self.connection_factory()
        try:
            done = con.execute(self.progress_sql).fetchone()[0]
        finally:
            con.close()
        self.commits.append((t, done))


class TaggedRecorder(ProgressRecorder):
    """ProgressRecorder that also keeps each batch's source, so the
    producer and consumer queries of a graph run can be told apart, and
    its trigger start as epoch seconds, so a warm-up can be told from
    the measured drains (events arrive asynchronously, after the fact)."""

    def onQueryProgress(self, event) -> None:
        super().onQueryProgress(event)
        p = event.progress
        self.progress[-1]["source"] = (
            p.sources[0].description if p.sources else "")
        self.progress[-1]["started"] = datetime.fromisoformat(
            p.timestamp.replace("Z", "+00:00")).timestamp()


def _sink(db: str, **kw) -> CommitClock:
    return CommitClock(
        table=TABLE,
        key_cols=["counter"],
        dialect=SQLiteDialect(),
        connection_factory=functools.partial(sqlite3.connect, db),
        **kw,
    )


def _audit(db: str, start: int, sent: int):
    con = sqlite3.connect(db)
    try:
        a = audit_sink(con, TABLE)
        lo = con.execute(f'SELECT MIN("counter") FROM "{TABLE}"').fetchone()[0]
    finally:
        con.close()
    ok = a.exactly_once and a.n_rows == sent and lo == start
    return a, ok


def _listen(spark, tracer):
    if not tracer.enabled:
        return None
    rec = TaggedRecorder()
    spark.streams.addListener(rec)
    return rec


def _unlisten(spark, rec, want_batches: int,
              counts=lambda b: True) -> list[dict]:
    """Wait for the asynchronous listener to catch up (``want_batches``
    progress events that ``counts`` accepts), then detach."""
    if rec is None:
        return []
    deadline = time.monotonic() + 5
    while (sum(1 for b in list(rec.progress) if counts(b)) < want_batches
           and time.monotonic() < deadline):
        time.sleep(0.05)
    spark.streams.removeListener(rec)
    return list(rec.progress)


def _p50(batches: list[dict], phase: str) -> float:
    vals = [b["durationMs"].get(phase, 0) for b in batches]
    return summarize(vals)[0] if vals else 0.0


def _streaming_layers(batches: list[dict]) -> dict[str, float]:
    return {f"streaming.{name}_ms_p50": _p50(batches, ph)
            for ph, name in PHASES.items()}


def _mean(batches: list[dict], phase: str) -> float:
    return (sum(b["durationMs"].get(phase, 0) for b in batches)
            / max(1, len(batches)))


def _generic_layers(batches: list[dict], named: dict,
                    region: dict[str, int]) -> dict:
    """The per-layer metrics every workload reports, for a streaming
    run: Catalyst planning and execution per micro-batch, Spark work
    over the run, and the layers the streaming workloads leave idle.
    Per-batch times are means: Spark reports whole milliseconds, and a
    median of a dozen of them often repeats exactly from run to run."""
    return {
        "catalyst.plan_ms_mean": _mean(batches, "queryPlanning"),
        "exec.ms_mean": _mean(batches, "addBatch"),
        **{f"exec.{k}": v for k, v in region.items()},
        "plans.build_jobs": 0,
        "shared_frames.builds": 0,
        "streaming.batches": named["streaming.batches"],
        "sink.writes": named["sink.writes"],
        "sink.rows_per_write": named["sink.rows_per_write"],
        "kafkafake.lag_rows_max": named.get("kafkafake.lag_rows_max", 0),
    }


# -- ingest_trickle ---------------------------------------------------------


def _stage_files(spark, staging: str, start: int, n_files: int) -> None:
    """Pre-write n_files sensor files of FILE_ROWS contiguous counters.
    Modification times rise with the file index, so the file source,
    which admits the oldest new file first, commits them in order."""
    rows = (sensor_csv_lines(spark, n_files * FILE_ROWS, start)
            .orderBy("counter").select("value").collect())
    os.makedirs(staging)
    base = time.time_ns() - 10**12
    for k in range(n_files):
        path = os.path.join(staging, f"part-{k:05d}.txt")
        chunk = rows[k * FILE_ROWS:(k + 1) * FILE_ROWS]
        with open(path, "w") as fh:
            fh.write("\n".join(r[0] for r in chunk) + "\n")
        os.utime(path, ns=(base + k * 10**6, base + k * 10**6))


def _release(staging: str, source: str, files, t_base: float):
    """Open-loop pacer: move file k into the source directory at
    t_base + i * PERIOD_S (atomic rename), never waiting on the sink.
    Returns the due times and how late each release ran."""
    due, late = [], []
    for i, k in enumerate(files):
        due.append(t_base + i * PERIOD_S)
        pause = due[-1] - time.perf_counter()
        if pause > 0:
            time.sleep(pause)
        name = f"part-{k:05d}.txt"
        os.rename(os.path.join(staging, name), os.path.join(source, name))
        late.append(time.perf_counter() - due[-1])
    return due, late


def _wait_for(sink: CommitClock, query, key: int, until: float) -> None:
    while (time.perf_counter() < until and query.isActive
           and not (sink.commits and sink.commits[-1][1] >= key)):
        time.sleep(0.02)


def run_trickle(ctx) -> dict:
    from dataingestiontohana_spark.streaming.pipeline import (
        DeliveryMode,
        IngestionPipeline,
    )

    spark, tr = ctx.spark, ctx.tracer
    start = counter_start(ctx.seed)
    n_meas = max(1, round(ctx.seconds / PERIOD_S))
    n_files = WARMUP_FILES + n_meas

    setups, staging = [], None
    for i in range(SETUP_REPEATS):
        if staging:
            shutil.rmtree(staging)
        staging = os.path.join(ctx.work, f"staging{i}")
        t0 = time.perf_counter()
        with tr.span("setup.stage_files", rep=i):
            _stage_files(spark, staging, start, n_files)
        setups.append(time.perf_counter() - t0)

    source = os.path.join(ctx.work, "source")
    os.makedirs(source)
    db = os.path.join(ctx.work, "sink.db")
    rec = _listen(spark, tr)
    with tr.span("streaming.run") as run_span:
        sink = _sink(db, progress_sql=f'SELECT MAX("counter") FROM "{TABLE}"',
                     tracer=tr, parent=run_span)
        pipe = IngestionPipeline(
            spark=spark,
            source_dir=source,
            checkpoint_dir=os.path.join(ctx.work, "checkpoint"),
            sink=sink,
            mode=DeliveryMode.EXACTLY_ONCE,
        )
        mark = ctx.counters.mark()
        query = pipe.start()
        last_key = [start + (k + 1) * FILE_ROWS - 1 for k in range(n_files)]
        # warm-up: the first micro-batches pay codegen and the Python
        # worker start; the measured schedule begins once they are in
        warm = _release(staging, source, range(WARMUP_FILES),
                        time.perf_counter())[0]
        _wait_for(sink, query, last_key[WARMUP_FILES - 1], warm[-1] + 30)
        due, late = _release(staging, source, range(WARMUP_FILES, n_files),
                             time.perf_counter() + LEAD_S)
        due = warm + due
        _wait_for(sink, query, last_key[-1], due[-1] + GRACE_S)
        # let the last micro-batch finish its offset commit (one file per
        # batch) so stopping never cuts a committed batch short
        until = time.perf_counter() + 5
        while (query.isActive and time.perf_counter() < until
               and (query.lastProgress or {}).get("batchId", -1) < n_files - 1):
            time.sleep(0.02)
        query.stop()
        query.awaitTermination(30)
        error = query.exception()
        region = ctx.counters.between(mark, ctx.counters.mark())

    lat = due_latencies(due, sink.commits, last_key)[WARMUP_FILES:]
    got = [x for x in lat if x is not None]
    audit, audit_ok = _audit(db, start, n_files * FILE_ROWS)
    con = sqlite3.connect(db)
    try:
        counts = []
        for k in range(WARMUP_FILES, n_files):
            lo, hi = last_key[k] - FILE_ROWS + 1, last_key[k]
            counts.append((FILE_ROWS, *con.execute(
                f'SELECT COUNT(*), COUNT(DISTINCT "counter") FROM "{TABLE}" '
                f'WHERE "counter" BETWEEN ? AND ?', (lo, hi)).fetchone()))
    finally:
        con.close()
    bad = {i for i, x in enumerate(lat) if x is None}
    bad.update(range_failures(counts))
    p50, tail, tail_pct = summarize(got) if got else (float("nan"),) * 3
    out = {
        "setup_s": setups,
        "attempted": n_meas,
        "failed": len(bad),
        "audit_ok": audit_ok and error is None,
        "e2e": {
            # first measured due time to the last measured commit
            "work_s": max(d + x for d, x in zip(due[WARMUP_FILES:], lat)
                          if x is not None) - due[WARMUP_FILES]
            if got else float("nan"),
            "latency_p50_ms": p50 * 1000,
        },
        "detail": {
            "unit": f"{FILE_ROWS}-row file, due time to sink commit",
            "rate_rows_per_s": FILE_ROWS / PERIOD_S,
            "files_measured": n_meas,
            "warmup_files": WARMUP_FILES,
            "sink_write_mode": sink.write_mode,
            "latency_tail_ms": tail * 1000,
            "tail_percentile": tail_pct,
            "trickle_missed": sum(
                1 for x in lat if x is None or x > DEADLINE_S) / n_meas,
            "gen.late_ms_max": max(late) * 1000,
            "audit": vars(audit),
            "error": repr(error) if error else None,
        },
    }
    if tr.enabled:
        batches = [b for b in _unlisten(spark, rec, len(sink.commits))
                   if b["numInputRows"]][WARMUP_FILES:]
        writes = tr.durations("sink.write")
        named = {
            **_streaming_layers(batches),
            "streaming.batches": len(batches),
            "sink.write_ms_p50": summarize(writes[WARMUP_FILES:])[0] * 1000,
            "sink.writes": len(writes),
            "sink.rows_per_write": audit.n_rows / max(1, len(writes)),
            "gen.late_ms_max": max(late) * 1000,
        }
        out["detail"]["layers"] = named
        out["layer"] = _generic_layers(batches, named, region)
    return out


# -- ingest_backlog ---------------------------------------------------------


class LagSampler(threading.Thread):
    """Samples the topic's end offsets minus the rows the sink has
    committed. The topic logs are append-only, so each sample counts
    only the newline bytes appended since the previous one."""

    def __init__(self, topic_dir: str, sink: CommitClock, every: float = 0.5):
        super().__init__(daemon=True)
        self.topic_dir, self.sink, self.every = topic_dir, sink, every
        self.halt = threading.Event()
        self.max_lag = 0
        self._pos: dict[str, tuple[int, int]] = {}

    def _end_offsets(self) -> int:
        total = 0
        if not os.path.isdir(self.topic_dir):
            return 0
        for f in os.listdir(self.topic_dir):
            if not f.endswith(".jsonl"):
                continue
            pos, lines = self._pos.get(f, (0, 0))
            with open(os.path.join(self.topic_dir, f), "rb") as fh:
                fh.seek(pos)
                while chunk := fh.read(1 << 20):
                    pos += len(chunk)
                    lines += chunk.count(b"\n")
            self._pos[f] = (pos, lines)
            total += lines
        return total

    def run(self) -> None:
        while not self.halt.wait(self.every):
            committed = self.sink.commits[-1][1] if self.sink.commits else 0
            self.max_lag = max(self.max_lag, self._end_offsets() - committed)


def _stage_backlog(spark, path: str, rows: int, start: int) -> None:
    (sensor_csv_lines(spark, rows, start)
     .select("value").write.text(path))


def _reference_graph(kind: str, work: str, source: str, refs: dict):
    """The repository's JSON spec of the reference's producer or
    consumer graph, reading ``source`` and rooted in ``work``."""
    from dataingestiontohana_spark.streaming.graph_pipeline import (
        graph_from_dict,
    )

    with open(os.path.join(EXAMPLES, f"{kind}_graph.json")) as fh:
        text = fh.read().replace("$WORK/source", source)
    spec = json.loads(text.replace("$WORK", work))
    for nd in spec["nodes"]:
        if nd["kind"] == "kafka_consumer":
            nd["config"]["max_offsets_per_trigger"] = (
                BACKLOG_OFFSETS_PER_TRIGGER)
    return graph_from_dict(spec, refs)


def _drain(ctx, name: str, source: str, rows: int, start: int) -> dict:
    """One closed drain of a staged backlog through both graphs, into a
    fresh broker, fresh checkpoints and a fresh sink, then its audit."""
    from dataingestiontohana_spark.streaming.graph_pipeline import (
        run_graphs_concurrently,
    )
    from dataingestiontohana_spark.streaming.kafka import parse_sensor_kafka

    spark, tr = ctx.spark, ctx.tracer
    work = os.path.join(ctx.work, name)
    os.makedirs(work)
    db = os.path.join(work, "sink.db")
    with tr.span("graph.run", drain=name) as run_span:
        sink = _sink(db, write_mode="driver", driver_fetch="collect",
                     progress_sql=f'SELECT COUNT(*) FROM "{TABLE}"',
                     tracer=tr, parent=run_span)
        prod = _reference_graph("producer", work, source, {})
        cons = _reference_graph("consumer", work, source, {
            "typed.fn": parse_sensor_kafka, "hana.sink": sink})

        sampler = None
        if tr.enabled:
            sampler = LagSampler(os.path.join(work, "broker", "sensor"), sink)
            sampler.start()
        mark = ctx.counters.mark()
        t0 = time.perf_counter()
        error = run_graphs_concurrently([
            prod.compile(spark, os.path.join(work, "ck_producer")),
            cons.compile(spark, os.path.join(work, "ck_consumer")),
        ])
        drain_s = time.perf_counter() - t0
        region = ctx.counters.between(mark, ctx.counters.mark())
        if sampler is not None:
            sampler.halt.set()
            sampler.join(timeout=30)

    audit, audit_ok = _audit(db, start, rows)
    waits, counts, prev = [], [], 0
    for t, done in sink.commits:
        waits.append(t - t0)
        counts.append(done - prev)
        prev = done
    p50, tail, _ = (summarize(waits, counts) if prev
                    else (float("nan"),) * 3)
    shutil.rmtree(os.path.join(work, "broker"), ignore_errors=True)
    return {
        "rows": rows,
        "t_start": t0,
        "drain_s": drain_s,
        "p50_s": p50,
        "tail_s": tail,
        "failed": rows_lost_or_duplicated(rows, audit.n_rows, audit.uniq),
        "ok": audit_ok and error is None,
        "audit": vars(audit),
        "error": repr(error) if error else None,
        "commits": [(t - t0, n) for t, n in sink.commits],
        "region": region,
        "lag_rows_max": sampler.max_lag if sampler else 0,
    }


def run_backlog(ctx) -> dict:
    spark, tr = ctx.spark, ctx.tracer
    start = counter_start(ctx.seed)

    setups = []
    source = os.path.join(ctx.work, "source")
    for i in range(SETUP_REPEATS):
        shutil.rmtree(source, ignore_errors=True)
        t0 = time.perf_counter()
        with tr.span("setup.stage_backlog", rep=i):
            _stage_backlog(spark, source, BACKLOG_ROWS, start)
        setups.append(time.perf_counter() - t0)

    # warm-up: the first drain of a process pays JIT, codegen and the
    # Python worker start for both graphs, and varies most; a smaller
    # backlog of its own takes those costs before the measured drains
    warm_source = os.path.join(ctx.work, "warm_source")
    _stage_backlog(spark, warm_source, WARMUP_ROWS, start)
    rec = _listen(spark, tr)
    with tr.span("graph.warmup"):
        warm = _drain(ctx, "warmup", warm_source, WARMUP_ROWS, start)
    measured_from = time.time()
    drains = []
    t_end = time.perf_counter() + ctx.seconds
    while len(drains) < MIN_DRAINS or time.perf_counter() < t_end:
        drains.append(_drain(ctx, f"drain{len(drains)}", source,
                             BACKLOG_ROWS, start))

    runs = [warm] + drains
    failed = sum(d["failed"] for d in runs)
    drain_s = statistics.median(d["drain_s"] for d in drains)
    out = {
        "setup_s": setups,
        "attempted": sum(d["rows"] for d in runs),
        "failed": failed,
        "audit_ok": all(d["ok"] for d in runs),
        "e2e": {
            # medians over the measured drains
            "work_s": drain_s,
            "latency_p50_ms": 1000 * statistics.median(
                d["p50_s"] for d in drains),
        },
        "detail": {
            "unit": "backlogged row, drain start to sink commit",
            "rows_per_drain": BACKLOG_ROWS,
            "drains_measured": len(drains),
            "warmup_rows": WARMUP_ROWS,
            "warmup_drain_s": warm["drain_s"],
            "drain_s": [d["drain_s"] for d in drains],
            "backlog_rows_per_s": BACKLOG_ROWS / drain_s,
            "backlog_failed": failed / sum(d["rows"] for d in runs),
            "latency_tail_ms": 1000 * statistics.median(
                d["tail_s"] for d in drains),
            "sink_write_mode": "driver",
            "consumer_commits": [d["commits"] for d in drains],
            "audits": [d["audit"] for d in runs],
            "errors": [d["error"] for d in runs if d["error"]],
        },
    }
    if tr.enabled:
        def is_consumer(b: dict) -> bool:
            return (b["numInputRows"] > 0
                    and "FileStreamSource" not in b.get("source", ""))

        progress = [b for b in _unlisten(
            spark, rec, sum(len(d["commits"]) for d in runs), is_consumer)
            if b["numInputRows"] and b["started"] >= measured_from]
        consumer = [b for b in progress if is_consumer(b)]
        producer = [b for b in progress
                    if "FileStreamSource" in b.get("source", "")]
        writes = [s["end"] - s["start"] for s in tr.spans
                  if s["name"] == "sink.write" and s["end"] is not None
                  and s["start"] >= drains[0]["t_start"]]
        region = {k: sum(d["region"][k] for d in drains)
                  for k in drains[0]["region"]}
        named = {
            "graph.producer.addBatch_ms_p50": _p50(producer, "addBatch"),
            "graph.consumer.latestOffset_ms_p50": _p50(consumer,
                                                       "latestOffset"),
            "graph.consumer.addBatch_ms_p50": _p50(consumer, "addBatch"),
            "graph.consumer.batches": len(consumer),
            **_streaming_layers(consumer),
            "streaming.batches": len(consumer),
            "sink.write_ms_p50": summarize(writes)[0] * 1000 if writes else 0,
            "sink.writes": len(writes),
            "sink.rows_per_write": (BACKLOG_ROWS * len(drains)
                                    / max(1, len(writes))),
            "kafkafake.lag_rows_max": max(d["lag_rows_max"] for d in drains),
        }
        out["detail"]["layers"] = named
        out["layer"] = _generic_layers(consumer, named, region)
    return out
