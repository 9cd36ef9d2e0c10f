"""Delivery-semantics harness: automates the reference's manual
chaos experiment (SURVEY §5.1) — ingest a replayable CSV stream, kill
mid-run via the fault injector, restart from the checkpoint, audit the
sink on counter continuity:

- exactly-once (keyed upsert):  rows = uniq = span   (README.md:158-164)
- at-least-once (append):       no gaps, dups allowed (README.md:121-126)
- at-most-once (lab mode):      gaps / loss           (README.md:94-99)

The crash cases run on both sink write modes: `driver` (every frame
through the driver) and the default `partition`, which routes the
one-file micro-batches here to the driver and larger frames to
executor tasks.
"""

from __future__ import annotations

import functools
import sqlite3

import pytest

from dataingestiontohana_spark.operators.upsert_sink import (
    SQLiteDialect,
    UpsertSink,
)
from dataingestiontohana_spark.sources.generator import write_sensor_csv_files
from dataingestiontohana_spark.streaming.audit import audit_sink
from dataingestiontohana_spark.streaming.fault import FaultInjector, InjectedFault
from dataingestiontohana_spark.streaming.pipeline import (
    DeliveryMode,
    IngestionPipeline,
)

N_ROWS = 100
N_FILES = 10
WRITE_MODES = pytest.mark.parametrize("write_mode", ["driver", "partition"])


@pytest.fixture()
def source_dir(spark, tmp_path):
    d = tmp_path / "source"
    write_sensor_csv_files(spark, str(d), N_ROWS, N_FILES)
    return str(d)


def make_sink(db_path: str, write_mode: str = "driver") -> UpsertSink:
    return UpsertSink(
        table="sensor_sink",
        key_cols=["counter"],
        dialect=SQLiteDialect(),
        connection_factory=functools.partial(sqlite3.connect, db_path),
        write_mode=write_mode,
    )


def make_pipeline(
    spark, source_dir, tmp_path, mode, fault=None, write_mode="driver"
) -> IngestionPipeline:
    return IngestionPipeline(
        spark=spark,
        source_dir=source_dir,
        checkpoint_dir=str(tmp_path / "checkpoint"),
        sink=make_sink(str(tmp_path / "sink.db"), write_mode),
        mode=mode,
        fault=fault,
    )


def run_audit(tmp_path):
    con = sqlite3.connect(str(tmp_path / "sink.db"))
    try:
        return audit_sink(con, "sensor_sink")
    finally:
        con.close()


def test_exactly_once_clean_run(spark, source_dir, tmp_path):
    p = make_pipeline(spark, source_dir, tmp_path, DeliveryMode.EXACTLY_ONCE)
    assert p.run_to_completion() is None
    a = run_audit(tmp_path)
    assert a.exactly_once and a.n_rows == N_ROWS


@WRITE_MODES
@pytest.mark.parametrize(
    "point", [FaultInjector.AFTER_WRITE, FaultInjector.BEFORE_WRITE]
)
def test_exactly_once_survives_crash(spark, source_dir, tmp_path, point, write_mode):
    fault = FaultInjector(str(tmp_path / "flag"), point, at_batch=2)
    fault.arm()
    p = make_pipeline(
        spark, source_dir, tmp_path, DeliveryMode.EXACTLY_ONCE, fault, write_mode
    )
    err = p.run_to_completion()
    assert err is not None  # the injected fault killed the query

    mid = run_audit(tmp_path)
    assert 0 < mid.n_rows < N_ROWS  # crashed mid-stream

    # operator restarts the graph (README.md:90); checkpoint resumes
    p2 = make_pipeline(
        spark, source_dir, tmp_path, DeliveryMode.EXACTLY_ONCE, write_mode=write_mode
    )
    assert p2.run_to_completion() is None
    a = run_audit(tmp_path)
    assert a.exactly_once and a.n_rows == N_ROWS  # no loss, no dups


@WRITE_MODES
def test_at_least_once_crash_duplicates_no_loss(spark, source_dir, tmp_path, write_mode):
    # crash lands AFTER the DB write, BEFORE the offset commit: the
    # classic at-least-once window (the reference hits it by hand-
    # rolling the ack loop; Structured Streaming hits it on replay)
    fault = FaultInjector(str(tmp_path / "flag"), FaultInjector.AFTER_WRITE, at_batch=2)
    fault.arm()
    p = make_pipeline(
        spark, source_dir, tmp_path, DeliveryMode.AT_LEAST_ONCE, fault, write_mode
    )
    assert p.run_to_completion() is not None

    p2 = make_pipeline(
        spark, source_dir, tmp_path, DeliveryMode.AT_LEAST_ONCE, write_mode=write_mode
    )
    assert p2.run_to_completion() is None
    a = run_audit(tmp_path)
    assert not a.has_loss  # every counter landed
    assert a.has_duplicates  # the replayed batch landed twice
    assert a.uniq == a.span == N_ROWS


@WRITE_MODES
def test_at_most_once_loses_data(spark, source_dir, tmp_path, write_mode):
    # lab mode: the DB write fails but offsets commit anyway -> loss
    fault = FaultInjector(str(tmp_path / "flag"), FaultInjector.FAIL_WRITE, at_batch=1)
    fault.arm()
    p = make_pipeline(
        spark, source_dir, tmp_path, DeliveryMode.AT_MOST_ONCE, fault, write_mode
    )
    assert p.run_to_completion() is None  # stream survives; data doesn't
    a = run_audit(tmp_path)
    assert a.has_loss and not a.has_duplicates
    assert a.n_rows == N_ROWS - N_ROWS // N_FILES  # exactly one batch lost


def test_upsert_is_idempotent(spark, tmp_path):
    from dataingestiontohana_spark.sources.generator import sensor_rows
    from dataingestiontohana_spark.streaming.pipeline import SENSOR_SQL_COLUMNS

    sink = make_sink(str(tmp_path / "sink.db"))
    sink.ensure_table(SENSOR_SQL_COLUMNS)
    rows = sensor_rows(spark, 20)
    sink.write(rows, upsert=True)
    sink.write(rows, upsert=True)  # replay converges
    a = run_audit(tmp_path)
    assert a.exactly_once and a.n_rows == 20


def test_fault_injector_fires_once(tmp_path):
    f = FaultInjector(str(tmp_path / "flag"), FaultInjector.BEFORE_WRITE, at_batch=1)
    f.arm()
    f.check(FaultInjector.BEFORE_WRITE)  # batch 0: passes
    with pytest.raises(InjectedFault):
        f.check(FaultInjector.BEFORE_WRITE)  # batch 1: fires
    f.check(FaultInjector.BEFORE_WRITE)  # disarmed: passes


def test_dead_letter_fork_in_stream(spark, tmp_path):
    """Quarantine inside a live pipeline: one foreachBatch forks each
    micro-batch into a good sink and a dead-letter sink off ONE parse
    (no second read of the source); the dead letters keep the original
    bytes for replay."""
    import os

    from dataingestiontohana_spark.sources.csv_envelope import (
        parse_sensor_csv_quarantine,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    good = "7,3,21.5,40.0,400.0,0.01,0.02,0.03,1,150.0,35.5"
    bad = "corrupt-not-a-row"
    with open(os.path.join(src, "b0.txt"), "w") as f:
        f.write(good + "\n" + bad + "\n")

    ok_rows: list[tuple] = []
    dead_rows: list[str] = []

    def fork(batch_df, epoch_id):
        parsed = parse_sensor_csv_quarantine(batch_df).persist()
        ok_rows.extend(
            (r["counter"], r["temperature"])
            for r in parsed.where("_corrupt IS NULL").collect()
        )
        dead_rows.extend(
            r["_corrupt"]
            for r in parsed.where("_corrupt IS NOT NULL").collect()
        )
        parsed.unpersist()

    q = (
        spark.readStream.format("text")
        .load(src)
        .writeStream.foreachBatch(fork)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert ok_rows == [(7, 21.5)]
    assert dead_rows == [bad]


def test_exactly_once_sensorgen_kill_restart(spark, tmp_path):
    """The reference's central claim (README.md:132-155) proven on the
    engine's OWN custom source: the sensorgen Python Data Source's
    deterministic counter offsets + checkpoint replay + keyed upsert
    give rows = uniq = span across a kill/restart. A wall-clock source
    (rate) could not replay the in-flight range; sensorgen's
    readBetweenOffsets re-reads exactly the skipped counters."""
    from dataingestiontohana_spark.sources.pyds import sensor_source_stream

    def typed_source(s):
        return sensor_source_stream(s, rows_per_batch=10, limit=N_ROWS)

    def pipeline(fault=None):
        return IngestionPipeline(
            spark=spark,
            source_dir="",  # unused: typed_source replaces it
            checkpoint_dir=str(tmp_path / "checkpoint"),
            sink=make_sink(str(tmp_path / "sink.db")),
            mode=DeliveryMode.EXACTLY_ONCE,
            fault=fault,
            typed_source=typed_source,
        )

    fault = FaultInjector(
        str(tmp_path / "flag"), FaultInjector.AFTER_WRITE, at_batch=2
    )
    fault.arm()
    assert pipeline(fault).run_to_completion() is not None  # killed
    mid = run_audit(tmp_path)
    assert 0 < mid.n_rows < N_ROWS  # crashed mid-stream

    assert pipeline().run_to_completion() is None  # checkpoint restart
    a = run_audit(tmp_path)
    assert a.exactly_once and a.n_rows == N_ROWS  # rows = uniq = span


def test_progress_recorder_captures_batches(spark, tmp_path):
    """The listener-based wiretap: per-batch input rows recorded for
    the whole run, start/termination observed — registered DIRECTLY
    (ProgressRecorder is a real StreamingQueryListener subclass; the
    first cut duck-typed and crashed in addListener)."""
    from dataingestiontohana_spark.sources.pyds import register_sensor_source
    from dataingestiontohana_spark.streaming.audit import ProgressRecorder

    register_sensor_source(spark)
    rec = ProgressRecorder()
    bridge = rec
    spark.streams.addListener(bridge)
    try:
        q = (
            spark.readStream.format("sensorgen")
            .option("rows_per_batch", "25")
            .option("limit", "100")
            .load()
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)
        # listener callbacks are ASYNC (driver-side event bus): wait
        # for the trailing progress events to drain before asserting
        import time

        deadline = time.time() + 30
        while (
            sum(p["numInputRows"] for p in rec.progress) < 100
            and time.time() < deadline
        ):
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(bridge)
    assert rec.started  # the run was observed
    rows = sum(p["numInputRows"] for p in rec.progress)
    assert rows == 100  # every generated row accounted for
    assert {p["batchId"] for p in rec.progress if p["numInputRows"]} >= {0, 1, 2, 3}
