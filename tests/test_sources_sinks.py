"""Connector-layer tests: format roundtrips, DBAPI bridge, multiplexer
fan-out, wiretap trace."""

from __future__ import annotations

import functools
import os
import sqlite3

import duckdb
import pytest
from pyspark.sql import functions as F

from dataingestiontohana_spark.operators.sinks import (
    write_csv,
    write_json,
    write_parquet,
    write_relational,
)
from dataingestiontohana_spark.operators.upsert_sink import (
    SQLiteDialect,
    UpsertSink,
)
from dataingestiontohana_spark.sources.generator import (
    sensor_csv_lines,
    sensor_rows,
    write_sensor_csv_files,
)
from dataingestiontohana_spark.sources.readers import (
    read_binary_files,
    read_csv,
    read_dbapi,
    read_json,
    read_orc,
    read_parquet,
    read_text,
    read_xml,
)
from dataingestiontohana_spark.streaming.multiplex import Wiretap, multiplex
from dataingestiontohana_spark.streaming.pipeline import SENSOR_SQL_COLUMNS

SENSOR_DDL_SPARK = (
    "counter int, deviceid int, temperature double, humidity double, "
    "co2 double, co double, lpg double, smoke double, presence int, "
    "light double, sound double"
)


def test_parquet_roundtrip(spark, tmp_path):
    df = sensor_rows(spark, 50)
    write_parquet(df, str(tmp_path / "p"), partition_by=["deviceid"])
    back = read_parquet(spark, str(tmp_path / "p"))
    assert back.count() == 50
    assert sorted(back.columns) == sorted(df.columns)
    # partition pruning: the deviceid predicate becomes a partition
    # filter (directory-level pruning), not a data filter — the scan
    # must list exactly the matching partition directories
    one = back.where(F.col("deviceid") == 3)
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(deviceid" in plan
    assert "(deviceid" in plan.split("PartitionFilters")[1].split("]")[0]
    # and no post-scan filter remains: the predicate is fully consumed
    # by directory pruning (deviceid is a partition column, not data)
    assert "Filter (" not in plan


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    df = sensor_rows(spark, 50)
    df.write.mode("overwrite").orc(str(tmp_path / "o"))
    back = read_orc(spark, str(tmp_path / "o"))
    assert back.count() == 50
    assert sorted(back.columns) == sorted(df.columns)
    # ORC scans take predicate pushdown + column pruning like parquet
    one = back.where(F.col("counter") == 3).select("counter", "temperature")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(counter), EqualTo(counter,3)]" in plan
    assert "temperature" in plan.split("ReadSchema")[1].splitlines()[0]
    assert "humidity" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_csv_json_roundtrip(spark, tmp_path):
    df = sensor_rows(spark, 30)
    write_csv(df, str(tmp_path / "c"))
    write_json(df, str(tmp_path / "j"))
    c = read_csv(spark, str(tmp_path / "c"), SENSOR_DDL_SPARK)
    j = read_json(spark, str(tmp_path / "j"), SENSOR_DDL_SPARK)
    a = sorted(map(tuple, df.collect()))
    assert sorted(map(tuple, c.select(*df.columns).collect())) == a
    assert sorted(map(tuple, j.select(*df.columns).collect())) == a


def test_dbapi_bridge_duckdb_and_sqlite(spark, tmp_path):
    ddb = str(tmp_path / "x.duckdb")
    con = duckdb.connect(ddb)
    con.execute("CREATE TABLE t AS SELECT range AS id, range * 2 AS v FROM range(10)")
    con.close()
    df = read_dbapi(spark, functools.partial(duckdb.connect, ddb), "SELECT * FROM t")
    assert df.count() == 10 and df.agg(F.sum("v")).head()[0] == 90

    sq = str(tmp_path / "x.sqlite")
    con = sqlite3.connect(sq)
    con.execute("CREATE TABLE t (id INTEGER, v INTEGER)")
    con.executemany("INSERT INTO t VALUES (?, ?)", [(i, i * 3) for i in range(5)])
    con.commit(); con.close()
    df2 = read_dbapi(
        spark, functools.partial(sqlite3.connect, sq), "SELECT * FROM t",
        schema="id long, v long",
    )
    assert df2.agg(F.sum("v")).head()[0] == 30


def test_batch_relational_roundtrip(spark, tmp_path):
    db = str(tmp_path / "rel.db")
    sink = UpsertSink(
        "sensor", ["counter"], SQLiteDialect(), functools.partial(sqlite3.connect, db)
    )
    df = sensor_rows(spark, 25)
    write_relational(df, sink, upsert=True, columns=SENSOR_SQL_COLUMNS)
    back = read_dbapi(
        spark, functools.partial(sqlite3.connect, db), "SELECT * FROM sensor"
    )
    assert back.count() == 25


def test_multiplex_fans_out_to_two_sinks(spark, tmp_path):
    src = str(tmp_path / "src")
    write_sensor_csv_files(spark, src, 60, files=3)
    stream = (
        spark.readStream.format("text").option("maxFilesPerTrigger", "1").load(src)
    )

    seen_a: list[int] = []
    seen_b: list[int] = []
    tap = Wiretap("t")
    q = multiplex(
        stream,
        [
            lambda df, e: seen_a.append(df.count()),
            lambda df, e: seen_b.append(df.count()),
        ],
        str(tmp_path / "ck"),
        wiretap=tap,
    )
    q.processAllAvailable()
    q.stop()
    # both branches saw every message exactly once, batch-for-batch
    assert sum(seen_a) == sum(seen_b) == 60
    assert seen_a == seen_b
    assert [e.n_rows for e in tap.entries] == seen_a
    assert all(e.wall_clock > 0 for e in tap.entries)


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    from dataingestiontohana_spark.operators.sinks import compact_parquet

    src, dst = str(tmp_path / "litter"), str(tmp_path / "compact")
    # 40 tiny files (one per partition), the streaming-sink litter shape
    sensor_rows(spark, 2000).repartition(40).write.parquet(src)
    n_src = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert n_src == 40
    compact_parquet(spark, src, dst, target_bytes=1 << 30)  # 1 GiB -> 1 file
    n_dst = len([f for f in os.listdir(dst) if f.endswith(".parquet")])
    assert n_dst == 1
    # content survives byte-for-byte (same rows)
    a = spark.read.parquet(src).orderBy("counter").collect()
    b = spark.read.parquet(dst).orderBy("counter").collect()
    assert a == b


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """A column added mid-stream: mergeSchema=True surfaces it (null
    for the old files); the default read keeps the cheap single-footer
    path and the original columns."""
    p = str(tmp_path / "evolve")
    spark.range(3).selectExpr("id", "id * 2 AS a").write.parquet(p)
    spark.range(3, 6).selectExpr(
        "id", "id * 2 AS a", "id * 3 AS b"
    ).write.mode("append").parquet(p)

    merged = read_parquet(spark, p, merge_schema=True)
    assert sorted(merged.columns) == ["a", "b", "id"]
    rows = {r["id"]: r["b"] for r in merged.collect()}
    assert rows[1] is None and rows[4] == 12  # old files null-padded
    assert merged.count() == 6


def test_xml_read_with_explicit_schema(spark, tmp_path):
    """Built-in xml source (Spark >= 4.0): rowTag picks the repeated
    element; an explicit schema skips the inference pass."""
    p = tmp_path / "x.xml"
    p.write_text(
        "<rows><row><id>1</id><name>ada</name></row>"
        "<row><id>2</id><name>bob</name></row></rows>"
    )
    df = read_xml(spark, str(p), row_tag="row", schema="id bigint, name string")
    assert sorted((r["id"], r["name"]) for r in df.collect()) == [
        (1, "ada"),
        (2, "bob"),
    ]


def test_text_read_lines_and_whole_file(spark, tmp_path):
    d = tmp_path / "docs"
    d.mkdir()
    (d / "a.txt").write_text("alpha\nbeta")
    (d / "b.txt").write_text("gamma")
    lines = read_text(spark, str(d))
    assert sorted(r["value"] for r in lines.collect()) == ["alpha", "beta", "gamma"]
    whole = read_text(spark, str(d), whole_file=True)
    assert sorted(r["value"] for r in whole.collect()) == ["alpha\nbeta", "gamma"]


def test_binary_files_feed_media_decode(spark, tmp_path):
    """binaryFile is the multimodal ingestion edge: files on disk ->
    (path, content) rows -> the decode_media pipeline, with
    pathGlobFilter pruning non-matching files at listing time."""
    from dataingestiontohana_spark.operators.multimodal import (
        KIND_IMAGE,
        decode_media,
        synth_media_bytes,
    )

    d = tmp_path / "media"
    d.mkdir()
    payload = synth_media_bytes(7, KIND_IMAGE, 8, 4)
    (d / "img7.bin").write_bytes(payload)
    (d / "ignore.txt").write_text("not media")

    bf = read_binary_files(spark, str(d), glob="*.bin")
    assert bf.count() == 1  # glob pruned the .txt at listing time
    row = bf.select("path", "length", "content").collect()[0]
    assert row["path"].endswith("img7.bin") and row["length"] == len(payload)

    media = bf.select(
        F.lit(7).cast("long").alias("media_id"),
        F.lit(KIND_IMAGE).alias("kind"),
        "content",
    )
    dec = decode_media(media).collect()[0]
    assert (dec["width"], dec["height"]) == (8, 4)


def test_json_quarantine_mirrors_csv_contract(spark):
    """The JSON envelope's dead-letter behavior must match the CSV
    one: clean rows type, malformed bodies land verbatim in _corrupt,
    and the stream survives."""
    from dataingestiontohana_spark.sources.csv_envelope import (
        parse_json_quarantine,
    )

    df = spark.createDataFrame(
        [
            ('{"counter": 7, "temperature": 21.5}',),
            ("not json at all {",),
        ],
        "value string",
    )
    out = parse_json_quarantine(
        df, "counter int, temperature double"
    ).collect()
    rows = {r["counter"]: r for r in out}
    assert rows[7]["temperature"] == 21.5 and rows[7]["_corrupt"] is None
    bad = rows[None]
    assert bad["_corrupt"] == "not json at all {"


def test_upsert_sink_partition_write_mode_executor_side(spark, tmp_path):
    """write_mode='partition' — the real-cluster shape: one DBAPI
    connection PER SPARK PARTITION, opened on the executor (the
    connection factory and SQL text must survive pickling into the
    foreachPartition closure). SQLite serializes concurrent writers
    via file locking (timeout bounds the wait), so the result must
    still be exactly the keyed-upsert outcome: re-writing the same
    batch converges, no duplicates."""
    import functools
    import sqlite3

    from dataingestiontohana_spark.operators.upsert_sink import (
        SQLiteDialect,
        UpsertSink,
    )
    from dataingestiontohana_spark.sources.generator import sensor_rows

    db = str(tmp_path / "sink.db")
    sink = UpsertSink(
        table="sensor_sink",
        key_cols=["counter"],
        dialect=SQLiteDialect(),
        connection_factory=functools.partial(
            sqlite3.connect, db, timeout=30
        ),
        write_mode="partition",
        batch_size=50,
    )
    from dataingestiontohana_spark.streaming.pipeline import (
        SENSOR_SQL_COLUMNS,
    )

    sink.ensure_table(SENSOR_SQL_COLUMNS, with_pk=True)
    rows = sensor_rows(spark, 200).repartition(4)
    sink.write(rows, upsert=True)
    sink.write(rows, upsert=True)  # idempotent replay converges
    assert _sink_audit(db) == (200, 200, 200)


def _sink_audit(db: str) -> tuple[int, int, int]:
    """(rows, distinct counters, counter span) of the sensor_sink table."""
    con = sqlite3.connect(db)
    try:
        n, uniq, lo, hi = con.execute(
            'SELECT COUNT(*), COUNT(DISTINCT "counter"), MIN("counter"), '
            'MAX("counter") FROM "sensor_sink"'
        ).fetchone()
    finally:
        con.close()
    return n, uniq, (hi - lo + 1) if n else 0


def _pid_recording_sink(db: str) -> UpsertSink:
    """Default-mode sink whose connections record the pid of the process
    that opened them in the side table `opened` (committed with the
    rows). The factory is a closure, so it pickles by value into the
    executor-side write."""

    def connect():
        con = sqlite3.connect(db, timeout=30)
        con.execute("INSERT INTO opened VALUES (?)", (os.getpid(),))
        return con

    con = sqlite3.connect(db)
    con.execute("CREATE TABLE opened (pid INTEGER)")
    con.commit()
    con.close()
    return UpsertSink("sensor_sink", ["counter"], SQLiteDialect(), connect)


def test_upsert_sink_routes_small_one_partition_frames_to_driver(spark, tmp_path):
    """The default write mode writes a one-partition frame within the
    broadcast threshold from the driver (no Python-worker task); a
    multi-partition frame, or one above the threshold, is written by
    executor tasks, one connection per partition. Every route converges
    to the keyed-upsert result."""
    db = str(tmp_path / "sink.db")
    sink = _pid_recording_sink(db)
    sink.ensure_table(SENSOR_SQL_COLUMNS, with_pk=True)
    assert sink.write_mode == "partition"  # the default

    def writer_pids(frame) -> set[int]:
        con = sqlite3.connect(db)
        con.execute("DELETE FROM opened")
        con.execute('DELETE FROM "sensor_sink"')
        con.commit()
        con.close()
        sink.write(frame, upsert=True)
        assert _sink_audit(db) == (200, 200, 200)
        con = sqlite3.connect(db)
        try:
            return {p for (p,) in con.execute("SELECT pid FROM opened")}
        finally:
            con.close()

    one = sensor_rows(spark, 200).coalesce(1)
    assert writer_pids(one) == {os.getpid()}

    four = sensor_rows(spark, 200).repartition(4)
    pids = writer_pids(four)
    assert pids and os.getpid() not in pids

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")  # below any frame's size estimate
    try:
        pids = writer_pids(one)
    finally:
        spark.conf.set(key, old)
    assert pids and os.getpid() not in pids


@pytest.mark.parametrize("partitions", [1, 2], ids=["driver", "executor"])
def test_upsert_sink_commit_failure_raises(spark, tmp_path, partitions):
    """A commit the database refuses must fail the write: a reader
    holding an open read transaction blocks SQLite's commit ("database
    is locked"), the connection's close rolls the rows back, and a
    write that returned normally would let foreachBatch commit the
    offsets of rows that never landed."""
    db = str(tmp_path / "sink.db")
    sink = UpsertSink(
        "sensor_sink", ["counter"], SQLiteDialect(),
        functools.partial(sqlite3.connect, db, timeout=0.1),
    )
    sink.ensure_table(SENSOR_SQL_COLUMNS, with_pk=True)
    reader = sqlite3.connect(db)
    try:
        reader.execute("BEGIN")
        reader.execute('SELECT COUNT(*) FROM "sensor_sink"').fetchone()
        with pytest.raises(Exception, match="database is locked"):
            sink.write(sensor_rows(spark, 50).repartition(partitions))
    finally:
        reader.close()
    assert _sink_audit(db) == (0, 0, 0)


@pytest.mark.parametrize("field", ["write_mode", "driver_fetch"])
def test_upsert_sink_rejects_unknown_modes(tmp_path, field):
    with pytest.raises(ValueError, match=field):
        UpsertSink(
            "sensor_sink", ["counter"], SQLiteDialect(),
            functools.partial(sqlite3.connect, str(tmp_path / "s.db")),
            **{field: "Driver"},
        )
