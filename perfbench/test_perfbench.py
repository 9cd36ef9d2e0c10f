"""Tests of the benchmark's own rules (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sqlite3
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import (  # noqa: E402
    TAIL_MARGIN,
    due_latencies,
    fingerprint_failures,
    range_failures,
    rows_lost_or_duplicated,
    summarize,
)


def test_tail_keeps_ten_samples_beyond_it():
    vals = [float(i) for i in range(50)]
    med, tail, pct = summarize(vals)
    assert med == 24.5
    assert tail == 39.0
    assert sum(v > tail for v in vals) == TAIL_MARGIN
    assert pct == 80.0


def test_small_sample_reports_no_tail_above_the_median():
    vals = [5.0, 1.0, 3.0, 2.0, 4.0, 8.0, 7.0, 6.0]
    med, tail, pct = summarize(vals)
    assert med == tail == 4.5
    assert pct == 50.0


def test_weights_stand_for_repeated_samples():
    vals, weights = [1.0, 2.0, 3.0], [5, 20, 12]
    expanded = [v for v, w in zip(vals, weights) for _ in range(w)]
    assert summarize(vals, weights) == summarize(expanded)
    # the tail must leave ten of the 37 samples beyond it
    assert summarize(vals, weights)[1] == 3.0


def test_latency_runs_from_due_time_not_release():
    due = [0.0, 0.4, 0.8]
    last_key = [199, 399, 599]
    # file 1 missed the first commit and is charged its wait in the queue
    commits = [(0.3, 199), (1.5, 599)]
    lat = due_latencies(due, commits, last_key)
    assert [round(x, 9) for x in lat] == [0.3, 1.1, 0.7]


def test_uncommitted_file_has_no_latency():
    lat = due_latencies([0.0, 0.4], [(0.2, 199)], [199, 399])
    assert lat[0] == 0.2 and lat[1] is None


def test_fingerprint_mismatch_and_error_count_as_failures():
    expected = {"a": [3, 10, 7], "b": [3, 10, 7], "c": [1, 1, 1]}
    observed = {"a": (3, 10, 7), "b": (3, 10, 8), "c": None}
    assert fingerprint_failures(observed, expected) == ["b", "c"]


def test_range_audit_counts_lost_and_duplicated_units():
    counts = [(200, 200, 200), (200, 199, 199), (200, 201, 200)]
    assert range_failures(counts) == [1, 2]
    assert rows_lost_or_duplicated(sent=10, rows=11, uniq=9) == 3
    assert rows_lost_or_duplicated(sent=10, rows=10, uniq=10) == 0


def test_sink_audit_flags_an_injected_gap(tmp_path):
    import ingest

    db = str(tmp_path / "sink.db")
    con = sqlite3.connect(db)
    con.execute(f'CREATE TABLE "{ingest.TABLE}" ("counter" INTEGER PRIMARY KEY)')
    con.executemany(f'INSERT INTO "{ingest.TABLE}" VALUES (?)',
                    [(k,) for k in range(100, 110) if k != 104])
    con.commit()
    con.close()
    audit, ok = ingest._audit(db, start=100, sent=10)
    assert not ok
    assert rows_lost_or_duplicated(10, audit.n_rows, audit.uniq) == 1
    audit, ok = ingest._audit(db, start=100, sent=9)
    assert not ok  # the gap shows in the key span even when the count fits
