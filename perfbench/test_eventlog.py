"""Tests for the event-log reader on a small captured Spark 4.1 log.

testdata/small_eventlog.jsonl was written by a local[2] session with
``spark.eventLog.compress=false`` and ``spark.eventLog.rolling.enabled=false``
and trimmed to the events and fields the reader uses.  It holds three job
groups: ``span-udf`` (a pandas UDF over 200 rows, two partitions),
``span-shuffle`` (a groupBy written to parquet) and no group (a count).

Run with ``python3 -m pytest perfbench/test_eventlog.py``.
"""

import os

import eventlog

LOG = os.path.join(os.path.dirname(__file__), "testdata", "small_eventlog.jsonl")


def test_jobs_and_stages_per_group():
    g = eventlog.read(LOG)
    assert set(g) == {"span-udf", "span-shuffle", None}
    assert (g["span-udf"].jobs, g["span-udf"].stages) == (2, 2)
    assert (g["span-shuffle"].jobs, g["span-shuffle"].stages) == (3, 3)
    assert (g[None].jobs, g[None].stages) == (2, 2)
    assert len(g["span-shuffle"].intervals) == 3


def test_task_metrics_follow_their_stage_group():
    g = eventlog.read(LOG)
    udf, shuffle = g["span-udf"], g["span-shuffle"]
    # Python worker time and UDF output rows come from the SQL metrics of
    # the ArrowEvalPython node (two tasks of 100 rows)
    assert udf.python_ms == 3013 + 2977
    assert udf.python_rows == {"ArrowEvalPython": 200}
    assert shuffle.python_ms == 0 and shuffle.python_rows == {}
    assert shuffle.output_bytes == 829 and udf.output_bytes == 0
    assert shuffle.shuffle_write_bytes == 2415
    assert shuffle.shuffle_read_bytes == 2415
    assert udf.exec_ms == 12822 and udf.gc_ms == 172
    assert all(s.spill_bytes == 0 for s in g.values())


def test_covered_ms_merges_overlaps_and_excludes_children():
    jobs = [(0, 10), (5, 20), (30, 40)]
    assert eventlog.covered_ms(jobs, 0, 100) == 30
    assert eventlog.covered_ms(jobs, 8, 35) == 17
    # a child span covering [12, 32) owns that time, not the parent
    assert eventlog.covered_ms(jobs, 0, 100, holes=[(12, 32)]) == 30 - 8 - 2


def test_covered_ms_of_the_captured_jobs_fits_the_span():
    g = eventlog.read(LOG)["span-shuffle"]
    start = min(a for a, _ in g.intervals)
    end = max(b for _, b in g.intervals)
    covered = eventlog.covered_ms(g.intervals, start, end)
    assert 0 < covered <= end - start
    assert covered == sum(b - a for a, b in g.intervals)
