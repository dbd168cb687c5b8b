"""Tests for the event-log fold, against a small committed Spark event log.

``testdata/eventlog_small.jsonl`` is a trimmed log of a local[2] session that
ran two passes of two labelled queries and then an unlabelled count:

- ``demo/agg``: ``range(2000, 2 partitions).groupBy(id % 7).count()``; its
  shuffle is coalesced to one partition, so each pass has one single-task
  stage that reads a shuffle;
- ``demo/scan``: ``range(100, 2 partitions).collect()``, no shuffle;
- an unlabelled ``range(10).count()`` (two jobs), which the fold must ignore.

    python3 -m pytest perfbench/test_eventlog.py -q
"""

from __future__ import annotations

import os

from eventlog import COUNTERS, fold, fold_file

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "eventlog_small.jsonl")


def test_tasks_are_charged_to_their_pass_and_query():
    got = fold_file(LOG)
    assert set(got) == {(0, "agg"), (0, "scan"), (1, "agg"), (1, "scan")}
    for p in (0, 1):
        agg, scan = got[(p, "agg")], got[(p, "scan")]
        assert (agg["jobs"], agg["stages"], agg["tasks"]) == (2, 2, 3)
        assert (scan["jobs"], scan["stages"], scan["tasks"]) == (1, 1, 2)
        assert agg["stages_1task_shuffle"] == 1
        assert scan["stages_1task_shuffle"] == 0
        assert agg["shuffle_write_mb"] > 0
        assert agg["shuffle_read_mb"] == agg["shuffle_write_mb"]
        assert scan["shuffle_read_mb"] == scan["shuffle_write_mb"] == 0
        assert agg["executor_run_s"] > 0 and agg["executor_cpu_s"] > 0


def test_unlabelled_jobs_are_ignored():
    with open(LOG, encoding="utf-8") as fh:
        lines = fh.readlines()
    assert sum('"Event":"SparkListenerJobStart"' in line for line in lines) == 8
    assert sum(c["jobs"] for c in fold(lines).values()) == 6


def test_every_counter_is_reported():
    for counters in fold_file(LOG).values():
        assert set(counters) == set(COUNTERS)


def test_label_needs_group_and_pass():
    job = (
        '{"Event":"SparkListenerJobStart","Job ID":0,"Stage Infos":[],"Stage IDs":[],'
        '"Properties":{"spark.jobGroup.id":"w/q/build","spark.job.description":"%s"}}'
    )
    assert fold([job % "pass=3"]) == {(3, "q"): {**dict.fromkeys(COUNTERS, 0.0), "jobs": 1.0}}
    assert fold([job % "not a pass"]) == {}
