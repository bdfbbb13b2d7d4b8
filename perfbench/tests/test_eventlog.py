"""The parser on a small log recorded from Spark 4 (two jobs: a
two-stage aggregation and a count), with the property maps the parser
never reads removed to keep the file small."""

import json
import os

import pytest

import eventlog

DATA = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def _raw():
    with open(DATA) as fh:
        return [json.loads(x) for x in fh if x.strip()]


def test_parser_reads_jobs_stages_and_task_metrics():
    log = eventlog.parse([DATA])
    raw = _raw()
    ends = [e for e in raw if e["Event"] == "SparkListenerTaskEnd"]
    assert len(log.jobs) == sum(e["Event"] == "SparkListenerJobStart" for e in raw) == 2
    assert len(log.tasks) == len(ends) > 0
    assert len(log.stages_run) == 3
    assert sum(t.cpu_s for t in log.tasks) == pytest.approx(sum(
        e["Task Metrics"]["Executor CPU Time"] for e in ends) / 1e9)
    assert sum(t.shuffle_write_bytes for t in log.tasks) == sum(
        e["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Bytes Written"] for e in ends) > 0


def test_attribution_by_submission_time():
    log = eventlog.parse([DATA])
    first, second = sorted(log.jobs, key=lambda j: j.submitted)
    everything = eventlog.in_windows(log, [(0, 1e12)])
    assert everything["jobs"] == 2 and everything["tasks"] == len(log.tasks)
    only_first = eventlog.in_windows(log, [(first.submitted, first.submitted)])
    assert only_first["jobs"] == 1
    assert 0 < only_first["tasks"] < everything["tasks"]
    assert eventlog.in_windows(log, [(0, 1)])["jobs"] == 0


def test_contexts_are_kept_apart_and_torn_lines_skipped(tmp_path):
    torn = tmp_path / "app2"
    torn.write_text(open(DATA).read() + '{"Event": "SparkListenerTaskEnd", "Sta')
    log = eventlog.parse([DATA, str(torn)])
    assert len(log.jobs) == 4
    assert len({j.id for j in log.jobs}) == 4
    assert len(log.tasks) == 2 * len(eventlog.parse([DATA]).tasks)
