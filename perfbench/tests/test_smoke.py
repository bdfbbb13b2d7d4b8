"""Toy-size end-to-end runs of every workload, each as its own
``python3 perfbench/run.py`` process (``PERFBENCH_TOY=1``)."""

import json
import os
import subprocess
import sys

import pytest

import workloads

from conftest import BENCH, ROOT

WORK = os.path.join(ROOT, ".perfbench_work")


def _bench_names(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"] for m in json.load(fh)[kind]}


def _entries():
    return set(os.listdir(WORK)) if os.path.isdir(WORK) else set()


def _spans():
    d = os.path.join(WORK, "spans")
    return set(os.listdir(d)) if os.path.isdir(d) else set()


def _bench(cwd, *args):
    env = {**os.environ, "PERFBENCH_TOY": "1"}
    return subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), *args],
        cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=600)


@pytest.fixture
def clean_work():
    before, spans = _entries(), _spans()
    yield
    for f in _spans() - spans:  # a traced run keeps its spans; the test does not
        os.remove(os.path.join(WORK, "spans", f))
    # every run removes its own work directory
    assert _entries() - before <= {"spans"}


def _run(workload, trace):
    p = _bench(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
               "--trace", str(trace))
    assert p.returncode == 0
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_toy_run_is_correct_and_reports_every_end_to_end_metric(clean_work, workload):
    res = _run(workload, 0)
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] > 0
    assert set(res["metrics"]) == _bench_names("end_to_end")
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_toy_traced_run_reports_every_per_layer_metric(clean_work):
    res = _run("stream_ingest", 1)
    assert res["correct"] is True
    assert set(res["metrics"]) == _bench_names("per_layer")
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["streaming.batches"] >= 1 and m["sinks.merge_jobs_per_call"] >= 1
    assert m["streaming.micro_batch.tasks"] > 0
    assert m["pipeline.build_s"] > 0 and m["engine.parallel_efficiency"] > 0


def test_refuses_without_a_checkout(tmp_path):
    p = _bench(str(tmp_path), "--workload", "stream_ingest", "--seed", "1", "--seconds", "1")
    assert p.returncode != 0 and p.stdout == ""
