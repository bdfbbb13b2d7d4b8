import json

import pytest

import stats


def test_percentile_needs_ten_samples_beyond():
    xs = list(range(1, 101))  # p90 of 100 is the 90th: ten lie beyond it
    assert stats.percentile(xs, 0.9) == 90
    assert stats.beyond(100, 0.9) == 10
    with pytest.raises(stats.InsufficientSamples):
        stats.percentile(xs[:99], 0.9)
    assert stats.percentile(list(range(20)), 0.5) == 9
    with pytest.raises(stats.InsufficientSamples):
        stats.percentile(list(range(19)), 0.5)


def _write_log(d, name, lines):
    d.mkdir(parents=True, exist_ok=True)
    (d / name).write_text("v1\n" + "\n".join(json.dumps(x) for x in lines) + "\n")


def test_latency_from_due_time_uses_the_file_source_log(tmp_path):
    src = tmp_path / "ckpt" / "sources" / "0"
    # batch 0 read a.parquet; a compacted log lists batch 0 and 1 again
    _write_log(src, "0", [{"path": "file:/x/a.parquet", "timestamp": 1, "batchId": 0}])
    _write_log(src, "1.compact", [
        {"path": "file:/x/a.parquet", "timestamp": 1, "batchId": 0},
        {"path": "file:/x/b.parquet", "timestamp": 2, "batchId": 1},
        {"path": "file:/x/c.parquet", "timestamp": 2, "batchId": 1},
    ])
    _write_log(src, "2", [{"path": "file:/x/d.parquet", "timestamp": 3, "batchId": 2}])
    (src / ".2.crc").write_text("junk")
    batch_of = stats.file_source_log(str(tmp_path / "ckpt"))
    assert batch_of == {"a.parquet": 0, "b.parquet": 1, "c.parquet": 1, "d.parquet": 2}
    due = {"a.parquet": 10.0, "b.parquet": 10.5, "c.parquet": 11.0, "d.parquet": 11.5}
    committed = {0: 12.0, 1: 14.0}  # batch 2 never returned
    lat = stats.file_latencies(due, batch_of, committed)
    assert lat == {"a.parquet": 2.0, "b.parquet": 3.5, "c.parquet": 3.0}


def test_latency_is_per_file_in_the_open_loop_and_median_job_in_closed_loops():
    import types

    import run
    from workloads import Timed

    open_loop, closed_loop = (types.SimpleNamespace(open_loop=x) for x in (True, False))
    files = Timed(rows=100, wall_s=1.0, latencies=[float(i) for i in range(1, 101)], iterations=1)
    assert run._latency(open_loop, files) == (50.0, 90.0)
    with pytest.raises(stats.InsufficientSamples):
        run._latency(open_loop, Timed(rows=99, wall_s=1.0, latencies=files.latencies[:99],
                                      iterations=1))
    jobs = Timed(rows=3, wall_s=9.0, latencies=[4.0, 2.0, 3.0], iterations=3)
    assert run._latency(closed_loop, jobs) == (3.0, 3.0)
