"""Per-layer metrics of a traced run.

Every workload reports every name (a layer a workload does not run
reads 0). README.md names the end-to-end metric each should move and on
which workload. Per-layer percentiles rest on few samples, so they use
the plain nearest rank without the end-to-end ten-beyond rule.
"""

from __future__ import annotations

import json
import math

import eventlog
import stats
from workloads import parquet_files

SPAN_FAMILIES = ("streaming.micro_batch", "sinks.merge_upsert")
CURATION_FAMILIES = ("curation_delta.admit_batch", "curation_delta.publish")
CURATION_METRICS = (
    ("curation_delta.admit_batch_s_p50", "s"), ("curation_delta.admit_jobs_per_batch", "count"),
    ("curation_delta.admit_stages_per_batch", "count"), ("curation_delta.publish_jobs", "count"),
    ("curation_delta.state_bytes_end", "bytes"), ("curation_delta.state_files_end", "count"))
SPAN_FIELDS = (("self_s", "s"), ("tasks", "count"), ("executor_cpu_s", "s"),
               ("gc_s", "s"), ("shuffle_write_bytes", "bytes"),
               ("spill_bytes", "bytes"), ("core_utilization", "ratio"))


def _progress(p) -> dict:
    return json.loads(p.json) if hasattr(p, "json") else dict(p)


def _within(spans, window):
    s, e = window
    return [x for x in spans if x.start >= s and x.end <= e]


def _streaming(state: dict | None, rows_per_file: int) -> dict:
    out = {k: 0.0 for k in (
        "generator.lag_s_max", "streaming.trigger_ms_p50", "streaming.trigger_ms_p90",
        "streaming.add_batch_ms_p50", "streaming.query_planning_ms_p50",
        "streaming.latest_offset_ms_p50", "streaming.wal_commit_ms_p50",
        "streaming.commit_offsets_ms_p50", "streaming.batches",
        "streaming.rows_per_batch_p50", "streaming.backlog_files_end",
        "streaming.source_rows_read_per_row")}
    if not state:
        return out
    batch_of, committed, due = state["batch_of"], state["committed"], state["due"]
    # only the micro-batches that read released files; the prime files'
    # batches belong to set-up
    per_batch: dict[int, int] = {}
    for f in due:
        if f in batch_of:
            per_batch[batch_of[f]] = per_batch.get(batch_of[f], 0) + rows_per_file
    prog = [p for p in map(_progress, state["progress"]) if p.get("batchId") in per_batch]
    dur = [p.get("durationMs", {}) for p in prog]

    def p50(key):
        return stats.median([d.get(key, 0) for d in dur])

    delivered = sum(n for b, n in per_batch.items() if b in committed)
    t_end = state["t_end"]
    out.update({
        "generator.lag_s_max": max(state["released"][f] - due[f] for f in due),
        "streaming.trigger_ms_p50": p50("triggerExecution"),
        "streaming.trigger_ms_p90": stats.percentile(
            [d.get("triggerExecution", 0) for d in dur], 0.9, min_beyond=0) if dur else 0.0,
        "streaming.add_batch_ms_p50": p50("addBatch"),
        "streaming.query_planning_ms_p50": p50("queryPlanning"),
        "streaming.latest_offset_ms_p50": p50("latestOffset"),
        "streaming.wal_commit_ms_p50": p50("walCommit"),
        "streaming.commit_offsets_ms_p50": p50("commitOffsets"),
        "streaming.batches": float(len(per_batch)),
        "streaming.rows_per_batch_p50": stats.median(list(per_batch.values())),
        # released by the end of the schedule but not yet committed then
        "streaming.backlog_files_end": float(sum(
            1 for f, t in state["released"].items()
            if t <= t_end and committed.get(batch_of.get(f), math.inf) > t_end)),
        "streaming.source_rows_read_per_row":
            sum(p.get("numInputRows", 0) for p in prog) / max(1, delivered),
    })
    return out


def _curation(w, tracer, log, window) -> dict:
    m = {}
    if not hasattr(w, "state_root"):
        for k, unit in CURATION_METRICS:
            m[k] = (0.0, unit)
        return m
    admits = _within(tracer.of("curation_delta.admit_batch"), window)
    admit_log = eventlog.in_windows(log, [(s.start, s.end) for s in admits])
    m["curation_delta.admit_batch_s_p50"] = (
        stats.median([s.end - s.start for s in admits]), "s")
    m["curation_delta.admit_jobs_per_batch"] = (admit_log["jobs"] / max(1, len(admits)), "count")
    m["curation_delta.admit_stages_per_batch"] = (
        admit_log["stages"] / max(1, len(admits)), "count")
    pubs = tracer.of("curation_delta.publish")
    m["curation_delta.publish_jobs"] = (
        float(eventlog.in_windows(log, [(s.start, s.end) for s in pubs])["jobs"]), "count")
    state = parquet_files(w.state_root)
    m["curation_delta.state_bytes_end"] = (float(sum(state.values())), "bytes")
    m["curation_delta.state_files_end"] = (float(len(state)), "count")
    return m


def _pipeline_jobs(tracer, merges, window) -> list[tuple]:
    """(job span, its merge spans) for each ``jobs.main`` call that
    merged (the ``pipeline`` jobs), those of the timed region if it ran
    any, else those of set-up (the stream's seeding backfill)."""
    jobs = [(j, [s for s in merges if j.start <= s.start <= j.end])
            for j in tracer.of("jobs.main")]
    jobs = [(j, ms) for j, ms in jobs if ms]
    timed = [(j, ms) for j, ms in jobs if window[0] <= j.start <= window[1]]
    return timed or jobs


def per_layer(w, tracer, timed, stream_state, work: str, cpus: int,
              parallel_eff: float, overhead_s: float) -> dict:
    """{name: (value, unit)} for every per-layer metric."""
    log = eventlog.parse(eventlog.log_files(f"{work}/eventlog"))
    region = tracer.of("timed.region")[0]
    window = (region.start, region.end)
    m: dict[str, tuple[float, str]] = {}

    # the benchmark's own bring-ups; the jobs' nested calls reuse the session
    m["session.get_spark_s"] = (stats.median(
        [s.end - s.start for s in tracer.of("session.get_spark")
         if s.parent is None and s.end <= region.start]), "s")
    for k, v in _streaming(stream_state, getattr(w, "rows_per_file", 0)).items():
        m[k] = (v, "ms" if k.endswith("_ms_p50") or k.endswith("_ms_p90") else
                "s" if k.endswith("_s_max") else "count" if k in (
                    "streaming.batches", "streaming.backlog_files_end") else
                "rows" if k == "streaming.rows_per_batch_p50" else "ratio")

    all_merges = tracer.of("sinks.merge_upsert")
    merges = _within(all_merges, window)
    calls = [c for c in getattr(w, "merge_calls", []) if window[0] <= c["t"] <= window[1]]
    in_bytes = w.input_bytes * timed.iterations
    m["sinks.merge_upsert_s_p50"] = (stats.median([s.end - s.start for s in merges]), "s")
    m["sinks.merge_jobs_per_call"] = (
        eventlog.in_windows(log, [(s.start, s.end) for s in merges])["jobs"]
        / max(1, len(merges)), "count")
    m["sinks.buckets_rewritten_per_call"] = (
        stats.median([c["buckets_rewritten"] for c in calls]), "count")
    m["sinks.bytes_written_per_byte_in"] = (
        sum(c["bytes_written"] for c in calls) / max(1, in_bytes) if calls else 0.0, "ratio")
    m["sinks.table_files_end"] = (float(calls[-1]["files_after"]) if calls else 0.0, "count")

    pipeline_jobs = _pipeline_jobs(tracer, all_merges, window)
    builds, tails = [], []
    for job, job_merges in pipeline_jobs:
        builds.append(sum(s.end - s.start for s in tracer.spans if s.end and s.name in (
            "pipeline.documents_as_raw_content", "pipeline.sentiment_pipeline")
            and job.start <= s.start <= job.end))
        tails.append(job.end - max(s.end for s in job_merges))
    m["pipeline.build_s"] = (stats.median(builds), "s")
    m["pipeline.input_bytes_read_per_byte"] = (
        eventlog.in_windows(log, [window])["input_bytes"] / max(1, in_bytes), "ratio")
    m["jobs.pipeline_report_s"] = (stats.median(tails), "s")
    m["engine.parallel_efficiency"] = (parallel_eff, "ratio")

    m.update(_curation(w, tracer, log, window))
    for fam in SPAN_FAMILIES + CURATION_FAMILIES:
        spans = [s for s in tracer.of(fam)
                 if fam == "curation_delta.publish" or region.start <= s.start <= region.end]
        tot = eventlog.in_windows(log, [(s.start, s.end) for s in spans])
        n = max(1, len(spans))
        wall = sum(s.end - s.start for s in spans)
        vals = {
            "self_s": sum(tracer.self_time(s) for s in spans) / n,
            "tasks": tot["tasks"] / n,
            "executor_cpu_s": tot["executor_cpu_s"] / n,
            "gc_s": tot["gc_s"] / n,
            "shuffle_write_bytes": tot["shuffle_write_bytes"] / n,
            "spill_bytes": tot["spill_bytes"] / n,
            "core_utilization": tot["run_s"] / (wall * cpus) if wall else 0.0,
        }
        for f, unit in SPAN_FIELDS:
            m[f"{fam}.{f}"] = (float(vals[f]), unit)

    m["trace.overhead_s"] = (overhead_s, "s")
    return m
