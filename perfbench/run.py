"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. Generates the workload's inputs
from the seed, sets up a Spark session several times (the median is
``setup_s``), runs the timed region, publishes, checks the outputs
against the DuckDB oracles and prints one JSON result as the last line
of stdout. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
reports the per-layer metrics from a traced run plus an untraced run of
the same region in the same process (their difference is the tracing
overhead). Everything the run writes lives under ``.perfbench_work/``
in the checkout and is removed at exit, except the traced run's spans
(``.perfbench_work/spans/``).
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import signal
import sys
import tempfile
import time

SETUPS = 3
SENTINEL_PERIOD_S = 5.0


def _args(argv):
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _pin(root: str, work: str, cpus: int) -> dict[str, str]:
    """Pin the engine to this host and keep every file it writes in
    ``work``; returns the extra session conf."""
    import host

    for d in ("tmp", "spark-local", "jvm-tmp", "eventlog"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ.pop("SPARK_MASTER", None)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = host.driver_memory()
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    tempfile.tempdir = f"{work}/tmp"
    return {
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/jvm-tmp -XX:-UsePerfData",
    }


# (module, attribute, span name): the public functions the traced run
# wraps, one or more per layer
TRACED = [
    ("sentiflow_spark.session", "get_spark", "session.get_spark"),
    ("sentiflow_spark.tables", "load", "tables.load"),
    ("sentiflow_spark.jobs", "main", "jobs.main"),
    ("sentiflow_spark.pipeline.batch", "documents_as_raw_content",
     "pipeline.documents_as_raw_content"),
    ("sentiflow_spark.pipeline.batch", "sentiment_pipeline", "pipeline.sentiment_pipeline"),
    ("sentiflow_spark.pipeline.batch", "route_by_length", "operators.route_by_length"),
    ("sentiflow_spark.pipeline.batch", "summary_join_back", "operators.summary_join_back"),
    ("sentiflow_spark.pipeline.batch", "score_join_back", "operators.score_join_back"),
    ("sentiflow_spark.pipeline.batch", "shape_result", "operators.shape_result"),
    ("sentiflow_spark.pipeline.batch", "stub_summarize", "pipeline.stub_summarize"),
    ("sentiflow_spark.pipeline.batch", "stub_sentiment", "pipeline.stub_sentiment"),
    ("sentiflow_spark.streaming.dag", "load_stream", "streaming.load_stream"),
    ("sentiflow_spark.streaming.dag", "streaming_sentiment_flow",
     "streaming.streaming_sentiment_flow"),
    ("sentiflow_spark.streaming.sinks", "merge_upsert", "sinks.merge_upsert"),
    ("sentiflow_spark.streaming.sinks", "stamp_ttl", "sinks.stamp_ttl"),
    ("sentiflow_spark.queries.curation_delta", "admit_batch", "curation_delta.admit_batch"),
    ("sentiflow_spark.queries.curation_delta", "boiler_segments", "operators.dedup.boiler_segments"),
    ("sentiflow_spark.queries.curation_delta", "minhash_signatures",
     "operators.dedup.minhash_signatures"),
]


def _observe_merges(tracer, w) -> None:
    """Record, per ``merge_upsert`` call, the bucket directories whose
    files changed, the bytes of the files it wrote and the table's file
    count after it (``w.merge_calls``)."""
    from workloads import parquet_files

    w.merge_calls = []

    def make(fn):
        def observed(spark, new_rows, table_path, *a, **kw):
            before = parquet_files(table_path)
            fn(spark, new_rows, table_path, *a, **kw)
            after = parquet_files(table_path)
            changed = set(before) ^ set(after)
            w.merge_calls.append({
                "t": time.time(),
                "buckets_rewritten": len({os.path.dirname(p) for p in changed}),
                "bytes_written": sum(after[p] for p in set(after) - set(before)),
                "files_after": len(after),
            })
        return observed

    tracer.replace("sentiflow_spark.streaming.sinks", "merge_upsert", make)


class Run:
    def __init__(self, a, root: str):
        import host
        import workloads

        self.a, self.root = a, root
        self.cpus = host.cpus()
        self.work = os.path.join(root, ".perfbench_work", f"{a.workload}-{os.getpid()}")
        self.conf = _pin(root, self.work, self.cpus)
        self.w = workloads.WORKLOADS[a.workload](self.work, a.seed, a.seconds)
        self.spark = None

    def session(self, trace: bool):
        from sentiflow_spark import session

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        conf = dict(self.conf)
        if trace:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = f"file://{self.work}/eventlog"
            conf["spark.eventLog.compress"] = "false"
        self.spark = session.get_spark(f"perfbench-{self.a.workload}", **conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def setup(self, n: int, trace: bool) -> tuple[list[float], float]:
        """``n`` session bring-ups (the first also launches the JVM),
        then one untimed pass through the workload's code path on its
        own warm-up inputs. Returns (bring-up times, warm-up time)."""
        times = []
        for _ in range(n):
            t = time.perf_counter()
            self.session(trace).range(1000).count()
            times.append(time.perf_counter() - t)
        t = time.perf_counter()
        self.w.warm(self.spark)
        return times, time.perf_counter() - t

    def shutdown(self) -> None:
        """Stop Spark and wait until the JVM it launched has exited (the
        JVM exits when its stdin closes; its Python workers exit with it)."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if proc is not None:
            gw.shutdown()
            proc.stdin.close()
            proc.wait(timeout=60)


def _latency(w, timed) -> tuple[float, float]:
    """(p50, p90) of the open loop's per-file latency. A closed loop has
    one caller and a few jobs a run, too few for a percentile with ten
    samples beyond it, so both names carry its median job time."""
    import stats

    if w.open_loop:
        return (stats.percentile(timed.latencies, 0.5),
                stats.percentile(timed.latencies, 0.9))
    m = stats.median(timed.latencies)
    return m, m


def _e2e(w, timed, setup_s, publish_s, peak_rss) -> dict:
    p50, p90 = _latency(w, timed)
    return {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (timed.rows / timed.wall_s, "rows/s"),
        "latency_p50_s": (p50, "s"),
        "latency_p90_s": (p90, "s"),
        "publish_s": (publish_s, "s"),
        "peak_rss_mb": (peak_rss / (1 << 20), "MB"),
    }


def _parallel_efficiency(run: Run) -> float:
    """rows/s of the workload's parallel probe at ``local[cpus]`` over
    cpus × its rows/s at ``local[1]``, each on a fresh context in this
    (already warm) JVM; 0 for a workload without a probe."""
    probe = run.w.parallel_probe
    if probe is None:
        return 0.0
    many = probe(run.session(trace=False))
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    try:
        one = probe(run.session(trace=False))
    finally:
        os.environ["SPARK_GRAFT_CPUS"] = str(run.cpus)
    return many / (run.cpus * one)


def main(argv=None) -> int:
    a = _args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    pkg = os.path.join(root, "sentiflow_spark", "__init__.py")
    if not os.path.isfile(pkg):
        print(f"perfbench: no sentiflow_spark package under {root}; "
              "run from the root of a source checkout", file=sys.stderr)
        return 2
    import workloads

    if a.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    if a.seconds < 1:
        print("perfbench: --seconds must be at least 1", file=sys.stderr)
        return 2
    if os.environ.get("PERFBENCH_TOY") == "1":
        workloads.shrink_to_toy()

    import host

    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(a, root)
    try:
        result, detail = _measure(run)
    finally:
        try:
            run.shutdown()
        finally:
            shutil.rmtree(run.work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(run.work))
            except OSError:
                pass
    detail["host"]["load1_end"] = host.load1()
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


def _measure(run: Run) -> tuple[dict, dict]:
    import gen
    import host
    import layers
    import stats
    import spans

    sys.path.insert(0, os.path.join(run.root, "tools"))
    from host_sentinel import InRunSampler

    a, w = run.a, run.w
    ctx = {"cpus": run.cpus, "load1_start": host.load1(),
           "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"]}
    inputs = w.generate()  # all inputs exist before any clock starts
    inputs["mix"] = dataclasses.asdict(gen.MIX)
    sentinel = InRunSampler(period_s=SENTINEL_PERIOD_S)
    sentinel.start()
    rss = host.PeakRss().start()
    tracer = spans.Tracer() if a.trace else None
    try:
        if tracer is not None:
            for mod, attr, name in TRACED:
                tracer.wrap(mod, attr, name)
            _observe_merges(tracer, w)
        w.tracer = tracer
        bringups, warmup_s = run.setup(SETUPS, trace=bool(a.trace))
        if tracer is not None:
            with tracer.span("timed.region"):
                timed = w.run(run.spark)
            with tracer.span(w.publish_span):
                publish_s = w.publish(run.spark)
        else:
            timed = w.run(run.spark)
            publish_s = w.publish(run.spark)
        stream_state = getattr(w, "last", None)
        if tracer is not None:
            # tracing overhead: traced minus untraced time of the same
            # region in this process
            tracer.unwrap_all()
            w.tracer = None
            untraced = w.run(run.session(trace=False))
            overhead_s = (timed.wall_s / timed.iterations
                          - untraced.wall_s / untraced.iterations)
            pe = _parallel_efficiency(run)
        peak = rss.stop()
    finally:
        rss.stop()
        burst = sentinel.stop(run.cpus)
    verdict = w.check()
    ctx["sentinel"] = burst
    detail = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "host": ctx, "inputs": inputs,
              "verdict": verdict.as_dict(), "iterations": timed.iterations,
              "latency_samples": timed.extra.get("latency_files", len(timed.latencies)),
              "bringup_s": bringups, "warmup_s": warmup_s, **{k: v for k, v in timed.extra.items()}}
    if a.trace:
        if run.spark is not None:
            run.spark.stop()  # finishes the event logs
            run.spark = None
        spans_dir = os.path.join(os.path.dirname(run.work), "spans")
        os.makedirs(spans_dir, exist_ok=True)
        tracer.dump(os.path.join(spans_dir, f"{a.workload}-seed{a.seed}-{os.getpid()}.json"))
        metrics = layers.per_layer(w, tracer, timed, stream_state, run.work,
                                   run.cpus, pe, overhead_s)
    else:
        metrics = _e2e(w, timed, stats.median(bringups) + warmup_s, publish_s, peak)
    detail["metrics_all"] = {k: v[0] for k, v in metrics.items()}
    result = {
        "correct": verdict.correct,
        "attempted": verdict.expected,
        "failed": verdict.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, detail


if __name__ == "__main__":
    sys.exit(main())
