"""The three workloads: inputs, warm-up, timed region, publish and check.

Each workload drives the engine only through its public entry points
and receives only the generated inputs. A timed region returns a
``Timed`` record with one latency sample per independent unit of work:
in the open loop a file (from when it was due for release to the return
of the sink call for the micro-batch that read it), in the closed loops
a job (from its start to its return).
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import sys
import time
from dataclasses import dataclass, field

import check
import gen
import stats

TRIGGER_S = 1
PRIME_FILES = 1
SERVING_READS = 3  # publish_s where there is no release step: median of these reads
ROUTER_THRESHOLD = 256


@dataclass
class Timed:
    rows: int  # input rows completed
    wall_s: float  # timed-region wall time the throughput divides by
    latencies: list[float]  # one sample per file (open loop) or job, seconds
    iterations: int
    extra: dict = field(default_factory=dict)


def _quiet(fn, *a, **kw):
    """Run ``fn`` with its stdout sent to stderr (the jobs print a JSON
    line; only the benchmark's own result may reach stdout)."""
    with contextlib.redirect_stdout(sys.stderr):
        return fn(*a, **kw)


def parquet_files(path: str) -> dict[str, int]:
    """{file: bytes} of the parquet data files under ``path``."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                out[os.path.join(d, f)] = os.path.getsize(os.path.join(d, f))
    return out


def serving_read_s(spark, table: str) -> float:
    """Median time to materialise every column of the serving table:
    the read a consumer of the released table pays."""
    times = []
    for _ in range(SERVING_READS):
        t = time.perf_counter()
        spark.read.parquet(table).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t)
    return stats.median(times)


class StreamIngest:
    """Open loop: pre-generated post files are released into a
    file-source directory on a fixed schedule while ``jobs stream``'s
    query runs continuously on a processing-time trigger, merging into a
    serving table that a ``jobs pipeline`` backfill pre-populated."""

    name = "stream_ingest"
    open_loop = True
    publish_span = "release.publish"
    # many small files, so that a run releases the 100 files a p90 with
    # ten samples beyond it needs. The schedule starts half an interval
    # before a trigger tick, so the first micro-batch takes the files due
    # in that half interval and, because a micro-batch outlasts the rest
    # of a 2 s schedule, the second takes all the others: the shape of the
    # latency distribution does not depend on how fast the host is.
    files_per_s = 50
    rows_per_file = 30
    n_seed = 2_000
    seed_first_id = 1_000_000_000
    drain_timeout_s = 90.0

    def __init__(self, work: str, seed: int, seconds: int):
        self.work, self.seed, self.seconds = work, seed, seconds
        self.n_files = int(self.files_per_s * seconds)
        self.phase = 0
        self.q = None
        self.tracer = None

    def generate(self) -> dict:
        files, shares = gen.stream_files(self.seed, self.n_files + PRIME_FILES,
                                         self.rows_per_file)
        for i, cols in enumerate(files):
            gen.write_table(cols, f"{self.work}/stream/staged/part-{i:05d}.parquet")
        seeded, seed_shares = gen.seed_posts(self.seed, self.n_seed, self.seed_first_id)
        self.seed_docs = f"{self.work}/stream/seed/documents.parquet"
        gen.write_table(seeded, self.seed_docs)
        self.input_bytes = sum(parquet_files(f"{self.work}/stream/staged").values())
        self.seed_bytes = os.path.getsize(self.seed_docs)
        return {**shares, **seed_shares, "files": self.n_files + PRIME_FILES,
                "rows_per_file": self.rows_per_file, "files_per_s": self.files_per_s}

    def seed_table(self, table: str) -> float:
        """Pre-populate ``table`` with the ``jobs pipeline`` backfill of
        the seed posts (route, summarize, score, join-back, merge);
        returns the job's time."""
        from sentiflow_spark import jobs

        shutil.rmtree(table, ignore_errors=True)
        t = time.perf_counter()
        _quiet(jobs.main, ["pipeline", "--sf-dir", os.path.dirname(self.seed_docs),
                           "--out", table, "--router-threshold", str(ROUTER_THRESHOLD)])
        return time.perf_counter() - t

    def parallel_probe(self, spark) -> float:
        """rows/s of the seeding backfill job (``engine.parallel_efficiency``)."""
        return self.n_seed / self.seed_table(f"{self.work}/stream/probe")

    def warm(self, spark) -> None:
        """Seed the serving table, start the query and feed it the prime
        file: the backfill, the query's bring-up and its first merge into
        the existing table are set-up, not measured."""
        from sentiflow_spark.pipeline.batch import documents_as_raw_content
        from sentiflow_spark.streaming.dag import load_stream, streaming_sentiment_flow
        from sentiflow_spark.streaming.sinks import results_sink

        self.phase += 1
        root = f"{self.work}/stream/p{self.phase}"
        src = f"{root}/src/documents.parquet"
        os.makedirs(src)
        self.staged = sorted(os.listdir(f"{self.work}/stream/staged"))
        for f in self.staged:  # same filesystem as src, so release is a rename
            shutil.copy(f"{self.work}/stream/staged/{f}", root)
        self.root, self.src = root, src
        self.table, self.ckpt = f"{root}/table", f"{root}/ckpt"
        self.seed_table(self.table)
        write, tracer = results_sink(self.table), self.tracer
        committed: dict[int, float] = {}

        def sink(df, batch_id):
            if tracer is None:
                write(df, batch_id)
            else:
                with tracer.span("streaming.micro_batch"):
                    write(df, batch_id)
            committed[batch_id] = time.time()

        prime, self.staged = self.staged[:PRIME_FILES], self.staged[PRIME_FILES:]
        os.rename(f"{root}/{prime[0]}", f"{src}/{prime[0]}")  # the schema source
        docs = load_stream(spark, f"{root}/src", "documents")
        flow = streaming_sentiment_flow(
            documents_as_raw_content(docs), router_threshold=ROUTER_THRESHOLD)
        self.committed = committed
        self.q = (flow.writeStream.foreachBatch(sink)
                  .option("checkpointLocation", self.ckpt)
                  .trigger(processingTime=f"{TRIGGER_S} seconds").start())
        for i, f in enumerate(prime):
            if i:
                os.rename(f"{root}/{f}", f"{src}/{f}")
            self._wait(lambda: len(committed) > i, self.q, 120.0)

    def run(self, spark) -> Timed:
        if self.q is None:
            self.warm(spark)
        q, committed, ckpt = self.q, self.committed, self.ckpt
        try:
            # processing-time triggers fire on multiples of the interval;
            # start the schedule half an interval before one so the phase
            # of the first release is the same in every run
            t0 = (math.floor(time.time() / TRIGGER_S) + 1.5) * TRIGGER_S
            time.sleep(t0 - time.time())
            due, released = {}, {}
            for i, f in enumerate(self.staged):
                due[f] = t0 + i / self.files_per_s
                pause = due[f] - time.time()
                if pause > 0:
                    time.sleep(pause)
                os.rename(f"{self.root}/{f}", f"{self.src}/{f}")
                released[f] = time.time()
            t_end = time.time()

            def drained():
                batch_of = stats.file_source_log(ckpt)
                return all(f in batch_of and batch_of[f] in committed for f in due)

            self._wait(drained, q, self.drain_timeout_s, fail=False)
            # a batch's progress event is posted after its sink returns
            self._wait(lambda: (q.lastProgress or {}).get("batchId", -1) >= max(committed),
                       q, 10.0, fail=False)
            progress = list(q.recentProgress)
        finally:
            q.stop()
            self.q = None
        batch_of = stats.file_source_log(ckpt)
        lat = stats.file_latencies(due, batch_of, committed)
        done = [f for f in due if f in lat]
        last = max((committed[batch_of[f]] for f in done), default=t_end)
        self.last = {
            "due": due, "released": released, "batch_of": batch_of,
            "committed": committed, "progress": progress, "t_end": t_end,
        }
        return Timed(
            rows=len(done) * self.rows_per_file,
            wall_s=last - t0,
            latencies=[lat[f] for f in done],
            iterations=1,
            extra={"latency_files": len(done), "files_due": len(due),
                   "batches": len({batch_of[f] for f in done})},
        )

    @staticmethod
    def _wait(cond, q, timeout_s: float, fail: bool = True) -> bool:
        end = time.time() + timeout_s
        while not cond():
            if q.exception() is not None:
                raise RuntimeError(f"stream failed: {q.exception()}")
            if time.time() > end:
                if fail:
                    raise TimeoutError("stream made no progress")
                return False
            time.sleep(0.05)
        return True

    def publish(self, spark) -> float:
        return serving_read_s(spark, self.table)

    def check(self) -> check.Verdict:
        return check.serving_table([self.seed_docs, f"{self.src}/*.parquet"], self.table)


class BatchBackfill:
    """Closed loop, one caller: ``jobs pipeline`` over one generated
    batch, merged into a serving table pre-populated in set-up and
    restored before every run."""

    name = "batch_backfill"
    open_loop = False
    publish_span = "release.publish"
    n_existing = 10_000
    n_batch = 5_000

    def __init__(self, work: str, seed: int, seconds: int):
        self.work, self.seed, self.seconds = work, seed, seconds
        self.d = f"{work}/backfill"

    def generate(self) -> dict:
        existing, batch, expected, shares = gen.backfill(
            self.seed, self.n_existing, self.n_batch)
        gen.write_table(existing, f"{self.d}/existing/documents.parquet")
        gen.write_table(batch, f"{self.d}/batch/documents.parquet")
        gen.write_table(expected, f"{self.d}/expected/documents.parquet")
        self.input_bytes = sum(parquet_files(f"{self.d}/batch").values())
        return shares

    def _job(self, sf_dir: str, out: str) -> None:
        from sentiflow_spark import jobs

        _quiet(jobs.main, ["pipeline", "--sf-dir", sf_dir, "--out", out,
                           "--router-threshold", str(ROUTER_THRESHOLD)])

    def warm(self, spark) -> None:
        """Pre-populate the serving table (the job's create path), then
        run one untimed merge of the batch (its merge path)."""
        self._job(f"{self.d}/existing", f"{self.d}/pristine")
        self._merge_once()

    def _merge_once(self) -> float:
        self.table = f"{self.d}/table"
        shutil.rmtree(self.table, ignore_errors=True)
        shutil.copytree(f"{self.d}/pristine", self.table)
        t = time.perf_counter()
        self._job(f"{self.d}/batch", self.table)
        return time.perf_counter() - t

    def parallel_probe(self, spark) -> float:
        """rows/s of one merge job (``engine.parallel_efficiency``)."""
        return self.n_batch / self._merge_once()

    def run(self, spark) -> Timed:
        durations: list[float] = []
        t_start = time.perf_counter()
        while not durations or time.perf_counter() - t_start < self.seconds:
            durations.append(self._merge_once())
        return Timed(
            rows=self.n_batch * len(durations),
            wall_s=sum(durations),
            latencies=durations,
            iterations=len(durations),
            extra={"job_s": durations},
        )

    def publish(self, spark) -> float:
        return serving_read_s(spark, self.table)

    def check(self) -> check.Verdict:
        return check.serving_table(f"{self.d}/expected/documents.parquet", self.table)


class CurateDelta:
    """Closed loop, one caller: crawl drops admitted one
    ``queries.curation_delta.admit_batch`` call each (the production API
    that ``jobs curate-delta`` loops over) against standing state, then
    the release published from that state.

    The corpus is cut into ``drops`` ascending-doc_id drops, as
    ``run_delta_batches`` cuts it. Set-up admits all but the last, which
    builds the standing state and plans every admission query once; each
    timed admission restores that state and admits the last drop."""

    name = "curate_delta"
    open_loop = False
    parallel_probe = None
    publish_span = "curation_delta.publish"
    n_docs = 300
    drops = 3

    def __init__(self, work: str, seed: int, seconds: int):
        self.work, self.seed, self.seconds = work, seed, seconds
        self.d = f"{work}/curate"
        self.state_root = f"{self.d}/state"

    def generate(self) -> dict:
        docs, shares = gen.corpus(self.seed, self.n_docs)
        gen.write_table(docs, f"{self.d}/corpus/documents.parquet")
        self.input_bytes = sum(parquet_files(f"{self.d}/corpus").values())
        return {**shares, "drops": self.drops}

    def _admit(self, spark, drop: int) -> float:
        """Admit drop ``drop``; returns its time."""
        from pyspark.sql import functions as F

        from sentiflow_spark import tables
        from sentiflow_spark.queries import curation_delta

        docs = tables.load(spark, f"{self.d}/corpus", "documents")
        lo, hi = (self.n_docs * i // self.drops for i in (drop, drop + 1))
        delta = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        t = time.perf_counter()
        curation_delta.admit_batch(spark, delta, docs, self.state_root)
        return time.perf_counter() - t

    def warm(self, spark) -> None:
        shutil.rmtree(self.state_root, ignore_errors=True)
        for drop in range(self.drops - 1):
            self._admit(spark, drop)
        shutil.copytree(self.state_root, f"{self.d}/standing")

    def run(self, spark) -> Timed:
        durations: list[float] = []
        t_start = time.perf_counter()
        while not durations or time.perf_counter() - t_start < self.seconds:
            shutil.rmtree(self.state_root)
            shutil.copytree(f"{self.d}/standing", self.state_root)
            durations.append(self._admit(spark, self.drops - 1))
        rows = self.n_docs - self.n_docs * (self.drops - 1) // self.drops
        return Timed(
            rows=rows * len(durations),
            wall_s=sum(durations),
            latencies=durations,
            iterations=len(durations),
            extra={"admit_s": durations},
        )

    def publish(self, spark) -> float:
        """Release from the standing state the last admission left."""
        from sentiflow_spark.queries import curation_delta

        t = time.perf_counter()
        disp = curation_delta.publish(spark, f"{self.d}/corpus", self.state_root)
        disp.localCheckpoint().write.mode("overwrite").parquet(f"{self.d}/published")
        return time.perf_counter() - t

    def check(self) -> check.Verdict:
        return check.disposition(f"{self.d}/corpus/documents.parquet", f"{self.d}/published")


WORKLOADS = {w.name: w for w in (StreamIngest, BatchBackfill, CurateDelta)}

# sizes for the benchmark's own smoke tests (``PERFBENCH_TOY=1``); the
# stream still releases the 100 files its p90 needs
TOY = {
    StreamIngest: {"files_per_s": 100, "rows_per_file": 3, "n_seed": 50},
    BatchBackfill: {"n_existing": 300, "n_batch": 150},
    CurateDelta: {"n_docs": 120},
}


def shrink_to_toy() -> None:
    for cls, attrs in TOY.items():
        for k, v in attrs.items():
            setattr(cls, k, v)
