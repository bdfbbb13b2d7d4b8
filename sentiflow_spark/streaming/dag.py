"""Structured Streaming realization of the reference's 4-stage DAG
(SURVEY §3.2) plus the streaming-native operators (watermarked dedup,
event-time windows).

The reference wires four consumer processes through Kafka topics with
hand-built transactions, offset tracking, retries, and micro-batch
buffers (``internal/clients/kafka_client/*``, ``internal/utils/batching.go``).
In Spark all of that collapses into checkpointed streaming queries:

- exactly-once = checkpoint + deterministic sha256 content ids +
  idempotent MERGE sink (K1/K2 parity without any custom code),
- the count-or-time flush buffers (W1) become trigger intervals,
- Valkey TTL dedup (A3/J5) becomes ``dropDuplicatesWithinWatermark``,
- the model join-backs (J1/J2) disappear: the model UDF runs in-process
  inside the stage, so scores are computed on-row. (The reference only
  joins because its models sit behind an async HTTP boundary.)

Tests drive everything with file sources + ``availableNow`` triggers —
no broker needed; the Kafka source/sink wiring lives in
sources/kafka_io.py and is configuration, not logic.
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sentiflow_spark.operators.filters import route_by_length, useful_summary
from sentiflow_spark.operators.projections import (
    rebuild_summarized_input,
    shape_result,
    to_sentiment_input,
)
from sentiflow_spark.pipeline.stubs import (
    SCORE_MISSING_MOD,
    stub_label_col,
    stub_score_col,
    stub_summary_col,
)


def load_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """File-source streaming read of a synthetic table (the test/replay
    analog of the Kafka source S1)."""
    from sentiflow_spark.tables import _NANOS_TS_COLS, _fix_nanos

    import os

    nanos_cols = _NANOS_TS_COLS.get(name, ())
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        # directory-of-parts table layout (what any real writer
        # produces): stream the directory itself
        df = spark.readStream.schema(schema).parquet(path)
    else:
        # single-file layout (the driver's testdata contract): file
        # streaming sources need a directory, so stream sf_dir with a
        # glob filter selecting just this table's file
        df = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", f"{name}.parquet")
            .parquet(sf_dir)
        )
    return _fix_nanos(df, nanos_cols)


def run_to_table(stream_df: DataFrame, output_mode: str = "append") -> DataFrame:
    """Execute a (bounded) stream with an availableNow trigger into an
    in-memory table and return the materialized result."""
    import shutil

    name = f"st_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return stream_df.sparkSession.table(name)
    finally:
        # the memory table lives in the session; a terminated
        # availableNow query never resumes from this checkpoint
        shutil.rmtree(ckpt, ignore_errors=True)


def warm_streaming_engine(spark: SparkSession) -> None:
    """Pay the session's ONE-TIME streaming bring-up off any
    measurement clock: the first streaming query of a session absorbs
    micro-batch engine start, offset/commit log machinery, state-store
    provider classloading, and the Arrow/Python-worker launch for
    pandas-UDF stages — measured at ~8-10 s landing on whichever st_*
    query runs first in a sweep (round-8: st_curation_manifest read
    14 s in-sweep vs 3.5-5.6 s warm). One tiny file-source stateful
    stream into a noop sink plus one 8-row pandas-UDF batch job warms
    all of it; harnesses (bench.py, tools/oracle_sweep.py) call this
    before starting their clocks."""
    import shutil

    from sentiflow_spark.queries.curation_queries import nfc_norm_expr

    # Arrow python-worker launch + pandas-UDF codepath (the NFC UDF is
    # the one every curation-path streaming query runs)
    spark.range(8).select(
        nfc_norm_expr(F.col("id").cast("string")).alias("t")
    ).count()

    scratch = tempfile.mkdtemp(prefix="sf_warmup_stream_")
    try:
        src = scratch + "/src"
        spark.range(256).select(
            "id", F.current_timestamp().alias("ts")
        ).coalesce(1).write.parquet(src)
        schema = spark.read.parquet(src).schema
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            # the pandas UDF runs INSIDE the micro-batch: streaming
            # Arrow wiring is initialized separately from the batch
            # path (measured ~1.2 s on the first st_* query otherwise)
            .select(
                "id",
                "ts",
                nfc_norm_expr(F.col("id").cast("string")).alias("t"),
            )
            .withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["id"])
            .writeStream.format("noop")
            .option("checkpointLocation", scratch + "/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def streaming_sentiment_flow(raw: DataFrame, router_threshold: int = 1024) -> DataFrame:
    """The full dataflow as ONE streaming stage: route → (stub)
    summarize → union → (stub) score on-row → shape. Stateless, so it
    scales as a pure map over Kafka partitions — no shuffle, no state
    store, checkpoint only tracks offsets."""
    sa = to_sentiment_input(raw)
    long_b, short_b = route_by_length(sa, threshold=router_threshold)
    summarized = rebuild_summarized_input(
        useful_summary(long_b.withColumn("summary", stub_summary_col(F.col("text"))))
    )
    united = short_b.unionByName(summarized)
    score = stub_score_col(F.col("text"))
    # F5 on-row: the rows stub_sentiment drops get the zero-value score
    missing = F.length("text") % SCORE_MISSING_MOD == 0
    scored = (
        united.withColumn(
            "sentiment_score", F.when(missing, F.lit(0.0)).otherwise(score)
        )
        .withColumn(
            "sentiment_label", F.when(missing, F.lit("")).otherwise(stub_label_col(score))
        )
        .withColumn(
            "confidence", F.when(missing, F.lit(0.0)).otherwise(F.abs(score))
        )
    )
    return shape_result(scored)


def watermarked_dedup(
    events: DataFrame, keys: list[str], ts_col: str = "ts", retention: str = "24 hours"
) -> DataFrame:
    """A3/J5: the Valkey 24h dedup set as watermarked streaming state
    (RocksDB-backed at scale; key design: put the high-cardinality id in
    the key, let the watermark expire state)."""
    return events.withWatermark(ts_col, retention).dropDuplicatesWithinWatermark(keys)


def read_state_store(
    spark: SparkSession, checkpoint_dir: str, **options: str
) -> DataFrame:
    """K4 closed the reference's Valkey dedup-mark set with watermarked
    streaming state; this exposes that state as a queryable DataFrame
    via Spark 4's built-in ``statestore`` reader — the operational
    surface the reference gets from redis-cli (inspect marks, count
    keys, debug retention) without any side channel into RocksDB.
    Reads the LAST committed batch's state by default; pass e.g.
    ``batchId``/``operatorId``/``storeName`` options to aim elsewhere.
    Cite: internal/clients/valkey_client (reference dedup marks);
    SURVEY.md §2.2 K4."""
    reader = spark.read.format("statestore")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(checkpoint_dir)


def count_flush_batches(
    stream: DataFrame,
    key_col: str = "event_type",
    id_col: str = "event_id",
    batch_size: int = 25,
) -> DataFrame:
    """W1: the reference's count-based flush buffer
    (``internal/utils/batching.go:15-70`` — emit a batch every
    ``BATCH_SIZE`` rows per key) as a custom stateful streaming
    operator via ``applyInPandasWithState``. The per-key GroupState
    holds one counter (8 bytes/key — RocksDB-trivial at scale); each
    row gets its position ``seq`` in the key's lifetime stream and the
    flush batch ``flush_id`` it would ship in. Rows are ordered by
    ``id_col`` within a micro-batch so assignment is deterministic and
    batch-SQL-checkable; across micro-batches the state carries the
    running count, preserving exactly the buffer semantics."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField(key_col, T.StringType()),
            T.StructField(id_col, T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("flush_id", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("n", T.LongType())])

    def assign(key, pdfs, state: GroupState):
        n = state.get[0] if state.exists else 0
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(id_col, kind="mergesort", ignore_index=True)
        seq = pd.RangeIndex(n, n + len(rows)).to_series(index=rows.index)
        state.update((n + len(rows),))
        yield pd.DataFrame(
            {
                key_col: rows[key_col],
                id_col: rows[id_col],
                "seq": seq,
                "flush_id": seq // batch_size,
            }
        )

    return stream.groupBy(key_col).applyInPandasWithState(
        assign,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def _running_totals_schemas(key_col: str, id_col: str):
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField(key_col, T.LongType()),
            T.StructField(id_col, T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("cum_cents", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("cents", T.LongType()),
        ]
    )
    return out_schema, state_schema


def _running_totals_emit(pdf, n, cents, key_col, id_col, value_col):
    """Shared micro-batch body for both stateful backends: sort by
    ``id_col`` (deterministic within a batch), assign lifetime seq
    numbers starting at ``n+1``, accumulate exact integer cents."""
    import pandas as pd

    pdf = pdf.sort_values(id_col, kind="mergesort", ignore_index=True)
    row_cents = pdf[value_col].mul(100).round().astype("int64")
    cum = row_cents.cumsum() + cents
    seq = pd.RangeIndex(n + 1, n + 1 + len(pdf)).to_series(index=pdf.index)
    out = pd.DataFrame(
        {
            key_col: pdf[key_col],
            id_col: pdf[id_col],
            "seq": seq,
            "cum_cents": cum,
        }
    )
    new_state = (n + len(pdf), int(cum.iloc[-1]) if len(pdf) else cents)
    return out, new_state


def running_user_totals(
    stream: DataFrame,
    key_col: str = "user_id",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-key running totals as a custom stateful streaming operator
    (``applyInPandasWithState``). Each key carries (event count, cents
    sum) across micro-batches; every input row is emitted with its
    lifetime sequence number and cumulative cents. Monetary values go
    through integer cents (``round(value*100)``) so the running sum is
    exact and order-independent across engines. Rows are ordered by
    ``id_col`` within a micro-batch, mirroring count_flush_batches'
    determinism contract.

    State size is 16 bytes/key — at 1B users that's 16 GB across the
    cluster's RocksDB instances, far below state-store limits.
    See :func:`running_user_totals_tws` for the Spark 4
    ``transformWithStateInPandas`` form of the same operator.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema, state_schema = _running_totals_schemas(key_col, id_col)

    def assign(key, pdfs, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        out, new_state = _running_totals_emit(
            pdf, n, cents, key_col, id_col, value_col
        )
        state.update(new_state)
        yield out

    return stream.groupBy(key_col).applyInPandasWithState(
        assign,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def running_user_totals_tws(
    stream: DataFrame,
    key_col: str = "user_id",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """:func:`running_user_totals` on ``transformWithStateInPandas`` —
    the Spark 4 arbitrary-stateful API (typed state handles, RocksDB
    ValueState, timers; the successor to ``applyInPandasWithState``).
    Identical semantics and output schema; on a cluster this is the
    preferred form because state is schema'd and evolvable.

    The TWS Python driver worker requires ``google.protobuf``, which
    this container does not ship — callers without protobuf get an
    ImportError here (at plan time, not mid-stream). The test suite
    skips accordingly; the applyInPandasWithState twin above carries
    the correctness contract.
    """
    import google.protobuf  # noqa: F401 — fail fast if TWS can't run

    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema, state_schema = _running_totals_schemas(key_col, id_col)

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            n, cents = self._totals.get() if self._totals.exists() else (0, 0)
            pdf = pd.concat(list(rows), ignore_index=True)
            out, new_state = _running_totals_emit(
                pdf, n, cents, key_col, id_col, value_col
            )
            self._totals.update(new_state)
            yield out

        def close(self) -> None:
            pass

    return stream.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType=out_schema,
        outputMode="Append",
        timeMode="None",
    )


def windowed_counts(
    events: DataFrame, window: str = "1 hour", ts_col: str = "ts"
) -> DataFrame:
    """W4: event-time tumbling counts with watermark-managed state."""
    return (
        events.withWatermark(ts_col, "1 hour")
        .groupBy(F.window(ts_col, window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
        )
    )


def sliding_counts(
    events: DataFrame,
    window: str = "2 hours",
    slide: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """W4: sliding event-time window under streaming (each event lands
    in window/slide windows; state per open window)."""
    return (
        events.withWatermark(ts_col, "1 hour")
        .groupBy(F.window(ts_col, window, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct("user_id").alias("n_users_approx"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n",
            "n_users_approx",
        )
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", ts_col: str = "ts"
) -> DataFrame:
    """W4: session windows (gap-merged per user) under streaming — the
    state store merges overlapping sessions as events arrive."""
    return (
        events.withWatermark(ts_col, "1 hour")
        .groupBy(F.session_window(ts_col, gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )


def interval_self_join(
    events: DataFrame,
    left_type: str = "click",
    right_type: str = "error",
    interval: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Stream-stream join with an event-time interval bound: each
    left-type event pairs with the same user's right-type events in
    [ts, ts + interval]. Both sides carry watermarks and the join
    condition bounds event time in BOTH directions, so the state store
    can expire buffered rows — the only way a stream-stream join stays
    bounded-memory at 100 TB/day."""
    a = (
        events.filter(F.col("event_type") == left_type)
        .select(
            F.col("user_id"),
            F.col("event_id").alias("left_id"),
            F.col(ts_col).alias("left_ts"),
        )
        .withWatermark("left_ts", "1 hour")
    )
    b = (
        events.filter(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("b_user_id"),
            F.col("event_id").alias("right_id"),
            F.col(ts_col).alias("right_ts"),
        )
        .withWatermark("right_ts", "1 hour")
    )
    return a.join(
        b,
        (F.col("user_id") == F.col("b_user_id"))
        & (F.col("right_ts") >= F.col("left_ts"))
        & (F.col("right_ts") <= F.col("left_ts") + F.expr(f"INTERVAL {interval}")),
    ).select(
        "user_id",
        "left_id",
        "right_id",
        F.date_format("left_ts", "yyyy-MM-dd HH:mm:ss").alias("left_ts_s"),
        F.date_format("right_ts", "yyyy-MM-dd HH:mm:ss").alias("right_ts_s"),
    )


def chained_hourly_daily(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """W4+ (Spark 3.4+ multiple stateful operators): two CHAINED
    event-time aggregations in one streaming query — hourly counts per
    event_type, re-aggregated into daily max/total — in APPEND mode,
    so emission is governed by the watermark at BOTH stages (an hourly
    window flows downstream only once finalized; a daily window emits
    only once the watermark passes its end). The reference has nothing
    like this; it is the streaming shape for rollup serving tables
    (raw → hourly → daily) without landing intermediates."""
    hourly = (
        events.withWatermark(ts_col, "1 hour")
        .groupBy(F.window(ts_col, "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    daily = (
        hourly.groupBy(
            F.window(F.window_time("w"), "1 day").alias("d"), "event_type"
        )
        .agg(F.max("n").alias("max_hourly"), F.sum("n").alias("n_total"))
    )
    return daily.select(
        F.date_format(F.col("d.start"), "yyyy-MM-dd HH:mm:ss").alias("day_start"),
        "event_type",
        "max_hourly",
        "n_total",
    )


def interval_left_outer_join(
    events: DataFrame,
    left_type: str = "click",
    right_type: str = "error",
    interval: str = "4 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every left-type event,
    paired with same-user right-type events in [ts, ts + interval] —
    or emitted once with nulls when the watermark proves no match can
    arrive. The null-side row cannot be emitted eagerly (a match may
    still come); it materializes only when the global watermark passes
    ``left_ts + interval``, i.e. the state store can discard the row.
    That is the semantics the oracle must model — see
    st_interval_left_outer."""
    a = (
        events.filter(F.col("event_type") == left_type)
        .select(
            F.col("user_id"),
            F.col("event_id").alias("left_id"),
            F.col(ts_col).alias("left_ts"),
        )
        .withWatermark("left_ts", "1 hour")
    )
    b = (
        events.filter(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("b_user_id"),
            F.col("event_id").alias("right_id"),
            F.col(ts_col).alias("right_ts"),
        )
        .withWatermark("right_ts", "1 hour")
    )
    return a.join(
        b,
        (F.col("user_id") == F.col("b_user_id"))
        & (F.col("right_ts") >= F.col("left_ts"))
        & (F.col("right_ts") <= F.col("left_ts") + F.expr(f"INTERVAL {interval}")),
        "left_outer",
    ).select(
        "user_id",
        "left_id",
        "right_id",
        F.date_format("left_ts", "yyyy-MM-dd HH:mm:ss").alias("left_ts_s"),
        F.date_format("right_ts", "yyyy-MM-dd HH:mm:ss").alias("right_ts_s"),
    )


def streaming_kmv_distinct(
    stream: DataFrame,
    key_col: str = "event_type",
    val_col: str = "user_id",
    k: int = 64,
) -> DataFrame:
    """Per-key distinct-count KMV sketch maintained ACROSS micro-batches
    (applyInPandasWithState): the GroupState holds the k smallest
    portable 60-bit hashes seen for the key — fixed k×8 bytes per key
    forever, the streaming form of rel_kmv_distinct. Each batch emits
    the key's refreshed estimate (update-style serving row). Because a
    KMV sketch merges by keeping the k smallest of a union, feeding the
    stream in any number of micro-batches converges to exactly the
    one-shot sketch — tests/test_jobs.py pins that with a two-batch
    drip. The per-row md5 here is Python-side (Arrow-batched); the
    batch twin (rel_kmv_distinct) stays JVM-side."""
    import hashlib

    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField(key_col, T.StringType()),
            T.StructField("n_seen", T.LongType()),
            T.StructField("h_k", T.LongType()),
            T.StructField("kmv_estimate", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("hashes", T.ArrayType(T.LongType()))])

    def update(key, pdfs, state: GroupState):
        hashes = set(state.get[0]) if state.exists else set()
        for pdf in pdfs:
            for v in pdf[val_col]:
                h = int(hashlib.md5(f"kmv:{v}".encode()).hexdigest()[:15], 16)
                hashes.add(h)
        smallest = sorted(hashes)[:k]
        state.update((smallest,))
        n = len(smallest)
        h_k = smallest[-1]
        est = n if n < k else int(round((k - 1) * float(2**60) / h_k))
        yield pd.DataFrame(
            [{key_col: key[0], "n_seen": n, "h_k": h_k, "kmv_estimate": est}]
        )

    return stream.groupBy(key_col).applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )
