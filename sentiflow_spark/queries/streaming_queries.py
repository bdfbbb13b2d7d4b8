"""Declared queries that execute UNDER STRUCTURED STREAMING (file
source + availableNow trigger) and return the materialized result, so
the driver's oracle checks streaming execution against batch SQL —
the strongest form of the reference's streaming-semantics parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sentiflow_spark.pipeline.batch import documents_as_raw_content
from sentiflow_spark.pipeline.stubs import DUCK_LABEL, DUCK_SCORE
from sentiflow_spark.queries.registry import register
from sentiflow_spark.streaming.dag import (
    load_stream,
    run_to_table,
    streaming_sentiment_flow,
    watermarked_dedup,
    windowed_counts,
)

from pyspark.sql import functions as F

ROUTER_T = 256
_DUCK_RAW = (
    "SELECT sha256(concat_ws(':', lang, source, doc_id)) AS content_id, "
    "source, lang AS topic, text FROM documents"
)


@register(
    "st_pipeline_e2e",
    oracle=f"""
    WITH raw AS ({_DUCK_RAW}),
    long_b AS (SELECT * FROM raw WHERE strlen(text) > {ROUTER_T}),
    united AS (
      SELECT content_id, source, topic, text, FALSE AS was_summarized,
             CAST(NULL AS VARCHAR) AS original_text
      FROM raw WHERE strlen(text) <= {ROUTER_T}
      UNION ALL
      SELECT content_id, source, topic, substr(text, 1, 128) AS text,
             TRUE AS was_summarized, text AS original_text
      FROM long_b
      WHERE substr(text, 1, 128) <> '' AND substr(text, 1, 128) <> text
    )
    SELECT content_id, source, topic,
           nullif(text, '') AS text,
           nullif(original_text, '') AS original_text,
           was_summarized,
           CASE WHEN length(text) % 47 = 0 THEN 0.0 ELSE {DUCK_SCORE} END
             AS sentiment_score,
           CASE WHEN length(text) % 47 = 0 THEN NULL
                ELSE {DUCK_LABEL.format(s=DUCK_SCORE)} END AS sentiment_label,
           CASE WHEN length(text) % 47 = 0 THEN 0.0 ELSE abs({DUCK_SCORE}) END
             AS confidence
    FROM united
    """,
    tags=("streaming", "e2e", "M3"),
    doc="The sentiment dataflow executed as a Structured Streaming query "
    "(file source, availableNow) — streaming results hash-match batch SQL.",
)
def st_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = documents_as_raw_content(load_stream(spark, sf_dir, "documents"))
    return run_to_table(streaming_sentiment_flow(raw, router_threshold=ROUTER_T))


@register(
    "st_tumbling_counts",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, COUNT(*) AS n
    FROM events GROUP BY 1, 2
    """,
    tags=("streaming", "event-time", "M3", "W4"),
    doc="Watermarked tumbling-window aggregation under streaming "
    "execution (complete mode so every window is emitted).",
)
def st_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_stream(spark, sf_dir, "events")
    return run_to_table(windowed_counts(ev), output_mode="complete")


@register(
    "st_dedup_watermark",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
    tags=("streaming", "dedup", "M3", "A3", "J5"),
    doc="dropDuplicatesWithinWatermark (the Valkey 24h dedup-set analog; "
    "RocksDB state at scale). Key columns only, so the surviving-row "
    "choice cannot affect the hash.",
)
def st_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_stream(spark, sf_dir, "events")
    deduped = watermarked_dedup(ev, ["user_id", "event_type"], retention="720 hours")
    return run_to_table(deduped.select("user_id", "event_type"))


@register(
    "st_count_flush",
    oracle="""
    SELECT event_type, event_id,
           row_number() OVER (PARTITION BY event_type ORDER BY event_id)
             - 1 AS seq,
           (row_number() OVER (PARTITION BY event_type ORDER BY event_id)
             - 1) // 25 AS flush_id
    FROM events
    """,
    tags=("streaming", "stateful", "M3", "W1"),
    doc="Custom stateful operator (applyInPandasWithState): the "
    "reference's count-based flush buffer — every 25th row per key "
    "closes a flush batch; per-key GroupState carries the running "
    "count across micro-batches.",
)
def st_count_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.streaming.dag import count_flush_batches

    ev = load_stream(spark, sf_dir, "events")
    return run_to_table(
        count_flush_batches(ev, key_col="event_type", id_col="event_id", batch_size=25)
    )


@register(
    "st_running_totals",
    oracle="""
    SELECT user_id, event_id,
           row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS seq,
           CAST(SUM(CAST(round(value * 100) AS BIGINT))
             OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT)
             AS cum_cents
    FROM events
    """,
    tags=("streaming", "stateful", "M3", "W1"),
    doc="Custom stateful operator: per-user lifetime running totals "
    "(event seq + exact integer-cents cumulative sum) carried across "
    "micro-batches in per-key GroupState — the streaming form of an "
    "ever-growing window aggregate, hash-matched against batch window "
    "SQL.",
)
def st_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.streaming.dag import running_user_totals

    ev = load_stream(spark, sf_dir, "events")
    return run_to_table(running_user_totals(ev))


@register(
    "st_sliding_counts",
    oracle="""
    WITH assigned AS (
      SELECT date_trunc('hour', ts) AS w_start, user_id FROM events
      UNION ALL
      SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, user_id FROM events
    )
    SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n
    FROM assigned GROUP BY w_start
    """,
    tags=("streaming", "event-time", "M3", "W4"),
    doc="Sliding 2h/1h window under streaming execution (complete "
    "mode; the approx-distinct column is dropped for the oracle since "
    "HLL estimates differ per engine).",
)
def st_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.streaming.dag import sliding_counts

    ev = load_stream(spark, sf_dir, "events")
    return run_to_table(
        sliding_counts(ev), output_mode="complete"
    ).select("window_start", "n")


@register(
    "st_session_counts",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTES
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM ordered
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts) + INTERVAL 30 MINUTES, '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, session_id
    """,
    tags=("streaming", "event-time", "session", "M3", "W4"),
    doc="Session windows (30m gap) under streaming execution — state-"
    "store session merge hash-matches the batch gaps-and-islands SQL.",
)
def st_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.streaming.dag import session_counts

    ev = load_stream(spark, sf_dir, "events")
    return run_to_table(session_counts(ev), output_mode="complete")


@register(
    "st_interval_join",
    oracle="""
    SELECT a.user_id,
           a.event_id AS left_id,
           b.event_id AS right_id,
           strftime(a.ts, '%Y-%m-%d %H:%M:%S') AS left_ts_s,
           strftime(b.ts, '%Y-%m-%d %H:%M:%S') AS right_ts_s
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'error'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 4 HOURS
    """,
    tags=("streaming", "join", "M3", "interval"),
    doc="Stream-stream self-join with event-time interval bounds "
    "(clicks followed by same-user errors within 4 hours), executed "
    "under streaming with two watermarked sides — state stays bounded "
    "because the interval bounds event time in both directions.",
)
def st_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.streaming.dag import interval_self_join

    ev = load_stream(spark, sf_dir, "events")
    return run_to_table(interval_self_join(ev, interval="4 hours"))


@register(
    "st_static_enrich",
    oracle="""
    SELECT doc_id, lang,
           n_chars * CAST(boost AS DOUBLE) AS weighted_chars
    FROM documents
    JOIN (VALUES ('en', 1.0), ('es', 1.5), ('de', 1.5),
                 ('fr', 1.5), ('zh', 2.0)) AS dim(lang, boost)
      USING (lang)
    """,
    tags=("streaming", "join", "M3"),
    doc="Stream-static dimension enrichment: an unbounded stream "
    "joined to a bounded dimension table (the reference's "
    "CategoryToSubreddits pattern, internal/producer/fetch.go:19-29, "
    "done stream-side). The static side broadcasts once per "
    "micro-batch; no state store, no watermark — the streaming "
    "join shape used for every slowly-changing lookup at scale.",
)
def st_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = spark.createDataFrame(
        [("en", 1.0), ("es", 1.5), ("de", 1.5), ("fr", 1.5), ("zh", 2.0)],
        "lang: string, boost: double",
    )
    docs = load_stream(spark, sf_dir, "documents")
    return run_to_table(
        docs.join(F.broadcast(dim), "lang").select(
            "doc_id",
            "lang",
            (F.col("n_chars") * F.col("boost")).alias("weighted_chars"),
        )
    )


@register(
    "st_chained_hourly_daily",
    oracle="""
    WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS cut FROM events),
    hourly AS (
      SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    fin_hourly AS (
      SELECT * FROM hourly
      WHERE h + INTERVAL 1 HOUR <= (SELECT cut FROM wm)
    ),
    daily AS (
      SELECT date_trunc('day', h) AS d, event_type,
             MAX(n) AS max_hourly, CAST(SUM(n) AS BIGINT) AS n_total
      FROM fin_hourly GROUP BY 1, 2
    )
    SELECT strftime(d, '%Y-%m-%d %H:%M:%S') AS day_start,
           event_type, max_hourly, n_total
    FROM daily
    WHERE d + INTERVAL 1 DAY <= (SELECT cut FROM wm)
    """,
    tags=("streaming", "event-time", "M3", "W4", "chained"),
    doc="Chained stateful aggregation (hourly counts re-aggregated "
    "into daily max/total) under APPEND mode — emission gated by the "
    "watermark at both stages, which the oracle models explicitly: "
    "only hourly windows closed before the final watermark "
    "(max ts − 1 h) feed the daily rollup, and only daily windows "
    "closed before it emit. The streaming shape for rollup serving "
    "tables without landing intermediates.",
)
def st_chained_hourly_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.streaming.dag import chained_hourly_daily

    ev = load_stream(spark, sf_dir, "events")
    return run_to_table(chained_hourly_daily(ev), output_mode="append")


@register(
    "st_interval_left_outer",
    oracle="""
    WITH cut AS (
      SELECT least(
        (SELECT max(ts) FROM events WHERE event_type = 'click'),
        (SELECT max(ts) FROM events WHERE event_type = 'error')
      ) - INTERVAL 1 HOUR AS wm
    ),
    a AS (
      SELECT user_id, event_id AS left_id, ts AS left_ts
      FROM events WHERE event_type = 'click'
    ),
    b AS (
      SELECT user_id, event_id AS right_id, ts AS right_ts
      FROM events WHERE event_type = 'error'
    ),
    matched AS (
      SELECT a.user_id, a.left_id, b.right_id, a.left_ts, b.right_ts
      FROM a JOIN b ON a.user_id = b.user_id
       AND b.right_ts >= a.left_ts
       AND b.right_ts <= a.left_ts + INTERVAL 4 HOURS
    ),
    unmatched AS (
      SELECT a.user_id, a.left_id, CAST(NULL AS BIGINT) AS right_id,
             a.left_ts, CAST(NULL AS TIMESTAMP) AS right_ts
      FROM a ANTI JOIN matched m ON a.left_id = m.left_id
      WHERE a.left_ts + INTERVAL 4 HOURS < (SELECT wm FROM cut)
    )
    SELECT user_id, left_id, right_id,
           strftime(left_ts, '%Y-%m-%d %H:%M:%S') AS left_ts_s,
           strftime(right_ts, '%Y-%m-%d %H:%M:%S') AS right_ts_s
    FROM (SELECT * FROM matched UNION ALL SELECT * FROM unmatched)
    """,
    tags=("streaming", "join", "M3", "interval", "outer"),
    doc="Stream-stream LEFT OUTER interval join under streaming "
    "execution: matches emit eagerly; a left row with no match emits "
    "its null row only once the global watermark (min of both sides' "
    "max event time, minus the 1 h delay) passes left_ts + 4 h — the "
    "point where join state is provably complete and evictable. The "
    "oracle models exactly that emission rule, so the hash check "
    "pins Spark's outer-join watermark semantics, not just the join "
    "condition.",
)
def st_interval_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.streaming.dag import interval_left_outer_join

    ev = load_stream(spark, sf_dir, "events")
    return run_to_table(interval_left_outer_join(ev, interval="4 hours"))


@register(
    "st_topic_repair",
    oracle="""
    WITH raws AS (
      SELECT doc_id,
             CASE CAST(doc_id % 3 AS INTEGER)
               WHEN 0 THEN '```json' || chr(10) || '{"topic": "'
                      || lang || '"}' || chr(10) || '```'
               WHEN 1 THEN 'Here you go: {"topic": "' || lang || '"}'
               ELSE 'I cannot answer that.'
             END AS raw
      FROM documents
    ),
    rep AS (
      SELECT doc_id,
             CASE WHEN strpos(trim(raw), '{') > 0
                   AND strpos(reverse(trim(raw)), '}') > 0
                   AND length(trim(raw)) - strpos(reverse(trim(raw)), '}') + 1
                       > strpos(trim(raw), '{')
                  THEN substring(trim(raw), strpos(trim(raw), '{'),
                                 (length(trim(raw)) - strpos(reverse(trim(raw)), '}') + 1)
                                 - strpos(trim(raw), '{') + 1)
                  ELSE '' END AS repaired
      FROM raws
    )
    SELECT doc_id,
           CASE WHEN repaired <> ''
                THEN json_extract_string(repaired, '$.topic') END AS topic
    FROM rep
    """,
    tags=("streaming", "P7", "U1", "M3"),
    doc="P7 JSON repair executed UNDER STRUCTURED STREAMING: the "
    "repair→parse chain is stateless (pure string projections), so it "
    "runs unchanged as a streaming stage — exactly how the reference's "
    "topic-generator consumer loop maps onto a streaming micro-batch. "
    "Refusals surface as NULL topic rather than dropped rows (no "
    "stateful filter needed in-stream).",
)
def st_topic_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.pipeline.topics import repair_llm_json
    from sentiflow_spark.streaming.dag import load_stream, run_to_table

    docs = load_stream(spark, sf_dir, "documents")
    raw = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit('```json\n{"topic": "'), F.col("lang"), F.lit('"}\n```')),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit('Here you go: {"topic": "'), F.col("lang"), F.lit('"}')),
        )
        .otherwise(F.lit("I cannot answer that."))
    )
    rep = docs.select("doc_id", repair_llm_json(raw).alias("repaired"))
    parsed = rep.select(
        "doc_id",
        F.when(
            F.col("repaired") != "", F.get_json_object("repaired", "$.topic")
        ).alias("topic"),
    )
    return run_to_table(parsed)


@register(
    "st_kmv_distinct",
    oracle="""
    WITH hashed AS (
      SELECT DISTINCT event_type, user_id,
             CAST(('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h
      FROM events
    ),
    ranked AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
      FROM hashed
    ),
    kth AS (
      SELECT event_type, MAX(h) AS h_k, COUNT(*) AS n_seen
      FROM ranked WHERE rk <= 64 GROUP BY event_type
    )
    SELECT event_type, CAST(n_seen AS BIGINT) AS n_seen, h_k,
           CASE WHEN n_seen < 64 THEN CAST(n_seen AS BIGINT)
                ELSE CAST(round(63 * 1152921504606846976.0 / h_k) AS BIGINT)
           END AS kmv_estimate
    FROM kth
    """,
    tags=("streaming", "stateful", "sketch", "M3"),
    doc="Streaming KMV distinct-count sketch: per-key state = the k "
    "smallest portable hashes, maintained across micro-batches via "
    "applyInPandasWithState — fixed k×8 bytes per key however long "
    "the stream runs, vs an unbounded distinct set. The oracle "
    "recomputes the sketch in batch SQL; because KMV merges exactly, "
    "the streaming estimate is bit-identical however the input is "
    "micro-batched.",
)
def st_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.streaming.dag import (
        load_stream,
        run_to_table,
        streaming_kmv_distinct,
    )

    ev = load_stream(spark, sf_dir, "events")
    return run_to_table(streaming_kmv_distinct(ev), output_mode="update")


TREND_K = 3


@register(
    "st_trending_topk",
    oracle=f"""
    WITH counts AS (
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
             CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT window_start, k, n, rank FROM (
      SELECT window_start, k, n,
             row_number() OVER (PARTITION BY window_start
                                ORDER BY n DESC, k) AS rank
      FROM counts
    ) WHERE rank <= {TREND_K}
    """,
    tags=("streaming", "event-time", "M3", "W4", "P6"),
    doc=f"Streaming trending top-{TREND_K}: JSON payload field parsed "
    "in-stream (P6 under streaming execution), watermarked hourly "
    "tumbling counts per parsed key emitted in UPDATE mode (so "
    "operator state really is evicted past the watermark — complete "
    "mode would retain every window forever), then a batch post-pass "
    "over the emitted rollup: last-update-wins per (window, key) "
    "(counts are monotone within a key, so max(n) IS the final count "
    "— test_jobs.py proves batch-split invariance through a shared "
    "checkpoint) and the rank cut. The standard production split, "
    "because rank-over-window is not an incremental operator: the "
    "stream maintains ONLY additive (window, key) counts, and the "
    "non-incremental top-k runs over the already-tiny emitted rollup. "
    "At 100 TB/day the count state is live windows x keys regardless "
    "of event volume, and the rank input is the rollup, not the "
    "firehose.",
)
def st_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_stream(spark, sf_dir, "events")
    counts = (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "k")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "k",
            "n",
        )
    )
    emitted = run_to_table(counts, output_mode="update")
    final = emitted.groupBy("window_start", "k").agg(F.max("n").alias("n"))
    rank_w = W.partitionBy("window_start").orderBy(F.desc("n"), F.asc("k"))
    return (
        final.withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= TREND_K)
    )


# ------------------------------------- streaming near-duplicate alerting

from sentiflow_spark.operators.dedup import (  # noqa: E402
    NUM_PERM,
    band_join_keys,
    band_structs_from_sig_array,
    banded_sigs,
    minhash_sig_array_stateless,
    minhash_signatures,
)
from sentiflow_spark.queries.dedup_queries import (  # noqa: E402
    _duck_bands_cte,
    _duck_match_frac,
    _duck_sigs_cte,
)
from sentiflow_spark.tables import load  # noqa: E402


@register(
    "st_neardup_alert",
    oracle=f"""
    WITH {_duck_sigs_cte()}{_duck_bands_cte()}
    SELECT a.doc_id AS in_doc, b.doc_id AS idx_doc, a.band_idx,
           {_duck_match_frac()} AS est_jaccard
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key
    WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
    """,
    tags=("streaming", "dedup", "lsh", "M5"),
    doc="Streaming near-duplicate ALERTING — online dedup / "
    "decontamination as documents arrive: the incoming stream (docs "
    "with doc_id%10=0, the ingest analog) is MinHash-signed with the "
    "stateless per-row signature (minhash_sig_array_stateless — one "
    "aggregate() fold, no explode/groupBy, so it is a pure map over "
    "Kafka partitions), band keys are generated in-stream, and each "
    "banded row probes a STATIC corpus band index (the offline-built "
    "LSH index of the already-ingested 90%) via two stream-static "
    "equi-joins (bands, then signatures for the exact match "
    "fraction). Zero streaming state: no watermark, no state store — "
    "the index is the state, exactly how an online ingest gate "
    "deploys LSH at 100 TB (the index side is bucketed storage; the "
    "probe side never shuffles the stream). Streaming execution "
    "hash-matches the all-batch SQL oracle; one row per colliding "
    "band per (incoming, indexed) pair, deterministic multiset.",
)
def st_neardup_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    # static index: batch-built signatures + band keys for the 90%
    static_docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 != 0
    )
    idx_sigs = minhash_signatures(static_docs).localCheckpoint()
    idx_bands = banded_sigs(idx_sigs, "doc_id").withColumnRenamed(
        "doc_id", "idx_doc"
    )
    idx_sig_cols = idx_sigs.select(
        F.col("doc_id").alias("idx_doc"),
        *[F.col(f"sig_{i}").alias(f"b_{i}") for i in range(NUM_PERM)],
    )

    # stream side: stateless per-row signature + in-stream banding
    stream_docs = load_stream(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    signed = minhash_sig_array_stateless(stream_docs)
    probes = signed.select(
        F.col("doc_id").alias("in_doc"),
        "sig_arr",
        F.explode(band_structs_from_sig_array()).alias("band"),
    ).select("in_doc", "sig_arr", "band.*")

    match_frac = sum(
        (F.element_at(F.col("sig_arr"), i + 1) == F.col(f"b_{i}")).cast("int")
        for i in range(NUM_PERM)
    ) / F.lit(float(NUM_PERM))
    alerts = (
        probes.join(idx_bands, band_join_keys())
        .join(idx_sig_cols, "idx_doc")
        .select(
            "in_doc", "idx_doc", "band_idx", match_frac.alias("est_jaccard")
        )
    )
    return run_to_table(alerts)


# ---------------------------------------- streaming drift monitoring

from sentiflow_spark.queries import curation_queries as _cur  # noqa: E402
from sentiflow_spark.queries.registry import REGISTRY as _REG  # noqa: E402


@register(
    "st_drift_psi",
    oracle=_REG["txt_drift_psi"].oracle,
    tags=("streaming", "stateful", "monitoring", "M3"),
    doc="STREAMING ingest drift monitoring — the production form of "
    "txt_drift_psi: the document stream is melted to (source, metric, "
    "bucket) and counted under a streaming aggregation whose state is "
    "bounded at sources × buckets rows however long the stream runs "
    "(no watermark needed — the group domain itself is the bound); "
    "the PSI math then runs over that materialized count table per "
    "trigger, which is exactly how a monitoring dashboard consumes "
    "it. Shares _psi_feat/_psi_from_counts with the batch form, so "
    "the two cannot drift; the oracle IS the batch oracle, proving "
    "the streaming execution bit-identical to batch SQL.",
)
def st_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_stream(spark, sf_dir, "documents")
    counts = (
        _cur._psi_feat(docs)
        .groupBy("source", "metric", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # cut the memory-sink View lineage: _psi_from_counts derives five
    # branches from this one frame and joins them, which trips the
    # resolver's conflicting-reference check on a shared View root;
    # the count table is bounded at sources × buckets rows, so a
    # localCheckpoint is metadata-cheap
    mat = run_to_table(counts, output_mode="complete").localCheckpoint()
    return _cur._psi_from_counts(mat)


# ---------------------------------------- streaming ingest curation gate


@register(
    "st_curation_gate",
    oracle=None,  # set below from shared generators, after the function
    tags=("streaming", "curation", "M3", "arrow-udf"),
    doc="The ingest-time curation gate under REAL Structured Streaming "
    "— what a crawler pipeline runs on documents as they arrive: NFC "
    "normalization (the Arrow-batched pandas UDF executing INSIDE a "
    "streaming micro-batch — the one execution path the st_* family "
    "had not yet proven) followed by txt_curation_dag's four-rule "
    "Gopher gate, emitting per-doc admittance. Entirely STATELESS — "
    "zero streaming state, no watermark, a pure map over source "
    "partitions at any rate; the checkpoint tracks offsets only. "
    "Shares nfc_norm_expr / gopher_flags / DAG_GOPHER_RULES with the "
    "batch DAG so the streaming and batch gates cannot drift; the "
    "oracle is the same batch SQL the DAG's quality stage states.",
)
def st_curation_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.queries.curation_dag import DAG_GOPHER_RULES
    from sentiflow_spark.queries.curation_queries import (
        gopher_flags,
        nfc_norm_expr,
    )

    docs = load_stream(spark, sf_dir, "documents")
    docs_n = docs.select(
        "doc_id", nfc_norm_expr(F.col("text")).alias("text")
    )
    flags = gopher_flags(docs_n)
    admitted = None
    for r in DAG_GOPHER_RULES:
        admitted = F.col(r) if admitted is None else (admitted & F.col(r))
    return run_to_table(
        flags.select("doc_id", "n_words", admitted.alias("admitted"))
    )


def _st_gate_oracle() -> str:
    from sentiflow_spark.queries.curation_dag import DAG_GOPHER_RULES
    from sentiflow_spark.queries.curation_queries import (
        GOPHER_RULES_SQL,
        duck_gopher_m_cte,
        duck_norm_sql,
    )

    pass_sql = " AND ".join(
        f"({GOPHER_RULES_SQL[r]})" for r in DAG_GOPHER_RULES
    )
    return f"""
    WITH docs_n AS (
      SELECT doc_id, {duck_norm_sql('text')} AS text FROM documents
    ),
    {duck_gopher_m_cte(source="docs_n")}
    SELECT doc_id, n_words, {pass_sql} AS admitted FROM gm
    """


# ------------------------------------ streaming curation admission


def curation_admit_gate(docs: DataFrame) -> DataFrame:
    """Stateless admission gate shared by st_curation_admit, the
    manifest sink (st_curation_manifest), and their tests: NFC
    normalize → reduce to the FINGERPRINT-CANONICAL string (lowercase,
    non-alnum runs collapsed — functions.text.fingerprint_canon, the
    exact string the dedup key hashes) → Gopher gate evaluated ON THAT
    CANONICAL STRING → (fp, n_words) for passing rows.

    Computing the metrics on the canonical string makes every emitted
    column a pure function of fp: fingerprint-equal variants
    ('foo-bar' vs 'Foo  bar.') produce IDENTICAL rows, so the
    downstream first-arrival-wins dedup is arrival-order-independent
    and the batch oracle's SELECT DISTINCT yields exactly one row per
    fp (the round-7 ADVICE soundness fix — previously the metrics ran
    on the NFC text, which the fingerprint canonicalizes further, so
    fp-equal texts could race to emit different n_words). The honest
    tradeoff: punctuation-sensitive rules (ok_symbol_ratio) degenerate
    on the canonical form — a deployment wanting punctuation-aware
    quality gates runs them per-document BEFORE dedup (st_curation_gate
    is that operator); the ADMISSION decision here must be a function
    of the dedup key, exactly like the reference's Valkey
    mark-by-content-hash (internal/clients/valkey_client.go:126-159).
    """
    from sentiflow_spark.functions.text import fingerprint_canon
    from sentiflow_spark.queries.curation_dag import DAG_GOPHER_RULES
    from sentiflow_spark.queries.curation_queries import (
        gopher_flags,
        nfc_norm_expr,
    )

    canon = docs.select(
        fingerprint_canon(nfc_norm_expr(F.col("text"))).alias("text")
    )
    keyed = canon.select(F.md5(F.col("text")).alias("doc_id"), "text")
    flags = gopher_flags(keyed)
    # Explode-barrier before the gate filter: PushPredicateThroughNonJoin
    # substitutes the rule predicates straight through every projection
    # down to the scan, inlining the canonicalization regex chain into
    # EACH rule reference (measured: 56 regexp_replace nodes and TWO
    # ArrowEvalPython evaluations of the NFC UDF in the optimized plan,
    # a 2.7x wall-time regression at 500k docs). A Generate's outputs
    # cannot be pushed through, so wrapping the flag row in
    # explode(array(struct(...))) pins the plan to one evaluation of
    # the UDF, the canon chain, and each metric per row; the filter
    # then tests plain boolean attributes. The no-op generator itself
    # is stateless and row-local — streaming-safe, cost ~0.
    b = flags.select(
        F.explode(F.array(F.struct(*flags.columns))).alias("s")
    ).select("s.*")
    admitted = None
    for r in DAG_GOPHER_RULES:
        admitted = F.col(r) if admitted is None else (admitted & F.col(r))
    return b.filter(admitted).select(
        F.col("doc_id").alias("fp"), "n_words"
    )


def curation_admit_flow(docs: DataFrame) -> DataFrame:
    """curation_admit_gate + first-arrival-wins exact dedup on fp via
    dropDuplicatesWithinWatermark, 24 h ingest-time TTL — the full
    streaming admission operator. State is ONE RocksDB mark per
    distinct surviving fingerprint, expired by the watermark."""
    gate = curation_admit_gate(docs)
    return (
        gate.withColumn("ingest_ts", F.current_timestamp())
        .withWatermark("ingest_ts", "24 hours")
        .dropDuplicatesWithinWatermark(["fp"])
        .select("fp", "n_words")
    )


@register(
    "st_curation_manifest",
    oracle=None,  # late-bound below: same truth as st_curation_admit
    tags=("streaming", "curation", "dedup", "sink", "M3", "K2", "J5", "K4",
          "arrow-udf"),
    doc="The full reference ingest loop on the curation path — "
    "st_curation_admit's admission stream feeding the K2 MERGE sink: "
    "admitted (fp, n_words) rows are upserted into a hash-bucketed "
    "corpus-manifest parquet table in foreachBatch (TTL-stamped, keyed "
    "by fingerprint), and the QUERY RESULT IS THE MANIFEST READ BACK — "
    "so the driver hash-checks the physical sink path (dynamic "
    "partition overwrite, bucket-scoped merge, idempotent fp-wins "
    "upsert) end-to-end, not just the in-memory stream. This is the "
    "J5→K1→K4 ordering of the reference's fetch loop "
    "(internal/producer/fetch.go:146-176: skip seen → publish → mark) "
    "collapsed into checkpoint + watermarked dedup state + keyed MERGE "
    "— exactly-once manifest maintenance with replay convergence "
    "(tests/test_sinks.py::test_curation_manifest_two_run_drip gates a "
    "two-run drip with a duplicate spike plus a from-scratch replay "
    "into the same table). Scale shape: per micro-batch the merge "
    "reads and rewrites ONLY the hash buckets the batch touches — "
    "O(touched buckets), never O(manifest) — and admission state is "
    "one RocksDB mark per distinct fingerprint. The oracle is "
    "st_curation_admit's: after a full pass the manifest IS the "
    "admitted-fingerprint set.",
)
def st_curation_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from sentiflow_spark.streaming.sinks import curation_manifest_sink

    docs = load_stream(spark, sf_dir, "documents")
    scratch = tempfile.mkdtemp(prefix="sf_manifest_")
    manifest = scratch + "/manifest"
    # 16 buckets, not the serving default of 64: bucket count sizes a
    # bucket to an executor at the target manifest volume, and a
    # fingerprint manifest is rows-of-hashes (tiny per entry) — at test
    # SFs 64 buckets is pure small-file overhead (measured: the 64-way
    # merge dominated the query at 14 s in-sweep). A 100 TB deployment
    # re-buckets by expected distinct-content count, same code path.
    ckpt = tempfile.mkdtemp(prefix="ckpt_manifest_")
    try:
        q = (
            curation_admit_flow(docs)
            .writeStream.foreachBatch(
                curation_manifest_sink(manifest, n_buckets=16)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # Materialize the read-back eagerly (the manifest is admitted
        # fingerprints — tiny relative to the stream; block-manager
        # copy freed by ContextCleaner when the result is dropped) so
        # both scratch dirs can be removed NOW instead of leaking one
        # manifest + checkpoint pair per invocation (round-8 ADVICE).
        return (
            spark.read.parquet(manifest)
            .select("fp", "n_words")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


@register(
    "st_curation_admit",
    oracle=None,  # late-bound below, like st_curation_gate
    tags=("streaming", "curation", "dedup", "M3", "A3", "J5", "arrow-udf"),
    doc="Streaming exact-dedup ADMISSION on the curation path — the "
    "reference's J5/A3 dedup-mark semantics (Valkey 24h set; "
    "internal/clients/valkey_client) applied to ingest curation: NFC "
    "normalize → fingerprint-canonical projection → Gopher gate on the "
    "canonical string (the same gopher_flags/DAG_GOPHER_RULES cores as "
    "the batch DAG) → first-arrival-wins exact dedup via "
    "dropDuplicatesWithinWatermark keyed on the canonical content "
    "fingerprint, 24 h ingest-time TTL. State is ONE RocksDB mark per "
    "distinct surviving fingerprint, expired by the watermark — "
    "bounded per-key exactly like the reference's dedup set, at any "
    "stream length. Determinism: the gate metrics are computed on "
    "EXACTLY the string the fingerprint hashes (curation_admit_gate), "
    "so the emitted (fp, n_words) is a pure function of fp and "
    "whichever physical row wins the within-batch race the output is "
    "identical — streaming-vs-batch hash equality holds without "
    "constraining arrival order, including on corpora with "
    "punctuation-variant duplicates (the round-7 ADVICE fix; pinned by "
    "tests/test_sinks.py::test_curation_admit_punctuation_variant_parity).",
)
def st_curation_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_stream(spark, sf_dir, "documents")
    return run_to_table(curation_admit_flow(docs))


def _st_admit_oracle() -> str:
    from sentiflow_spark.functions.text import duck_fingerprint_canon
    from sentiflow_spark.queries.curation_dag import DAG_GOPHER_RULES
    from sentiflow_spark.queries.curation_queries import (
        GOPHER_RULES_SQL,
        duck_gopher_m_cte,
        duck_norm_sql,
    )

    pass_sql = " AND ".join(
        f"({GOPHER_RULES_SQL[r]})" for r in DAG_GOPHER_RULES
    )
    return f"""
    WITH norm AS (
      SELECT {duck_norm_sql('text')} AS t0 FROM documents
    ),
    canon AS (
      SELECT {duck_fingerprint_canon('t0')} AS text FROM norm
    ),
    docs_n AS (
      SELECT md5(text) AS doc_id, text FROM canon
    ),
    {duck_gopher_m_cte(source="docs_n")}
    SELECT DISTINCT doc_id AS fp, n_words FROM gm WHERE {pass_sql}
    """


# ------------------------------------ streaming multimodal admission


@register(
    "st_mm_gate",
    oracle=None,  # late-bound below from the shared batch constant
    tags=("streaming", "multimodal", "curation", "M3"),
    doc="The composed multimodal admission gate under REAL Structured "
    "Streaming — media-crawl ingest as it arrives: magic-byte "
    "container detection, the three builtin-only header parsers "
    "(IHDR / SOF segment walk / RIFF chunk walk / BMFF box walk) and "
    "the modality bounds all execute INSIDE the micro-batch as pure "
    "JVM expressions (not even a pandas UDF on this path). Entirely "
    "STATELESS — no watermark, no state store, a map over source "
    "partitions at any rate. Shares mm_gate_flow with the batch "
    "query (mm_curation_gate) so streaming and batch gates cannot "
    "drift; the oracle is the same generator-formula SQL, so the "
    "driver hash proves streaming/batch parity end-to-end.",
)
def st_mm_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.queries.multimodal_queries import mm_gate_flow

    docs = load_stream(spark, sf_dir, "documents")
    return run_to_table(mm_gate_flow(docs.select("doc_id")))


# late-bind the oracles: the generators live in curation modules that
# import this module's registry siblings; binding after definition
# avoids a circular import at module-load time
import dataclasses as _dc  # noqa: E402

_REG["st_curation_gate"] = _dc.replace(
    _REG["st_curation_gate"], oracle=_st_gate_oracle()
)
_REG["st_curation_admit"] = _dc.replace(
    _REG["st_curation_admit"], oracle=_st_admit_oracle()
)
# the manifest after one full pass IS the admitted set — same oracle
_REG["st_curation_manifest"] = _dc.replace(
    _REG["st_curation_manifest"], oracle=_st_admit_oracle()
)

from sentiflow_spark.queries.multimodal_queries import (  # noqa: E402
    MM_GATE_ORACLE as _MM_GATE_ORACLE,
)

_REG["st_mm_gate"] = _dc.replace(_REG["st_mm_gate"], oracle=_MM_GATE_ORACLE)
