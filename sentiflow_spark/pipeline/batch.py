"""Batch composition of the full sentiment dataflow (SURVEY §3.2).

The reference runs this as four Kafka-connected consumer processes;
expressed declaratively it is one DataFrame plan:

    raw content → sentiment-input projection → length router
      → (long) stub summarize → quality filter → summarized rebuild
      → union with short branch → stub score → left join-back
      → zero-value fill → result shaping

Catalyst sees the whole DAG: the router becomes two pushed-down scan
predicates, both model joins broadcast the (micro-batch-sized) model
output, and everything else stays in one WholeStageCodegen stage.
The streaming deployment (streaming/dag.py) reuses the router, the F2
filter, the P4 rebuild and the shaping, but runs the model stubs on-row
instead of joining their output back, so it applies F5 on-row too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sentiflow_spark.operators.filters import route_by_length, useful_summary
from sentiflow_spark.operators.joins import score_join_back, summary_join_back
from sentiflow_spark.operators.projections import (
    rebuild_summarized_input,
    request_batch,
    shape_result,
    to_raw_content,
    to_sentiment_input,
)
from sentiflow_spark.pipeline.stubs import stub_sentiment, stub_summarize


def documents_as_raw_content(documents: DataFrame) -> DataFrame:
    """Adapt the synthetic documents table to the RawContent record:
    topic := lang, source := source, post_id := doc_id."""
    return to_raw_content(
        documents,
        topic=F.col("lang"),
        source=F.col("source"),
        post_id=F.col("doc_id"),
        text=F.col("text"),
    )


def sentiment_pipeline(raw: DataFrame, router_threshold: int = 1024) -> DataFrame:
    """Full dataflow from RawContent to shaped results."""
    sa = to_sentiment_input(raw)
    long_branch, short_branch = route_by_length(sa, threshold=router_threshold)

    summaries = stub_summarize(request_batch(long_branch))
    summarized = rebuild_summarized_input(
        useful_summary(summary_join_back(long_branch, summaries))
    )
    united = short_branch.unionByName(summarized)

    scores = stub_sentiment(request_batch(united))
    return shape_result(score_join_back(united, scores))
