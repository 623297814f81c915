"""Structured-Streaming incremental KG construction.

The reference is strictly batch (SURVEY.md §2.9), but every stage here
is a pure ``DataFrame -> DataFrame`` transform, so the same extraction
DAG runs unmodified over a stream: ``readStream`` on the pages source
-> extract/mention/triple transforms (all narrow + mapInPandas, fully
streaming-compatible) -> ``foreachBatch`` appends of the canonical
triples to ``<workdir>/triples_stream``. Deterministic
content-derived ids make the streaming sink idempotent under replays
(:func:`read_stream_triples` drops re-delivered rows) — exactly-once
effect on top of at-least-once delivery.

Entity linking / CC are iterative (not expressible as a single
incremental operator). :func:`stream_pages_to_graph` links each
micro-batch's own mentions only, in ``foreachBatch``: it does not
re-link over the surfaces of earlier batches, so with more than one
micro-batch a surface can get another canonical id than one link over
all pages gives, and the streamed triples differ from a batch build of
the same pages (ROADMAP direction 7).

Windowed/watermarked aggregation over an event stream (late-data
tolerant) is in :func:`stream_event_windows` — the streaming twin of
entry_queries.q_event_windows (same results on the same closed input).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from legal_knowledge_graph_spark.datagen import PAGES_SCHEMA


def stream_pages_to_graph(
    spark: SparkSession,
    source_dir: str,
    workdir: str,
    checkpoint_dir: str | None = None,
):
    """File-source stream of pages parquet -> incremental triples table.

    Each micro-batch runs the batch extraction operators (extract ->
    mentions/triples -> link -> canonicalize) over ONLY the new files,
    appending to ``<workdir>/triples_stream``; dedup across replays is
    by deterministic (url, span) identity at read time. Returns the
    StreamingQuery (caller awaits/stops)."""
    from legal_knowledge_graph_spark.operators.extract import extract_text
    from legal_knowledge_graph_spark.operators.linking import link_entities
    from legal_knowledge_graph_spark.operators.triples import (
        canonicalize_triples,
        detect_mentions,
        extract_triples,
    )

    if checkpoint_dir is None:
        checkpoint_dir = os.path.join(workdir, "_stream_checkpoint")
    out_path = os.path.join(workdir, "triples_stream")

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(source_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        extracted = extract_text(batch_df)
        mentions = detect_mentions(extracted)
        raw = extract_triples(extracted)
        cmap = link_entities(mentions)
        triples = canonicalize_triples(raw, cmap).withColumn(
            "batch_id", F.lit(batch_id)
        )
        triples.write.mode("append").parquet(out_path)

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_stream_triples(spark: SparkSession, workdir: str) -> DataFrame:
    """Replay-safe view of the streamed triples: deterministic identity
    (url, span_start, span_end) dedup collapses any at-least-once
    re-deliveries."""
    return (
        spark.read.parquet(os.path.join(workdir, "triples_stream"))
        .dropDuplicates(["url", "span_start", "span_end"])
    )


def stream_event_windows(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    watermark: str = "2 hours",
    name: str = "stream_event_windows",
    path_glob: str | None = None,
):
    """Watermarked tumbling-window aggregation over an event stream —
    the streaming twin of the batch q_event_windows: 1-hour windows x
    event_type, count + integer-scaled value sum. Late events beyond
    the watermark are dropped; on a closed (availableNow) input the
    result equals the batch aggregation, which the test asserts.
    Returns (query, memory_table_name)."""
    ev_schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    reader = spark.readStream.schema(ev_schema)
    if path_glob is not None:
        # the file stream source requires a DIRECTORY; a single-file
        # corpus streams via its parent dir + a glob filter
        reader = reader.option("pathGlobFilter", path_glob)
    stream = reader.parquet(source_dir)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_sum_x100"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "value_sum_x100",
        )
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    return q, name
