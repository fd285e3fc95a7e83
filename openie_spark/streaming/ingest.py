"""Structured-Streaming ingestion: incremental KG construction over a
growing transcripts table.

The reference is pure batch (SURVEY.md §2.5) and the north rule asks
for checkpoint-resumable BATCH jobs — this module is the incremental
complement: the extraction pipeline (stages A→E) is stateless and
narrow, so the SAME operators run unchanged inside micro-batches.
Structured Streaming's checkpoint/offset log then gives exactly-once
incremental triple materialization over a landing zone that keeps
receiving transcript files (10^12-turn tables are written continuously
in production; reprocessing from scratch per drop is not an option).

Pieces:
  * ``stream_transcripts`` — file-source stream over a transcripts
    parquet directory (explicit schema: streaming sources cannot infer).
  * ``stream_triples`` — extract_triples applied to the stream; purely
    narrow, so each micro-batch is embarrassingly parallel.
  * ``write_triples_stream`` — parquet sink + checkpoint;
    ``trigger(availableNow)`` drains the backlog and stops, making the
    incremental job cron-schedulable (the streaming analogue of the
    batch pipeline's manifest resume).
  * ``windowed_turn_stats`` / ``windowed_triple_counts`` — event-time
    windowed aggregations with watermarked late-data handling; the
    triple variant attaches event time via a stream-static join
    (ts is functionally dependent on (conv_id, turn_idx)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, "
    "text string, tool string, ts timestamp"
)


def stream_transcripts(spark: SparkSession, path: str,
                       max_files_per_trigger: int | None = None) -> DataFrame:
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def stream_triples(transcripts: DataFrame, backend: str = "rule") -> DataFrame:
    """The batch extraction operators, unchanged, over a streaming DF
    (all-narrow plan: segmentation explode, tagging, span fan-out,
    assembly — no shuffle, no state)."""
    from openie_spark.operators.extract import extract_triples

    return extract_triples(transcripts, backend=backend)


def write_triples_stream(triples: DataFrame, out_path: str, checkpoint: str,
                         available_now: bool = True) -> StreamingQuery:
    """Exactly-once incremental materialization: the checkpoint's
    offset log records which source files each committed micro-batch
    consumed — rerunning after new files land processes ONLY the new
    files (test_streaming.py proves no duplicates)."""
    writer = (
        triples.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_turn_stats(transcripts: DataFrame, window: str = "10 minutes",
                        watermark: str = "30 minutes") -> DataFrame:
    """Turns per (event-time window, role); watermark bounds state and
    defines the late-data drop point."""
    return (
        transcripts.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "role")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(F.col("w.start").alias("w_start"), F.col("w.end").alias("w_end"),
                "role", "n_turns")
    )


def windowed_triple_counts(triples: DataFrame, transcripts_static: DataFrame,
                           window: str = "10 minutes",
                           watermark: str = "30 minutes") -> DataFrame:
    """Triples per event-time window. ``triples`` may be streaming;
    ``transcripts_static`` is a batch snapshot supplying ts — a
    stream-static equi-join is stateless and keeps the aggregation the
    only stateful operator."""
    ts_map = transcripts_static.select("conv_id", "turn_idx", "ts")
    return (
        triples.join(ts_map, ["conv_id", "turn_idx"])
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_triples"))
        .select(F.col("w.start").alias("w_start"), F.col("w.end").alias("w_end"),
                "n_triples")
    )
