"""Structured-Streaming ingestion tests: incremental extraction with
exactly-once checkpoint resume, and watermarked windowed aggregation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from openie_spark.sources.transcripts import derive_transcripts

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def landing(spark, tmp_path_factory):
    """Transcripts split into two file drops (first 2 files land now,
    2 more land later)."""
    root = tmp_path_factory.mktemp("stream")
    t = derive_transcripts(spark, SF)
    a = t.filter(F.col("turn_idx") < 5)
    b = t.filter(F.col("turn_idx") >= 5)
    drop_dir = str(root / "landing")
    a.repartition(2).write.mode("overwrite").parquet(drop_dir)
    return {"root": root, "dir": drop_dir, "later": b, "all": t}


def test_incremental_extraction_exactly_once(spark, landing):
    from openie_spark.operators.extract import extract_triples
    from openie_spark.streaming import stream_transcripts, stream_triples, write_triples_stream

    out = str(landing["root"] / "triples_out")
    ckpt = str(landing["root"] / "ckpt")

    def drain():
        s = stream_triples(stream_transcripts(spark, landing["dir"], max_files_per_trigger=1))
        assert s.isStreaming
        q = write_triples_stream(s, out, ckpt)
        q.awaitTermination(120)

    drain()
    first = spark.read.parquet(out)
    batch_first = extract_triples(
        spark.read.parquet(landing["dir"]).filter(F.col("turn_idx") < 5))
    assert first.count() == batch_first.count()

    # second drop lands; resume from the SAME checkpoint — only the new
    # files are processed, nothing is duplicated
    landing["later"].repartition(2).write.mode("append").parquet(landing["dir"])
    drain()
    final = spark.read.parquet(out)
    batch_all = extract_triples(spark.read.parquet(landing["dir"]))
    assert final.count() == batch_all.count()
    key = ["conv_id", "turn_idx", "sent_idx", "ext_idx"]
    assert final.groupBy(*key).count().filter(F.col("count") > 1).count() == 0
    # value-level equality with the batch pipeline on the same input
    assert final.select(*key, "pred", "subj", "obj").exceptAll(
        batch_all.select(*key, "pred", "subj", "obj")).count() == 0


def test_windowed_turn_stats(spark, landing):
    from openie_spark.streaming import stream_transcripts, windowed_turn_stats

    s = windowed_turn_stats(stream_transcripts(spark, landing["dir"]), window="60 minutes")
    q = (
        s.writeStream.format("memory").queryName("turnstats")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM turnstats")
    batch = (
        spark.read.parquet(landing["dir"])
        .groupBy(F.window("ts", "60 minutes").alias("w"), "role")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(F.col("w.start").alias("w_start"), F.col("w.end").alias("w_end"),
                "role", "n_turns")
    )
    assert got.exceptAll(batch).count() == 0 and batch.exceptAll(got).count() == 0


def test_windowed_triple_counts_stream_static(spark, landing):
    from openie_spark.streaming import (
        stream_transcripts,
        stream_triples,
        windowed_triple_counts,
    )

    static = spark.read.parquet(landing["dir"])
    s = windowed_triple_counts(
        stream_triples(stream_transcripts(spark, landing["dir"])),
        static, window="120 minutes",
    )
    q = (
        s.writeStream.format("memory").queryName("tripwin")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = spark.sql("SELECT * FROM tripwin")
    assert got.count() > 0
    from openie_spark.operators.extract import extract_triples

    total = got.agg(F.sum("n_triples")).collect()[0][0]
    assert total == extract_triples(static).count()


def test_stream_exact_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState dedup: a hash first seen in batch 1 must
    suppress duplicates arriving in batch 2; keeper = min doc_id."""
    from openie_spark.streaming import stream_exact_dedup, write_dedup_stream

    landing = str(tmp_path / "docs")
    out = str(tmp_path / "keep")
    ckpt = str(tmp_path / "ckpt")
    drop1 = spark.createDataFrame(
        [(3, "alpha text"), (1, "alpha text"), (5, "beta text")],
        "doc_id long, text string")
    drop1.repartition(1).write.mode("overwrite").parquet(landing)

    def drain():
        s = spark.readStream.schema("doc_id long, text string").parquet(landing)
        q = write_dedup_stream(stream_exact_dedup(s), out, ckpt)
        q.awaitTermination(120)

    drain()
    first = {r.text_hash: r.doc_id for r in spark.read.parquet(out).collect()}
    assert len(first) == 2
    assert set(first.values()) == {1, 5}        # min doc_id kept

    # second drop: one duplicate of 'alpha text', one new doc
    spark.createDataFrame(
        [(9, "alpha text"), (7, "gamma text")], "doc_id long, text string"
    ).repartition(1).write.mode("append").parquet(landing)
    drain()
    final = {r.text_hash: r.doc_id for r in spark.read.parquet(out).collect()}
    assert len(final) == 3                      # duplicate suppressed
    assert set(final.values()) == {1, 5, 7}
