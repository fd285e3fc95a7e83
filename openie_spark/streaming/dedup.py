"""Stateful streaming deduplication — the cross-batch complement of
datapipe.dedup.exact_dedup.

A 100 TB ingestion pipeline receives documents continuously; exact
dedup must hold ACROSS micro-batches, not just within one. Spark's
built-in ``dropDuplicates`` on a stream keeps unbounded state with no
custom keep-policy, so this is the canonical ``applyInPandasWithState``
use: state = one tiny row per content hash ever seen, output = only
first-seen documents (keeper = min doc_id within the batch that first
saw the hash, matching the batch operator's keep-min policy).

Scale notes: state is hash-keyed and value-free apart from a flag —
bytes per distinct document, partitioned by the shuffle on the content
hash; the heavy ``text`` column never enters state. With a retention
requirement, swap NoTimeout for ProcessingTimeTimeout and let stale
hashes expire.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_exact_dedup(docs: DataFrame) -> DataFrame:
    """Streaming docs(doc_id, text, …) → first-seen keepers
    (text_hash, doc_id). A hash seen in ANY earlier micro-batch (or
    earlier in this one) emits nothing."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def keep_first(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        min_id = None
        for pdf in pdfs:
            if len(pdf):
                m = int(pdf["doc_id"].min())
                min_id = m if min_id is None else min(min_id, m)
        if min_id is None:
            # empty/timeout invocation: observed NOTHING — must not
            # mark the hash seen, or a retention-timeout variant
            # (ProcessingTimeTimeout) would permanently poison
            # never-emitted hashes and silently drop future first
            # occurrences.
            return iter(())
        if state.exists:
            # duplicate content: drop
            return iter(())
        state.update((True,))
        return iter([pd.DataFrame({"text_hash": [key[0]], "doc_id": [min_id]})])

    hashed = docs.select(F.md5("text").alias("text_hash"), "doc_id")
    return hashed.groupBy("text_hash").applyInPandasWithState(
        keep_first,
        outputStructType="text_hash string, doc_id long",
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def write_dedup_stream(keepers: DataFrame, out_path: str, checkpoint: str):
    """Parquet sink + checkpoint, availableNow drain — same
    cron-schedulable shape as write_triples_stream."""
    return (
        keepers.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
