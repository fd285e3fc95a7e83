"""Arrow-batched Spark inference kernels (stages B and D, neural backend).

``mapInPandas`` iterator form: the tagger weights are built once per
executor worker (process-level singleton, ``weights.get_tagger``) and
reused across every Arrow batch — the Spark analogue of the reference's
once-per-process model load + DataLoader batching
(/root/reference/run.py:349-354). No per-row Python: tokenization,
padding, LSTM, and Viterbi are all batch-vectorized numpy.

Head projection ≙ /root/reference/run.py:233-235 (keep predicted tag
where is_head, strip [CLS]/[SEP]); stage-2 segment channel ≙
models/seqie.py:173 (seg=1 on the predicate span else 0).

Batch shape notes for scale: rows are processed in length-sorted
sub-batches of SUB_BATCH sentences so padding waste stays bounded
regardless of ``spark.sql.execution.arrow.maxRecordsPerBatch``; the
plan stays narrow (no shuffle) — each input partition maps 1:1.

Parallelism comes from ``operators.sentences.segment_transcripts``:
its ``spread`` gives the sentences at least the session's default
parallelism in partitions, and the span fan-out is a narrow descendant,
so the kernels start from that many tasks. Building a plan here runs no
Spark job (``df.rdd.getNumPartitions()`` on a frame below a shuffle
would execute that shuffle stage under AQE).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

from openie_spark.config import IDX2TAG

SUB_BATCH = 256


def _decode_words(words_batch: list[list[str]], seg_word_batch, seed: int) -> list[list[str]]:
    """words (+ optional per-word seg ids) → per-word tag strings."""
    from openie_spark.model.kernel import emissions, viterbi
    from openie_spark.model.tokenizer import encode_batch
    from openie_spark.model.weights import get_tagger

    w = get_tagger(seed)
    ids, seg, is_head, lengths, _ = encode_batch(words_batch, seg_word_batch)
    emis = emissions(w, ids, seg, lengths)
    paths = viterbi(w, emis, lengths)
    out: list[list[str]] = []
    for b, path in enumerate(paths):
        head_mask = is_head[b, : len(path)]
        tags = [IDX2TAG[int(t)] for t in path[head_mask]]
        assert len(tags) == len(words_batch[b])
        out.append(tags)
    return out


def _length_sorted_chunks(pdf: pd.DataFrame) -> Iterator[pd.DataFrame]:
    order = pdf["words"].str.len().sort_values(kind="stable").index
    sorted_pdf = pdf.loc[order]
    for s in range(0, len(sorted_pdf), SUB_BATCH):
        yield sorted_pdf.iloc[s : s + SUB_BATCH]


def _with_field(schema: StructType, name: str) -> StructType:
    return StructType(list(schema.fields) + [StructField(name, ArrayType(StringType()))])


def tag_predicates_neural(sentences: DataFrame, seed: int | None = None) -> DataFrame:
    """sentences → + pred_tags (stage B). Seg channel all-zero at
    inference (/root/reference/utils/dataset.py:107-108)."""
    from openie_spark.model.weights import PRED_SEED

    use_seed = PRED_SEED if seed is None else seed
    schema = _with_field(sentences.schema, "pred_tags")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for chunk in _length_sorted_chunks(pdf):
                words = [list(ws) for ws in chunk["words"]]
                tags = _decode_words(words, None, use_seed)
                out = chunk.copy()
                out["pred_tags"] = tags
                yield out

    return sentences.mapInPandas(run, schema)


def tag_arguments_neural(fanned: DataFrame, seed: int | None = None) -> DataFrame:
    """fanned spans → + tags (stage D). One row per (sentence, predicate
    span); seg=1 on span word indices (/root/reference/models/seqie.py:173)."""
    from openie_spark.model.weights import ARG_SEED

    use_seed = ARG_SEED if seed is None else seed
    schema = _with_field(fanned.schema, "tags")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for chunk in _length_sorted_chunks(pdf):
                words = [list(ws) for ws in chunk["words"]]
                segs = []
                for ws, span in zip(words, chunk["span"]):
                    seg = np.zeros(len(ws), dtype=np.int8)
                    idx = np.asarray(list(span), dtype=np.int64)
                    seg[idx[idx < len(ws)]] = 1
                    segs.append(seg)
                tags = _decode_words(words, segs, use_seed)
                out = chunk.copy()
                out["tags"] = tags
                yield out

    return fanned.mapInPandas(run, schema)
