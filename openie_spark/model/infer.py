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
    IntegerType,
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


def _seqie_spans_py(tags: list[str]) -> list[list[int]]:
    """Python twin of functions.arrays.seqie_spans (same port of
    Joint.get_predicate_span, /root/reference/models/seqie.py:58-72):
    P-B flushes the open span and starts a new one, P-I extends (even
    across non-P gaps — the open span survives O tags), the trailing
    open span is flushed at the end."""
    done: list[list[int]] = []
    cur: list[int] = []
    for i, t in enumerate(tags):
        if t == "P-B":
            if cur:
                done.append(cur)
            cur = [i]
        elif t == "P-I":
            cur = cur + [i]
    if cur:
        done.append(cur)
    return done


def tag_joint_neural(sentences: DataFrame) -> DataFrame:
    """Stages B+C+D fused into ONE mapInPandas (neural joint path).

    Row-identical to tag_predicates_neural → fan_out_spans →
    tag_arguments_neural (pinned by tests/test_model.py), but with the
    span fan-out done python-side between the two decodes:

    * one python worker per core instead of two — the unfused chain
      pipelines two mapInPandas stages inside each task, so every core
      holds BOTH a stage-B and a stage-D worker (measured 64 workers
      on local[32]; each pays its own pandas/pyarrow/numpy import and
      weight build);
    * the sentence ``words`` arrays cross the JVM↔python Arrow
      boundary once instead of three times (B out, C explode ships
      them back per-span, D in) — stage C multiplies rows ~6x, so the
      saved traffic is the fanned copy, the largest of the three.

    The plan stays narrow (the only exchange is segment_transcripts'
    upstream ``spread``), so the fusion changes nothing at
    100 TB scale except fewer workers and less Arrow traffic.
    """
    from openie_spark.model.weights import ARG_SEED, PRED_SEED

    schema = StructType(
        [sentences.schema[n] for n in ("conv_id", "turn_idx", "sent_idx",
                                       "words", "sent")]
        + [
            StructField("ext_idx", IntegerType()),
            StructField("span", ArrayType(IntegerType())),
            StructField("span_l", IntegerType()),
            StructField("span_r", IntegerType()),
            StructField("tags", ArrayType(StringType())),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for chunk in _length_sorted_chunks(pdf):
                words = [list(ws) for ws in chunk["words"]]
                pred_tags = _decode_words(words, None, PRED_SEED)
                # stage C, python-side: one output row per span
                rep_idx: list[int] = []
                ext_idx: list[int] = []
                spans: list[list[int]] = []
                for row_i, tags in enumerate(pred_tags):
                    for k, span in enumerate(_seqie_spans_py(tags)):
                        rep_idx.append(row_i)
                        ext_idx.append(k)
                        spans.append(span)
                if not spans:
                    continue
                fanned_words = [words[i] for i in rep_idx]
                segs = []
                for ws, span in zip(fanned_words, spans):
                    seg = np.zeros(len(ws), dtype=np.int8)
                    idx = np.asarray(span, dtype=np.int64)
                    seg[idx[idx < len(ws)]] = 1
                    segs.append(seg)
                # fanned rows inherit the chunk's length-sorted order,
                # so fixed-size sub-slices keep padding waste bounded
                arg_tags: list[list[str]] = []
                for s in range(0, len(fanned_words), SUB_BATCH):
                    arg_tags.extend(_decode_words(
                        fanned_words[s:s + SUB_BATCH],
                        segs[s:s + SUB_BATCH], ARG_SEED))
                base = chunk.iloc[rep_idx]
                out = pd.DataFrame({
                    "conv_id": base["conv_id"].to_numpy(),
                    "turn_idx": base["turn_idx"].to_numpy(),
                    "sent_idx": base["sent_idx"].to_numpy(),
                    "words": base["words"].to_numpy(),
                    "sent": base["sent"].to_numpy(),
                    "ext_idx": np.asarray(ext_idx, dtype=np.int32),
                    "span": spans,
                    "span_l": np.asarray([min(s) for s in spans], dtype=np.int32),
                    "span_r": np.asarray([max(s) for s in spans], dtype=np.int32),
                    "tags": arg_tags,
                })
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
