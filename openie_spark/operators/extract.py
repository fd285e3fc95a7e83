"""Stages B-E — predicate tagging, span fan-out, argument tagging,
triple assembly (SURVEY.md §3.4).

The ``backend='rule'`` path is 100% JVM column expressions; the
``backend='neural'`` path swaps stages B/D for the Arrow-batched
numpy BiLSTM+CRF kernel (openie_spark.model.infer) behind the same
DataFrame contract. Span fan-out (T7) is ``posexplode`` — a narrow
row-multiplier (~spans-per-sentence ×), never a shuffle.

Reference parity:
  * stage-1 tags ≙ `preds` after head-projection (/root/reference/run.py:233-235)
  * spans ≙ Joint.get_predicate_span (/root/reference/models/seqie.py:58-72);
    joint inference applies NO span cap (seqie.py:169-177), and neither
    does this path.
  * triple assembly ≙ write_output (/root/reference/run.py:148-178)
    including arg-slot compaction and the empty-predicate ' ' literal.
  * confidence = 1.0 literal (goldReader.py:26,31; decoder returns no
    score, modules/decoder.py:16).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openie_spark.config import CONFIDENCE, SENT_PUNCT
from openie_spark.functions.arrays import (
    args_array,
    pred_string,
    rule_pred_tags,
    seqie_spans,
)

_KEYS = ["conv_id", "turn_idx", "sent_idx"]


def tag_predicates(sentences: DataFrame, backend: str = "rule") -> DataFrame:
    """sentences → tagged (adds per-word pred_tags). Stage B."""
    if backend == "rule":
        return sentences.withColumn("pred_tags", rule_pred_tags(F.col("words")))
    if backend == "neural":
        from openie_spark.model.infer import tag_predicates_neural

        return tag_predicates_neural(sentences)
    raise ValueError(f"unknown tagger backend: {backend}")


def fan_out_spans(tagged: DataFrame) -> DataFrame:
    """tagged → one row per predicate span (stage C). Narrow
    row-multiplier; span bounds are materialized once per row."""
    return tagged.select(
        *_KEYS, "words", "sent",
        F.posexplode(seqie_spans(F.col("pred_tags"))).alias("ext_idx", "span"),
    ).withColumns({
        "span_l": F.array_min("span"),
        "span_r": F.array_max("span"),
    })


def explode_extractions(tagged: DataFrame) -> DataFrame:
    """neural-tagged sentences → extractions: one row per predicate
    span, with the full 18-tag argument sequence. Stages C+D."""
    from openie_spark.model.infer import tag_arguments_neural

    return tag_arguments_neural(fan_out_spans(tagged))


def assemble_triples(extractions: DataFrame) -> DataFrame:
    """extractions → triples. Stage E, pure column expressions (K1).

    Two projections with a Generate barrier between them: the first
    evaluates pred/args (the O(n) zip-filter-join lambdas) exactly
    once; the second derives subj/obj from the materialized ``args``
    column with cheap small-array ops.
    """
    w, t = F.col("words"), F.col("tags")
    staged = extractions.select(
        *_KEYS,
        "ext_idx",
        "sent",
        F.inline(F.array(F.struct(
            pred_string(w, t).alias("pred"),
            args_array(w, t).alias("args"),
        ))),
    )
    args = F.col("args")
    return staged.select(
        *_KEYS,
        "ext_idx",
        "sent",
        "pred",
        "args",
        # try_element_at: args may be empty (span covers the whole
        # sentence) and ANSI element_at throws on out-of-bounds.
        F.coalesce(F.try_element_at(args, F.lit(1)), F.lit("")).alias("subj"),
        F.array_join(F.slice(args, 2, F.greatest(F.size(args) - 1, F.lit(1))), " ").alias("obj"),
        F.lit(CONFIDENCE).alias("confidence"),
    )


def assemble_triples_fast(fanned: DataFrame) -> DataFrame:
    """Fused rule-path assembly (stages D+E in one projection).

    The rule tagger's spans are contiguous (P-I only ever follows a P
    word), so the argument regions are plain slices around the span:
    built ONLY from codegen'd builtins (slice / array_join /
    array_remove) — no interpreted higher-order lambdas. Measured ~20x
    faster than tagging every word and assembling through
    ``assemble_triples`` on local[32].

    arg0 = non-punct words before the span, arg1 = non-punct words
    after; the write_output compaction (run.py:174-175) makes
    subj = arg0 if non-empty else arg1.
    """
    w = F.col("words")
    l, r = F.col("span_l"), F.col("span_r")

    def depunct(arr: F.Column) -> F.Column:
        for p in SENT_PUNCT:
            arr = F.array_remove(arr, p)
        return arr

    staged = fanned.select(
        *_KEYS, "ext_idx", "sent",
        F.array_join(F.slice(w, l + 1, r - l + 1), " ").alias("pred_raw"),
        F.array_join(depunct(F.slice(w, 1, l)), " ").alias("a0"),
        F.array_join(depunct(F.slice(w, r + 2, F.greatest(F.size(w) - r - 1, F.lit(0)))), " ").alias("a1"),
    )
    a0, a1 = F.col("a0"), F.col("a1")
    return staged.select(
        *_KEYS, "ext_idx", "sent",
        F.when(F.col("pred_raw") == "", F.lit(" ")).otherwise(F.col("pred_raw")).alias("pred"),
        F.filter(F.array(a0, a1), lambda x: x != "").alias("args"),
        F.when(a0 != "", a0).otherwise(a1).alias("subj"),
        F.when(a0 != "", a1).otherwise(F.lit("")).alias("obj"),
        F.lit(CONFIDENCE).alias("confidence"),
    )


def extract_triples(transcripts: DataFrame, backend: str = "rule") -> DataFrame:
    """transcripts → triples: the full extraction pipeline A→E.

    backend: 'rule' (pure codegen column expressions) | 'neural'
    (numpy BiLSTM+CRF, stages B and D each one mapInPandas)."""
    from openie_spark.operators.sentences import segment_transcripts

    tagged = tag_predicates(segment_transcripts(transcripts), backend=backend)
    if backend == "rule":
        return assemble_triples_fast(fan_out_spans(tagged))
    return assemble_triples(explode_extractions(tagged))
