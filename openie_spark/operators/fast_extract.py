"""Arrow-batched rule extraction: stages A-E fused in one mapInPandas.

Same semantics as the codegen path (segment_transcripts ->
tag_predicates -> fan_out_spans -> assemble_triples_fast), pinned
row-identical by tests/test_fast_extract.py. The plan is still narrow:
scan -> mapInPandas, no shuffle.

rule vs rule_arrow, measured (the one record; other docstrings point
here):

* Round 2, 32-core box, the extraction job end to end at
  local[2]/[8]/[32]: `rule` won at every level. The fused kernel's
  per-turn core time is lower (~845us/turn less), but Arrow
  serialization of the wide triple rows plus Python-worker contention
  ate that win. `rule` is therefore the default backend.
* 4-cpu box (nproc 4), local[4], sf0.1 (53,516 triples), timing
  ``extract_triples(...).localCheckpoint(eager=True)`` (the driver's
  shared triples build) in two processes with alternating order, 4 runs
  per backend each:
  - steady state (7 runs per backend, each backend's first run in a
    process excluded): rule_arrow min 1.06 s, median 1.19 s; rule min
    1.80 s, median 2.17 s;
  - a backend's first run in an already-warm JVM: rule_arrow 4.5 s
    (Python worker start), rule 5.4 s (code generation);
  - the first job of a fresh JVM: rule_arrow 11.5 s, rule 12.2 s.

So on 4 cpus rule_arrow is the cheaper shared build, which is why the
driver's shared tables use it; the pipeline default stays `rule` until
an end-to-end KGPipeline comparison on the same box says otherwise.
This path is also the process-parallel reference the neural backend
shares its batch plumbing with.

Reference parity is inherited from the codegen path's own parity
anchors: segmentation ≙ utils/dataset.py:28-53 block reading with
MAX_LEN chunking (utils/dataset.py:10,39-41), spans ≙
models/seqie.py:58-72, assembly ≙ run.py:148-178.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from openie_spark.config import (
    CONFIDENCE,
    MAX_SENT_WORDS,
    PRED_LEXICON,
    SENT_PUNCT,
)

TRIPLES_SCHEMA = (
    "conv_id string, turn_idx int, sent_idx int, ext_idx int, sent string, "
    "pred string, args array<string>, subj string, obj string, confidence double"
)


def _segment(words: list[str], max_words: int, punct: frozenset) -> list[list[str]]:
    """Identical fold to functions/arrays.segment_words."""
    done: list[list[str]] = []
    cur: list[str] = []
    for w in words:
        if len(cur) >= max_words and w in punct:
            done.append(cur)
            done.append([w])
            cur = []
        elif len(cur) >= max_words:
            done.append(cur)
            cur = [w]
        elif w in punct:
            done.append(cur + [w])
            cur = []
        else:
            cur.append(w)
    if cur:
        done.append(cur)
    return done


def _extract_rows(conv_id: str, turn_idx: int, text: str | None,
                  lex: frozenset, punct: frozenset, max_words: int) -> list[tuple]:
    if text is None:
        return []
    words_all = [w for w in text.split(" ") if w]
    rows: list[tuple] = []
    for sent_idx, words in enumerate(_segment(words_all, max_words, punct)):
        # contiguous maximal runs of lexicon words (rule tags make P-I
        # only ever follow another predicate word, so seqie spans
        # reduce to runs)
        spans = []
        run_start = None
        for i, w in enumerate(words):
            if w in lex:
                if run_start is None:
                    run_start = i
            elif run_start is not None:
                spans.append((run_start, i - 1))
                run_start = None
        if run_start is not None:
            spans.append((run_start, len(words) - 1))
        if not spans:
            continue
        sent = " ".join(words)
        for ext_idx, (l, r) in enumerate(spans):
            pred = " ".join(words[l:r + 1]) or " "
            a0 = " ".join(w for w in words[:l] if w not in punct)
            a1 = " ".join(w for w in words[r + 1:] if w not in punct)
            args = [x for x in (a0, a1) if x]
            subj = a0 if a0 else a1
            obj = a1 if a0 else ""
            rows.append((conv_id, turn_idx, sent_idx, ext_idx, sent,
                         pred, args, subj, obj, CONFIDENCE))
    return rows


def extract_triples_arrow(transcripts: DataFrame,
                          max_words: int = MAX_SENT_WORDS) -> DataFrame:
    """transcripts → triples, one fused Arrow stage."""
    from openie_spark.functions.partitioning import spread

    lex = frozenset(PRED_LEXICON)
    punct = frozenset(SENT_PUNCT)
    cols = ["conv_id", "turn_idx", "sent_idx", "ext_idx", "sent",
            "pred", "args", "subj", "obj", "confidence"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for conv_id, turn_idx, text in zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
                rows.extend(_extract_rows(conv_id, int(turn_idx), text, lex, punct, max_words))
            yield pd.DataFrame(rows, columns=cols)

    src = spread(transcripts, "conv_id").select("conv_id", "turn_idx", "text")
    return src.mapInPandas(run, TRIPLES_SCHEMA)
