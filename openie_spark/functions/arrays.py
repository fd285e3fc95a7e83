"""Column-expression builders for the extraction pipeline.

Everything here compiles to JVM Catalyst expressions (higher-order
array functions) — no Python UDFs, so the rule-path pipeline is one
whole-stage-codegen'd narrow plan: scan → project → explode → project.

Reference-semantics notes (verified against /root/reference):

* ``seqie_spans`` ports ``models/seqie.py:58-72`` exactly: a predicate
  span is an index LIST; ``P-B`` flushes the current span and opens a
  new one, ``P-I`` appends its index to the current span even when no
  span is open (a leading ``P-I`` starts a span) and even after a gap
  (spans may be non-contiguous). The trailing open span IS flushed.
* ``tag2span_spans`` ports ``run.py:29-41``: contiguous ``[l, r]``
  pairs; a span only closes when a non-P tag is seen, so a span that
  runs to end-of-sentence is DROPPED; duplicate ``[l, r]`` pairs are
  suppressed. (Pipeline/PFLA path only.)
* ``pred_string`` / ``args_array`` port ``run.py:148-178``
  (write_output): predicate = space-join of all P-tagged words in
  order, empty → single space ``' '``; arg slot k = space-join of
  words whose tag has ``tag[1] == str(k)`` for k in 0..3 (so A4/A5
  are silently dropped), and EMPTY SLOTS ARE COMPACTED — the emitted
  args list keeps only non-empty slots, so ``subj`` is the first
  non-empty arg position, not necessarily A0.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from openie_spark.config import MAX_SENT_WORDS, PRED_LEXICON, SENT_PUNCT

_EMPTY_SPANS = "cast(array() as array<array<int>>)"
_EMPTY_INTS = "cast(array() as array<int>)"
_EMPTY_STRS = "cast(array() as array<string>)"
_EMPTY_SENTS = "cast(array() as array<array<string>>)"


def words_of(text: Column) -> Column:
    """Tokenize pre-tokenized text: split on spaces, drop empties."""
    return F.filter(F.split(text, " "), lambda w: w != "")


def segment_words(words: Column, max_words: int = MAX_SENT_WORDS) -> Column:
    """array<string> → array<array<string>>: sentence segmentation.

    A sentence ends at a terminal-punctuation token (kept with the
    sentence) or when it reaches ``max_words`` (the reference's hard
    MAX_LEN=98 assert, /root/reference/utils/dataset.py:10,39-41,
    turned into deterministic chunking). Equivalent closed form: within
    each punctuation-terminated segment, sentence = chunk of
    ``max_words`` consecutive words — the property the DuckDB oracle
    reproduces with window functions.
    """
    init = F.expr(f"named_struct('done', {_EMPTY_SENTS}, 'cur', {_EMPTY_STRS})")

    def step(acc, w):
        done, cur = acc["done"], acc["cur"]
        punct = w.isin(*SENT_PUNCT)
        full = F.size(cur) >= F.lit(max_words)
        closed = F.concat(done, F.array(F.concat(cur, F.array(w))))
        chunked = F.concat(done, F.array(cur))
        # chunk-full is checked BEFORE punct so that a punct token
        # landing exactly on a chunk boundary forms its own sentence —
        # the closed form: within each punct segment, sentence k =
        # words [k*max, (k+1)*max).
        return (
            F.when(full & punct,
                   F.struct(F.concat(chunked, F.array(F.array(w))).alias("done"), F.expr(_EMPTY_STRS).alias("cur")))
            .when(full,
                  F.struct(chunked.alias("done"), F.array(w).alias("cur")))
            .when(punct,
                  F.struct(closed.alias("done"), F.expr(_EMPTY_STRS).alias("cur")))
            .otherwise(F.struct(done.alias("done"), F.concat(cur, F.array(w)).alias("cur")))
        )

    def finish(acc):
        return F.when(F.size(acc["cur"]) > 0, F.concat(acc["done"], F.array(acc["cur"]))).otherwise(acc["done"])

    return F.aggregate(words, init, step, finish)


def _is_pred(w: Column) -> Column:
    return w.isin(*PRED_LEXICON)


def rule_pred_tags(words: Column) -> Column:
    """Deterministic stage-1 tagger (rule backend): a word is predicate
    iff it is in PRED_LEXICON; run-starts get P-B, continuations P-I.
    Same UDF-free interface the neural backend plugs into.
    """
    def tag(w, i):
        # element_at is 1-based → words[i-1]; clamp to 1 so index 0 never
        # reaches element_at (Spark raises INVALID_INDEX_OF_ZERO).
        prev = F.element_at(words, F.greatest(i, F.lit(1)))
        prev_pred = (i > 0) & _is_pred(prev)
        return (
            F.when(~_is_pred(w), F.lit("O"))
            .when(prev_pred, F.lit("P-I"))
            .otherwise(F.lit("P-B"))
        )

    return F.transform(words, tag)


def seqie_spans(tags: Column) -> Column:
    """array<string> tags → array<array<int>> predicate spans.

    Port of Joint.get_predicate_span (/root/reference/models/seqie.py:58-72).
    """
    idxs = F.sequence(F.lit(0), F.size(tags) - 1)
    init = F.expr(f"named_struct('done', {_EMPTY_SPANS}, 'cur', {_EMPTY_INTS})")

    def step(acc, i):
        tag = F.element_at(tags, i + 1)
        done, cur = acc["done"], acc["cur"]
        flushed = F.when(F.size(cur) > 0, F.concat(done, F.array(cur))).otherwise(done)
        return (
            F.when(tag == "P-B",
                   F.struct(flushed.alias("done"), F.array(i).alias("cur")))
            .when(tag == "P-I",
                  F.struct(done.alias("done"), F.concat(cur, F.array(i)).alias("cur")))
            .otherwise(acc)
        )

    def finish(acc):
        return F.when(F.size(acc["cur"]) > 0, F.concat(acc["done"], F.array(acc["cur"]))).otherwise(acc["done"])

    spans = F.aggregate(idxs, init, step, finish)
    return F.when(F.size(tags) > 0, spans).otherwise(F.expr(_EMPTY_SPANS))


def tag2span_spans(tags: Column) -> Column:
    """array<string> tags → array<array<int>> as [l, r] pairs.

    Port of tag2span (/root/reference/run.py:29-41) including its
    quirks: close-on-non-P-only (trailing open span dropped), [l, r]
    dedup, and P-B overwriting an open span without flushing it.
    """
    idxs = F.sequence(F.lit(0), F.size(tags) - 1)
    init = F.expr(f"named_struct('done', {_EMPTY_SPANS}, 'l', -1, 'r', -1)")

    def step(acc, i):
        tag = F.element_at(tags, i + 1)
        done, l, r = acc["done"], acc["l"], acc["r"]
        cur = F.array(l, r)
        closed = F.when(
            (l != -1) & ~F.array_contains(done, cur), F.concat(done, F.array(cur))
        ).otherwise(done)
        return (
            F.when(tag == "P-B", F.struct(done.alias("done"), i.alias("l"), i.alias("r")))
            .when(tag == "P-I", F.struct(done.alias("done"), l.alias("l"), i.alias("r")))
            .otherwise(F.struct(closed.alias("done"), F.lit(-1).alias("l"), F.lit(-1).alias("r")))
        )

    spans = F.aggregate(idxs, init, step, lambda acc: acc["done"])
    return F.when(F.size(tags) > 0, spans).otherwise(F.expr(_EMPTY_SPANS))


def _pairs(words: Column, tags: Column) -> Column:
    return F.arrays_zip(words.alias("w"), tags.alias("t"))


def pred_string(words: Column, tags: Column) -> Column:
    """write_output predicate assembly (/root/reference/run.py:162-167):
    space-join of P-tagged words in order; empty → single space ' '."""
    p = F.array_join(
        F.transform(F.filter(_pairs(words, tags), lambda x: x["t"].isin("P-B", "P-I")), lambda x: x["w"]),
        " ",
    )
    return F.when(F.length(p) == 0, F.lit(" ")).otherwise(p)


def arg_string(words: Column, tags: Column, pos: int) -> Column:
    """write_output arg-slot assembly (/root/reference/run.py:169-175):
    words whose tag's second char equals str(pos) — i.e. A{pos}-B/I."""
    return F.array_join(
        F.transform(
            F.filter(
                _pairs(words, tags),
                lambda x: (F.length(x["t"]) >= 2) & (F.substring(x["t"], 2, 1) == str(pos)),
            ),
            lambda x: x["w"],
        ),
        " ",
    )


def args_array(words: Column, tags: Column) -> Column:
    """Compacted args list: non-empty slots 0..3 in order
    (write_output only appends non-empty args — /root/reference/run.py:174-175).
    """
    return F.filter(
        F.array(*[arg_string(words, tags, k) for k in range(4)]),
        lambda a: a != "",
    )
