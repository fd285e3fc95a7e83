"""Engine constants shared by the Spark implementation and the DuckDB
oracle SQL (so the driver's correctness gate compares like with like).

Reference invariants (SURVEY.md §1.2):
  * MAX_LEN = 98 words per sentence (/root/reference/utils/dataset.py:10,39-41).
    The reference crashes on longer sentences; we segment deterministically
    instead and record the deviation in lineage.
  * confidence = 1.0 literal for every emitted tuple
    (/root/reference/eval/oie_eval/oie_readers/goldReader.py:26,31).
"""

from __future__ import annotations

MAX_SENT_WORDS = 98
CONFIDENCE = 1.0

# Sentence-terminal punctuation tokens (text is pre-tokenized,
# space-joined — FIXTURES.md §1).
SENT_PUNCT = (".", "!", "?")

# Deterministic rule-tagger predicate lexicon. The rule backend tags a
# word P iff it is in this set; maximal P-runs become predicate spans
# (the 'seqie' span semantics, /root/reference/models/seqie.py:58-72).
# The set mixes common English copulas/verbs with the synthetic-corpus
# verbs so both CaRB-style fixtures and /root/testdata documents produce
# non-trivial extractions.
PRED_LEXICON = (
    "is", "was", "are", "were", "be", "been", "being", "has", "have", "had",
    "plays", "played", "says", "said", "made", "makes", "wrote", "won",
    "scan", "join", "merge", "sort", "filter", "group", "query", "stream",
)

# 18-tag oie2016 vocabulary (/root/reference/utils/tagset.py:7-10).
TAGSET_OIE2016 = (
    "[PAD]", "[CLS]", "[SEP]", "O",
    "A0-B", "A1-B", "A2-B", "A3-B", "A4-B", "A5-B",
    "A0-I", "A1-I", "A2-I", "A3-I", "A4-I", "A5-I",
    "P-B", "P-I",
)
IDX2TAG = dict(enumerate(TAGSET_OIE2016))

# Deterministic transcripts derivation from the driver's `documents`
# table (TESTDATA.md): TURNS_PER_CONV docs fold into one conversation.
# Shared literally by datagen.transcripts_df() and the oracle SQL.
TURNS_PER_CONV = 5
ROLES = ("user", "assistant", "system", "tool")

# "be"-form equivalence used by the CaRB matcher
# (/root/reference/eval/oie_eval/matcher.py:178-184).
BE_FORMS = ("be", "is", "am", "are", "was", "were", "been", "being")

# Predicates that trigger arg-order reversal in binary matching —
# SUBSTRING containment against the gold predicate string, and the
# reference list really does repeat "adds" and omit bare "say"
# (/root/reference/eval/oie_eval/matcher.py:306-311).
SAID_PREDS = ("said", "told", "added", "adds", "says")

# Mention stopword policy (engine choice, SURVEY.md §7 risk register):
# role strings and pronouns are linkage-useless mega-hubs at transcript
# scale; filtered before entity linking.
STOP_MENTIONS = (
    "user", "assistant", "system", "tool",
    "i", "you", "he", "she", "it", "we", "they", "this", "that",
    "these", "those", "there", "here", "who", "which", "what",
)

# The pronoun subset of STOP_MENTIONS that the coref-lite pass tries
# to resolve to a prior entity mention (role strings and wh-words are
# not referring expressions — they stay dropped).
PRONOUNS = (
    "i", "you", "he", "she", "it", "we", "they",
    "this", "that", "these", "those",
)
# A bare determiner as the WHOLE argument is an unresolved reference
# fragment too ("the" as subject = the extractor clipped the head noun)
# — coref-lite repairs both classes with the same recency rule. Unlike
# PRONOUNS these are not stop-filtered (multi-word args keep them), so
# the coref pass must exclude them from antecedent candidacy itself.
BARE_DETERMINERS = ("a", "an", "the")
REF_FRAGMENTS = PRONOUNS + BARE_DETERMINERS

# Entity-linking knobs. MAX_BLOCK caps blocking-group size: a block
# larger than this (head-entity skew) is excluded from the quadratic
# exact-pair compare and recorded in lineage counters — at 10^12-turn
# scale an uncapped hot block is an O(n^2) shuffle bomb.
LINK_JACCARD = 0.6
MAX_BLOCK = 1000
# Only short mentions are linkable entities: spans longer than this are
# clause fragments, not names — they stay singleton nodes. Guards both
# linking quality (token-Jaccard over long spans over-merges) and cost
# (pair graph stays name-sized).
MAX_MENTION_TOKENS = 6

# Minhash-LSH: NUM_PERM permutations in BANDS bands of ROWS_PER_BAND
# (NUM_PERM = BANDS * ROWS_PER_BAND). s-curve threshold ≈
# (1/BANDS)^(1/ROWS_PER_BAND) ≈ 0.45 for 8x2.
MINHASH_PERM = 16
LSH_BANDS = 8
LSH_ROWS = 2
