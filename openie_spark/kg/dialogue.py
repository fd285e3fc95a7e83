"""Dialogue structure over transcripts — topic segmentation.

``topic_segments`` is the TextTiling-style lexical-cohesion pass
(Hearst 1997, reduced to its deterministic core): a new topic segment
starts where the token-set overlap between a turn and its predecessor
drops below a threshold. Segments scope downstream KG passes — they
are the natural provenance unit for salience and coref windows in
long multi-session transcripts (a 1,000-turn support thread is many
topics, not one).

Everything is exact integer arithmetic (round-half-up ppm overlap, no
float division) so the DuckDB oracle reproduces the output
bit-for-bit.

Scale shape: ONE shuffle — the conv_id window partition (turn-count
bounded) serves both the lag and the running boundary sum; token
arrays never leave their row, and the regex tokenizer runs once per
turn (turn-scale, not occurrence-scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from openie_spark.functions.hashing import (
    band_hashes_md5,
    minhash_sig_md5,
    tokens_of,
    word_ngrams,
)

# conversation near-dup: word-3-gram minhash-LSH, 8 bands x 2 rows
# (threshold ≈ (1/8)^(1/2) ≈ 0.35 — high recall at j ≥ 0.5), verified
# at exact Jaccard ≥ DOC_JACCARD; the planted twin of a conversation
# drops every PERTURB_DROPth token
DOC_BANDS = 8
DOC_ROWS = 2
DOC_JACCARD = 0.5
PERTURB_DROP = 15

# a turn sharing under 40% of its distinct tokens with its predecessor
# starts a new segment (picked against the sandbox corpus where
# adjacent-turn overlap centers ~60%; real deployments tune per corpus)
SEGMENT_THRESH_PPM = 400_000


def topic_segments(transcripts: DataFrame,
                   thresh_ppm: int = SEGMENT_THRESH_PPM) -> DataFrame:
    """transcripts → (conv_id, turn_idx, overlap_ppm, is_boundary,
    seg_idx): exact-ppm token-set overlap with the previous turn; a
    boundary is the first turn or overlap < ``thresh_ppm`` (an
    empty-union comparison counts as zero overlap); seg_idx is the
    0-based running boundary count."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = transcripts.select(
        "conv_id", "turn_idx",
        F.array_distinct(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
        ).alias("toks"),
    )
    staged = t.withColumn("prev", F.lag("toks").over(w)).select(
        "conv_id", "turn_idx",
        F.coalesce(F.size(F.array_intersect("toks", "prev")), F.lit(0))
        .alias("n_inter"),
        F.coalesce(F.size(F.array_distinct(F.concat("toks", "prev"))),
                   F.lit(0)).alias("n_union"),
        F.col("prev").isNull().alias("is_first"),
    )
    seg = staged.withColumn(
        "overlap_ppm",
        F.when(F.col("is_first") | (F.col("n_union") == 0), F.lit(0).cast("long"))
        .otherwise(F.expr("(2 * n_inter * 1000000 + n_union) DIV (2 * n_union)")),
    ).withColumn(
        "is_boundary",
        F.col("is_first") | (F.col("overlap_ppm") < thresh_ppm),
    )
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    return (
        seg.withColumn(
            "seg_idx",
            (F.sum(F.col("is_boundary").cast("int")).over(run) - 1).cast("int"))
        .select("conv_id", "turn_idx", "overlap_ppm", "is_boundary", "seg_idx")
    )


def dialogue_stats(transcripts: DataFrame) -> DataFrame:
    """Per-conversation dialogue analytics over the agent-transcript
    shape (conv_id, turn_idx, role, text, tool, ts) ->
    (conv_id, n_turns, n_user, n_assistant, n_tool_turns,
     total_chars, avg_turn_chars, duration_min, asst_user_char_ppm,
     longest_run): turn/role mix, tool usage, wall-clock span, the
    assistant/user verbosity ratio (round-half-up ppm, NULL when the
    conversation has no user text), and the longest same-role run —
    the health metrics an agent-transcript curation pass filters on
    (degenerate conversations: one-sided monologues, tool loops,
    zero-duration bursts).

    Exact integer arithmetic throughout (epoch minutes, integer DIV,
    the shared 2a+b ppm trick) so the DuckDB oracle is bit-for-bit.

    Scale shape: ONE window shuffle on conv_id (lag-flag + running sum
    give each turn its same-role run id — no (conv, role) repartition)
    followed by two partial-agg groupBys (runs, then conversations).
    Everything is turn-scale; no occurrence-scale state.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    t = transcripts.select(
        "conv_id", "turn_idx", "role", "tool",
        F.length("text").alias("n_chars"),
        (F.unix_timestamp("ts") / 60).cast("long").alias("em"),
    ).withColumn(
        "new_run",
        (F.coalesce(F.lag("role").over(w), F.lit("\x00")) != F.col("role"))
        .cast("int"),
    ).withColumn("run_id", F.sum("new_run").over(run))
    runs = t.groupBy("conv_id", "run_id").agg(
        F.count(F.lit(1)).alias("run_len"),
        F.min("role").alias("role"),          # constant within a run
        F.sum("n_chars").alias("chars"),
        F.min("em").alias("em_min"),
        F.max("em").alias("em_max"),
        F.sum(F.when(F.col("tool").isNotNull(), 1).otherwise(0)).alias("n_tool"),
    )
    agg = runs.groupBy("conv_id").agg(
        F.sum("run_len").alias("n_turns"),
        F.sum(F.when(F.col("role") == "user", F.col("run_len")).otherwise(0)).alias("n_user"),
        F.sum(F.when(F.col("role") == "assistant", F.col("run_len")).otherwise(0)).alias("n_assistant"),
        F.sum("n_tool").alias("n_tool_turns"),
        F.sum(F.when(F.col("role") == "assistant", F.col("chars")).otherwise(0)).alias("_ac"),
        F.sum(F.when(F.col("role") == "user", F.col("chars")).otherwise(0)).alias("_uc"),
        F.sum("chars").alias("total_chars"),
        (F.max("em_max") - F.min("em_min")).alias("duration_min"),
        F.max("run_len").alias("longest_run"),
    )
    return agg.select(
        "conv_id", "n_turns", "n_user", "n_assistant", "n_tool_turns",
        "total_chars",
        F.expr("total_chars DIV n_turns").alias("avg_turn_chars"),
        "duration_min",
        F.expr("CASE WHEN _uc > 0 THEN "
               "(2 * _ac * 1000000 + _uc) DIV (2 * _uc) END")
        .alias("asst_user_char_ppm"),
        "longest_run",
    )


def conv_documents(transcripts: DataFrame) -> DataFrame:
    """Conversations flattened to one document each -> (doc_id=conv_id,
    text = turn texts joined with ' ' in turn_idx order). The unit of
    conversation-level dedup: agent-transcript corpora are full of
    re-run conversations (same prompt, retried job) that turn-level
    ops never see as duplicates.

    One shuffle (groupBy conv_id); ordering is pinned by array_sort on
    (turn_idx, text) structs — collect_list order is free but the sort
    makes the result partition-independent. NULL texts coalesce to ''
    (the DuckDB twin's string_agg skips NULLs; '' tokenizes to nothing
    either way)."""
    return (
        transcripts
        .select("conv_id", "turn_idx",
                F.coalesce("text", F.lit("")).alias("text"))
        .groupBy("conv_id")
        .agg(F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("turn_idx", "text"))),
                lambda s: s["text"]),
            " ").alias("text"))
        .select(F.col("conv_id").alias("doc_id"), "text")
    )


def conv_neardup_pairs(transcripts: DataFrame) -> DataFrame:
    """Near-duplicate CONVERSATION pairs -> (a, b, jaccard): the
    turn-flattened conversations plus deterministic perturbed twins
    (every PERTURB_DROPth token dropped; id ``conv_id~twin``) as
    planted ground truth, through minhash_pairs_docs. The only step of
    its own is the one conv_id groupBy that builds the conversation
    documents."""
    conv = conv_documents(transcripts)
    toks = tokens_of(F.col("text"))
    twins = conv.select(
        F.concat(F.col("doc_id"), F.lit("~twin")).alias("doc_id"),
        F.array_join(
            F.filter(toks, lambda w, i: (i + 1) % PERTURB_DROP != 0), " "
        ).alias("text"),
    )
    return minhash_pairs_docs(conv.unionByName(twins))


def minhash_pairs_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (a, b, jaccard): minhash-LSH candidates
    verified with exact word-3-gram Jaccard ≥ DOC_JACCARD, a < b.
    Signature and band hashes are md5h60-based, so the DuckDB twin
    (plans/oracles.conv_minhash_pairs_sql) recomputes the full LSH
    structure.

    Plan shape (scale-deliberate): the md5-heavy shingle and signature
    projections run ONCE per doc at full-core parallelism (a repartition
    to the default parallelism first), the signature behind an exchange
    barrier below the banded checkpoint; the band self-join carries
    only (doc_id, band hash) — candidate (a, b) pairs dedup WITHOUT the
    shingle arrays in the shuffle, and shingles re-attach afterwards by
    doc_id join for the exact-Jaccard verify.

    Exact-duplicate collapse (semantics-preserving): byte-identical
    texts share the full signature (every band collides) and score
    jaccard 1.0, so the LSH + verify runs once per DISTINCT text and
    members fan back in by id join afterwards — identical output, but
    the expensive verify stage is bounded by the distinct corpus.
    Without this, a corpus where popular conversations repeat m times
    pays m² shingle-array verifies per duplicate group (measured 703s
    vs ~10s on a 10x replica with 10-copy groups)."""
    # repartitioned unconditionally: partitioning.spread would ask docs
    # and reps (each below a shuffle) for their partition count, and
    # under AQE that executes the shuffle as a separate job
    n = docs.sparkSession.sparkContext.defaultParallelism
    # group key = (text IS NULL, md5(text)) as one string: md5 is 32
    # hex digits, so the NULL marker collides with no text at all
    keyed = docs.repartition(n, "doc_id").select(
        "doc_id", "text",
        F.coalesce(F.md5(F.col("text")), F.lit("NULL")).alias("gkey"),
    ).localCheckpoint(eager=False)     # feeds reps AND the member map
    reps = (
        keyed.groupBy("gkey")
        .agg(F.min("doc_id").alias("doc_id"),
             F.min("text").alias("text"))   # constant within the group
    )
    mem = (
        keyed.select("doc_id", "gkey")
        .join(reps.select("gkey", F.col("doc_id").alias("rep")), "gkey")
        .select("doc_id", "rep")
        .localCheckpoint(eager=False)      # feeds three fan-out joins
    )

    # both tables materialized once: sh feeds the signature AND the two
    # verify joins; banded feeds both sides of the self-join (without
    # the checkpoint the 16-slot md5 projection is evaluated twice per
    # doc — the same fix kg exact_pairs carries)
    sh = reps.repartition(n, "doc_id").select(
        "doc_id", word_ngrams(tokens_of(F.col("text"))).alias("shingles"),
    ).localCheckpoint(eager=False)
    # the exchange under banded's checkpoint is load-bearing: with sig
    # read straight from sh, kg_conv_neardup's run logs bursts of
    # "Failed to update accumulator ... (Unknown class)" on the driver
    sig = sh.select(
        "doc_id", minhash_sig_md5(F.col("shingles"), DOC_BANDS * DOC_ROWS).alias("sig"),
    ).repartition(n, "doc_id")
    banded = sig.select(
        "doc_id",
        F.posexplode(band_hashes_md5(F.col("sig"), DOC_BANDS, DOC_ROWS))
        .alias("band_idx", "band_hash"),
    ).localCheckpoint(eager=False)
    left = banded.select("band_idx", "band_hash", F.col("doc_id").alias("a"))
    right = banded.select("band_idx", "band_hash", F.col("doc_id").alias("b"))
    cand = (
        left.join(right, ["band_idx", "band_hash"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b").distinct()
    )
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    rep_pairs = (
        cand.join(sh.select(F.col("doc_id").alias("a"), F.col("shingles").alias("sa")), "a")
        .join(sh.select(F.col("doc_id").alias("b"), F.col("shingles").alias("sb")), "b")
        .withColumn("jaccard", inter / (F.size("sa") + F.size("sb") - inter))
        .filter(F.col("jaccard") >= DOC_JACCARD)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )
    # fan the rep-level pairs back out to every member combination, and
    # add the within-group pairs (jaccard exactly 1.0; empty-shingle
    # groups stay excluded, matching the NULL-jaccard filter above)
    cross = (
        rep_pairs
        .join(mem.select(F.col("rep").alias("a"), F.col("doc_id").alias("ma")), "a")
        .join(mem.select(F.col("rep").alias("b"), F.col("doc_id").alias("mb")), "b")
        .select(F.least("ma", "mb").alias("a"),
                F.greatest("ma", "mb").alias("b"), "jaccard")
    )
    nonempty = sh.where(F.size("shingles") > 0).select(F.col("doc_id").alias("rep"))
    within = (
        mem.join(nonempty, "rep")
        .alias("l")
        .join(mem.alias("r"), (F.col("l.rep") == F.col("r.rep"))
              & (F.col("l.doc_id") < F.col("r.doc_id")))
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"),
                F.lit(1.0).alias("jaccard"))
    )
    return cross.unionByName(within)


def role_transitions(transcripts: DataFrame) -> DataFrame:
    """Conversation-structure transition matrix -> (from_role, to_role,
    n_transitions, n_convs, row_ppm): adjacent-turn role bigrams in
    turn_idx order with conversation support and an exact round-down
    row-normalized share — the protocol profile of an agent corpus
    (how often does the assistant hand to a tool, does the user ever
    follow a tool turn directly?). reply_latency times ONE of these
    transitions, this counts all of them.

    Scale shape: ONE conv_id window shuffle (partitions turn-bounded),
    a roles²-bounded partial-agg collapse, and a roles-sized broadcast
    totals join."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    pairs = (
        transcripts.select("conv_id", "turn_idx", "role")
        .withColumn("to_role", F.lead("role").over(w))
        .where(F.col("to_role").isNotNull())
        .groupBy(F.col("role").alias("from_role"), "to_role")
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.countDistinct("conv_id").alias("n_convs"),
        )
        .localCheckpoint(eager=False)   # roles²-sized; feeds two branches
    )
    totals = pairs.groupBy("from_role").agg(
        F.sum("n_transitions").alias("n_from"))
    return (
        pairs.join(totals, "from_role")
        .select(
            "from_role", "to_role", "n_transitions", "n_convs",
            F.expr("n_transitions * 1000000 DIV n_from").alias("row_ppm"),
        )
    )


def tool_stats(transcripts: DataFrame) -> DataFrame:
    """Per-tool usage profile -> (tool, n_calls, n_convs, total_chars,
    avg_chars, n_followed, avg_follow_min): every tool-bearing turn of
    the agent corpus rolled up by tool — call volume, conversation
    support, payload size, and the integer-minute latency to the NEXT
    turn (the tool's observable turnaround; a trailing tool turn has
    no follow-up and is counted in n_calls but not n_followed). The
    operational readout an agent-platform run watches per tool.
    avg_follow_min is -1 when NO call was followed: a NULL in an
    integer column floats the whole column under the driver's pandas
    conversion (int64 cannot hold NULL), breaking the value hash —
    numeric outputs are kept non-null by contract.

    Scale shape: ONE conv_id window shuffle (lead ts within the
    conversation, partitions turn-bounded), then a tools-sized
    partial-agg collapse — no join at all."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    em = F.unix_micros("ts")
    return (
        transcripts.select(
            "conv_id", "turn_idx", "tool", F.length("text").alias("n_chars"),
            (em.alias("em")), F.lead(em).over(w).alias("next_em"))
        .where(F.col("tool").isNotNull())
        # FLOOR division (not DIV's truncate-toward-zero): the window is
        # ordered by turn_idx, not ts, so a non-monotone timestamp gives a
        # negative gap and the DuckDB twin's `//` floors it — use the same
        # sign-safe floor formula as the k-means centroid means so both
        # engines agree on negative gaps too.
        .withColumn("lat_min", F.expr(
            "((next_em - em) - (((next_em - em) % 60000000) + 60000000)"
            " % 60000000) DIV 60000000"))
        .groupBy("tool")
        .agg(
            F.count(F.lit(1)).alias("n_calls"),
            F.countDistinct("conv_id").alias("n_convs"),
            F.sum("n_chars").alias("total_chars"),
            F.expr("sum(n_chars) DIV count(1)").alias("avg_chars"),
            F.count("lat_min").alias("n_followed"),
            F.coalesce(
                F.expr("(sum(lat_min) - ((sum(lat_min) % nullif(count(lat_min), 0))"
                       " + count(lat_min)) % count(lat_min))"
                       " DIV nullif(count(lat_min), 0)"),
                F.lit(-1).cast("long")).alias("avg_follow_min"),
        )
    )


def tool_sequences(transcripts: DataFrame) -> DataFrame:
    """Tool-invocation transition matrix -> (from_tool, to_tool,
    n_transitions, n_convs, row_ppm): adjacent TOOL CALLS in turn
    order within each conversation (non-tool turns are skipped, so
    this is the chain of tool invocations an agent actually executed),
    with conversation support and the exact round-down row share —
    role_transitions' twin on the tool axis, the workflow-mining
    readout ("which tool follows which?").

    Scale shape: identical to role_transitions — ONE conv_id window
    shuffle over the tool-bearing slice, a tools²-bounded partial-agg
    collapse, and a tools-sized totals join."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    pairs = (
        transcripts.select("conv_id", "turn_idx", "tool")
        .where(F.col("tool").isNotNull())
        .withColumn("to_tool", F.lead("tool").over(w))
        .where(F.col("to_tool").isNotNull())
        .groupBy(F.col("tool").alias("from_tool"), "to_tool")
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.countDistinct("conv_id").alias("n_convs"),
        )
        .localCheckpoint(eager=False)   # tools²-sized; feeds two branches
    )
    totals = pairs.groupBy("from_tool").agg(
        F.sum("n_transitions").alias("n_from"))
    return (
        pairs.join(totals, "from_tool")
        .select(
            "from_tool", "to_tool", "n_transitions", "n_convs",
            F.expr("n_transitions * 1000000 DIV n_from").alias("row_ppm"),
        )
    )
