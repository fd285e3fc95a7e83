"""Stage I+ — coref-lite: referring-fragment → antecedent resolution
over the conversation mention stream.

Two classes of argument are references rather than entities:

  * pronouns ("it", "they", …) — entity linking drops them by stopword
    policy (mentions.py: linkage-useless mega-hubs), which also
    silently discards the edges whose subject or object *is* a
    pronoun;
  * bare determiners ("the", "a", "an") as the WHOLE argument — the
    extractor clipped the head noun; the fragment survives linking as
    a noise node.

Coref-lite recovers the recoverable part of both with the classic
recency heuristic (the last-mention baseline of Hobbs 1978 / centering
theory): a referring fragment resolves to the MOST RECENT prior entity
mention in the same conversation, reading mentions in transcript order
(turn, sentence, extraction, subject-before-object). Multi-turn
transcripts make this unusually effective — the antecedent is usually
the entity the conversation is currently about.

This is deliberately a deterministic, closed-form pass (one window
function), not a learned resolver: the reference (AntNLP/OpenIE) has
no coreference stage at all, so like the rest of ``kg/`` this surface
is engine-original.

Scale shape: ONE shuffle, the window partition on conv_id. Window
partitions are bounded by mentions-per-conversation (turn-count
bounded at ingest), never corpus size, so the plan survives a
10^12-turn table unchanged. No joins, no Python workers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from openie_spark.config import REF_FRAGMENTS, STOP_MENTIONS
from openie_spark.kg.mentions import extract_mentions


def resolve_pronouns(triples: DataFrame) -> DataFrame:
    """triples → (conv_id, turn_idx, sent_idx, ext_idx, side, pronoun,
    antecedent): one row per referring-fragment occurrence that has at
    least one prior entity mention in its conversation.

    Only occurrences whose WHOLE normalized mention is a fragment
    resolve ('it' does, 'it all' does not — a span that long carries
    its own content words). Antecedent candidates are entity mentions
    (norm non-empty, not a stopword, not itself a fragment), so a
    resolution can always be attached to a node via the canon map."""
    m = extract_mentions(triples, keep_stops=True).withColumn(
        # subject precedes object inside one extraction
        "side_rank", F.when(F.col("side") == "subj", F.lit(0)).otherwise(F.lit(1))
    )
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx", "sent_idx", "ext_idx", "side_rank")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_entity = (~F.col("norm").isin(*STOP_MENTIONS)
                 & ~F.col("norm").isin(*REF_FRAGMENTS))
    resolved = m.withColumn(
        "antecedent",
        F.last(F.when(is_entity, F.col("norm")), ignorenulls=True).over(w),
    )
    return (
        resolved.filter(F.col("norm").isin(*REF_FRAGMENTS)
                        & F.col("antecedent").isNotNull())
        .select("conv_id", "turn_idx", "sent_idx", "ext_idx", "side",
                F.col("norm").alias("pronoun"), "antecedent")
    )


def coref_edges(triples: DataFrame, canon: DataFrame) -> DataFrame:
    """Edges RECOVERED by coref-lite: provenance rows where a
    referring-fragment argument is replaced by its antecedent and both
    endpoints then resolve to entities — the edges the stop-filter and
    the noise-fragment nodes were hiding. Output mirrors the edges
    table plus ``repaired`` ('subj' | 'obj' | 'both').

    Scale shape: resolutions are fragment-rate-sized (tiny vs the
    corpus), so both provenance-key attach joins broadcast; the filter
    then shrinks the stream to repaired rows BEFORE the two
    vocabulary-map joins (broadcast, same as build_edges_from_norm's
    small-vocab strategy). The inner map joins drop rows whose
    un-repaired side is a stopword/empty for free — identical edge
    semantics to kg.graph.build_edges_from_norm."""
    from openie_spark.kg.graph import norm_triples

    prov = ["conv_id", "turn_idx", "sent_idx", "ext_idx"]
    res = resolve_pronouns(triples)
    rs = (res.filter(F.col("side") == "subj")
          .select(*prov, F.col("antecedent").alias("subj_fix")))
    ro = (res.filter(F.col("side") == "obj")
          .select(*prov, F.col("antecedent").alias("obj_fix")))
    tn = norm_triples(triples)
    fixed = (
        tn.join(F.broadcast(rs), prov, "left")
        .join(F.broadcast(ro), prov, "left")
        .filter(F.col("subj_fix").isNotNull() | F.col("obj_fix").isNotNull())
        .select(
            *prov, "pred",
            F.coalesce("subj_fix", "subj_norm").alias("subj_norm"),
            F.coalesce("obj_fix", "obj_norm").alias("obj_norm"),
            F.when(F.col("subj_fix").isNotNull()
                   & F.col("obj_fix").isNotNull(), "both")
            .when(F.col("subj_fix").isNotNull(), "subj")
            .otherwise("obj").alias("repaired"),
        )
    )
    emap = canon.select("norm", F.md5(F.col("component")).alias("entity_id"))
    out = (
        fixed
        .join(F.broadcast(emap.withColumnsRenamed(
            {"norm": "subj_norm", "entity_id": "src_id"})), "subj_norm")
        .join(F.broadcast(emap.withColumnsRenamed(
            {"norm": "obj_norm", "entity_id": "dst_id"})), "obj_norm")
    )
    return out.select("src_id", "dst_id", "pred", *prov, "repaired")
