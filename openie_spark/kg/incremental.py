"""Incremental KG construction — merge a delta of NEW conversations
into an existing graph without recomputing the full corpus.

At 10^12-turn scale the full pipeline is a days-long job while daily
new data is a tiny fraction of the table; recomputing everything per
increment is the difference between a nightly job and an impossible
one. Every stage is one of:

  * per-turn (extraction, normalization) — run on the delta only;
  * vocabulary-sized (vocab, pairs, components, nodes) — merged, with
    pair generation recomputed ONLY inside blocks a new mention
    touches (``incremental_exact_pairs``);
  * occurrence-scale on OLD data only via a map-only broadcast remap
    of edge entity ids (``remap_edges``) — needed because new alias
    evidence can MERGE existing entities, changing their ids.

Contract: each increment carries NEW conv_ids only (disjoint from all
prior increments). ``n_convs`` support counts merge additively under
this contract; every other merge is contract-free. The pipeline
guards the contract with a column-pruned semi-join (see
``KGPipeline.run_incremental``).

Equivalence invariant (pinned by tests/test_incremental.py and by the
``kg_*_incremental`` driver queries, whose DuckDB oracles are the
FULL-recompute SQL; both run the merge rows ``pipeline.MERGES``, as
``run_incremental`` does): for every stage,
incremental(old ⊎ delta) ≡ full(old ∪ delta), row for row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openie_spark.config import LINK_JACCARD, MAX_BLOCK
from openie_spark.kg.canon import connected_components
from openie_spark.kg.linking import _block_keys, linkable, token_jaccard

_PROV = ["conv_id", "turn_idx", "sent_idx", "ext_idx"]


def merge_vocab(old_vocab: DataFrame, delta_vocab: DataFrame) -> DataFrame:
    """Merged mention vocabulary: freq is additive; tokens/n_tokens are
    pure functions of the norm string (recomputed, identical on both
    sides). One vocab-sized shuffle."""
    u = old_vocab.select("norm", "freq").unionByName(
        delta_vocab.select("norm", "freq"))
    return (
        u.groupBy("norm").agg(F.sum("freq").alias("freq"))
        .withColumn("tokens", F.array_distinct(F.split("norm", " ")))
        .withColumn("n_tokens", F.size("tokens"))
    )


def incremental_exact_pairs(old_pairs: DataFrame, old_vocab: DataFrame,
                            merged_vocab: DataFrame,
                            threshold: float = LINK_JACCARD,
                            max_block: int = MAX_BLOCK) -> DataFrame:
    """Exactly ``exact_pairs(merged_vocab)`` computed incrementally:
    the self-join runs ONLY inside blocks that contain at least one
    NEW norm; old pairs are kept iff they still share an untouched,
    non-hot block.

    Correctness (block keys and ``linkable`` are pure functions of the
    norm string, and vocab entries are never removed, so blocks only
    GROW): for a pair p with shared key set K(p),

      * ∃ untouched k∈K(p) with merged-count(k) ≤ cap → block k is
        byte-identical to the old run (untouched = no new member, and
        old members never leave), so p ∈ old_pairs and the keep-filter
        retains it; conversely any kept old pair is re-derivable from
        that same unchanged block, so keeping it is sound.
      * otherwise p is emitted (or correctly dropped, when every one
        of its blocks went hot) by the touched-block recompute, which
        re-runs the full self-join over the merged contents of exactly
        those blocks.

    Double discoveries collapse in the final ``distinct()`` — the
    jaccard value is the same deterministic expression on both paths.

    Scale shape: block counting is one vocab-sized shuffle; the
    quadratic self-join is confined to touched blocks (delta-sized ×
    bounded block width); the keep-filter joins old pairs against two
    small key sets (touched, hot)."""
    lv = linkable(merged_vocab).select("norm", "tokens")
    old_norms = linkable(old_vocab).select("norm")
    new_norms = lv.select("norm").join(old_norms, "norm", "left_anti")

    exploded = lv.select(
        F.explode(_block_keys(F.col("norm"))).alias("bkey"), "norm", "tokens")
    hot = (
        exploded.groupBy("bkey").count()
        .filter(F.col("count") > max_block)
        .select("bkey")
    )
    touched = (
        new_norms.select(F.explode(_block_keys(F.col("norm"))).alias("bkey"))
        .distinct()
    )

    live_touched = touched.join(hot, "bkey", "left_anti")
    tb = exploded.join(live_touched, "bkey").localCheckpoint(eager=False)
    left = tb.select("bkey", F.col("norm").alias("a"), F.col("tokens").alias("ta"))
    right = tb.select("bkey", F.col("norm").alias("b"), F.col("tokens").alias("tb"))
    pairs_touched = (
        left.join(right, "bkey")
        .filter(F.col("a") < F.col("b"))
        .withColumn("jaccard", token_jaccard(F.col("ta"), F.col("tb")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )

    shared = old_pairs.select(
        "a", "b", "jaccard",
        F.explode(
            F.array_intersect(_block_keys(F.col("a")), _block_keys(F.col("b")))
        ).alias("bkey"),
    )
    kept = (
        shared.join(touched, "bkey", "left_anti")
        .join(hot, "bkey", "left_anti")
        .select("a", "b", "jaccard")
    )
    return kept.unionByName(pairs_touched).distinct()


def merge_components(old_components: DataFrame, merged_pairs: DataFrame) -> DataFrame:
    """Merged connected components: the old (norm → component)
    labeling has the same transitive closure as the old pair set, so
    CC over (old component edges ∪ new pair evidence) equals CC over
    the full merged pair set — and min-member labels are preserved
    because component labels are themselves vertices.

    ``merged_pairs`` may be the full merged pair set (simplest) or
    just the touched-block subset from ``incremental_exact_pairs`` —
    old kept pairs are inside the old closure, so both give the same
    fixpoint."""
    comp_edges = (
        old_components.filter(F.col("norm") != F.col("component"))
        .select(F.col("norm").alias("a"), F.col("component").alias("b"))
    )
    return connected_components(
        comp_edges.unionByName(merged_pairs.select("a", "b")))


def entity_remap(old_canon: DataFrame, new_canon: DataFrame) -> DataFrame:
    """(entity_id → new_entity_id) for every OLD entity — vocabulary-
    sized. Components only coarsen under added evidence, so old
    component → new component is a FUNCTION; each old component label
    is itself a mention norm, so one lookup in the new canonical map
    resolves it. Identity rows are retained (callers test for the
    all-identity fast path)."""
    return (
        old_canon.select(F.col("component").alias("norm")).distinct()
        .join(
            new_canon.select("norm", F.col("component").alias("new_component")),
            "norm", "left",
        )
        .select(
            F.md5(F.col("norm")).alias("entity_id"),
            F.md5(F.coalesce(F.col("new_component"), F.col("norm"))).alias("new_entity_id"),
        )
    )


def remap_is_identity(remap: DataFrame) -> bool:
    """True iff no old entity changed id (no components merged) —
    one vocab-sized aggregate; enables the additive relations merge."""
    return (
        remap.filter(F.col("entity_id") != F.col("new_entity_id"))
        .limit(1).count() == 0
    )


def remap_edges(old_edges: DataFrame, remap: DataFrame) -> DataFrame:
    """Map-only rewrite of old provenance edges to post-merge entity
    ids: two broadcast joins (the remap is vocabulary-sized), zero
    shuffle of the occurrence-scale edge table. On Iceberg this is the
    MERGE-INTO/rewrite step; most increments leave the remap identity
    and a deployment can skip the rewrite entirely (see
    ``remap_is_identity``)."""
    src_map = F.broadcast(remap.select(
        F.col("entity_id").alias("src_id"), F.col("new_entity_id").alias("new_src")))
    dst_map = F.broadcast(remap.select(
        F.col("entity_id").alias("dst_id"), F.col("new_entity_id").alias("new_dst")))
    return (
        old_edges.join(src_map, "src_id", "left")
        .join(dst_map, "dst_id", "left")
        .select(
            F.coalesce("new_src", "src_id").alias("src_id"),
            F.coalesce("new_dst", "dst_id").alias("dst_id"),
            "pred", *_PROV,
        )
    )


def merge_relations(old_relations: DataFrame, remap: DataFrame,
                    delta_edges: DataFrame, merged_edges: DataFrame) -> DataFrame:
    """Merged weighted-relations sink, adaptive:

    * remap identity (no entity merged — the common increment): old
      relation rows are untouched and delta conv_ids are disjoint by
      contract, so BOTH n_mentions and the distinct-conv support add —
      merge = compact union + sum, never touching old edges.
    * remap non-identity: two old relation rows can collapse onto one
      merged key with OVERLAPPING conv sets, so n_convs (a distinct
      count) is not decomposable — recompute from the merged edge
      table (one partial-aggregated shuffle; no string work, no
      model)."""
    from openie_spark.kg.analytics import relation_weights

    if not remap_is_identity(remap):
        return relation_weights(merged_edges)
    delta_rel = relation_weights(delta_edges)
    u = old_relations.select(
        "src_id", "dst_id", "pred", "n_mentions", "n_convs"
    ).unionByName(delta_rel)
    return u.groupBy("src_id", "dst_id", "pred").agg(
        F.sum("n_mentions").alias("n_mentions"),
        F.sum("n_convs").alias("n_convs"),
    )
