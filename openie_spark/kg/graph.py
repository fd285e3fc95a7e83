"""Stage H — graph materialize: nodes / edges tables.

    nodes(entity_id, canonical, aliases, n_aliases, freq)
    edges(src_id, dst_id, pred, conv_id, turn_idx, sent_idx, ext_idx)

entity_id = md5(canonical normalized mention) — stable across engines
(DuckDB oracle computes the identical id) and across runs (no
monotonically_increasing_id, which breaks checkpoint-resume
determinism).

Scale notes:
  * the mention→entity map is vocabulary-sized; edge-build joins it to
    occurrence-sized triples TWICE (subj, obj). Map side broadcasts
    when small; at 10^12-turn scale use strategy='salted' — head
    entities make the norm key skewed, so the map side is replicated
    over SALT_BUCKETS deterministic salts (functions/joins.py).
  * writers bucket by entity_id so downstream per-entity queries
    partition-prune (see pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openie_spark.functions.joins import salted_equi_join

_PROV = ["conv_id", "turn_idx", "sent_idx", "ext_idx"]


def build_nodes(canon: DataFrame) -> DataFrame:
    """canonical_map output → nodes. One hash-agg on component."""
    return (
        canon.groupBy(F.col("component").alias("canonical"))
        .agg(
            F.sort_array(F.collect_set("norm")).alias("aliases"),
            F.count(F.lit(1)).alias("n_aliases"),
            F.sum("freq").alias("freq"),
        )
        .select(
            F.md5(F.col("canonical")).alias("entity_id"),
            "canonical", "aliases", "n_aliases", "freq",
        )
    )


def norm_triples(triples: DataFrame) -> DataFrame:
    """triples → (prov keys, pred, subj_norm, obj_norm): mention
    normalization evaluated EXACTLY ONCE per triple. The pipeline
    materializes this table so both the vocabulary aggregation and the
    edge joins consume pre-normalized strings — normalization is the
    single most expensive per-row operation at occurrence scale and
    must never run twice. Uses the Arrow pandas normalizer (see
    mentions.norm_mention_udf for the measurement-backed choice)."""
    from openie_spark.functions.partitioning import spread
    from openie_spark.kg.mentions import norm_mention_udf

    norm = norm_mention_udf()
    return spread(triples, "conv_id").select(
        *_PROV, "pred",
        norm(F.col("subj")).alias("subj_norm"),
        norm(F.col("obj")).alias("obj_norm"),
    )


def build_edges_from_norm(tn: DataFrame, canon: DataFrame,
                          strategy: str = "broadcast") -> DataFrame:
    """pre-normalized triples ⋈ entity map (subj side, obj side) →
    edges. Pure joins — no string work.

    strategy: 'broadcast' (small vocab) | 'salted' (skewed head
    entities at scale) | 'shuffle' (plain AQE hash join).

    No stop/empty filter: the entity map only contains vocab norms
    (already stop-filtered upstream), so the INNER joins drop
    stop/empty mentions for free."""
    emap = canon.select("norm", F.md5(F.col("component")).alias("entity_id"))

    def attach(df: DataFrame, key: str, out: str) -> DataFrame:
        m = emap.withColumnsRenamed({"norm": key, "entity_id": out})
        if strategy == "broadcast":
            return df.join(F.broadcast(m), key)
        if strategy == "salted":
            return salted_equi_join(df, m, key)
        return df.join(m, key)

    edges = attach(attach(tn, "subj_norm", "src_id"), "obj_norm", "dst_id")
    return edges.select("src_id", "dst_id", "pred", *_PROV)


def display_labels(canon: DataFrame) -> DataFrame:
    """Display-name selection — the 'alias canonicalization' output a
    KG consumer reads: per entity (connected component) the alias with
    the HIGHEST occurrence count becomes the display label, ties to
    the shorter then lexicographically smaller string. The component
    representative (union-find root, i.e. ``canonical``) is a join
    key, not a human-facing name; this picks the name.

    Scale shape: ONE partial-aggregated hash-agg over the VOCABULARY
    (distinct normalized mentions) — the representative rides a
    min_by over the composite ordering struct instead of a window, so
    an over-merged mega-component map-side-combines like any other
    key instead of landing whole in one window partition. Sub-linear
    in corpus size, same working set as linking."""
    best = F.min_by(
        F.struct(F.col("norm").alias("display"),
                 F.col("freq").alias("display_freq")),
        F.struct((-F.col("freq")).alias("nf"),
                 F.length("norm").alias("ln"),
                 F.col("norm").alias("norm")))
    agg = canon.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_aliases"), F.sum("freq").alias("freq"),
        best.alias("best"))
    return agg.select(
        F.md5("component").alias("entity_id"),
        F.col("component").alias("canonical"),
        F.col("best.display").alias("display"),
        F.col("best.display_freq").alias("display_freq"),
        "n_aliases", "freq",
    )


def degree_stats(edges: DataFrame) -> DataFrame:
    """Per-entity out/in degree — the graph-sanity aggregation used by
    tests and the driver query (SQL-expressible)."""
    out_deg = edges.groupBy(F.col("src_id").alias("entity_id")).agg(F.count(F.lit(1)).alias("out_deg"))
    in_deg = edges.groupBy(F.col("dst_id").alias("entity_id")).agg(F.count(F.lit(1)).alias("in_deg"))
    return (
        out_deg.join(in_deg, "entity_id", "full")
        .select(
            "entity_id",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        )
    )
