"""Stage I — graph analytics over the materialized KG
(nodes/edges from kg/graph.py): PageRank, triangle counts, and
weighted relation edges.

All three are engine-portable by construction so the DuckDB oracles
(plans/oracles.py) reproduce them bit-for-bit:

* PageRank runs in INTEGER rank units (PAGERANK_SCALE per node) with
  floor division — integer addition is associative, so the result is
  independent of partitioning / summation order, unlike float
  PageRank where a last-ulp difference between engines (or between
  two cluster sizes!) would flip the hash compare. The recurrence is
      share(u)  = rank_k(u) DIV out_deg(u)
      rank_k+1(v) = (15 * SCALE) DIV 100
                  + (85 * SUM share over in-edges of v) DIV 100
  over the SIMPLE directed graph (distinct src->dst, self-loops
  dropped); dangling mass is not redistributed (the teleport term
  keeps every rank positive). This is our own pinned semantics, not
  an approximation of someone else's float run.

* Triangle counting uses the standard degree orientation: each
  undirected edge {a, b} points from the endpoint with smaller
  (degree, id) to the larger, so every triangle is counted exactly
  once as x->y, y->z, x->z and — the scale property — a node's
  oriented out-list is O(sqrt(m)) even for power-law hubs, bounding
  the worst join fan-out (see Suri & Vassilvitskii, WWW'11).

Scale notes (10^12-turn KG):
  * PageRank's per-iteration cost is one shuffle join (edges x ranks
    on src) + one partial-aggregated groupBy(dst) + one node-sized
    left join. Edges are hash-partitioned on src_id ONCE up front and
    localCheckpointed, so every iteration reuses the same exchange;
    ranks are node-sized. Iterations chain LAZILY (linear lineage —
    ids/linked are pinned, each round references the previous ranks
    once) into one fused job; see pagerank's docstring for the
    checkpoint cadence rationale.
  * BIGINT headroom: total mass is n_nodes * SCALE; a single node's
    in-sum is bounded by total mass, and the 85x intermediate must
    stay under 2^63 — n_nodes * SCALE * 85 < 9.2e18, i.e. ~1e8 nodes
    at SCALE=1e9. Above that, drop SCALE (the recurrence only needs
    SCALE >> max out-degree for shares to stay non-zero).
  * Triangle join fan-out is bounded by the orientation; the joins
    are plain equi-joins AQE can re-plan (skew split / broadcast the
    node-sized degree table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PAGERANK_ITERS = 5
PAGERANK_SCALE = 10**9
_DAMP_NUM = 85   # damping 0.85 as an exact rational
_DAMP_DEN = 100


def simple_edges(edges: DataFrame) -> DataFrame:
    """Occurrence-scale provenance edges -> simple directed graph:
    distinct (src_id, dst_id), self-loops dropped."""
    return (
        edges.where(F.col("src_id") != F.col("dst_id"))
        .select("src_id", "dst_id")
        .distinct()
    )


PAGERANK_CKPT_EVERY = 10


def pagerank(nodes: DataFrame, edges: DataFrame,
             iters: int = PAGERANK_ITERS,
             scale: int = PAGERANK_SCALE,
             checkpoint_every: int = PAGERANK_CKPT_EVERY) -> DataFrame:
    """Integer-exact PageRank -> (entity_id, rank BIGINT).

    nodes: anything with an entity_id column (isolated entities keep
    the base rank); edges: provenance edges (simplified here).

    Checkpoint cadence: iterations CHAIN LAZILY into one plan and only
    every ``checkpoint_every``-th ranks table is pinned. The rank
    lineage is LINEAR (each iteration references the previous ranks
    once; ids/linked are themselves checkpointed), so the plan grows
    linearly, not exponentially — and one fused 5-iteration job runs
    ~4.5x faster than five sequential checkpoint-materialize jobs
    (19.6s -> 4.4s at sf0.1, identical output): each eager
    materialization is a full job submit + 3 tiny synchronous shuffles
    that AQE would otherwise pipeline. The cadence exists for DEEP
    iteration counts, where plan compile time eventually dominates.
    """
    ids = nodes.select("entity_id").localCheckpoint(eager=False)
    se = simple_edges(edges)
    out_deg = se.groupBy("src_id").agg(F.count(F.lit(1)).alias("out_deg"))
    # one up-front partition on the join key, reused every iteration;
    # localCheckpoint pins it so the iterations never re-derive the
    # extraction chain upstream.
    linked = (
        se.join(out_deg, "src_id")
        .repartition("src_id")
        .localCheckpoint(eager=False)
    )
    base = (15 * scale) // _DAMP_DEN
    ranks = ids.select("entity_id", F.lit(scale).cast("long").alias("rank"))
    for i in range(iters):
        contrib = (
            linked.join(ranks.withColumnRenamed("entity_id", "src_id"), "src_id")
            .select("dst_id", F.expr("rank DIV out_deg").alias("share"))
            .groupBy("dst_id")
            .agg(F.sum("share").alias("in_sum"))
        )
        ranks = (
            ids.join(contrib.withColumnRenamed("dst_id", "entity_id"),
                     "entity_id", "left")
            .select(
                "entity_id",
                (F.lit(base)
                 + F.expr(f"({_DAMP_NUM} * coalesce(in_sum, 0L)) DIV {_DAMP_DEN}")
                 ).cast("long").alias("rank"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and (i + 1) < iters:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def personalized_pagerank(nodes: DataFrame, edges: DataFrame,
                          iters: int = PAGERANK_ITERS,
                          scale: int = PAGERANK_SCALE,
                          seed_mod: int | None = None) -> DataFrame:
    """Integer-exact personalized PageRank -> (entity_id, rank):
    identical recurrence to ``pagerank`` except the teleport term pays
    out ONLY to the deterministic md5-ticket seed slice (the same
    slice khop BFS uses), so rank measures proximity to the seed set —
    the standard graph feature for seed-anchored recommendation and
    related-entity ranking.

        rank_0(v)   = SCALE if seed(v) else 0
        rank_k+1(v) = seed(v) * (15*SCALE) DIV 100
                    + (85 * SUM shares over in-edges) DIV 100

    Same BIGINT-exact, partition-once/iterate-lazily shape as
    pagerank; one extra node-sized left join marks the seeds.
    """
    if seed_mod is None:
        seed_mod = KHOP_SEED_MOD
    ids = (
        nodes.select("entity_id")
        .join(seed_entities(nodes, seed_mod)
              .withColumn("is_seed", F.lit(1)), "entity_id", "left")
        .select("entity_id", F.coalesce("is_seed", F.lit(0)).alias("is_seed"))
        .localCheckpoint(eager=False)
    )
    se = simple_edges(edges)
    out_deg = se.groupBy("src_id").agg(F.count(F.lit(1)).alias("out_deg"))
    linked = (
        se.join(out_deg, "src_id")
        .repartition("src_id")
        .localCheckpoint(eager=False)
    )
    base = (15 * scale) // _DAMP_DEN
    ranks = ids.select(
        "entity_id", "is_seed",
        (F.col("is_seed") * scale).cast("long").alias("rank"))
    for i in range(iters):
        contrib = (
            linked.join(ranks.withColumnRenamed("entity_id", "src_id")
                        .select("src_id", "rank"), "src_id")
            .select("dst_id", F.expr("rank DIV out_deg").alias("share"))
            .groupBy("dst_id")
            .agg(F.sum("share").alias("in_sum"))
        )
        ranks = (
            ids.join(contrib.withColumnRenamed("dst_id", "entity_id"),
                     "entity_id", "left")
            .select(
                "entity_id", "is_seed",
                (F.col("is_seed") * base
                 + F.expr(f"({_DAMP_NUM} * coalesce(in_sum, 0L)) DIV {_DAMP_DEN}")
                 ).cast("long").alias("rank"),
            )
        )
        if (i + 1) % PAGERANK_CKPT_EVERY == 0 and (i + 1) < iters:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("entity_id", "rank")


def undirected_edges(edges: DataFrame) -> DataFrame:
    """Simple undirected graph: distinct {a, b} with a < b."""
    return (
        edges.where(F.col("src_id") != F.col("dst_id"))
        .select(
            F.least("src_id", "dst_id").alias("a"),
            F.greatest("src_id", "dst_id").alias("b"),
        )
        .distinct()
    )


def triangle_counts(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Per-entity triangle participation -> (entity_id, deg, n_tri).

    deg = undirected simple degree; n_tri = number of triangles the
    node is a corner of (each triangle increments all three corners).
    Nodes with no edges report (0, 0).
    """
    # und / deg / ori each feed 3 plan branches; without lineage pins
    # every branch re-derives the whole upstream edge build (the plan
    # audit showed 74 exchanges / 68 Python stages before these).
    und = undirected_edges(edges).localCheckpoint(eager=False)
    deg = (
        und.select(F.col("a").alias("entity_id"))
        .unionAll(und.select(F.col("b").alias("entity_id")))
        .groupBy("entity_id")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=False)
    )
    # degree orientation: from the smaller (deg, id) endpoint to the
    # larger. deg is node-sized -> AQE broadcasts both attach joins.
    da = deg.select(F.col("entity_id").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("entity_id").alias("b"), F.col("deg").alias("deg_b"))
    fwd = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    ori = (
        und.join(da, "a").join(db, "b")
        .select(
            F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("lo"),
            F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("hi"),
        )
        .localCheckpoint(eager=False)
    )
    e1 = ori.select(F.col("lo").alias("x"), F.col("hi").alias("y"))
    e2 = ori.select(F.col("lo").alias("y"), F.col("hi").alias("z"))
    e3 = ori.select(F.col("lo").alias("x"), F.col("hi").alias("z"))
    tris = e1.join(e2, "y").join(e3, ["x", "z"])
    per_node = (
        tris.select(F.explode(F.array("x", "y", "z")).alias("entity_id"))
        .groupBy("entity_id")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return (
        nodes.select("entity_id")
        .join(deg, "entity_id", "left")
        .join(per_node, "entity_id", "left")
        .select(
            "entity_id",
            F.coalesce("deg", F.lit(0)).cast("long").alias("deg"),
            F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_tri"),
        )
    )


def relation_weights(edges: DataFrame) -> DataFrame:
    """Weighted relation edges for the graph-materialize sink:
    (src_id, dst_id, pred) with mention count and distinct-conversation
    support — one partial-aggregated groupBy, the canonical 'edge
    weights' table a downstream KG consumer reads instead of the
    occurrence-scale provenance edges."""
    return edges.groupBy("src_id", "dst_id", "pred").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.countDistinct("conv_id").alias("n_convs"),
    )


def temporal_relations(edges: DataFrame, transcripts: DataFrame) -> DataFrame:
    """Temporal KG edges: per canonical relation (src_id, dst_id, pred)
    the mention count, distinct-conversation support, and the VALIDITY
    INTERVAL [first_us, last_us] (epoch microseconds) over which the
    relation was observed — the standard temporal-KG materialization a
    downstream consumer needs for time-sliced queries ("what did we
    know by T?") and for recency-weighted ranking.

    Scale shape: provenance edges already carry (conv_id, turn_idx);
    ts is functionally dependent on that key, so one equi-join against
    the turn-timestamp projection (two-column slice of the transcripts
    scan — column pruning reaches the parquet reader) followed by one
    partial-aggregated groupBy. No window, no skew axis beyond the
    relation key itself (same as relation_weights). Epoch-micros
    integers instead of timestamps keep the output engine-portable."""
    ts = transcripts.select(
        "conv_id", "turn_idx", F.unix_micros("ts").alias("ts_us"))
    return (
        edges.join(ts, ["conv_id", "turn_idx"])
        .groupBy("src_id", "dst_id", "pred")
        .agg(
            F.count(F.lit(1)).alias("n_mentions"),
            F.countDistinct("conv_id").alias("n_convs"),
            F.min("ts_us").alias("first_us"),
            F.max("ts_us").alias("last_us"),
        )
    )


COMENTION_CAP = 64      # max entities per conversation entering the pair join


def comention_pairs(edges: DataFrame, cap: int = COMENTION_CAP) -> DataFrame:
    """Entity co-mention graph: undirected pairs (a < b) of canonical
    entities mentioned in the SAME conversation, weighted by
    conversation support — the relation-free association signal KG
    consumers use for entity relatedness / embedding training.

    Scale shape: the per-conversation entity set is deduped FIRST
    (one shuffle), so the self-join fan-out is E_conv², with E_conv
    bounded by ``cap`` (deterministic keep-lowest-entity_id rule, the
    same hot-key philosophy as linking.py's MAX_BLOCK): a pathological
    conversation mentioning 10^4 entities would otherwise emit 10^8
    pairs all by itself. Dropped-entity observability comes free — the
    rank column is computed before the filter, so callers can count
    rank > cap. The pair aggregation is partial (map-side combine on
    the (a, b) key)."""
    ents = (
        edges.select("conv_id", F.col("src_id").alias("e"))
        .unionAll(edges.select("conv_id", F.col("dst_id").alias("e")))
        .distinct()
    )
    w = Window.partitionBy("conv_id").orderBy("e")
    capped = (ents.withColumn("r", F.row_number().over(w))
              .where(F.col("r") <= cap).drop("r")
              .localCheckpoint(eager=False))   # self-join: don't recompute per side
    l = capped.select("conv_id", F.col("e").alias("a"))
    r = capped.select("conv_id", F.col("e").alias("b"))
    return (
        l.join(r, "conv_id")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_convs"))
    )


NJ_CAP = 64             # max neighbors per pivot entering the pair join
# Minimum shared neighbors for a pair to be emitted. 1 keeps every
# co-neighbor pair — output stays linear in nodes because the pivot
# cap bounds emission to cap^2 per pivot; corpus-scale deployments
# raise this to keep only strongly-supported structural pairs.
NJ_MIN_COMMON = 1


def neighbor_jaccard(edges: DataFrame, cap: int = NJ_CAP,
                     min_common: int = NJ_MIN_COMMON) -> DataFrame:
    """Structural entity similarity: undirected node pairs scored by
    the Jaccard of their neighbor sets — the classic link-prediction /
    duplicate-entity signal (two nodes that connect to the same things
    are likely the same thing, or interchangeable). Complements
    comention_pairs (co-occurrence) with pure graph structure.

    n_common is counted through shared PIVOT neighbors (a common
    neighbor v contributes the (a, b) pair once), so it equals
    |N(a) ∩ N(b)| exactly while no pivot exceeds ``cap`` neighbors;
    a hub pivot contributes only its ``cap`` lowest-id neighbors
    (deterministic, same hot-key philosophy as linking.py MAX_BLOCK and
    COMENTION_CAP — an uncapped 10^5-degree hub would emit 10^10 pairs
    by itself). jaccard_ppm = n_common / (deg_a + deg_b - n_common) in
    exact round-half-up integer ppm — no float division to drift
    between engines.

    Scale shape: one shuffle to dedupe the undirected edge, a node-
    sized degree aggregate (AQE broadcasts both attach joins), a
    per-pivot window bounded by ``cap``, and a partial-aggregated
    (a, b) count. ``min_common`` keeps the output to genuinely
    structural pairs."""
    und = undirected_edges(edges).localCheckpoint(eager=False)
    adj = und.select(F.col("a").alias("v"), F.col("b").alias("n")).unionAll(
        und.select(F.col("b").alias("v"), F.col("a").alias("n")))
    adj = adj.localCheckpoint(eager=False)  # feeds deg + both join sides
    deg = adj.groupBy("v").agg(F.count(F.lit(1)).alias("deg"))
    w = Window.partitionBy("v").orderBy("n")
    capped = (adj.withColumn("r", F.row_number().over(w))
              .where(F.col("r") <= cap).drop("r")
              .localCheckpoint(eager=False))  # self-join: one lineage
    l = capped.select("v", F.col("n").alias("a"))
    r = capped.select("v", F.col("n").alias("b"))
    inter = (
        l.join(r, "v")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .where(F.col("n_common") >= min_common)
    )
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("deg_b"))
    return (
        inter.join(da, "a").join(db, "b")
        .select(
            "a", "b", "n_common", "deg_a", "deg_b",
            F.expr(
                "(2 * n_common * 1000000 + (deg_a + deg_b - n_common))"
                " DIV (2 * (deg_a + deg_b - n_common))"
            ).alias("jaccard_ppm"),
        )
    )


RA_MIN_COMMON = 1       # one RARE shared neighbor is already signal
                        # (that's RA's point); raise to shrink output


def resource_allocation(edges: DataFrame, cap: int = NJ_CAP,
                        min_common: int = RA_MIN_COMMON) -> DataFrame:
    """Resource-allocation link prediction -> (a, b, n_common, ra_ppm):
    NON-adjacent node pairs scored by the RA index (Zhou, Lu, Zhang,
    EPJ B 2009), RA(a,b) = sum over shared neighbors z of 1/deg(z) —
    the strongest of the classic local link-prediction indices because
    a promiscuous hub pivot contributes almost nothing while a rare
    shared neighbor contributes a lot. Complements neighbor_jaccard
    (which scores ALL structural pairs symmetrically): this one
    anti-joins the existing edge set, so every output row is a
    predicted MISSING edge, ranked by ra_ppm.

    Engine-portable scoring: each pivot contributes
    floor(1_000_000 / deg(z)) and the pair score is the BIGINT sum of
    those per-pivot integers — no float division to drift between
    engines. deg(z) is the pivot's TRUE degree (uncapped); ``cap``
    only bounds pair emission per pivot (lowest-id neighbors kept,
    deterministic — same hot-key rule as neighbor_jaccard, without
    which one 10^5-degree hub emits 10^10 candidate pairs).

    Scale shape: one shuffle to dedupe the undirected edge, a
    node-sized degree aggregate attached to the capped adjacency
    (AQE broadcasts it), a per-pivot window bounded by ``cap``, a
    partial-aggregated (a, b) sum, and a left-anti join against the
    edge set (shuffle bounded by the candidate pairs)."""
    und = undirected_edges(edges).localCheckpoint(eager=False)
    adj = und.select(F.col("a").alias("v"), F.col("b").alias("n")).unionAll(
        und.select(F.col("b").alias("v"), F.col("a").alias("n")))
    adj = adj.localCheckpoint(eager=False)  # feeds deg + capped
    deg = adj.groupBy("v").agg(F.count(F.lit(1)).alias("deg"))
    w = Window.partitionBy("v").orderBy("n")
    capped = (adj.withColumn("r", F.row_number().over(w))
              .where(F.col("r") <= cap).drop("r")
              .join(deg, "v")
              .withColumn("w_ppm", F.expr("1000000 DIV deg"))
              .drop("deg")
              .localCheckpoint(eager=False))  # self-join: one lineage
    l = capped.select("v", F.col("n").alias("a"), "w_ppm")
    r = capped.select("v", F.col("n").alias("b"))
    scored = (
        l.join(r, "v")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"),
             F.sum("w_ppm").alias("ra_ppm"))
        .where(F.col("n_common") >= min_common)
    )
    return scored.join(und, ["a", "b"], "left_anti")


NEG_BUCKETS = 64        # hash-ring granularity for corruption picks
NEG_PER_POS = 2         # negatives emitted per positive triple
NEG_SALT = "neg-v1"


def negative_samples(nodes: DataFrame, edges: DataFrame,
                     n_buckets: int = NEG_BUCKETS,
                     per_pos: int = NEG_PER_POS) -> DataFrame:
    """Deterministic tail-corruption negative sampling for KG-embedding
    training data: each distinct positive (src, pred, dst) emits up to
    ``per_pos`` corrupted rows (src, pred, dst, neg_dst, neg_idx) where
    neg_dst is a pseudo-random entity chosen WITHOUT RNG state —
    md5(edge, neg_idx) picks one of ``n_buckets`` hash buckets and the
    bucket's minimum entity_id is the sample (consistent-hashing-style
    pick). Collisions with the true dst or the src are dropped, so the
    negatives are guaranteed false under the closed-world assumption
    used by every KGE trainer.

    Scale shape: the bucket→representative table is ``n_buckets`` rows
    (one partial-aggregated groupBy over nodes, then a BROADCAST join
    onto the positives) — no global entity rank, no shuffle of the
    positives at all, deterministic at any parallelism. Raise
    n_buckets for sample diversity; the table stays broadcast-sized
    up to millions of buckets."""
    from openie_spark.functions.hashing import md5h60

    reps = (
        nodes.select("entity_id")
        .withColumn(
            "bucket",
            md5h60(F.concat(F.lit(f"{NEG_SALT}e#"), F.col("entity_id"))) % n_buckets)
        .groupBy("bucket").agg(F.min("entity_id").alias("neg_dst"))
    )
    pos = (
        edges.select("src_id", "pred", "dst_id").distinct()
        .withColumn("neg_idx", F.explode(F.array(
            *[F.lit(j) for j in range(per_pos)])))
        .withColumn(
            "bucket",
            md5h60(F.concat(
                F.lit(f"{NEG_SALT}#"), F.col("neg_idx").cast("string"),
                F.lit("#"), F.col("src_id"), F.lit("#"), F.col("pred"),
                F.lit("#"), F.col("dst_id"))) % n_buckets)
    )
    return (
        pos.join(F.broadcast(reps), "bucket")
        .where((F.col("neg_dst") != F.col("dst_id"))
               & (F.col("neg_dst") != F.col("src_id")))
        .select("src_id", "pred", "dst_id", "neg_dst",
                F.col("neg_idx").cast("int").alias("neg_idx"))
    )


def export_ntriples(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Serialize the canonical graph as N-Triples lines — the
    interchange sink that makes the materialized KG loadable by any
    RDF store. One line per node label plus one per distinct
    (src, pred, dst) relation:

        <urn:kg:ent:ID> <urn:kg:label> "canonical" .
        <urn:kg:ent:SRC> <urn:kg:rel:pred_words> <urn:kg:ent:DST> .

    Canonical strings and predicates are already normalized to
    [a-z0-9 ] / lexicon words by the mention/extraction stages, so the
    N-Triples escaping reduces to the space→'_' predicate-IRI mangle
    (asserted upstream; no general escaper pretends to run here).

    Scale shape: map-only string projection over the nodes table plus
    one distinct() on the relation key (the only shuffle) — the export
    is embarrassingly parallel and writes straight to a text sink."""
    node_lines = nodes.select(
        F.concat(
            F.lit("<urn:kg:ent:"), F.col("entity_id"),
            F.lit("> <urn:kg:label> \""), F.col("canonical"),
            F.lit("\" ."),
        ).alias("nt"))
    rel_lines = (
        edges.select("src_id", "dst_id", "pred").distinct()
        .select(F.concat(
            F.lit("<urn:kg:ent:"), F.col("src_id"),
            F.lit("> <urn:kg:rel:"),
            F.regexp_replace("pred", " ", "_"),
            F.lit("> <urn:kg:ent:"), F.col("dst_id"),
            F.lit("> ."),
        ).alias("nt"))
    )
    return node_lines.unionAll(rel_lines)


MP_CAP = 32     # max in-edges / out-edges per middle node in the join
MP_TOP = 50     # metapath patterns reported


def metapath_counts(nodes: DataFrame, edges: DataFrame,
                    cap: int = MP_CAP, k: int = MP_TOP) -> DataFrame:
    """Typed 2-hop metapath statistics — the schema-level path
    inventory KG-embedding and query-planning consumers read:
    (src_type, rel1, mid_type, rel2, dst_type, n_paths) for the top-k
    patterns by distinct-path count. Relations are lemma-canonical
    (enrich.canon_relation_col); the path base is the DISTINCT
    relation table (one row per (src, pred, dst)), not occurrence
    edges, so counts are structural.

    Scale shape: the distinct() shuffle, one broadcast of the tiny
    canon-pred table, node-sized type attaches, and a mid-node
    equi-join whose fan-out is bounded by cap² per middle node — a hub
    contributes only its ``cap`` lowest-(neighbor, rel) in- and
    out-edges (deterministic, the MAX_BLOCK philosophy). Self-loop
    edges are dropped; round-trip paths (src == dst) are kept. The
    final top-k is TakeOrderedAndProject with a full-column tie
    order."""
    from openie_spark.kg.enrich import canon_relation_col

    rkey = (edges.select("pred").distinct()
            .withColumn("rel", canon_relation_col(F.col("pred"))))
    rel = (
        edges.select("src_id", "dst_id", "pred").distinct()
        .where(F.col("src_id") != F.col("dst_id"))
        .join(F.broadcast(rkey), "pred")
        .select("src_id", "dst_id", "rel")
        .localCheckpoint(eager=False)   # feeds both cap windows
    )
    types = nodes.select("entity_id", "etype") if "etype" in nodes.columns \
        else _typed(nodes)
    w_in = Window.partitionBy("dst_id").orderBy("src_id", "rel")
    w_out = Window.partitionBy("src_id").orderBy("dst_id", "rel")
    inc = (rel.withColumn("r", F.row_number().over(w_in))
           .where(F.col("r") <= cap)
           .select(F.col("src_id").alias("a"), F.col("rel").alias("rel1"),
                   F.col("dst_id").alias("m")))
    out = (rel.withColumn("r", F.row_number().over(w_out))
           .where(F.col("r") <= cap)
           .select(F.col("src_id").alias("m"), F.col("rel").alias("rel2"),
                   F.col("dst_id").alias("b")))
    paths = inc.join(out, "m")
    t = lambda key, alias: types.select(
        F.col("entity_id").alias(key), F.col("etype").alias(alias))
    typed = (paths.join(t("a", "src_type"), "a")
             .join(t("m", "mid_type"), "m")
             .join(t("b", "dst_type"), "b"))
    return (
        typed.groupBy("src_type", "rel1", "mid_type", "rel2", "dst_type")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.desc("n_paths"), "src_type", "rel1", "mid_type",
                 "rel2", "dst_type")
        .limit(k)
    )


def _typed(nodes: DataFrame) -> DataFrame:
    from openie_spark.kg.enrich import entity_types

    return entity_types(nodes).select("entity_id", "etype")


def export_graphml(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Serialize the canonical graph as GraphML fragments — the second
    interchange sink (Gephi/NetworkX/igraph load it directly). One row
    per XML line with an explicit sort key so any consumer can
    reassemble the document by ``ORDER BY part, line``:

        part 0: header + key declarations (driver-side constants)
        part 1: <node id="..."><data key="label">...</data></node>
        part 2: <edge source=".." target=".."><data key="pred">..</data></edge>
        part 3: footer

    Labels/predicates are already normalized to [a-z0-9 ] upstream, so
    XML escaping is vacuous by construction (same contract as
    export_ntriples' IRI mangle — no general escaper pretends to run).

    Scale shape: map-only projections over nodes plus one distinct()
    on the relation key — identical cost profile to export_ntriples.
    """
    from openie_spark.functions.hashing import md5h60

    spark = nodes.sparkSession
    header = spark.createDataFrame(
        [(0, 0, '<?xml version="1.0" encoding="UTF-8"?>'),
         (0, 1, '<graphml xmlns="http://graphml.graphdrawing.org/xmlns">'),
         (0, 2, '<key id="label" for="node" attr.name="label" attr.type="string"/>'),
         (0, 3, '<key id="pred" for="edge" attr.name="pred" attr.type="string"/>'),
         (0, 4, '<graph id="kg" edgedefault="directed">')],
        "part int, line long, xml string")
    footer = spark.createDataFrame(
        [(3, 0, "</graph>"), (3, 1, "</graphml>")],
        "part int, line long, xml string")
    node_lines = nodes.select(
        F.lit(1).alias("part"),
        md5h60(F.col("entity_id")).alias("line"),
        F.concat(
            F.lit('<node id="'), F.col("entity_id"),
            F.lit('"><data key="label">'), F.col("canonical"),
            F.lit("</data></node>"),
        ).alias("xml"))
    edge_lines = (
        edges.select("src_id", "dst_id", "pred").distinct()
        .select(
            F.lit(2).alias("part"),
            md5h60(F.concat_ws("|", "src_id", "pred", "dst_id")).alias("line"),
            F.concat(
                F.lit('<edge source="'), F.col("src_id"),
                F.lit('" target="'), F.col("dst_id"),
                F.lit('"><data key="pred">'), F.col("pred"),
                F.lit("</data></edge>"),
            ).alias("xml"))
    )
    return header.unionAll(node_lines).unionAll(edge_lines).unionAll(footer)


KHOP_K = 3
KHOP_SEED_MOD = 40          # ~2.5% of entities are seeds
KHOP_SALT = "khop-v1"


def community_stats(nodes: DataFrame, edges: DataFrame,
                    iters: int | None = None) -> DataFrame:
    """Community quality rollup over the LPA labeling ->
    (community, n_members, intra_edges, cut_edges, degree_sum,
     intra_ppm): per community its size, the undirected simple edges
    inside it vs leaving it, the member degree mass, and the
    round-half-up ppm share of incident edges that stay internal —
    the per-community summands of modularity, kept as exact integers
    (global float modularity would not hash across engines; a
    consumer can form it from these columns at whatever precision it
    wants).

    Scale shape: label the undirected edge list with two node-sized
    joins (AQE broadcasts/skew-splits), then two partial-agg rollups.
    intra_ppm = intra / (intra + cut) — incident-edge share, 1e6 for
    an isolated clique, 0 for a fully-frayed label.
    """
    if iters is None:
        iters = LPA_ITERS       # defined below (module evaluates top-down)
    lab = label_prop_communities(nodes, edges, iters).localCheckpoint(eager=False)
    und = undirected_edges(edges)
    labeled = (
        und.join(lab.select(F.col("entity_id").alias("a"),
                            F.col("community").alias("ca")), "a")
        .join(lab.select(F.col("entity_id").alias("b"),
                         F.col("community").alias("cb")), "b")
        .localCheckpoint(eager=False)    # feeds intra + two cut scans
    )
    intra = (
        labeled.where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count(F.lit(1)).alias("intra_edges"))
    )
    cut = (
        labeled.where(F.col("ca") != F.col("cb"))
        .select(F.col("ca").alias("community"))
        .unionAll(labeled.where(F.col("ca") != F.col("cb"))
                  .select(F.col("cb").alias("community")))
        .groupBy("community").agg(F.count(F.lit(1)).alias("cut_edges"))
    )
    deg = (
        und.select(F.col("a").alias("entity_id"))
        .unionAll(und.select(F.col("b").alias("entity_id")))
        .groupBy("entity_id").agg(F.count(F.lit(1)).alias("deg"))
    )
    members = (
        lab.join(deg, "entity_id", "left")
        .groupBy("community")
        .agg(F.count(F.lit(1)).alias("n_members"),
             F.sum(F.coalesce("deg", F.lit(0))).alias("degree_sum"))
    )
    return (
        members.join(intra, "community", "left")
        .join(cut, "community", "left")
        .select(
            "community", "n_members",
            F.coalesce("intra_edges", F.lit(0)).alias("intra_edges"),
            F.coalesce("cut_edges", F.lit(0)).alias("cut_edges"),
            "degree_sum",
        )
        .withColumn(
            "intra_ppm",
            F.expr("CASE WHEN intra_edges + cut_edges > 0 THEN "
                   "(2 * intra_edges * 1000000 + (intra_edges + cut_edges))"
                   " DIV (2 * (intra_edges + cut_edges)) ELSE 0 END"))
    )


def graph_integrity(nodes: DataFrame, edges: DataFrame,
                    display: DataFrame) -> DataFrame:
    """Referential-integrity audit -> (metric string, value long), the
    complement of graph_summary's size metrics: counts that must be
    ZERO on a healthy materialization, so a publish gate can assert
    on them before a broken KG reaches consumers.

      dangling_src / dangling_dst — provenance edges whose endpoint is
        missing from the nodes table (a partial stage rewrite);
      dup_entity_ids — entity_id appearing twice in nodes (hash
        collision or a double write);
      self_loops — src == dst provenance edges (upstream extraction
        artifacts; simple-graph consumers drop them, the audit counts
        them);
      empty_display / dangling_display — display rows with an empty
        name or pointing at a missing entity.

    Scale shape: three left-anti joins + three filters, every one a
    partial-aggregated count over id-width projections; the union of
    six 1-row aggregates is driver-trivial.
    """
    ids = nodes.select("entity_id").localCheckpoint(eager=False)

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("v")).select(
            F.lit(name).alias("metric"),
            F.coalesce(F.col("v"), F.lit(0)).cast("long").alias("value"))

    parts = [
        one("dangling_src", edges.select(F.col("src_id").alias("entity_id"))
            .join(ids, "entity_id", "left_anti")),
        one("dangling_dst", edges.select(F.col("dst_id").alias("entity_id"))
            .join(ids, "entity_id", "left_anti")),
        one("dup_entity_ids", nodes.groupBy("entity_id")
            .agg(F.count(F.lit(1)).alias("c")).where(F.col("c") > 1)),
        one("self_loops", edges.where(F.col("src_id") == F.col("dst_id"))),
        one("empty_display", display.where(
            F.col("display").isNull() | (F.trim("display") == ""))),
        one("dangling_display", display.select("entity_id")
            .join(ids, "entity_id", "left_anti")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def seed_entities(nodes: DataFrame, seed_mod: int = KHOP_SEED_MOD) -> DataFrame:
    """Deterministic md5-ticket seed slice of the entity set (the
    engine-portable stand-in for a user-supplied seed list)."""
    from openie_spark.functions.hashing import md5h60

    return nodes.select("entity_id").where(
        md5h60(F.concat(F.lit(f"{KHOP_SALT}#"), F.col("entity_id")))
        % seed_mod == 0)


def khop_distances(nodes: DataFrame, edges: DataFrame,
                   k: int = KHOP_K,
                   seed_mod: int = KHOP_SEED_MOD,
                   ball: DataFrame | None = None) -> DataFrame:
    """(entity_id, dist): minimum hop distance (0..k) from the seed
    set over the UNDIRECTED simple entity graph; entities farther than
    k hops are absent. Min-distance is set-deterministic, so the
    unrolled-CTE DuckDB oracle matches bit-for-bit.

    BFS as k rounds of frontier-equi-join + left-anti against the
    settled set — the canonical distributed BFS: per round ONE shuffle
    join on entity hash (frontier x adjacency) + one anti join;
    frontier and settled tables are id-only and localCheckpointed so
    round j's plan never re-derives rounds < j. Power-law hubs fan a
    frontier out, never a driver loop — AQE splits skewed frontier
    partitions like any other join.

    Pass a precomputed ``ball`` (seed_ball_distances' labeled
    (src, entity_id, dist) table, default k/seed_mod) to skip the BFS
    entirely: the seed-SET distance is exactly min over sources of the
    per-source distance, so when harmonic centrality has already paid
    for the labeled BFS this collapses to ONE partial-agg groupBy —
    the warehouse memo pattern shared with kg_harmonic.
    """
    if ball is not None:
        return (_seed_ball(nodes, edges, k, seed_mod, ball)
                .groupBy("entity_id").agg(F.min("dist").alias("dist")))
    und = undirected_edges(edges)
    sym = und.unionAll(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=False)
    dist = (
        seed_entities(nodes, seed_mod)
        .select("entity_id", F.lit(0).alias("dist"))
        .localCheckpoint(eager=False)
    )
    frontier = dist.select("entity_id")
    for level in range(1, k + 1):
        nxt = (
            frontier.join(sym, frontier.entity_id == sym.a)
            .select(F.col("b").alias("entity_id"))
            .distinct()
            .join(dist.select("entity_id"), "entity_id", "left_anti")
            .select("entity_id", F.lit(level).alias("dist"))
            .localCheckpoint(eager=False)    # feeds union AND next frontier
        )
        dist = dist.unionAll(nxt).localCheckpoint(eager=False)
        frontier = nxt.select("entity_id")
    return dist


def seed_ball_distances(nodes: DataFrame, edges: DataFrame,
                        k: int = KHOP_K,
                        seed_mod: int = KHOP_SEED_MOD) -> DataFrame:
    """Source-labeled truncated BFS -> (src, entity_id, dist in 0..k):
    per-seed hop distances over the UNDIRECTED simple entity graph for
    the md5-ticket seed slice — the shared upstream of BOTH harmonic
    centrality (per-src rollup) and khop (min over src == seed-set
    distance), so one memoized pass serves the pair.

    Scale shape: per round ONE (src, node)-keyed frontier equi-join +
    anti-join against the settled set; state is bounded by
    |seed slice| x ball size, the knob a production run sets via
    seed_mod. localCheckpoints keep round j's plan from re-deriving
    rounds < j."""
    und = undirected_edges(edges)
    sym = und.unionAll(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=False)
    dist = (
        seed_entities(nodes, seed_mod)
        .select(F.col("entity_id").alias("src"), "entity_id",
                F.lit(0).alias("dist"))
        .localCheckpoint(eager=False)
    )
    frontier = dist.select("src", "entity_id")
    for level in range(1, k + 1):
        nxt = (
            frontier.join(sym, frontier.entity_id == sym.a)
            .select("src", F.col("b").alias("entity_id"))
            .distinct()
            .join(dist.select("src", "entity_id"),
                  ["src", "entity_id"], "left_anti")
            .select("src", "entity_id", F.lit(level).alias("dist"))
            .localCheckpoint(eager=False)    # feeds union AND next frontier
        )
        dist = dist.unionAll(nxt).localCheckpoint(eager=False)
        frontier = nxt.select("src", "entity_id")
    return dist


def _seed_ball(nodes: DataFrame, edges: DataFrame, k: int, seed_mod: int,
               ball: DataFrame | None) -> DataFrame:
    """The labeled BFS for (k, seed_mod), or the precomputed ``ball``.
    A ball was built with the default k and seed_mod, so passing other
    values with it is an error rather than silently ignored."""
    if ball is None:
        return seed_ball_distances(nodes, edges, k, seed_mod)
    if (k, seed_mod) != (KHOP_K, KHOP_SEED_MOD):
        raise ValueError(
            f"a precomputed ball has k={KHOP_K}, seed_mod={KHOP_SEED_MOD}; "
            f"got k={k}, seed_mod={seed_mod}")
    return ball


def harmonic_centrality(nodes: DataFrame, edges: DataFrame,
                        k: int = KHOP_K,
                        seed_mod: int = KHOP_SEED_MOD,
                        ball: DataFrame | None = None) -> DataFrame:
    """Truncated harmonic centrality (Boldi & Vigna 2014) for the
    md5-ticket seed slice -> (entity_id, n_reached, harmonic_ppm):
    per-seed sum of round-half-up(1e6 / d) over every node within k
    undirected hops (d >= 1) — the standard sampled-sources protocol
    for centrality at scale (exact per sampled source, sources chosen
    deterministically). Isolated seeds reach nothing and are absent,
    like khop's ball semantics. Exact integers end to end, so the
    unrolled DuckDB twin matches bit-for-bit.

    Scale shape: seed_ball_distances (the labeled BFS — see there) +
    ONE partial-agg groupBy(src) rollup. Pass a precomputed ``ball``
    to reuse a memoized labeled-BFS table (shared with khop)."""
    dist = _seed_ball(nodes, edges, k, seed_mod, ball)
    return (
        dist.where(F.col("dist") > 0)
        .groupBy("src")
        .agg(
            F.count(F.lit(1)).alias("n_reached"),
            F.sum(F.expr("(2 * 1000000 + dist) DIV (2 * dist)"))
            .alias("harmonic_ppm"),
        )
        .select(F.col("src").alias("entity_id"), "n_reached", "harmonic_ppm")
    )


def seed_pair_distances(nodes: DataFrame, edges: DataFrame,
                        k: int = KHOP_K,
                        seed_mod: int = KHOP_SEED_MOD,
                        ball: DataFrame | None = None) -> DataFrame:
    """Seed-to-seed distance matrix -> (src, dst, dist in 1..k): hop
    distance between every ORDERED pair of distinct seed entities
    whose balls touch — the landmark-distance table (Thorup & Zwick
    style landmark sketches use exactly this: exact distances among a
    deterministic sample of sources) that downstream estimators and
    graph-health dashboards read ("are the sampled hubs getting closer
    as the KG densifies?"). Pairs farther than k hops are absent, like
    khop's ball semantics; dist is symmetric because the graph is
    undirected, and both orientations are emitted (matrix contract).

    Scale shape: the third consumer of the memoized labeled-BFS ball —
    and because seed membership is a PURE md5-ticket predicate, the
    seed restriction is a map-only FILTER on the ball's entity_id
    column (no join at all; every reached entity is in nodes by
    construction); no BFS of its own when ``ball`` is passed."""
    from openie_spark.functions.hashing import md5h60

    dist = _seed_ball(nodes, edges, k, seed_mod, ball)
    return (
        dist.where(F.col("dist") > 0)
        .where(md5h60(F.concat(F.lit(f"{KHOP_SALT}#"), F.col("entity_id")))
               % seed_mod == 0)
        .select("src", F.col("entity_id").alias("dst"), "dist")
    )


def entity_timeline(edges: DataFrame, transcripts: DataFrame) -> DataFrame:
    """Per-entity activity timeline -> (entity_id, n_mentions, n_convs,
    first_us, last_us, active_days): when each canonical entity was
    observed, at what provenance volume, and on how many distinct
    (UTC) days — the entity-level complement of temporal_relations
    (relation-level validity intervals). Drives recency ranking,
    stale-entity expiry, and burst detection in a continuously-fed KG.

    Scale shape: one equi-join of the provenance edges against the
    turn-timestamp projection (column pruning reaches the scan), a
    map-side union of the two endpoint projections, one partial-agg
    groupBy on entity_id. Epoch-micros / epoch-day integers only.
    """
    ts = transcripts.select(
        "conv_id", "turn_idx", F.unix_micros("ts").alias("ts_us"))
    e = edges.join(ts, ["conv_id", "turn_idx"])
    both = e.select(
        F.col("src_id").alias("entity_id"), "conv_id", "ts_us"
    ).unionAll(e.select(
        F.col("dst_id").alias("entity_id"), "conv_id", "ts_us"))
    day = (F.col("ts_us") / F.lit(86_400_000_000)).cast("long")
    return both.groupBy("entity_id").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.countDistinct("conv_id").alias("n_convs"),
        F.min("ts_us").alias("first_us"),
        F.max("ts_us").alias("last_us"),
        F.countDistinct(day).alias("active_days"),
    )


def reply_latency(transcripts: DataFrame) -> DataFrame:
    """Per-conversation assistant reply latency ->
    (conv_id, n_replies, min_latency_min, max_latency_min,
     avg_latency_min): a reply is an assistant turn whose immediately
    preceding turn (by turn_idx within the conversation) is a user
    turn; latency is their epoch-minute difference. The agent-ops
    latency rollup a transcript pipeline publishes per batch.

    One conv-window shuffle (lag of role and ts) + one partial-agg
    groupBy; exact integer minutes, avg as integer DIV.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    em = (F.unix_timestamp("ts") / 60).cast("long")
    t = transcripts.select("conv_id", "turn_idx", "role", em.alias("em"))
    r = (
        t.withColumn("prev_role", F.lag("role").over(w))
        .withColumn("prev_em", F.lag("em").over(w))
        .where((F.col("role") == "assistant") & (F.col("prev_role") == "user"))
        .select("conv_id", (F.col("em") - F.col("prev_em")).alias("lat"))
    )
    return r.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_replies"),
        F.min("lat").alias("min_latency_min"),
        F.max("lat").alias("max_latency_min"),
        F.expr("sum(lat) DIV count(1)").alias("avg_latency_min"),
    )


def extraction_yield(transcripts: DataFrame, triples: DataFrame) -> DataFrame:
    """Per-conversation extraction yield audit ->
    (conv_id, n_turns, n_turns_with_triples, n_sents_with_triples,
     n_triples, coverage_ppm, triples_per_turn_ppm): the QA table a
    production extraction run publishes next to its manifests — a
    conversation whose coverage collapses (tool-log noise, truncated
    turns, a model regression on a domain) shows up here before it
    poisons the KG.

    coverage_ppm = turns with >= 1 triple / turns (round-half-up ppm);
    triples_per_turn_ppm is a rate (may exceed 1e6). Exact integer
    arithmetic; two partial-agg groupBys on conv_id + one left join.
    """
    t = transcripts.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"))
    x = triples.groupBy("conv_id").agg(
        F.count_distinct("turn_idx").alias("n_turns_with_triples"),
        F.count_distinct("turn_idx", "sent_idx").alias("n_sents_with_triples"),
        F.count(F.lit(1)).alias("n_triples"),
    )
    return (
        t.join(x, "conv_id", "left")
        .select(
            "conv_id", "n_turns",
            F.coalesce("n_turns_with_triples", F.lit(0)).alias("n_turns_with_triples"),
            F.coalesce("n_sents_with_triples", F.lit(0)).alias("n_sents_with_triples"),
            F.coalesce("n_triples", F.lit(0)).alias("n_triples"),
        )
        .select(
            "*",
            F.expr("(2 * n_turns_with_triples * 1000000 + n_turns) DIV (2 * n_turns)")
            .alias("coverage_ppm"),
            F.expr("(2 * n_triples * 1000000 + n_turns) DIV (2 * n_turns)")
            .alias("triples_per_turn_ppm"),
        )
    )


SPLIT_SALT = "edge-split-v1"
SPLIT_MOD = 10          # tickets 0-7 train, 8 valid, 9 test
SPLIT_VALID = 8
SPLIT_TEST = 9


def edge_split(edges: DataFrame) -> DataFrame:
    """Deterministic train/valid/test split of the distinct relation
    triples for KG-embedding / link-prediction pipelines ->
    (src_id, pred, dst_id, split, eval_ok).

    The split unit is the distinct (src, pred, dst) statement (the
    occurrence-scale provenance duplicates must not straddle splits —
    that is train/test leakage); assignment is an md5 ticket mod 10
    (8/1/1), so it is stable under re-runs, engine-portable, and needs
    no global sort or sampling pass. ``eval_ok`` marks valid/test
    triples whose BOTH endpoints and relation also occur somewhere in
    train — the standard filtered evaluation setting (Bordes et al.
    2013): scoring a triple about an entity the model never trained on
    measures noise, so eval harnesses filter to eval_ok rows. Train
    rows are eval_ok by definition.

    Scale shape: one distinct shuffle on the triple key, then three
    semi-join flags against train-entity / train-relation sets (node-
    and vocab-scale; AQE broadcasts them when small, hash-joins when
    not). No driver-side state.
    """
    from openie_spark.functions.hashing import md5h60

    t = (
        edges.select("src_id", "pred", "dst_id").distinct()
        .withColumn(
            "ticket",
            md5h60(F.concat_ws("|", F.lit(SPLIT_SALT), "src_id",
                               "pred", "dst_id")) % SPLIT_MOD)
        .withColumn(
            "split",
            F.when(F.col("ticket") == SPLIT_TEST, "test")
            .when(F.col("ticket") == SPLIT_VALID, "valid")
            .otherwise("train"))
        .drop("ticket")
        .localCheckpoint(eager=False)    # feeds train sets + final join
    )
    train = t.where(F.col("split") == "train")
    train_ents = (
        train.select(F.col("src_id").alias("eid"))
        .unionAll(train.select(F.col("dst_id").alias("eid")))
        .distinct()
    )
    train_preds = train.select("pred").distinct()
    return (
        t.join(train_ents.withColumnRenamed("eid", "src_id")
               .withColumn("s_ok", F.lit(True)), "src_id", "left")
        .join(train_ents.withColumnRenamed("eid", "dst_id")
              .withColumn("d_ok", F.lit(True)), "dst_id", "left")
        .join(train_preds.withColumn("p_ok", F.lit(True)), "pred", "left")
        .select(
            "src_id", "pred", "dst_id", "split",
            ((F.col("split") == "train")
             | (F.coalesce("s_ok", F.lit(False))
                & F.coalesce("d_ok", F.lit(False))
                & F.coalesce("p_ok", F.lit(False)))).alias("eval_ok"),
        )
    )


LPA_ITERS = 4


def label_prop_communities(nodes: DataFrame, edges: DataFrame,
                           iters: int = LPA_ITERS) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) with a pinned deterministic tie-break ->
    (entity_id, community).

    label_0(v) = entity_id; each round every node adopts the most
    frequent label among its neighbors, ties broken by smallest label
    (ORDER BY count DESC, label ASC — total, so the result is
    set-deterministic and the unrolled-CTE DuckDB oracle matches
    bit-for-bit). Isolated nodes keep their own label. Classic async
    LPA is order-dependent — useless under a correctness hash — so the
    synchronous variant with a fixed round count is the pinned
    semantics, the same determinism trade GraphFrames' LPA makes.

    Scale: per round ONE shuffle — join sym x labels on the neighbor
    id, then partial-aggregated groupBy (node, label) + a node-sized
    window top-1; labels are node-sized and localCheckpointed so round
    j never re-derives rounds < j. Hub fan-out is edge-scale, AQE
    splits skewed label joins like any other; round count is fixed
    (iters), not diameter-bound.
    """
    und = undirected_edges(edges)
    sym = und.unionAll(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=False)
    lab = nodes.select(
        "entity_id", F.col("entity_id").alias("community")
    ).localCheckpoint(eager=False)
    for _ in range(iters):
        # top-1 by (votes DESC, label ASC) as a partial-aggregated
        # min_by over a composite ordering struct — NOT a window over
        # entity_id: a hub with 10^8 neighbors would put 10^8 vote
        # rows in one window partition, while min_by map-side-combines
        top = (
            sym.join(lab, sym.b == lab.entity_id)
            .select(F.col("a").alias("entity_id"),
                    F.col("community").alias("nl"))
            .groupBy("entity_id", "nl")
            .agg(F.count(F.lit(1)).alias("votes"))
            .groupBy("entity_id")
            .agg(F.min_by(
                "nl", F.struct((-F.col("votes")).alias("nv"),
                               F.col("nl").alias("nl"))).alias("new_community"))
        )
        lab = (
            lab.join(top, "entity_id", "left")
            .select(
                "entity_id",
                F.coalesce("new_community", "community").alias("community"),
            )
            .localCheckpoint(eager=False)
        )
    return lab


KCORE_K = 2
KCORE_MAX_ROUNDS = 16


def kcore(nodes: DataFrame, edges: DataFrame, k: int = KCORE_K,
          max_rounds: int = KCORE_MAX_ROUNDS) -> DataFrame:
    """k-core decomposition membership (Seidman 1983, the classic
    peeling algorithm) -> (entity_id, core_degree): the maximal
    subgraph in which every node has degree >= k, with each member's
    residual degree inside that subgraph. The standard graph-cleaning
    pass before embedding/community stages — pendant chains and
    tree fuzz peel away, the dense backbone stays.

    Peeling is a monotone fixpoint: each round drops nodes whose
    degree WITHIN the surviving set is < k, so the member set only
    shrinks and a round that removes nothing is the answer. Rounds
    run lazily with node-sized localCheckpoints; a one-row count per
    round detects convergence, and like connected_components the
    operator fails LOUDLY (RuntimeError) instead of returning a
    silently-unpeeled core if max_rounds is hit — which keeps the
    unrolled-``max_rounds`` DuckDB oracle exact: monotonicity means
    extra unrolled rounds past the fixpoint are no-ops.

    Scale shape per round: two semi-joins of the edge table against
    the (shrinking) member set + one partial-aggregated degree count
    — all keyed on entity ids, never corpus-scale provenance; hub
    rows are just high counts, not window partitions. Round count is
    bounded by the graph's degeneracy ordering depth, tiny on
    power-law graphs (long induced chains are the pathological case,
    and those fail loudly rather than wrongly).
    """
    und = undirected_edges(edges).localCheckpoint(eager=False)
    members = (
        und.select(F.col("a").alias("entity_id"))
        .unionAll(und.select(F.col("b").alias("entity_id")))
        .groupBy("entity_id")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .filter(F.col("core_degree") >= k)
        .localCheckpoint(eager=True)
    )
    n_prev = members.count()
    for _ in range(max_rounds):
        if n_prev == 0:
            return members  # empty core converged trivially
        live = (
            und.join(members.select(F.col("entity_id").alias("a")), "a", "semi")
            .join(members.select(F.col("entity_id").alias("b")), "b", "semi")
        )
        members = (
            live.select(F.col("a").alias("entity_id"))
            .unionAll(live.select(F.col("b").alias("entity_id")))
            .groupBy("entity_id")
            .agg(F.count(F.lit(1)).alias("core_degree"))
            .filter(F.col("core_degree") >= k)
            .localCheckpoint(eager=True)
        )
        n_now = members.count()
        if n_now == n_prev:
            # monotone shrink: equal counts <=> equal sets <=> fixpoint
            return members
        n_prev = n_now
    raise RuntimeError(
        f"kcore: no fixpoint after {max_rounds} peel rounds; raise "
        "max_rounds (the oracle unrolls the same bound)")


def graph_summary(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Graph health metrics -> (metric string, value long), the tidy
    one-table report a pipeline run publishes next to its manifests:
    node/edge counts at each granularity (provenance mentions, simple
    directed, undirected), isolated-entity count, max and total
    degree. All exact integers — hash-comparable across engines.

    Scale shape: und/deg are computed once (checkpointed) and every
    metric is a partial-aggregated count over id-width tables; the
    union of seven 1-row aggregates is driver-trivial."""
    und = undirected_edges(edges).localCheckpoint(eager=False)
    deg = (
        und.select(F.col("a").alias("entity_id"))
        .unionAll(und.select(F.col("b").alias("entity_id")))
        .groupBy("entity_id")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=False)
    )

    def one(name: str, df: DataFrame, expr) -> DataFrame:
        return df.agg(expr.alias("v")).select(
            F.lit(name).alias("metric"),
            F.coalesce(F.col("v"), F.lit(0)).cast("long").alias("value"))

    n = F.count(F.lit(1))
    parts = [
        one("n_nodes", nodes, n),
        one("n_prov_edges", edges, n),
        one("n_simple_edges", simple_edges(edges), n),
        one("n_und_edges", und, n),
        one("n_isolated",
            nodes.select("entity_id").join(deg, "entity_id", "left_anti"), n),
        one("max_degree", deg, F.max("deg")),
        one("sum_degree", deg, F.sum("deg")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def degree_histogram(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Log2-binned degree distribution -> (bin, n_nodes, min_deg,
    max_deg, sum_deg): the standard power-law profile plot of a graph
    (straight line in log-log <=> scale-free), binned by
    bit_length(degree) so bin b covers degrees [2^(b-1), 2^b).
    Isolated entities land in bin 0. The profiling readout that
    decides skew strategy (salting thresholds, hub caps) before a
    big run — and 64 rows no matter the corpus.

    Engine-portable binning: bit length via length(bin(deg)) — the
    same no-floating-log2 trick as the HLL register rank — so the
    DuckDB twin is bit-exact. Scale shape: one degree aggregation
    (partial-agg on entity ids), one left join to include isolated
    nodes, one <=64-group collapse. No windows, no corpus-scale
    anything."""
    und = undirected_edges(edges).localCheckpoint(eager=False)
    deg = (
        und.select(F.col("a").alias("entity_id"))
        .unionAll(und.select(F.col("b").alias("entity_id")))
        .groupBy("entity_id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    full = (
        nodes.select("entity_id")
        .join(deg, "entity_id", "left")
        .select(F.coalesce("deg", F.lit(0)).alias("deg"))
    )
    return (
        full.withColumn(
            "bin",
            F.when(F.col("deg") == 0, F.lit(0))
            .otherwise(F.length(F.bin("deg"))).cast("int"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("deg").alias("min_deg"),
            F.max("deg").alias("max_deg"),
            F.sum("deg").alias("sum_deg"),
        )
    )


WALK_LEN = 4


def hash_walks(nodes: DataFrame, edges: DataFrame,
               length: int = WALK_LEN,
               seed_mod: int = KHOP_SEED_MOD) -> DataFrame:
    """Deterministic hash-driven graph walks -> (seed, step, node):
    the node2vec/DeepWalk-style walk corpus a KG-embedding trainer
    consumes, generated WITHOUT RNG state — at every step the walk at
    ``seed`` moves to the neighbor minimizing
    md5h60(seed || '#' || step || '#' || neighbor) (ties by neighbor
    id, though md5 ties are unreachable in practice). Same md5-ticket
    determinism as the sampling/negative-sampling operators: identical
    output at any parallelism, resumable, and exactly reproducible in
    the DuckDB oracle. Walks start from the khop seed slice, may
    revisit nodes (standard), and stop early at dead ends.

    Scale shape per step: ONE equi-join of the frontier (seed-slice
    sized) against the symmetric edge table on the current node + one
    partial-aggregated min-of-struct per seed — hubs contribute
    candidate rows to a map-side-combining agg, never to a window
    partition. ``length`` shuffles total; frontier localCheckpointed
    between steps.
    """
    from openie_spark.functions.hashing import md5h60

    und = undirected_edges(edges)
    sym = und.unionAll(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=False)
    walk = seed_entities(nodes, seed_mod).select(
        F.col("entity_id").alias("seed"), F.col("entity_id").alias("node"))
    acc = walk.select("seed", F.lit(0).cast("int").alias("step"), "node")
    for step in range(1, length + 1):
        nxt = (
            walk.join(sym, walk.node == sym.a)
            .select(
                "seed",
                F.col("b").alias("cand"),
                md5h60(F.concat_ws("#", "seed", F.lit(step), "b")).alias("h"),
            )
            .groupBy("seed")
            .agg(F.min(F.struct("h", "cand")).alias("m"))
            .select("seed", F.col("m.cand").alias("node"))
            .localCheckpoint(eager=False)
        )
        acc = acc.unionAll(
            nxt.select("seed", F.lit(step).cast("int").alias("step"), "node"))
        walk = nxt
    return acc


WALK_WINDOW = 2


def walk_skipgram_pairs(nodes: DataFrame, edges: DataFrame,
                        length: int = WALK_LEN,
                        window: int = WALK_WINDOW,
                        seed_mod: int = KHOP_SEED_MOD) -> DataFrame:
    """Skip-gram training pairs from the hash-walk corpus ->
    (center, context, n_pairs): for every walk, all (node_i, node_j)
    with 0 < |i - j| <= window, aggregated over walks — exactly the
    (center, context) co-occurrence table word2vec/DeepWalk trains on,
    with n_pairs the exact multiplicity.

    Scale shape: the walk table is (seeds x length)-sized; the pair
    expansion is a self-equi-join ON seed with the step-distance
    filter (each walk contributes <= 2*window*length rows), then one
    partial-aggregated count. No windows, no corpus-scale shuffle
    beyond the walk build itself."""
    walks = hash_walks(nodes, edges, length=length, seed_mod=seed_mod) \
        .localCheckpoint(eager=False)
    a = walks.select("seed", F.col("step").alias("i"),
                     F.col("node").alias("center"))
    b = walks.select("seed", F.col("step").alias("j"),
                     F.col("node").alias("context"))
    return (
        a.join(b, "seed")
        .filter((F.col("i") != F.col("j"))
                & (F.abs(F.col("i") - F.col("j")) <= window))
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


TRUSS_K = 3
TRUSS_MAX_ROUNDS = 12


def _edge_support(und: DataFrame) -> DataFrame:
    """(a, b, support) — per-edge triangle support over an undirected
    simple edge set (a < b): the number of triangles the edge closes.
    Degree-oriented enumeration (see triangle_counts) so hub fan-out
    stays O(sqrt(m)); each oriented triangle x->y->z is mapped back to
    its three UNDIRECTED edges via least/greatest. Only edges in >= 1
    triangle appear."""
    und = und.localCheckpoint(eager=False)
    deg = (
        und.select(F.col("a").alias("entity_id"))
        .unionAll(und.select(F.col("b").alias("entity_id")))
        .groupBy("entity_id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("entity_id").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("entity_id").alias("b"), F.col("deg").alias("deg_b"))
    fwd = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    ori = (
        und.join(da, "a").join(db, "b")
        .select(
            F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("lo"),
            F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("hi"),
        )
        .localCheckpoint(eager=False)  # feeds all three triangle legs
    )
    e1 = ori.select(F.col("lo").alias("x"), F.col("hi").alias("y"))
    e2 = ori.select(F.col("lo").alias("y"), F.col("hi").alias("z"))
    e3 = ori.select(F.col("lo").alias("x"), F.col("hi").alias("z"))
    tris = e1.join(e2, "y").join(e3, ["x", "z"])
    pair = lambda u, v: F.struct(  # noqa: E731 — local shorthand
        F.least(u, v).alias("a"), F.greatest(u, v).alias("b"))
    return (
        tris.select(F.explode(F.array(
            pair("x", "y"), pair("y", "z"), pair("x", "z"))).alias("e"))
        .select("e.a", "e.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("support"))
    )


def truss(nodes: DataFrame, edges: DataFrame, k: int = TRUSS_K,
          max_rounds: int = TRUSS_MAX_ROUNDS) -> DataFrame:
    """k-truss decomposition (Cohen 2008) -> (a, b, support): the
    maximal subgraph in which every EDGE participates in at least k-2
    triangles, with each surviving edge's triangle support inside that
    subgraph. The edge-level strengthening of k-core: cores keep any
    well-connected node, trusses keep only edges embedded in dense
    neighborhoods — the standard backbone/community-seed pass over a
    noisy extraction graph (a spurious triple rarely closes triangles).

    Same monotone-fixpoint contract as kcore: each round recomputes
    per-edge support within the surviving edge set and drops edges
    below k-2; the set only shrinks, a round that removes nothing is
    the answer, and round exhaustion raises a loud RuntimeError so the
    fixed-round-unrolled DuckDB oracle stays exact (extra unrolled
    rounds past the fixpoint are no-ops).

    Scale shape per round: the degree-oriented triangle enumeration
    (hub out-lists O(sqrt(m)), the Suri & Vassilvitskii bound) + one
    partial-aggregated (a, b) support count; every round's support
    table already IS the kept-edge candidate set (a triangle edge is
    by construction an edge), so no re-join against the edge table.
    Rounds are bounded by the truss peel depth, tiny on power-law
    graphs."""
    if k < 3:
        raise ValueError("truss: k must be >= 3 (k=2 keeps every edge)")
    need = k - 2
    live = undirected_edges(edges).localCheckpoint(eager=True)
    n_prev = live.count()
    if n_prev == 0:
        return live.select("a", "b", F.lit(0).cast("long").alias("support"))
    for _ in range(max_rounds):
        kept = (
            _edge_support(live)
            .where(F.col("support") >= need)
            .localCheckpoint(eager=True)
        )
        n_now = kept.count()
        if n_now in (n_prev, 0):
            # monotone shrink: equal counts <=> equal sets <=> fixpoint;
            # support was computed over THAT same set, so it is the
            # in-truss support.
            return kept.select(
                "a", "b", F.col("support").cast("long").alias("support"))
        live = kept.select("a", "b")
        n_prev = n_now
    raise RuntimeError(
        f"truss: no fixpoint after {max_rounds} peel rounds; raise "
        "max_rounds (the oracle unrolls the same bound)")


SALSA_ITERS = 5


def salsa(nodes: DataFrame, edges: DataFrame,
          iters: int = SALSA_ITERS,
          scale: int = PAGERANK_SCALE) -> DataFrame:
    """SALSA hub/authority scores (Lempel & Moran, WWW 2000) ->
    (entity_id, auth, hub) over the simple DIRECTED graph — the
    degree-normalized cousin of HITS: authority mass flows along
    in-edges divided by the source's out-degree, hub mass back along
    out-edges divided by the target's in-degree. Unlike HITS there is
    NO global normalization scalar per iteration (the degree division
    conserves mass up to floor loss), which is exactly what makes an
    integer-exact, partitioning-independent distributed version
    possible — no float norm to drift between engines or cluster
    sizes. Directed complements pagerank: a subject-heavy entity
    scores as hub, an object-heavy one as authority.

        auth_{t+1}(v) = SUM over edges u->v of hub_t(u)   DIV out_deg(u)
        hub_{t+1}(u)  = SUM over edges u->v of auth_{t+1}(v) DIV in_deg(v)

    (Gauss-Seidel order: the hub step reads the FRESH auth — the
    classic HITS/SALSA update order.) Scores are integer mass units
    (PAGERANK_SCALE per node initially); nodes outside the edge set
    report 0. This is our own pinned integer semantics, not an
    approximation of someone else's float run.

    Scale shape: identical to pagerank — the degree-annotated edge
    table is partitioned once and localCheckpointed, each iteration is
    two edge-x-scores equi-joins + two partial-aggregated groupBys +
    node-sized left joins, chained lazily into one fused job. BIGINT
    headroom: total mass n_nodes * SCALE never grows (floor loss only
    shrinks it), same bound as pagerank."""
    ids = nodes.select("entity_id").localCheckpoint(eager=False)
    se = simple_edges(edges)
    out_deg = se.groupBy("src_id").agg(F.count(F.lit(1)).alias("out_deg"))
    in_deg = se.groupBy("dst_id").agg(F.count(F.lit(1)).alias("in_deg"))
    linked = (
        se.join(out_deg, "src_id").join(in_deg, "dst_id")
        .repartition("src_id")
        .localCheckpoint(eager=False)
    )
    hubs = ids.select("entity_id", F.lit(scale).cast("long").alias("hub"))
    auths = ids.select("entity_id", F.lit(scale).cast("long").alias("auth"))
    for i in range(iters):
        a_in = (
            linked.join(hubs.withColumnRenamed("entity_id", "src_id"),
                        "src_id")
            .select("dst_id", F.expr("hub DIV out_deg").alias("share"))
            .groupBy("dst_id")
            .agg(F.sum("share").alias("a_raw"))
        )
        auths = (
            ids.join(a_in.withColumnRenamed("dst_id", "entity_id"),
                     "entity_id", "left")
            .select("entity_id",
                    F.coalesce("a_raw", F.lit(0)).cast("long").alias("auth"))
        )
        h_in = (
            linked.join(auths.withColumnRenamed("entity_id", "dst_id"),
                        "dst_id")
            .select("src_id", F.expr("auth DIV in_deg").alias("share"))
            .groupBy("src_id")
            .agg(F.sum("share").alias("h_raw"))
        )
        hubs = (
            ids.join(h_in.withColumnRenamed("src_id", "entity_id"),
                     "entity_id", "left")
            .select("entity_id",
                    F.coalesce("h_raw", F.lit(0)).cast("long").alias("hub"))
        )
        if (i + 1) % PAGERANK_CKPT_EVERY == 0 and (i + 1) < iters:
            auths = auths.localCheckpoint(eager=False)
            hubs = hubs.localCheckpoint(eager=False)
    return auths.join(hubs, "entity_id").select("entity_id", "auth", "hub")


def clustering_coefficients(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Local clustering coefficient (Watts & Strogatz 1998) ->
    (entity_id, deg, n_tri, cc_ppm): how close each node's
    neighborhood is to a clique, cc = 2*T(v) / (deg(v)*(deg(v)-1)),
    as exact round-down integer ppm — no float division to drift
    between engines. Nodes with deg < 2 report 0 (the conventional
    guard for the undefined denominator).

    Cost is one reuse of triangle_counts' degree-oriented enumeration
    plus a map-only projection; BIGINT headroom: T(v) <= C(deg, 2) so
    2*T*1e6 < 9.2e18 up to deg ~ 2e6 — far past any post-cap hub.
    """
    return triangle_counts(nodes, edges).select(
        "entity_id", "deg", "n_tri",
        F.when(
            F.col("deg") >= 2,
            F.expr("(2 * n_tri * 1000000) DIV (deg * (deg - 1))"),
        ).otherwise(F.lit(0)).cast("long").alias("cc_ppm"),
    )


def relation_cardinality(edges: DataFrame) -> DataFrame:
    """Per-relation cardinality profile (the AMIE functionality
    statistics, Galarraga et al. WWW 2013) -> (pred, n_edges, n_src,
    n_dst, fun_ppm, inv_fun_ppm): over the simple distinct
    (src, dst, pred) statements, how close each relation is to
    functional (one object per subject: fun = n_src / n_edges -> 1e6)
    or inverse-functional (n_dst / n_edges). The ontology-quality
    table rule mining and link-prediction filtering read first — a
    near-functional relation with multi-object subjects is a
    contradiction candidate, a low-functionality one is a property
    tag. Exact round-half-up integer ppm, no floats.

    Scale shape: one distinct shuffle on the statement key, then one
    partial-aggregated groupBy(pred) carrying two count_distincts
    whose per-group state is bounded by the relation's entity reach;
    output is bounded by the relation vocabulary."""
    stmts = (
        edges.where(F.col("src_id") != F.col("dst_id"))
        .select("src_id", "dst_id", "pred")
        .distinct()
    )
    return (
        stmts.groupBy("pred")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.countDistinct("src_id").alias("n_src"),
            F.countDistinct("dst_id").alias("n_dst"),
        )
        .select(
            "pred", "n_edges", "n_src", "n_dst",
            F.expr("(2 * n_src * 1000000 + n_edges) DIV (2 * n_edges)")
            .alias("fun_ppm"),
            F.expr("(2 * n_dst * 1000000 + n_edges) DIV (2 * n_edges)")
            .alias("inv_fun_ppm"),
        )
    )


ASSOC_MIN_CONVS = 2     # pairs below this support are co-mention noise


def assoc_dice(edges: DataFrame, cap: int = COMENTION_CAP,
               min_convs: int = ASSOC_MIN_CONVS) -> DataFrame:
    """Entity association strength -> (a, b, n_convs, n_a, n_b,
    dice_ppm): co-mention pairs scored by the Dice coefficient
    2*n_ab/(n_a + n_b) over conversation support — the entity-level
    collocation table (same exact-integer Dice rationale as
    textstats.collocations: no PMI log, no overflow). High-Dice pairs
    are alias/merge candidates and KGE neighborhood priors; raw
    n_convs alone over-ranks pairs of merely-frequent entities, which
    is exactly what the marginals correct.

    All three counts are computed over the SAME capped per-conv
    entity sets that form the pairs (deterministic keep-lowest-id cap
    per conversation, the comention_pairs hot-key rule), so the
    identity n_ab <= min(n_a, n_b) holds exactly. One extra
    entity-sized aggregate + two AQE-broadcastable attach joins on
    top of comention_pairs' shape."""
    ents = (
        edges.select("conv_id", F.col("src_id").alias("e"))
        .unionAll(edges.select("conv_id", F.col("dst_id").alias("e")))
        .distinct()
    )
    w = Window.partitionBy("conv_id").orderBy("e")
    capped = (ents.withColumn("r", F.row_number().over(w))
              .where(F.col("r") <= cap).drop("r")
              .localCheckpoint(eager=False))   # pairs + both marginals
    marg = capped.groupBy("e").agg(F.count(F.lit(1)).alias("n_e"))
    l = capped.select("conv_id", F.col("e").alias("a"))
    r = capped.select("conv_id", F.col("e").alias("b"))
    pairs = (
        l.join(r, "conv_id")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_convs"))
        .where(F.col("n_convs") >= min_convs)
    )
    ma = marg.select(F.col("e").alias("a"), F.col("n_e").alias("n_a"))
    mb = marg.select(F.col("e").alias("b"), F.col("n_e").alias("n_b"))
    return (
        pairs.join(ma, "a").join(mb, "b")
        .select(
            "a", "b", "n_convs", "n_a", "n_b",
            F.expr("(2 * (2 * n_convs) * 1000000 + (n_a + n_b))"
                   " DIV (2 * (n_a + n_b))").alias("dice_ppm"),
        )
    )


def weighted_pagerank(nodes: DataFrame, pairs: DataFrame,
                      iters: int = PAGERANK_ITERS,
                      scale: int = PAGERANK_SCALE) -> DataFrame:
    """Integer-exact weighted PageRank (Xing & Ghorbani 2004's WPR
    idea in our pinned integer semantics) -> (entity_id, rank) over an
    UNDIRECTED weighted pair table (a, b, w) — built for the
    co-mention graph, where w = conversation support: rank flows along
    both directions of each pair proportionally to edge weight over
    the source's total strength s(u) = SUM of its edge weights.

        share(u->v) = (rank(u) * w_uv) DIV s(u)
        rank'(v)    = (15*SCALE) DIV 100 + (85 * SUM shares) DIV 100

    The naive rank*w product overflows BIGINT at corpus scale (rank is
    bounded by total mass n*SCALE; w by per-pair conversation counts),
    so the share uses the exact decomposition

        (rank*w) DIV s  ==  w*(rank DIV s) + (w*(rank % s)) DIV s

    whose intermediates stay bounded: rank%s < s, so w*(rank%s) <
    w*s <= w * total_edge_weight — headroom documented per input
    rather than silently wrapped. DuckDB's // and % agree with
    Spark's DIV/% on non-negative BIGINTs, so the unrolled oracle is
    bit-exact.

    Same partition-once/iterate-lazily shape as pagerank; the
    symmetrized pair table plays the edge role and strength the
    out-degree role."""
    ids = nodes.select("entity_id").localCheckpoint(eager=False)
    sym = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"),
                       F.col("w").alias("w")).unionAll(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"),
                     F.col("w").alias("w")))
    strength = sym.groupBy("src").agg(F.sum("w").alias("s"))
    linked = (
        sym.join(strength, "src")
        .repartition("src")
        .localCheckpoint(eager=False)
    )
    base = (15 * scale) // _DAMP_DEN
    ranks = ids.select("entity_id", F.lit(scale).cast("long").alias("rank"))
    for i in range(iters):
        contrib = (
            linked.join(ranks.withColumnRenamed("entity_id", "src"), "src")
            .select("dst", F.expr(
                "w * (rank DIV s) + (w * (rank % s)) DIV s").alias("share"))
            .groupBy("dst")
            .agg(F.sum("share").alias("in_sum"))
        )
        ranks = (
            ids.join(contrib.withColumnRenamed("dst", "entity_id"),
                     "entity_id", "left")
            .select(
                "entity_id",
                (F.lit(base)
                 + F.expr(f"({_DAMP_NUM} * coalesce(in_sum, 0L))"
                          f" DIV {_DAMP_DEN}")
                 ).cast("long").alias("rank"),
            )
        )
        if (i + 1) % PAGERANK_CKPT_EVERY == 0 and (i + 1) < iters:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def support_histogram(edges: DataFrame) -> DataFrame:
    """Log2-binned statement-support distribution -> (bin,
    n_statements, min_support, max_support, sum_support): how often is
    each distinct (src, dst, pred) statement re-asserted across the
    corpus, binned by bit_length(support) — bin b covers [2^(b-1),
    2^b). The KG-trust profile: a long tail of support-1 statements is
    extraction noise to downweight, a fat high bin is redundancy worth
    deduplicating at ingest. Same no-floating-log2 bin(deg) trick as
    degree_histogram, <= 64 output rows at any corpus size.

    Scale shape: one partial-aggregated statement count (the
    relation_weights shuffle) + one <= 64-group collapse. No windows."""
    support = (
        edges.where(F.col("src_id") != F.col("dst_id"))
        .groupBy("src_id", "dst_id", "pred")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    return (
        support
        .withColumn("bin", F.length(F.bin("support")).cast("int"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_statements"),
            F.min("support").alias("min_support"),
            F.max("support").alias("max_support"),
            F.sum("support").alias("sum_support"),
        )
    )


# Minimum joint support for a rule to be emitted. 1 keeps every
# co-assertion — output stays bounded because the per-key cap limits
# emission to cap^2 per (src, dst); corpus-scale deployments raise
# this (AMIE uses 100+) to keep only statistically-supported rules.
# (Same default philosophy as NJ_MIN_COMMON.)
RULE_MIN_SUPPORT = 1
RULE_PAIR_CAP = 16      # max distinct relations per (src, dst) key


def rule_implications(edges: DataFrame,
                      min_support: int = RULE_MIN_SUPPORT,
                      cap: int = RULE_PAIR_CAP) -> DataFrame:
    """AMIE-lite relation implication mining (the simplest rule shape
    of Galarraga et al. WWW 2013, body(x,y) => head(x,y)) ->
    (body, head, n_both, n_body, conf_ppm): for every ordered pair of
    CANONICAL relations, the joint support |{(x,y): body(x,y) AND
    head(x,y)}| and the standard confidence n_both / n_body as exact
    round-half-up integer ppm. High-confidence rows are relation
    subsumption / paraphrase candidates ("acquired" => "owns") — the
    ontology-merge input a KG curation pass reads after
    relation_cardinality.

    Scale shape: the aux-drop + lemma ladder runs on the DISTINCT-pred
    table (Heaps'-law tiny, explicitly broadcast); statements are
    deduped on (src, dst, rel) — one shuffle; the per-(src,dst)
    rel-set self-join is bounded by a deterministic keep-lowest-rel
    cap (the comention_pairs hot-key rule), so a pathological entity
    pair asserted under every relation contributes <= cap^2 rows; the
    body marginal is computed over the SAME capped statement set
    (n_both <= n_body holds exactly, the assoc_dice rationale) and is
    relation-sized, so its attach join broadcasts."""
    from openie_spark.kg.enrich import canon_relation_col

    rel = (edges.select("pred").distinct()
           .withColumn("rel", canon_relation_col(F.col("pred"))))
    stmts = (
        edges.where(F.col("src_id") != F.col("dst_id"))
        .join(F.broadcast(rel), "pred")
        .select("src_id", "dst_id", "rel")
        .distinct()
    )
    w = Window.partitionBy("src_id", "dst_id").orderBy("rel")
    capped = (stmts.withColumn("r", F.row_number().over(w))
              .where(F.col("r") <= cap).drop("r")
              .localCheckpoint(eager=False))   # self-join + marginal share it
    n_body = capped.groupBy("rel").agg(F.count(F.lit(1)).alias("n_body"))
    l = capped.select("src_id", "dst_id", F.col("rel").alias("body"))
    r = capped.select("src_id", "dst_id", F.col("rel").alias("head"))
    both = (
        l.join(r, ["src_id", "dst_id"])
        .where(F.col("body") != F.col("head"))
        .groupBy("body", "head")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .where(F.col("n_both") >= min_support)
    )
    return (
        both.join(F.broadcast(n_body.withColumnRenamed("rel", "body")), "body")
        .select(
            "body", "head", "n_both", "n_body",
            F.expr("(2 * n_both * 1000000 + n_body) DIV (2 * n_body)")
            .alias("conf_ppm"),
        )
    )


CONFLICT_FUN_PPM = 600000   # relations at least this functional...
CONFLICT_MIN_EDGES = 4      # ...measured over at least this many statements
CONFLICT_MIN_OBJS = 2       # subjects asserting at least this many objects


def functional_conflicts(edges: DataFrame,
                         min_fun_ppm: int = CONFLICT_FUN_PPM,
                         min_edges: int = CONFLICT_MIN_EDGES,
                         min_objs: int = CONFLICT_MIN_OBJS) -> DataFrame:
    """Contradiction-candidate triage queue -> (pred, src_id, n_objs,
    n_mentions): for relations the corpus itself measures as
    near-functional (relation_cardinality's fun_ppm >= ``min_fun_ppm``
    over >= ``min_edges`` distinct statements), the subjects asserting
    >= ``min_objs`` DISTINCT objects. On a mostly-one-object-per-
    subject relation, a multi-object subject is either an extraction
    error or a genuinely conflicting assertion — exactly the rows a
    KG trust reviewer (or a downstream consistency checker) wants
    ranked first. The functionality floor is what separates this from
    noise: multi-object subjects on a property-tag relation
    (fun -> 0) are normal and never emitted.

    Scale shape: relation_cardinality's output is relation-sized and
    broadcast as a semi-join filter; then ONE partial-aggregated
    groupBy on (pred, src_id) whose countDistinct state is bounded by
    the subject's object reach. No windows, no self-joins."""
    card = relation_cardinality(edges).where(
        (F.col("fun_ppm") >= min_fun_ppm) & (F.col("n_edges") >= min_edges))
    return (
        edges.where(F.col("src_id") != F.col("dst_id"))
        .join(F.broadcast(card.select("pred")), "pred")
        .groupBy("pred", "src_id")
        .agg(
            F.countDistinct("dst_id").alias("n_objs"),
            F.count(F.lit(1)).alias("n_mentions"),
        )
        .where(F.col("n_objs") >= min_objs)
    )


def type_pair_graph(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Typed quotient graph (the SNAP-style graph summarization of
    Tian et al. SIGMOD 2008, collapsed to the rule-ladder entity
    types) -> (src_type, dst_type, n_edges, n_stmts, n_rels,
    n_src_ents, n_dst_ents): the schema-level summary a consumer reads
    before touching the entity-level graph — which type pairs carry
    the mass, how relation-diverse each is, and how concentrated the
    endpoints are (n_edges >> n_src_ents means hub subjects).

    Scale shape: typing is map-only on the node table; the two type
    attaches are node-sized equi-joins (AQE broadcasts them when the
    node table fits, plain shuffle joins when it doesn't); ONE
    partial-aggregated rollup whose output is bounded by |types|^2
    (<= 81 rows at any corpus size); countDistinct state per group is
    bounded by entity vocabulary, the same bound graph_summary pays."""
    from openie_spark.kg.enrich import entity_types

    types = entity_types(nodes).select("entity_id", "etype")
    typed = (
        edges.where(F.col("src_id") != F.col("dst_id"))
        .select("src_id", "dst_id", "pred")
        .join(types.select(F.col("entity_id").alias("src_id"),
                           F.col("etype").alias("src_type")), "src_id")
        .join(types.select(F.col("entity_id").alias("dst_id"),
                           F.col("etype").alias("dst_type")), "dst_id")
    )
    return (
        typed.groupBy("src_type", "dst_type")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.countDistinct("src_id", "dst_id", "pred").alias("n_stmts"),
            F.countDistinct("pred").alias("n_rels"),
            F.countDistinct("src_id").alias("n_src_ents"),
            F.countDistinct("dst_id").alias("n_dst_ents"),
        )
    )


def kg_growth(edges: DataFrame, transcripts: DataFrame) -> DataFrame:
    """KG growth curve -> (day, new_entities, new_statements,
    cum_entities, cum_statements): per UTC epoch-day (ts_us DIV 86.4e9
    — integer day buckets, no date/tz arithmetic to diverge between
    engines), how many entities and distinct (src, dst, pred)
    statements were observed for the FIRST time, with running totals.
    The corpus-audit readout ("is the graph saturating or still
    discovering?") and the freshness axis incremental construction
    (kg/incremental.py) is measured against.

    Scale shape: one (conv_id, turn_idx) equi-join against the
    two-column timestamp projection (column pruning reaches the
    parquet scan), shared via a lazy localCheckpoint by the two
    first-seen partial aggregations (entity-keyed and statement-keyed
    — both map-side-combining min(day) rollups), then day-sized
    rollups and ONE cumulative window over the day table. That window
    is single-partition by construction but its input is bounded by
    calendar span (the retention_cohorts rationale), never corpus."""
    ts = transcripts.select(
        "conv_id", "turn_idx", F.unix_micros("ts").alias("ts_us"))
    stamped = (
        edges.join(ts, ["conv_id", "turn_idx"])
        .withColumn("day", F.expr("ts_us DIV 86400000000"))
        .select("src_id", "dst_id", "pred", "day")
        .localCheckpoint(eager=False)   # entity + statement aggs share it
    )
    ent_first = (
        stamped.select(F.col("src_id").alias("e"), "day")
        .unionAll(stamped.select(F.col("dst_id").alias("e"), "day"))
        .groupBy("e").agg(F.min("day").alias("day"))
        .groupBy("day").agg(F.count(F.lit(1)).alias("new_entities"))
    )
    stmt_first = (
        stamped.groupBy("src_id", "dst_id", "pred")
        .agg(F.min("day").alias("day"))
        .groupBy("day").agg(F.count(F.lit(1)).alias("new_statements"))
    )
    days = (
        ent_first.join(stmt_first, "day", "full")
        .select(
            "day",
            F.coalesce("new_entities", F.lit(0)).alias("new_entities"),
            F.coalesce("new_statements", F.lit(0)).alias("new_statements"),
        )
    )
    w = (Window.orderBy("day")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return days.select(
        "day", "new_entities", "new_statements",
        F.sum("new_entities").over(w).alias("cum_entities"),
        F.sum("new_statements").over(w).alias("cum_statements"),
    )


def degree_mixing_sums(edges: DataFrame) -> DataFrame:
    """Degree-assortativity sufficient statistics -> one row
    (n_ends, s_d, s_prod, s_sq) over the UNDIRECTED simple graph:
    with every edge {u, v} counted in both orientations (n_ends = 2m),
    the exact BIGINT sums of deg(u), deg(u)*deg(v), and deg(u)^2 at
    the edge ends. Newman's assortativity coefficient (PRL 2002)
        r = (n*s_prod - s_d^2) / (n*s_sq - s_d^2)
    follows from these four integers in one offline division — emitting
    the SUMS instead of r keeps the table bit-exact in both engines
    (no float quotient to drift) while losing nothing. r < 0 (hubs
    attach to leaves) is the expected regime for extraction KGs;
    drift toward 0 across ingests signals hub inflation worth a
    salting/cap revisit.

    BIGINT headroom: s_sq <= sum over nodes of deg^3 — fine through
    ~10^6-degree hubs at 10^9 edges; beyond that, pre-scale degrees
    (the readout only needs ratios).

    Scale shape: degrees from one partial-aggregated groupBy over the
    symmetrized edge list; two node-sized degree attaches (AQE
    broadcasts when they fit); ONE single-row aggregate. No windows,
    no self-joins."""
    und = undirected_edges(edges)                    # a < b, deduped
    both = (und.select(F.col("a").alias("u"), F.col("b").alias("v"))
            .unionAll(und.select(F.col("b").alias("u"), F.col("a").alias("v")))
            .localCheckpoint(eager=False))           # degrees + ends share it
    deg = both.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    du = deg.select(F.col("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("u").alias("v"), F.col("d").alias("dv"))
    return (
        both.join(du, "u").join(dv, "v")
        .agg(
            F.count(F.lit(1)).alias("n_ends"),
            F.sum("du").alias("s_d"),
            F.sum(F.expr("CAST(du AS BIGINT) * dv")).alias("s_prod"),
            F.sum(F.expr("CAST(du AS BIGINT) * du")).alias("s_sq"),
        )
    )


def kg_snapshot(edges: DataFrame, transcripts: DataFrame) -> DataFrame:
    """Time-sliced KG snapshot -> (src_id, dst_id, pred, n_mentions,
    first_us): the statements known at the corpus midpoint T =
    (min_ts + max_ts) DIV 2, with only the mentions observed by T
    counted — the "what did we know by T?" query the temporal
    materialization exists for, pinned to a deterministic,
    parameter-free cutoff so the oracle and any two cluster runs agree
    bit-for-bit. A production consumer passes an explicit T; the
    midpoint default makes the operator self-contained and
    non-vacuous at any scale factor.

    Scale shape: the same (conv_id, turn_idx) timestamp equi-join as
    temporal_relations; the cutoff is ONE broadcast scalar row
    (min/max partial agg — no window, no sort); then one
    partial-aggregated statement rollup over the <= T slice."""
    ts = transcripts.select(
        "conv_id", "turn_idx", F.unix_micros("ts").alias("ts_us"))
    stamped = (edges.join(ts, ["conv_id", "turn_idx"])
               .select("src_id", "dst_id", "pred", "ts_us")
               .localCheckpoint(eager=False))   # bounds + slice share it
    bounds = stamped.agg(
        F.expr("(min(ts_us) + max(ts_us)) DIV 2").alias("cut_us"))
    return (
        stamped.crossJoin(F.broadcast(bounds))
        .where(F.col("ts_us") <= F.col("cut_us"))
        .groupBy("src_id", "dst_id", "pred")
        .agg(
            F.count(F.lit(1)).alias("n_mentions"),
            F.min("ts_us").alias("first_us"),
        )
    )


KGE_DIM = 8             # hash-embedding dimensions (exact integers)
KGE_SALT = "kge-v1"
KGE_NEGS = 16           # tail corruptions per test statement


def _kge_comp(kind: str, ident, d: int) -> F.Column:
    """One embedding component in [-1000, 1000]: md5-derived, so both
    engines (and any two cluster runs) compute the identical vector
    with no stored model state."""
    from openie_spark.functions.hashing import md5h60

    return (md5h60(F.concat(F.lit(f"{KGE_SALT}#{kind}#"), ident,
                            F.lit(f"#{d}"))) % 2001 - 1000)


def kge_rank_eval(nodes: DataFrame, edges: DataFrame,
                  dim: int = KGE_DIM, negs: int = KGE_NEGS) -> DataFrame:
    """KG-embedding evaluation harness -> one row (n_test,
    n_candidates, mrr_ppm, hits1_ppm, hits3_ppm, hits10_ppm): the
    standard filtered ranking protocol (Bordes et al. NIPS 2013) run
    end-to-end on the graph's own artifacts — test statements from
    edge_split (filtered eval_ok slice), tail corruptions from
    negative_samples, and a TransE-shaped L1 score
    sum_d |h_d + r_d - t_d| over md5-derived INTEGER embeddings.

    The hash embeddings are a deterministic stand-in for trained
    vectors (the sandbox trains nothing), which makes this the
    pipeline's harness-correctness gate: ranks, MRR, and Hits@k are
    exactly reproducible in DuckDB, so the eval MACHINERY — split
    hygiene, corruption sampling, strict-better ranking with the
    pinned (score, entity-id) tie order, round-half-up ppm rollups —
    is what the oracle certifies. Swap real embeddings in and only
    the score expression changes. A test statement whose every
    corruption collided (no surviving candidates) is excluded.

    FULLY filtered: beyond dropping corruptions that collide with the
    current triple's src/dst, any corruption (s, p, t') that forms a
    DIFFERENT known-true statement is anti-joined away against the
    full distinct statement set (all splits) — the exact Bordes
    protocol, so no true triple ever counts as a negative.

    rank = 1 + |{negatives strictly better, ties to lower entity_id}|;
    mrr_ppm averages floor(1e6 / rank) round-half-up.

    Scale shape: the split is one distinct shuffle (edge_split);
    negatives join a broadcast n_buckets-row table onto the TEST slice
    only; scoring is map-only integer md5 arithmetic (no float, no
    model broadcast); the rank rollup is one partial-aggregated
    groupBy on the statement key; the readout is a single-row agg."""
    split = edge_split(edges)
    test = (split.where((F.col("split") == "test") & F.col("eval_ok"))
            .select("src_id", "pred", F.col("dst_id")))
    # filtered setting: a corruption that IS a known statement (any
    # split) must not count as a negative — one anti-join of the
    # test-slice candidates against the distinct statement set on the
    # (src, pred, corrupted-tail) key. Candidate volume is
    # |test| * negs (the small slice), so the extra shuffle is
    # test-sized, never edge-sized.
    known = split.select(
        "src_id", "pred", F.col("dst_id").alias("neg_dst"))
    cands = negative_samples(nodes, test, per_pos=negs).join(
        known, ["src_id", "pred", "neg_dst"], "left_anti")

    def score(tail) -> F.Column:
        total = None
        for d in range(dim):
            term = F.abs(_kge_comp("e", F.col("src_id"), d)
                         + _kge_comp("r", F.col("pred"), d)
                         - _kge_comp("e", tail, d))
            total = term if total is None else total + term
        return total

    scored = (cands
              .withColumn("s_neg", score(F.col("neg_dst")))
              .withColumn("s_true", score(F.col("dst_id"))))
    ranked = (
        scored.groupBy("src_id", "pred", "dst_id")
        .agg(
            F.sum(F.when(
                (F.col("s_neg") < F.col("s_true"))
                | ((F.col("s_neg") == F.col("s_true"))
                   & (F.col("neg_dst") < F.col("dst_id"))), 1)
                .otherwise(0)).alias("n_better"),
            F.count(F.lit(1)).alias("n_cands"),
        )
        .withColumn("rank", F.col("n_better") + 1)
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_test"),
        F.coalesce(F.sum("n_cands"), F.lit(0)).alias("n_candidates"),
        F.coalesce(F.sum(F.expr("1000000 DIV rank")), F.lit(0)).alias("s_inv"),
        F.coalesce(F.sum(F.when(F.col("rank") <= 1, 1).otherwise(0)),
                   F.lit(0)).alias("h1"),
        F.coalesce(F.sum(F.when(F.col("rank") <= 3, 1).otherwise(0)),
                   F.lit(0)).alias("h3"),
        F.coalesce(F.sum(F.when(F.col("rank") <= 10, 1).otherwise(0)),
                   F.lit(0)).alias("h10"),
    )
    rate = "CASE WHEN n_test > 0 THEN (2 * {x} * 1000000 + n_test) DIV (2 * n_test) END"
    return agg.select(
        "n_test", "n_candidates",
        F.expr("CASE WHEN n_test > 0 THEN"
               " (2 * s_inv + n_test) DIV (2 * n_test) END").alias("mrr_ppm"),
        F.expr(rate.format(x="h1")).alias("hits1_ppm"),
        F.expr(rate.format(x="h3")).alias("hits3_ppm"),
        F.expr(rate.format(x="h10")).alias("hits10_ppm"),
    )


def alias_histogram(nodes: DataFrame) -> DataFrame:
    """Canonicalization-aggressiveness profile -> (bin, n_entities,
    min_aliases, max_aliases, sum_aliases): the node table's
    n_aliases distribution, log2-binned by bit length — the one-page
    answer to "is the linker over- or under-merging?" (a fat high bin
    after a threshold change means aggressive merges to review; bin 1
    is the untouched singleton mass). <= 64 rows at any corpus size.

    Scale shape: map-only on the node table + one tiny collapse."""
    return (
        nodes.select(F.col("n_aliases").cast("long").alias("n"))
        .withColumn("bin", F.length(F.bin("n")).cast("int"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_entities"),
            F.min("n").alias("min_aliases"),
            F.max("n").alias("max_aliases"),
            F.sum("n").alias("sum_aliases"),
        )
    )
