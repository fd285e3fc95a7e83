"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes each implemented operator from SURVEY.md §2 as a
(spark, sf_dir) -> DataFrame callable; ``oracle_sql()`` gives the
DuckDB-runnable ANSI-SQL equivalent the driver compares against at
sf=0.01 (row-count + schema + order-insensitive value-hash).
"""

from __future__ import annotations

import functools
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _tune(spark: SparkSession) -> SparkSession:
    """Driver may hand us a vanilla session; apply runtime-settable conf."""
    from openie_spark.session import tune_runtime

    return tune_runtime(spark)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG extraction — transcripts → (subj, pred, obj)
    triples — on /root/testdata/sf0.001."""
    from openie_spark.operators.extract import extract_triples
    from openie_spark.sources.transcripts import read_transcripts

    t = read_transcripts(_tune(spark), "/root/testdata/sf0.001")
    return extract_triples(t)


# --------------------------------------------------------------------
# queries / oracles
# --------------------------------------------------------------------

def _q_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openie_spark.sources.transcripts import read_transcripts

    return read_transcripts(_tune(spark), sf_dir)


def _q_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openie_spark.operators.sentences import segment_transcripts
    from openie_spark.sources.transcripts import read_transcripts

    return segment_transcripts(read_transcripts(_tune(spark), sf_dir)).select(
        "conv_id", "turn_idx", "sent_idx", "sent", "n_words"
    )


def _q_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openie_spark.operators.extract import fan_out_spans, tag_predicates
    from openie_spark.operators.sentences import segment_transcripts
    from openie_spark.sources.transcripts import read_transcripts

    fanned = fan_out_spans(
        tag_predicates(segment_transcripts(read_transcripts(_tune(spark), sf_dir)))
    )
    return fanned.select("conv_id", "turn_idx", "sent_idx", "ext_idx", "span_l", "span_r")


def _q_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openie_spark.operators.extract import extract_triples
    from openie_spark.sources.transcripts import read_transcripts

    return extract_triples(read_transcripts(_tune(spark), sf_dir)).select(
        "conv_id", "turn_idx", "sent_idx", "ext_idx", "sent", "pred", "subj", "obj", "confidence"
    )


def _q_turn_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openie_spark.operators.sentences import segment_transcripts
    from openie_spark.sources.transcripts import read_transcripts

    t = read_transcripts(_tune(spark), sf_dir)
    sents = segment_transcripts(t)
    recon = sents.groupBy("conv_id", "turn_idx").agg(
        F.array_join(F.array_sort(F.collect_list(F.struct("sent_idx", "sent"))).sent, " ").alias("reconstructed")
    )
    orig = t.select(
        "conv_id", "turn_idx",
        F.array_join(F.filter(F.split("text", " "), lambda w: w != ""), " ").alias("orig"),
    )
    joined = recon.join(orig, ["conv_id", "turn_idx"])
    return joined.agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(F.when(F.col("reconstructed") != F.col("orig"), 1).otherwise(0)).alias("n_mismatch"),
    )


def _q_triples_neural(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neural (numpy BiLSTM+CRF mapInPandas) extraction path — not
    SQL-expressible, driver records the weaker rows-only check."""
    from openie_spark.operators.extract import extract_triples
    from openie_spark.sources.transcripts import read_transcripts

    return extract_triples(
        read_transcripts(_tune(spark), sf_dir), backend="neural"
    ).select(
        "conv_id", "turn_idx", "sent_idx", "ext_idx", "sent", "pred", "subj", "obj", "confidence"
    )


# --------------------------------------------------------------------
# shared tables
# --------------------------------------------------------------------
# Tables several queries start from, built ONCE per (application,
# sf_dir) and kept in memory: the warehouse pattern, where a deployment
# materializes each table once and the queries read the TABLE. Without
# it every consumer re-ran its whole upstream chain from the parquet
# scan, and carb_compare(t, t) duplicated the branch on both cogroup
# sides. The KG core tables come from the pipeline's own stage table
# (pipeline.KG_STAGES); the others are the named builds below. Queries
# that report a shared table's own build cost (triples_extract,
# kg_edges, kg_comention) stay un-memoized.

_shared_key: tuple | None = None
_shared_tables: dict[str, DataFrame] = {}
shared_seconds: dict[str, float] = {}   # build seconds per shared table


def _shared(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Shared table ``name`` of (application, sf_dir), built on first
    use after its upstream tables; its build seconds land in
    ``shared_seconds``. A new key evicts the old key's tables: a
    long-lived driver iterating sf dirs must not pin every dir's tables
    for the application lifetime."""
    from py4j.protocol import Py4JError

    global _shared_key
    key = (spark.sparkContext.applicationId, sf_dir)
    if key != _shared_key:
        for df in _shared_tables.values():
            try:
                df.unpersist()
            except Py4JError:       # a table of a stopped application
                pass
        _shared_tables.clear()
        shared_seconds.clear()
        _shared_key = key
    if name not in _shared_tables:
        upstream, build = shared_builds()[name]
        tables = [_shared(spark, sf_dir, u) for u in upstream]
        t0 = time.perf_counter()
        _shared_tables[name] = build(_tune(spark), sf_dir, *tables)
        shared_seconds[name] = round(time.perf_counter() - t0, 4)
    return _shared_tables[name]


def _job(spark: SparkSession, sf_dir: str):
    """The pipeline whose stage builds make the shared KG tables; it is
    never run, so it writes nothing. Its defaults are KGPipeline.run's,
    so the shared tables are the tables a run writes."""
    from openie_spark.pipeline import KGPipeline

    return KGPipeline(spark, sf_dir, None)


def _stage_build(stage):
    """A KG stage or merge row as a shared build, eagerly
    localCheckpointed."""
    def build(spark, sf_dir, *tables):
        return stage.build(_job(spark, sf_dir), *tables).localCheckpoint(eager=True)

    return build


def _half(parity: int):
    """The triples_norm rows of one _conv_parity half (a view)."""
    return lambda spark, sf_dir, tnorm: tnorm.where(_conv_parity() == parity)


def _comention(spark: SparkSession, sf_dir: str, edges: DataFrame) -> DataFrame:
    """The co-mention pair table (a, b, n_convs) that truss,
    clustering, assoc Dice and weighted PageRank start from."""
    from openie_spark.kg.analytics import comention_pairs

    return comention_pairs(edges).localCheckpoint(eager=True)


def _seed_ball(spark: SparkSession, sf_dir: str, nodes: DataFrame,
               edges: DataFrame) -> DataFrame:
    """The source-labeled truncated-BFS table (src, entity_id, dist):
    kg_harmonic (per-src rollup), kg_khop (min over src) and
    kg_seed_distances share one k-round BFS over the same seeds."""
    from openie_spark.kg.analytics import seed_ball_distances

    return seed_ball_distances(nodes, edges).localCheckpoint(eager=True)


def _carb_gold(spark: SparkSession, sf_dir: str, triples: DataFrame) -> DataFrame:
    """The carb family's gold side: engine triples as scorer tuples
    WITH the normalized sentence key computed, hash-REPARTITIONED on
    the scorers' sentence bucket (carb.sentence_bucket) to the session
    shuffle parallelism and PERSISTED (cache, not localCheckpoint: a
    checkpointed RDD comes back as UnknownPartitioning, while the
    cached plan keeps its HashPartitioning). The bucket cogroup in
    every carb query then starts from co-partitioned children and
    elides both child exchanges."""
    from openie_spark.eval.carb import normalize_key_col, sentence_bucket, triples_as_tuples

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    gold = (triples_as_tuples(triples)
            .withColumn("norm_key", normalize_key_col(F.col("sent")))
            .repartition(n, sentence_bucket(F.col("norm_key"), n))
            .persist())
    gold.count()
    return gold


def _carb_pred(spark: SparkSession, sf_dir: str, gold: DataFrame) -> DataFrame:
    """The deterministically degraded, varied-confidence prediction
    side the four degraded-eval queries consume; a projection of the
    gold side, so it keeps the sentence-bucket hash partitioning."""
    from openie_spark.functions.hashing import md5h60

    pred = (gold
            .withColumn("args", F.transform("args", lambda a: F.split(a, " ")[0]))
            .withColumn("confidence",
                        (F.pmod(md5h60(F.concat_ws("|", "sent", "pred")), F.lit(4)) + 1) / 4.0)
            .persist())
    pred.count()
    return pred


@functools.cache
def shared_builds() -> dict:
    """name -> (upstream names, build(spark, sf_dir, *upstream tables)).

    The incremental queries build the KG on the even-parity half of the
    conversations (``prior_*``: the same stage rows over that half),
    then MERGE the odd half into it (``incr_*``: the stage and merge
    rows ``run_incremental`` runs, pipeline.MERGES). Their oracles are
    the FULL-recompute SQL, so a hash match IS the proof that
    incremental(old ⊎ delta) ≡ full(old ∪ delta)."""
    from openie_spark.pipeline import KG_STAGES, MERGES

    core = {st.name: st for st in KG_STAGES}

    def over(half: str, name: str):
        row = MERGES.get(name) if half == "incr" else None
        if row is None:
            return tuple(f"{half}_{u}" for u in core[name].upstream), _stage_build(core[name])
        return (tuple(n if n.startswith("prior_") else f"incr_{n}" for n in row.inputs),
                _stage_build(row))

    builds = {
        **{st.name: (st.upstream, _stage_build(st)) for st in KG_STAGES},
        "prior_triples_norm": (("triples_norm",), _half(0)),
        "incr_triples_norm": (("triples_norm",), _half(1)),
        "comention": (("edges",), _comention),
        "seed_ball": (("nodes", "edges"), _seed_ball),
        "carb_gold": (("triples",), _carb_gold),
        "carb_pred": (("carb_gold",), _carb_pred),
    }
    # the incremental tables the queries read, and what those read
    todo = ["incr_pairs", "incr_nodes", "incr_edges"]
    while todo:
        name = todo.pop()
        if name not in builds:
            builds[name] = over(*name.split("_", 1))
            todo += builds[name][0]
    return builds


def _q_carb_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CaRB scorer (E1-E6) on engine triples vs themselves — the parity
    self-check: P=R=F1=1 plus the gold-sentence count."""
    from openie_spark.eval.carb import carb_compare

    gold = _shared(spark, sf_dir, "carb_gold")
    return carb_compare(gold, gold)


def _q_carb_degraded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CaRB scorer on deterministically degraded predictions (every arg
    truncated to its first token): non-trivial single-point P/R/F1.
    Greedy bipartite matching isn't SQL-expressible → rows-only check."""
    from openie_spark.eval.carb import carb_compare

    gold = _shared(spark, sf_dir, "carb_gold")
    pred = _shared(spark, sf_dir, "carb_pred")
    return carb_compare(gold, pred.drop("confidence"))


def _q_carb_pr_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full E5 threshold sweep (reference carb.py:77-160 semantics) on
    deterministically degraded predictions with md5-derived varied
    confidences in {0.25, 0.5, 0.75, 1.0} — a 4-point PR curve. Greedy
    matching per threshold isn't SQL-expressible → rows-only check;
    value-pinned against a reference-loop transcription in
    tests/test_carb.py."""
    from openie_spark.eval.carb import carb_pr_curve

    gold = _shared(spark, sf_dir, "carb_gold")
    pred = _shared(spark, sf_dir, "carb_pred")
    return carb_pr_curve(gold, pred)


def _q_carb_o2o_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 sweep with the one-to-one recall strategy (reference
    benchmark.py:218-243 CaRB_compare recall_strategy='o2o') on the
    same degraded varied-confidence predictions as carb_pr_sweep.
    Greedy matching isn't SQL-expressible → rows-only; parity-pinned
    vs the imported reference in tests/test_benchmark.py."""
    from openie_spark.eval.carb import carb_pr_curve

    gold = _shared(spark, sf_dir, "carb_gold")
    pred = _shared(spark, sf_dir, "carb_pred")
    return carb_pr_curve(gold, pred, recall_strategy="o2o")


def _q_carb_oie16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oie16_compare flow (reference benchmark.py:48-121): boolean
    lexical matching with prediction consumption, sklearn-twin PR
    curve, recallMultiplier. One summary row. Sequential matching isn't
    SQL-expressible → rows-only; parity-pinned vs the imported
    reference in tests/test_benchmark.py."""
    from openie_spark.eval.benchmark import oie16_compare, oie16_summary_df

    gold = _shared(spark, sf_dir, "carb_gold")
    pred = _shared(spark, sf_dir, "carb_pred")
    return oie16_summary_df(spark, oie16_compare(gold, pred))


# ------------------------------------------------------------- KG F-H

def _q_kg_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openie_spark.kg.mentions import extract_mentions

    triples = _shared(spark, sf_dir, "triples")
    return extract_mentions(triples).select(
        "conv_id", "turn_idx", "sent_idx", "ext_idx", "side", "mention", "norm")


def _q_kg_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _shared(spark, sf_dir, "pairs")
    return pairs.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


def _q_kg_pairs_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minhash-LSH pair path (scale variant). md5-derived hashes make
    the full LSH structure DuckDB-recomputable (kg_pairs_minhash_sql);
    recall vs exact additionally pinned in tests/test_kg.py."""
    from openie_spark.kg.linking import minhash_pairs

    vocab = _shared(spark, sf_dir, "vocab")
    return minhash_pairs(vocab).select("a", "b", F.round("jaccard", 6).alias("jaccard"))


def _q_kg_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _shared(spark, sf_dir, "components").select("norm", "freq", "component")


def _q_kg_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _shared(spark, sf_dir, "nodes").select(
        "entity_id", "canonical", "n_aliases", "freq")


def _q_kg_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openie_spark.kg.graph import build_edges_from_norm

    # salted strategy on the driver path: exercises the skew-safe join
    # (result is provably identical to the edges stage's broadcast join)
    return build_edges_from_norm(
        _shared(spark, sf_dir, "triples_norm"),
        _shared(spark, sf_dir, "components"), strategy="salted")


def _q_kg_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openie_spark.kg.graph import degree_stats

    return degree_stats(_shared(spark, sf_dir, "edges"))


def _q_kg_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted relation edges (src, dst, pred, support counts) — the
    compact graph-materialize sink a KG consumer reads instead of the
    occurrence-scale provenance edges."""
    return _shared(spark, sf_dir, "relations")


def _q_kg_display(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Display-name selection per entity: max-freq alias, ties to the
    shorter then lexicographically smaller string (vocab-scale)."""
    from openie_spark.kg.graph import display_labels

    return display_labels(_shared(spark, sf_dir, "components"))


def _q_kg_entity_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic rule-ladder entity typing over the nodes table
    (year/numeric/code/measure/person/org/place/phrase/term)."""
    from openie_spark.kg.enrich import entity_types

    return entity_types(_shared(spark, sf_dir, "nodes"))


def _q_kg_relation_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical relations: surface predicates grouped by their
    aux-stripped suffix-rule lemma key, with the sorted surface-form
    inventory and summed support."""
    from openie_spark.kg.enrich import relation_canon

    return relation_canon(_shared(spark, sf_dir, "edges"))


def _q_kg_salience(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation salient entities: top-k by the exact-integer
    tf*idf-style score (no float log to drift between engines)."""
    from openie_spark.kg.enrich import entity_salience

    return entity_salience(_shared(spark, sf_dir, "edges"))


def _q_kg_topic_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextTiling-style topic segmentation: exact-ppm token overlap
    with the previous turn, running boundary sum — one conv window."""
    from openie_spark.kg.dialogue import topic_segments
    from openie_spark.sources.transcripts import read_transcripts

    return topic_segments(read_transcripts(_tune(spark), sf_dir))


def _q_kg_dialogue_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation dialogue analytics (turn/role mix, tool usage,
    wall-clock span, assistant/user verbosity ppm, longest same-role
    run) — one conv-window shuffle + two partial-agg rollups, exact
    integer arithmetic throughout."""
    from openie_spark.kg.dialogue import dialogue_stats
    from openie_spark.sources.transcripts import read_transcripts

    return dialogue_stats(read_transcripts(_tune(spark), sf_dir))


def _q_kg_coref_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edges recovered by applying coref-lite resolutions to the
    normalized triples (repaired fragment endpoints -> entities)."""
    from openie_spark.kg.coref import coref_edges

    triples = _shared(spark, sf_dir, "triples")
    canon = _shared(spark, sf_dir, "components")
    return coref_edges(triples, canon)


def _q_kg_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema induction: top type signatures (src_type, dst_type) per
    canonical relation with exact-ppm edge shares."""
    from openie_spark.kg.enrich import relation_schema

    nodes = _shared(spark, sf_dir, "nodes")
    edges = _shared(spark, sf_dir, "edges")
    return relation_schema(edges, nodes)


def _q_kg_coref(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coref-lite: each pronoun occurrence resolved to the most recent
    prior entity mention in its conversation (recency heuristic) — one
    conv-partitioned window, no joins."""
    from openie_spark.kg.coref import resolve_pronouns

    return resolve_pronouns(_shared(spark, sf_dir, "triples"))


def _q_kg_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal KG edges: relation validity intervals [first_us,
    last_us] from the turn timestamps — one equi-join on the
    (conv_id, turn_idx) provenance key plus one grouped aggregate."""
    from openie_spark.kg.analytics import temporal_relations
    from openie_spark.sources.transcripts import read_transcripts

    edges = _shared(spark, sf_dir, "edges")
    return temporal_relations(edges, read_transcripts(_tune(spark), sf_dir))


def _q_kg_export_nt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-Triples export sink: node-label + distinct-relation lines,
    map-only over the materialized graph tables."""
    from openie_spark.kg.analytics import export_ntriples

    nodes = _shared(spark, sf_dir, "nodes")
    edges = _shared(spark, sf_dir, "edges")
    return export_ntriples(nodes, edges)


def _q_kg_segment_salience(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salience re-scoped to topic segments: entity_salience's exact-
    integer score over (conv_id, seg_idx) units."""
    from openie_spark.kg.dialogue import topic_segments
    from openie_spark.kg.enrich import segment_salience
    from openie_spark.sources.transcripts import read_transcripts

    edges = _shared(spark, sf_dir, "edges")
    return segment_salience(
        edges, topic_segments(read_transcripts(_tune(spark), sf_dir)))


def _q_kg_metapaths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed 2-hop metapath statistics: top patterns by distinct-path
    count over the canon-relation table with hub-capped adjacency."""
    from openie_spark.kg.analytics import metapath_counts

    nodes = _shared(spark, sf_dir, "nodes")
    edges = _shared(spark, sf_dir, "edges")
    return metapath_counts(nodes, edges)


def _q_kg_export_graphml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphML interchange fragments (part, line, xml) — reassemble by
    ORDER BY part, line; map-only plus one relation distinct."""
    from openie_spark.kg.analytics import export_graphml

    nodes = _shared(spark, sf_dir, "nodes")
    edges = _shared(spark, sf_dir, "edges")
    return export_graphml(nodes, edges)


def _q_kg_comention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity co-mention graph (same-conversation association pairs,
    per-conv entity cap bounding the self-join fan-out)."""
    from openie_spark.kg.analytics import comention_pairs

    return comention_pairs(_shared(spark, sf_dir, "edges"))


def _q_kg_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural entity similarity: neighbor-set Jaccard over the
    undirected graph (capped pivot adjacency, exact integer ppm)."""
    from openie_spark.kg.analytics import neighbor_jaccard

    return neighbor_jaccard(_shared(spark, sf_dir, "edges"))


def _q_kg_linkpred_ra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-allocation link prediction: non-adjacent entity pairs
    ranked by sum(1/deg) over shared neighbors (exact integer ppm)."""
    from openie_spark.kg.analytics import resource_allocation

    return resource_allocation(_shared(spark, sf_dir, "edges"))


def _q_kg_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic tail-corruption negative samples for KGE
    training (md5 hash-ring pick, broadcast representative table)."""
    from openie_spark.kg.analytics import negative_samples

    nodes = _shared(spark, sf_dir, "nodes")
    edges = _shared(spark, sf_dir, "edges")
    return negative_samples(nodes, edges)


def _q_kg_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-assortativity sufficient statistics over the undirected
    simple graph: one row of exact BIGINT sums (Newman's r follows in
    one offline division — no float quotient to drift)."""
    from openie_spark.kg.analytics import degree_mixing_sums

    return degree_mixing_sums(_shared(spark, sf_dir, "edges"))


def _conv_parity(col: str = "conv_id") -> F.Column:
    """Deterministic 2-way conv split (md5 last hex digit parity) —
    engine-portable, used to stage the incremental-equivalence
    queries."""
    return F.conv(F.substring(F.md5(col), 32, 1), 16, 10).cast("int") % 2


def _q_kg_nodes_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node table built INCREMENTALLY (even-conv graph + odd-conv
    delta merged via touched-block pair recompute + seeded component
    merge) — oracle = the full-recompute kg_nodes SQL, so hash-green
    means the incremental algebra is exact."""
    return _shared(spark, sf_dir, "incr_nodes").select(
        "entity_id", "canonical", "n_aliases", "freq")


def _q_kg_edges_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge table built incrementally: old-half edges rewritten with a
    broadcast entity-id remap (map-only — old occurrence data is never
    re-normalized or re-joined), delta-half edges built against the
    merged canon, unioned. Oracle = full-recompute kg_edges SQL."""
    return _shared(spark, sf_dir, "incr_edges")


def _q_kg_pairs_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linking-candidate pairs built INCREMENTALLY (touched-block
    recompute + untouched-block keep-filter over the even/odd conv
    split) — oracle = the full-recompute kg_pairs_exact SQL, so
    hash-green proves pair generation's incremental algebra exact,
    independent of the downstream component/canon merges. Same
    round-6 jaccard projection as kg_pairs_exact (the oracle rounds)."""
    return _shared(spark, sf_dir, "incr_pairs").select(
        "a", "b", F.round("jaccard", 6).alias("jaccard"))


def _q_kg_statement_roles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Role provenance per statement (user-asserted vs model-generated
    vs tool-retrieved mention counts + exact tool-source ppm) — the
    trust signal weighed before acting on a KG fact; one provenance
    equi-join + one statement rollup."""
    from openie_spark.kg.enrich import statement_role_provenance
    from openie_spark.sources.transcripts import read_transcripts

    edges = _shared(spark, sf_dir, "edges")
    return statement_role_provenance(
        edges, read_transcripts(_tune(spark), sf_dir))


def _q_kg_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated harmonic centrality for the md5 seed slice (sampled-
    sources protocol): per-seed round-half-up sum of 1e6/d over the
    k-hop ball — one groupBy(src) rollup over the shared labeled-BFS
    table shared with kg_khop."""
    from openie_spark.kg.analytics import harmonic_centrality

    nodes = _shared(spark, sf_dir, "nodes")
    edges = _shared(spark, sf_dir, "edges")
    return harmonic_centrality(nodes, edges,
                               ball=_shared(spark, sf_dir, "seed_ball"))


def _q_kg_seed_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-to-seed landmark distance matrix (src, dst, dist 1..K):
    a map-only md5-ticket filter over the shared labeled-BFS ball
    shared with kg_khop/kg_harmonic — no BFS, no join of its own."""
    from openie_spark.kg.analytics import seed_pair_distances

    nodes = _shared(spark, sf_dir, "nodes")
    edges = _shared(spark, sf_dir, "edges")
    return seed_pair_distances(nodes, edges,
                               ball=_shared(spark, sf_dir, "seed_ball"))


def _q_kg_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank (5 iterations, rank units of 1e9) over
    the canonical entity graph — per round one shuffle join + partial
    agg, iterations chained lazily into one fused job. Integer floor
    arithmetic makes the result partitioning-independent, so the
    DuckDB oracle (unrolled CTEs) matches bit-for-bit."""
    from openie_spark.kg.analytics import pagerank

    return pagerank(_shared(spark, sf_dir, "nodes"), _shared(spark, sf_dir, "edges"))


def _q_kg_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity triangle participation via degree-oriented edge
    listing (each undirected edge points small->(deg,id)->large, so a
    hub's out-list is O(sqrt(m)) and the triangle join fan-out is
    bounded even on power-law graphs)."""
    from openie_spark.kg.analytics import triangle_counts

    nodes = _shared(spark, sf_dir, "nodes")
    edges = _shared(spark, sf_dir, "edges")
    return triangle_counts(nodes, edges)


def _q_kg_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph health metrics (tidy metric/value rows): node/edge counts
    per granularity, isolated entities, max/total degree — the report
    a pipeline run publishes next to its manifests."""
    from openie_spark.kg.analytics import graph_summary

    nodes = _shared(spark, sf_dir, "nodes")
    edges = _shared(spark, sf_dir, "edges")
    return graph_summary(nodes, edges)


def _q_kg_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity activity timeline (epoch-micros first/last, distinct
    conversations and UTC days) — one ts equi-join + endpoint union +
    one entity rollup."""
    from openie_spark.kg.analytics import entity_timeline
    from openie_spark.sources.transcripts import read_transcripts

    edges = _shared(spark, sf_dir, "edges")
    return entity_timeline(edges, read_transcripts(spark, sf_dir))


def _q_kg_reply_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assistant reply latency per conversation (adjacent user ->
    assistant transitions, integer minutes) — one conv-window lag +
    one partial-agg rollup."""
    from openie_spark.kg.analytics import reply_latency
    from openie_spark.sources.transcripts import read_transcripts

    return reply_latency(read_transcripts(_tune(spark), sf_dir))


def _q_kg_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation extraction yield audit (coverage and
    triples-per-turn exact-ppm rates) — two partial-agg conv rollups
    plus one left join, over the shared triples table."""
    from openie_spark.kg.analytics import extraction_yield
    from openie_spark.sources.transcripts import read_transcripts

    return extraction_yield(
        read_transcripts(_tune(spark), sf_dir),
        _shared(spark, sf_dir, "triples"))


def _q_kg_edge_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 8/1/1 md5-ticket train/valid/test split of the
    distinct statements with the filtered-eval flag (both endpoints +
    relation seen in train) — one distinct shuffle + three semi-join
    flags against train-scale sets."""
    from openie_spark.kg.analytics import edge_split

    return edge_split(_shared(spark, sf_dir, "edges"))


def _q_kg_community_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community quality rollup (size, intra vs cut edges, degree
    mass, intra-ppm — the exact-integer modularity summands) over the
    LPA labeling."""
    from openie_spark.kg.analytics import community_stats

    nodes = _shared(spark, sf_dir, "nodes")
    edges = _shared(spark, sf_dir, "edges")
    return community_stats(nodes, edges)


def _q_kg_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities (4 rounds, pinned
    count-DESC/label-ASC tie-break) over the undirected canonical
    entity graph — one vote-count shuffle + node-sized top-1 window
    per round, labels localCheckpointed between rounds."""
    from openie_spark.kg.analytics import label_prop_communities

    nodes = _shared(spark, sf_dir, "nodes")
    edges = _shared(spark, sf_dir, "edges")
    return label_prop_communities(nodes, edges)


def _q_kg_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-driven walk corpus from the md5-ticket seed
    slice (node2vec-style KGE training input, no RNG state): per step
    one frontier equi-join + one partial-agg min-of-struct."""
    from openie_spark.kg.analytics import hash_walks

    return hash_walks(_shared(spark, sf_dir, "nodes"), _shared(spark, sf_dir, "edges"))


def _q_kg_walk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context, n_pairs) co-occurrence table from
    the hash-walk corpus (|step distance| <= window) — the word2vec/
    DeepWalk training input; walk-sized self-join + one partial agg."""
    from openie_spark.kg.analytics import walk_skipgram_pairs

    nodes = _shared(spark, sf_dir, "nodes")
    edges = _shared(spark, sf_dir, "edges")
    return walk_skipgram_pairs(nodes, edges)


def _q_kg_conv_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate conversation pairs: turn-flattened conversations
    (+ planted perturbed twins as ground truth) through the standard
    minhash-LSH + exact-Jaccard pair path — catches re-run agent
    transcripts that turn-level dedup never sees."""
    from openie_spark.kg.dialogue import conv_neardup_pairs
    from openie_spark.sources.transcripts import read_transcripts

    return conv_neardup_pairs(read_transcripts(_tune(spark), sf_dir))


def _q_kg_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-binned degree distribution (bit-length bins, isolated
    nodes at bin 0) — the skew profile that sizes salting/hub caps;
    one degree agg + one ≤64-group collapse."""
    from openie_spark.kg.analytics import degree_histogram

    nodes = _shared(spark, sf_dir, "nodes")
    edges = _shared(spark, sf_dir, "edges")
    return degree_histogram(nodes, edges)


def _q_kg_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core membership + residual core degree via monotone peeling
    (converges in a handful of node-sized semi-join/agg rounds; fails
    loudly rather than returning an unpeeled core)."""
    from openie_spark.kg.analytics import kcore

    return kcore(_shared(spark, sf_dir, "nodes"), _shared(spark, sf_dir, "edges"))


def _q_kg_truss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-truss edge decomposition over the entity CO-MENTION graph
    (edges embedded in >= 1 triangle within the surviving set,
    monotone peel — the edge-level k-core). The relation KG itself is
    near-bipartite (subject->object edges; triangle-free on this
    corpus at every sf), so the truss runs where triangles live:
    conversations mentioning >= 3 entities contribute cliques.
    Restricted to the REPEATED backbone (n_convs >= 2): a single
    conversation's clique puts every one of its edges in trivial
    triangles — support there measures conversation size, not
    association strength — and those one-off cliques also dominate
    the enumeration cost (the full-graph truss at sf0.1 spends ~106s
    confirming noise the min-conv floor removes for 6s)."""
    from pyspark.sql import functions as F

    from openie_spark.kg.analytics import ASSOC_MIN_CONVS, truss

    nodes = _shared(spark, sf_dir, "nodes")
    co = (_shared(spark, sf_dir, "comention")
          .where(F.col("n_convs") >= ASSOC_MIN_CONVS)
          .select(F.col("a").alias("src_id"), F.col("b").alias("dst_id")))
    return truss(nodes, co)


def _q_kg_salsa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALSA hub/authority scores: integer-exact degree-normalized
    HITS over the simple directed graph, 5 Gauss-Seidel steps."""
    from openie_spark.kg.analytics import salsa

    return salsa(_shared(spark, sf_dir, "nodes"), _shared(spark, sf_dir, "edges"))


def _q_kg_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficients over the REPEATED co-mention
    backbone (n_convs >= 2 — the same base and the same rationale as
    kg_truss: one-off conversation cliques force cc ~ 1 on every
    member, measuring conversation size rather than neighborhood
    cohesion, and their triangles dominated the enumeration — 35s of
    the sf0.1 bench vs ~2s on the backbone)."""
    from pyspark.sql import functions as F

    from openie_spark.kg.analytics import (
        ASSOC_MIN_CONVS,
        clustering_coefficients,
    )

    nodes = _shared(spark, sf_dir, "nodes")
    co = (_shared(spark, sf_dir, "comention")
          .where(F.col("n_convs") >= ASSOC_MIN_CONVS)
          .select(F.col("a").alias("src_id"), F.col("b").alias("dst_id")))
    return clustering_coefficients(nodes, co)


def _q_kg_rel_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMIE-style per-relation cardinality profile (functionality and
    inverse functionality as exact round-half-up ppm)."""
    from openie_spark.kg.analytics import relation_cardinality

    return relation_cardinality(_shared(spark, sf_dir, "edges"))


def _q_kg_assoc_dice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity association strength: co-mention pairs scored by exact
    integer-ppm Dice over conversation support (min support 2)."""
    from openie_spark.kg.analytics import assoc_dice

    return assoc_dice(_shared(spark, sf_dir, "edges"))


def _q_kg_wpagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the co-mention graph (w = conversation
    support), integer-exact with the overflow-free share split."""
    from pyspark.sql import functions as F

    from openie_spark.kg.analytics import weighted_pagerank

    nodes = _shared(spark, sf_dir, "nodes")
    pairs = _shared(spark, sf_dir, "comention").select(
        "a", "b", F.col("n_convs").alias("w"))
    return weighted_pagerank(nodes, pairs)


def _q_kg_support_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-binned statement-support distribution (how often each
    distinct statement is re-asserted) — the KG trust profile."""
    from openie_spark.kg.analytics import support_histogram

    return support_histogram(_shared(spark, sf_dir, "edges"))


def _q_kg_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMIE-lite relation implication mining: ordered canonical-
    relation pairs with joint support and exact-ppm standard
    confidence — the ontology-merge candidate table."""
    from openie_spark.kg.analytics import rule_implications

    return rule_implications(_shared(spark, sf_dir, "edges"))


def _q_kg_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contradiction candidates: multi-object subjects on relations
    the corpus itself measures as near-functional — the KG trust
    triage queue."""
    from openie_spark.kg.analytics import functional_conflicts

    return functional_conflicts(_shared(spark, sf_dir, "edges"))


def _q_kg_type_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed quotient graph: the entity graph collapsed to rule-ladder
    entity types (<= |types|^2 rows) with edge/statement/relation/
    endpoint counts per type pair."""
    from openie_spark.kg.analytics import type_pair_graph

    nodes = _shared(spark, sf_dir, "nodes")
    edges = _shared(spark, sf_dir, "edges")
    return type_pair_graph(nodes, edges)


def _q_kg_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG growth curve: per-epoch-day first-seen entity/statement
    counts with running cumulative totals."""
    from openie_spark.kg.analytics import kg_growth
    from openie_spark.sources.transcripts import read_transcripts

    edges = _shared(spark, sf_dir, "edges")
    return kg_growth(edges, read_transcripts(_tune(spark), sf_dir))


def _q_kg_linking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linking-stage quality audit: one-row recall of the minhash-LSH
    candidate path against the blocked exact-Jaccard ground truth
    (plus the extra pairs LSH finds that prefix blocking missed) —
    the P/R gate a production run asserts before publishing a
    re-linked graph."""
    from openie_spark.kg.linking import minhash_pairs, pair_generation_audit

    vocab = _shared(spark, sf_dir, "vocab")
    pairs = _shared(spark, sf_dir, "pairs")
    return pair_generation_audit(pairs, minhash_pairs(vocab))


def _q_kg_alias_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alias-count histogram over the node table — the over/under-
    merge audit of canonicalization; map-only + tiny collapse."""
    from openie_spark.kg.analytics import alias_histogram

    return alias_histogram(_shared(spark, sf_dir, "nodes"))


def _q_kg_role_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-protocol transition matrix: adjacent-turn role
    bigrams with conv support and exact row-normalized ppm — one conv
    window shuffle, roles²-bounded output."""
    from openie_spark.kg.dialogue import role_transitions
    from openie_spark.sources.transcripts import read_transcripts

    return role_transitions(read_transcripts(_tune(spark), sf_dir))


def _q_kg_tool_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tool usage profile over the agent corpus: call volume, conv
    support, payload chars, and integer-minute turnaround to the next
    turn — one conv window shuffle, tools-sized output."""
    from openie_spark.kg.dialogue import tool_stats
    from openie_spark.sources.transcripts import read_transcripts

    return tool_stats(read_transcripts(_tune(spark), sf_dir))


def _q_kg_tool_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tool-invocation transition matrix (workflow mining): adjacent
    tool calls per conversation with conv support and exact row ppm —
    role_transitions' twin on the tool axis."""
    from openie_spark.kg.dialogue import tool_sequences
    from openie_spark.sources.transcripts import read_transcripts

    return tool_sequences(read_transcripts(_tune(spark), sf_dir))


def _q_kg_kge_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered-ranking KGE evaluation harness (Bordes 2013 protocol)
    over the graph's own split + negatives, scored with md5-integer
    TransE-L1 stand-in embeddings — certifies the eval machinery
    (ranks, tie order, MRR/Hits rollups) bit-for-bit."""
    from openie_spark.kg.analytics import kge_rank_eval

    nodes = _shared(spark, sf_dir, "nodes")
    edges = _shared(spark, sf_dir, "edges")
    return kge_rank_eval(nodes, edges)


def _q_kg_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-sliced KG: statements known at the corpus-midpoint cutoff
    with at-T mention counts — the temporal materialization's
    headline consumer query."""
    from openie_spark.kg.analytics import kg_snapshot
    from openie_spark.sources.transcripts import read_transcripts

    edges = _shared(spark, sf_dir, "edges")
    return kg_snapshot(edges, read_transcripts(_tune(spark), sf_dir))


def _q_kg_blocking_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-skew observability (the lineage metric the pipeline
    records per vocab stage, as a first-class query): block counts,
    hot blocks over the MAX_BLOCK cap, and the mentions those drops
    cost — the number a production run watches before re-linking.
    Measured over the LINKABLE slice (n_tokens <= MAX_MENTION_TOKENS),
    the exact population exact_pairs/editdist_pairs block — so the
    readout is the pair-stage view, not a vocabulary superset."""
    from openie_spark.kg.linking import linkable, skew_stats

    return skew_stats(linkable(_shared(spark, sf_dir, "vocab")))


def _q_kg_pairs_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant linking candidates: capped blocking + Levenshtein
    <= 3 verification with the threshold pushed into Spark's early-
    exit three-arg levenshtein."""
    from openie_spark.kg.linking import editdist_pairs

    return editdist_pairs(_shared(spark, sf_dir, "vocab"))


def _q_kg_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit of the materialized graph (six
    must-be-zero counts: dangling endpoints, duplicate ids, self
    loops, broken display rows) — anti-joins + filters over id-width
    projections, the publish gate a production run asserts on."""
    from openie_spark.kg.analytics import graph_integrity
    from openie_spark.kg.graph import display_labels

    nodes = _shared(spark, sf_dir, "nodes")
    edges = _shared(spark, sf_dir, "edges")
    canon = _shared(spark, sf_dir, "components")
    return graph_integrity(nodes, edges, display_labels(canon))


def _q_kg_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank anchored on the md5-ticket seed slice
    (integer-exact seed-teleport recurrence, partition-once iterate-
    lazily shape shared with kg_pagerank)."""
    from openie_spark.kg.analytics import personalized_pagerank

    nodes = _shared(spark, sf_dir, "nodes")
    edges = _shared(spark, sf_dir, "edges")
    return personalized_pagerank(nodes, edges)


def _q_kg_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-hop BFS (K=3) from a deterministic md5-ticket seed slice over
    the undirected canonical entity graph: min hop distance per
    reachable entity — derived as min-over-sources from the memoized
    labeled-BFS table shared with kg_harmonic (seed-set distance ==
    min per-source distance; one partial-agg groupBy)."""
    from openie_spark.kg.analytics import khop_distances

    nodes = _shared(spark, sf_dir, "nodes")
    edges = _shared(spark, sf_dir, "edges")
    return khop_distances(nodes, edges,
                          ball=_shared(spark, sf_dir, "seed_ball"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "transcripts_derive": _q_transcripts,
        "sentence_segment": _q_sentences,
        "predicate_spans": _q_spans,
        "triples_extract": _q_triples,
        "triples_extract_neural": _q_triples_neural,
        "carb_score_self": _q_carb_self,
        "carb_score_degraded": _q_carb_degraded,
        "carb_o2o_sweep": _q_carb_o2o_sweep,
        "carb_oie16": _q_carb_oie16,
        "carb_pr_sweep": _q_carb_pr_sweep,
        "kg_mentions": _q_kg_mentions,
        "kg_pairs_exact": _q_kg_pairs,
        "kg_pairs_minhash": _q_kg_pairs_minhash,
        "kg_pairs_editdist": _q_kg_pairs_editdist,
        "kg_components": _q_kg_components,
        "kg_nodes": _q_kg_nodes,
        "kg_edges": _q_kg_edges,
        "kg_degree": _q_kg_degree,
        "kg_relations": _q_kg_relations,
        "kg_display": _q_kg_display,
        "kg_entity_types": _q_kg_entity_types,
        "kg_relation_canon": _q_kg_relation_canon,
        "kg_salience": _q_kg_salience,
        "kg_coref": _q_kg_coref,
        "kg_coref_edges": _q_kg_coref_edges,
        "kg_topic_segments": _q_kg_topic_segments,
        "kg_dialogue_stats": _q_kg_dialogue_stats,
        "kg_segment_salience": _q_kg_segment_salience,
        "kg_schema": _q_kg_schema,
        "kg_temporal": _q_kg_temporal,
        "kg_export_nt": _q_kg_export_nt,
        "kg_export_graphml": _q_kg_export_graphml,
        "kg_metapaths": _q_kg_metapaths,
        "kg_comention": _q_kg_comention,
        "kg_neighbor_jaccard": _q_kg_neighbor_jaccard,
        "kg_linkpred_ra": _q_kg_linkpred_ra,
        "kg_negatives": _q_kg_negatives,
        "kg_nodes_incremental": _q_kg_nodes_incremental,
        "kg_edges_incremental": _q_kg_edges_incremental,
        "kg_pairs_incremental": _q_kg_pairs_incremental,
        "kg_pagerank": _q_kg_pagerank,
        "kg_triangles": _q_kg_triangles,
        "kg_khop": _q_kg_khop,
        "kg_harmonic": _q_kg_harmonic,
        "kg_seed_distances": _q_kg_seed_distances,
        "kg_statement_roles": _q_kg_statement_roles,
        "kg_ppr": _q_kg_ppr,
        "kg_integrity": _q_kg_integrity,
        "kg_communities": _q_kg_communities,
        "kg_community_stats": _q_kg_community_stats,
        "kg_kcore": _q_kg_kcore,
        "kg_truss": _q_kg_truss,
        "kg_clustering": _q_kg_clustering,
        "kg_rel_cardinality": _q_kg_rel_cardinality,
        "kg_assoc_dice": _q_kg_assoc_dice,
        "kg_wpagerank": _q_kg_wpagerank,
        "kg_support_hist": _q_kg_support_hist,
        "kg_rules": _q_kg_rules,
        "kg_conflicts": _q_kg_conflicts,
        "kg_type_graph": _q_kg_type_graph,
        "kg_growth": _q_kg_growth,
        "kg_linking_eval": _q_kg_linking_eval,
        "kg_mixing": _q_kg_mixing,
        "kg_blocking_stats": _q_kg_blocking_stats,
        "kg_snapshot": _q_kg_snapshot,
        "kg_kge_eval": _q_kg_kge_eval,
        "kg_role_transitions": _q_kg_role_transitions,
        "kg_tool_stats": _q_kg_tool_stats,
        "kg_tool_sequences": _q_kg_tool_sequences,
        "kg_alias_hist": _q_kg_alias_hist,
        "kg_salsa": _q_kg_salsa,
        "kg_degree_hist": _q_kg_degree_hist,
        "kg_conv_neardup": _q_kg_conv_neardup,
        "kg_walks": _q_kg_walks,
        "kg_walk_pairs": _q_kg_walk_pairs,
        "kg_edge_split": _q_kg_edge_split,
        "kg_yield": _q_kg_yield,
        "kg_timeline": _q_kg_timeline,
        "kg_reply_latency": _q_kg_reply_latency,
        "kg_summary": _q_kg_summary,
        "turn_text_invariant": _q_turn_invariant,
    }


def oracle_sql() -> dict[str, str]:
    from openie_spark.plans import oracles as o

    return {
        "transcripts_derive": o.transcripts_sql(),
        "sentence_segment": o.sentences_sql(),
        "predicate_spans": o.spans_sql(),
        "triples_extract": o.triples_sql(),
        "carb_score_self": o.carb_self_sql(),
        "kg_mentions": o.kg_mentions_sql(),
        "kg_pairs_exact": o.kg_pairs_sql(),
        "kg_pairs_minhash": o.kg_pairs_minhash_sql(),
        "kg_pairs_editdist": o.kg_pairs_editdist_sql(),
        "kg_components": o.kg_components_sql(),
        "kg_nodes": o.kg_nodes_sql(),
        "kg_edges": o.kg_edges_sql(),
        "kg_degree": o.kg_degree_sql(),
        "kg_relations": o.kg_relations_sql(),
        "kg_display": o.kg_display_sql(),
        "kg_entity_types": o.kg_entity_types_sql(),
        "kg_relation_canon": o.kg_relation_canon_sql(),
        "kg_salience": o.kg_salience_sql(),
        "kg_coref": o.kg_coref_sql(),
        "kg_coref_edges": o.kg_coref_edges_sql(),
        "kg_topic_segments": o.kg_topic_segments_sql(),
        "kg_dialogue_stats": o.dialogue_stats_sql(),
        "kg_segment_salience": o.kg_segment_salience_sql(),
        "kg_schema": o.kg_schema_sql(),
        "kg_temporal": o.kg_temporal_sql(),
        "kg_export_nt": o.kg_export_nt_sql(),
        "kg_export_graphml": o.kg_export_graphml_sql(),
        "kg_metapaths": o.kg_metapaths_sql(),
        "kg_comention": o.kg_comention_sql(),
        "kg_neighbor_jaccard": o.kg_neighbor_jaccard_sql(),
        "kg_linkpred_ra": o.kg_linkpred_ra_sql(),
        "kg_negatives": o.kg_negatives_sql(),
        "kg_nodes_incremental": o.kg_nodes_sql(),
        "kg_edges_incremental": o.kg_edges_sql(),
        "kg_pairs_incremental": o.kg_pairs_sql(),
        "kg_pagerank": o.kg_pagerank_sql(),
        "kg_triangles": o.kg_triangles_sql(),
        "kg_khop": o.kg_khop_sql(),
        "kg_harmonic": o.kg_harmonic_sql(),
        "kg_seed_distances": o.kg_seed_distances_sql(),
        "kg_statement_roles": o.kg_statement_roles_sql(),
        "kg_ppr": o.kg_ppr_sql(),
        "kg_integrity": o.kg_integrity_sql(),
        "kg_communities": o.kg_lpa_sql(),
        "kg_community_stats": o.kg_community_stats_sql(),
        "kg_kcore": o.kg_kcore_sql(),
        "kg_truss": o.kg_truss_sql(),
        "kg_clustering": o.kg_clustering_sql(),
        "kg_rel_cardinality": o.kg_rel_cardinality_sql(),
        "kg_assoc_dice": o.kg_assoc_dice_sql(),
        "kg_wpagerank": o.kg_wpagerank_sql(),
        "kg_support_hist": o.kg_support_hist_sql(),
        "kg_rules": o.kg_rules_sql(),
        "kg_conflicts": o.kg_conflicts_sql(),
        "kg_type_graph": o.kg_type_graph_sql(),
        "kg_growth": o.kg_growth_sql(),
        "kg_linking_eval": o.kg_linking_eval_sql(),
        "kg_mixing": o.kg_mixing_sql(),
        "kg_blocking_stats": o.kg_blocking_stats_sql(),
        "kg_snapshot": o.kg_snapshot_sql(),
        "kg_kge_eval": o.kg_kge_eval_sql(),
        "kg_role_transitions": o.kg_role_transitions_sql(),
        "kg_tool_stats": o.kg_tool_stats_sql(),
        "kg_tool_sequences": o.kg_tool_sequences_sql(),
        "kg_alias_hist": o.kg_alias_hist_sql(),
        "kg_salsa": o.kg_salsa_sql(),
        "kg_degree_hist": o.kg_degree_hist_sql(),
        "kg_conv_neardup": o.conv_minhash_pairs_sql(),
        "kg_walks": o.kg_walks_sql(),
        "kg_walk_pairs": o.kg_walk_pairs_sql(),
        "kg_edge_split": o.kg_edge_split_sql(),
        "kg_yield": o.kg_yield_sql(),
        "kg_timeline": o.kg_timeline_sql(),
        "kg_reply_latency": o.kg_reply_latency_sql(),
        "kg_summary": o.kg_summary_sql(),
        "turn_text_invariant": o.turn_invariant_sql(),
    }
