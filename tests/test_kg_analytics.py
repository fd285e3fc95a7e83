"""Graph analytics over the KG (kg/analytics.py): integer-exact
PageRank, degree-oriented triangle counting, relation weights.

PageRank is checked against an independent pure-Python implementation
of the same pinned integer recurrence (a third engine besides Spark
and the DuckDB oracle); triangles against hand-counted graphs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

_EDGE_SCHEMA = ("src_id string, dst_id string, pred string, conv_id string, "
                "turn_idx int, sent_idx int, ext_idx int")


def _edges(spark, pairs, preds=None, convs=None):
    rows = [
        (a, b,
         (preds or {}).get((a, b), "rel"),
         (convs or {}).get((a, b), "c0"), 0, 0, i)
        for i, (a, b) in enumerate(pairs)
    ]
    return spark.createDataFrame(rows, _EDGE_SCHEMA)


def _nodes(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "entity_id string")


def _pagerank_py(ids, pairs, iters, scale):
    """Independent reference: same integer recurrence, plain dicts."""
    simple = sorted({(a, b) for a, b in pairs if a != b})
    out_deg: dict = {}
    for a, _ in simple:
        out_deg[a] = out_deg.get(a, 0) + 1
    rank = {v: scale for v in ids}
    base = (15 * scale) // 100
    for _ in range(iters):
        in_sum = {v: 0 for v in ids}
        for a, b in simple:
            in_sum[b] += rank[a] // out_deg[a]
        rank = {v: base + (85 * in_sum[v]) // 100 for v in ids}
    return rank


@pytest.mark.parametrize("iters", [1, 5])
def test_pagerank_matches_python_reference(spark, iters):
    from openie_spark.kg.analytics import PAGERANK_SCALE, pagerank

    ids = list("abcdef")
    # cycle + chord + dangling node f + isolated e; duplicate
    # provenance edges and a self-loop must be ignored
    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"),
             ("c", "d"), ("d", "f"), ("a", "b"), ("b", "b")]
    got = {
        r.entity_id: r.rank
        for r in pagerank(_nodes(spark, ids), _edges(spark, pairs),
                          iters=iters).collect()
    }
    assert got == _pagerank_py(ids, pairs, iters, PAGERANK_SCALE)


def test_pagerank_randomized_vs_python(spark):
    import random

    from openie_spark.kg.analytics import PAGERANK_SCALE, pagerank

    rng = random.Random(13)
    ids = [f"n{i}" for i in range(40)]
    pairs = [(rng.choice(ids), rng.choice(ids)) for _ in range(200)]
    got = {
        r.entity_id: r.rank
        for r in pagerank(_nodes(spark, ids), _edges(spark, pairs)).collect()
    }
    assert got == _pagerank_py(ids, pairs, 5, PAGERANK_SCALE)


def test_triangles_k4_plus_pendant(spark):
    from openie_spark.kg.analytics import triangle_counts

    ids = list("abcdez")
    # K4 on a,b,c,d (one edge given in BOTH directions — the
    # undirected dedup must collapse it), pendant e off a, isolated z
    pairs = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
             ("b", "d"), ("c", "d"), ("d", "c"), ("a", "e")]
    got = {
        (r.entity_id): (r.deg, r.n_tri)
        for r in triangle_counts(_nodes(spark, ids),
                                 _edges(spark, pairs)).collect()
    }
    # K4 has 4 triangles; every K4 node is in C(3,2)=3 of them
    assert got == {
        "a": (4, 3), "b": (3, 3), "c": (3, 3), "d": (3, 3),
        "e": (1, 0), "z": (0, 0),
    }


def test_triangles_randomized_vs_bruteforce(spark):
    import itertools
    import random

    from openie_spark.kg.analytics import triangle_counts

    rng = random.Random(29)
    ids = [f"n{i}" for i in range(25)]
    pairs = [(rng.choice(ids), rng.choice(ids)) for _ in range(120)]
    und = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    n_tri = {v: 0 for v in ids}
    deg = {v: 0 for v in ids}
    for a, b in und:
        deg[a] += 1
        deg[b] += 1
    for x, y, z in itertools.combinations(sorted(ids), 3):
        if {tuple(sorted((x, y))), tuple(sorted((y, z))),
                tuple(sorted((x, z)))} <= und:
            for v in (x, y, z):
                n_tri[v] += 1
    got = {
        r.entity_id: (r.deg, r.n_tri)
        for r in triangle_counts(_nodes(spark, ids),
                                 _edges(spark, pairs)).collect()
    }
    assert got == {v: (deg[v], n_tri[v]) for v in ids}


def test_relation_weights(spark):
    from openie_spark.kg.analytics import relation_weights

    pairs = [("a", "b"), ("a", "b"), ("a", "b"), ("b", "c")]
    preds = {("a", "b"): "likes", ("b", "c"): "knows"}
    convs = {("b", "c"): "c9"}
    e = _edges(spark, pairs, preds, convs)
    # vary conv on ONE of the (a,b) mentions to get n_convs=2
    e = e.withColumn(
        "conv_id",
        F.when(F.col("ext_idx") == 2, F.lit("c1")).otherwise(F.col("conv_id")))
    got = {(r.src_id, r.dst_id, r.pred): (r.n_mentions, r.n_convs)
           for r in relation_weights(e).collect()}
    assert got == {("a", "b", "likes"): (3, 2), ("b", "c", "knows"): (1, 1)}


# --------------------------------------------------------------- khop

def _khop_ticket(eid: str) -> int:
    import hashlib

    from openie_spark.kg.analytics import KHOP_SALT
    h = hashlib.md5(f"{KHOP_SALT}#{eid}".encode()).hexdigest()
    return int(h[:15], 16)


def test_khop_distances_path_and_min_dist(spark):
    from openie_spark.kg.analytics import KHOP_SEED_MOD, khop_distances

    ids = [f"e{i}" for i in range(4000)]
    seeds = [e for e in ids if _khop_ticket(e) % KHOP_SEED_MOD == 0]
    non = [e for e in ids if _khop_ticket(e) % KHOP_SEED_MOD != 0]
    s, n1, n2, n3, n4, iso_non = seeds[0], *non[:5]
    iso_seed = seeds[1]
    # path s-n1-n2-n3-n4, plus a shortcut s-n2 (min dist wins),
    # plus two isolated nodes (one seed, one not)
    edges = spark.createDataFrame(
        [(s, n1), (n1, n2), (n2, n3), (n3, n4), (s, n2)],
        "src_id string, dst_id string")
    nodes = spark.createDataFrame(
        [(e,) for e in [s, n1, n2, n3, n4, iso_non, iso_seed]],
        "entity_id string")
    got = {r.entity_id: r.dist for r in khop_distances(nodes, edges).collect()}
    assert got == {s: 0, iso_seed: 0, n1: 1, n2: 1, n3: 2, n4: 3}


def test_khop_unreachable_beyond_k(spark):
    from openie_spark.kg.analytics import KHOP_SEED_MOD, khop_distances

    ids = [f"x{i}" for i in range(4000)]
    seeds = [e for e in ids if _khop_ticket(e) % KHOP_SEED_MOD == 0]
    non = [e for e in ids if _khop_ticket(e) % KHOP_SEED_MOD != 0]
    s, chain = seeds[0], non[:5]
    path = [s] + chain           # s at dist 0, chain at 1..5
    edges = spark.createDataFrame(
        list(zip(path, path[1:])), "src_id string, dst_id string")
    nodes = spark.createDataFrame([(e,) for e in path], "entity_id string")
    got = {r.entity_id: r.dist
           for r in khop_distances(nodes, edges, k=3).collect()}
    assert got == {s: 0, chain[0]: 1, chain[1]: 2, chain[2]: 3}


def test_khop_empty_edge_set(spark):
    """No edges at all: only the seed slice comes back, at dist 0."""
    from openie_spark.kg.analytics import KHOP_SEED_MOD, khop_distances

    ids = [f"z{i}" for i in range(2000)]
    nodes = spark.createDataFrame([(e,) for e in ids], "entity_id string")
    edges = spark.createDataFrame([], "src_id string, dst_id string")
    got = {r.entity_id: r.dist for r in khop_distances(nodes, edges).collect()}
    want = {e: 0 for e in ids if _khop_ticket(e) % KHOP_SEED_MOD == 0}
    assert got == want and len(want) > 0


def test_khop_from_shared_ball_matches_standalone(spark):
    """The memo path: khop derived as min-over-sources from the
    labeled seed_ball_distances table must equal the standalone
    unlabeled BFS row-for-row (multi-seed graph with overlapping
    balls, so the min actually collapses something)."""
    from openie_spark.kg.analytics import (
        KHOP_SEED_MOD,
        khop_distances,
        seed_ball_distances,
    )

    ids = [f"e{i}" for i in range(4000)]
    seeds = [e for e in ids if _khop_ticket(e) % KHOP_SEED_MOD == 0]
    non = [e for e in ids if _khop_ticket(e) % KHOP_SEED_MOD != 0]
    s1, s2, (n1, n2, n3) = seeds[0], seeds[1], non[:3]
    # two seeds whose balls overlap on n2: s1-n1-n2, s2-n2, s2-n3
    edges = spark.createDataFrame(
        [(s1, n1), (n1, n2), (s2, n2), (s2, n3)],
        "src_id string, dst_id string")
    nodes = spark.createDataFrame(
        [(e,) for e in [s1, s2, n1, n2, n3]], "entity_id string")
    ball = seed_ball_distances(nodes, edges)
    via_ball = {r.entity_id: r.dist
                for r in khop_distances(nodes, edges, ball=ball).collect()}
    standalone = {r.entity_id: r.dist
                  for r in khop_distances(nodes, edges).collect()}
    assert via_ball == standalone
    assert via_ball[n2] == 1        # min(dist from s1 = 2, from s2 = 1)


def test_harmonic_from_shared_ball_matches_standalone(spark):
    """harmonic_centrality(ball=...) over a precomputed labeled BFS
    equals the self-computed path."""
    from openie_spark.kg.analytics import (
        KHOP_SEED_MOD,
        harmonic_centrality,
        seed_ball_distances,
    )

    ids = [f"e{i}" for i in range(4000)]
    seeds = [e for e in ids if _khop_ticket(e) % KHOP_SEED_MOD == 0]
    non = [e for e in ids if _khop_ticket(e) % KHOP_SEED_MOD != 0]
    s1, s2, (n1, n2) = seeds[0], seeds[1], non[:2]
    edges = spark.createDataFrame(
        [(s1, n1), (n1, n2), (s2, n2)], "src_id string, dst_id string")
    nodes = spark.createDataFrame(
        [(e,) for e in [s1, s2, n1, n2]], "entity_id string")
    ball = seed_ball_distances(nodes, edges)
    key = lambda rows: {r.entity_id: (r.n_reached, r.harmonic_ppm)  # noqa: E731
                        for r in rows}
    assert key(harmonic_centrality(nodes, edges, ball=ball).collect()) \
        == key(harmonic_centrality(nodes, edges).collect())


def test_seed_pair_distances_hand_golden(spark):
    """Two seeds joined by a 2-hop path through a non-seed, plus a
    non-seed leaf: only seed-to-seed rows come back, both
    orientations, no self rows, nothing beyond k."""
    from openie_spark.kg.analytics import (
        KHOP_SEED_MOD,
        seed_ball_distances,
        seed_pair_distances,
    )

    ids = [f"e{i}" for i in range(4000)]
    seeds = [e for e in ids if _khop_ticket(e) % KHOP_SEED_MOD == 0]
    non = [e for e in ids if _khop_ticket(e) % KHOP_SEED_MOD != 0]
    s1, s2, s3, (n1, n2) = seeds[0], seeds[1], seeds[2], non[:2]
    # s1-n1-s2 (2 hops), n1-n2 leaf; s3 isolated
    edges = spark.createDataFrame(
        [(s1, n1), (n1, s2), (n1, n2)], "src_id string, dst_id string")
    nodes = spark.createDataFrame(
        [(e,) for e in [s1, s2, s3, n1, n2]], "entity_id string")
    got = {(r.src, r.dst): r.dist
           for r in seed_pair_distances(nodes, edges).collect()}
    assert got == {(s1, s2): 2, (s2, s1): 2}
    # the memo path agrees with the standalone path
    ball = seed_ball_distances(nodes, edges)
    via = {(r.src, r.dst): r.dist
           for r in seed_pair_distances(nodes, edges, ball=ball).collect()}
    assert via == got


def test_ball_rejects_non_default_k_or_seed_mod(spark):
    """A precomputed ball fixes k and seed_mod; asking any of its three
    consumers for other values raises instead of silently answering
    for the ball's values."""
    from openie_spark.kg.analytics import (
        KHOP_K,
        KHOP_SEED_MOD,
        harmonic_centrality,
        khop_distances,
        seed_pair_distances,
    )

    nodes = spark.createDataFrame([("a",), ("b",)], "entity_id string")
    edges = spark.createDataFrame([("a", "b")], "src_id string, dst_id string")
    ball = spark.createDataFrame(
        [("a", "a", 0)], "src string, entity_id string, dist int")
    for fn in (khop_distances, harmonic_centrality, seed_pair_distances):
        for kw in ({"k": KHOP_K + 1}, {"seed_mod": KHOP_SEED_MOD + 1}):
            with pytest.raises(ValueError, match="precomputed ball"):
                fn(nodes, edges, ball=ball, **kw)
        fn(nodes, edges, ball=ball, k=KHOP_K, seed_mod=KHOP_SEED_MOD)


def test_graph_summary_hand_values(spark):
    """Triangle + pendant + isolated node; one duplicated provenance
    edge and one self-loop mention."""
    from openie_spark.kg.analytics import graph_summary

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("a", "c"), ("c", "d"),
         ("a", "a")],                     # dup {a,b} + self-loop
        "src_id string, dst_id string")
    nodes = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",), ("e",)], "entity_id string")
    got = {r.metric: r.value for r in graph_summary(nodes, edges).collect()}
    assert got == {
        "n_nodes": 5,
        "n_prov_edges": 6,
        "n_simple_edges": 5,    # a->b, b->a, b->c, a->c, c->d
        "n_und_edges": 4,       # {a,b}, {b,c}, {a,c}, {c,d}
        "n_isolated": 1,        # e
        "max_degree": 3,        # c
        "sum_degree": 8,        # 2 * n_und_edges
    }


# ---------------------------------------------------- temporal edges

def test_temporal_relations_hand_values(spark):
    """Validity interval = [min ts, max ts] of the provenance
    mentions, epoch-microsecond integers; support counts match
    relation_weights semantics."""
    import datetime as dt

    from openie_spark.kg.analytics import temporal_relations

    pairs = [("a", "b"), ("a", "b"), ("b", "c")]
    preds = {("a", "b"): "likes", ("b", "c"): "knows"}
    e = _edges(spark, pairs, preds)
    # spread the (a,b) mentions across convs/turns with known times
    e = (e.withColumn("conv_id",
                      F.when(F.col("ext_idx") == 1, F.lit("c1"))
                       .otherwise(F.col("conv_id")))
          .withColumn("turn_idx",
                      F.when(F.col("ext_idx") == 1, F.lit(5))
                       .otherwise(F.col("turn_idx"))))
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    tr = spark.createDataFrame(
        [("c0", 0, t0), ("c1", 5, dt.datetime(2024, 1, 2, 0, 0, 0))],
        "conv_id string, turn_idx int, ts timestamp")
    got = {(r.src_id, r.dst_id, r.pred):
           (r.n_mentions, r.n_convs, r.first_us, r.last_us)
           for r in temporal_relations(e, tr).collect()}
    us0 = int(t0.timestamp() * 1_000_000)
    day = 86_400 * 1_000_000
    assert got == {
        ("a", "b", "likes"): (2, 2, us0, us0 + day),
        ("b", "c", "knows"): (1, 1, us0, us0),
    }


def test_export_ntriples_lines(spark):
    from openie_spark.kg.analytics import export_ntriples

    nodes = spark.createDataFrame(
        [("e1", "acme corp"), ("e2", "bob")],
        "entity_id string, canonical string")
    edges = spark.createDataFrame(
        [("e1", "e2", "was founded by"), ("e1", "e2", "was founded by")],
        "src_id string, dst_id string, pred string")
    got = sorted(r.nt for r in export_ntriples(nodes, edges).collect())
    assert got == [
        '<urn:kg:ent:e1> <urn:kg:label> "acme corp" .',
        '<urn:kg:ent:e1> <urn:kg:rel:was_founded_by> <urn:kg:ent:e2> .',
        '<urn:kg:ent:e2> <urn:kg:label> "bob" .',
    ]


def test_comention_pairs_hand_values(spark):
    from openie_spark.kg.analytics import comention_pairs

    pairs = [("a", "b"), ("b", "c"), ("a", "b")]
    convs = {("b", "c"): "c0"}   # default conv c0; move one (a,b) to c1
    e = _edges(spark, pairs, convs=convs)
    e = e.withColumn(
        "conv_id",
        F.when(F.col("ext_idx") == 2, F.lit("c1")).otherwise(F.col("conv_id")))
    got = {(r.a, r.b): r.n_convs for r in comention_pairs(e).collect()}
    assert got == {("a", "b"): 2, ("a", "c"): 1, ("b", "c"): 1}


def test_comention_cap_bounds_fanout(spark):
    """cap=3 keeps the 3 lowest entity_ids per conversation — exactly
    C(3,2)=3 pairs survive from a 6-entity conversation."""
    from openie_spark.kg.analytics import comention_pairs

    e = _edges(spark, [("e0", "e1"), ("e2", "e3"), ("e4", "e5")])
    got = {(r.a, r.b) for r in comention_pairs(e, cap=3).collect()}
    assert got == {("e0", "e1"), ("e0", "e2"), ("e1", "e2")}


def test_negative_samples_ring_pick(spark):
    """Negatives match a pure-python recompute of the md5 hash-ring
    pick, never collide with src/dst, and are partitioning-stable."""
    import hashlib

    from openie_spark.kg.analytics import (
        NEG_BUCKETS,
        NEG_PER_POS,
        NEG_SALT,
        negative_samples,
    )

    ids = [f"ent{i:02d}" for i in range(30)]
    nodes = _nodes(spark, ids)
    pairs = [("ent00", "ent01"), ("ent02", "ent03"), ("ent04", "ent05")]
    e = _edges(spark, pairs)

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    reps = {}
    for eid in ids:
        b = h60(f"{NEG_SALT}e#{eid}") % NEG_BUCKETS
        reps[b] = min(reps.get(b, eid), eid)
    expected = set()
    for src, dst in pairs:
        for j in range(NEG_PER_POS):
            b = h60(f"{NEG_SALT}#{j}#{src}#rel#{dst}") % NEG_BUCKETS
            neg = reps.get(b)
            if neg is not None and neg != dst and neg != src:
                expected.add((src, "rel", dst, neg, j))
    got = {(r.src_id, r.pred, r.dst_id, r.neg_dst, r.neg_idx)
           for r in negative_samples(nodes, e).collect()}
    assert got == expected and expected
    again = {(r.src_id, r.pred, r.dst_id, r.neg_dst, r.neg_idx)
             for r in negative_samples(nodes.repartition(5),
                                       e.repartition(3)).collect()}
    assert again == got


def _nj(spark, pairs, **kw):
    from openie_spark.kg.analytics import neighbor_jaccard

    out = neighbor_jaccard(_edges(spark, pairs), **kw)
    return {(r.a, r.b): (r.n_common, r.deg_a, r.deg_b, r.jaccard_ppm)
            for r in out.collect()}


def test_neighbor_jaccard_triangle_plus_pendant(spark):
    """K3 {a,b,c} with pendant d on c — every pair hand-computed:
    n_common via shared pivots, union = deg_a + deg_b - n_common,
    round-half-up integer ppm."""
    got = _nj(spark, [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")])
    assert got == {
        ("a", "b"): (1, 2, 2, 333333),   # share c; union 3
        ("a", "c"): (1, 2, 3, 250000),   # share b; union 4
        ("b", "c"): (1, 2, 3, 250000),   # share a
        ("a", "d"): (1, 2, 1, 500000),   # share c; union 2
        ("b", "d"): (1, 2, 1, 500000),
    }


def test_neighbor_jaccard_min_common_filter(spark):
    """C4 a-b-c-d-a: (a,c) and (b,d) share TWO neighbors; the four
    adjacent pairs share one and drop at min_common=2."""
    got = _nj(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d")],
              min_common=2)
    assert got == {
        ("a", "c"): (2, 2, 2, 1000000),  # N(a)=N(c)={b,d}
        ("b", "d"): (2, 2, 2, 1000000),
    }


def test_neighbor_jaccard_hub_cap_and_determinism(spark):
    """A star hub with 5 leaves and cap=3: only the 3 lowest-id leaves
    pair up (deterministic keep rule); degrees stay EXACT (uncapped)."""
    pairs = [("hub", f"n{i}") for i in range(5)]
    got = _nj(spark, pairs, cap=3)
    assert set(got) == {("n0", "n1"), ("n0", "n2"), ("n1", "n2")}
    assert all(v == (1, 1, 1, 1000000) for v in got.values())
    # partition-count invariance
    from openie_spark.kg.analytics import neighbor_jaccard

    again = neighbor_jaccard(_edges(spark, pairs).repartition(7), cap=3)
    assert {(r.a, r.b) for r in again.collect()} == set(got)


def _ra(spark, pairs, **kw):
    from openie_spark.kg.analytics import resource_allocation

    out = resource_allocation(_edges(spark, pairs), **kw)
    return {(r.a, r.b): (r.n_common, r.ra_ppm) for r in out.collect()}


def test_resource_allocation_square_golden(spark):
    """C4 a-b-c-d-a: the two diagonals each share TWO deg-2 pivots ->
    ra_ppm = 2 * floor(1e6/2); the four adjacent pairs are edges and
    must never appear (link prediction = missing edges only)."""
    got = _ra(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d")])
    assert got == {
        ("a", "c"): (2, 1000000),
        ("b", "d"): (2, 1000000),
    }


def test_resource_allocation_excludes_existing_edges(spark):
    """K3 {a,b,c} + pendant d on c, min_common=1: (a,b) shares pivot c
    but IS an edge -> excluded; (a,d)/(b,d) share the deg-3 pivot c ->
    floor(1e6/3) = 333333 (true degree, uncapped)."""
    got = _ra(spark, [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")],
              min_common=1)
    assert got == {
        ("a", "d"): (1, 333333),
        ("b", "d"): (1, 333333),
    }


def test_resource_allocation_random_python_twin(spark):
    """Randomized parity vs an independent pure-python RA computation
    (same cap rule: pivots emit only their cap lowest-id neighbors,
    weights from TRUE degree), plus partition-count invariance."""
    import random

    rnd = random.Random(417)
    names = [f"e{i}" for i in range(18)]
    pairs = sorted({tuple(sorted(rnd.sample(names, 2)))
                    for _ in range(40)})
    cap, min_common = 4, 1

    adj = {}
    for x, y in pairs:
        adj.setdefault(x, set()).add(y)
        adj.setdefault(y, set()).add(x)
    edge_set = set(pairs)
    expected = {}
    for v, ns in adj.items():
        w = 1_000_000 // len(ns)
        kept = sorted(ns)[:cap]
        for i, a in enumerate(kept):
            for b in kept[i + 1:]:
                n, s = expected.get((a, b), (0, 0))
                expected[(a, b)] = (n + 1, s + w)
    expected = {k: v for k, v in expected.items()
                if v[0] >= min_common and k not in edge_set}

    got = _ra(spark, pairs, cap=cap, min_common=min_common)
    assert got == expected and expected

    from openie_spark.kg.analytics import resource_allocation

    again = resource_allocation(_edges(spark, pairs).repartition(7),
                                cap=cap, min_common=min_common)
    assert {(r.a, r.b): (r.n_common, r.ra_ppm)
            for r in again.collect()} == expected


def test_export_graphml_parses_and_counts(spark):
    """Reassembled document is well-formed XML; node/edge elements
    match the inputs; line keys are unique within parts."""
    import xml.etree.ElementTree as ET

    from openie_spark.kg.analytics import export_graphml

    edges = _edges(spark, [("a", "b"), ("b", "c"), ("a", "b")],
                   preds={("a", "b"): "runs", ("b", "c"): "has merged"})
    nodes = spark.createDataFrame(
        [("a", "alpha scan", 1, 1), ("b", "beta", 1, 1), ("c", "gamma", 1, 1)],
        "entity_id string, canonical string, n_aliases int, freq long")
    rows = export_graphml(nodes, edges).collect()
    assert len({(r.part, r.line) for r in rows}) == len(rows)
    doc = "\n".join(r.xml for r in sorted(rows, key=lambda r: (r.part, r.line)))
    ns = "{http://graphml.graphdrawing.org/xmlns}"
    root = ET.fromstring(doc)
    g = root.find(f"{ns}graph")
    xml_nodes = g.findall(f"{ns}node")
    xml_edges = g.findall(f"{ns}edge")
    assert {n.get("id") for n in xml_nodes} == {"a", "b", "c"}
    assert {n.find(f"{ns}data").text for n in xml_nodes} == {"alpha scan", "beta", "gamma"}
    # dup (a,b,runs) provenance collapses to one distinct edge element
    assert {(e.get("source"), e.get("target"), e.find(f"{ns}data").text)
            for e in xml_edges} == {("a", "b", "runs"), ("b", "c", "has merged")}


def test_metapath_counts_hand_golden(spark):
    from openie_spark.kg.analytics import metapath_counts

    edges = _edges(spark, [("a", "b"), ("b", "c"), ("a", "c"), ("c", "a")],
                   preds={("a", "b"): "runs", ("b", "c"): "has merged",
                          ("a", "c"): "runs", ("c", "a"): "links"})
    nodes = spark.createDataFrame(
        [("a", "dr smith", 1, 1), ("b", "acme corp", 1, 1),
         ("c", "table", 1, 1)],
        "entity_id string, canonical string, n_aliases int, freq long")
    got = {tuple(r)[:5]: r.n_paths
           for r in metapath_counts(nodes, edges).collect()}
    assert got == {
        ("person", "run", "org", "merg", "term"): 1,    # a->b->c
        ("org", "merg", "term", "link", "person"): 1,   # b->c->a
        ("person", "run", "term", "link", "person"): 1, # a->c->a round trip
        ("term", "link", "person", "run", "org"): 1,    # c->a->b
        ("term", "link", "person", "run", "term"): 1,   # c->a->c round trip
    }


def test_metapath_hub_cap(spark):
    """cap=1 keeps only the lowest (neighbor, rel) in- and out-edge of
    the hub -> exactly one path survives."""
    from openie_spark.kg.analytics import metapath_counts

    pairs = [(s, "hub") for s in ("s1", "s2", "s3")] + \
            [("hub", d) for d in ("d1", "d2")]
    edges = _edges(spark, pairs)
    nodes = spark.createDataFrame(
        [(i, i, 1, 1) for i in ("s1", "s2", "s3", "hub", "d1", "d2")],
        "entity_id string, canonical string, n_aliases int, freq long")
    full = metapath_counts(nodes, edges).collect()
    assert sum(r.n_paths for r in full) == 6          # 3 in x 2 out
    capped = metapath_counts(nodes, edges, cap=1).collect()
    assert sum(r.n_paths for r in capped) == 1


def _lpa_py(ids, pairs, iters):
    """Independent reference of the pinned synchronous LPA: per round
    every node adopts its neighbors' most frequent label, ties to the
    smallest label; isolated nodes keep their own."""
    sym: dict = {v: [] for v in ids}
    for a, b in sorted({(min(p), max(p)) for p in pairs if p[0] != p[1]}):
        sym[a].append(b)
        sym[b].append(a)
    lab = {v: v for v in ids}
    for _ in range(iters):
        new = {}
        for v in ids:
            if not sym[v]:
                new[v] = lab[v]
                continue
            votes: dict = {}
            for u in sym[v]:
                votes[lab[u]] = votes.get(lab[u], 0) + 1
            new[v] = min(votes, key=lambda l: (-votes[l], l))
        lab = new
    return lab


def test_lpa_two_cliques_converge(spark):
    """Two 3-cliques joined by one bridge edge: each clique collapses
    to its min label and the bridge does not merge them."""
    from openie_spark.kg.analytics import label_prop_communities

    ids = ["a1", "a2", "a3", "b1", "b2", "b3"]
    pairs = [("a1", "a2"), ("a2", "a3"), ("a1", "a3"),
             ("b1", "b2"), ("b2", "b3"), ("b1", "b3"),
             ("a3", "b1")]
    got = {
        r["entity_id"]: r["community"]
        for r in label_prop_communities(
            _nodes(spark, ids), _edges(spark, pairs)).collect()
    }
    assert got == _lpa_py(ids, pairs, 4)
    # Neighbor-only synchronous LPA: the a-clique converges to a1; the
    # b-clique converges to the *historical* label a3 that round 1
    # pushed across the bridge (classic LPA artifact, same as
    # GraphFrames) — the two communities are distinct, which is the
    # property that matters.
    assert got["a1"] == got["a2"] == got["a3"] == "a1"
    assert got["b1"] == got["b2"] == got["b3"] == "a3"
    assert got["a1"] != got["b1"]


def test_lpa_randomized_vs_python(spark):
    import random

    from openie_spark.kg.analytics import label_prop_communities

    rng = random.Random(7)
    ids = [f"n{i:02d}" for i in range(24)]
    pairs = [
        (rng.choice(ids), rng.choice(ids)) for _ in range(60)
    ]
    got = {
        r["entity_id"]: r["community"]
        for r in label_prop_communities(
            _nodes(spark, ids), _edges(spark, pairs), iters=3).collect()
    }
    assert got == _lpa_py(ids, pairs, 3)


def test_lpa_isolated_nodes_keep_label(spark):
    from openie_spark.kg.analytics import label_prop_communities

    got = {
        r["entity_id"]: r["community"]
        for r in label_prop_communities(
            _nodes(spark, ["x", "y", "z"]),
            _edges(spark, [("x", "y")])).collect()
    }
    assert got["z"] == "z"
    # A connected pair oscillates under synchronous neighbor-only LPA
    # (period 2); after an even round count both are back at self —
    # the pinned, deterministic behavior the oracle reproduces.
    assert got["x"] == "x" and got["y"] == "y"


def test_edge_split_partitions_and_filtered_flag(spark):
    from openie_spark.kg.analytics import edge_split

    ids = [f"e{i}" for i in range(30)]
    pairs = [(ids[i], ids[(i * 7 + 1) % 30]) for i in range(30)
             if ids[i] != ids[(i * 7 + 1) % 30]]
    preds = {p: f"r{i % 3}" for i, p in enumerate(pairs)}
    # occurrence duplicates must collapse: feed every edge twice
    edges = _edges(spark, pairs + pairs, preds={**preds})
    out = edge_split(edges).collect()
    # one row per DISTINCT statement
    assert len(out) == len({(a, preds[(a, b)], b) for a, b in pairs})
    assert {r.split for r in out} <= {"train", "valid", "test"}
    train_ents = {r.src_id for r in out if r.split == "train"} | {
        r.dst_id for r in out if r.split == "train"}
    train_preds = {r.pred for r in out if r.split == "train"}
    for r in out:
        want = r.split == "train" or (
            r.src_id in train_ents and r.dst_id in train_ents
            and r.pred in train_preds)
        assert r.eval_ok == want, r
    # determinism: same assignment on a second run
    again = {(r.src_id, r.pred, r.dst_id): r.split
             for r in edge_split(edges).collect()}
    assert again == {(r.src_id, r.pred, r.dst_id): r.split for r in out}


def test_edge_split_all_train_when_tiny(spark):
    """A statement set can land entirely in train; eval_ok then holds
    for every row and no valid/test leakage flag is spuriously true."""
    from openie_spark.kg.analytics import edge_split

    out = edge_split(_edges(spark, [("a", "b")])).collect()
    assert len(out) == 1
    # single statement: in train -> eval_ok; in valid/test the train
    # sets are empty -> not eval_ok
    assert out[0].eval_ok == (out[0].split == "train")


def test_extraction_yield_hand_values(spark):
    from openie_spark.kg.analytics import extraction_yield

    transcripts = spark.createDataFrame(
        [("c1", 0), ("c1", 1), ("c1", 2), ("c2", 0)],
        "conv_id string, turn_idx int")
    triples = spark.createDataFrame(
        # c1: turn 0 has 2 triples in 1 sentence + 1 in another,
        # turn 2 has 1; c2: none
        [("c1", 0, 0, 0), ("c1", 0, 0, 1), ("c1", 0, 1, 0), ("c1", 2, 0, 0)],
        "conv_id string, turn_idx int, sent_idx int, ext_idx int")
    got = {r.conv_id: r.asDict() for r in
           extraction_yield(transcripts, triples).collect()}
    c1 = got["c1"]
    assert (c1["n_turns"], c1["n_turns_with_triples"],
            c1["n_sents_with_triples"], c1["n_triples"]) == (3, 2, 3, 4)
    assert c1["coverage_ppm"] == (2 * 2 * 1_000_000 + 3) // 6
    assert c1["triples_per_turn_ppm"] == (2 * 4 * 1_000_000 + 3) // 6
    c2 = got["c2"]
    assert (c2["n_triples"], c2["coverage_ppm"], c2["triples_per_turn_ppm"]) == (0, 0, 0)


def test_entity_timeline_hand_values(spark):
    from openie_spark.kg.analytics import entity_timeline

    edges = spark.createDataFrame(
        [("a", "b", "r", "c1", 0), ("a", "c", "r", "c1", 1),
         ("a", "b", "r", "c2", 0)],
        "src_id string, dst_id string, pred string, conv_id string, turn_idx int")
    transcripts = spark.createDataFrame(
        [("c1", 0, "2024-01-01 00:00:00"), ("c1", 1, "2024-01-02 00:00:00"),
         ("c2", 0, "2024-01-02 12:00:00")],
        "conv_id string, turn_idx int, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {r.entity_id: r.asDict() for r in
           entity_timeline(edges, transcripts).collect()}
    a = got["a"]
    d0 = 1_704_067_200_000_000          # 2024-01-01T00:00Z epoch us
    assert (a["n_mentions"], a["n_convs"], a["active_days"]) == (3, 2, 2)
    assert (a["first_us"], a["last_us"]) == (d0, d0 + 36 * 3_600_000_000)
    b = got["b"]
    assert (b["n_mentions"], b["n_convs"], b["active_days"]) == (2, 2, 2)
    c = got["c"]
    assert (c["n_mentions"], c["n_convs"], c["active_days"]) == (1, 1, 1)


def test_reply_latency_hand_values(spark):
    from openie_spark.kg.analytics import reply_latency

    rows = [
        ("c1", 0, "user",      "2024-01-01 00:00:00"),
        ("c1", 1, "assistant", "2024-01-01 00:03:00"),   # 3 min
        ("c1", 2, "user",      "2024-01-01 00:05:00"),
        ("c1", 3, "tool",      "2024-01-01 00:06:00"),   # breaks adjacency
        ("c1", 4, "assistant", "2024-01-01 00:09:00"),   # not counted
        ("c1", 5, "user",      "2024-01-01 00:10:00"),
        ("c1", 6, "assistant", "2024-01-01 00:18:00"),   # 8 min
        ("c2", 0, "assistant", "2024-01-01 01:00:00"),   # no prior user
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {r.conv_id: r.asDict() for r in reply_latency(df).collect()}
    assert set(got) == {"c1"}
    c1 = got["c1"]
    assert (c1["n_replies"], c1["min_latency_min"],
            c1["max_latency_min"], c1["avg_latency_min"]) == (2, 3, 8, 5)


def _ppr_py(ids, pairs, seeds, iters, scale):
    """Independent reference: same seed-teleport integer recurrence."""
    simple = sorted({(a, b) for a, b in pairs if a != b})
    out_deg: dict = {}
    for a, _ in simple:
        out_deg[a] = out_deg.get(a, 0) + 1
    rank = {v: (scale if v in seeds else 0) for v in ids}
    base = (15 * scale) // 100
    for _ in range(iters):
        in_sum = {v: 0 for v in ids}
        for a, b in simple:
            in_sum[b] += rank[a] // out_deg[a]
        rank = {v: (base if v in seeds else 0) + (85 * in_sum[v]) // 100
                for v in ids}
    return rank


def test_ppr_matches_python_reference(spark):
    from openie_spark.kg.analytics import (
        KHOP_SEED_MOD, PAGERANK_SCALE, personalized_pagerank)

    ids = [f"e{i}" for i in range(3000)][:40]
    # find actual seeds among the ids under the pinned ticket rule
    seeds = {e for e in ids if _khop_ticket(e) % KHOP_SEED_MOD == 0}
    import random

    rng = random.Random(31)
    pairs = [(rng.choice(ids), rng.choice(ids)) for _ in range(150)]
    got = {r.entity_id: r.rank for r in personalized_pagerank(
        _nodes(spark, ids), _edges(spark, pairs)).collect()}
    assert got == _ppr_py(ids, pairs, seeds, 5, PAGERANK_SCALE)
    # teleport pays only seeds: a node with no in-edges and no seed
    # ticket must sit at exactly 0
    zero = [v for v in ids if v not in seeds
            and not any(b == v and a != b for a, b in pairs)]
    for v in zero:
        assert got[v] == 0


def test_graph_integrity_detectors_fire(spark):
    from openie_spark.kg.analytics import graph_integrity

    nodes = spark.createDataFrame(
        [("a",), ("b",), ("b",), ("c",)], "entity_id string")  # dup b
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "ghost"), ("phantom", "c"), ("c", "c")],
        "src_id string, dst_id string")
    display = spark.createDataFrame(
        [("a", "alpha"), ("b", "  "), ("zombie", "zed")],
        "entity_id string, display string")
    got = {r.metric: r.value
           for r in graph_integrity(nodes, edges, display).collect()}
    assert got == {
        "dangling_src": 1,      # phantom
        "dangling_dst": 1,      # ghost
        "dup_entity_ids": 1,    # b
        "self_loops": 1,        # c->c
        "empty_display": 1,     # b's blank name
        "dangling_display": 1,  # zombie
    }


def test_graph_integrity_all_zero_when_healthy(spark):
    from openie_spark.kg.analytics import graph_integrity

    nodes = spark.createDataFrame([("a",), ("b",)], "entity_id string")
    edges = spark.createDataFrame([("a", "b")], "src_id string, dst_id string")
    display = spark.createDataFrame(
        [("a", "alpha"), ("b", "beta")], "entity_id string, display string")
    got = {r.metric: r.value
           for r in graph_integrity(nodes, edges, display).collect()}
    assert set(got.values()) == {0} and len(got) == 6


def test_new_ops_survive_hostile_transcripts(spark):
    """The verify-skill probe set over the session's transcript-facing
    operators: null text / empty / whitespace-only / punct-only / long
    turn and null ts must not crash dialogue stats, reply latency,
    substring spans, or BPE learning."""
    from openie_spark.datapipe.dedup import substr_dup_spans
    from openie_spark.datapipe.textstats import bpe_learn_merges
    from openie_spark.kg.dialogue import dialogue_stats
    from openie_spark.kg.analytics import reply_latency  # noqa: F401

    long_turn = " ".join(f"w{i}" for i in range(120))
    rows = [
        ("h", 0, "user",      None,        None, "2024-01-01 00:00:00"),
        ("h", 1, "assistant", "",          None, "2024-01-01 00:01:00"),
        ("h", 2, "user",      "   ",       None, None),
        ("h", 3, "assistant", "!!! ...",   None, "2024-01-01 00:03:00"),
        ("h", 4, "tool",      long_turn,   "search", "2024-01-01 00:04:00"),
    ]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    ds = dialogue_stats(t).collect()
    assert len(ds) == 1 and ds[0].n_turns == 5
    rl = reply_latency(t).collect()          # null-ts gaps stay null, no crash
    assert len(rl) <= 1
    docs = t.select(F.col("turn_idx").cast("long").alias("doc_id"), "text")
    assert substr_dup_spans(docs).count() >= 0
    m = bpe_learn_merges(docs, n_merges=3).collect()
    assert all(r.n >= 1 for r in m)          # learned only from real words


def test_community_stats_two_cliques(spark):
    """Hand values on the two-clique bridge graph: after 4 LPA rounds
    communities are a1 (a-clique) and a3 (b-clique); the bridge is the
    only cut edge and is charged to both sides."""
    from openie_spark.kg.analytics import community_stats

    ids = ["a1", "a2", "a3", "b1", "b2", "b3"]
    pairs = [("a1", "a2"), ("a2", "a3"), ("a1", "a3"),
             ("b1", "b2"), ("b2", "b3"), ("b1", "b3"),
             ("a3", "b1")]
    got = {r.community: r.asDict() for r in community_stats(
        _nodes(spark, ids), _edges(spark, pairs)).collect()}
    assert set(got) == {"a1", "a3"}
    a, b = got["a1"], got["a3"]
    assert (a["n_members"], a["intra_edges"], a["cut_edges"]) == (3, 3, 1)
    assert (b["n_members"], b["intra_edges"], b["cut_edges"]) == (3, 3, 1)
    # degrees: a1,a2 = 2; a3,b1 = 3 (bridge); b2,b3 = 2
    assert a["degree_sum"] == 2 + 2 + 3
    assert b["degree_sum"] == 3 + 2 + 2
    assert a["intra_ppm"] == (2 * 3 * 1_000_000 + 4) // 8
    # isolated node forms a zero-edge singleton community
    got2 = {r.community: r.asDict() for r in community_stats(
        _nodes(spark, ["x", "y", "z"]), _edges(spark, [("x", "y")])).collect()}
    assert got2["z"]["n_members"] == 1
    assert got2["z"]["intra_edges"] == 0 and got2["z"]["intra_ppm"] == 0


def _kcore_py(pairs, k):
    """Independent reference: naive peel over python sets/dicts."""
    und = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    members = None
    while True:
        deg: dict = {}
        for a, b in und:
            if members is None or (a in members and b in members):
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
        new = {v: d for v, d in deg.items() if d >= k}
        if members is not None and set(new) == members:
            return new
        members = set(new)
        if not members:
            return {}


def test_kcore_peels_pendant_chain(spark):
    """Triangle + 3-hop pendant chain: the chain unravels one node per
    round (the multi-round path), leaving exactly the triangle with
    residual degree 2 everywhere."""
    from openie_spark.kg.analytics import kcore

    ids = list("abcdefx")  # x isolated
    pairs = [("a", "b"), ("b", "c"), ("c", "a"),
             ("a", "d"), ("d", "e"), ("e", "f"),
             ("a", "b")]  # duplicate provenance edge must not inflate degree
    got = {r.entity_id: r.core_degree
           for r in kcore(_nodes(spark, ids), _edges(spark, pairs)).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}


def test_kcore_tree_peels_to_empty(spark):
    from openie_spark.kg.analytics import kcore

    pairs = [("r", "a"), ("r", "b"), ("a", "c"), ("a", "d")]
    out = kcore(_nodes(spark, list("rabcd")), _edges(spark, pairs))
    assert out.count() == 0


def test_kcore_k3_keeps_k4(spark):
    """K4 with a pendant: 3-core == the K4, every member degree 3."""
    from openie_spark.kg.analytics import kcore

    k4 = [("a", "b"), ("a", "c"), ("a", "d"),
          ("b", "c"), ("b", "d"), ("c", "d"), ("d", "p")]
    got = {r.entity_id: r.core_degree for r in kcore(
        _nodes(spark, list("abcdp")), _edges(spark, k4), k=3).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}


def test_kcore_matches_python_reference_randomized(spark):
    """Erdos-Renyi-ish deterministic graph vs the naive python peeler."""
    import hashlib

    from openie_spark.kg.analytics import kcore

    ids = [f"n{i}" for i in range(40)]
    pairs = []
    for i in range(40):
        for j in range(i + 1, 40):
            h = hashlib.md5(f"kcore:{i}:{j}".encode()).hexdigest()
            if int(h, 16) % 13 == 0:
                pairs.append((f"n{i}", f"n{j}"))
    want = _kcore_py(pairs, 2)
    got = {r.entity_id: r.core_degree for r in kcore(
        _nodes(spark, ids), _edges(spark, pairs)).collect()}
    assert got == want


def test_kcore_raises_on_round_exhaustion(spark):
    """A 6-hop chain needs ~6 peel rounds; max_rounds=2 must fail
    loudly, never return a half-peeled core."""
    from openie_spark.kg.analytics import kcore

    chain = [(f"c{i}", f"c{i+1}") for i in range(6)]
    with pytest.raises(RuntimeError, match="no fixpoint"):
        kcore(_nodes(spark, [f"c{i}" for i in range(7)]),
              _edges(spark, chain), max_rounds=2)


def test_degree_histogram_hand_golden(spark):
    """Star S4 + isolated node: hub deg 4 -> bin 3, leaves deg 1 ->
    bin 1, isolated -> bin 0; duplicate provenance edges collapse."""
    from openie_spark.kg.analytics import degree_histogram

    ids = list("habcdz")  # h hub, z isolated
    pairs = [("h", "a"), ("h", "b"), ("h", "c"), ("h", "d"), ("h", "a")]
    got = {r.bin: (r.n_nodes, r.min_deg, r.max_deg, r.sum_deg)
           for r in degree_histogram(
               _nodes(spark, ids), _edges(spark, pairs)).collect()}
    assert got == {
        0: (1, 0, 0, 0),
        1: (4, 1, 1, 4),
        3: (1, 4, 4, 4),
    }


def test_hash_walks_matches_python_twin(spark):
    """Every step's hop equals the argmin-of-md5 neighbor computed by
    an independent python twin; dead ends stop early; revisits are
    allowed (a 2-path walk alternates)."""
    import hashlib

    from openie_spark.kg.analytics import hash_walks

    ids = list("abcdez")  # z isolated: walk = step 0 only
    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")]
    got = {}
    for r in hash_walks(_nodes(spark, ids), _edges(spark, pairs),
                        length=4, seed_mod=1).collect():
        got[(r.seed, r.step)] = r.node

    sym: dict = {}
    for a, b in pairs:
        sym.setdefault(a, set()).add(b)
        sym.setdefault(b, set()).add(a)

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    want = {}
    for seed in ids:
        node = seed
        want[(seed, 0)] = node
        for step in range(1, 5):
            nbrs = sym.get(node)
            if not nbrs:
                break
            node = min(nbrs, key=lambda n: (h60(f"{seed}#{step}#{n}"), n))
            want[(seed, step)] = node
    assert got == want
    assert (("z", 1) not in got) and (("z", 0) in got)


def test_hash_walks_partition_invariance(spark):
    from openie_spark.kg.analytics import hash_walks

    ids = [f"n{i}" for i in range(30)]
    pairs = [(f"n{i}", f"n{(i * 3 + 1) % 30}") for i in range(30)]
    a = sorted(tuple(r) for r in hash_walks(
        _nodes(spark, ids), _edges(spark, pairs), seed_mod=1).collect())
    b = sorted(tuple(r) for r in hash_walks(
        _nodes(spark, ids).repartition(7),
        _edges(spark, pairs).repartition(5), seed_mod=1).collect())
    assert a == b and len(a) > 0


def test_walk_skipgram_pairs_hand_golden(spark):
    """Pairs are within-walk, |i-j| <= window, multiplicity-counted;
    a walk that alternates a<->b produces repeated pairs."""
    from openie_spark.kg.analytics import hash_walks, walk_skipgram_pairs

    ids = ["a", "b"]
    pairs = [("a", "b")]
    walks = {(r.seed, r.step): r.node for r in hash_walks(
        _nodes(spark, ids), _edges(spark, pairs),
        length=2, seed_mod=1).collect()}
    # both walks alternate: a,b,a and b,a,b
    assert walks == {("a", 0): "a", ("a", 1): "b", ("a", 2): "a",
                     ("b", 0): "b", ("b", 1): "a", ("b", 2): "b"}
    got = {(r.center, r.context): r.n_pairs for r in walk_skipgram_pairs(
        _nodes(spark, ids), _edges(spark, pairs),
        length=2, window=1, seed_mod=1).collect()}
    # per walk: (0,1),(1,0),(1,2),(2,1) -> a->b x2 and b->a x2; both
    # walks are mirror images so counts double
    assert got == {("a", "b"): 4, ("b", "a"): 4}


def _truss_py(pairs, k):
    """Independent reference: naive support recompute + peel to
    fixpoint over plain python sets."""
    edges = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    while True:
        adj = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        sup = {(a, b): len(adj[a] & adj[b]) for a, b in edges}
        kept = {e for e in edges if sup[e] >= k - 2}
        if kept == edges:
            return {e: sup[e] for e in kept}
        edges = kept


def _truss(spark, pairs, **kw):
    from openie_spark.kg.analytics import truss

    nodes = _nodes(spark, sorted({v for p in pairs for v in p}))
    out = truss(nodes, _edges(spark, pairs), **kw)
    return {(r.a, r.b): r.support for r in out.collect()}


def test_truss_k4_golden(spark):
    """K4: every edge closes 2 triangles -> the whole graph is its own
    3-truss (and 4-truss), support 2 everywhere; a pendant edge and a
    duplicate provenance edge must not change that."""
    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
          ("c", "d")]
    got = _truss(spark, k4 + [("d", "e"), ("a", "b")])
    assert got == {e: 2 for e in k4}


def test_truss_cascade_peel(spark):
    """K4 minus one edge under k=4: only (a,b) has support 2 in round
    1, but alone it closes nothing in round 2 -> empty truss. The
    2-round cascade is what distinguishes truss from one-shot support
    filtering."""
    pairs = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d")]
    assert _truss(spark, pairs, k=4) == {}
    # same graph at k=3: both triangles survive, shared edge support 2
    assert _truss(spark, pairs, k=3) == {
        ("a", "b"): 2, ("a", "c"): 1, ("b", "c"): 1,
        ("a", "d"): 1, ("b", "d"): 1}


def test_truss_rejects_k2_and_handles_empty(spark):
    from openie_spark.kg.analytics import truss

    with pytest.raises(ValueError):
        truss(_nodes(spark, ["a"]), _edges(spark, [("a", "b")]), k=2)
    # triangle-free graph -> empty 3-truss, stable schema
    got = _truss(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    assert got == {}


def test_truss_random_python_twin(spark):
    import random

    rnd = random.Random(991)
    names = [f"t{i}" for i in range(14)]
    pairs = sorted({tuple(sorted(rnd.sample(names, 2)))
                    for _ in range(45)})
    expected = _truss_py(pairs, 3)
    got = _truss(spark, pairs)
    assert got == expected and expected

    from openie_spark.kg.analytics import truss

    nodes = _nodes(spark, names)
    again = truss(nodes, _edges(spark, pairs).repartition(7))
    assert {(r.a, r.b): r.support for r in again.collect()} == expected


def _salsa_py(ids, pairs, iters, scale):
    """Independent reference: the same pinned integer Gauss-Seidel
    recurrence over plain dicts."""
    simple = sorted({(a, b) for a, b in pairs if a != b})
    od, idg = {}, {}
    for a, b in simple:
        od[a] = od.get(a, 0) + 1
        idg[b] = idg.get(b, 0) + 1
    hub = {v: scale for v in ids}
    auth = dict(hub)
    for _ in range(iters):
        auth = {v: 0 for v in ids}
        for a, b in simple:
            auth[b] += hub[a] // od[a]
        hub = {v: 0 for v in ids}
        for a, b in simple:
            hub[a] += auth[b] // idg[b]
    return auth, hub


def test_salsa_hand_golden_one_iter(spark):
    """a->b, a->c, b->c + isolated d, SCALE=1e9, one iteration:
    auth(b) = S//2, auth(c) = S//2 + S; hub reads the FRESH auth:
    hub(a) = auth(b)//1 + auth(c)//2, hub(b) = auth(c)//2."""
    from openie_spark.kg.analytics import salsa

    S = 10**9
    out = salsa(_nodes(spark, list("abcd")),
                _edges(spark, [("a", "b"), ("a", "c"), ("b", "c")]),
                iters=1, scale=S)
    got = {r.entity_id: (r.auth, r.hub) for r in out.collect()}
    assert got == {
        "a": (0, S // 2 + (3 * S // 2) // 2),
        "b": (S // 2, (3 * S // 2) // 2),
        "c": (3 * S // 2, 0),
        "d": (0, 0),
    }


def test_salsa_random_python_twin(spark):
    """Randomized parity vs the independent python recurrence (incl.
    self-loop/duplicate-edge dropping), plus partition invariance."""
    import random

    from openie_spark.kg.analytics import PAGERANK_SCALE, salsa

    rnd = random.Random(4177)
    ids = [f"s{i}" for i in range(12)]
    pairs = [(rnd.choice(ids), rnd.choice(ids)) for _ in range(40)]
    auth, hub = _salsa_py(ids, pairs, 5, PAGERANK_SCALE)
    expected = {v: (auth[v], hub[v]) for v in ids}

    out = salsa(_nodes(spark, ids), _edges(spark, pairs))
    got = {r.entity_id: (r.auth, r.hub) for r in out.collect()}
    assert got == expected and any(v != (0, 0) for v in expected.values())

    again = salsa(_nodes(spark, ids), _edges(spark, pairs).repartition(5))
    assert {r.entity_id: (r.auth, r.hub)
            for r in again.collect()} == expected


def test_clustering_coefficients_hand_golden(spark):
    """K4 + pendant e on d + isolated f: K4-only nodes have cc = 1
    (neighborhood is a clique); d's pendant dilutes it to
    2*3*1e6 DIV (4*3); deg<2 nodes report 0."""
    from openie_spark.kg.analytics import clustering_coefficients

    pairs = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
             ("c", "d"), ("d", "e")]
    out = clustering_coefficients(_nodes(spark, list("abcdef")),
                                  _edges(spark, pairs))
    got = {r.entity_id: (r.deg, r.n_tri, r.cc_ppm) for r in out.collect()}
    assert got == {
        "a": (3, 3, 1_000_000),
        "b": (3, 3, 1_000_000),
        "c": (3, 3, 1_000_000),
        "d": (4, 3, 500_000),
        "e": (1, 0, 0),
        "f": (0, 0, 0),
    }


def test_clustering_random_python_twin(spark):
    import random

    from openie_spark.kg.analytics import clustering_coefficients

    rnd = random.Random(311)
    ids = [f"c{i}" for i in range(15)]
    pairs = sorted({tuple(sorted(rnd.sample(ids, 2))) for _ in range(40)})
    adj = {v: set() for v in ids}
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    expected = {}
    for v in ids:
        deg = len(adj[v])
        tri = sum(
            1 for a in adj[v] for b in adj[v]
            if a < b and b in adj[a])
        cc = (2 * tri * 1_000_000) // (deg * (deg - 1)) if deg >= 2 else 0
        expected[v] = (deg, tri, cc)

    out = clustering_coefficients(_nodes(spark, ids), _edges(spark, pairs))
    got = {r.entity_id: (r.deg, r.n_tri, r.cc_ppm) for r in out.collect()}
    assert got == expected and any(v[2] for v in expected.values())


def test_relation_cardinality_hand_golden(spark):
    """pred 'leads': a->b, a->c, d->b (3 stmts, 2 src, 2 dst);
    pred 'owns': functional a->b (1,1,1); duplicate provenance rows
    and a self-loop collapse/drop before counting."""
    from openie_spark.kg.analytics import relation_cardinality

    pairs = [("a", "b"), ("a", "c"), ("d", "b"), ("a", "b"), ("e", "e")]
    preds = {("a", "b"): "leads", ("a", "c"): "leads", ("d", "b"): "leads",
             ("e", "e"): "leads"}
    rows = [
        ("a", "b", "leads", "c0", 0, 0, 0),
        ("a", "c", "leads", "c0", 0, 0, 1),
        ("d", "b", "leads", "c0", 0, 0, 2),
        ("a", "b", "leads", "c1", 0, 0, 3),   # dup statement
        ("e", "e", "leads", "c0", 0, 0, 4),   # self loop
        ("a", "b", "owns", "c0", 0, 0, 5),
    ]
    df = spark.createDataFrame(rows, _EDGE_SCHEMA)
    got = {r.pred: (r.n_edges, r.n_src, r.n_dst, r.fun_ppm, r.inv_fun_ppm)
           for r in relation_cardinality(df).collect()}
    assert got == {
        "leads": (3, 2, 2, (2 * 2 * 1_000_000 + 3) // 6,
                  (2 * 2 * 1_000_000 + 3) // 6),
        "owns": (1, 1, 1, 1_000_000, 1_000_000),
    }
    assert preds and pairs  # docs the fixture shape


def test_assoc_dice_hand_golden(spark):
    """Entities a,b co-mentioned in 2 convs; a,c in 1 (below the
    min-conv floor -> dropped). Marginals over the same capped sets:
    n_a=3 (c0,c1,c2), n_b=2 -> dice = 2*2/(3+2)."""
    from openie_spark.kg.analytics import assoc_dice

    rows = [
        ("a", "b", "rel", "c0", 0, 0, 0),
        ("a", "b", "rel", "c1", 0, 0, 1),
        ("a", "c", "rel", "c2", 0, 0, 2),
    ]
    df = spark.createDataFrame(rows, _EDGE_SCHEMA)
    got = {(r.a, r.b): (r.n_convs, r.n_a, r.n_b, r.dice_ppm)
           for r in assoc_dice(df).collect()}
    assert got == {
        ("a", "b"): (2, 3, 2, (2 * 4 * 1_000_000 + 5) // 10),
    }


def test_assoc_dice_python_twin(spark):
    import random

    from openie_spark.kg.analytics import assoc_dice

    rnd = random.Random(733)
    rows = []
    for i in range(60):
        conv = f"c{rnd.randrange(8)}"
        a, b = rnd.sample([f"e{j}" for j in range(10)], 2)
        rows.append((a, b, "rel", conv, 0, 0, i))
    df = spark.createDataFrame(rows, _EDGE_SCHEMA)

    by_conv = {}
    for a, b, _, conv, *_ in rows:
        by_conv.setdefault(conv, set()).update((a, b))
    marg, sup = {}, {}
    for conv, ents in by_conv.items():
        for e in ents:       # 10 entities < cap: no truncation
            marg[e] = marg.get(e, 0) + 1
        es = sorted(ents)
        for i, a in enumerate(es):
            for b in es[i + 1:]:
                sup[(a, b)] = sup.get((a, b), 0) + 1
    expected = {
        k: (n, marg[k[0]], marg[k[1]],
            (2 * 2 * n * 1_000_000 + marg[k[0]] + marg[k[1]])
            // (2 * (marg[k[0]] + marg[k[1]])))
        for k, n in sup.items() if n >= 2
    }

    got = {(r.a, r.b): (r.n_convs, r.n_a, r.n_b, r.dice_ppm)
           for r in assoc_dice(df).collect()}
    assert got == expected and expected


def _wpr_py(ids, wpairs, iters, scale):
    """Independent reference: the same weighted integer recurrence
    (incl. the overflow-free share split) over plain dicts."""
    sym = [(a, b, w) for a, b, w in wpairs] + \
          [(b, a, w) for a, b, w in wpairs]
    s = {}
    for a, _, w in sym:
        s[a] = s.get(a, 0) + w
    rank = {v: scale for v in ids}
    base = (15 * scale) // 100
    for _ in range(iters):
        in_sum = {v: 0 for v in ids}
        for a, b, w in sym:
            in_sum[b] += w * (rank[a] // s[a]) + (w * (rank[a] % s[a])) // s[a]
        rank = {v: base + (85 * in_sum[v]) // 100 for v in ids}
    return rank


def test_weighted_pagerank_python_twin(spark):
    """Randomized parity vs the independent python recurrence; a
    heavy edge must pull more rank than a light one from the same
    source; partition invariance."""
    import random

    from openie_spark.kg.analytics import PAGERANK_SCALE, weighted_pagerank

    rnd = random.Random(9009)
    ids = [f"w{i}" for i in range(10)]
    wpairs = sorted({tuple(sorted(rnd.sample(ids, 2)))
                     for _ in range(18)})
    wpairs = [(a, b, rnd.randrange(1, 9)) for a, b in wpairs]
    expected = _wpr_py(ids, wpairs, 5, PAGERANK_SCALE)

    pdf = spark.createDataFrame(wpairs, "a string, b string, w long")
    nodes = _nodes(spark, ids)
    got = {r.entity_id: r.rank
           for r in weighted_pagerank(nodes, pdf).collect()}
    assert got == expected

    again = {r.entity_id: r.rank
             for r in weighted_pagerank(nodes, pdf.repartition(5)).collect()}
    assert again == expected


def test_weighted_pagerank_weight_pull(spark):
    """Star a-{b,c} with w(a,b)=9, w(a,c)=1: b receives 9x c's share
    from a each round, so rank(b) > rank(c) strictly."""
    from openie_spark.kg.analytics import weighted_pagerank

    pdf = spark.createDataFrame(
        [("a", "b", 9), ("a", "c", 1)], "a string, b string, w long")
    got = {r.entity_id: r.rank
           for r in weighted_pagerank(_nodes(spark, list("abc")), pdf).collect()}
    assert got["b"] > got["c"] > 0


def test_support_histogram_hand_golden(spark):
    """Statements with supports {1, 1, 2, 4}: bin = bit_length ->
    bin1 holds the two singletons, bin2 the support-2, bin3 the
    support-4; self-loops never count."""
    from openie_spark.kg.analytics import support_histogram

    rows = []
    i = 0
    for (s, d, p), n in {("a", "b", "r1"): 1, ("a", "c", "r1"): 1,
                         ("b", "c", "r2"): 2, ("c", "d", "r2"): 4}.items():
        for _ in range(n):
            rows.append((s, d, p, f"c{i}", 0, 0, i))
            i += 1
    rows.append(("e", "e", "r1", "cx", 0, 0, 99))   # self loop: dropped
    df = spark.createDataFrame(rows, _EDGE_SCHEMA)
    got = {r.bin: (r.n_statements, r.min_support, r.max_support,
                   r.sum_support)
           for r in support_histogram(df).collect()}
    assert got == {1: (2, 1, 1, 2), 2: (1, 2, 2, 2), 3: (1, 4, 4, 4)}


# ------------------------------------------------- rule implications

def test_rule_implications_hand_golden(spark):
    """Two (src,dst) keys share rels A and B, a third has A only:
    A=>B conf 2/3, B=>A conf 2/2; surface inflections group onto one
    canonical relation before mining."""
    from openie_spark.kg.analytics import rule_implications

    rows = [
        # (x1,y1): "owns" + "acquired"; (x2,y2): "own" (inflection of
        # owns) + "acquired"; (x3,y3): "owns" only.
        ("x1", "y1", "owns"), ("x1", "y1", "acquired"),
        ("x2", "y2", "own"), ("x2", "y2", "acquired"),
        ("x3", "y3", "owns"),
        # duplicate provenance must not inflate support
        ("x1", "y1", "owns"),
    ]
    e = spark.createDataFrame(
        [(a, b, p, "c0", 0, 0, i) for i, (a, b, p) in enumerate(rows)],
        _EDGE_SCHEMA)
    got = {(r.body, r.head): (r.n_both, r.n_body, r.conf_ppm)
           for r in rule_implications(e).collect()}
    # "owns"/"own" -> canon "own" (plural strip), "acquired" -> "acquir"
    assert got == {
        ("own", "acquir"): (2, 3, 666667),
        ("acquir", "own"): (2, 2, 1000000),
    }


def test_rule_implications_min_support_and_selfloop(spark):
    """min_support=2 drops single-key co-assertions; the default
    (min_support=1) keeps them; self-loop statements never count
    either way."""
    from openie_spark.kg.analytics import rule_implications

    rows = [("x1", "y1", "likes"), ("x1", "y1", "knows"),
            ("s", "s", "likes"), ("s", "s", "knows")]
    e = spark.createDataFrame(
        [(a, b, p, "c0", 0, 0, i) for i, (a, b, p) in enumerate(rows)],
        _EDGE_SCHEMA)
    assert rule_implications(e, min_support=2).count() == 0
    got = {(r.body, r.head): r.n_both
           for r in rule_implications(e).collect()}
    assert got == {("like", "know"): 1, ("know", "like"): 1}


def test_rule_implications_cap_keeps_lowest_rels(spark):
    """The per-(src,dst) cap keeps the lexicographically lowest rels
    — deterministic, and the body marginal uses the SAME capped set so
    n_both <= n_body holds exactly."""
    from openie_spark.kg.analytics import rule_implications

    rows = ([("x1", "y1", p) for p in ("aaa", "bbb", "ccc", "ddd")]
            + [("x2", "y2", p) for p in ("aaa", "bbb", "ccc", "ddd")])
    e = spark.createDataFrame(
        [(a, b, p, "c0", 0, 0, i) for i, (a, b, p) in enumerate(rows)],
        _EDGE_SCHEMA)
    got = {(r.body, r.head): (r.n_both, r.n_body)
           for r in rule_implications(e, cap=2).collect()}
    # only aaa/bbb survive the cap on both keys
    assert got == {("aaa", "bbb"): (2, 2), ("bbb", "aaa"): (2, 2)}


def test_rule_implications_randomized_python_twin(spark):
    """Parity vs an independent python miner on a random corpus
    (preds chosen to be lemma-stable so the twin needs no ladder)."""
    import random

    from openie_spark.kg.analytics import rule_implications

    rng = random.Random(7)
    ents = [f"e{i}" for i in range(8)]
    rels = ["alpha", "beta", "gamma", "delta"]
    rows = []
    for i in range(120):
        a, b = rng.sample(ents, 2)
        rows.append((a, b, rng.choice(rels), "c0", 0, 0, i))
    e = spark.createDataFrame(rows, _EDGE_SCHEMA)

    stmts = sorted({(a, b, p) for a, b, p, *_ in rows if a != b})
    per_key: dict = {}
    for a, b, p in stmts:
        per_key.setdefault((a, b), []).append(p)
    capped = []
    for k, ps in per_key.items():
        capped += [(k, p) for p in sorted(ps)[:16]]
    n_body: dict = {}
    for _, p in capped:
        n_body[p] = n_body.get(p, 0) + 1
    n_both: dict = {}
    for k, ps in per_key.items():
        keep = sorted(ps)[:16]
        for p1 in keep:
            for p2 in keep:
                if p1 != p2:
                    n_both[(p1, p2)] = n_both.get((p1, p2), 0) + 1
    want = {(b, h): (n, n_body[b], (2 * n * 10**6 + n_body[b]) // (2 * n_body[b]))
            for (b, h), n in n_both.items() if n >= 2}
    got = {(r.body, r.head): (r.n_both, r.n_body, r.conf_ppm)
           for r in rule_implications(e, min_support=2).collect()}
    assert got == want


# ---------------------------------------------- functional conflicts

def test_functional_conflicts_hand_golden(spark):
    """Only near-functional relations (fun >= floor over >= min
    statements) emit their multi-object subjects; property-tag
    relations and under-supported relations never do."""
    from openie_spark.kg.analytics import functional_conflicts

    rows = (
        # "capital": 5 subjects, one with 2 objs -> fun 5/6 = 833333
        [(f"s{i}", f"o{i}", "capital") for i in range(5)]
        + [("s0", "o9", "capital")]
        # extra provenance mention of an existing statement (counts in
        # n_mentions, not in n_objs)
        + [("s0", "o9", "capital")]
        # "tag": 2 subjects x 3 objs -> fun 2/6 = 333333, excluded
        + [(f"t{i}", f"u{j}", "tag") for i in range(2) for j in range(3)]
        # "rare": functional but only 3 stmts < min_edges=4
        + [(f"r{i}", f"q{i}", "rare") for i in range(3)]
    )
    e = spark.createDataFrame(
        [(a, b, p, "c0", 0, 0, i) for i, (a, b, p) in enumerate(rows)],
        _EDGE_SCHEMA)
    got = {(r.pred, r.src_id): (r.n_objs, r.n_mentions)
           for r in functional_conflicts(e).collect()}
    assert got == {("capital", "s0"): (2, 3)}


# -------------------------------------------------- type quotient graph

def test_type_pair_graph_hand_golden(spark):
    """Endpoint types via the rule ladder; occurrence vs distinct-
    statement counts split; self loops dropped; output keyed by type
    pair."""
    from openie_spark.kg.analytics import type_pair_graph

    nodes = spark.createDataFrame(
        [("n1", "mr smith", 1, 3), ("n2", "acme inc", 1, 2),
         ("n3", "dr jones", 1, 1), ("n4", "1999", 1, 1)],
        "entity_id string, canonical string, n_aliases int, freq long")
    rows = [
        ("n1", "n2", "runs"), ("n1", "n2", "runs"),   # dup provenance
        ("n3", "n2", "joined"),
        ("n1", "n4", "born"),
        ("n2", "n2", "self"),                          # self loop: out
    ]
    e = spark.createDataFrame(
        [(a, b, p, "c0", 0, 0, i) for i, (a, b, p) in enumerate(rows)],
        _EDGE_SCHEMA)
    got = {(r.src_type, r.dst_type):
           (r.n_edges, r.n_stmts, r.n_rels, r.n_src_ents, r.n_dst_ents)
           for r in type_pair_graph(nodes, e).collect()}
    assert got == {
        ("person", "org"): (3, 2, 2, 2, 1),
        ("person", "year"): (1, 1, 1, 1, 1),
    }


# ------------------------------------------------------- growth curve

def test_kg_growth_hand_golden(spark):
    """First-seen day per entity / per distinct statement; repeats on
    later days don't recount; cumulative totals run over the day
    table."""
    import datetime as dt

    from openie_spark.kg.analytics import kg_growth

    day0 = dt.datetime(2024, 1, 1)
    day1 = dt.datetime(2024, 1, 2)
    tr = spark.createDataFrame(
        [("c0", 0, day0), ("c1", 0, day1)],
        "conv_id string, turn_idx int, ts timestamp")
    rows = [
        ("a", "b", "likes", "c0"),   # day0: ents a,b; stmt 1
        ("a", "b", "likes", "c1"),   # day1 repeat: nothing new
        ("b", "c", "knows", "c1"),   # day1: ent c; stmt 2
    ]
    e = spark.createDataFrame(
        [(a, b, p, c, 0, 0, i) for i, (a, b, p, c) in enumerate(rows)],
        _EDGE_SCHEMA)
    got = {r.day: (r.new_entities, r.new_statements,
                   r.cum_entities, r.cum_statements)
           for r in kg_growth(e, tr).collect()}
    d0 = int(day0.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000) // 86_400_000_000
    assert got == {d0: (2, 1, 2, 1), d0 + 1: (1, 1, 3, 2)}


# ------------------------------------------------- degree mixing sums

def test_degree_mixing_sums_path_graph(spark):
    """Path a-b-c: ends (a,b),(b,a),(b,c),(c,b); degrees 1,2,1.
    Newman's r from the sums is exactly -1 for a path of length 2;
    duplicate/reversed/self-loop provenance collapses first."""
    from openie_spark.kg.analytics import degree_mixing_sums

    pairs = [("a", "b"), ("b", "a"), ("a", "b"), ("b", "c"), ("s", "s")]
    e = _edges(spark, pairs)
    r = degree_mixing_sums(e).collect()[0]
    assert (r.n_ends, r.s_d, r.s_prod, r.s_sq) == (4, 6, 8, 10)
    n, sd, sp, sq = r.n_ends, r.s_d, r.s_prod, r.s_sq
    assert (n * sp - sd * sd) / (n * sq - sd * sd) == -1.0


def test_kg_snapshot_midpoint_cutoff(spark):
    """Cutoff = (min+max) DIV 2 of observed mention times; later
    mentions of an early statement don't count toward n_mentions; a
    statement first seen after T is absent."""
    import datetime as dt

    from openie_spark.kg.analytics import kg_snapshot

    t0 = dt.datetime(2024, 1, 1)
    tr = spark.createDataFrame(
        [("c0", 0, t0), ("c1", 0, t0 + dt.timedelta(hours=10))],
        "conv_id string, turn_idx int, ts timestamp")
    rows = [
        ("a", "b", "likes", "c0"),   # at t0: inside the slice
        ("a", "b", "likes", "c1"),   # at t0+10h: beyond T=+5h
        ("b", "c", "knows", "c1"),   # first seen beyond T: absent
    ]
    e = spark.createDataFrame(
        [(a, b, p, c, 0, 0, i) for i, (a, b, p, c) in enumerate(rows)],
        _EDGE_SCHEMA)
    got = {(r.src_id, r.dst_id, r.pred): (r.n_mentions, r.first_us)
           for r in kg_snapshot(e, tr).collect()}
    us0 = int(t0.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    assert got == {("a", "b", "likes"): (1, us0)}


def test_new_analytics_survive_empty_graph(spark):
    """Hostile input: an empty edge table must yield empty outputs
    (not a crash) from every round-3 analytics operator, and the
    pair audit must report NULL recall (not divide-by-zero) on an
    empty ground truth."""
    import datetime as dt

    from openie_spark.kg.analytics import (
        degree_mixing_sums,
        functional_conflicts,
        kg_growth,
        kg_snapshot,
        rule_implications,
        type_pair_graph,
    )
    from openie_spark.kg.linking import pair_generation_audit

    e = spark.createDataFrame([], _EDGE_SCHEMA)
    nodes = spark.createDataFrame(
        [], "entity_id string, canonical string, n_aliases int, freq long")
    tr = spark.createDataFrame(
        [("c0", 0, dt.datetime(2024, 1, 1))],
        "conv_id string, turn_idx int, ts timestamp")
    assert rule_implications(e).count() == 0
    assert functional_conflicts(e).count() == 0
    assert type_pair_graph(nodes, e).count() == 0
    assert kg_growth(e, tr).count() == 0
    assert kg_snapshot(e, tr).count() == 0
    r = degree_mixing_sums(e).collect()[0]
    assert r.n_ends == 0 and r.s_d is None     # sums of nothing
    empty_pairs = spark.createDataFrame(
        [], "a string, b string, jaccard double")
    a = pair_generation_audit(empty_pairs, empty_pairs).collect()[0]
    assert (a.n_exact, a.n_both, a.recall_ppm) == (0, 0, None)


# ------------------------------------------------------ KGE rank eval

def _md5h60_py(s: str) -> int:
    import hashlib
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_kge_rank_eval_python_twin(spark):
    """Full-protocol parity vs an independent pure-python
    re-implementation (split tickets, train-coverage filter, hash-ring
    corruption, integer L1 scores, strict-better ranks with the
    entity-id tie order, round-half-up ppm rollups) on a random
    graph — a third engine beside Spark and the DuckDB oracle."""
    import random

    from openie_spark.kg.analytics import (
        KGE_DIM,
        KGE_NEGS,
        KGE_SALT,
        NEG_BUCKETS,
        NEG_SALT,
        SPLIT_MOD,
        SPLIT_SALT,
        SPLIT_TEST,
        kge_rank_eval,
    )

    rng = random.Random(11)
    ents = [f"e{i:02d}" for i in range(40)]
    rels = ["r1", "r2", "r3"]
    stmts = sorted({(rng.choice(ents), rng.choice(rels), rng.choice(ents))
                    for _ in range(400)})
    stmts = [(s, p, o) for s, p, o in stmts if s != o]
    e = spark.createDataFrame(
        [(s, o, p, "c0", 0, 0, i) for i, (s, p, o) in enumerate(stmts)],
        _EDGE_SCHEMA)
    nodes = spark.createDataFrame([(x,) for x in ents], "entity_id string")
    got = kge_rank_eval(nodes, e).collect()[0]

    # ---- independent python recompute
    def split_of(s, p, o):
        t = _md5h60_py(f"{SPLIT_SALT}|{s}|{p}|{o}") % SPLIT_MOD
        return "test" if t == SPLIT_TEST else ("valid" if t == 8 else "train")

    train = [x for x in stmts if split_of(*[x[0], x[1], x[2]]) == "train"]
    tents = {s for s, _, _ in train} | {o for _, _, o in train}
    tpreds = {p for _, p, _ in train}
    test = [x for x in stmts if split_of(*x) == "test"
            and x[0] in tents and x[2] in tents and x[1] in tpreds]
    reps: dict = {}
    for x in ents:
        b = _md5h60_py(f"{NEG_SALT}e#{x}") % NEG_BUCKETS
        reps[b] = min(reps.get(b, x), x)

    def comp(kind, ident, d):
        return _md5h60_py(f"{KGE_SALT}#{kind}#{ident}#{d}") % 2001 - 1000

    def score(s, p, t):
        return sum(abs(comp("e", s, d) + comp("r", p, d) - comp("e", t, d))
                   for d in range(KGE_DIM))

    known = set(stmts)
    n_test = n_cands = s_inv = h1 = h3 = h10 = 0
    for s, p, o in test:
        cands = []
        for j in range(KGE_NEGS):
            b = _md5h60_py(f"{NEG_SALT}#{j}#{s}#{p}#{o}") % NEG_BUCKETS
            # fully filtered: corruptions colliding with the triple's
            # own endpoints OR forming any known-true statement drop
            if (b in reps and reps[b] not in (s, o)
                    and (s, p, reps[b]) not in known):
                cands.append(reps[b])
        if not cands:
            continue
        st = score(s, p, o)
        better = sum(1 for c in cands
                     if score(s, p, c) < st or (score(s, p, c) == st and c < o))
        rank = 1 + better
        n_test += 1
        n_cands += len(cands)
        s_inv += 1000000 // rank
        h1 += rank <= 1
        h3 += rank <= 3
        h10 += rank <= 10

    assert n_test > 0, "fixture must produce a non-empty eval slice"

    def rhu(x, n):
        return (2 * x * 1000000 + n) // (2 * n)

    assert (got.n_test, got.n_candidates) == (n_test, n_cands)
    assert got.mrr_ppm == (2 * s_inv + n_test) // (2 * n_test)
    assert got.hits1_ppm == rhu(h1, n_test)
    assert got.hits3_ppm == rhu(h3, n_test)
    assert got.hits10_ppm == rhu(h10, n_test)


def test_alias_histogram_hand_golden(spark):
    from openie_spark.kg.analytics import alias_histogram

    nodes = spark.createDataFrame(
        [("e1", "a", 1, 5), ("e2", "b", 2, 5), ("e3", "c", 3, 5),
         ("e4", "d", 1, 5)],
        "entity_id string, canonical string, n_aliases int, freq long")
    got = {r.bin: (r.n_entities, r.min_aliases, r.max_aliases, r.sum_aliases)
           for r in alias_histogram(nodes).collect()}
    assert got == {1: (2, 1, 1, 2), 2: (2, 2, 3, 5)}


def test_kg_report_runs_and_gates(spark, capsys):
    """The operational health report renders every section from the
    oracle-backed queries and exits 0 on the healthy corpus."""
    import importlib.util
    import os as _os
    import sys as _sys

    spec = importlib.util.spec_from_file_location(
        "kg_report", _os.path.join(
            _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
            "tools", "kg_report.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    argv = _sys.argv
    _sys.argv = ["kg_report.py", "/root/testdata/sf0.001"]
    try:
        rc = mod.main()
    finally:
        _sys.argv = argv
    out = capsys.readouterr().out
    assert rc == 0
    assert "PUBLISH OK" in out
    for section in ("Referential integrity", "Linking quality",
                    "Canonicalization", "Statement support", "Growth",
                    "Extraction yield"):
        assert section in out


def test_growth_snapshot_typegraph_randomized_twin(spark):
    """Randomized parity vs independent python recomputes for the
    three hand-golden-only round-3 operators: growth curve (first-seen
    day sets + cumsum), midpoint snapshot (<= T slice + at-T counts),
    and the typed quotient graph (rule-ladder types recomputed via the
    Spark column on a names-only frame, rollup in python)."""
    import datetime as dt
    import random

    from openie_spark.kg.analytics import kg_growth, kg_snapshot, type_pair_graph
    from openie_spark.kg.enrich import etype_col

    rng = random.Random(23)
    ents = [f"e{i}" for i in range(12)]
    rels = ["r1", "r2"]
    convs = [(f"c{i}", dt.datetime(2024, 1, 1) + dt.timedelta(hours=7 * i))
             for i in range(12)]
    tr = spark.createDataFrame(
        [(c, 0, t) for c, t in convs],
        "conv_id string, turn_idx int, ts timestamp")
    rows = []
    for i in range(150):
        a, b = rng.sample(ents, 2)
        c, _ = convs[rng.randrange(len(convs))]
        rows.append((a, b, rng.choice(rels), c, 0, 0, i))
    e = spark.createDataFrame(rows, _EDGE_SCHEMA)

    us = {c: int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
          for c, t in convs}

    # ---- growth twin
    ent_first: dict = {}
    stmt_first: dict = {}
    for a, b, p, c, *_ in rows:
        day = us[c] // 86_400_000_000
        for x in (a, b):
            ent_first[x] = min(ent_first.get(x, day), day)
        k = (a, b, p)
        stmt_first[k] = min(stmt_first.get(k, day), day)
    days = sorted(set(ent_first.values()) | set(stmt_first.values()))
    cum_e = cum_s = 0
    want_growth = {}
    for d in days:
        ne = sum(1 for v in ent_first.values() if v == d)
        ns = sum(1 for v in stmt_first.values() if v == d)
        cum_e += ne
        cum_s += ns
        want_growth[d] = (ne, ns, cum_e, cum_s)
    got_growth = {r.day: (r.new_entities, r.new_statements,
                          r.cum_entities, r.cum_statements)
                  for r in kg_growth(e, tr).collect()}
    assert got_growth == want_growth

    # ---- snapshot twin
    stamps = [(a, b, p, us[c]) for a, b, p, c, *_ in rows]
    cut = (min(t for *_, t in stamps) + max(t for *_, t in stamps)) // 2
    want_snap: dict = {}
    for a, b, p, t in stamps:
        if t <= cut:
            n, first = want_snap.get((a, b, p), (0, t))
            want_snap[(a, b, p)] = (n + 1, min(first, t))
    got_snap = {(r.src_id, r.dst_id, r.pred): (r.n_mentions, r.first_us)
                for r in kg_snapshot(e, tr).collect()}
    assert got_snap == want_snap

    # ---- type graph twin (types via the Spark ladder on names only,
    # so the twin tests the ROLLUP independently of the ladder)
    names = spark.createDataFrame([(x,) for x in ents], "canonical string")
    tmap = {r.canonical: r.t for r in
            names.select("canonical", etype_col(F.col("canonical"))
                         .alias("t")).collect()}
    agg: dict = {}
    for a, b, p, *_ in rows:
        key = (tmap[a], tmap[b])
        st = agg.setdefault(key, {"n": 0, "stmts": set(), "preds": set(),
                                  "src": set(), "dst": set()})
        st["n"] += 1
        st["stmts"].add((a, b, p))
        st["preds"].add(p)
        st["src"].add(a)
        st["dst"].add(b)
    nodes = spark.createDataFrame(
        [(x, x, 1, 1) for x in ents],
        "entity_id string, canonical string, n_aliases int, freq long")
    got_tg = {(r.src_type, r.dst_type):
              (r.n_edges, r.n_stmts, r.n_rels, r.n_src_ents, r.n_dst_ents)
              for r in type_pair_graph(nodes, e).collect()}
    want_tg = {k: (v["n"], len(v["stmts"]), len(v["preds"]),
                   len(v["src"]), len(v["dst"])) for k, v in agg.items()}
    assert got_tg == want_tg


def test_harmonic_centrality_path_golden(spark):
    """Path a-b-c-d with every entity a seed (seed_mod=1), k=3:
    endpoints read 1e6 + 5e5 + 333333; inner nodes 2.5e6; an isolated
    entity is absent (reaches nothing)."""
    from openie_spark.kg.analytics import harmonic_centrality

    e = spark.createDataFrame(
        [("a", "b", "r", "c0", 0, 0, 0),
         ("b", "c", "r", "c0", 0, 0, 1),
         ("c", "d", "r", "c0", 0, 0, 2)],
        _EDGE_SCHEMA)
    nodes = spark.createDataFrame(
        [(x,) for x in "abcde"], "entity_id string")
    got = {r.entity_id: (r.n_reached, r.harmonic_ppm)
           for r in harmonic_centrality(nodes, e, k=3, seed_mod=1).collect()}
    assert got == {
        "a": (3, 1833333),
        "b": (3, 2500000),
        "c": (3, 2500000),
        "d": (3, 1833333),
    }


def test_harmonic_centrality_python_twin(spark):
    """Randomized parity vs a direct python BFS over the same md5
    seed slice — distances, truncation at k, round-half-up ppm sum."""
    import random

    from openie_spark.kg.analytics import KHOP_SALT, harmonic_centrality

    rng = random.Random(23)
    ents = [f"e{i:02d}" for i in range(30)]
    stmts = sorted({(rng.choice(ents), "r", rng.choice(ents))
                    for _ in range(60)})
    stmts = [x for x in stmts if x[0] != x[2]]
    e = spark.createDataFrame(
        [(s, o, p, "c0", 0, 0, i) for i, (s, p, o) in enumerate(stmts)],
        _EDGE_SCHEMA)
    nodes = spark.createDataFrame([(x,) for x in ents], "entity_id string")
    K, MOD = 3, 3
    got = {r.entity_id: (r.n_reached, r.harmonic_ppm)
           for r in harmonic_centrality(nodes, e, k=K, seed_mod=MOD).collect()}

    adj: dict = {}
    for s, _, o in stmts:
        adj.setdefault(s, set()).add(o)
        adj.setdefault(o, set()).add(s)
    seeds = [x for x in ents
             if _md5h60_py(f"{KHOP_SALT}#{x}") % MOD == 0]
    want = {}
    for src in seeds:
        dist = {src: 0}
        frontier = [src]
        for d in range(1, K + 1):
            nxt = [v for u in frontier for v in adj.get(u, ())
                   if v not in dist]
            for v in nxt:
                dist.setdefault(v, d)
            frontier = sorted(set(nxt))
        reached = [d for v, d in dist.items() if d > 0]
        if reached:
            want[src] = (len(reached),
                         sum((2 * 1000000 + d) // (2 * d) for d in reached))
    assert got == want
    assert got, "fixture must produce a non-empty seed slice"
