"""Stage G — canonicalization: connected components over alias pairs.

Iterative min-label propagation (GraphFrames-style joins, no external
dependency): every vertex starts labeled with itself; each round every
vertex takes the min label among itself and its neighbors; fixpoint
when no label changes. Deterministic: the component id IS the
lexicographically-smallest member mention.

Scale notes:
  * each round = one shuffle (edge⋈label hash join + min-agg on the
    vertex key); rounds needed = graph diameter, and alias graphs are
    shallow (typical diameter ≤ 5).
  * ``localCheckpoint`` after every round truncates the lineage chain —
    without it the plan doubles per iteration and the 10th round
    recompiles a 2^10-node DAG.
  * convergence test is a single count aggregate per round.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


DRIVER_CC_MAX_EDGES = 5_000_000


def _cc_driver(spark, pair_rows) -> DataFrame:
    """Union-find on the driver — for pair sets small enough to collect
    (the alias graph is vocabulary-sized, and after blocking/LSH it is
    orders of magnitude smaller than the vocabulary). Component id =
    lexicographically smallest member, identical to the iterative
    min-label fixpoint."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pair_rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp_min: dict[str, str] = {}
    for v in parent:
        r = find(v)
        if r not in comp_min or v < comp_min[r]:
            comp_min[r] = v
    # an Arrow table becomes a local relation: no Python RDD pickles
    # the rows, and building the frame runs no Spark job. The cast
    # keeps both columns string-typed when there are no pairs (Arrow
    # types an empty list as null).
    norms = list(parent)
    return spark.createDataFrame(pa.table({
        "norm": pa.array(norms).cast(pa.string()),
        "component": pa.array([comp_min[find(v)] for v in norms]).cast(pa.string()),
    }))


def connected_components(pairs: DataFrame, max_iter: int = 25,
                         driver_threshold: int = DRIVER_CC_MAX_EDGES) -> DataFrame:
    """pairs(a, b, …) → components(norm string, component string).

    Only vertices that appear in some pair are returned; singletons are
    their own component by definition (callers coalesce).

    Scale-adaptive (same spirit as Spark's broadcast threshold): below
    ``driver_threshold`` edges the component structure is solved with a
    driver-side union-find in one pass (the distributed fixpoint costs
    diameter-many shuffle rounds — a fixed multi-second floor that
    dwarfs sub-million-edge inputs); above it, the iterative min-label
    joins run as before. Both produce the identical min-member
    labeling."""
    edge_pairs = pairs.select("a", "b")
    if driver_threshold:
        # ONE action: take() both decides the route and, when the edge
        # set fits, IS the complete edge list (limit+count+collect ran
        # the upstream plan twice).
        head = edge_pairs.take(driver_threshold + 1)
        if len(head) <= driver_threshold:
            return _cc_driver(pairs.sparkSession, [(r.a, r.b) for r in head])
    edges = (
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("norm")).distinct()
        .withColumn("component", F.col("norm"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.norm)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_min"))
        )
        stepped = (
            labels.join(neighbor_min, labels.norm == neighbor_min.src, "left")
            .select(
                "norm",
                F.col("component").alias("old"),
                F.least(F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))).alias("c1"),
            )
        )
        # Pointer jumping (the large-star shortcut): component ←
        # label(component). Labels are min-monotone and every label is
        # itself a vertex, so one extra join per round compresses chains
        # and convergence drops from O(diameter) to O(log diameter) —
        # a 25-round budget then covers diameters up to ~2^25.
        jump = stepped.select(F.col("norm").alias("jn"), F.col("c1").alias("jc"))
        new_labels = (
            stepped.join(jump, stepped.c1 == jump.jn, "left")
            .select(
                "norm",
                F.least(F.col("c1"), F.coalesce(F.col("jc"), F.col("c1"))).alias("component"),
                "old",
            )
            .withColumn("changed", F.col("component") < F.col("old"))
            .drop("old")
            .localCheckpoint(eager=True)
        )
        n_changed = new_labels.filter(F.col("changed")).limit(1).count()
        labels = new_labels.drop("changed")
        if n_changed == 0:
            break
    else:
        # Silently-split components would mean wrong canonical entity
        # ids with no signal; fail loudly instead (never reachable with
        # pointer jumping for any graph below ~2^25 diameter).
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_iter} rounds; "
            "raise max_iter")
    return labels


def canonical_map(vocab: DataFrame, components: DataFrame) -> DataFrame:
    """vocab ⟕ components → (norm, component) with singleton mentions
    mapped to themselves."""
    return vocab.join(components, "norm", "left").select(
        "norm", "freq", "tokens",
        F.coalesce(F.col("component"), F.col("norm")).alias("component"),
    )
