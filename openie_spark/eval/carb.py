"""CaRB benchmark compare as a distributed Spark job (E1, E2, E5, E6).

Dataflow (single-confidence point — our engine emits confidence = 1.0
everywhere, reference parity SURVEY.md §2.6, so the reference's
threshold sweep degenerates to one point; /root/reference/eval/oie_eval/carb.py:79-90):

    gold, pred : DataFrame[sent string, pred string, args array<string>]
      → add norm_key (E1, pure Catalyst string exprs)
      → cogroup on the sentence bucket pmod(xxhash64(norm_key), N)
        (cogroup_sentences): each pandas call loops its bucket's gold
        sentences in plain Python and runs the per-sentence score
        matrix + greedy match (E2/E5 — matrices are ≤ ~10×10 per
        sentence)
      → global sum + driver-free final select (E6)

Spark shape: ONE hash-partition shuffle on the sentence bucket, N =
spark.sql.shuffle.partitions, so one pandas call scores ~1/N of the
corpus instead of one sentence: the per-group Arrow and frame cost is
paid N times, not once per sentence. carb_compare finalizes in one
action (4 Spark jobs: the two cogroup inputs, the global sum, the
result); carb_pr_curve adds one distinct-limit action for its exact
threshold grid and one bracket-sum stage (7 jobs from building to
collecting the curve); its threshold table is a local relation. A keyed eval table repartitioned
on the same bucket expression (sentence_bucket; __spark_entry__'s
carb_gold) needs no exchange before the cogroup. Sentence-key skew
(dup sentences collapse into one sentence, raw2col-style T10) is
bounded by dropDuplicates upstream. The reference walks a Python dict
of the whole corpus in one process (its eval/oie_eval/carb.py:92-160).

Reference quirks preserved:
  * sentences present only in predictions are IGNORED entirely (the
    loop is over gold keys: carb.py:92-97) — the bucket loop runs the
    kernels on gold keys only.
  * gold sentences with no predictions only inflate the recall
    denominator (carb.py:159-160).
  * greedy precision matching scans the matrix row-major and takes the
    first strictly-greater precision, min(|gold|, |pred|) rounds
    (carb.py:128-150) — ties resolve to the earliest (gold, pred) pair.
  * P = Σp/Σpl with empty-denominator → 1; R = Σr/Σrl with → 0
    (carb.py:162-163); F1's 0/0 → 0 (carb.py:219-224); AUC appends the
    (recall=0, precision=1) point (carb.py:173-181), which for a single
    PR point is the trapezoid r·(p+1)/2.
"""

from __future__ import annotations

import string

import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from openie_spark.eval.matcher import binary_lenient_match

# PTB bracket escapes (/root/reference/eval/oie_eval/carb.py:291-298)
PTB_ESCAPES = (
    ("(", "-LRB-"), (")", "-RRB-"),
    ("[", "-LSB-"), ("]", "-RSB-"),
    ("{", "-LCB-"), ("}", "-RCB-"),
)


def normalize_key(sent: str) -> str:
    """E1 (python twin): despace → PTB-unescape → strip punctuation
    (/root/reference/eval/oie_eval/carb.py:263-289)."""
    s = sent.replace(" ", "")
    for plain, esc in PTB_ESCAPES:
        s = s.replace(esc, plain)
    return s.translate(str.maketrans("", "", string.punctuation))


def normalize_key_col(sent: Column) -> Column:
    """E1 as a Catalyst expression chain (codegen'd, JVM-side)."""
    c = F.replace(sent, F.lit(" "), F.lit(""))
    for plain, esc in PTB_ESCAPES:
        c = F.replace(c, F.lit(esc), F.lit(plain))
    return F.translate(c, string.punctuation, "")


def sentence_bucket(norm_key: Column, n: int) -> Column:
    """The scorers' cogroup key: ``pmod(xxhash64(norm_key), n)``. A
    keyed eval table repartitioned on this expression (with ``n`` the
    session's shuffle parallelism) reaches the cogroup with no exchange
    (ProjectExec is alias-aware). NULL keys hash to one bucket."""
    return F.pmod(F.xxhash64(norm_key), F.lit(n))


def cogroup_sentences(gold: DataFrame, pred: DataFrame, kernel,
                      schema: str) -> DataFrame:
    """Run ``kernel(gold_rows, pred_rows) -> list[tuple]`` once per gold
    sentence; each output tuple is prefixed with its ``norm_key`` to
    form a ``schema`` row. Both inputs carry a ``norm_key`` column; a
    sentence's rows are tuples of the other columns, in column order.

    The cogroup keys on ``sentence_bucket(norm_key, N)``, N =
    ``spark.sql.shuffle.partitions``, and each pandas call groups its
    bucket by ``norm_key`` in plain Python: the per-group Arrow and
    frame cost is paid once per bucket instead of once per sentence.
    Memory trade: one call holds a whole bucket (~1/N of the eval rows
    of each side, plus its output rows) instead of one sentence. The
    cogroup already sends that bucket's rows to one task, so this
    raises a call's working set, not the task's input. Prediction-only
    sentences reach no kernel (the reference loops gold keys,
    carb.py:92-97); NULL-key rows form one sentence, as a Spark
    grouping on ``norm_key`` does."""
    n = int(gold.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    names = [c.split()[0] for c in schema.split(",")]

    def by_sentence(pdf: pd.DataFrame) -> dict:
        cols = [pdf[c] for c in pdf.columns if c not in ("norm_key", "_bucket")]
        groups: dict = {}
        for key, *row in zip(pdf["norm_key"], *cols):
            groups.setdefault(key, []).append(row)
        return groups

    def score_bucket(gold_pdf: pd.DataFrame, pred_pdf: pd.DataFrame) -> pd.DataFrame:
        preds = by_sentence(pred_pdf)
        out = [(key, *r) for key, golds in by_sentence(gold_pdf).items()
               for r in kernel(golds, preds.get(key, []))]
        return pd.DataFrame.from_records(out, columns=names)

    def keyed(df: DataFrame):
        return df.withColumn("_bucket", sentence_bucket(F.col("norm_key"), n)).groupBy("_bucket")

    return keyed(gold).cogroup(keyed(pred)).applyInPandas(score_bucket, schema)


def _greedy_sum(scores: list[list], cols: list[int], which: int) -> float:
    """Greedy one-to-one matching (carb.py:128-150): min(|gold|,
    |cols|) rounds, each scanning the unused (gold, pred) pairs
    row-major and taking the first strictly-greater ``score[which]``
    (0 = precision, 1 = recall) — ties resolve to the earliest pair."""
    total = 0.0
    used_rows: set[int] = set()
    used_cols: set[int] = set()
    for _ in range(min(len(scores), len(cols))):
        best, best_i, best_j = -1.0, -1, -1
        for i, row in enumerate(scores):
            if i in used_rows:
                continue
            for j in cols:
                if j in used_cols:
                    continue
                if row[j][which] > best:
                    best, best_i, best_j = row[j][which], i, j
        used_rows.add(best_i)
        used_cols.add(best_j)
        total += best
    return total


_SCORE_SCHEMA = "norm_key string, p double, pl long, r double, rl long"


def _score_group(golds: list, preds: list,
                 match_fn=binary_lenient_match) -> list[tuple]:
    """One gold sentence's (p, pl, r, rl); rows are (pred, args)."""
    n_gold = len(golds)
    n_pred = len(preds)
    if n_pred == 0:
        return [(0.0, 0, 0.0, n_gold)]

    if match_fn is binary_lenient_match:
        # fast path: split each extraction ONCE, not per pair (the
        # string contract re-tokenizes O(n_gold x n_pred) times —
        # ~60% of this kernel's time; parity randomized-pinned)
        from openie_spark.eval.matcher import (
            binary_lenient_match_tokens,
            pre_gold,
            pre_pred,
        )

        gs = [pre_gold(gp, list(ga)) for gp, ga in golds]
        ps = [pre_pred(ep, list(ea)) for ep, ea in preds]
        scores = [[binary_lenient_match_tokens(g, p) for p in ps] for g in gs]
    else:
        scores = [
            [match_fn(gp, list(ga), ep, list(ea)) for ep, ea in preds]
            for gp, ga in golds
        ]

    recall_num = sum(max((row[j][1] for j in range(n_pred)), default=0) for row in scores)
    precision_num = _greedy_sum(scores, list(range(n_pred)), 0)
    return [(precision_num, n_pred, recall_num, n_gold)]


def _with_key(df: DataFrame, *extra: Column) -> DataFrame:
    """Project (pred, args, *extra, norm_key) through FRESH aliases.

    The re-alias matters: scoring a DataFrame against itself (the
    parity self-check) makes both cogroup children share attribute ids;
    Catalyst's column pruning under the downstream aggregate then
    drops the duplicated child columns and the pandas kernel receives
    key-only frames. Fresh exprIds per side keep the plans disjoint.
    ``extra`` columns must be aliased by the caller.

    A pre-computed ``norm_key`` column is REUSED (aliased, not
    recomputed): callers that materialize a keyed eval table once,
    repartitioned on ``sentence_bucket`` (the warehouse pattern — see
    __spark_entry__'s carb_gold shared table), keep both the key
    computation and, because ProjectExec is alias-aware, the
    partitioning.
    """
    key = (F.col("norm_key") if "norm_key" in df.columns
           else normalize_key_col(F.col("sent")))
    return df.select(
        F.col("pred").alias("pred"),
        F.col("args").alias("args"),
        *extra,
        key.alias("norm_key"),
    )


def sentence_scores(gold: DataFrame, pred: DataFrame,
                    match_fn=binary_lenient_match) -> DataFrame:
    """Per-sentence score components. Input schema for both sides:
    (sent string, pred string, args array<string>). ``match_fn`` is any
    [precision, recall]-returning matcher from eval.matcher (E4 binary
    lenient by default — the reference's pinned choice,
    eval/evaluation.py:36; E7 alternatives: tuple_match,
    simple_tuple_match, binary_tuple_match).

    Documented deviation — post-normalization key collisions: two RAW
    sentences that normalize to the same key (differ only in spaces /
    punctuation / PTB escapes) are scored as one sentence here, so
    their extraction lists UNION. The reference's normalizeDict
    (eval/oie_eval/carb.py:263-266) rebuilds a dict, so the collider
    whose raw key was inserted LAST (file read order) silently wins.
    That order has no distributed analogue — a cluster read has no
    stable "last" — so we pin the order-independent union semantics
    instead. Verified zero collisions on the shipped corpora (distinct
    sentences == distinct norm keys at every sf dir), so results are
    identical today; on a colliding corpus the reference drops gold
    tuples nondeterministically by input order and we keep them."""
    return cogroup_sentences(
        _with_key(gold), _with_key(pred),
        lambda golds, preds: _score_group(golds, preds, match_fn), _SCORE_SCHEMA)


def carb_compare(gold: DataFrame, pred: DataFrame, binary: bool = False,
                 match_fn=binary_lenient_match) -> DataFrame:
    """Global single-point CaRB metrics: one row
    (precision, recall, f1, auc, n_gold_sents). ``binary=True``
    binarizes BOTH sides first (carb.py:72-74) before the binary
    lenient match — the reference's ``--binary`` mode."""
    if binary:
        gold = binarize_tuples(gold.select("sent", "pred", "args"))
        pred = binarize_tuples(pred.select("sent", "pred", "args"))
    sums = sentence_scores(gold, pred, match_fn).agg(
        F.sum("p").alias("p"), F.sum("pl").alias("pl"),
        F.sum("r").alias("r"), F.sum("rl").alias("rl"),
        F.count(F.lit(1)).alias("n_gold_sents"),
    )
    P = F.when(F.col("pl") > 0, F.col("p") / F.col("pl")).otherwise(F.lit(1.0))
    R = F.when(F.col("rl") > 0, F.col("r") / F.col("rl")).otherwise(F.lit(0.0))
    prf = sums.select(
        P.alias("precision"), R.alias("recall"), F.col("n_gold_sents")
    ).select(
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round(
            F.when(F.col("precision") + F.col("recall") > 0,
                   2 * F.col("precision") * F.col("recall") / (F.col("precision") + F.col("recall"))
                   ).otherwise(F.lit(0.0)), 6).alias("f1"),
        F.round(F.col("recall") * (F.col("precision") + 1) / 2, 6).alias("auc"),
        "n_gold_sents",
    )
    return prf


def triples_as_tuples(triples: DataFrame) -> DataFrame:
    """Adapt the engine's triples table to the scorer's input shape."""
    return triples.select("sent", "pred", "args")


# Prepositions hoisted into the relation during k-ary binarization
# (/root/reference/eval/oie_eval/carb.py:300).
PREPS = (
    "above", "across", "against", "along", "among", "around", "at",
    "before", "behind", "below", "beneath", "beside", "between", "by",
    "for", "from", "in", "into", "near", "of", "off", "on", "to",
    "toward", "under", "upon", "with", "within",
)


def binarize_tuples(df: DataFrame) -> DataFrame:
    """K-ary → binary tuple projection (``--binary`` mode,
    /root/reference/eval/oie_eval/carb.py:192-217), quirk-for-quirk.

    The reference copies the extraction ONCE, then mutates and
    re-appends that same object in the per-extra-arg loop — so for an
    extraction with k = len(args) > 2, all (k-1) emitted rows alias the
    LAST loop state: pred' = pred + ' ' + args[1] (+ ' ' + preposition
    if the last arg starts with one, case-checked lowercase but
    appended verbatim), args' = [args[0], last-arg-minus-preposition].
    Extractions with ≤2 args binarize to the plain args[:2] slice.
    Input/output: (sent, pred, args array<string>[, confidence])."""
    k = F.size("args")
    words = F.filter(
        F.split(F.try_element_at(F.col("args"), F.lit(-1)), " "),
        lambda w: w != "")
    prep_w = F.try_element_at(words, F.lit(1))
    has_prep = F.lower(prep_w).isin(*PREPS)
    rest = F.when(
        has_prep, F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0)))
    ).otherwise(words)
    pred_n = F.concat(
        F.col("pred"), F.lit(" "),
        F.coalesce(F.try_element_at(F.col("args"), F.lit(2)), F.lit("")))
    pred_n = F.when(has_prep, F.concat(pred_n, F.lit(" "), prep_w)).otherwise(pred_n)
    args_n = F.array(F.try_element_at(F.col("args"), F.lit(1)), F.array_join(rest, " "))

    out_pred = F.when(k > 2, pred_n).otherwise(F.col("pred"))
    out_args = F.when(k > 2, args_n).otherwise(F.slice(F.col("args"), 1, 2))
    n_copies = F.when(k > 2, k - 1).otherwise(F.lit(1))

    keep = [c for c in df.columns if c not in ("pred", "args")]
    return (
        df.withColumn(
            "_bin",
            F.explode(F.array_repeat(
                F.struct(out_pred.alias("pred"), out_args.alias("args")), n_copies)))
        .select(*keep, F.col("_bin.pred").alias("pred"), F.col("_bin.args").alias("args"))
        .select(*df.columns)
    )


# ---------------------------------------------------------------- E5
# Full PR-curve threshold sweep for predictions with non-constant
# confidences (e.g. the S7 tab reader's). Reference semantics
# transcribed from /root/reference/eval/oie_eval/carb.py:77-160:
#   * thresholds = globally sorted distinct prediction confidences
#     (carb.py:80-86); index t is a slot in the p/pl/r/rl arrays.
#   * per gold sentence, ascending local confidences carve brackets
#     [prev_c : c+1]; each bracket gets the greedy-precision match and
#     row-max recall RECOMPUTED over preds with conf >= that local
#     confidence (carb.py:113-155); duplicates collapse to empty
#     slices, so distinct local confs suffice.
#   * slots beyond the max local confidence still accumulate
#     rl += len(gold) (carb.py:159-160) — so rl = n_gold at EVERY
#     threshold, and sentences with no predictions contribute only rl.
#   * P 0-denominator -> 1, R 0-denominator -> 0 (carb.py:162-163).

_SWEEP_SCHEMA = ("norm_key string, t_lo int, t_hi int, "
                 "p double, pl long, r double, rl long")

# Exact sweep up to this many distinct confidences; beyond it the
# thresholds are quantized to an approx-quantile grid of this size
# (a real OIE system emits per-extraction floats, so distinct count ~
# extraction count — collecting them all is a driver OOM at scale).
MAX_EXACT_THRESHOLDS = 1024


def _sweep_group(golds: list, preds: list, grid: list[float],
                 recall_strategy: str = "m2o") -> list[tuple]:
    """One gold sentence's (t_lo, t_hi, p, pl, r, rl) brackets; gold
    rows are (pred, args), pred rows (pred, args, confidence)."""
    import bisect

    num_conf = len(grid)
    n_gold = len(golds)
    # rl accumulates n_gold at every slot (loop brackets + carb.py:159)
    rows = [(0, num_conf - 1, 0.0, 0, 0.0, n_gold)]
    if not preds or num_conf == 0:
        return rows

    from openie_spark.eval.matcher import (
        binary_lenient_match_tokens,
        pre_gold,
        pre_pred,
    )

    gs = [pre_gold(gp, list(ga)) for gp, ga in golds]
    ps = [pre_pred(ep, list(ea)) for ep, ea, _ in preds]
    # Snap each local confidence DOWN to its grid slot ("pred with
    # conf c participates at every threshold <= c").  On the exact path
    # the grid contains every distinct confidence, so this is the
    # identity and the reference bracket loop is reproduced verbatim.
    slots = [max(bisect.bisect_right(grid, c) - 1, 0) for _, _, c in preds]
    # tokens split once per extraction, not per (pair x bracket)
    scores = [[binary_lenient_match_tokens(g, p) for p in ps] for g in gs]

    prev_c = 0
    for c in sorted(set(slots)):
        ext = [j for j, sl in enumerate(slots) if sl >= c]
        if recall_strategy == "o2o":
            # one-to-one recall: the same greedy bipartite scan as
            # precision but over rec fractions
            # (reference eval/oie_eval/benchmark.py:218-243)
            r_num = _greedy_sum(scores, ext, 1)
        else:
            # many-to-one (default): per-gold max (carb.py:123-126)
            r_num = sum(max((row[j][1] for j in ext), default=0) for row in scores)
        rows.append((prev_c, c, _greedy_sum(scores, ext, 0), len(ext), r_num, 0))
        prev_c = c + 1
    return rows


def _checked_quantized_grid(pred: DataFrame, max_thresholds: int) -> list[float]:
    """The threshold grid when the distinct-confidence probe held a
    NULL/NaN or more than ``max_thresholds`` values: raise on any
    NULL/NaN confidence (counted over every row, so one the probe's
    limit cut off is caught too), else quantize to an approx-quantile
    grid of ``max_thresholds`` values (deviation logged)."""
    stats = pred.agg(
        F.count_distinct("confidence").alias("n_distinct"),
        F.sum(F.when(F.col("confidence").isNull()
                     | F.isnan("confidence"), 1).otherwise(0)).alias("n_bad"),
        F.min("confidence").alias("cmin"),
    ).first()
    if (stats.n_bad or 0) > 0:
        # fail fast: None breaks sorted() and NaN never equi-joins the
        # grid — one malformed 'tab' line must not take down the sweep
        # with an obscure worker KeyError.
        raise ValueError(
            f"carb_pr_curve: {stats.n_bad} prediction(s) have NULL/NaN "
            "confidence — fix or filter them before sweeping")
    import logging

    qs = [i / (max_thresholds - 1) for i in range(max_thresholds)]
    approx = pred.agg(
        F.percentile_approx("confidence", qs, 10_000).alias("g")
    ).first().g
    grid = sorted({float(stats.cmin), *(float(v) for v in approx)})
    logging.getLogger(__name__).warning(
        "carb_pr_curve: %d distinct confidences > max_thresholds=%d; "
        "quantized to a %d-value approx-quantile grid (confidences "
        "snap down to the grid — PR points are exact for the "
        "quantized assignment)",
        stats.n_distinct, max_thresholds, len(grid))
    return grid


def carb_pr_curve(gold: DataFrame, pred: DataFrame,
                  max_thresholds: int = MAX_EXACT_THRESHOLDS,
                  recall_strategy: str = "m2o") -> DataFrame:
    """(t, conf, precision, recall, f1) — one row per threshold,
    ascending. ``pred`` must carry a ``confidence`` column; ``gold``
    needs (sent, pred, args).

    Threshold set is BOUNDED: one action reads at most
    ``max_thresholds`` + 1 distinct confidences; when there are ≤
    ``max_thresholds`` the sweep is exact over all of them (reference
    semantics, carb.py:80-86, which holds the full list in memory —
    safe only because it is bounded here), otherwise the confidences
    are quantized down to an approx-quantile grid of ``max_thresholds``
    values (deviation logged) so neither the driver list nor the
    per-group bracket loop grows with corpus size. A NULL/NaN
    confidence raises ``ValueError`` on either path.

    Scale shape: the same single bucket cogroup as the one-point
    scorer (cogroup_sentences); the ≤ max_thresholds grid is
    closure-captured into the kernel and broadcast back, as an Arrow
    local relation, for the bracket → slot expansion. The curve has ≤
    max_thresholds rows, so one task sorts it (no range exchange).
    """
    spark = gold.sparkSession
    pred = pred.withColumn("confidence", F.col("confidence").cast("double"))
    # one action reads the exact grid when it is small: the distinct
    # confidences, at most max_thresholds + 1 of them
    grid = [r[0] for r in
            pred.select("confidence").distinct().limit(max_thresholds + 1).collect()]
    if len(grid) > max_thresholds or any(c is None or c != c for c in grid):
        grid = _checked_quantized_grid(pred, max_thresholds)
    else:
        grid.sort()
    num_conf = len(grid)

    brackets = cogroup_sentences(
        _with_key(gold), _with_key(pred, F.col("confidence").alias("confidence")),
        lambda golds, preds: _sweep_group(golds, preds, grid, recall_strategy),
        _SWEEP_SCHEMA)
    if num_conf == 0:
        return spark.createDataFrame(pa.table(
            {"t": pa.array([], pa.int32()),
             **{c: pa.array([], pa.float64())
                for c in ("conf", "precision", "recall", "f1")}}))
    # an Arrow table is a local relation: broadcasting it runs no
    # Python job
    tdf = spark.createDataFrame(pa.table({
        "t": pa.array(range(num_conf), pa.int32()),
        "conf": pa.array(grid, pa.float64())}))
    # bracket -> slot expansion: explode the [t_lo, t_hi] range (always
    # ascending: brackets are emitted with prev_c <= c) and attach conf
    # AFTER aggregation via a broadcast hash equi-join on the
    # num_conf-row threshold table — no nested-loop range join.
    sums = (
        brackets
        .select(F.explode(F.sequence("t_lo", "t_hi")).alias("t"),
                "p", "pl", "r", "rl")
        .groupBy("t")
        .agg(F.sum("p").alias("p"), F.sum("pl").alias("pl"),
             F.sum("r").alias("r"), F.sum("rl").alias("rl"))
        .join(F.broadcast(tdf), "t")
    )
    P = F.when(F.col("pl") > 0, F.col("p") / F.col("pl")).otherwise(F.lit(1.0))
    R = F.when(F.col("rl") > 0, F.col("r") / F.col("rl")).otherwise(F.lit(0.0))
    return (
        sums.select("t", "conf", P.alias("precision"), R.alias("recall"))
        .select(
            "t", "conf",
            F.round("precision", 6).alias("precision"),
            F.round("recall", 6).alias("recall"),
            F.round(
                F.when(F.col("precision") + F.col("recall") > 0,
                       2 * F.col("precision") * F.col("recall")
                       / (F.col("precision") + F.col("recall"))
                       ).otherwise(F.lit(0.0)), 6).alias("f1"),
        )
        # <= max_thresholds rows: one task sorts them, no range exchange
        .coalesce(1).sortWithinPartitions("t")
    )


def carb_sweep_summary(curve: DataFrame) -> dict:
    """AUC + optimal point from a carb_pr_curve result — mirrors the
    reference's sklearn auc over (recall, precision) with the appended
    (recall=0, precision=1) point and nanargmax-F1 optimal
    (carb.py:165-181)."""
    import numpy as np

    pts = sorted(curve.collect(), key=lambda r: r.t)
    if not pts:
        return {"auc": 0.0, "optimal_precision": 0.0,
                "optimal_recall": 0.0, "optimal_f1": 0.0}
    f1s = [r.f1 for r in pts]
    best = max(range(len(pts)), key=lambda i: f1s[i])
    rec = [r.recall for r in pts] + [0.0]
    prec = [r.precision for r in pts] + [1.0]
    auc = float(abs(np.trapz(prec, rec)))
    return {
        "auc": round(auc, 6),
        "optimal_precision": pts[best].precision,
        "optimal_recall": pts[best].recall,
        "optimal_f1": pts[best].f1,
    }
