"""Headline benchmark: runs the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Per-query numbers are the MEDIAN of $SPARK_GRAFT_REPEATS (default 3)
back-to-back runs (plus the min, reported separately): this box's
throughput drifts ±10-30% between sessions (BENCH/BASELINE.md
repeatability notes), so single runs are not comparable across rounds.

The shared tables consumed by the carb and kg query families
(``__spark_entry__.shared_builds``) are materialized ONCE
before the timed queries; ``shared_tables_sec`` gives each table's own
build seconds and ``shared_materialization_sec`` their sum.

Also usable for the two-parallelism scaling evidence
(BASELINE.md): SPARK_GRAFT_CPUS=8 python bench.py  vs  =32.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    repeats = int(os.environ.get("SPARK_GRAFT_REPEATS", "3"))

    from openie_spark.session import get_spark

    # shuffle parallelism: default cpus, overridable for larger-than-
    # default SF dirs (partitions must shrink to fit execution memory
    # as data grows — the per-SF sizing knob the optimization guide
    # prescribes; e.g. SPARK_GRAFT_SHUFFLE=64 for the sf1 replica)
    shuffle = int(os.environ.get("SPARK_GRAFT_SHUFFLE", max(cpus, 8)))
    spark = get_spark(app_name="openie-bench", master=f"local[{cpus}]", shuffle_partitions=shuffle)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    qs = e.queries()
    # warm the JVM/catalog once so per-query timings measure the plan,
    # not session startup.
    qs["transcripts_derive"](spark, sf_dir).count()

    # Warm the python worker pool the same way: per-process imports
    # (pandas/pyarrow/numpy) and the seeded model-weight build are
    # one-time per-executor-process costs that long-lived cluster
    # executors amortize over hours — without this, whichever pandas
    # query happens to run first is billed ~10s of pool spawn.
    def _warm(it):
        from openie_spark.model.weights import ARG_SEED, PRED_SEED, get_tagger

        get_tagger(PRED_SEED)
        get_tagger(ARG_SEED)
        for pdf in it:
            yield pdf

    (spark.range(cpus * 8).repartition(cpus * 8)
     .mapInPandas(_warm, "id long").write.mode("overwrite")
     .format("noop").save())

    # Shared tables (the KG stage tables, carb inputs, BFS ball, ...):
    # built once, consumed by many queries — billed explicitly here, per
    # table, so the cost is visible instead of falling outside every
    # timed query.
    for name in e.shared_builds():
        e._shared(spark, sf_dir, name)
    shared_tables = dict(e.shared_seconds)

    timings: dict[str, float] = {}
    t_min: dict[str, float] = {}
    n_rows: dict[str, int] = {}
    for name, fn in qs.items():
        runs = []
        df = None
        for _ in range(repeats):
            t0 = time.perf_counter()
            # constructing inside the timed region bills queries that
            # compute eagerly at build time (e.g. carb_oie16's
            # driver-side curve) to themselves; the noop sink forces
            # FULL materialization of every column (count() would let
            # column pruning skip the projections).
            df = fn(spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            runs.append(time.perf_counter() - t0)
        runs.sort()
        timings[name] = round(runs[len(runs) // 2], 4)
        t_min[name] = round(runs[0], 4)
        n_rows[name] = df.count()

    total = round(sum(timings.values()), 4)
    total_min = round(sum(t_min.values()), 4)
    # Headline throughput from the MIN of the repeats, not the median:
    # the min is the contention-free estimate on a box whose phases
    # drift ±10-30% (BENCH_r04's 2.2x-understated headline came from
    # one query's median catching a slow phase). The median-based
    # reading is kept alongside for continuity.
    triples_sec = round(n_rows.get("triples_extract", 0) / max(t_min.get("triples_extract", 1e-9), 1e-9), 1)
    triples_sec_med = round(n_rows.get("triples_extract", 0) / max(timings.get("triples_extract", 1e-9), 1e-9), 1)
    print(json.dumps({
        "metric": "pipeline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_min": t_min,
        "repeats": repeats,
        "shared_materialization_sec": round(sum(shared_tables.values()), 4),
        "shared_tables_sec": shared_tables,
        "rows": n_rows,
        "triples_per_sec": triples_sec,
        "triples_per_sec_median": triples_sec_med,
        # suite-level aggregate — robust to any one query's noise
        "queries_per_sec": round(len(timings) / max(total_min, 1e-9), 4),
        "total_min_sec": total_min,
        "cpus": cpus,
        "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
    }))
    spark.stop()


if __name__ == "__main__":
    main()
