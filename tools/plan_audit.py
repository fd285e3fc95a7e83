"""Physical-plan audit over every driver query: one row per query with
the plan-shape counters that matter at 100 TB — exchanges (shuffles),
parquet scans, Python (Arrow/mapInPandas) stages, cartesian products,
and whether the scan is column-pruned (ReadSchema) / filter-pushed.

Writes PLANS.md. Run: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# queries that attach a 1-ROW aggregate (a global scalar like a total
# count) via broadcast cross join — a BroadcastNestedLoopJoin whose
# build side is one row is the correct constant-cost plan at any
# scale, not a quadratic hazard
SCALAR_BROADCAST_BY_DESIGN = {"kg_salience", "kg_snapshot"}


def audit(sf_dir: str = "/root/testdata/sf0.01") -> list[dict]:
    import importlib.util

    from openie_spark.session import get_spark

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    spark = get_spark(app_name="plan-audit", master="local[8]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for name, fn in mod.queries().items():
        try:
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as ex:  # noqa: BLE001 — audit must not abort
            rows.append({"query": name, "error": str(ex)[:120]})
            continue
        rows.append({
            "query": name,
            "exchanges": len(re.findall(r"\bExchange\b", plan)),
            "scans": len(re.findall(r"Scan parquet", plan)),
            "python": len(re.findall(
                r"ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas",
                plan)),
            "cartesian": len(re.findall(
                r"CartesianProduct|BroadcastNestedLoopJoin", plan)),
            "broadcast_joins": len(re.findall(r"BroadcastHashJoin", plan)),
            "pruned": "ReadSchema" in plan,
            "error": "",
        })
    return rows


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    rows = audit(sf_dir)
    lines = [
        "# PLANS — physical-plan audit of every driver query",
        "",
        f"Generated by `tools/plan_audit.py` at `{sf_dir}`. Counters from",
        "`explain('formatted')`: exchanges = shuffle boundaries, scans =",
        "parquet scans in the plan (memoized/localCheckpointed inputs scan",
        "zero times — they read the block manager), python = Arrow-batched",
        "python stages (pandas UDF family; NO row-at-a-time UDF exists in",
        "this repo), cartesian counts CartesianProduct + BroadcastNested-",
        "LoopJoin (flagged unless its build side is bounded by design).",
        "`pruned` = the scan carries an explicit ReadSchema projection.",
        "",
        "| query | exchanges | scans | python | bcast joins | cartesian | pruned | note |",
        "|---|---|---|---|---|---|---|---|",
    ]
    bad = 0
    for r in rows:
        if r.get("error"):
            lines.append(f"| {r['query']} | — | — | — | — | — | — | ERROR: {r['error']} |")
            bad += 1
            continue
        note = ""
        if r["cartesian"]:
            if r["query"] in SCALAR_BROADCAST_BY_DESIGN:
                note = "1-row scalar broadcast (by design)"
            elif r["broadcast_joins"]:
                note = "broadcast NLJ (bounded side)"
            else:
                note = "UNEXPECTED cartesian"
                bad += 1
        lines.append(
            f"| {r['query']} | {r['exchanges']} | {r['scans']} | {r['python']} "
            f"| {r['broadcast_joins']} | {r['cartesian']} | "
            f"{'y' if r['pruned'] else 'n'} | {note} |")
    with open(os.path.join(REPO, "PLANS.md"), "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote PLANS.md ({len(rows)} queries, {bad} flagged)")
    return bad


if __name__ == "__main__":
    sys.exit(main())
