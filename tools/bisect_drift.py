#!/usr/bin/env python
"""A/B drift bisect (VERDICT r4 watch-item #2): the r4 record showed a
broad +5-6% slowdown on small UNTOUCHED queries vs r3 (e.g.
dp_quality_gopher 1.73->2.79s) with two candidate causes — box phase
vs executor-memory pressure from the shared tables r4 added (the
carb gold/pred and k-means tables, now ``_shared`` builds in
__spark_entry__.py, persist for the whole sweep).

Protocol: check both HEADs out as worktrees, run bench.py on each in
interleaved A/B/A/B order (same box session, so a box phase hits both
arms), and diff the per-query MIN over the repeated runs for the
watchlist of untouched queries. If the r4 arm is consistently slower
on those queries, the memos are implicated; if the arms agree, it was
box phase.

    python tools/bisect_drift.py [--a baf7115] [--b 950bef1] [--rounds 2]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WATCHLIST = [
    "dp_quality_gopher", "dp_tfidf_terms", "dp_lang_id", "dp_doc_stats",
    "dp_collocations", "dp_bigram_lm", "dp_exact_dedup", "dp_minhash_neardup",
    "kg_degree_hist", "kg_relation_stats",
]


def run_bench(tree: str, tag: str, idx: int) -> dict:
    env = dict(os.environ, SPARK_GRAFT_REPEATS="2")
    out = subprocess.run(
        [sys.executable, "bench.py"], cwd=tree, env=env,
        capture_output=True, text=True, check=True)
    res = json.loads(out.stdout.strip().splitlines()[-1])
    print(f"[{tag} run {idx}] total={res['value']}s "
          f"min_total={res.get('total_min_sec', '?')}s", file=sys.stderr)
    return res


def git(*args: str, cwd: str = REPO) -> str:
    return subprocess.run(["git", *args], cwd=cwd, check=True,
                          capture_output=True, text=True).stdout.strip()


def worktree(rev: str) -> str:
    """A clean worktree at ``rev``. An existing /tmp/drift_<rev> is
    reused only when its HEAD is that commit and no tracked file is
    modified; otherwise it is recreated, so a stale or hand-edited
    directory never benchmarks the wrong code."""
    wt = f"/tmp/drift_{rev}"
    want = git("rev-parse", f"{rev}^{{commit}}")
    if os.path.exists(wt):
        try:
            if (git("rev-parse", "HEAD", cwd=wt) == want
                    and not git("status", "--porcelain", "--untracked-files=no", cwd=wt)):
                return wt
        except subprocess.CalledProcessError:   # not a git checkout
            pass
        shutil.rmtree(wt)
        git("worktree", "prune")
    git("worktree", "add", "--detach", wt, want)
    return wt


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--a", default="baf7115", help="r3 HEAD")
    ap.add_argument("--b", default="950bef1", help="r4 HEAD")
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--json-out", default="/tmp/bisect_drift.json")
    args = ap.parse_args()

    trees = {tag: worktree(rev) for tag, rev in (("A", args.a), ("B", args.b))}

    runs: dict[str, list[dict]] = {"A": [], "B": []}
    for i in range(args.rounds):         # interleaved: A B A B ...
        for tag in ("A", "B"):
            runs[tag].append(run_bench(trees[tag], tag, i))

    def best(tag: str, q: str) -> float:
        vals = [r["queries_min"].get(q, r["queries"].get(q))
                for r in runs[tag]]
        vals = [v for v in vals if v is not None]
        return min(vals) if vals else float("nan")

    table = {q: {"r3_min": best("A", q), "r4_min": best("B", q)}
             for q in WATCHLIST}
    for q, row in table.items():
        row["ratio"] = round(row["r4_min"] / max(row["r3_min"], 1e-9), 3)
    slower = [q for q, r in table.items() if r["ratio"] > 1.10]
    verdict = ("memo-pressure-suspected" if len(slower) >= len(WATCHLIST) // 2
               else "box-phase")
    report = {
        "verdict": verdict,
        "slower_on_r4": slower,
        "watchlist": table,
        "totals": {t: [r["value"] for r in rs] for t, rs in runs.items()},
    }
    json.dump(report, open(args.json_out, "w"), indent=1)
    print(json.dumps({"verdict": verdict, "slower_on_r4": slower}))


if __name__ == "__main__":
    main()
