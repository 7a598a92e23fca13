#!/usr/bin/env python3
"""Repo-wide physical-plan audit over every registered query.

Builds (does not execute) the plan of all queries() entries at the
given SF and sweeps for scale-killers:
- CartesianProduct / BroadcastNestedLoopJoin anywhere it isn't an
  allowlisted bounded shape (decontamination's benchmark-side BNLJ is
  broadcast-bounded by design and plan-tested separately);
- BatchEvalPython (row-at-a-time Python UDF — the repo bans them);
- python-eval stage counts (ArrowEvalPython / MapInPandas /
  FlatMapGroupsInPandas) and Exchange counts per query, so a future
  regression that doubles a query's shuffles is visible in the diff.

A conditional plan is audited in BOTH regimes: after the sweep,
percentiles_exact is planned once more with
SPARK_GRAFT_PCT_SINGLE_BUFFER_ROWS=0, which forces the exact-rank regime
that any input above the cutover (every production table) takes.

Prints one JSON line; non-zero exit if a hard violation is found.

Usage: python3 scripts/plan_audit.py [--sf-dir /root/testdata/sf0.001]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

# BNLJ is legal ONLY where a side is a bounded broadcast by design —
# adjudicated one by one (late r7): decontamination probes a broadcast
# benchmark set; ANN probes a fixed handful of query vectors / tiny
# centroid seed tables; simhash crosses a 4-row pigeonhole band table;
# sampling/deciles cross 1-row target/cutpoint frames.  The set is
# PINNED: a query gaining or losing a BNLJ is a hard audit failure
# until re-adjudicated here.
# Re-adjudicated r9: decontaminate_exact_substring and
# decontaminate_span_excise LOST their BNLJ by design — the excerpt
# fold moved into one mapInPandas pass over a size-bounded broadcast
# list (guide §4.2; plan pins updated in tests/test_plans.py), so the
# nested loop no longer exists in either plan.
_BNLJ_EXPECTED = {
    "decontaminate_8gram_overlap",
    "ann_bruteforce_topk",
    "ann_signlsh_topk",
    "ann_recall_report",
    "dedup_simhash",
    "dedup_simhash_pairs",
    "ann_ivf_bucketed",
    "ann_ivf_recall",
    "ann_numpy_ivf",
    "embedding_cosine_neardup",
    "sample_match_distribution",
    "doc_length_percentile_buckets",
}

# The at-scale regime of a conditional query, planned with its env knob
# forced, against its OWN pinned BNLJ set (the sweep above plans the toy
# SF's regime). percentiles_exact's exact-rank regime crosses the
# per-partition counts, the ranked rows and the final aggregate with the
# broadcast 1-row target-rank frame (``tgt``): bounded at any input
# size, so its BNLJs are legal there.
_FORCED_REGIMES = {
    "percentiles_exact[exact_rank]": (
        "percentiles_exact", "SPARK_GRAFT_PCT_SINGLE_BUFFER_ROWS", "0"),
}
_BNLJ_EXPECTED_FORCED = {"percentiles_exact[exact_rank]"}


def _plan_checks(plan: str) -> list:
    """Hard violations any plan must not carry."""
    found = []
    if "BatchEvalPython" in plan:
        found.append("row-wise Python UDF")
    if "CartesianProduct" in plan:
        found.append("CartesianProduct")
    return found


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--cores", type=int, default=8)
    args = ap.parse_args()

    from pdfspark.pipeline import build_session
    from pdfspark.queries import QUERIES

    spark = build_session(cores=args.cores,
                          shuffle_partitions=args.cores * 2,
                          app="plan-audit")
    hard, summary, bnlj_seen = [], {}, set()
    forced_planned, forced_bnlj = set(), set()
    try:
        for name, fn in QUERIES.items():
            try:
                df = fn(spark, args.sf_dir)
                plan = df._jdf.queryExecution().executedPlan().toString()
            except Exception as e:  # a query that cannot even plan
                hard.append((name, f"plan-failed: {e}"))
                continue
            hard.extend((name, v) for v in _plan_checks(plan))
            if "BroadcastNestedLoopJoin" in plan:
                bnlj_seen.add(name)
            summary[name] = {
                "exchanges": plan.count("Exchange"),
                "py_stages": sum(plan.count(k) for k in
                                 ("ArrowEvalPython", "MapInPandas",
                                  "FlatMapGroupsInPandas")),
            }
        for label, (name, knob, value) in _FORCED_REGIMES.items():
            saved = os.environ.get(knob)
            os.environ[knob] = value
            try:
                plan = (QUERIES[name](spark, args.sf_dir)._jdf
                        .queryExecution().executedPlan().toString())
            except Exception as e:
                hard.append((label, f"plan-failed: {e}"))
                continue
            finally:
                if saved is None:
                    del os.environ[knob]
                else:
                    os.environ[knob] = saved
            forced_planned.add(label)
            hard.extend((label, v) for v in _plan_checks(plan))
            if "BroadcastNestedLoopJoin" in plan:
                forced_bnlj.add(label)
    finally:
        spark.stop()

    for seen, expected, planned in (
            (bnlj_seen, _BNLJ_EXPECTED, summary),
            (forced_bnlj, _BNLJ_EXPECTED_FORCED, forced_planned)):
        for name in sorted(seen - expected):
            hard.append((name, "BNLJ not in the adjudicated set"))
        for name in sorted(expected - seen):
            if name in planned:  # lost its pinned BNLJ — shape changed
                hard.append((name, "pinned BNLJ disappeared"))
    worst = sorted(summary.items(), key=lambda kv: -kv[1]["exchanges"])[:5]
    print(json.dumps({
        "n_queries": len(summary),
        "hard_violations": hard,
        "max_exchanges": worst[0][1]["exchanges"] if worst else 0,
        "top_exchange_queries": {k: v["exchanges"] for k, v in worst},
        "total_py_stages": sum(v["py_stages"] for v in summary.values()),
    }))
    sys.exit(1 if hard else 0)


if __name__ == "__main__":
    main()
