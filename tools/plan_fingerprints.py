#!/usr/bin/env python
"""Generate (or check) the repo-wide plan-fingerprint baseline.

`tests/test_plan_fingerprints.py` asserts every stable registered
query still plans with the SAME load-bearing shape — shuffle-exchange
count, join strategies, scan count, window presence — as the
committed baseline (`tools/fingerprints.json`).  The hand-written
assertions in `tests/test_plans.py` cover ~60 queries in depth; this
gate covers the rest in breadth, so a future edit that silently turns
a broadcast join into a sort-merge join (or adds a shuffle) anywhere
in the registry fails CI instead of shipping.

    python tools/plan_fingerprints.py          # regen the baseline
    python tools/plan_fingerprints.py --check  # exit 1 on drift

Excluded queries (see EXCLUDE): streaming replays (their fn() runs a
full availableNow stream), and the memoized/iterative families whose
plan legitimately contains InMemoryTableScan on a warm cache but not
on a cold one — their shapes are pinned by dedicated tests instead.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

# Plan depends on cache warmth (persisted memos) or fn() executes a
# streaming pipeline — fingerprinted by their own dedicated tests.
EXCLUDE_PREFIXES = ("stream_",)
EXCLUDE = {
    "a11_rfm_segments",  # memoized rollup + 3 pinned rank partitions
    "d_dup_clusters", "d_dedup_canonical", "d_dup_cluster_stats",
    "sim_dup_clusters", "g_pagerank_purchases", "g_cc_star_clusters",
    "g_triangle_count", "t_bpe_encode", "t_bpe_merges",
    "engine_streaming_fold",
    "engine_index_incremental",
    "s3_serving_store_upsert", "s5_serving_store_gc",
}

JOIN_OPS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
            "BroadcastNestedLoopJoin", "CartesianProduct")


def fingerprint(df) -> dict:
    from old_original_java_little_horse_spark.plans.inspect import physical_ops

    ops = physical_ops(df)
    c = Counter(ops)
    return {
        "exchanges": c["Exchange"],
        "joins": {op: c[op] for op in JOIN_OPS if c[op]},
        "scans": c["Scan"],
        "windows": c["Window"] + c["WindowGroupLimit"],
        "aqe": bool(c["AdaptiveSparkPlan"]),
        "python": c["ArrowEvalPython"] + c["MapInPandas"]
                  + c["FlatMapGroupsInPandas"],
    }


def included_queries():
    from old_original_java_little_horse_spark.registry import all_queries

    return {n: s for n, s in sorted(all_queries().items())
            if n not in EXCLUDE
            and not n.startswith(EXCLUDE_PREFIXES)}


def generate() -> dict[str, dict]:
    from old_original_java_little_horse_spark.session import get_spark

    spark = get_spark("plan-fingerprints")
    out = {}
    for name, spec in included_queries().items():
        out[name] = fingerprint(spec.fn(spark, SF))
    return out


BASELINE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "fingerprints.json")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--check", action="store_true")
    args = ap.parse_args()
    got = generate()
    if args.check:
        want = json.load(open(BASELINE))
        drift = {n: (want.get(n), got[n]) for n in got
                 if got[n] != want.get(n)}
        missing = [n for n in want if n not in got]
        for n, (w, g) in drift.items():
            print(f"DRIFT {n}: baseline={w} now={g}")
        for n in missing:
            print(f"REMOVED {n} (in baseline, not in registry)")
        print(f"{len(got)} checked, {len(drift)} drifted, "
              f"{len(missing)} removed")
        return 1 if drift or missing else 0
    os.makedirs(os.path.dirname(BASELINE), exist_ok=True)
    with open(BASELINE, "w") as f:
        json.dump(got, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {BASELINE} ({len(got)} queries)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
