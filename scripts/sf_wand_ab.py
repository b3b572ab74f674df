"""Interleaved unpruned/pruned A/B on an existing SINGLE-FIELD index — the
throttle-immune twin of scripts/mf_wand_ab.py for the §3c queries,
interleaving the two modes rep by rep so host drift cannot manufacture
(or hide) a difference.

Both sides run the one doc-range kernel call, forced distributed:
``mode="sort"`` folds every block, ``mode="wand"`` prunes blocks inside
each kernel task against the task's running θ (decoding a pruned block's
doc ids only, for the exact total).  ``mode="auto"`` runs the pruned
kernel on these WAND-shaped queries.  Pages must be identical — doc ids
and float-hex scores — on all three; ``last_wand`` records the θs and the
blocks read and pruned.  (The ``BENCH/sf_wand_ab_*.json`` artifacts up to
24M docs were recorded by the earlier two-phase planner and its auto cost
model.)

    python scripts/sf_wand_ab.py --index /tmp/query_scale_idx_1000000 \
        --cpus 4 --reps 9 --out BENCH/sf_wand_ab_1m_r7.json
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from search_engine_spark.benchutil import clock_probe  # noqa: E402

QUERIES = {
    "dense_dense": "the oil",
    "mid_rare": "the dairy",
    "rare_dominated": "the cadbury",
    "multi_stop_rare": "the of in cadbury",
}


def _page(res):
    return [(int(d), float(s).hex()) for d, s in zip(res.page["doc_id"], res.page["score"])]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from search_engine_spark.query.engine import SearchEngine
    from search_engine_spark.session import get_spark

    spark = get_spark("sf_wand_ab", cpus=args.cpus)
    eng = SearchEngine(spark, args.index)

    results: dict = {
        "index": args.index,
        "cpus": args.cpus,
        "reps": args.reps,
        "clock_probe_mips": clock_probe(),
        "queries": {},
    }
    for name, kw in QUERIES.items():
        eng.search(kw, k=10, mode="sort", force_distributed=True)  # warm
        eng.search(kw, k=10, mode="wand", force_distributed=True)
        pairs, same = [], True
        for _ in range(args.reps):
            t0 = time.time()
            rs = eng.search(kw, k=10, mode="sort", force_distributed=True)
            t_sort = time.time() - t0
            t0 = time.time()
            rw = eng.search(kw, k=10, mode="wand", force_distributed=True)
            t_wand = time.time() - t0
            pairs.append((round(t_sort, 3), round(t_wand, 3)))
            last_wand = dict(eng.last_wand)
            same = same and _page(rs) == _page(rw) and rs.total == rw.total
        auto = eng.search(kw, k=10, mode="auto", force_distributed=True)
        same = same and _page(auto) == _page(rs) and auto.total == rs.total
        med_sort = statistics.median(p[0] for p in pairs)
        med_wand = statistics.median(p[1] for p in pairs)
        ratio = med_wand / med_sort
        results["queries"][name] = {
            "keyword": kw,
            "pairs_sort_wand_s": pairs,
            "median_sort_s": round(med_sort, 3),
            "median_wand_s": round(med_wand, 3),
            "wand_over_sort_ratio": round(ratio, 3),
            "per_rep_wand_wins": sum(1 for s, w in pairs if w < s),
            "auto_mode": eng.last_dispatch["mode"],
            "dispatch": eng.last_dispatch,
            "last_wand": last_wand,
            "pages_identical": same,  # every rep and auto, totals included
        }
        print(f"{name} ({kw!r}): pairs={pairs} median sort={med_sort:.3f} "
              f"wand={med_wand:.3f} auto={eng.last_dispatch['mode']}", flush=True)

    results["clock_probe_mips_end"] = clock_probe()
    if args.out:
        os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
        with open(args.out, "w") as f:
            json.dump(results, f, indent=2)
    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
