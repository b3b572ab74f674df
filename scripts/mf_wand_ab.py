"""Interleaved unpruned/pruned A/B on an existing multi-field index.

Host wall-clock here drifts up to 2x between runs (shared box), so single
legs are not comparable — this interleaves the two modes rep-by-rep (the
BENCH §7 throttle-immune protocol) and reports per-rep pairs plus medians.
``mode="sort"`` (forced distributed) folds every block of the one
doc-range kernel call; ``mode="wand"`` is the same call with blocks
pruned inside each task against its running θ, whose θs and block
counters ``last_wand`` records.  ``mode="auto"`` runs the pruned kernel
when the driver would not take the query, and ``last_dispatch`` records
that placement.  (The ``BENCH/mf_wand_ab_*.json`` artifacts were recorded
by the earlier two-phase planner and its auto cost model.)

    python scripts/mf_wand_ab.py --index /tmp/mf_scale_idx_8000000 \
        --reps 5 --out BENCH/mf_wand_ab_8m.json
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


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from search_engine_spark.query.engine import SearchEngine
    from search_engine_spark.session import get_spark

    spark = get_spark("mf_wand_ab", cpus=args.cpus)
    eng = SearchEngine(spark, args.index)

    shapes = {
        "dense_dense": [("title", "the"), ("body", "the")],
        "rare_dominated": [("title", "cadbury"), ("body", "the")],
    }
    results: dict = {
        "index": args.index,
        "cpus": args.cpus,
        "reps": args.reps,
        "clock_probe_mips": clock_probe(),
        "shapes": {},
    }
    for name, should in shapes.items():
        # one warm rep per mode outside the timed pairs: plan compilation
        # and page-cache warmup hit whichever mode goes first otherwise
        eng.search_fields(should=should, k=10, force_distributed=True)
        eng.search_fields(should=should, k=10, mode="wand")
        pairs = []
        pages = {}
        for _ in range(args.reps):
            t0 = time.time()
            rs = eng.search_fields(should=should, k=10, force_distributed=True)
            t_sort = time.time() - t0
            t0 = time.time()
            rw = eng.search_fields(should=should, k=10, mode="wand")
            t_wand = time.time() - t0
            pairs.append((round(t_sort, 3), round(t_wand, 3)))
            pages["sort"] = [(int(d), round(float(s), 9))
                             for d, s in zip(rs.page["doc_id"], rs.page["score"])]
            pages["wand"] = [(int(d), round(float(s), 9))
                             for d, s in zip(rw.page["doc_id"], rw.page["score"])]
        auto = eng.search_fields(should=should, k=10, mode="auto")
        pages["auto"] = [(int(d), round(float(s), 9))
                         for d, s in zip(auto.page["doc_id"], auto.page["score"])]
        med_sort = statistics.median(p[0] for p in pairs)
        med_wand = statistics.median(p[1] for p in pairs)
        results["shapes"][name] = {
            "pairs_sort_wand_s": pairs,
            "median_sort_s": round(med_sort, 3),
            "median_wand_s": round(med_wand, 3),
            "wand_over_sort_ratio": round(med_wand / med_sort, 3),
            "per_rep_wand_wins": sum(1 for s, w in pairs if w < s),
            "auto_mode": eng.last_dispatch["mode"],
            "dispatch": {k: (round(v, 4) if isinstance(v, float) else v)
                         for k, v in eng.last_dispatch.items()},
            "last_wand": {k: (round(v, 4) if isinstance(v, float) else v)
                          for k, v in (eng.last_wand or {}).items()},
            "pages_identical": pages["sort"] == pages["wand"] == pages["auto"],
        }
        print(f"{name}: pairs={pairs} median sort={med_sort:.3f} wand={med_wand:.3f} "
              f"auto={eng.last_dispatch['mode']}", flush=True)

    results["clock_probe_mips_end"] = clock_probe()
    if args.out:
        os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
        with open(args.out, "w") as f:
            json.dump(results, f, indent=2)
    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
