"""Driver vs distributed placement across batch sizes, for an ingest
generation or a build.

``streaming/ingest.py`` stages a batch of at most ``SMALL_BATCH_DOCS``
documents on the driver, and ``build_index`` a corpus of that size.  This
measures both placements on the same batches, each in a fresh process (so
``VmHWM`` is that run's own), with the bound forced to n (driver) or 0
(distributed), on ``local[cpus]``:

- ``--mode ingest``: a 50-page generation 0, then an n-page url-sorted
  generation 1 of the webtext fixture, in the ``ingest-fresh`` layout;
- ``--mode build``: a 50-page warm-up build, then a build of an n-page
  url-sorted corpus, in the ``serve-selective`` layout.

Per run it prints one JSON line: the measured call's wall, Spark jobs,
postings (ingest), phase walls, and the rise of the driver's and the JVM's
peak RSS during it.

    python scripts/ingest_placement_bench.py --sizes 2048,4096,8192,16384,32768 \
        --reps 3 --out BENCH/ingest_placement.jsonl
    python scripts/ingest_placement_bench.py --mode build --sizes 1000,4096,8192 \
        --reps 2 --out BENCH/build_placement.jsonl
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

WARM = 50


def _hwm_mb(pid="self") -> float:
    with open(f"/proc/{pid}/status") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("VmHWM:")) / 1024.0


def write_corpus(base: str, sizes: list[int]) -> None:
    """The warm-up slice and one url-sorted batch per size, from one corpus."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from search_engine_spark.fixtures.webtext import write_webtext_parquet

    full = os.path.join(base, "full")
    write_webtext_parquet(full, WARM + max(sizes))
    tbl = pq.read_table(full)
    for name, part in [("warm", tbl.slice(0, WARM))] + [
            (f"b{n}", tbl.slice(WARM, n)) for n in sizes]:
        os.makedirs(os.path.join(base, name))
        part = part.take(pc.sort_indices(part, [("url", "ascending")]))
        pq.write_table(part, os.path.join(base, name, "part-0.parquet"))


def run_one(base: str, n: int, placement: str, cpus: int, mode: str) -> dict:
    from search_engine_spark.index import builder
    from search_engine_spark.index.builder import BuildConfig, build_index
    from search_engine_spark.session import get_spark
    from search_engine_spark.streaming import ingest

    spark = get_spark("ingest_placement", cpus=cpus, shuffle_partitions=cpus)
    sc = spark.sparkContext
    jvm = sc._gateway.proc.pid
    cfg = BuildConfig(block_docs=128, target_ranges=8, min_range_docs=128, n_partitions=4,
                      waves=1, shuffle_partitions=cpus,
                      docvalues_cols=("lang", "warc_ts") if mode == "ingest" else ())
    idx = tempfile.mkdtemp(prefix="idx", dir=base)
    warm, batch = os.path.join(base, "warm"), os.path.join(base, f"b{n}")
    if mode == "ingest":
        ingest.ingest_batch(spark, spark.read.parquet(warm), idx, 0, cfg=cfg)
    else:
        build_index(spark, warm, os.path.join(idx, "warm"), cfg=cfg)
    builder.SMALL_BATCH_DOCS = n if placement == "driver" else 0
    batch_df = spark.read.parquet(batch)
    py0, jvm0 = _hwm_mb(), _hwm_mb(jvm)
    sc.setJobGroup("measured", "measured")
    t0 = time.perf_counter()
    if mode == "ingest":
        res = ingest.ingest_batch(spark, batch_df, idx, 1, cfg=cfg)
        got = {"placement": res.placement, "postings": res.postings, "phase_sec": res.phase_sec}
    else:
        res = build_index(spark, batch, os.path.join(idx, "index"), cfg=cfg)
        got = {"placement": res["placement"], "phase_sec": res["phase_sec"]}
    wall = time.perf_counter() - t0
    out = {
        "mode": mode, "n": n, "placement": got.pop("placement"), "wall_s": round(wall, 2),
        "jobs": len(sc.statusTracker().getJobIdsForGroup("measured")),
        "py_hwm_rise_mb": round(_hwm_mb() - py0, 1),
        "jvm_hwm_rise_mb": round(_hwm_mb(jvm) - jvm0, 1), **got,
    }
    spark.stop()
    shutil.rmtree(idx, ignore_errors=True)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=("ingest", "build"), default="ingest")
    ap.add_argument("--sizes", default="2048,4096,8192,16384,32768")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--out", default=None)
    ap.add_argument("--one", nargs=3, metavar=("BASE", "N", "PLACEMENT"), help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.one:
        base, n, placement = args.one
        print(json.dumps(run_one(base, int(n), placement, args.cpus, args.mode)))
        return

    sizes = [int(s) for s in args.sizes.split(",")]
    base = tempfile.mkdtemp(prefix="ingest_placement_")
    try:
        write_corpus(base, sizes)
        lines = []
        for rep in range(args.reps):
            for n in sizes:
                # alternate which placement runs first
                for p in (("driver", "distributed") if rep % 2 == 0 else
                          ("distributed", "driver")):
                    r = subprocess.run(
                        [sys.executable, os.path.abspath(__file__), "--cpus", str(args.cpus),
                         "--mode", args.mode, "--one", base, str(n), p],
                        capture_output=True, text=True, check=True)
                    lines.append(r.stdout.strip().splitlines()[-1])
                    print(lines[-1], flush=True)
        if args.out:
            with open(args.out, "w") as f:
                f.write("\n".join(lines) + "\n")
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
