#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload serve-selective --seed 1 --seconds 10 --trace 0

Run from the repository root.  It builds the engine's inputs from the seed,
runs the workload against the ``search_engine_spark`` package found beside
this directory, checks every output, and prints as its last line one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics of ``BENCHMARK.json``, ``--trace 1`` its
per-layer metrics.  The line before it (``# notes {...}``) carries run
annotations: clock probes, sample counts, the tail percentile used.  A
traced run also writes its spans to ``.bench_out/``.

Exit status: 0 when every output was correct, 1 when some output was wrong
or an operation failed (the result line is still printed), 2 when the run
could not start (bad arguments, program missing) — then nothing is printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

# Session settings, pinned in one place: local[nproc], a driver heap sized
# for a 15 GB box without swap and committed from the start (so the JVM's
# peak RSS does not depend on when the collector grows the heap), no console
# progress bar, scratch space that is wiped with the run.
CPUS = len(os.sched_getaffinity(0))
DRIVER_MEM = "1g"
PROBE_ITERS = 2_000_000


def _pin_environment(work: str) -> dict:
    """Environment for the run and the JVM and Python workers it starts."""
    # a stray MASTER would make get_spark skip .master() and fail
    os.environ.pop("MASTER", None)
    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": str(CPUS),
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p),
    })
    import tempfile
    tempfile.tempdir = tmp
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file in /tmp: the run writes only inside the checkout
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
    }


def _declared(key: str) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[key]


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="full", help="full, or tiny for the smoke check")
    args = ap.parse_args(argv)

    try:
        from search_engine_spark.benchutil import clock_probe
        from search_engine_spark.session import get_spark

        from perfbench import workloads as W
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in W.WORKLOADS or args.size not in W.SIZES:
        print(f"perfbench: workloads {sorted(W.WORKLOADS)}, sizes {sorted(W.SIZES)}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    notes = {"clock_probe_start_mips": clock_probe(PROBE_ITERS), "cpus": CPUS}
    conf = _pin_environment(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=CPUS, shuffle_partitions=CPUS, extra_conf=conf)
        session_s = time.perf_counter() - t0
        run = W.Run(spark, work, args.seed, args.seconds, W.SIZES[args.size],
                    bool(args.trace), CPUS, T_START)
        run.layer["session.start_s"] = session_s
        try:
            W.WORKLOADS[args.workload](run)
        except Exception:  # a phase could not continue: the run is wrong
            run.failures.append(traceback.format_exc())
        run.finish_layers()
        if args.trace:
            out_dir = os.path.join(ROOT, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            run.tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"))
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    notes.update(run.notes)
    notes["clock_probe_end_mips"] = clock_probe(PROBE_ITERS)
    notes["run_wall_s"] = time.perf_counter() - T_START
    values = run.layer if args.trace else run.e2e
    metrics, missing = {}, []
    for m in _declared("per_layer" if args.trace else "end_to_end"):
        if m["name"] in values:
            metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
        else:
            missing.append(m["name"])
    if missing:
        run.failures.append(f"metrics not measured: {missing}")
    for f in run.failures:
        print(f"perfbench: FAILED: {f}", file=sys.stderr)
    failed = len(run.failures)
    print("# notes " + json.dumps(notes))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": max(run.attempted, 1),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
