"""perfbench: end-to-end and per-layer benchmark of the ngxspark pipeline.

Usage (from the repository root):

    python3 perfbench/run.py --workload tx_agg --seed 1 --seconds 15 --trace 0

Workloads (see perfbench/STEADINESS.md for why each):
  tx_agg          transcripts → parse_enrich_route → all four pipeline_aggregates
  ops_dedup       documents → dedup_exact → lsh_verified_pairs →
                  connected_components → cluster_representatives
  tx_dirty_sinks  40 % \\xHH-escaped transcripts → parse_enrich_route →
                  write_fanout (runnable by hand, not in BENCHMARK.json)

The load is closed-loop batch work: this process is the only client and
starts a pass when the previous one has returned. Spark runs in local mode
with one task slot per CPU. A run generates its input from ``--seed``,
warms up with the exact pass, then runs passes for ``--seconds`` (and at
least two) and checks every result. The last line of stdout is one JSON object:
``--trace 0`` reports the end-to-end metrics (pass time is the median
pass); ``--trace 1`` alternates traced and untraced passes, then runs the
prefix cuts, reports the per-layer metrics and writes every span and
count to ``.perfbench_out/``.
Exit status: 0 when every pass was correct (and, traced, every pass's
self times added up), 1 when a pass failed or returned a wrong result,
2 when ngxspark cannot be found.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

from proctree import PeakPss, cpu_split, snapshot
from spans import NullTracer, log

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Passes keep getting faster over the first five or more, so no short
# warm-up ends the slope: one exact pass takes the cold start (2-3 times a
# warm pass), and the timed passes then sit at the same place on the slope
# in every run. A second warm-up pass would push a benchmark round past its
# time budget when the box is slow (see STEADINESS.md).
WARMUP_PASSES = 1
MIN_PASSES = 2
# a 2 GB driver heap, which every workload runs in, instead of
# ngxspark.session's 16g default: the 15 GB box the benchmark was sized on
# is shared with other work, and a 16g ceiling lets the heap grow past
# what it can spare. peak_pss_mb and jvm.gc_s depend on this setting.
DRIVER_MEM = "2g"


def process_age_s() -> float:
    """Seconds since this process started (from /proc, not from import)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def use_tmp_under(work: str) -> None:
    """Keep every temporary file under ``work``: Python's (here and in the
    Spark workers), the JVMs' java.io.tmpdir, and no JVM hsperfdata file
    in the system temporary directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def start_spark(work: str):
    from ngxspark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        app="perfbench",
        cores=cores,
        extra={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def timed_pass(wl) -> tuple[float, float, dict | None]:
    """(wall s, tree CPU s, pass result or None if it failed)."""
    wl.before_pass()
    c0, t0 = tree_cpu_s(), time.perf_counter()
    try:
        res = wl.run_pass(NullTracer())
    except Exception:  # a failed pass is counted, reported and the run goes on
        log("pass failed:\n" + traceback.format_exc())
        res = None
    return time.perf_counter() - t0, tree_cpu_s() - c0, res


def tree_cpu_s() -> float:
    return sum(cpu_split(snapshot()).values())


def end_to_end(wl, seconds: float, setup_s: float) -> dict:
    walls, cpus, failed = [], [], 0
    # peak PSS over the timed passes, after set-up has grown the JVM heap
    peak = PeakPss().start()
    t0 = time.perf_counter()
    while True:
        wall, cpu, res = timed_pass(wl)
        if res is None:
            failed += 1
        else:
            walls.append(wall)
            cpus.append(cpu)
        elapsed = time.perf_counter() - t0
        typical = statistics.median(walls or [wall])
        if len(walls) + failed >= MIN_PASSES and elapsed + typical / 2 > seconds:
            break
    peak_mb = peak.stop()
    attempted = len(walls) + failed
    log(f"{wl.name}: {attempted} passes, {failed} failed, walls {[round(w, 3) for w in walls]}")
    # with no correct pass there is no pass time to report: zeros, and the
    # run is marked incorrect
    pass_s = statistics.median(walls) if walls else 0.0
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "setup_s": metric(setup_s, "s"),
            "pass_s": metric(pass_s, "s"),
            "rows_per_s": metric(wl.rows / pass_s if walls else 0.0, "1/s"),
            "cpu_s": metric(statistics.median(cpus) if cpus else 0.0, "s"),
            "peak_pss_mb": metric(peak_mb, "MB"),
            "ok_ratio": metric(len(walls) / attempted, "1"),
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ngxspark", "__init__.py")):
        log(f"no ngxspark package under {ROOT}; run from a checkout of the repository")
        return 2
    sys.path.insert(0, ROOT)
    # Spark's Python workers import ngxspark too: give them the checkout
    # root, so the benchmark runs from any working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2

    # every run starts from an empty work directory: no input or cache
    # survives from an earlier run, so set-up does the same work each time
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    use_tmp_under(work)
    os.environ["NGXSPARK_DRIVER_MEM"] = DRIVER_MEM

    spark = start_spark(work)
    log(f"session up at {process_age_s():.2f} s")
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        wl.setup()
        log(f"input written at {process_age_s():.2f} s")
        for _ in range(WARMUP_PASSES):
            wl.before_pass()
            wl.run_pass(NullTracer())
        setup_s = process_age_s()
        log(f"{wl.name}: seed {args.seed}, {wl.rows} input rows, set-up {setup_s:.2f} s")
        if args.trace:
            from traced import traced_run

            out_dir = os.path.join(ROOT, ".perfbench_out")
            result = traced_run(spark, wl, args.seconds, out_dir)
        else:
            result = end_to_end(wl, args.seconds, setup_s)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
