"""Serving-and-ingest benchmark for newsleak_spark.

    python3 perfbench/run.py --workload search_pages --seed 1 --seconds 6 --trace 0

Workloads (closed loops; BENCHMARK.json says why each was chosen):
  search_pages   two clients share one NewsleakAPI handle and page
                 through getDocs results (page 1 with and without the
                 total, page 2 from the hit cache) in whole ten-request
                 cycles, after an untimed warm-up, until each client has
                 done two cycles and --seconds have passed
  ingest_rw      one client builds an index, appends a delta, compacts,
                 and after every commit probes getDocs pages, facets,
                 timelines or subgraphs (cold, cached and match-all) on
                 one serving handle; a fixed amount of work, so
                 --seconds does not apply

With --trace 0 the run times requests end to end and prints the
end-to-end metrics; with --trace 1 it issues the same sequence from one
client, times each layer's public call under spans, prints a layer table
per request type and the per-layer metrics. Every run checks sampled
answers against the brute-force DataFrame path and counts a wrong
answer as a failed request. The last stdout line is one JSON object.

The serving corpus and its index are built once per version of the
program's sources, in a process of their own, under
.bench_build/perfbench/cache/. Runs leave their request sequence, and
traced runs their spans, under .bench_build/perfbench/runs/. Everything a
run writes, Spark's scratch included, stays under .bench_build/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=("search_pages", "ingest_rw"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "smoke"), default="full",
                    help="smoke: tiny corpora, for the benchmark's own tests")
    ap.add_argument("--out", default=os.path.join(ROOT, ".bench_build", "perfbench"),
                    help="cache, scratch and run-log directory")
    ap.add_argument("--prepare", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def _start_spark(work: str):
    """A local session whose scratch (JVM temp dir, shuffle and Python
    worker files) lives under ``work``. The workers import newsleak_spark
    from PYTHONPATH, so the session is marked as already carrying the
    package and get_spark ships no zip of it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    from pyspark import SparkConf, SparkContext

    from newsleak_spark.session import get_spark

    conf = (
        SparkConf()
        .setMaster(f"local[{CORES}]")
        .setAppName("perfbench")
        .set("spark.driver.memory", "3g")
        .set("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .set("spark.local.dir", tmp)
        .set("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .set("spark.ui.enabled", "false")
        .set("spark.ui.showConsoleProgress", "false")
        # keep every job of a run for the per-request job and task counts
        .set("spark.ui.retainedJobs", "100000")
        .set("spark.ui.retainedStages", "100000")
    )
    sc = SparkContext(conf=conf)
    sc._newsleak_pyfile_added = True
    return get_spark(cores=CORES)


def _stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main(argv: list[str]) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "newsleak_spark")):
        print(f"perfbench: no newsleak_spark package next to {os.path.dirname(__file__)}", file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # import perfbench as a package, not its modules as top-level names
    from perfbench import corpus

    out_root = os.path.abspath(args.out)
    work = os.path.join(out_root, f"work-{os.getpid()}")
    cache = os.path.join(out_root, "cache")
    runs_dir = os.path.join(out_root, "runs")
    os.makedirs(runs_dir, exist_ok=True)
    scale = corpus.SCALES[args.scale]
    if args.prepare:
        spark = _start_spark(work)
        try:
            corpus.serving_corpus(spark, cache, scale)
        finally:
            _stop_spark(spark)
            shutil.rmtree(work, ignore_errors=True)
        return 0
    if args.workload == "search_pages" and not os.path.isdir(corpus.serving_dir(cache, scale)):
        # build the serving index in a JVM of its own, so this run measures
        # in one that has done nothing else
        subprocess.run([sys.executable, __file__, *argv, "--prepare"], check=True)
    spark = _start_spark(work)
    try:
        from perfbench import workloads

        run = workloads.Run(spark, scale, args.seed, args.seconds, bool(args.trace), work, cache)
        t0 = time.perf_counter()
        out = workloads.WORKLOADS[args.workload](run)
        metrics = workloads.per_layer(run, out) if run.traced else workloads.end_to_end(run, out)
        tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{args.scale}"
        with open(os.path.join(runs_dir, f"{tag}.requests.jsonl"), "w") as f:
            for d in sorted(run.done, key=lambda d: (d.req.client, d.req.seq)):
                f.write(json.dumps({**d.req.to_json(), "wall_s": d.wall, "ok": d.ok, "error": d.error}) + "\n")
        if run.traced:
            run.tracer.dump(os.path.join(runs_dir, f"{tag}.spans.jsonl"))
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    failed = sum(1 for d in run.done if not d.ok)
    for line in run.report:
        print(line)
    for d in run.done:
        if d.error:
            print(f"FAILED {d.req.rtype} {d.req.query!r}: {d.error.strip().splitlines()[-1]}")
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(f"run wall {time.perf_counter() - t0:.1f} s")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(run.done),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
