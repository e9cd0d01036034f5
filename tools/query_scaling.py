"""Read-path (query-leg) N→4N strong scaling at a scan-dominated size.

VERDICT r4 item 1: the per-round `bench.py --scaling` query leg (4
queries on an 800k index) is Amdahl-limited — ~0.5 s/query fixed
driver/plan overhead against a 3.7–5.6 s batch — so its recorded
0.33–0.45 "query efficiency" measures overhead amortization, not the
read path. This tool measures the read path where the scan dominates:
a batch of 22 DISTINCT warm queries against ONE pre-built 10M-turn
index (build it with `KEEP_INDEX=1 python tools/demo_10m.py`), run by
N=1 vs 4N=4 separate 1-core executor JVMs (the same process demand as
the 1-core build series: 2 vs 8 host processes, inside this VM's
measured deliverable cores — tools/cpu_calibration.py).

The index is READ-ONLY and shared by both legs — query scaling is a
property of the read path, so the job is query-only (the reference
analog is the scatter/gather of SearchHitIterator.scala:43-58 across
index shards). Each leg warms up untimed (JIT, python-worker fork,
page cache — one-time costs a long-lived serving cluster amortizes),
then times the full batch once.

Every run appends to tools/scaling_history.jsonl with
kind="query_scaling_same_index"; the blind symmetric-quiet rule
(tools/quiet_median.py --kind query) applies to batch walls exactly as
it does to build walls in the build series. bench.py folds the series
summary into tools/scaling_result.json next to the build leg.

Usage:
  python tools/query_scaling.py [index_dir]          # one full sample
  python tools/query_scaling.py --child N index_dir  # (internal)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

HISTORY = os.path.join(REPO, "tools", "scaling_history.jsonl")
DEFAULT_INDEX = "/tmp/newsleak_demo_10000000"
KIND = "query_scaling_same_index"
N_TURNS = 10_000_000  # series key (index size), not a build input


def _specs():
    from newsleak_spark.query import QuerySpec

    return [
        # singles across the Zipf head and tail
        QuerySpec(terms=("w3",), k=20),
        QuerySpec(terms=("w5",), k=20),
        QuerySpec(terms=("w7",), k=20),
        QuerySpec(terms=("w9",), k=20),
        QuerySpec(terms=("w11",), k=20),
        QuerySpec(terms=("w13",), k=20),
        QuerySpec(terms=("w17",), k=20),
        QuerySpec(terms=("w23",), k=20),
        # hot terms (salted postings; spark is the injected df≈0.4N term)
        QuerySpec(terms=("spark",), k=20),
        QuerySpec(terms=("w1",), k=20),
        # ANDs (intersection + candidate-pruned decode)
        QuerySpec(terms=("w5", "w17"), k=20),
        QuerySpec(terms=("w7", "w9"), k=20),
        QuerySpec(terms=("w11", "w3"), k=20),
        QuerySpec(terms=("w2", "w13"), k=20),
        # phrases: sidecar-covered hot pair, uncovered hot pair, selective
        QuerySpec(phrases=(("w2", "w4"),), k=20),
        QuerySpec(phrases=(("w9", "w10"),), k=20),
        QuerySpec(phrases=(("w207", "w1033"),), k=20),
        # scored unions (block-max WAND)
        QuerySpec(terms=(), boost_terms=("w3", "w9", "w27"), k=20),
        QuerySpec(terms=(), boost_terms=("w5", "w11"), k=20),
        # metadata-filtered (shard-local cogroup with docmeta)
        QuerySpec(terms=("w3",), role_filter=("user",), k=20),
        QuerySpec(terms=("w7",), role_filter=("user", "tool"), k=20),
        # must_not
        QuerySpec(terms=("w3",), not_terms=("w9",), k=20),
    ]


def _child(n_exec: int, index_dir: str) -> None:
    from newsleak_spark.query import QuerySpec
    from newsleak_spark.query.engine import search
    from newsleak_spark.session import get_spark

    spark = get_spark(
        app_name=f"query_scaling_{n_exec}x",
        executors=n_exec,
        executor_cores=1,
        shuffle_partitions=128,
        # FAIR scheduling for the in-flight measurement: a serving
        # cluster holds many queries in flight, and fair pools let
        # their stages interleave instead of convoying behind the
        # head-of-line job (FIFO would serialize slot handoff)
        extra_conf={"spark.scheduler.mode": "FAIR"},
    )
    spark.range(1_000).count()

    specs = _specs()
    # untimed warm-up: ONE FULL PASS of the batch. A serving cluster is
    # steady-state; here each executor JVM must JIT (C2) the scan /
    # shuffle / Arrow paths independently, so a 2-query warm-up leaves
    # the 4-JVM leg colder than the 1-JVM leg (which self-warms across
    # its serial batch) — measured as a ~15% artifact in the first
    # logged sample. Warming with the same batch both legs then timing
    # the second pass measures the steady-state read path, not JVM count.
    for s in specs:
        search(spark, index_dir, s).collect()

    per_query = []
    t0 = time.time()
    for s in specs:
        tq = time.time()
        search(spark, index_dir, s).collect()
        per_query.append(round(time.time() - tq, 2))
    batch_sec = time.time() - t0

    # in-flight throughput: the sequential pass above measures per-query
    # LATENCY scaling, where a lone query's straggler task bounds the
    # makespan on a 4-slot cluster. A serving cluster (the reference's
    # SearchHitIterator scatter/gather serves concurrent users) keeps
    # queries IN FLIGHT, so straggler gaps overlap with other queries'
    # work. Same 22 queries, submitted from 4 driver threads into
    # per-thread FAIR pools — identical submission pattern on both legs,
    # so the comparison still isolates executor count.
    from concurrent.futures import ThreadPoolExecutor
    import threading

    def _one(s) -> None:
        spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", threading.current_thread().name
        )
        search(spark, index_dir, s).collect()

    t0 = time.time()
    with ThreadPoolExecutor(max_workers=4) as ex:
        list(ex.map(_one, specs))
    inflight_sec = time.time() - t0

    print(
        "CHILD_RESULT "
        + json.dumps(
            {
                "executors": n_exec,
                "cores": n_exec,
                "n_queries": len(specs),
                "batch_sec": round(batch_sec, 2),
                "sec_per_query": round(batch_sec / len(specs), 3),
                "per_query_sec": per_query,
                "inflight_sec": round(inflight_sec, 2),
                "inflight_sec_per_query": round(inflight_sec / len(specs), 3),
            }
        )
    )


def _hw_ceiling() -> dict:
    """Same-moment pure-CPU ceiling at the pair's true process demand
    (1-core executor ≈ 2 host processes: JVM task thread + python
    worker) — identical protocol to bench.py's build series."""
    import multiprocessing as mp

    from cpu_calibration import burn

    out = {}
    for p in (2, 8):
        with mp.Pool(p) as pool:
            t0 = time.time()
            pool.map(burn, range(p))
            out[p] = p / (time.time() - t0)
    return {
        "units_per_sec": {str(k): round(v, 3) for k, v in out.items()},
        "hw_speedup_4x": round(out[8] / out[2], 3),
        "hw_efficiency_4x": round(out[8] / out[2] / 4.0, 3),
    }


def _score_kernel(_i: int) -> float:
    """One scoring-shard workload built from the ENGINE'S OWN kernel
    (codec.varint_decode + the _decode_term_blocks/_bm25 array ops):
    decode 3M postings, cumsum doc deltas, stable-argsort, BM25 float
    math. Returns seconds for 8 repetitions (data stays ~100 MB so the
    working set spills past L3 and the measurement is DRAM-bound, like
    the real scoring stage)."""
    import numpy as np

    from newsleak_spark.codec import varint_decode, varint_encode

    rng = np.random.default_rng(42)
    deltas = rng.integers(1, 300, size=3_000_000).astype(np.uint64)
    buf = varint_encode(deltas)
    varint_decode(buf)  # warm allocator / page-in
    t0 = time.time()
    for _ in range(8):
        d = varint_decode(buf).view(np.int64)
        docs = np.cumsum(d)
        tfs = (d % 7 + 1).astype(np.float64)
        dls = (d % 50 + 20).astype(np.float64)
        order = np.argsort(docs, kind="stable")
        s = 2.2 * (tfs[order] / (tfs[order] + 1.2 * (0.25 + 0.75 * dls[order] / 62.0)))
        s.sum()
    return time.time() - t0


def _membw_ceiling() -> dict:
    """Same-moment MEMORY-BANDWIDTH ceiling for the scoring stage: the
    real decode+score kernel run standalone at P=1 vs P=4 concurrent
    processes (the python-worker count of the 1N vs 4N legs). The
    cpu_calibration burn is cache-resident, so it prices CPU contention
    but not the memory bus — and the scoring stage is DRAM-bound
    (verified: per-process kernel throughput at P=4 matches the warm
    query-leg efficiency). On a REAL 4-node cluster each node has its
    own memory controller, so this ceiling is a single-host proxy
    artifact, not a property of the engine's plan — which is exactly
    why it must be measured and reported rather than folded silently
    into 'efficiency'."""
    import multiprocessing as mp

    out = {}
    for p in (1, 4):
        with mp.Pool(p) as pool:
            times = pool.map(_score_kernel, range(p))
        out[p] = sum(times) / len(times)
    return {
        "kernel_sec_per_proc": {str(k): round(v, 3) for k, v in out.items()},
        "membw_efficiency_4x": round(out[1] / out[4], 3),
    }


def run(index_dir: str) -> dict:
    if not os.path.exists(os.path.join(index_dir, "manifest.json")):
        raise SystemExit(
            f"no index at {index_dir} — build one first: "
            "KEEP_INDEX=1 python tools/demo_10m.py"
        )
    # pre-touch the index files once so BOTH legs start page-cache-warm
    # (leg order would otherwise hand the second leg a warmer cache)
    for root, _dirs, files in os.walk(index_dir):
        for fn in files:
            with open(os.path.join(root, fn), "rb") as f:
                while f.read(1 << 24):
                    pass
    hw_before = _hw_ceiling()
    membw_before = _membw_ceiling()
    results = {}
    for n_exec in (1, 4):
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--child", str(n_exec), index_dir],
            capture_output=True,
            text=True,
            cwd=REPO,
            timeout=3600,
        )
        line = next(
            (l for l in proc.stdout.splitlines() if l.startswith("CHILD_RESULT ")), None
        )
        if line is None:
            raise RuntimeError(
                f"query-scaling child (executors={n_exec}) failed:\n"
                f"{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}"
            )
        results[n_exec] = json.loads(line[len("CHILD_RESULT ") :])
    hw_after = _hw_ceiling()
    membw_after = _membw_ceiling()
    hw_speedup = (hw_before["hw_speedup_4x"] + hw_after["hw_speedup_4x"]) / 2.0
    membw_eff = (
        membw_before["membw_efficiency_4x"] + membw_after["membw_efficiency_4x"]
    ) / 2.0

    speedup = results[1]["batch_sec"] / results[4]["batch_sec"]
    # series key = the index's ACTUAL size (manifest n_docs), so samples
    # against a 50M-turn index form their own quiet series instead of
    # polluting the 10M series' best-ever walls (quiet_median.py groups
    # by (kind, n_turns, executor_cores))
    try:
        from newsleak_spark.indexing.manifest import Manifest

        series_turns = int(Manifest(index_dir).stats.get("n_docs") or N_TURNS)
    except (OSError, ValueError, KeyError, TypeError):
        series_turns = N_TURNS
    out = {
        "kind": KIND,
        "executor_cores": 1,
        "n_turns": series_turns,
        "index_dir": index_dir,
        "n_queries": results[1]["n_queries"],
        "proxy": (
            "local-cluster[1,1,4096] vs local-cluster[4,1,4096] querying the "
            f"SAME pre-built {series_turns}-turn index (read-only): 22 distinct queries "
            "per leg, one full untimed warm-up pass (per-JVM JIT parity), "
            "second pass timed so the segment scan + shard scoring dominate; "
            "pair sized within the measured host-CPU ceiling "
            "(tools/cpu_calibration.py). The scoring stage is DRAM-bound, so "
            "the binding single-host ceiling is membw_ceiling: the engine's "
            "own decode+score kernel run standalone at 1 vs 4 concurrent "
            "processes — on a real 4-node cluster each node brings its own "
            "memory controller, so that ceiling does not exist off-host"
        ),
        "hw_ceiling": {
            "before": hw_before,
            "after": hw_after,
            "hw_speedup_4x": round(hw_speedup, 3),
            "hw_efficiency_4x": round(hw_speedup / 4.0, 3),
        },
        "membw_ceiling": {
            "before": membw_before,
            "after": membw_after,
            "membw_efficiency_4x": round(membw_eff, 3),
        },
        "n_executors": results[1],
        "4n_executors": results[4],
        "speedup": round(speedup, 3),
        "efficiency": round(speedup / 4.0, 3),
        "efficiency_vs_hw_ceiling": round(speedup / hw_speedup, 3),
        "efficiency_vs_membw_ceiling": round(speedup / 4.0 / membw_eff, 3),
        "measured_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    if "inflight_sec" in results[1] and "inflight_sec" in results[4]:
        infl = results[1]["inflight_sec"] / results[4]["inflight_sec"]
        out["inflight_speedup"] = round(infl, 3)
        out["inflight_efficiency"] = round(infl / 4.0, 3)
        out["inflight_efficiency_vs_membw_ceiling"] = round(infl / 4.0 / membw_eff, 3)
    with open(HISTORY, "a") as f:
        f.write(json.dumps(out) + "\n")
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--child":
        _child(int(sys.argv[2]), sys.argv[3] if len(sys.argv) > 3 else DEFAULT_INDEX)
    else:
        run(sys.argv[1] if len(sys.argv) > 1 else DEFAULT_INDEX)
