"""Blind symmetric-quiet scaling summary (BASELINE.md, round 3).

Applies ONE mechanical rule to every run in tools/scaling_history.jsonl:
a run is QUIET iff BOTH legs' build walls are within QUIET_FACTOR (1.25x)
of their respective best-ever walls across the whole history. No
outcome (efficiency) ever enters the qualification test — the rule was
pre-registered in round 3 precisely to correct the builder's own
selection bias, and this script keeps its application reproducible as
the history grows. Prints the qualifying samples and their median.
"""

from __future__ import annotations

import json
import os
import sys

QUIET_FACTOR = 1.25
HISTORY = os.path.join(os.path.dirname(os.path.abspath(__file__)), "scaling_history.jsonl")


def _wall(kind: str) -> str:
    return "batch_sec" if kind == "query_scaling_same_index" else "build_sec"


def quiet_runs(
    n_turns: int = 800_000,
    executor_cores: int = 2,
    kind: str = "strong_scaling_same_input",
) -> tuple[list, list]:
    """(runs, quiet runs) of one series. Only runs of the same (kind,
    n_turns, executor_cores) configuration compare (legacy entries
    predate the fields: kind = strong_scaling_same_input,
    executor_cores = 2). The build series' leg wall is build_sec; the
    query series' (query_scaling_same_index) is batch_sec — the same
    symmetric rule applies to whichever wall the series' job
    measures."""
    wall = _wall(kind)
    with open(HISTORY) as f:
        runs = [json.loads(l) for l in f if l.strip()]
    runs = [
        r
        for r in runs
        if r.get("n_turns") == n_turns
        and int(r.get("executor_cores", 2)) == executor_cores
        and r.get("kind", "strong_scaling_same_input") == kind
    ]
    if not runs:
        return [], []
    best_n = min(r["n_executors"][wall] for r in runs)
    best_4n = min(r["4n_executors"][wall] for r in runs)
    quiet = [
        r
        for r in runs
        if r["n_executors"][wall] <= QUIET_FACTOR * best_n
        and r["4n_executors"][wall] <= QUIET_FACTOR * best_4n
    ]
    return runs, quiet


def summarize(
    n_turns: int = 800_000,
    executor_cores: int = 2,
    kind: str = "strong_scaling_same_input",
) -> dict:
    """The series' quiet runs (quiet_runs) and their medians."""
    wall = _wall(kind)
    runs, quiet = quiet_runs(n_turns, executor_cores, kind)
    if not runs:
        return {"n_runs": 0, "n_quiet": 0, "median_quiet_eff": None}
    best_n = min(r["n_executors"][wall] for r in runs)
    best_4n = min(r["4n_executors"][wall] for r in runs)
    def _median(vals: list) -> float | None:
        vals = sorted(vals)
        mid = len(vals) // 2
        if not vals:
            return None
        return vals[mid] if len(vals) % 2 else round((vals[mid - 1] + vals[mid]) / 2.0, 4)

    effs = sorted(r["efficiency"] for r in quiet)
    median = _median(effs)
    # query-series runs also carry efficiency_vs_membw_ceiling (raw
    # efficiency divided by the same-moment DRAM-bandwidth ceiling of
    # the engine's own scoring kernel — the binding single-host limit
    # for the read path); median it over the quiet runs that have it
    membw_effs = [
        r["efficiency_vs_membw_ceiling"]
        for r in quiet
        if "efficiency_vs_membw_ceiling" in r
    ]
    median_membw = _median(membw_effs)
    # newer query-series runs also measure in-flight (concurrent-
    # submission) throughput — the serving-cluster job shape where
    # straggler gaps overlap across queries in flight. The blind rule
    # applies symmetrically to THAT metric's own walls (inflight_sec):
    # a run whose sequential batch caught a noise burst can still be a
    # quiet in-flight sample, and vice versa — same 1.25x-of-best-ever
    # test, same outcome-blindness.
    infl_runs = [
        r
        for r in runs
        if "inflight_sec" in r["n_executors"] and "inflight_sec" in r["4n_executors"]
    ]
    inflight_effs = []
    if infl_runs:
        ibest_n = min(r["n_executors"]["inflight_sec"] for r in infl_runs)
        ibest_4n = min(r["4n_executors"]["inflight_sec"] for r in infl_runs)
        inflight_effs = [
            r["inflight_efficiency"]
            for r in infl_runs
            if r["n_executors"]["inflight_sec"] <= QUIET_FACTOR * ibest_n
            and r["4n_executors"]["inflight_sec"] <= QUIET_FACTOR * ibest_4n
        ]
    return {
        "n_runs": len(runs),
        "best_walls": {"n": best_n, "4n": best_4n},
        "quiet_thresholds": {
            "n": round(QUIET_FACTOR * best_n, 2),
            "4n": round(QUIET_FACTOR * best_4n, 2),
        },
        "n_quiet": len(quiet),
        "quiet_samples": [
            {
                "at": r["measured_at"],
                "eff": r["efficiency"],
                "n_wall": r["n_executors"][wall],
                "4n_wall": r["4n_executors"][wall],
            }
            for r in sorted(quiet, key=lambda r: r["measured_at"])
        ],
        "quiet_effs": effs,
        "median_quiet_eff": median,
        "n_quiet_ge_0_8": sum(1 for e in effs if e >= 0.8),
        "quiet_effs_vs_membw_ceiling": sorted(membw_effs),
        "median_quiet_eff_vs_membw_ceiling": median_membw,
        "quiet_inflight_effs": sorted(inflight_effs),
        "median_quiet_inflight_eff": _median(inflight_effs),
    }


if __name__ == "__main__":
    # accept --kind-query, "--kind query", or "--kind <full-kind-name>"
    argv = sys.argv[1:]
    kind = "strong_scaling_same_input"
    args = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--kind-query":
            kind = "query_scaling_same_index"
        elif a == "--kind" and i + 1 < len(argv):
            v = argv[i + 1]
            kind = "query_scaling_same_index" if v == "query" else v
            i += 1
        else:
            args.append(a)
        i += 1
    n = int(args[0]) if args else (10_000_000 if kind.startswith("query") else 800_000)
    cores = int(args[1]) if len(args) > 1 else (1 if kind.startswith("query") else 2)
    print(json.dumps(summarize(n, cores, kind), indent=1))
