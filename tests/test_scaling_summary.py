"""Pin the blind-quiet series summaries over the scaling history.

The quiet rule (tools/quiet_median.py, pre-registered round 3) must
apply WITHIN a (kind, index size, executor cores) series: batch walls
against a 50M-turn index are ~5x the 10M walls, so a shared best-ever
baseline would classify every larger-index sample as non-quiet (or,
worse, let the larger index's walls never constrain the smaller's).
These tests run the real summarize()/bench._query_leg_series() code
against a synthetic history file.
"""

from __future__ import annotations

import importlib
import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))


def _run(kind, n_turns, cores, n_wall, wall_4n, eff, inflight=None):
    r = {
        "kind": kind,
        "n_turns": n_turns,
        "executor_cores": cores,
        "measured_at": "2026-08-21T00:00:00Z",
        "n_executors": {"batch_sec": n_wall, "build_sec": n_wall},
        "4n_executors": {"batch_sec": wall_4n, "build_sec": wall_4n},
        "efficiency": eff,
    }
    if inflight is not None:
        r["n_executors"]["inflight_sec"] = inflight[0]
        r["4n_executors"]["inflight_sec"] = inflight[1]
        r["inflight_efficiency"] = round(inflight[0] / inflight[1] / 4.0, 3)
    return r


@pytest.fixture()
def history(tmp_path, monkeypatch):
    quiet_median = importlib.import_module("quiet_median")
    path = tmp_path / "scaling_history.jsonl"
    runs = [
        # 10M read-path series: two quiet runs + one loud (N-leg 2x best)
        _run("query_scaling_same_index", 10_000_000, 1, 100.0, 35.0, 0.714),
        _run("query_scaling_same_index", 10_000_000, 1, 110.0, 38.0, 0.723),
        _run("query_scaling_same_index", 10_000_000, 1, 200.0, 36.0, 1.388),
        # 50M read-path series: walls ~5x — must form its OWN series
        _run("query_scaling_same_index", 50_000_000, 1, 500.0, 150.0, 0.833),
        _run("query_scaling_same_index", 50_000_000, 1, 520.0, 155.0, 0.839),
        # a build-series run that must never leak into query summaries
        _run("strong_scaling_same_input", 800_000, 1, 260.0, 70.0, 0.93),
    ]
    path.write_text("".join(json.dumps(r) + "\n" for r in runs))
    monkeypatch.setattr(quiet_median, "HISTORY", str(path))
    monkeypatch.setattr(
        importlib.import_module("bench"), "SCALING_HISTORY", str(path)
    )
    return runs


def test_quiet_rule_is_per_series(history):
    from quiet_median import summarize

    s10 = summarize(10_000_000, 1, kind="query_scaling_same_index")
    assert s10["n_runs"] == 3
    # the 200s N-leg run exceeds 1.25 x best (100s) -> non-quiet
    assert s10["n_quiet"] == 2
    assert s10["median_quiet_eff"] == pytest.approx(0.7185, abs=1e-4)

    s50 = summarize(50_000_000, 1, kind="query_scaling_same_index")
    # both 50M runs quiet against the 50M best walls, NOT the 10M walls
    assert s50["n_runs"] == 2
    assert s50["n_quiet"] == 2
    assert s50["n_quiet_ge_0_8"] == 2


def test_bench_emits_one_summary_per_index_size(history):
    import bench

    runs = [r for r in history if r["kind"] == "query_scaling_same_index"]
    series = bench._query_leg_series(runs)
    sizes = {s["index_turns"]: s for s in series}
    assert set(sizes) == {10_000_000, 50_000_000}
    assert sizes[50_000_000]["n_quiet_ge_0_8"] == 2
    assert sizes[10_000_000]["n_quiet"] == 2


def test_loud_run_never_headlines(tmp_path, monkeypatch):
    """The read-path headline takes its best run from the QUIET runs of
    the largest index's series: a loud run (N-leg wall 1.3x the
    series' best) with the highest vs-ceiling efficiency must not headline, and
    neither may a smaller index's run."""
    import bench

    quiet_median = importlib.import_module("quiet_median")
    kind = "query_scaling_same_index"
    runs = [
        _run(kind, 10_000_000, 1, 100.0, 35.0, 0.714),
        _run(kind, 50_000_000, 1, 500.0, 150.0, 0.833),
        _run(kind, 50_000_000, 1, 520.0, 155.0, 0.839),
        # loud: N leg 1.3x the best N wall, yet within 1.3x the median
        # and at raw efficiency <= 1.05
        _run(kind, 50_000_000, 1, 650.0, 152.0, 1.0),
    ]
    for r, vs_ceiling, at in zip(
        runs, (1.5, 0.90, 0.92, 1.8), ("10m", "q1", "q2", "loud")
    ):
        r["efficiency_vs_hw_ceiling"] = vs_ceiling
        r["measured_at"] = at
    path = tmp_path / "scaling_history.jsonl"
    path.write_text("".join(json.dumps(r) + "\n" for r in runs))
    monkeypatch.setattr(quiet_median, "HISTORY", str(path))
    monkeypatch.setattr(bench, "SCALING_HISTORY", str(path))

    out = bench._query_leg_summary()
    assert out["index_turns"] == 50_000_000
    assert out["best_by_vs_ceiling"]["measured_at"] == "q2"
    assert out["quiet_median"]["n_quiet"] == 2
