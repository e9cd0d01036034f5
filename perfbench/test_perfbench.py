"""The benchmark's own tests:

    python3 -m pytest perfbench -q

A smoke-size run of each workload emits every metric BENCHMARK.json
names, with its unit; one seed always yields one request sequence; the
correctness check flags a deliberately corrupted answer.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import corpus  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _bands() -> corpus.Bands:
    """Band sizes like the full-scale serving corpus's."""
    return corpus.Bands(
        hot=["w1", "spark"], head=[f"w{i}" for i in range(2, 160)],
        mid=[f"w{i}" for i in range(160, 1200)], tail=[f"w{i}" for i in range(1200, 3000)],
        pairs=[(f"w{i}", f"w{i + 1}") for i in range(2, 500)], hot_term="spark",
    )


def _fresh(seq) -> set[str]:
    return {r.query for r in seq if r.rtype in ("page1", "page1_total")} - {"spark"}


def test_same_seed_same_sequence():
    make = corpus.search_sequence
    a = make(_bands(), 7, 0, 200)
    assert [r.to_json() for r in a] == [r.to_json() for r in make(_bands(), 7, 0, 200)]
    assert [r.to_json() for r in a] != [r.to_json() for r in make(_bands(), 8, 0, 200)]
    # the two clients' fresh queries never warm each other's cache entries
    assert _fresh(a).isdisjoint(_fresh(make(_bands(), 7, 1, 200)))


def test_probes_issue_every_aggregation_kind():
    kinds = {r.rtype for c in range(3) for r in corpus.probe_set(_bands(), c)}
    assert kinds >= {"facet", "timeline", "subgraph", "facet_matchall", "timeline_matchall"}
    # the same page query after every commit, so the hit cache must
    # invalidate; each cold aggregation is repeated from the cache
    assert len({corpus.probe_set(_bands(), c)[0].query for c in range(3)}) == 1
    probes = corpus.probe_set(_bands(), 0)
    assert probes[5].rtype == probes[4].rtype and probes[5].query == probes[4].query


def test_search_pages_never_repeats_page1_within_the_hit_cache():
    seq = corpus.search_sequence(_bands(), 3, 0, 120)
    page1 = [r.query for r in seq if r.rtype in ("page1", "page1_total") and r.query != "spark"]
    window = 32  # NewsleakAPI.HIT_CACHE_MAX
    for i in range(len(page1)):
        assert page1[i] not in page1[max(0, i - window):i]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench.run import _start_spark, _stop_spark

    s = _start_spark(str(tmp_path_factory.mktemp("spark")))
    yield s
    _stop_spark(s)


def test_check_flags_corrupted_answer(spark, tmp_path):
    from newsleak_spark.api import NewsleakAPI

    from perfbench.checks import check
    from perfbench.workloads import issue

    corpus.write_table(str(tmp_path / "t" / "part.parquet"), 0, 400, 400, seed=1)
    table = spark.read.parquet(str(tmp_path / "t"))
    api = NewsleakAPI(spark, table)  # brute path: right by construction
    reqs = [
        corpus.Request(0, 0, "page1_total", "w2"),
        corpus.Request(0, 1, "facet", "w3", facet_key="role"),
        corpus.Request(0, 2, "timeline", "w3", lod="month"),
        corpus.Request(0, 3, "subgraph", "w2"),
    ]
    for req in reqs:
        resp = issue(api, req)
        assert check(table, req, resp) == [], req
    page = issue(api, reqs[0])
    page["docs"][0], page["docs"][1] = page["docs"][1], page["docs"][0]
    assert check(table, reqs[0], page)
    page = issue(api, reqs[0])
    page["hits"] += 1
    assert check(table, reqs[0], page)
    facet = issue(api, reqs[1])
    facet["buckets"][0]["docCount"] += 1
    assert check(table, reqs[1], facet)
    timeline = issue(api, reqs[2])
    timeline["buckets"].pop()
    assert check(table, reqs[2], timeline)
    graph = issue(api, reqs[3])
    graph["relationships"][0]["weight"] += 1
    assert check(table, reqs[3], graph)
    assert check(table, reqs[0], {"status": 400, "error": "bad"})


@pytest.mark.parametrize("workload", [w["name"] for w in _bench()["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_emits_every_metric(workload, trace, tmp_path_factory):
    out = tmp_path_factory.getbasetemp() / "smoke"  # shared: one serving build
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "5",
         "--seconds", "2", "--trace", str(trace), "--scale", "smoke", "--out", str(out)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = _bench()["end_to_end" if trace == 0 else "per_layer"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in want}
    if trace == 0:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    else:
        assert "layer table" in proc.stdout
