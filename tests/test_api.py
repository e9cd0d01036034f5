"""Serving-layer API tests: the getDocs/induceSubgraph/getTimeline/
aggregate surface must agree with the operator layer it composes
(engine search, facet_counts, cooccurrence, date_histogram)."""

import datetime as dt
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from newsleak_spark import facets as facets_mod
from newsleak_spark.api import NewsleakAPI
from newsleak_spark.indexing import IndexConfig, append_index, build_index
from newsleak_spark.query import QuerySpec, bm25_topk
from newsleak_spark.query import engine
from newsleak_spark.query.brute import matching_docs

# one table of spec shapes for every engine entry point: AND, phrase,
# cogrouped filter, should-only (ES bool: no musts → at least one
# should term must match), not-only, `a -a`, an absent required term,
# match_all
SHAPES = [
    QuerySpec(terms=("merge", "window")),
    QuerySpec(phrases=(("fast", "table"),)),
    QuerySpec(terms=("table",), role_filter=("user",)),
    QuerySpec(terms=(), boost_terms=("merge", "window")),  # should-only
    QuerySpec(not_terms=("merge",)),  # not-only
    QuerySpec(terms=("merge",), not_terms=("merge",)),
    QuerySpec(terms=("merge", "zzabsentzz")),
    QuerySpec(),  # match_all
]


def spark_jobs(spark, fn):
    """fn()'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"test-{uuid.uuid4()}"
    sc.setJobGroup(group, "test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def index_dir(spark, transcripts, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("apiidx"))
    build_index(spark, transcripts, d, IndexConfig(n_shards=4, n_term_buckets=8, block_size=32))
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def delta_index_dir(spark, transcripts, tmp_path_factory):
    """A base + one delta index: multi-part reads, safe block bounds."""
    d = str(tmp_path_factory.mktemp("apidelta"))
    cfg = IndexConfig(n_shards=4, n_term_buckets=8, block_size=32)
    build_index(spark, transcripts.filter(F.col("doc_id") % 3 != 0), d, cfg)
    append_index(spark, transcripts.filter(F.col("doc_id") % 3 == 0), d, cfg)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def api(spark, transcripts, index_dir):
    return NewsleakAPI(spark, transcripts, index_dir)


@pytest.fixture(scope="module")
def api_noindex(spark, transcripts):
    return NewsleakAPI(spark, transcripts, None)


def test_get_docs_ranks_match_engine(api, api_noindex, transcripts):
    want = [r["doc_id"] for r in bm25_topk(transcripts, QuerySpec(terms=("merge", "window"), k=10)).collect()]
    got = api.get_docs("merge window", page_size=10, with_total=False)
    assert [d["id"] for d in got["docs"]] == want
    got2 = api_noindex.get_docs("merge window", page_size=10, with_total=False)
    assert [d["id"] for d in got2["docs"]] == want


def test_get_docs_shape_and_highlight(api):
    out = api.get_docs('merge "fast table"', page_size=5)
    assert out["hits"] is not None and out["hits"] >= len(out["docs"])
    for d in out["docs"]:
        assert {"id", "score", "content", "highlighted", "metadata"} <= set(d)
        assert "<em>" in d["highlighted"]
        assert set(d["metadata"]) == {"conv_id", "turn_idx", "role", "tool", "ts"}


def test_get_docs_not_query(api, api_noindex, transcripts):
    """'-term' flows request-string → compile_spec → engine/brute."""
    spec = QuerySpec(terms=("table",), not_terms=("join",), k=10)
    want = [r["doc_id"] for r in bm25_topk(transcripts, spec).collect()]
    got = api.get_docs("table -join", page_size=10, with_total=False)
    assert [d["id"] for d in got["docs"]] == want
    got2 = api_noindex.get_docs("table -join", page_size=10, with_total=False)
    assert [d["id"] for d in got2["docs"]] == want
    # excluded term absent from every surfaced doc
    import re as _re

    for d in got["docs"]:
        assert "join" not in _re.findall(r"[a-z0-9]+", d["content"].lower())


def test_get_docs_unscored_ranks_in_driver(spark, api, api_noindex):
    """A match-all, filters-only or not-only page and its total are
    ranked and counted in one driver-side pass on the indexed handle
    (no Spark job) and equal the brute handle's pages and totals."""
    from newsleak_spark.api import compile_spec

    for query, roles in (("", ()), ("", ("user",)), ("-merge", ())):
        fresh = NewsleakAPI(spark, api.transcripts, api.index_dir)
        spec = compile_spec(query, roles=roles, k=7)
        _, jobs = spark_jobs(spark, lambda: fresh._ranked_rows(spec, True))
        assert jobs == 0, query
        for page in (1, 2):
            got = api.get_docs(query, roles=roles, page=page, page_size=7, highlight=False)
            want = api_noindex.get_docs(query, roles=roles, page=page, page_size=7, highlight=False)
            key = lambda out: (out["hits"], [(d["id"], d["score"]) for d in out["docs"]])
            assert key(got) == key(want), (query, roles, page)


def test_count_hits_small_spec_runs_no_spark_job(spark, transcripts, index_dir):
    """count_hits goes through the router: on this small index every
    shape's count (AND, phrase, filtered, scored union, not-only,
    must_not, absent term, match-all) comes from the driver-side shard
    task with no Spark job, and equals the brute doc set's size."""
    from newsleak_spark.query.engine import count_hits

    for spec in SHAPES:
        got, jobs = spark_jobs(spark, lambda: count_hits(spark, index_dir, spec))
        assert jobs == 0, spec
        assert got == matching_docs(transcripts, spec).count(), spec


def test_get_docs_pagination(api):
    all20 = api.get_docs("table", page_size=20, with_total=False)["docs"]
    p2 = api.get_docs("table", page=2, page_size=10, with_total=False)["docs"]
    assert [d["id"] for d in p2] == [d["id"] for d in all20[10:]]


def test_get_docs_hits_is_matching_count(api, transcripts):
    spec = QuerySpec(terms=("merge",))
    out = api.get_docs("merge", page_size=3)
    assert out["hits"] == matching_docs(transcripts, spec).count()


def test_count_hits_matches_matching_docs(spark, api, transcripts, index_dir):
    """Every engine entry point agrees with the brute oracle on one
    table of spec shapes: the doc set (matching_doc_ids vs
    matching_docs), its size (count_hits), the ranking (search vs
    bm25_topk), the heaps' presence (search_heaps is None exactly
    for unscored specs; an empty 4-column frame when a required term
    is absent) and the total that rides the ranked job (the sum of
    each shard's ``hits`` from search_heaps(count=True) == the doc
    set's size, through every scorer path: AND, phrase, cogrouped
    filter, the scored union with skipping off, must_not). Includes
    the ES bool edge case: no musts → at least one should (boost) term
    must match."""
    from newsleak_spark.query.engine import (
        count_hits,
        matching_doc_ids,
        search,
        search_heaps,
    )

    for spec in SHAPES:
        ids = sorted(r["doc_id"] for r in matching_doc_ids(spark, index_dir, spec).collect())
        want = sorted(r["doc_id"] for r in matching_docs(transcripts, spec).select("doc_id").collect())
        assert ids == want, spec
        assert count_hits(spark, index_dir, spec) == len(want), spec
        got = [tuple(r) for r in search(spark, index_dir, spec).collect()]
        assert got == [tuple(r) for r in bm25_topk(transcripts, spec).collect()], spec
        heaps = search_heaps(spark, index_dir, spec)
        assert (heaps is None) == (not spec.scored()), spec
        if "zzabsentzz" in spec.terms:
            assert heaps.columns == ["shard", "doc_id", "score_e6", "hits"]
            assert heaps.count() == 0
        if heaps is not None:
            counted = search_heaps(spark, index_dir, spec, count=True).collect()
            per_shard = {r["shard"]: r["hits"] for r in counted}
            assert sum(per_shard.values()) == len(want), spec


@pytest.mark.parametrize("executor", ["local", "spark"])
@pytest.mark.parametrize("which", ["index_dir", "delta_index_dir"])
def test_ranked_heaps_executors_agree(spark, request, monkeypatch, executor, which):
    """engine.ranked_heaps returns search_heaps' collected rows (shard,
    doc_id, score_e6, hits) from either executor, with and without
    count, on a single-part and a base+delta index — for unscored
    specs the Spark executor's truncated doc set, which search_heaps
    does not return; the local executor runs no Spark job."""
    d = request.getfixturevalue(which)
    monkeypatch.setattr(engine, "LOCAL_MAX_POSTINGS", 10**12 if executor == "local" else -1)
    cols = ["shard", "doc_id", "score_e6", "hits"]
    for spec in SHAPES:
        for count in (False, True):
            got, jobs = spark_jobs(spark, lambda: engine.ranked_heaps(spark, d, spec, count=count))
            heaps = engine.search_heaps(spark, d, spec, count=count)
            if heaps is None:  # unscored: the Spark executor's per-shard top-k of the doc set
                rd = engine._cached_reader(spark, d)
                heaps = engine._candidates(spark, rd, spec, truncate=True, count=count)
            want = sorted(tuple(r) for r in heaps.select(*cols).collect())
            assert sorted(tuple(r[c] for c in cols) for r in got) == want, (spec, count)
            if executor == "local":
                assert jobs == 0, spec


def test_local_score_rounding_is_spark_round(spark):
    """The local executor rounds score·1e6 half up, as F.round does."""
    import pandas as pd

    scores = [0.5e-6, 2.5e-6, 3.5e-6, 4.5e-6, 12.5e-6, 1.0000005, 7.123456789, 0.0]
    want = [
        r[0] for r in spark.createDataFrame([(x,) for x in scores], "score double")
        .select(F.round(F.col("score") * 1e6).cast("long"))
        .collect()
    ]
    assert engine._score_e6(pd.Series(scores)).tolist() == want


def test_router_sends_large_plans_to_spark(spark, index_dir, monkeypatch):
    """A plan reading more than LOCAL_MAX_POSTINGS segment rows runs as
    a Spark job; the same query under the bound runs in the driver. A
    filter does not enlarge the estimate (docmeta is not counted)."""
    spec = QuerySpec(terms=("merge", "window"))
    filtered = QuerySpec(terms=("merge", "window"), role_filter=("user",))
    rd = engine._cached_reader(spark, index_dir)
    plans = [engine._plan(rd, s, truncate=True, count=False) for s in (spec, filtered)]
    assert plans[0].postings == plans[1].postings > 0
    local, jobs = spark_jobs(spark, lambda: engine.ranked_heaps(spark, index_dir, spec))
    assert jobs == 0
    monkeypatch.setattr(engine, "LOCAL_MAX_POSTINGS", 0)
    remote, jobs = spark_jobs(spark, lambda: engine.ranked_heaps(spark, index_dir, spec))
    assert jobs > 0
    key = lambda r: (r["shard"], r["doc_id"])
    assert sorted(remote, key=key) == sorted(local, key=key)


def test_local_filters_match_spark_filters(spark, tmp_path, monkeypatch):
    """The Arrow twin of the F2/F5 filters keeps exactly the docs
    Spark's keeps: role, tool (null tools never match), and ts bounds
    on a day boundary of a non-UTC session time zone, where cast(ts as
    date) takes the session zone's date. Every doc holds the query
    term, so the shard task's doc set, in Spark tasks (matching_doc_ids
    above the router's bound) and in the driver (ranked_heaps, and
    matching_doc_ids under the bound), is the filtered docmeta."""
    from newsleak_spark.query.brute import _apply_filters
    from newsleak_spark.transcripts import TRANSCRIPT_SCHEMA

    utc = dt.timezone.utc
    stamps = [
        dt.datetime(2020, 1, 1, 7, 59, 59, 999999, tzinfo=utc),  # LA: Dec 31
        dt.datetime(2020, 1, 1, 8, 0, tzinfo=utc),  # LA: Jan 1 00:00
        dt.datetime(2020, 1, 1, 23, 30, tzinfo=utc),
        dt.datetime(2020, 1, 2, 0, 0, tzinfo=utc),  # UTC midnight; LA: Jan 1
        dt.datetime(2020, 1, 2, 7, 59, 59, tzinfo=utc),  # LA: Jan 1 23:59:59
        dt.datetime(2020, 1, 2, 8, 0, tzinfo=utc),  # LA: Jan 2 00:00
        None,
    ]
    roles = ["user", "assistant", "tool", "user", "tool", "assistant", "tool"]
    tools = [None, None, "grep", None, "sed", None, "grep"]
    rows = [
        (i, "c1", i, roles[i], f"alpha beta w{i}", tools[i], ts) for i, ts in enumerate(stamps)
    ]
    d = str(tmp_path / "idx")
    build_index(
        spark, spark.createDataFrame(rows, TRANSCRIPT_SCHEMA), d,
        IndexConfig(n_shards=2, n_term_buckets=2, block_size=4),
    )
    jan1, jan2 = dt.date(2020, 1, 1), dt.date(2020, 1, 2)
    specs = [
        QuerySpec(terms=("alpha",), ts_from=jan1, ts_to=jan1),
        QuerySpec(terms=("alpha",), ts_from=jan2),
        QuerySpec(terms=("alpha",), ts_to=dt.date(2019, 12, 31)),
        QuerySpec(terms=("alpha",), role_filter=("user", "tool")),
        QuerySpec(terms=("alpha",), tool_filter=("grep",), ts_from=jan1),
        QuerySpec(terms=("alpha",), role_filter=("tool",), tool_filter=("sed", "grep"), ts_to=jan1),
    ]
    conf = "spark.sql.session.timeZone"
    zone = spark.conf.get(conf)
    per_zone = {}
    try:
        for tz in ("UTC", "America/Los_Angeles"):
            spark.conf.set(conf, tz)
            for spec in specs:
                want = sorted(
                    r["doc_id"]
                    for r in _apply_filters(spark.read.parquet(f"{d}/docmeta"), spec).collect()
                )
                local = sorted(r["doc_id"] for r in engine.ranked_heaps(spark, d, spec))
                driver = sorted(r["doc_id"] for r in engine.matching_doc_ids(spark, d, spec).collect())
                with monkeypatch.context() as m:
                    m.setattr(engine, "LOCAL_MAX_POSTINGS", -1)
                    got = sorted(r["doc_id"] for r in engine.matching_doc_ids(spark, d, spec).collect())
                assert got == local == driver == want, (tz, spec)
                per_zone[tz, spec] = got
    finally:
        spark.conf.set(conf, zone)
    assert per_zone["UTC", specs[0]] == [0, 1, 2]
    assert per_zone["America/Los_Angeles", specs[0]] == [1, 2, 3, 4]


def test_pyarrow_fetch_equals_spark_fetch(spark, transcripts, index_dir, tmp_path):
    """A bare parquet table's page bodies come from one pyarrow read and
    equal the Spark isin fetch row for row (null tool, null ts, ts
    rendered as Row collection renders it); a ranked id missing from
    the table is drift on both; any other table plan falls back to
    Spark; replacing the table opens a new dataset."""
    from newsleak_spark.transcripts import TRANSCRIPT_SCHEMA

    page = NewsleakAPI(spark, transcripts, index_dir).get_docs(
        "table", page_size=5, with_total=False, highlight=False
    )
    top = page["docs"][0]["id"]
    odd = spark.createDataFrame([(10**9, "c-odd", 0, "user", "table odd", None, None)], TRANSCRIPT_SCHEMA)
    path = str(tmp_path / "table")
    transcripts.filter(F.col("doc_id") != top).unionByName(odd).repartition(3).write.parquet(path)
    bare = spark.read.parquet(path)
    fast = NewsleakAPI(spark, bare, index_dir)
    slow = NewsleakAPI(spark, bare.filter(F.col("doc_id") >= 0), index_dir)
    null_tool = [r["doc_id"] for r in bare.filter(F.col("tool").isNull()).limit(3).collect()]
    with_tool = [r["doc_id"] for r in bare.filter(F.col("tool").isNotNull()).limit(3).collect()]
    ids = null_tool + with_tool + [10**9, top]
    got, jobs = spark_jobs(spark, lambda: fast._fetch(ids))
    want = {i: r.asDict() for i, r in slow._fetch(ids).items()}
    assert jobs == 0 and fast._bodies[1] is not None and slow._bodies[1] is None
    assert top not in got and got[10**9]["ts"] is None and got[10**9]["tool"] is None
    assert got == want
    for q in ("table", "merge window"):
        out = fast.get_docs(q, page_size=5, with_total=False)
        assert out == slow.get_docs(q, page_size=5, with_total=False)
    assert fast.get_docs("table", page_size=5, with_total=False)["drift"] == 1
    opened = fast._bodies[1]
    fast.transcripts = spark.read.parquet(path)
    assert fast._fetch(ids) == want and fast._bodies[1] is not opened


def test_english_highlight_non_ascii_terms(spark):
    """english mode highlights surface words its analyzer tokenizes
    with unicode word characters ('Café', 'Straße')."""
    from newsleak_spark.analysis import analyze
    from newsleak_spark.api import _highlight

    text = "Der Café-Besitzer sagte: Straße gesperrt"
    (out,) = _highlight([text], set(analyze("café straße", "english")), "english")
    assert out == "Der <em>Café</em>-Besitzer sagte: <em>Straße</em> gesperrt"


def test_bad_aggregation_params_return_400(spark, api, api_noindex):
    """An unknown timeline lod or a facet key that is not a table column
    is a 400 on both handles, before any job or cache entry."""
    for handle in (api, api_noindex):
        runs, cached = handle.agg_runs, len(handle._agg_cache)
        outs, jobs = spark_jobs(
            spark,
            lambda: [
                handle.get_timeline("table", lod="week"),
                handle.get_timeline("", lod="week"),
                handle.aggregate("no_such_column", query="table"),
                handle.aggregate("no_such_column"),
            ],
        )
        assert all(o["status"] == 400 for o in outs), outs
        assert "lod" in outs[0]["error"] and "no_such_column" in outs[2]["error"]
        assert jobs == 0
        assert (handle.agg_runs, len(handle._agg_cache)) == (runs, cached)


def test_bad_size_or_n_nodes_returns_400(spark, api, api_noindex):
    """A facet size or subgraph node count below 1 is a 400 on both
    handles, before any job or cache entry, never a negative limit."""
    for handle in (api, api_noindex):
        runs, cached = handle.agg_runs, len(handle._agg_cache)
        outs, jobs = spark_jobs(
            spark,
            lambda: [
                handle.aggregate("role", size=0),
                handle.aggregate("role", query="table", size=-1),
                handle.induce_subgraph(n_nodes=0),
                handle.induce_subgraph("table", n_nodes=-1),
            ],
        )
        assert all(o["status"] == 400 and "must be >= 1" in o["error"] for o in outs), outs
        assert jobs == 0
        assert (handle.agg_runs, len(handle._agg_cache)) == (runs, cached)


def test_induce_subgraph_matches_operator_layer(api, transcripts):
    g = api.induce_subgraph(n_nodes=7)
    want_nodes = facets_mod.facet_counts(
        transcripts.filter(F.col("tool").isNotNull()), "tool", k=7
    ).collect()
    assert [n["id"] for n in g["nodes"]] == [r["value"] for r in want_nodes]
    assert g["relationships"], "expected co-usage edges"
    for e in g["relationships"]:
        assert e["source"] < e["target"] and e["weight"] >= 1


def test_induce_subgraph_filtered(api, transcripts):
    g = api.induce_subgraph(query="merge", n_nodes=5)
    m = matching_docs(transcripts, QuerySpec(terms=("merge",)))
    want = facets_mod.facet_counts(m, "tool", k=5).collect()
    assert [n["id"] for n in g["nodes"]] == [r["value"] for r in want]


def test_timeline_dense_buckets(api):
    tl = api.get_timeline(lod="year")
    keys = [b["key"] for b in tl["buckets"]]
    assert keys == sorted(keys) and len(keys) == len(set(keys))
    # dense: every year between min and max present (min_doc_count=0)
    years = [int(k) for k in keys]
    assert years == list(range(years[0], years[-1] + 1))


def test_timeline_respects_time_range(api):
    tl = api.get_timeline(time_range="2018-2019", lod="year")
    assert all(b["key"] in ("2018", "2019") for b in tl["buckets"])


def test_english_mode_highlight_surfaces_stems(spark):
    """english mode: query 'tables' stems to 'tabl'; docs whose text
    has only the surface form 'table' must STILL get <em> highlights
    (analyzed-term matching, not surface-regex matching)."""
    from newsleak_spark.transcripts import TRANSCRIPT_SCHEMA
    import datetime as dt

    rows = [
        (1, "c1", 0, "user", "the table was merged fast", None, dt.datetime(2020, 1, 1)),
        (2, "c1", 1, "user", "tables inside tables", None, dt.datetime(2020, 1, 2)),
    ]
    t = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    api = NewsleakAPI(spark, t, None, mode="english")
    out = api.get_docs("tables", page_size=5, with_total=False)
    by_id = {d["id"]: d for d in out["docs"]}
    assert set(by_id) == {1, 2}
    assert "<em>table</em>" in by_id[1]["highlighted"]
    assert "<em>tables</em>" in by_id[2]["highlighted"]


def test_aggregate_include_zero_fill(api):
    out = api.aggregate("tool", include=["tool_1", "zzz_never"])
    by_key = {b["key"]: b["docCount"] for b in out["buckets"]}
    assert by_key.get("zzz_never") == 0 and by_key.get("tool_1", 0) > 0


def test_hit_cache_invalidated_by_index_mutation(
    spark, transcripts, tmp_path_factory
):
    """The collected-hits cache must not outlive the index state: after
    append_index on the same index_dir, a repeated getDocs re-runs the
    ranked scan and surfaces docs from the delta (the index mtime rides
    in the cache key, same invalidation as the engine reader cache)."""
    from newsleak_spark.indexing import append_index

    d = str(tmp_path_factory.mktemp("mutidx"))
    base = transcripts.filter(F.col("doc_id") % 2 == 0)
    cfg = IndexConfig(n_shards=2, n_term_buckets=4, block_size=32)
    build_index(spark, base, d, cfg)
    api_m = NewsleakAPI(spark, transcripts, d)

    r1 = api_m.get_docs("table", page=1, page_size=10, with_total=False, highlight=False)
    assert api_m.topk_runs == 1
    extra = transcripts.filter(F.col("doc_id") % 2 == 1)
    append_index(spark, extra, d, cfg)

    r2 = api_m.get_docs("table", page=1, page_size=10, with_total=False, highlight=False)
    assert api_m.topk_runs == 2  # NOT served from the stale cache
    assert {doc["id"] for doc in r2["docs"]} != {doc["id"] for doc in r1["docs"]} or [
        doc["score"] for doc in r2["docs"]
    ] != [doc["score"] for doc in r1["docs"]]
    shutil.rmtree(d, ignore_errors=True)


def test_get_docs_hit_cache_across_pages(spark, transcripts):
    """Paginated requests of the same query reuse the collected ranked
    hits (the reference caches its hit iterator by query hash): a
    repeat of page 1 and a SHALLOWER page after a deep one run no new
    ranked scan; a deeper page re-runs with a larger k."""
    from newsleak_spark.api import NewsleakAPI

    api = NewsleakAPI(spark, transcripts)
    r1 = api.get_docs("table", page=1, page_size=5, with_total=False, highlight=False)
    assert api.topk_runs == 1
    r1b = api.get_docs("table", page=1, page_size=5, with_total=False, highlight=False)
    assert api.topk_runs == 1  # served from cache
    assert [d["id"] for d in r1b["docs"]] == [d["id"] for d in r1["docs"]]

    r2 = api.get_docs("table", page=2, page_size=5, with_total=False, highlight=False)
    assert api.topk_runs == 2  # deeper k -> one re-run
    assert not set(d["id"] for d in r2["docs"]) & set(d["id"] for d in r1["docs"])

    # page 1 again: the cached deeper run answers it (prefix property)
    r1c = api.get_docs("table", page=1, page_size=5, with_total=False, highlight=False)
    assert api.topk_runs == 2
    assert [d["id"] for d in r1c["docs"]] == [d["id"] for d in r1["docs"]]


def test_merge_heaps_exactness_bound():
    """_merge_heaps unit semantics: the merged ranking is exact through
    the minimum truncated-shard boundary key; untruncated shards are
    exhaustive."""
    from newsleak_spark.api import _merge_heaps

    # every row of a shard carries that shard's pre-truncation hits
    mk = lambda s, d, sc, h: {"shard": s, "doc_id": d, "score_e6": sc, "hits": h}
    # k=2: shard 0 truncated (2 rows, weakest score 80), shard 1
    # exhausted (1 row). Rows scoring >= 80 are exact; doc 4 (score 70)
    # could be displaced by shard 0's unreturned docs.
    rows = [mk(0, 1, 100, 7), mk(0, 2, 80, 7), mk(1, 3, 90, 2), mk(1, 4, 70, 2)]
    merged, safe, total = _merge_heaps(rows, 2)
    assert [r["doc_id"] for r in merged] == [1, 3, 2, 4]
    # both shards truncated; the MOST RESTRICTIVE boundary is shard 0's
    # (score 80): an unreturned shard-0 doc could score 79 and displace
    # doc 4 (score 70), so only the first 3 positions are exact
    assert safe == 3
    # the total counts each shard once, not once per returned row
    assert total == 9
    # only shard 0 truncated: boundary (80, 2) -> exact through doc 2;
    # shard 2 matched nothing, returned no rows and counts 0
    merged, safe, total = _merge_heaps([mk(0, 1, 100, 5), mk(0, 2, 80, 5), mk(1, 3, 90, 1)], 2)
    assert safe == 3 and total == 6
    # no shard truncated: exhaustive
    _merged, safe, total = _merge_heaps([mk(0, 1, 100, 1), mk(1, 3, 90, 1)], 5)
    assert safe == float("inf") and total == 2
    # no shard matched at all
    assert _merge_heaps([], 5) == ([], float("inf"), 0)


def test_indexed_pagination_vs_full_rank(spark, transcripts, index_dir):
    """Pagination vs full rank (T2 / SearchHitIterator.scala:43-58):
    pages concatenated == one deep top-k, and pages within the heap
    exactness bound run NO new ranked scan (the round-3 pager re-ran
    the whole top-k at growing k per page boundary)."""
    from newsleak_spark.query.engine import search

    api = NewsleakAPI(spark, transcripts, index_dir)
    pages = []
    for p in range(1, 5):
        pages += [
            d["id"]
            for d in api.get_docs(
                "table", page=p, page_size=5, with_total=False, highlight=False
            )["docs"]
        ]
    want = [r["doc_id"] for r in search(spark, index_dir, QuerySpec(terms=("table",), k=20)).collect()]
    assert pages == want
    # one heap scan answers several pages: with 4 shards the merge is
    # exact well past page 1, so 4 pages never cost 4 scans
    assert api.topk_runs <= 2


def test_aggregation_result_cache(spark, transcripts, index_dir):
    """Facet/timeline/network results are cached on (request, index
    state): a repeat request runs no new aggregation job; a different
    request does (reference: ES request cache, ESRequestUtils.scala:68)."""
    api = NewsleakAPI(spark, transcripts, index_dir)
    r1 = api.aggregate("role", query="table", size=5)
    assert api.agg_runs == 1
    assert api.aggregate("role", query="table", size=5) == r1
    assert api.agg_runs == 1  # cache hit
    t1 = api.get_timeline("table", lod="year")
    assert api.agg_runs == 2
    assert api.get_timeline("table", lod="year") == t1
    assert api.agg_runs == 2
    g1 = api.induce_subgraph("table")
    assert api.agg_runs == 3
    assert api.induce_subgraph("table") == g1
    assert api.agg_runs == 3
    api.aggregate("role", query="merge", size=5)  # different spec -> job
    assert api.agg_runs == 4
    # match_all / filters-only specs take the brute path in _matching
    # (computed from self.transcripts, which carries no invalidation
    # signal) — they must recompute every time even with an index
    # attached, or a transcripts-source change that doesn't touch the
    # index would serve stale aggregations
    api.aggregate("role", query="", size=5)
    assert api.agg_runs == 5
    api.aggregate("role", query="", size=5)
    assert api.agg_runs == 6  # no cache for brute-path specs


def test_bad_query_returns_400(api):
    """F8 fail-closed parse errors (negated quoted phrase) surface as a
    structured 400 from every endpoint, not an uncaught ValueError."""
    for out in (
        api.get_docs('-"foo bar"'),
        api.aggregate("role", query='-"foo bar"'),
        api.get_timeline('-"foo bar"'),
        api.induce_subgraph('-"foo bar"'),
    ):
        assert out["status"] == 400 and "negated quoted phrase" in out["error"]


def test_generation_counter_invalidates_without_mtime(tmp_path):
    """Index-state invalidation is timestamp-independent: two manifest
    writes landing on the SAME mtime (sub-granularity mutation) still
    change index_state_key via the monotonic generation counter."""
    import os

    from newsleak_spark.indexing.manifest import Manifest
    from newsleak_spark.query.engine import index_state_key

    d = str(tmp_path)
    Manifest(d).set_stats(a=1)
    k1 = index_state_key(d)
    st = os.stat(os.path.join(d, "manifest.json"))
    Manifest(d).set_stats(a=2)
    os.utime(os.path.join(d, "manifest.json"), ns=(st.st_atime_ns, st.st_mtime_ns))
    k2 = index_state_key(d)
    assert k1 != k2


def test_total_rides_the_ranked_job(spark, transcripts, index_dir):
    """A page with its total costs one ranked job (the scorer counts
    each shard's matches before its top-k cut), the total is cached
    with the heaps, and it equals the brute matching-doc count."""
    want = matching_docs(transcripts, QuerySpec(terms=("table",))).count()
    api = NewsleakAPI(spark, transcripts, index_dir)
    r1 = api.get_docs("table", page=1, page_size=5, highlight=False)
    assert api.topk_runs == 1 and r1["hits"] == want
    # page 2 is inside the heaps' exactness bound: no new job, total cached
    r2 = api.get_docs("table", page=2, page_size=5, highlight=False)
    assert api.topk_runs == 1 and r2["hits"] == want

    # rows cached without a total: asking for the total costs one fused
    # job, after which page 2 with its total is a cache hit
    api = NewsleakAPI(spark, transcripts, index_dir)
    api.get_docs("table", page=1, page_size=5, with_total=False, highlight=False)
    assert api.topk_runs == 1
    assert api.get_docs("table", page=1, page_size=5, highlight=False)["hits"] == want
    assert api.topk_runs == 2
    assert api.get_docs("table", page=2, page_size=5, highlight=False)["hits"] == want
    assert api.topk_runs == 2


def test_drift_is_reported(spark, transcripts, index_dir):
    """A ranked id missing from the table (stale index / filtered
    table) is skipped from the page and counted in ``drift``."""
    full = NewsleakAPI(spark, transcripts, index_dir).get_docs(
        "table", page_size=5, with_total=False, highlight=False
    )
    assert full["drift"] == 0
    top = full["docs"][0]["id"]
    api = NewsleakAPI(spark, transcripts.filter(F.col("doc_id") != top), index_dir)
    out = api.get_docs("table", page_size=5, with_total=False, highlight=False)
    assert out["drift"] == 1
    assert [d["id"] for d in out["docs"]] == [d["id"] for d in full["docs"][1:]]


def test_concurrent_requests_share_caches_safely(spark, transcripts, index_dir, monkeypatch):
    """More threads than cores on one handle, with more distinct
    queries than the hit cache holds: no request fails, the cache never
    exceeds its maximum, and no ranked-run count is lost (every request
    misses). Every request is ranked by the local executor."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    class Recording(dict):
        peak = 0

        def __setitem__(self, key, value):
            super().__setitem__(key, value)
            Recording.peak = max(Recording.peak, len(self))

    def no_spark(*_a):
        raise AssertionError("ranked on Spark")

    monkeypatch.setattr(engine, "_spark_scored", no_spark)
    api = NewsleakAPI(spark, transcripts, index_dir)
    api.HIT_CACHE_MAX = 2
    api._hit_cache = Recording()
    words = ["table", "merge", "window", "spark", "fast", "join", "row", "value"]
    queries = words + [f"{a} {b}" for a, b in zip(words, words[1:] + words[:1])]

    def page(q):
        return api.get_docs(q, page_size=3, with_total=False, highlight=False)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            outs = list(pool.map(page, queries, timeout=600))
    finally:
        sys.setswitchinterval(interval)
    assert all(o["page"] == 1 and "docs" in o for o in outs)
    assert Recording.peak <= api.HIT_CACHE_MAX
    assert len(api._hit_cache) == api.HIT_CACHE_MAX
    assert api.topk_runs == len(queries)


def test_get_docs_rejects_bad_page(api, api_noindex):
    """A page or page size below 1 is a 400 on both handles, never a
    negative top-k or a slice from the end of the ranked rows."""
    for handle in (api, api_noindex):
        runs = handle.topk_runs
        for kw in ({"page": 0}, {"page": -1}, {"page_size": 0}, {"page_size": -5}):
            out = handle.get_docs("table", highlight=False, **kw)
            assert out["status"] == 400 and "must be >= 1" in out["error"], kw
        assert handle.topk_runs == runs


def test_reader_cache_keeps_one_reader_per_index(spark, index_dir, tmp_path):
    """Alternating between two indexes reuses each one's reader; only a
    mutation of an index replaces its own entry."""
    from newsleak_spark.indexing.manifest import Manifest
    from newsleak_spark.query.engine import _cached_reader

    other = str(tmp_path / "copy")
    shutil.copytree(index_dir, other)
    a = _cached_reader(spark, index_dir)
    b = _cached_reader(spark, other)
    assert a is not b
    assert _cached_reader(spark, index_dir) is a
    assert _cached_reader(spark, other) is b
    Manifest(other).set_stats()  # bumps the copy's generation
    b2 = _cached_reader(spark, other)
    assert b2 is not b
    assert _cached_reader(spark, index_dir) is a
    assert _cached_reader(spark, other) is b2


# getDocs requests over every page shape the row-group cache serves:
# dictionary, segment (with and without positions, filtered, negated)
# and body reads
CACHE_PAGES = [
    dict(query="table"),
    dict(query="merge window", with_total=False),
    dict(query='"fast table"'),
    dict(query="table -join", page=2, page_size=5),
    dict(query="table", roles=("user",)),
    dict(query="spark", page=3, page_size=4),
    dict(query="zzabsentzz"),
]


@pytest.fixture(scope="module")
def table_dir(spark, transcripts, tmp_path_factory):
    """The transcripts as a bare parquet table in several files, so page
    bodies are read through the row-group cache."""
    d = str(tmp_path_factory.mktemp("bodies") / "table")
    transcripts.repartition(3).write.parquet(d)
    return d


def _pages(api, pages=CACHE_PAGES):
    return [api.get_docs(**kw) for kw in pages]


def _fresh_pages(spark, table_dir, index_dir, monkeypatch):
    """CACHE_PAGES from a new handle over an empty row-group cache."""
    from newsleak_spark.query import rowcache

    with monkeypatch.context() as m:
        m.setattr(rowcache, "ROW_CACHE", rowcache.RowGroupCache(rowcache.ROW_CACHE_BYTES))
        return _pages(NewsleakAPI(spark, spark.read.parquet(table_dir), index_dir))


def _highlight_per_word(text: str, targets: set[str], mode: str) -> str:
    """The per-word highlighter, the oracle of api._highlight: every
    surface word (english: analysis.WORD_RE; standard: a run of ASCII
    letters, digits and apostrophes starting at a letter or digit) is
    analyzed on its own and wrapped when a token of it is a target."""
    import re

    from newsleak_spark.analysis import WORD_RE, analyze

    word_re = WORD_RE if mode == "english" else re.compile(r"[0-9A-Za-z][0-9A-Za-z'’]*")

    def repl(m: "re.Match[str]") -> str:
        hit = any(t in targets for t in analyze(m.group(0), mode))
        return f"<em>{m.group(0)}</em>" if hit else m.group(0)

    return word_re.sub(repl, text)


def test_page_highlight_matches_per_word_oracle(transcripts):
    """api._highlight's one scan per page marks exactly the words the
    per-word oracle marks, in both modes, on real bodies and on
    adversarial ones: words that analyze to several tokens (o'brien),
    runs of ’ and ' around and inside words, terms that are a prefix or
    suffix of a run, case, and non-ASCII letters (Café, Straße)."""
    from newsleak_spark.analysis import analyze
    from newsleak_spark.api import _highlight

    adversarial = [
        "O'Brien met o'brien at the Café; Straße closed, the café reopened.",
        "Brien's tables: TABLE table-join o'brien CAFÉ Strasse straße",
        "",
        "Databases and database tables merge windows; O’Brien’s café",
        "''brien ’’Brien’ x'brien brien'' o''brien o’’brien’s brienx xbrien 'o'",
        "S's t'T s’ 's 42 4'2 T42 t42's 7table table7 tab'le",
    ]
    real = [r["text"] for r in transcripts.orderBy("doc_id").limit(400).collect()]
    pages = [adversarial] + [real[i : i + 50] for i in range(0, len(real), 50)]
    words = [w for b in real[:40] for w in b.split()[:2]]
    queries = ["brien table", "café straße", "o'brien", "databases merge", "s t 42 t42", "tab le"]
    queries += [" ".join(words[i : i + 3]) for i in range(0, len(words), 12)]
    hits = 0
    for mode in ("standard", "english"):
        for query in queries:
            targets = set(analyze(query, mode))
            for page in pages:
                got = _highlight(page, targets, mode)
                assert got == [_highlight_per_word(b, targets, mode) for b in page], (mode, query)
                hits += sum("<em>" in g for g in got)
    assert hits > 100


def test_row_cache_follows_index_mutations(spark, transcripts, table_dir, tmp_path, monkeypatch):
    """One serving handle across append_index, compact_index (and the
    reader swap to its output) and an in-place build_index(resume=False)
    answers every page exactly as a new handle over an empty row-group
    cache does after each step."""
    from newsleak_spark.indexing import compact_index

    d = str(tmp_path / "idx")
    cfg = IndexConfig(n_shards=2, n_term_buckets=4, block_size=16)
    table = spark.read.parquet(table_dir)
    build_index(spark, table.filter(F.col("doc_id") % 3 != 0), d, cfg)
    api = NewsleakAPI(spark, table, d)
    seen = [_pages(api)]
    assert seen[0] == _fresh_pages(spark, table_dir, d, monkeypatch)
    append_index(spark, table.filter(F.col("doc_id") % 3 == 0), d, cfg)
    seen.append(_pages(api))
    assert seen[-1] == _fresh_pages(spark, table_dir, d, monkeypatch)
    api.index_dir = compact_index(spark, d).index_dir
    seen.append(_pages(api))
    assert seen[-1] == _fresh_pages(spark, table_dir, api.index_dir, monkeypatch)
    build_index(spark, table.filter(F.col("doc_id") % 2 == 0), api.index_dir, cfg, resume=False)
    seen.append(_pages(api))
    assert seen[-1] == _fresh_pages(spark, table_dir, api.index_dir, monkeypatch)
    assert seen[0] != seen[1] and seen[2] != seen[3]


def test_row_cache_concurrent_pages_equal_sequential(spark, table_dir, index_dir, monkeypatch):
    """8 threads on one handle, each issuing every page in its own order
    over an empty row-group cache, get exactly the sequential pages."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from newsleak_spark.query import rowcache

    want = _fresh_pages(spark, table_dir, index_dir, monkeypatch)
    monkeypatch.setattr(rowcache, "ROW_CACHE", rowcache.RowGroupCache(rowcache.ROW_CACHE_BYTES))
    api = NewsleakAPI(spark, spark.read.parquet(table_dir), index_dir)
    n = len(CACHE_PAGES)

    def client(i):
        order = [(i + j) % n for j in range(n)]
        return dict(zip(order, _pages(api, [CACHE_PAGES[o] for o in order])))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            outs = list(pool.map(client, range(8), timeout=600))
    finally:
        sys.setswitchinterval(interval)
    for got in outs:
        assert [got[i] for i in range(n)] == want
    stats = engine.row_cache_stats()
    assert stats["misses"] >= stats["entries"] > 0 and stats["hits"] > 0


def test_row_cache_tiny_budget(spark, table_dir, index_dir, monkeypatch):
    """With a budget far below one index's row groups, pages are
    unchanged, rows are evicted, and the resident bytes never exceed
    the budget; with a zero budget every row group is read filtered to
    the wanted keys and nothing stays resident."""
    from newsleak_spark.query import rowcache

    want = _fresh_pages(spark, table_dir, index_dir, monkeypatch)
    for budget in (40_000, 0):
        monkeypatch.setattr(rowcache, "ROW_CACHE", rowcache.RowGroupCache(budget))
        api = NewsleakAPI(spark, spark.read.parquet(table_dir), index_dir)
        for _ in range(2):
            got = []
            for kw in CACHE_PAGES:
                api._hit_cache.clear()  # rank again, so every page reads
                got.append(api.get_docs(**kw))
                assert engine.row_cache_stats()["bytes"] <= budget
            assert got == want
        stats = engine.row_cache_stats()
        assert stats["budget"] == budget and stats["misses"] > 0
        assert stats["evictions"] > 0 if budget else stats["entries"] == stats["hits"] == 0


# index-served aggregation shapes: scored, AND, phrase, not-only,
# role-filtered, time-ranged should-only, match-all, an empty doc set
AGG_SPECS = [
    QuerySpec(terms=("table",)),
    QuerySpec(terms=("merge", "window")),
    QuerySpec(phrases=(("fast", "table"),)),
    QuerySpec(not_terms=("merge",)),
    QuerySpec(terms=("table",), role_filter=("user", "tool")),
    QuerySpec(boost_terms=("merge", "window"), ts_from=dt.date(2018, 1, 1), ts_to=dt.date(2019, 6, 30)),
    QuerySpec(),
    QuerySpec(terms=("zzabsentzz",)),
]
# (column, size, include, exclude)
AGG_FACETS = [
    ("role", 3, None, None),
    ("tool", 50, None, None),
    ("tool", 4, ("tool_1", "zzz_never", "tool_2"), None),
    ("role", 50, None, ("user",)),
    ("tool", 50, ("tool_3", "tool_0"), ("tool_0",)),
]


def _agg_requests():
    """(spec, facet tuple or timeline lod) pairs: every spec with two
    facet variants and two levels of detail, every variant and level
    used."""
    out = []
    for i, spec in enumerate(AGG_SPECS):
        out += [(spec, AGG_FACETS[i % 5]), (spec, AGG_FACETS[(i + 2) % 5])]
        out += [(spec, facets_mod.LODS[i % 4]), (spec, facets_mod.LODS[(i + 1) % 4])]
    return out


def _index_agg(spark, d, spec, what):
    """A request's rows from the index: count_by's counts through
    top_values or dense_buckets."""
    if isinstance(what, tuple):
        col, size, include, exclude = what
        return facets_mod.top_values(engine.count_by(spark, d, spec, col), size, include, exclude)
    return facets_mod.dense_buckets(engine.count_by(spark, d, spec, "ts", what), what)


@pytest.fixture(scope="module")
def scan_aggs(transcripts):
    """_agg_requests' answers from the table scan: facet_counts and
    date_histogram over matching_docs."""
    assert transcripts.filter(F.col("tool").isNull()).count() > 0  # null tools are dropped
    out = {}
    for spec, what in _agg_requests():
        docs = matching_docs(transcripts, spec)
        if isinstance(what, tuple):
            col, size, include, exclude = what
            lists = [list(v) if v else None for v in (include, exclude)]
            rows = facets_mod.facet_counts(docs, col, size, *lists).collect()
            out[spec, what] = [(r["value"], r["n_docs"]) for r in rows]
        else:
            key = "decade" if what == "decade" else "bucket"
            out[spec, what] = [(str(r[key]), r["n_docs"]) for r in facets_mod.date_histogram(docs, what).collect()]
    assert any(not rows for rows in out.values()) and all(out[s, w] for s, w in out if s == QuerySpec())
    return out


@pytest.fixture(scope="module")
def compacted_index_dir(delta_index_dir, spark, tmp_path_factory):
    from newsleak_spark.indexing import compact_index

    d = str(tmp_path_factory.mktemp("apicompacted") / "idx")
    compact_index(spark, delta_index_dir, d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("which", ["index_dir", "delta_index_dir", "compacted_index_dir"])
def test_index_aggregations_equal_scan(spark, request, scan_aggs, which):
    """Role/tool facets (size, include with zero-fill, exclude; null
    tools dropped) and day, month, year and decade timelines counted in
    the driver's shard task, with no Spark job, equal facet_counts and
    date_histogram over the scanned doc set for scored, AND, phrase,
    not-only, role-filtered, time-ranged, match-all and empty specs, on
    a single-part, a base+delta and a compacted index."""
    d = request.getfixturevalue(which)
    got, jobs = spark_jobs(spark, lambda: {k: _index_agg(spark, d, *k) for k in scan_aggs})
    assert jobs == 0
    for k, want in scan_aggs.items():
        assert got[k] == want, k


@pytest.mark.parametrize("which", ["index_dir", "delta_index_dir"])
def test_index_aggregations_spark_executor_agrees(spark, request, monkeypatch, which):
    """Above LOCAL_MAX_POSTINGS the shard task counts in Spark tasks:
    count_by's merged partials equal the driver's, and
    matching_doc_ids' Spark doc set equals its local DataFrame."""
    d = request.getfixturevalue(which)
    cases = [
        (spec, col, lod)
        for spec in AGG_SPECS[::2] + AGG_SPECS[5:7]
        for col, lod in (("tool", None), ("ts", "month"))
    ]
    local = {c: engine.count_by(spark, d, *c) for c in cases}
    ids = {spec: engine.matching_doc_ids(spark, d, spec) for spec in AGG_SPECS[3:5]}
    assert all(df._jdf.queryExecution().analyzed().getClass().getSimpleName() == "LocalRelation" for df in ids.values())
    monkeypatch.setattr(engine, "LOCAL_MAX_POSTINGS", -1)
    remote, jobs = spark_jobs(spark, lambda: {c: engine.count_by(spark, d, *c) for c in cases})
    assert jobs > 0
    assert remote == local and any(local.values())
    for spec, df in ids.items():
        spark_ids = engine.matching_doc_ids(spark, d, spec)
        assert "MapInArrow" in spark_ids._jdf.queryExecution().executedPlan().toString()
        assert sorted(r[0] for r in spark_ids.collect()) == sorted(r[0] for r in df.collect()), spec


def test_timeline_session_time_zone_dst(spark, tmp_path, monkeypatch):
    """Timelines bucket in the session time zone. In America/New_York,
    turns on both sides of the 2021 March and November DST switches and
    of day, month, year and decade boundaries land in the buckets
    date_histogram puts them in, from the driver and from Spark tasks;
    a null ts is in no bucket, a null tool in no facet value."""
    from newsleak_spark.transcripts import TRANSCRIPT_SCHEMA

    utc = dt.timezone.utc
    stamps = [
        dt.datetime(2020, 1, 1, 4, 59, tzinfo=utc),  # NY: 2019-12-31 23:59, the 2010s
        dt.datetime(2020, 1, 1, 5, 0, tzinfo=utc),  # NY: 2020-01-01 00:00
        dt.datetime(2021, 3, 1, 4, 59, tzinfo=utc),  # NY: Feb 28 23:59 EST
        dt.datetime(2021, 3, 14, 4, 59, tzinfo=utc),  # NY: Mar 13 23:59 EST
        dt.datetime(2021, 3, 14, 6, 59, tzinfo=utc),  # NY: Mar 14 01:59 EST
        dt.datetime(2021, 3, 14, 7, 0, tzinfo=utc),  # NY: Mar 14 03:00 EDT
        dt.datetime(2021, 3, 15, 3, 59, tzinfo=utc),  # NY: Mar 14 23:59 EDT
        dt.datetime(2021, 3, 15, 4, 0, tzinfo=utc),  # NY: Mar 15 00:00 EDT
        dt.datetime(2021, 11, 7, 3, 59, tzinfo=utc),  # NY: Nov 6 23:59 EDT
        dt.datetime(2021, 11, 7, 5, 30, tzinfo=utc),  # NY: Nov 7 01:30 EDT
        dt.datetime(2021, 11, 7, 6, 30, tzinfo=utc),  # NY: Nov 7 01:30 EST
        dt.datetime(2021, 11, 8, 4, 59, tzinfo=utc),  # NY: Nov 7 23:59 EST
        dt.datetime(2021, 11, 8, 5, 0, tzinfo=utc),  # NY: Nov 8 00:00 EST
        dt.datetime(2022, 1, 1, 4, 59, tzinfo=utc),  # NY: 2021-12-31 23:59
        None,
    ]
    tools = [None, "grep", "sed"]
    rows = [
        (i, f"c{i % 3}", i, "user", f"alpha {'beta' if i % 2 else 'gamma'} w{i}", tools[i % 3], ts)
        for i, ts in enumerate(stamps)
    ]
    table = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    d = str(tmp_path / "idx")
    build_index(spark, table, d, IndexConfig(n_shards=2, n_term_buckets=2, block_size=4))
    scan = NewsleakAPI(spark, table, None)
    conf = "spark.sql.session.timeZone"
    zone = spark.conf.get(conf)
    got = {}
    try:
        for tz in ("UTC", "America/New_York"):
            spark.conf.set(conf, tz)
            for query in ("", "beta"):
                want = [scan.get_timeline(query, lod=lod) for lod in facets_mod.LODS]
                want.append(scan.aggregate("tool", query))
                assert None not in [b["key"] for b in want[-1]["buckets"]]
                for bound in (10**12, -1):
                    monkeypatch.setattr(engine, "LOCAL_MAX_POSTINGS", bound)
                    # a new handle per request: the aggregation cache
                    # does not key on the session time zone
                    outs = [NewsleakAPI(spark, table, d).get_timeline(query, lod=lod) for lod in facets_mod.LODS]
                    outs.append(NewsleakAPI(spark, table, d).aggregate("tool", query))
                    assert outs == want, (tz, query, bound)
                for lod, out in zip(facets_mod.LODS, want):
                    got[tz, query, lod] = out["buckets"]
    finally:
        spark.conf.set(conf, zone)
    keys = lambda tz, lod: [b["key"] for b in got[tz, "", lod] if b["docCount"]]
    assert keys("UTC", "decade") == ["2020"] and keys("America/New_York", "decade") == ["2010", "2020"]
    assert "2021-03-13" in keys("America/New_York", "day") and "2021-03-13" not in keys("UTC", "day")
    assert sum(b["docCount"] for b in got["America/New_York", "", "day"]) == len(stamps) - 1


def test_cold_aggregations_start_no_spark_job(spark, transcripts, index_dir):
    """Under the bound a cold facet and a cold timeline, scored or
    match-all, start no Spark job, and neither does building
    matching_doc_ids' DataFrame: the shard task runs in the driver and
    the doc set is a local relation."""
    fresh = NewsleakAPI(spark, transcripts, index_dir)
    outs, jobs = spark_jobs(
        spark,
        lambda: [
            fresh.aggregate("role", "table"),
            fresh.get_timeline("table", lod="year"),
            fresh.aggregate("tool"),
            fresh.get_timeline(lod="month"),
            engine.matching_doc_ids(spark, index_dir, QuerySpec(terms=("table",))),
        ],
    )
    assert jobs == 0
    assert fresh.agg_runs == 4 and all(o["buckets"] for o in outs[:4])
