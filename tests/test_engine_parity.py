"""Segment engine vs brute-force DataFrame BM25: rank identity
(SURVEY §5.2; the engine must reproduce query/brute.py exactly,
which itself is oracle-checked against DuckDB and pure Python)."""

import datetime as dt
import shutil

import pytest

from newsleak_spark.indexing import IndexConfig, build_index
from newsleak_spark.query import QuerySpec, bm25_topk
from newsleak_spark.query.engine import IndexReader, search

SPECS = [
    QuerySpec(terms=("spark",), k=10),
    QuerySpec(terms=("merge", "window"), k=15),
    QuerySpec(terms=("table", "fast", "scan"), k=10),
    QuerySpec(phrases=(("fast", "table"),), k=10),
    QuerySpec(terms=("value",), phrases=(("fast", "table"),), k=10),
    QuerySpec(terms=("table",), role_filter=("user",), k=10),
    QuerySpec(terms=("table",), tool_filter=("tool_3",), k=10),
    QuerySpec(terms=("row",), ts_from=dt.date(2018, 6, 1), ts_to=dt.date(2020, 6, 30), k=10),
    QuerySpec(terms=("table",), boost_terms=("spark", "merge"), k=10),
    QuerySpec(terms=(), boost_terms=("merge", "window"), k=12),  # scored union → BMW
    QuerySpec(terms=("nosuchterm",), k=10),
    QuerySpec(k=10),  # match_all
    QuerySpec(terms=("spark",), k=500),  # k > hits
    # must_not ('-term'): AND path, union/BMW path, not-only, filtered,
    # phrase+not, negated-absent-term, and the contradictory a AND -a
    QuerySpec(terms=("table",), not_terms=("join",), k=10),
    QuerySpec(boost_terms=("merge", "window"), not_terms=("filter",), k=12),
    QuerySpec(not_terms=("table", "merge"), k=15),
    QuerySpec(terms=("table",), not_terms=("join",), role_filter=("user",), k=10),
    QuerySpec(phrases=(("fast", "table"),), not_terms=("spark",), k=10),
    QuerySpec(terms=("table",), not_terms=("zzznothere",), k=10),
    QuerySpec(terms=("table",), not_terms=("table",), k=10),  # → no hits
]


@pytest.fixture(scope="module")
def index_dir(spark, transcripts, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx"))
    # small blocks + low hot threshold so salting/blocking paths execute
    cfg = IndexConfig(n_shards=4, n_term_buckets=4, block_size=16, hot_df_ratio=0.3, n_salts=4)
    build_index(spark, transcripts, d, cfg)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("spec", SPECS, ids=lambda s: s.cache_key())
def test_engine_matches_brute(spark, transcripts, index_dir, spec):
    got = [(r.doc_id, r.score_e6) for r in search(spark, index_dir, spec).collect()]
    want = [(r.doc_id, r.score_e6) for r in bm25_topk(transcripts, spec).collect()]
    assert [g[0] for g in got] == [w[0] for w in want], f"docID rank mismatch: {got} vs {want}"
    for (gd, gs), (_, ws) in zip(got, want):
        assert abs(gs - ws) <= 1, f"score mismatch doc {gd}: {gs} vs {ws}"


def test_manifest_stats(spark, transcripts, index_dir):
    rd = IndexReader(spark, index_dir)
    assert rd.n_docs == transcripts.count()
    assert rd.avgdl > 0
    man = rd.man
    assert man.stats["n_hot_terms"] >= 1  # fixtures guarantee a hot term
    assert set(man.data["stages"]) == {
        "tokenized", "docmeta", "postings", "dictionary", "bigrams", "segments"
    }
    # per-partition lineage recorded for the segment stage
    seg = man.data["stages"]["segments"]
    assert seg["partitions"], "expected per-(shard,bucket) lineage"
    assert sum(p["postings"] for p in seg["partitions"].values()) == man.stats["n_postings"]


def test_block_max_invariant(spark, index_dir):
    """max_score(block) ≥ score(any posting in block) — SURVEY §5.2.4."""
    import numpy as np

    from newsleak_spark.codec import delta_decode, varint_decode
    from newsleak_spark.query.engine import _bm25

    rd = IndexReader(spark, index_dir)
    rows = spark.read.parquet(f"{index_dir}/segments").limit(200).collect()
    # segments carry both unigram and bigram-sidecar terms; each kind's
    # df lives in its own dictionary
    dic = {r["term"]: r["df"] for r in spark.read.parquet(f"{index_dir}/dictionary").collect()}
    dic.update(
        (r["term"], r["df"])
        for r in spark.read.parquet(f"{index_dir}/bigram_dictionary").collect()
    )
    from newsleak_spark.indexing.build import BIGRAM_SEP

    for r in rows:
        docs = delta_decode(bytes(r["docs"]))
        assert len(docs) == r["n"]
        assert int(docs[0]) == r["doc_first"] and int(docs[-1]) == r["doc_last"]
        if BIGRAM_SEP in r["term"]:
            # membership-only sidecar blocks: slim encode stores the doc
            # stream only; maxima are inert zeros (never WAND-scored)
            assert bytes(r["tfs"]) == b"" and bytes(r["dls"]) == b""
            assert r["max_tf"] == 0 and r["max_score"] == 0.0
            continue
        tfs = varint_decode(bytes(r["tfs"])).astype(np.int64)
        dls = varint_decode(bytes(r["dls"])).astype(np.int64)
        assert len(docs) == len(tfs) == len(dls)
        assert tfs.max() == r["max_tf"]
        idf = float(np.log(1.0 + (rd.n_docs - dic[r["term"]] + 0.5) / (dic[r["term"]] + 0.5)))
        scores = _bm25(tfs, dls, idf, rd.avgdl)
        assert scores.max() <= r["max_score"] + 1e-12


def test_salted_hot_term_split(spark, index_dir):
    """Hot terms must be salted into >1 run; query results already
    verified identical by the parity tests (SURVEY §5.2.6)."""
    from pyspark.sql import functions as F

    seg = spark.read.parquet(f"{index_dir}/segments")
    hot = (
        spark.read.parquet(f"{index_dir}/dictionary").filter("is_hot").select("term").collect()
    )
    assert hot
    hot_terms = [r["term"] for r in hot]
    salts = (
        seg.filter(F.col("term").isin(hot_terms))
        .groupBy("term", "shard")
        .agg(F.countDistinct("salt").alias("n_salts"))
        .agg(F.max("n_salts").alias("m"))
        .collect()[0]["m"]
    )
    assert salts > 1, "hot term was not salted"


def test_xxh64_matches_spark(spark):
    """Driver-side term->bucket routing must equal the JVM's xxhash64
    (build partitions with F.xxhash64; query prunes with xxh.py)."""
    from pyspark.sql import functions as F

    from newsleak_spark.xxh import xxh64_signed

    terms = ["spark", "merge", "a", "", "tool_3", "w123456", "x" * 40,
             "ünïcode-términ", "0123456789abcdef0123456789abcdef0123"]
    rows = (
        spark.createDataFrame([(t,) for t in terms], "term string")
        .select("term", F.xxhash64("term").alias("h"))
        .collect()
    )
    for r in rows:
        assert xxh64_signed(r["term"]) == r["h"], r["term"]


def test_stream_view_matches_joined_bytes():
    """engine._stream (the decode's view of a binary column) returns
    the same bytes as joining the column's Python values, for every
    shape a shard's term slice takes: a slice at a nonzero offset
    (a view, no copy), a filtered table, a column of several chunks
    (a base part's rows concatenated with a delta's) and a slice
    across its chunk boundary, an empty slice, and an all-empty
    column (a bigram sidecar's tf/dl streams)."""
    import numpy as np
    import pyarrow as pa

    from newsleak_spark.codec import varint_encode
    from newsleak_spark.query import engine

    rng = np.random.default_rng(7)

    def part(n):
        return pa.table({
            "docs": [varint_encode(rng.integers(0, 1 << 20, rng.integers(1, 9))) for _ in range(n)],
            "tfs": [b""] * n,
        })

    base = part(6)
    both = pa.concat_tables([base, part(5)])
    assert both["docs"].num_chunks == 2
    cases = {
        "offset slice": base.slice(2, 3),
        "filtered": base.filter(pa.array([True, False, True, True, False, True])),
        "multi-chunk": both,
        "across chunks": both.slice(4, 4),
        "empty slice": base.slice(3, 0),
    }
    for name, tbl in cases.items():
        for col in ("docs", "tfs"):
            got = engine._stream(tbl[col])
            assert got.dtype == np.uint8, (name, col)
            assert got.tobytes() == b"".join(tbl[col].to_pylist()), (name, col)
    # the offset slice is a view of the column's data buffer
    chunk = base.slice(2, 3)["docs"].chunk(0)
    first = np.frombuffer(chunk.buffers()[1], np.int32)[chunk.offset]
    view = engine._stream(base.slice(2, 3)["docs"])
    assert view.__array_interface__["data"][0] == chunk.buffers()[2].address + first


@pytest.mark.parametrize("safe_bounds", [False, True], ids=["stored", "safe"])
def test_union_skipping_skips(spark, index_dir, monkeypatch, safe_bounds):
    """Block-max skipping in the scored union still skips: run driver-
    side over one rare and one common term with a small k, the
    truncated scorer scores fewer postings than the untruncated one and
    merges to the same top-k under (score_e6 desc, doc_id asc)."""
    import numpy as np

    from newsleak_spark.query import engine

    rd = IndexReader(spark, index_dir)
    terms, k = ["dup", "query"], 3
    dict_rows = rd.dictionary_rows(terms)
    assert dict_rows["dup"][0] * 10 < dict_rows["query"][0]  # rare vs common
    metas = [
        engine.TermMeta(
            t, float(dict_rows[t][0]),
            float(np.log(1.0 + (rd.n_docs - dict_rows[t][0] + 0.5) / (dict_rows[t][0] + 0.5))),
            False,
        )
        for t in terms
    ]
    shards = list(engine._by_shard_term(rd.segment_rows(terms, with_positions=False)).values())
    scored = [0]
    bm25 = engine._bm25

    def counting_bm25(tf, dl, idf, avgdl):
        scored[0] += tf.size
        return bm25(tf, dl, idf, avgdl)

    monkeypatch.setattr(engine, "_bm25", counting_bm25)

    def top_k(truncate):
        scored[0] = 0
        scorer = engine._make_shard_scorer(
            metas, (), rd.avgdl, k, truncate=truncate, safe_bounds=safe_bounds
        )
        rows = []
        for by_term in shards:
            docs, scores, _hits = scorer(by_term)
            rows += [(-int(np.round(s * 1e6)), int(d)) for d, s in zip(docs, scores)]
        return sorted(rows)[:k], scored[0]

    got, n_truncated = top_k(True)
    want, n_full = top_k(False)
    assert got == want
    assert n_truncated < n_full


def test_english_mode_engine_vs_brute(spark, transcripts, tmp_path):
    """Full-chain english analyzer (normalize -> tokenize -> cleanup ->
    stopwords -> Porter stem) end-to-end: engine built with
    mode='english' must rank-match the brute DataFrame path in the
    same mode; query terms pass through the same analyzer."""
    from newsleak_spark.analysis import analyze
    from newsleak_spark.query.brute import bm25_topk as brute_topk

    cfg = IndexConfig(mode="english", n_shards=2, n_term_buckets=4, block_size=16)
    d = str(tmp_path / "eng_idx")
    build_index(spark, transcripts, d, cfg, resume=False)
    for raw_terms in [["tables"], ["merged", "window"]]:
        terms = tuple(t for rt in raw_terms for t in analyze(rt, "english"))
        spec = QuerySpec(terms=terms, k=15)
        want = [(r["doc_id"], r["score_e6"]) for r in brute_topk(transcripts, spec, mode="english").collect()]
        got = [(r["doc_id"], r["score_e6"]) for r in search(spark, d, spec).collect()]
        assert got == want, (terms, got[:3], want[:3])


# ---------------------------------------------------------------------------
# Property: rank identity over RANDOM query specs (hypothesis) — the
# fixed SPECS list above pins known shapes; this sweeps the spec space
# (term-count 1-3, boosts, role/tool/date filters, varying k) so an
# engine path only a rare combination exercises can't drift silently.
# ---------------------------------------------------------------------------

import datetime as _dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_POOL = ["spark", "merge", "window", "table", "fast", "scan", "value",
         "row", "key", "query", "batch", "nosuchterm"]

_spec_st = st.builds(
    QuerySpec,
    terms=st.lists(st.sampled_from(_POOL), min_size=0, max_size=3, unique=True).map(tuple),
    boost_terms=st.lists(st.sampled_from(_POOL), min_size=0, max_size=2, unique=True).map(tuple),
    not_terms=st.lists(st.sampled_from(_POOL), min_size=0, max_size=2, unique=True).map(tuple),
    role_filter=st.sampled_from([(), ("user",), ("user", "tool")]),
    tool_filter=st.sampled_from([(), ("tool_3",)]),
    ts_from=st.sampled_from([None, _dt.date(2018, 6, 1)]),
    ts_to=st.sampled_from([None, _dt.date(2020, 6, 30)]),
    k=st.sampled_from([5, 10, 50]),
)


@settings(
    max_examples=15, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(spec=_spec_st)
def test_engine_matches_brute_random_specs(spark, transcripts, index_dir, spec):
    got = [(r.doc_id, r.score_e6) for r in search(spark, index_dir, spec).collect()]
    want = [(r.doc_id, r.score_e6) for r in bm25_topk(transcripts, spec).collect()]
    assert [g[0] for g in got] == [w[0] for w in want], (spec, got, want)
    for (gd, gs), (_, ws) in zip(got, want):
        assert abs(gs - ws) <= 1, (spec, gd, gs, ws)
