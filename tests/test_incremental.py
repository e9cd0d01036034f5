"""Incremental delta append: base + deltas must answer every query
class rank- and score-identically to a from-scratch build of the full
collection (combined N/avgdl/df reproduce the exact BM25 scores; the
BMW safe bound never skips a winner)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from newsleak_spark.indexing import IndexConfig, append_index, build_index, list_deltas
from newsleak_spark.query import QuerySpec
from newsleak_spark.query.engine import IndexReader, count_hits, search, search_heaps

CFG = IndexConfig(n_shards=4, n_term_buckets=4, block_size=16, hot_df_ratio=0.3, n_salts=4)

SPECS = [
    QuerySpec(terms=("spark",), k=15),
    QuerySpec(terms=("merge", "window"), k=15),
    QuerySpec(phrases=(("fast", "table"),), k=15),
    QuerySpec(terms=(), boost_terms=("merge", "window"), k=15),  # BMW union path
    QuerySpec(terms=("table",), role_filter=("user",), k=15),
]


@pytest.fixture(scope="module")
def dirs(spark, transcripts, tmp_path_factory):
    root = tmp_path_factory.mktemp("inc")
    full_dir = str(root / "full")
    inc_dir = str(root / "inc")
    half_a = transcripts.filter(F.col("doc_id") % 3 != 0)
    half_b = transcripts.filter(F.col("doc_id") % 3 == 0)
    build_index(spark, transcripts, full_dir, CFG, resume=False)
    build_index(spark, half_a, inc_dir, CFG, resume=False)
    append_index(spark, half_b, inc_dir, CFG)
    yield full_dir, inc_dir
    shutil.rmtree(root, ignore_errors=True)


def test_combined_stats_equal_full(spark, dirs):
    full_dir, inc_dir = dirs
    rf, ri = IndexReader(spark, full_dir), IndexReader(spark, inc_dir)
    assert ri.multi and not rf.multi
    assert ri.n_docs == rf.n_docs
    assert abs(ri.avgdl - rf.avgdl) < 1e-9
    assert ri.dictionary_rows(["spark", "merge"]) == rf.dictionary_rows(["spark", "merge"])


@pytest.mark.parametrize("i", range(len(SPECS)))
def test_delta_results_rank_identical(spark, dirs, i):
    full_dir, inc_dir = dirs
    spec = SPECS[i]
    full = [(r["doc_id"], r["score_e6"]) for r in search(spark, full_dir, spec).collect()]
    inc = [(r["doc_id"], r["score_e6"]) for r in search(spark, inc_dir, spec).collect()]
    assert inc == full


@pytest.mark.parametrize("i", range(len(SPECS)))
def test_delta_totals_equal_full(spark, dirs, i):
    """The total that rides the ranked job sums each shard's hits
    across base and delta: it equals the full build's doc-set count."""
    full_dir, inc_dir = dirs
    heaps = search_heaps(spark, inc_dir, SPECS[i], count=True).collect()
    total = sum({r["shard"]: r["hits"] for r in heaps}.values())
    assert total == count_hits(spark, full_dir, SPECS[i])


def test_append_registration_idempotent(spark, dirs):
    _, inc_dir = dirs
    assert list_deltas(inc_dir) == ["delta_0000"]


def test_empty_delta_not_registered(spark, transcripts, tmp_path):
    d = str(tmp_path / "idx_empty")
    build_index(spark, transcripts, d, CFG, resume=False)
    empty = transcripts.filter(F.col("doc_id") < 0)
    append_index(spark, empty, d, CFG)
    assert list_deltas(d) == []  # zero-row batch registers nothing
    spec = QuerySpec(terms=("spark",), k=5)
    assert search(spark, d, spec).count() == 5  # reader unaffected


def test_compaction_clears_delta_registration(spark, transcripts, tmp_path):
    d = str(tmp_path / "idx_compact")
    build_index(spark, transcripts.filter(F.col("doc_id") % 2 == 0), d, CFG, resume=False)
    append_index(spark, transcripts.filter(F.col("doc_id") % 2 == 1), d, CFG)
    assert list_deltas(d) == ["delta_0000"]
    # compaction = full rebuild over the whole collection
    build_index(spark, transcripts, d, CFG, resume=False)
    assert list_deltas(d) == []  # old deltas no longer unioned in
    spec = QuerySpec(terms=("merge", "window"), k=15)
    want = {r["doc_id"] for r in search(spark, d, spec).collect()}
    assert len(want) == 15  # no duplicate doc_ids from stale deltas


def test_named_delta_registration_is_idempotent(spark, transcripts, tmp_path):
    d = str(tmp_path / "idx_named")
    build_index(spark, transcripts.filter(F.col("doc_id") % 2 == 0), d, CFG, resume=False)
    half = transcripts.filter(F.col("doc_id") % 2 == 1)
    append_index(spark, half, d, CFG, delta_name="delta_b00000001")
    n1 = search(spark, d, QuerySpec(terms=("spark",), k=5)).count()
    # replay (crash between registration and any caller-side ledger):
    # same name -> returns without re-indexing or double-registering
    append_index(spark, half, d, CFG, delta_name="delta_b00000001")
    assert list_deltas(d) == ["delta_b00000001"]
    assert search(spark, d, QuerySpec(terms=("spark",), k=5)).count() == n1


def test_phrase_query_rejected_without_positions(spark, transcripts, tmp_path):
    from dataclasses import replace

    d = str(tmp_path / "idx_nopos")
    man = build_index(spark, transcripts, d, replace(CFG, with_positions=False), resume=False)
    with pytest.raises(ValueError, match="with_positions"):
        search(spark, d, QuerySpec(phrases=(("fast", "table"),), k=5))
    # no query can read a sidecar without positions, so none is built
    assert not os.path.exists(os.path.join(d, "bigram_postings"))
    assert man.stats.get("bigram_terms") is None
