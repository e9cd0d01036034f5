"""Physical-plan audits: the scale properties SURVEY §4.2 claims are
asserted on the actual Catalyst plans, so a refactor that silently
de-optimizes a path (drops partition pruning, introduces a sort-merge
join where a broadcast was intended, widens a scan) fails tests. The
engine reads its segments and docmeta with pyarrow, so those pruning
properties are asserted on the pyarrow reads themselves.

These mirror the task's ".explain until it's the plan you'd want"
discipline as executable invariants.
"""

import contextlib
import io

import pytest

from newsleak_spark.indexing import IndexConfig, build_index
from newsleak_spark.query import QuerySpec, bm25_topk
from newsleak_spark.query import engine
from newsleak_spark.query.engine import IndexReader, search


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def index_dir(spark, transcripts, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("planidx"))
    cfg = IndexConfig(n_shards=4, n_term_buckets=8, block_size=32)
    build_index(spark, transcripts, d, cfg)
    return d


@pytest.fixture
def reads(monkeypatch):
    """Every pyarrow read the engine makes, as (a file of the dataset,
    the files left after partition pruning, columns, filter):
    ``pyarrow.dataset.dataset`` wrapped so each dataset it opens
    records its ``to_table`` calls, and an empty row-group cache that
    records each row group it decodes (filter "row group")."""
    import pyarrow.dataset as ds

    from newsleak_spark.query import rowcache

    opened, log = ds.dataset, []

    class Decoded:
        def __init__(self, fragment):
            self._fragment = fragment

        def to_table(self, columns=None, schema=None, **kw):
            log.append((self._fragment.path, [self._fragment.path], columns, "row group"))
            return self._fragment.to_table(columns=columns, schema=schema, **kw)

    class RecordedCache(rowcache.RowGroupCache):
        def entry(self, key, fragment, *args):
            return super().entry(key, Decoded(fragment), *args)

    class Recorded:
        def __init__(self, dataset):
            self._dataset = dataset

        def __getattr__(self, name):
            return getattr(self._dataset, name)

        def to_table(self, columns=None, filter=None):
            files = [f.path for f in self._dataset.get_fragments(filter=filter)]
            log.append((self._dataset.files[0], files, columns, filter))
            return self._dataset.to_table(columns=columns, filter=filter)

    monkeypatch.setattr(ds, "dataset", lambda *a, **kw: Recorded(opened(*a, **kw)))
    monkeypatch.setattr(rowcache, "ROW_CACHE", RecordedCache(rowcache.ROW_CACHE_BYTES))
    return log


def shard_task_reads(spark, index_dir, reads, spec, task_shards):
    """The reads of score_shards for ``spec``: (driver reads over every
    shard, one Spark task's reads over ``task_shards``). The reader is
    fresh so its memoized datasets open through ``reads``; the task's
    reads are those of _task_scored, which _spark_scored runs per task."""
    rd = IndexReader(spark, index_dir)
    plan = engine._plan(rd, spec, truncate=True, count=False)
    del reads[:]
    engine.score_shards(plan, range(rd.n_shards), rd.part_datasets)
    driver = list(reads)
    del reads[:]
    list(engine._task_scored(plan, rd.parts, task_shards))
    return plan, driver, list(reads)


def _seg_dirs(files) -> set:
    return {f.split("/segments/", 1)[1].rsplit("/", 1)[0] for f in files}


def test_segment_scan_partition_pruned(spark, index_dir, reads):
    """A query's segment read opens only the directories of its query
    terms' buckets. The driver reads every shard at once through the
    row-group cache: it decodes each row group of those directories
    once, and a repeated query decodes nothing. A Spark task reads its
    shards one at a time, with the term predicate pushed to parquet row
    groups, so it holds one shard's rows however many shards it owns."""
    spec = QuerySpec(terms=("spark",))
    plan, driver, task = shard_task_reads(spark, index_dir, reads, spec, [1, 2])
    (bucket,) = plan.buckets
    decoded = [r[0] for r in driver if "/segments/" in r[0]]
    assert len(decoded) == len(set(decoded))
    assert _seg_dirs(decoded) == {f"shard={s}/bucket={bucket}" for s in range(4)}, decoded
    del reads[:]
    engine.score_shards(plan, range(4), IndexReader(spark, index_dir).part_datasets)
    assert not [r for r in reads if "/segments/" in r[0]]
    seg = [r[1:] for r in task if "/segments/" in r[0]]
    assert len(seg) == 2, seg
    for (files, _cols, flt), shard in zip(seg, [1, 2]):
        assert _seg_dirs(files) == {f"shard={shard}/bucket={bucket}"}
        assert "term" in str(flt), flt


def test_segment_scan_drops_position_columns(spark, index_dir, reads):
    """Term-only queries must not read position bytes (SURVEY §7.5.5);
    phrase queries read them. In the driver, a row group first decoded
    for a term-only query decodes its position columns when a phrase
    first asks for them."""
    for spec, want in ((QuerySpec(terms=("spark",)), False), (QuerySpec(phrases=(("fast", "table"),)), True)):
        _plan, driver, task = shard_task_reads(spark, index_dir, reads, spec, [0])
        seg = [cols for first, _files, cols, _flt in driver + task if "/segments/" in first]
        assert len(seg) >= 2 and len([r for r in task if "/segments/" in r[0]]) == 1
        for cols in seg:
            assert ("poscnt" in cols and "posflat" in cols) == want, (spec, cols)


def test_search_plan_shape(spark, index_dir):
    """Engine search = one shard task per partition of the shard ids
    (MapInArrow over Range) + the global top-k merge: no Exchange below
    the merge, no join anywhere."""
    plan = plan_of(search(spark, index_dir, QuerySpec(terms=("spark",), k=10)))
    assert "TakeOrderedAndProject" in plan and "MapInArrow" in plan, plan
    assert "Exchange" not in plan and "Join" not in plan, plan


def test_brute_bm25_plan_broadcast_only(spark, transcripts):
    """The brute DataFrame path must broadcast its tiny dims (query
    terms, df) — a sort-merge join here would shuffle the postings side
    twice at scale."""
    plan = plan_of(bm25_topk(transcripts, QuerySpec(terms=("merge", "window"), k=10)))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_facet_scan_prunes_text_column(spark):
    """G1 facet over `role` must not read the (wide) text column — if
    column pruning regresses, every facet pays the fulltext IO.
    (sf0.01 on purpose: the conftest caches the sf0.001 transcripts
    plan, and a cache hit would swap the parquet scan for an
    InMemoryTableScan of all columns.)"""
    from newsleak_spark import facets
    from newsleak_spark.transcripts import load_transcripts

    t = load_transcripts(spark, "/root/testdata/sf0.01")
    plan = plan_of(facets.facet_counts(t, "role", k=10))
    schema = plan.split("ReadSchema", 1)[1].splitlines()[0]
    assert "text" not in schema, schema


def test_facet_partial_aggregation(spark):
    """G1 must map-side combine (partial_count before the exchange)."""
    from newsleak_spark import facets
    from newsleak_spark.transcripts import load_transcripts

    t = load_transcripts(spark, "/root/testdata/sf0.01")
    plan = plan_of(facets.facet_counts(t, "role", k=10), "simple")
    assert "partial_count" in plan, plan


def test_dedup_plans_no_cartesian(spark):
    """The dedup/minhash rewrites must stay free of row-explosion joins:
    no CartesianProduct, and simhash needs no join at all."""
    from newsleak_spark import textops

    sim = textops.dedup_simhash(spark, "/root/testdata/sf0.001")
    plan = plan_of(sim)
    assert "CartesianProduct" not in plan and "Join" not in plan
    mh = textops.dedup_minhash_lsh(spark, "/root/testdata/sf0.001")
    plan = plan_of(mh)
    assert "CartesianProduct" not in plan


def test_ngram_jaccard_shingle_df_capped(spark):
    """dedup_ngram_jaccard must drop hot shingles BEFORE its self-join:
    a shingle shared by m docs fans the join out m². With df_cap=1 every
    shared shingle is excluded, so no pair can survive — proving the
    cap gates the join input, not the output."""
    from newsleak_spark import textops

    assert textops.dedup_ngram_jaccard(spark, "/root/testdata/sf0.001").count() > 0
    capped = textops.dedup_ngram_jaccard(spark, "/root/testdata/sf0.001", df_cap=1)
    assert capped.count() == 0
    assert "CartesianProduct" not in plan_of(capped)


def test_minhash_bucket_capped(spark):
    """dedup_minhash_lsh must skip over-sized LSH buckets before pair
    emission (m² rows per bucket). max_bucket=1 kills every bucket that
    could emit a pair."""
    from newsleak_spark import textops

    assert textops.dedup_minhash_lsh(spark, "/root/testdata/sf0.001").count() > 0
    assert (
        textops.dedup_minhash_lsh(spark, "/root/testdata/sf0.001", max_bucket=1).count()
        == 0
    )


def test_a9_no_broadcast_hint_on_vocabulary(spark):
    """A9's collection-frequency table is one row per vocabulary term —
    hint-broadcasting it OOMs the driver at 100TB scale. Exactly ONE
    broadcast hint is allowed in the plan: the 1-row totals frame.
    (Catalyst may still auto-broadcast cf at small scale from observed
    stats; that's the optimizer's size-based call, which flips to a
    shuffle join when stats say big — the HINT is what must not exist.)"""
    from newsleak_spark import curation

    df = curation.a9_keyterms(spark, "/root/testdata/sf0.01")
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1, analyzed


def test_event_window_agg_partial(spark):
    """Tumbling-window agg must map-side combine and stay join-free."""
    from newsleak_spark import events

    plan = plan_of(events.ev_window_agg(spark, "/root/testdata/sf0.01"), "simple")
    assert "partial_count" in plan and "Join" not in plan, plan


def test_a10_single_scan_broadcast_only(spark):
    """A10's tagged one-pass extraction: the only join is the broadcast
    unigram dict — no sort-merge join, no cartesian."""
    from newsleak_spark import curation

    plan = plan_of(curation.a10_dict_extract(spark, "/root/testdata/sf0.01"))
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_filtered_search_docmeta_pushdown(spark, index_dir, reads):
    """F2/F5 filters are part of the docmeta read. The driver decodes
    each shard's docmeta row group once, through the row-group cache,
    with only doc_id and the filter's column, filters it in Arrow, and
    decodes nothing for a repeated query. A Spark task pushes the role
    predicate (with the shard predicate) into its parquet read, reads
    only (shard, doc_id), and opens only its own shards' docmeta."""
    spec = QuerySpec(terms=("spark",), role_filter=("user",), k=10)
    plan, driver, task = shard_task_reads(spark, index_dir, reads, spec, [3])
    shard_dir = lambda f: f.split("/docmeta/", 1)[1].rsplit("/", 1)[0]
    decoded = [r for r in driver if "/docmeta/" in r[0]]
    assert len({r[0] for r in decoded}) == len(decoded)
    assert {shard_dir(r[0]) for r in decoded} == {f"shard={s}" for s in range(4)}, decoded
    assert all(r[2] == ["doc_id", "role"] and r[3] == "row group" for r in decoded), decoded
    del reads[:]
    engine.score_shards(plan, range(4), IndexReader(spark, index_dir).part_datasets)
    assert not [r for r in reads if "/docmeta/" in r[0]]
    (files, cols, flt), = [r[1:] for r in task if "/docmeta/" in r[0]]
    assert cols == ["shard", "doc_id"]
    assert "role" in str(flt) and "shard" in str(flt), flt
    assert {shard_dir(f) for f in files} == {"shard=3"}


def test_decontaminate_no_cartesian(spark):
    """Decontamination is ONE equi-join on the shingle key (benchmark
    side is eval-set-sized) — never a cartesian product."""
    from newsleak_spark import textops

    plan = plan_of(textops.decontaminate(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan


def test_redact_terms_no_shuffle(spark):
    """Redaction is row-local: a single projection over the scan — no
    exchange besides the output ordering's."""
    from newsleak_spark import textops

    plan = plan_of(textops.redact_terms(spark, "/root/testdata/sf0.001"), "simple")
    assert "Join" not in plan


def test_cc_plan_depth_stable_across_rounds(spark):
    """Iterative CC must truncate lineage each round (localCheckpoint):
    the result's plan must stay SHALLOW regardless of how many rounds
    ran. A shuffled-id chain forces several contraction rounds; without
    truncation the plan would accrete one join+agg subtree per round
    and the line count would grow multiplicatively, not stay flat."""
    from newsleak_spark import textops

    def plan_lines(n_chain: int) -> int:
        ids = list(range(n_chain))
        # deterministic shuffle so label propagation can't shortcut
        perm = [(i * 37 + 11) % n_chain for i in range(n_chain)]
        edges = spark.createDataFrame(
            [(perm[i], perm[i + 1]) for i in range(n_chain - 1)], "u long, v long"
        )
        comp = textops.connected_components(edges)
        return len(plan_of(comp, "simple").splitlines())

    shallow, deep = plan_lines(8), plan_lines(64)
    assert deep <= shallow + 5, (shallow, deep)


def test_ivf_cell_join_broadcast_only(spark):
    """IVF probing joins the corpus on its cell key against the tiny
    (Q·nprobe) broadcast query side — a sort-merge join here would
    shuffle the full corpus for a handful of query vectors."""
    from newsleak_spark import similarity

    plan = plan_of(similarity.ann_ivf_topk(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_lsh_multiprobe_fans_out_query_side_only(spark):
    """1-bit multi-probe expands ONLY the broadcast query side to the
    hamming-1 buckets: the corpus side must keep exactly n_tables
    bucket rows per vector and the candidate join must stay broadcast
    (no corpus re-shuffle from the fan-out)."""
    from newsleak_spark import similarity
    from newsleak_spark.transcripts import load_transcripts  # noqa: F401

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probed = similarity.ann_lsh_topk_df(emb, probe_bits=1)
    plan = plan_of(probed)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # corpus-side bucket rows: one per (vector, table) — the probe
    # fan-out must not touch it
    n = emb.count()
    buckets = similarity.ann_lsh_buckets(spark, "/root/testdata/sf0.001")
    assert buckets.count() == n * similarity.LSH_TABLES


def test_s2_source_explicit_schema_no_shuffle(spark, tmp_path):
    """The S2 export read must carry its explicit schema (a JSON scan
    with NO schema triggers a whole-extra inference pass over 100 TB)
    and assemble text as codegen'd expressions: no Exchange, no
    BatchEvalPython in the plan."""
    import json as _json

    from newsleak_spark import sources

    p = tmp_path / "exp"
    p.mkdir()
    (p / "a.json").write_text(_json.dumps({"_id": "x", "_source": {"text": "b"}}))
    df = sources.load_es_export(spark, str(p))
    plan = plan_of(df, "simple")
    assert "Exchange" not in plan and "BatchEvalPython" not in plan
    assert df.schema["text"].dataType.simpleString() == "string"
    assert df.schema["created"].dataType.simpleString() == "timestamp"
