"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an operator from SURVEY.md §2 (ids in the
names: F=filters, G=aggregations, J=joins, T=top-k, U=set ops, plus the
training-data ops). The matching ``oracle_sql()`` runs in DuckDB over
the same parquet views; the ``transcripts`` table is derived in-query
from ``documents`` by the exact SQL both engines share
(newsleak_spark/transcripts.py), so parity is by construction.

Ordering is deliberate (_GATE_PRIORITY): the external gate records the
first 50 entries, so new/changed operators and every engine row sit in
that window; unchanged entries that were driver-green in an earlier
round follow after it (all entries stay covered by
tools/check_oracle.py locally regardless of position).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from newsleak_spark.analysis import STANDARD_TOKEN_RE
from newsleak_spark.indexing import IndexConfig, build_index
from newsleak_spark.indexing.manifest import config_hash
from newsleak_spark.query import QuerySpec, bm25_topk, bm25_topk_oracle_sql
from newsleak_spark.query.engine import search
from newsleak_spark.transcripts import load_transcripts, transcripts_sql
from newsleak_spark import facets
from newsleak_spark import textops
from newsleak_spark import similarity
from newsleak_spark import curation
from newsleak_spark import events
from newsleak_spark import multimodal
from newsleak_spark import sources
from newsleak_spark import annotate
from newsleak_spark.analysis import analyze
from newsleak_spark.query.spec import parse_query_string, parse_time_range

_PRELUDE = f"WITH transcripts AS ({transcripts_sql('duckdb')}),\n"
_TOKS = (
    "toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), "
    f"'{STANDARD_TOKEN_RE}')) AS term FROM transcripts),\n"
)

# The driver's correctness gate records the FIRST 50 queries() entries
# (insertion order); the registry is larger (every entry is swept
# locally by tools/check_oracle.py at sf0.01 and sf0.1). This priority
# list packs the window: every engine row, one brute representative
# per query shape, and every op new or changed this round. Round-5
# rotation (VERDICT r4 item 4): f1_bm25_phrase_hot — the last
# never-driver-verified entry, the brute twin of the driver-green
# e1_engine_phrase_hot — enters the window; ngram_counts (driver-green
# r2+r3+r4, with decontaminate/redact_terms/domain_mix/
# stratified_sample siblings staying in-window) leaves it. The
# driver-local engine row e6_engine_local_and enters the window;
# ev_asof_join (driver-green r2-r5, unchanged) leaves it. The two
# index-counted aggregation rows (e7_index_facet_filtered,
# e7_index_timeline_year) enter the window; s2_es_source and
# s7_metadata_csv (driver-green, unchanged) leave it. Entries not
# listed follow in registration order; each is driver-green from an
# earlier round and unchanged.
_GATE_PRIORITY = [
    "e1_engine_single", "e1_engine_and", "e1_engine_phrase",
    "e1_engine_phrase_hot", "f1_bm25_phrase_hot",
    "e1_engine_filtered", "e1_engine_boost", "e1_engine_union",
    "e1_engine_not", "e1_engine_not_only", "e1_engine_union_not",
    "e1_engine_english",
    "e2_incremental_and", "e3_compacted_and",
    "e4_engine_facet", "e5_engine_hit_count", "e6_engine_local_and",
    "e7_index_facet_filtered", "e7_index_timeline_year",
    "f1_bm25_not", "f1_bm25_not_only", "f8_parsed_query",
    "a4_paragraphs",
    "a11_timex_tag", "a12_ner", "f6_timex_tagged",
    "f3_entity_extracted", "g4_entity_typed_facet",
    "u_set_algebra", "a9_keyterms",
    "dedup_exact", "dedup_minhash_lsh",
    "dedup_cluster", "dedup_corpus",
    "lang_id", "fingerprint",
    "ann_cosine_topk", "ann_lsh_topk", "ann_ivf_topk",
    "dedup_embedding_cosine", "dedup_embedding_lsh",
    "mm_metadata", "mm_decode_features", "mm_frame_sample",
    "ev_window_agg", "ev_sessionize",
    "decontaminate", "redact_terms", "domain_mix",
    "stratified_sample",
]


def _gate_order(d: dict) -> dict:
    out = {n: d[n] for n in _GATE_PRIORITY if n in d}
    out.update((n, v) for n, v in d.items() if n not in out)
    return out


_SPECS = {
    "f1_bm25_single": QuerySpec(terms=("spark",), k=20),
    "f1_bm25_and": QuerySpec(terms=("merge", "window"), k=20),
    "f1_bm25_phrase": QuerySpec(phrases=(("fast", "table"),), k=20),
    "f2_f5_bm25_filtered": QuerySpec(
        terms=("table",),
        role_filter=("user", "tool"),
        ts_from=dt.date(2018, 1, 1),
        ts_to=dt.date(2019, 12, 31),
        k=20,
    ),
    "f7_bm25_boost": QuerySpec(terms=("table",), boost_terms=("spark",), k=20),
    "f1_bm25_nohit": QuerySpec(terms=("zzznohitzzz",), k=10),
    "t1_matchall": QuerySpec(k=20),
    # F1 must_not: AND + exclusion, and a not-only (match_all minus) query
    "f1_bm25_not": QuerySpec(terms=("table",), not_terms=("join",), k=20),
    "f1_bm25_not_only": QuerySpec(not_terms=("table", "merge"), k=20),
    # a phrase of two TOP-CF terms at the gate scale (sf0.01): its
    # engine twin exercises the bigram-sidecar membership path (both
    # tokens in the top-8 extraction set), hash-verified against the
    # same position-aware brute oracle as any phrase
    "f1_bm25_phrase_hot": QuerySpec(phrases=(("customer", "join"),), k=20),
}

# F8: the user-facing string forms — query_string with a quoted phrase
# (auto-balanced quotes, ESRequestUtils.scala:299-302) and the 4-regex
# time-range grammar (DateUtils.scala:58-74) — compiled into a spec.
_F8_TERMS, _F8_PHRASES, _ = parse_query_string('table "fast table', analyzer=analyze)
_F8_FROM, _F8_TO = parse_time_range("2018-2019")
_SPECS["f8_parsed_query"] = QuerySpec(
    terms=_F8_TERMS, phrases=_F8_PHRASES, ts_from=_F8_FROM, ts_to=_F8_TO, k=20
)


def _bm25_query(spec: QuerySpec):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return bm25_topk(load_transcripts(spark, sf_dir), spec)

    return run


_ENGINE_CFG = IndexConfig()
# engine-backed variants of the same query set: built index (resumable,
# cached per sf dir + config hash under /tmp) + segment/WAND search.
# Each shares the oracle of its brute-force twin — the driver thereby
# verifies the REAL engine (segments + block-max scoring) against DuckDB.
_ENGINE_SPECS = {
    "e1_engine_single": "f1_bm25_single",
    "e1_engine_and": "f1_bm25_and",
    "e1_engine_phrase": "f1_bm25_phrase",
    "e1_engine_phrase_hot": "f1_bm25_phrase_hot",
    "e1_engine_filtered": "f2_f5_bm25_filtered",
    "e1_engine_boost": "f7_bm25_boost",
    "e1_engine_union": None,  # boost-only scored union → BMW path
    "e1_engine_not": "f1_bm25_not",
    "e1_engine_not_only": "f1_bm25_not_only",
}
_UNION_SPEC = QuerySpec(terms=(), boost_terms=("merge", "window"), k=20)
_E4_SPEC = QuerySpec(terms=("table",), role_filter=("user", "assistant"))
# index-counted aggregations (engine.count_by, the shard task's counts
# in the driver): a role- and time-filtered tool facet and a scored
# year timeline
_E7_FACET_SPEC = QuerySpec(
    terms=("table",), role_filter=("user", "tool"),
    ts_from=dt.date(2018, 1, 1), ts_to=dt.date(2019, 12, 31),
)
_E7_TIMELINE_SPEC = QuerySpec(terms=("merge",))
# F1 must_not ('-term', queryStringQuery syntax — ESRequestUtils.scala:304-307)
_NOT_UNION_SPEC = QuerySpec(boost_terms=("merge", "window"), not_terms=("filter",), k=20)


def _cache_tag(sf_dir: str) -> str:
    """sf tag + input-data fingerprint: regenerated fixture data at the
    same path can never be served a stale resumable index (ADVICE r3)."""
    from newsleak_spark.twins import data_fingerprint, sf_tag

    return f"{sf_tag(sf_dir)}_{data_fingerprint(sf_dir)}"


def _engine_index_dir(sf_dir: str) -> str:
    """The cached-index path _engine_index builds into — exported so
    bench.py clears the SAME dir for its fresh-build row (it derived
    the path itself once, which silently diverged when the cache key
    grew the data fingerprint)."""
    return f"/tmp/newsleak_index_{_cache_tag(sf_dir)}_{config_hash(_ENGINE_CFG.as_dict())}"


def _engine_inc_dir(sf_dir: str) -> str:
    return f"/tmp/newsleak_inc_{_cache_tag(sf_dir)}_{config_hash(_ENGINE_CFG.as_dict())}"


def _engine_index(spark: SparkSession, sf_dir: str) -> str:
    d = _engine_index_dir(sf_dir)
    build_index(spark, load_transcripts(spark, sf_dir), d, _ENGINE_CFG, resume=True)
    return d


def _engine_incremental_index(spark: SparkSession, sf_dir: str) -> str:
    """Base built from 2/3 of the turns, the rest appended as a delta —
    the query result must still hash-match the same full-collection
    oracle (combined stats reproduce exact BM25; tests/test_incremental)."""
    from newsleak_spark.indexing import append_index, list_deltas

    d = _engine_inc_dir(sf_dir)
    t = load_transcripts(spark, sf_dir)
    build_index(spark, t.filter(F.col("doc_id") % 3 != 0), d, _ENGINE_CFG, resume=True)
    if not list_deltas(d):
        append_index(spark, t.filter(F.col("doc_id") % 3 == 0), d, _ENGINE_CFG)
    return d


def _engine_query(spec: QuerySpec):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return search(spark, _engine_index(spark, sf_dir), spec)

    return run


def _engine_local_query(spec: QuerySpec):
    """The engine's shard task run in the driver for every shard (the
    getDocs path for small queries, no Spark job): its per-shard heaps
    merged and cut to k as getDocs merges them, then turned into a
    DataFrame for the gate."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from newsleak_spark.api import _merge_heaps
        from newsleak_spark.query import engine

        rd = engine.IndexReader(spark, _engine_index(spark, sf_dir))
        plan = engine._plan(rd, spec, truncate=True, count=False)
        rows = []
        if plan is not None:
            rows = engine.score_shards(plan, range(rd.n_shards), rd.part_datasets).to_pylist()
        merged = _merge_heaps(rows, spec.k)[0][: spec.k]
        return spark.createDataFrame(
            [(r["doc_id"], r["score_e6"]) for r in merged], "doc_id long, score_e6 long"
        )

    return run


# A1 end-to-end: the english analyzer chain (lowercase → possessive
# strip → stopword removal → Porter stem; the ES `english` analyzer
# contract, reference Postgres2ElasticsearchIndexer.java:97-136)
# through index build + engine search. DuckDB cannot Porter-stem, so
# the query materializes the PINNED analyzer's token stream to a
# parquet twin and the oracle scores that same stream with the shared
# BM25 SQL — the stemming itself is pinned by golden-token tests
# (tests/test_analysis.py); what the driver hash-verifies here is that
# the whole english-mode engine path (tokenize → build → WAND search)
# scores the pinned stream exactly. The twin path is keyed by sf tag
# (newsleak_spark.twins) so concurrent runs at different scales never
# clobber each other; the oracle renders against the gate scale unless
# NEWSLEAK_ORACLE_SF_TAG says otherwise.
_ENGLISH_CFG = IndexConfig(mode="english")


def _english_twin_path(tag: str) -> str:
    from newsleak_spark.twins import twin_path

    return twin_path("newsleak_spark_english_twin", tag)
# natural-form query words; both stem ("tables"→"tabl", "merging"→"merg")
# so the row fails if stemming breaks on either the query or index side
_ENGLISH_TERMS = tuple(analyze("tables merging", "english"))
_ENGLISH_SPEC = QuerySpec(terms=_ENGLISH_TERMS, k=20)


def _ensure_english_twin(spark: SparkSession, sf_dir: str) -> None:
    """Materialize the english-analyzed token twin for sf_dir. A
    marker file guards the write: rewrite only when the last write was
    for a different analyzer version or input-data fingerprint (bench
    reruns then time the engine query, not the oracle scaffolding)."""
    import os

    from newsleak_spark.analysis import ANALYZER_VERSION, tokens_col
    from newsleak_spark.twins import data_fingerprint, sf_tag

    tag = sf_tag(sf_dir)
    path = _english_twin_path(tag)
    marker = path + ".src"
    want = f"{tag}:{ANALYZER_VERSION}:{data_fingerprint(sf_dir)}"
    have = None
    if os.path.exists(marker):
        with open(marker) as fh:
            have = fh.read().strip()
    if have != want:
        load_transcripts(spark, sf_dir).select(
            "doc_id", F.explode(tokens_col(F.col("text"), "english")).alias("term")
        ).write.mode("overwrite").parquet(path)
        with open(marker, "w") as fh:
            fh.write(want)


def _e1_engine_english(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ensure_english_twin(spark, sf_dir)
    t = load_transcripts(spark, sf_dir)
    d = f"/tmp/newsleak_index_en_{_cache_tag(sf_dir)}_{config_hash(_ENGLISH_CFG.as_dict())}"
    build_index(spark, t, d, _ENGLISH_CFG, resume=True)
    return search(spark, d, _ENGLISH_SPEC)


def _english_oracle_sql() -> str:
    from newsleak_spark.query.brute import B, K1
    from newsleak_spark.twins import oracle_sf_tag

    twin = _english_twin_path(oracle_sf_tag())
    qvals = ", ".join(f"('{t}', 1)" for t in _ENGLISH_TERMS)
    return f"""WITH transcripts AS ({transcripts_sql('duckdb')}),
tw AS (SELECT doc_id, term FROM read_parquet('{twin}/*.parquet')),
dl AS (
  SELECT t.doc_id, CAST(COALESCE(c.n, 0) AS DOUBLE) AS dl
  FROM transcripts t
  LEFT JOIN (SELECT doc_id, COUNT(*) AS n FROM tw GROUP BY 1) c USING (doc_id)
),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         SUM(dl) / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM dl
),
postings AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM tw GROUP BY 1, 2),
q(term, required) AS (VALUES {qvals}),
dfreq AS (
  SELECT p.term, CAST(COUNT(*) AS DOUBLE) AS df
  FROM postings p JOIN q USING (term) GROUP BY 1
),
scored AS (
  SELECT p.doc_id,
         SUM( ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
              * p.tf * {K1 + 1.0} / (p.tf + {K1} * (1.0 - {B} + {B} * d.dl / s.avgdl)) ) AS score,
         SUM(q.required) AS nreq
  FROM postings p
  JOIN q USING (term)
  JOIN dfreq f ON f.term = p.term
  JOIN dl d ON d.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY 1
)
SELECT doc_id, CAST(ROUND(score * 1000000) AS BIGINT) AS score_e6
FROM scored WHERE nreq = {len(_ENGLISH_TERMS)}
ORDER BY score_e6 DESC, doc_id ASC
LIMIT {_ENGLISH_SPEC.k}"""


def _transcripts_q(fn):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(load_transcripts(spark, sf_dir))

    return run


def _doc_postings(t: DataFrame) -> DataFrame:
    from newsleak_spark.analysis import tokens_col

    return (
        t.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: two-term AND BM25 top-k."""
    # gate-ordering insurance: the smoke check runs before the
    # correctness gate, so pre-materialize the english oracle twin for
    # the gate scale in case the driver evaluates an oracle before its
    # query (a few seconds; marker-guarded no-op afterwards)
    try:
        from newsleak_spark.twins import GATE_SF_DIR

        _ensure_english_twin(spark, GATE_SF_DIR)
    except Exception:
        # never fail the smoke check over oracle scaffolding — but say
        # why it failed so a gate false-negative is diagnosable
        import traceback

        traceback.print_exc()
    t = load_transcripts(spark, "/root/testdata/sf0.001")
    return bm25_topk(t, _SPECS["f1_bm25_and"])


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name, spec in _SPECS.items():
        q[name] = _bm25_query(spec)
    for ename, ref in _ENGINE_SPECS.items():
        q[ename] = _engine_query(_SPECS[ref] if ref else _UNION_SPEC)
    # must_not on the scored-union (BMW) path: exclusion must apply
    # inside the union loop, not post-hoc (θ correctness)
    q["e1_engine_union_not"] = _engine_query(_NOT_UNION_SPEC)

    def _inc_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        return search(spark, _engine_incremental_index(spark, sf_dir), _SPECS["f1_bm25_and"])

    q["e2_incremental_and"] = _inc_query

    # compaction path: base+delta folded into one part (postings-level
    # merge, no re-tokenize) must still hash-match the full-collection
    # oracle — the maintenance job verified by the driver end-to-end
    def _compacted_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        from newsleak_spark.indexing import compact_index

        base = _engine_incremental_index(spark, sf_dir)
        d = base + "_compacted"
        compact_index(spark, base, d)  # manifest-gated: no-op once built
        return search(spark, d, _SPECS["f1_bm25_and"])

    q["e3_compacted_and"] = _compacted_query
    q["e6_engine_local_and"] = _engine_local_query(_SPECS["f1_bm25_and"])
    q["e1_engine_english"] = _e1_engine_english

    # index-accelerated aggregation path (engine.matching_doc_ids):
    # facet + hit count over the doc set matching a query, doc ids from
    # posting intersection (no text re-tokenization) — oracle is plain
    # SQL over the same membership predicate
    def _e4_engine_facet(spark: SparkSession, sf_dir: str) -> DataFrame:
        from newsleak_spark.query.engine import matching_doc_ids

        ids = matching_doc_ids(spark, _engine_index(spark, sf_dir), _E4_SPEC)
        m = load_transcripts(spark, sf_dir).join(ids, "doc_id", "left_semi")
        return facets.facet_counts(m, "role", k=50)

    def _e5_engine_hit_count(spark: SparkSession, sf_dir: str) -> DataFrame:
        from newsleak_spark.query.engine import matching_doc_ids

        ids = matching_doc_ids(spark, _engine_index(spark, sf_dir), _E4_SPEC)
        return ids.agg(F.count("*").alias("n_hits"))

    q["e4_engine_facet"] = _e4_engine_facet
    q["e5_engine_hit_count"] = _e5_engine_hit_count

    # the same aggregations counted in the shard task over docmeta
    # (engine.count_by), merged by facets.top_values / dense_buckets —
    # no semi-join, no Spark job; oracles scan the table
    def _e7_index_facet_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
        from newsleak_spark.query.engine import count_by

        counts = count_by(spark, _engine_index(spark, sf_dir), _E7_FACET_SPEC, "tool")
        return spark.createDataFrame(facets.top_values(counts, 50), "value string, n_docs long")

    def _e7_index_timeline_year(spark: SparkSession, sf_dir: str) -> DataFrame:
        from newsleak_spark.query.engine import count_by

        counts = count_by(spark, _engine_index(spark, sf_dir), _E7_TIMELINE_SPEC, "ts", "year")
        return spark.createDataFrame(facets.dense_buckets(counts, "year"), "bucket string, n_docs long")

    q["e7_index_facet_filtered"] = _e7_index_facet_filtered
    q["e7_index_timeline_year"] = _e7_index_timeline_year

    q["g1_facet_role"] = _transcripts_q(lambda t: facets.facet_counts(t, "role", k=50))
    q["g1_facet_tool_include"] = _transcripts_q(
        lambda t: facets.facet_counts(t, "tool", k=50, include=["tool_0", "tool_1", "tool_99"])
    )
    q["g5_cardinality_tool"] = _transcripts_q(lambda t: facets.cardinality(t, "tool"))
    # ES's cardinality agg is HLL-approximate (NetworkService.scala:204-223);
    # this is that scale path — no SQL oracle (rows-only check), the exact
    # twin above is the hash-verified one
    q["g5_cardinality_approx"] = _transcripts_q(
        lambda t: facets.cardinality(t, "tool", exact=False)
    )
    q["g6_histogram_month"] = _transcripts_q(lambda t: facets.date_histogram(t, "month"))
    q["g6_histogram_year"] = _transcripts_q(lambda t: facets.date_histogram(t, "year"))
    q["g8_decade"] = _transcripts_q(facets.decade_histogram)
    q["g7_date_bounds"] = _transcripts_q(facets.date_bounds)
    q["g9_hit_count_filtered"] = _transcripts_q(
        lambda t: facets.hit_count(t.filter(F.col("role") == "assistant"))
    )
    q["j6_tool_network"] = _transcripts_q(facets.tool_network)
    q["t5_top_terms_per_doc"] = _transcripts_q(
        lambda t: facets.top_terms_per_doc(_doc_postings(t.filter(F.col("doc_id") < 50)), n=3)
    )
    q["g10_doc_tf"] = _transcripts_q(
        lambda t: _doc_postings(t.filter(F.col("doc_id") < 20)).orderBy("doc_id", "term")
    )
    q["g11_term_stats"] = _transcripts_q(
        lambda t: t.select(F.explode(F.regexp_extract_all(F.lower("text"), F.lit(STANDARD_TOKEN_RE), 0)).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cf"))
        .orderBy(F.desc("cf"), F.asc("term"))
        .limit(50)
    )
    # reference query-side parity ops (F9-F11, G2-G4, T2, U, J1/J3/J4, A9)
    q.update(curation.queries())
    # training-data ops (documents/embeddings tables) + multimodal plumbing
    q.update(textops.queries())
    q.update(similarity.queries())
    q.update(multimodal.queries())
    # event-time stream idioms over the events table (windows, sessions, JSON)
    q.update(events.queries())
    # external-ingest sources (S2 ES export, S7 metadata CSV), physical round-trip
    q.update(sources.queries())
    # A11 temporal tagging / A12 NER rule annotators (+ F6 over A11 output)
    q.update(annotate.queries())
    return _gate_order(q)


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}
    for name, spec in _SPECS.items():
        o[name] = bm25_topk_oracle_sql(spec)
    for ename, ref in _ENGINE_SPECS.items():
        o[ename] = bm25_topk_oracle_sql(_SPECS[ref] if ref else _UNION_SPEC)
    o["e1_engine_union_not"] = bm25_topk_oracle_sql(_NOT_UNION_SPEC)
    o["e2_incremental_and"] = bm25_topk_oracle_sql(_SPECS["f1_bm25_and"])
    o["e3_compacted_and"] = bm25_topk_oracle_sql(_SPECS["f1_bm25_and"])
    o["e6_engine_local_and"] = bm25_topk_oracle_sql(_SPECS["f1_bm25_and"])
    o["e1_engine_english"] = _english_oracle_sql()

    e4_where = (
        "list_contains(regexp_extract_all(lower(text), "
        f"'{STANDARD_TOKEN_RE}'), 'table') AND role IN ('user', 'assistant')"
    )
    o["e4_engine_facet"] = (
        _PRELUDE
        + f"m AS (SELECT role FROM transcripts WHERE {e4_where})\n"
        + "SELECT role AS value, COUNT(*) AS n_docs FROM m GROUP BY role\n"
        + "ORDER BY n_docs DESC, value ASC LIMIT 50"
    )
    o["e5_engine_hit_count"] = (
        _PRELUDE.rstrip(",\n")
        + f"\nSELECT COUNT(*) AS n_hits FROM transcripts WHERE {e4_where}"
    )

    e7_where = (
        "list_contains(regexp_extract_all(lower(text), "
        f"'{STANDARD_TOKEN_RE}'), 'table') AND role IN ('user', 'tool')"
        " AND CAST(ts AS DATE) >= DATE '2018-01-01' AND CAST(ts AS DATE) <= DATE '2019-12-31'"
    )
    o["e7_index_facet_filtered"] = (
        _PRELUDE
        + f"m AS (SELECT tool FROM transcripts WHERE {e7_where} AND tool IS NOT NULL)\n"
        + "SELECT tool AS value, COUNT(*) AS n_docs FROM m GROUP BY tool\n"
        + "ORDER BY n_docs DESC, value ASC LIMIT 50"
    )
    o["e7_index_timeline_year"] = (
        _PRELUDE
        + "m AS (SELECT ts FROM transcripts WHERE list_contains(regexp_extract_all(lower(text), "
        + f"'{STANDARD_TOKEN_RE}'), 'merge')),\n"
        + "counts AS (SELECT CAST(date_trunc('year', ts) AS DATE) AS bucket_d, COUNT(*) AS n\n"
        + "           FROM m GROUP BY 1),\n"
        + "bounds AS (SELECT CAST(date_trunc('year', MIN(ts)) AS DATE) AS lo,\n"
        + "                  CAST(date_trunc('year', MAX(ts)) AS DATE) AS hi FROM m),\n"
        + "spine AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 YEAR)) AS DATE) AS bucket_d FROM bounds)\n"
        + "SELECT strftime(bucket_d, '%Y') AS bucket, COALESCE(n, 0) AS n_docs\n"
        + "FROM spine LEFT JOIN counts USING (bucket_d) ORDER BY bucket"
    )

    o["g1_facet_role"] = (
        _PRELUDE
        + "agg AS (SELECT role AS value, COUNT(*) AS n_docs FROM transcripts GROUP BY role)\n"
        + "SELECT value, n_docs FROM agg ORDER BY n_docs DESC, value ASC LIMIT 50"
    )
    o["g1_facet_tool_include"] = (
        _PRELUDE
        + "inc(value) AS (VALUES ('tool_0'), ('tool_1'), ('tool_99')),\n"
        + "agg AS (SELECT tool AS value, COUNT(*) AS n FROM transcripts\n"
        + "        WHERE tool IN ('tool_0','tool_1','tool_99') GROUP BY tool)\n"
        + "SELECT inc.value, COALESCE(n, 0) AS n_docs FROM inc LEFT JOIN agg USING (value)\n"
        + "ORDER BY n_docs DESC, value ASC LIMIT 50"
    )
    o["g5_cardinality_tool"] = (
        _PRELUDE.rstrip(",\n")
        + "\nSELECT COUNT(DISTINCT tool) AS n_distinct FROM transcripts"
    )
    o["g6_histogram_month"] = (
        _PRELUDE
        + "counts AS (SELECT CAST(date_trunc('month', ts) AS DATE) AS bucket_d, COUNT(*) AS n\n"
        + "           FROM transcripts GROUP BY 1),\n"
        + "bounds AS (SELECT CAST(date_trunc('month', MIN(ts)) AS DATE) AS lo,\n"
        + "                  CAST(date_trunc('month', MAX(ts)) AS DATE) AS hi FROM transcripts),\n"
        + "spine AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS DATE) AS bucket_d FROM bounds)\n"
        + "SELECT strftime(bucket_d, '%Y-%m') AS bucket, COALESCE(n, 0) AS n_docs\n"
        + "FROM spine LEFT JOIN counts USING (bucket_d) ORDER BY bucket"
    )
    o["g6_histogram_year"] = (
        _PRELUDE
        + "counts AS (SELECT CAST(date_trunc('year', ts) AS DATE) AS bucket_d, COUNT(*) AS n\n"
        + "           FROM transcripts GROUP BY 1),\n"
        + "bounds AS (SELECT CAST(date_trunc('year', MIN(ts)) AS DATE) AS lo,\n"
        + "                  CAST(date_trunc('year', MAX(ts)) AS DATE) AS hi FROM transcripts),\n"
        + "spine AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 YEAR)) AS DATE) AS bucket_d FROM bounds)\n"
        + "SELECT strftime(bucket_d, '%Y') AS bucket, COALESCE(n, 0) AS n_docs\n"
        + "FROM spine LEFT JOIN counts USING (bucket_d) ORDER BY bucket"
    )
    o["g8_decade"] = (
        _PRELUDE
        + "counts AS (SELECT CAST(FLOOR(year(ts) / 10) * 10 AS INT) AS decade, COUNT(*) AS n\n"
        + "           FROM transcripts GROUP BY 1),\n"
        + "bounds AS (SELECT CAST(FLOOR(year(MIN(ts)) / 10) * 10 AS INT) AS lo,\n"
        + "                  CAST(FLOOR(year(MAX(ts)) / 10) * 10 AS INT) AS hi FROM transcripts),\n"
        + "spine AS (SELECT CAST(unnest(generate_series(lo, hi, 10)) AS INT) AS decade FROM bounds)\n"
        + "SELECT decade, COALESCE(n, 0) AS n_docs FROM spine LEFT JOIN counts USING (decade) ORDER BY decade"
    )
    o["g7_date_bounds"] = (
        _PRELUDE.rstrip(",\n")
        + "\nSELECT CAST(CAST(MIN(ts) AS DATE) AS VARCHAR) AS min_d,\n"
        + "       CAST(CAST(MAX(ts) AS DATE) AS VARCHAR) AS max_d FROM transcripts"
    )
    o["g9_hit_count_filtered"] = (
        _PRELUDE.rstrip(",\n")
        + "\nSELECT COUNT(*) AS n_hits FROM transcripts WHERE role = 'assistant'"
    )
    o["j6_tool_network"] = (
        _PRELUDE
        + "d AS (SELECT DISTINCT conv_id AS g, tool AS v FROM transcripts WHERE tool IS NOT NULL)\n"
        + "SELECT a.v AS source, b.v AS target, COUNT(*) AS weight\n"
        + "FROM d a JOIN d b ON a.g = b.g AND a.v < b.v\n"
        + "GROUP BY 1, 2 HAVING COUNT(*) >= 1\n"
        + "ORDER BY weight DESC, source ASC, target ASC LIMIT 1000"
    )
    o["t5_top_terms_per_doc"] = (
        _PRELUDE
        + _TOKS
        + "postings AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE doc_id < 50 GROUP BY 1, 2),\n"
        + "r AS (SELECT doc_id, term, tf,\n"
        + "             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tf DESC, term ASC) AS rank\n"
        + "      FROM postings)\n"
        + "SELECT doc_id, term, tf, rank FROM r WHERE rank <= 3"
    )
    o["g10_doc_tf"] = (
        _PRELUDE
        + _TOKS.rstrip(",\n")
        + "\nSELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE doc_id < 20\n"
        + "GROUP BY doc_id, term ORDER BY doc_id, term"
    )
    o["g11_term_stats"] = (
        _PRELUDE
        + _TOKS.rstrip(",\n")
        + "\nSELECT term, COUNT(*) AS cf FROM toks GROUP BY term\n"
        + "ORDER BY cf DESC, term ASC LIMIT 50"
    )
    o.update(curation.oracle_sql())
    o.update(textops.oracle_sql())
    o.update(similarity.oracle_sql())
    o.update(multimodal.oracle_sql())
    o.update(events.oracle_sql())
    o.update(sources.oracle_sql())
    o.update(annotate.oracle_sql())
    return _gate_order(o)
