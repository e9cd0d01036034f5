"""Serving-layer API — the controller surface of the reference.

Maps newsleak's three user-facing entry points (plus the facet
endpoint) 1:1 onto the engine, so a user of the reference's HTTP API
finds the same request/response shapes here (citations into
/root/reference/):

  get_docs         GET /getDocs    DocumentController.scala:276-346
                   (ranked top-k + pagination + whole-doc highlighting
                   + metadata enrichment; a small query is ranked in
                   the driver and a page's bodies are a doc_id lookup
                   in the driver's row-group cache, so a page costs no
                   Spark job)
  induce_subgraph  GET /induceSubgraph  NetworkController →
                   NetworkService.scala:136-175 — node facet + ALL
                   edges in one self-join job instead of O(n²)
                   sequential per-pair requests
  get_timeline     GET /getTimeline  HistogramController.scala:49-66,
                   TimelineService.scala:91-151 (LoD buckets, dense)
  aggregate        GET /getAggregate  MetadataController/
                   AggregateService.scala:195-226 (terms facet with
                   include/exclude + zero-fill)

Request parsing reuses the F8 grammars (query_string with quoted
phrases, 4-regex time ranges); the doc-set filter for aggregation
endpoints carries the same bool-query semantics the reference applies
to every aggregation request. With an index attached, a role/tool
facet, a timeline or a subgraph's nodes of ANY spec are counted from
the index (engine.count_by: each shard counts its matched docs over
its docmeta, in the driver for a small plan, so no Spark job), and a
subgraph's edges or a facet on another column semi-join the table
with the index's doc set
(engine.matching_doc_ids; no text re-tokenization); without an index
query/brute.matching_docs scans the table. So an aggregation with an
index attached describes the indexed collection, as getDocs and the
reference's ES aggregations do. Results are plain Python dicts (the
JSON the controllers emit); every .collect() here is bounded by
page/facet size, never by collection size.
"""

from __future__ import annotations

import re
import threading
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from newsleak_spark import facets as facets_mod
from newsleak_spark.analysis import WORD_RE, analyze
from newsleak_spark.query.brute import bm25_topk, matching_docs
from newsleak_spark.query.engine import (
    META_FACETS,
    count_by,
    index_state_key,
    matching_doc_ids,
    ranked_heaps,
)
from newsleak_spark.query.rowcache import Source, open_source, read_rows
from newsleak_spark.query.spec import QuerySpec, parse_query_string, parse_time_range

DEFAULT_PAGE_SIZE = 50  # DocumentController.scala:47

# the table columns a getDocs page reads
_BODY_COLUMNS = ("doc_id", "conv_id", "turn_idx", "role", "text", "tool", "ts")
_STANDARD_TERM_RE = re.compile(r"[0-9a-z]+")


def _highlight(bodies: list[str], targets: set[str], mode: str) -> list[str]:
    """Each of a page's ``bodies`` with every surface word whose
    ANALYZED form is a query term wrapped in <em> tags — what the ES
    highlighter does by re-analyzing the field. One compiled scan per
    page; Python runs only on hits.

    standard: a surface word ([0-9A-Za-z][0-9A-Za-z'’]*) analyzes to
    its apostrophe-separated runs, lowercased, so it highlights exactly
    when one of its runs, case-folded, is a term: the scan anchors at a
    word start (leading apostrophes stay outside the tags), skips whole
    runs, and needs a term that ends its run. english: each distinct
    word of the page (analysis.WORD_RE) is analyzed once (a word can
    analyze to several tokens, "o'brien" → o, brien), and the scan
    wraps the words that hit."""
    if mode == "english":
        words = {w for b in bodies if b for w in WORD_RE.findall(b)}
        hits = [w for w in words if any(t in targets for t in analyze(w, mode))]
        if not hits:
            return list(bodies)
        alts = "|".join(map(re.escape, sorted(hits, key=lambda w: (-len(w), w))))
        scan = re.compile(rf"(?<![\w’'])(?:{alts})(?![\w’'])")
        return [scan.sub(r"<em>\g<0></em>", b) if b else b for b in bodies]
    terms = sorted((t for t in targets if _STANDARD_TERM_RE.fullmatch(t)), key=lambda t: (-len(t), t))
    if not terms:
        return list(bodies)
    scan = re.compile(
        r"(?<![0-9A-Za-z'’])(['’]*)((?:[0-9A-Za-z][0-9A-Za-z'’]*['’])?"
        rf"(?i:{'|'.join(terms)})(?![0-9A-Za-z])[0-9A-Za-z'’]*)",
        re.ASCII,
    )
    return [scan.sub(r"\1<em>\2</em>", b) if b else b for b in bodies]


def compile_spec(
    query: str = "",
    time_range: str | None = None,
    roles: tuple[str, ...] = (),
    tools: tuple[str, ...] = (),
    k: int = DEFAULT_PAGE_SIZE,
    mode: str = "standard",
) -> QuerySpec:
    """Request params → QuerySpec (the Facets binder analog)."""
    terms, phrases, not_terms = parse_query_string(
        query, analyzer=lambda s: analyze(s, mode)
    )
    ts_from = ts_to = None
    if time_range:
        ts_from, ts_to = parse_time_range(time_range)
    return QuerySpec(
        terms=terms, phrases=phrases, not_terms=not_terms,
        role_filter=tuple(roles), tool_filter=tuple(tools),
        ts_from=ts_from, ts_to=ts_to, k=k,
    )


def _merge_heaps(hrows: list, k: int) -> tuple[list, float, int]:
    """Merge collected per-shard heap rows (shard, doc_id, score_e6,
    hits) into the global ranking, the rank through which it is exact
    and the total hit count (the sum of each shard's ``hits``; a shard
    with no match returned no rows and counts 0).

    A doc a TRUNCATED shard (one that returned exactly k rows) did not
    return ranks strictly after that shard's weakest returned key, so
    the merge is exact through every position whose key sorts <= the
    minimum truncated-shard boundary key; with no truncated shard the
    heaps are exhaustive and the whole merge is exact."""
    per_shard: dict[int, int] = {}
    boundary: dict[int, tuple[int, int]] = {}
    hits: dict[int, int] = {}
    for r in hrows:
        s = r["shard"]
        per_shard[s] = per_shard.get(s, 0) + 1
        hits[s] = r["hits"]
        key = (-r["score_e6"], r["doc_id"])
        if s not in boundary or key > boundary[s]:
            boundary[s] = key
    merged = sorted(hrows, key=lambda r: (-r["score_e6"], r["doc_id"]))
    total = sum(hits.values())
    truncated = [boundary[s] for s, n in per_shard.items() if n >= k]
    if not truncated:
        return merged, float("inf"), total
    cut = min(truncated)
    safe_rank = sum(1 for r in merged if (-r["score_e6"], r["doc_id"]) <= cut)
    return merged, safe_rank, total


def _parquet_dataset(df: DataFrame) -> Source | None:
    """The cached-read Source of a pyarrow dataset over exactly the
    files Spark scans for ``df`` when its analyzed plan is a bare,
    unpartitioned parquet relation (``inputFiles()`` is then that scan's
    file snapshot); None for any other plan (filtered, projected,
    DataSource V2, Iceberg, ...)."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    rel = plan.relation()
    if not (
        rel.getClass().getSimpleName() == "HadoopFsRelation"
        and rel.fileFormat().getClass().getSimpleName() == "ParquetFileFormat"
        and rel.partitionSchema().isEmpty()
    ):
        return None
    files = df.inputFiles()
    if not files:
        return None
    import pyarrow.dataset as ds
    import pyarrow.fs as pafs

    fs = pafs.FileSystem.from_uri(files[0])[0]
    return open_source(ds.dataset(
        [pafs.FileSystem.from_uri(f)[1] for f in files], format="parquet", filesystem=fs
    ))


def _bad_request(e: ValueError) -> dict:
    """F8 fail-closed parse errors surface as a structured 400 at the
    API boundary (the controller's BadRequest analog) instead of an
    uncaught exception from a raw user query string."""
    return {"status": 400, "error": str(e)}


class NewsleakAPI:
    """One handle = one collection: the transcripts table plus (when
    built) its segment index. ``index_dir=None`` degrades every ranked
    query to the brute DataFrame path (same results, no index)."""

    # Bounded FIFO cache of collected ranked hits per normalized query
    # (the reference caches its SearchHitIterator by the query's
    # Facets hash across paginated requests,
    # DocumentController.scala:284-287). On the indexed path the cache
    # holds the MERGED PER-SHARD HEAPS, the rank through which that
    # merge is provably exact and the total hit count once a request
    # asked for it, so pages 2..n are driver-side slices — the
    # SearchHitIterator.scala:43-58 cursor semantics without the
    # O(k·pages) growing-k re-run the round-3 pager paid.
    HIT_CACHE_MAX = 32
    # Bounded FIFO cache of aggregation results (facet/timeline/
    # network), keyed like the hit cache on (request, index state).
    # The reference enables the ES request cache for every aggregation
    # (ESRequestUtils.scala:68) EXCEPT timelines
    # (TimelineService.scala:140, a date-math staleness concern);
    # here the index-state mtime in the key makes timeline caching
    # safe too, so all three endpoints cache. Only active when an
    # index is attached — the brute path's input DataFrame carries no
    # invalidation signal.
    AGG_CACHE_MAX = 64

    def __init__(
        self,
        spark: SparkSession,
        transcripts: DataFrame,
        index_dir: str | None = None,
        mode: str = "standard",
    ):
        self.spark = spark
        self.transcripts = transcripts
        self.index_dir = index_dir
        self.mode = mode
        self._hit_cache: dict[tuple, tuple[list, float, int | None]] = {}
        self._agg_cache: dict[tuple, dict] = {}
        # (transcripts, its parquet dataset | None, ts type): the body
        # fetch source, reopened when self.transcripts is replaced
        self._bodies: tuple | None = None
        self.topk_runs = 0  # observability: ranked scans actually executed
        self.agg_runs = 0  # observability: aggregation jobs actually executed
        # concurrent requests share one handle: the lock guards cache
        # lookup/insert/evict, the counters and the body-source swap,
        # never a Spark job
        self._lock = threading.Lock()

    # -- GET /getDocs -----------------------------------------------------

    def get_docs(
        self,
        query: str = "",
        time_range: str | None = None,
        roles: tuple[str, ...] = (),
        tools: tuple[str, ...] = (),
        page: int = 1,
        page_size: int = DEFAULT_PAGE_SIZE,
        highlight: bool = True,
        with_total: bool = True,
    ) -> dict:
        """Ranked page of documents with highlighting + metadata.

        Pagination = top-(page·size) then slice (T2: SearchHitIterator
        re-issues with from=consumed; one growing top-k is the
        distributed equivalent). Highlight: whole doc, <em> tags
        (DocumentService.scala:406-418) — ES-faithful ANALYZED-term
        matching: a surface word is highlighted when its analyzed form
        is a query term, so english-mode 'databases' highlights for the
        stem query 'databas'. Runs driver-side over the <= page_size
        returned bodies only, which come from _fetch (a pyarrow read
        of the table's files when it is a bare parquet scan).
        ``with_total``: on the indexed path the total is counted in the
        same per-shard scoring that ranks the page
        (engine.ranked_heaps(count=True)) — one pass for page and
        total, in the driver for a small query, the total cached with
        the heaps; the brute fallback pays one matching_docs scan.
        ``drift``: ranked ids missing from the table (stale index or
        filtered table), skipped from the page and reported here."""
        if page < 1 or page_size < 1:
            return _bad_request(
                ValueError(f"page={page}, page_size={page_size}: both must be >= 1")
            )
        try:
            spec = compile_spec(query, time_range, roles, tools, k=page * page_size, mode=self.mode)
        except ValueError as e:
            return _bad_request(e)
        # boost (should) terms highlight too — the ES highlighter wraps
        # every query term incl. should clauses (DocumentService.scala:406-418)
        targets = set(spec.all_scored_terms()) | set(spec.boost_terms)
        rows, total = self._ranked_rows(spec, with_total)
        rows = rows[(page - 1) * page_size :]
        ids = [r["doc_id"] for r in rows]
        scores = {r["doc_id"]: r["score_e6"] / 1e6 for r in rows}
        # rank order; ids missing from the table (index/table drift: a
        # stale index or a filtered table) are skipped, not fatal
        by_id = self._fetch(ids) if ids else {}
        found = [by_id[did] for did in ids if did in by_id]
        drift = len(ids) - len(found)
        texts = [r["text"] for r in found]
        marked = _highlight(texts, targets, self.mode) if highlight and targets else texts
        docs = [
            {
                "id": r["doc_id"],
                "score": scores[r["doc_id"]],
                "content": r["text"],
                "highlighted": h,
                "metadata": {
                    "conv_id": r["conv_id"],
                    "turn_idx": r["turn_idx"],
                    "role": r["role"],
                    "tool": r["tool"],
                    "ts": str(r["ts"]),
                },
            }
            for r, h in zip(found, marked)
        ]
        if with_total and total is None:
            total = matching_docs(self.transcripts, spec, self.mode).count()
        return {"hits": total, "page": page, "docs": docs, "drift": drift}

    # -- GET /induceSubgraph ----------------------------------------------

    def induce_subgraph(
        self,
        query: str = "",
        time_range: str | None = None,
        n_nodes: int = 10,
        min_edge: int = 1,
    ) -> dict:
        """Top tool nodes over the filtered doc set (_facet_rows: from
        the index when one is attached) + every pairwise edge in ONE
        self-join job over the table's rows of that doc set (vs the
        reference's O(n²) sequential include-filtered aggregations,
        NetworkService.scala:152-175)."""
        if n_nodes < 1:
            return _bad_request(ValueError(f"n_nodes={n_nodes}: must be >= 1"))
        try:
            spec = compile_spec(query, time_range, mode=self.mode)
        except ValueError as e:
            return _bad_request(e)

        def compute() -> dict:
            nodes = self._facet_rows(spec, "tool", n_nodes)
            edges = []
            if nodes:
                pairs = self._matching(spec).filter(F.col("tool").isin([v for v, _n in nodes]))
                edges = facets_mod.cooccurrence(
                    pairs.select("conv_id", "tool"), "conv_id", "tool", min_count=min_edge
                ).collect()
            return {
                "nodes": [{"id": v, "occurrence": n} for v, n in nodes],
                "relationships": [
                    {"source": r["source"], "target": r["target"], "weight": r["weight"]}
                    for r in edges
                ],
            }

        return self._agg_cached(
            ("subgraph", replace(spec, k=0).cache_key(), n_nodes, min_edge),
            compute,
            spec,
        )

    # -- GET /getTimeline ---------------------------------------------------

    def get_timeline(
        self, query: str = "", time_range: str | None = None, lod: str = "month"
    ) -> dict:
        """Dense date-histogram buckets at the LoD (decade|year|month|day)
        in the session time zone; with an index attached, counted from
        the index's docmeta (engine.count_by)."""
        if lod not in facets_mod.LODS:
            return _bad_request(ValueError(f"lod={lod!r}: must be one of {facets_mod.LODS}"))
        try:
            spec = compile_spec(query, time_range, mode=self.mode)
        except ValueError as e:
            return _bad_request(e)

        def compute() -> dict:
            if self.index_dir is not None:
                counts = count_by(self.spark, self.index_dir, spec, "ts", lod)
                rows = facets_mod.dense_buckets(counts, lod)
            else:
                key = "decade" if lod == "decade" else "bucket"
                hist = facets_mod.date_histogram(self._matching(spec), lod).collect()
                rows = [(str(r[key]), r["n_docs"]) for r in hist]
            return {"lod": lod, "buckets": [{"key": k, "docCount": n} for k, n in rows]}

        return self._agg_cached(
            ("timeline", replace(spec, k=0).cache_key(), lod), compute, spec
        )

    # -- GET /getAggregate ---------------------------------------------------

    def aggregate(
        self,
        facet_key: str,
        query: str = "",
        time_range: str | None = None,
        size: int = DEFAULT_PAGE_SIZE,
        include: list[str] | None = None,
        exclude: list[str] | None = None,
    ) -> dict:
        if facet_key not in self.transcripts.columns:
            return _bad_request(ValueError(f"facet_key={facet_key!r}: not a column of the table"))
        if size < 1:
            return _bad_request(ValueError(f"size={size}: must be >= 1"))
        try:
            spec = compile_spec(query, time_range, mode=self.mode)
        except ValueError as e:
            return _bad_request(e)

        def compute() -> dict:
            rows = self._facet_rows(spec, facet_key, size, include, exclude)
            return {"key": facet_key, "buckets": [{"key": v, "docCount": n} for v, n in rows]}

        return self._agg_cached(
            (
                "aggregate", replace(spec, k=0).cache_key(), facet_key, size,
                tuple(include or ()), tuple(exclude or ()),
            ),
            compute,
            spec,
        )

    # -- internals ----------------------------------------------------------

    def _ranked_rows(self, spec: QuerySpec, with_total: bool) -> tuple[list, int | None]:
        """Collected top-k rows for the spec and its total hit count
        (None unless known), cache-aware: keyed by the spec NORMALIZED
        WITHOUT k, so any page whose rank is provably exact from an
        already-collected run is served driver-side. Indexed path: ONE
        engine.ranked_heaps pass (in the driver for a small query, a
        Spark job otherwise) caches every shard's top-k (n_shards·k
        rows, bounded) — and, when ``with_total`` asks for it, every
        shard's match count; the merged list answers pages up to the
        exactness bound — typically many pages — before any re-run. A re-run
        happens when the rows are not exact through k, or when a total
        is wanted and none is cached. Bounded FIFO."""
        # the index state rides in the key: append_index/compaction on
        # this index_dir bumps the manifest/deltas mtime, so stale
        # collected rows age out exactly when the engine reader does
        state = index_state_key(self.index_dir) if self.index_dir is not None else None
        key = (replace(spec, k=0).cache_key(), state)
        with self._lock:
            cached = self._hit_cache.get(key)
            if cached is not None:
                rows, safe_rank, total = cached
                # answerable iff the merge is exact through spec.k, or
                # the result set is exhausted (fewer rows than the bound
                # allows), and the total is cached when one is wanted
                if (spec.k <= safe_rank or len(rows) < safe_rank) and (
                    total is not None or not with_total
                ):
                    return rows[: spec.k], total
            self.topk_runs += 1
        heaps = None
        if self.index_dir is not None:
            heaps = ranked_heaps(self.spark, self.index_dir, spec, count=with_total)
        total = None
        if heaps is not None:
            rows, safe_rank, total = _merge_heaps(heaps, spec.k)
            if not with_total:
                total = None  # a skipping union shard undercounts
        else:
            # brute fallback: plain top-k, exact through k
            rows = bm25_topk(self.transcripts, spec, mode=self.mode).collect()
            safe_rank = float("inf") if len(rows) < spec.k else spec.k
        with self._lock:
            if total is None and cached is not None:
                total = cached[2]  # the total does not depend on k
            # a refresh replaces its own entry, evicting no other
            self._hit_cache.pop(key, None)
            if len(self._hit_cache) >= self.HIT_CACHE_MAX:
                self._hit_cache.pop(next(iter(self._hit_cache)))
            self._hit_cache[key] = (rows, safe_rank, total)
        return rows[: spec.k], total

    def _fetch(self, ids: list[int]) -> dict:
        """doc_id → body row for a page's ids. A bare parquet table is
        read with pyarrow through the row-group cache (read_rows keyed
        on ``doc_id``): row-group min/max statistics skip the row groups
        whose id range holds none of the page, and a row group is
        decoded once, not once per page. ``ts`` converts as Row
        collection does (the column type's fromInternal on epoch
        micros), so rows equal the Spark fetch's. Any other table plan
        keeps the Spark ``isin`` fetch."""
        t = self.transcripts
        bodies = self._bodies
        if bodies is None or bodies[0] is not t:
            # plan analysis and file listing run outside the lock; the
            # first open of t to reach it is cached, a later one dropped
            dataset = _parquet_dataset(t)
            opened = (t, dataset, t.schema["ts"].dataType if dataset else None)
            with self._lock:
                if self._bodies is None or self._bodies[0] is not t:
                    self._bodies = opened
                bodies = self._bodies
        _t, dataset, ts_type = bodies
        if dataset is None:
            return {r["doc_id"]: r for r in t.filter(F.col("doc_id").isin(ids)).collect()}
        import pyarrow as pa

        tbl = read_rows(dataset, "doc_id", ids, list(_BODY_COLUMNS))
        ts = tbl["ts"]
        micros = ts.cast(pa.timestamp("us", ts.type.tz)).cast(pa.int64())
        tbl = tbl.set_column(tbl.schema.get_field_index("ts"), "ts", micros)
        by_id = {}
        for r in tbl.to_pylist():
            r["ts"] = ts_type.fromInternal(r["ts"])
            by_id[r["doc_id"]] = r
        return by_id

    def _agg_cached(self, key: tuple, compute, spec: QuerySpec):
        """Aggregation result memo (facet/timeline/network): bounded
        FIFO keyed on (request, index state). Only scored specs are
        cached: a match_all / filters-only subgraph or facet on a
        column outside docmeta computes from self.transcripts via brute
        matching_docs, which carries no invalidation signal — the
        index-state key would not notice a transcripts-source change,
        serving stale results. (Their role/tool facets and timelines
        are counted from the index, and cheap to recompute.)"""
        if self.index_dir is None or not spec.scored():
            with self._lock:
                self.agg_runs += 1
            return compute()
        full_key = (key, index_state_key(self.index_dir))
        with self._lock:
            hit = self._agg_cache.get(full_key)
            if hit is not None:
                return hit
            self.agg_runs += 1
        out = compute()
        with self._lock:
            if len(self._agg_cache) >= self.AGG_CACHE_MAX:
                self._agg_cache.pop(next(iter(self._agg_cache)))
            self._agg_cache[full_key] = out
        return out

    def _facet_rows(
        self,
        spec: QuerySpec,
        column: str,
        size: int,
        include: list[str] | None = None,
        exclude: list[str] | None = None,
    ) -> list[tuple]:
        """facet_counts' (value, n_docs) rows over the spec's doc set:
        counted from the index (engine.count_by) when one is attached
        and ``column`` is in docmeta, else facet_counts over
        _matching."""
        if self.index_dir is not None and column in META_FACETS:
            counts = count_by(self.spark, self.index_dir, spec, column)
            return facets_mod.top_values(counts, size, include, exclude)
        agg = facets_mod.facet_counts(self._matching(spec), column, k=size, include=include, exclude=exclude)
        return [(r["value"], r["n_docs"]) for r in agg.collect()]

    def _matching(self, spec: QuerySpec) -> DataFrame:
        """Query-filtered doc set for the aggregations the index cannot
        count (subgraph edges, facet keys outside docmeta, and every
        aggregation without an index). Indexed path: the index's doc
        ids (no text re-tokenization; a local DataFrame for a small
        plan), semi-joined back for the table's columns."""
        if self.index_dir is not None and spec.scored():
            ids = matching_doc_ids(self.spark, self.index_dir, spec)
            return self.transcripts.join(ids, "doc_id", "left_semi")
        return matching_docs(self.transcripts, spec, self.mode)
