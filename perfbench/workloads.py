"""The workloads, their request executors and their metrics.

Untraced runs issue every request as one public API call on a shared
``NewsleakAPI`` handle, from closed-loop clients. Traced runs issue the
same sequence from one client and, inside a root span per request,
follow the API call with the public layer calls that make it up (rank,
dictionary, count, doc set, facets, and cached get_docs calls with and
without highlighting); layer times come from those spans.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from newsleak_spark import facets as facets_mod
from newsleak_spark.api import NewsleakAPI, compile_spec
from newsleak_spark.indexing import Manifest, append_index, build_index, compact_index
from newsleak_spark.indexing.manifest import dir_bytes
from newsleak_spark.query.brute import matching_docs
from newsleak_spark.query.engine import (
    IndexReader,
    count_hits,
    index_state_key,
    matching_doc_ids,
    search_heaps,
)

from perfbench import checks, corpus
from perfbench.corpus import PAGE_SIZE, Request
from perfbench.spans import JobCounter, Tracer, high_percentile, median, span_cost_s

REQUEST_TYPES = (
    "page1", "page1_total", "page2", "facet", "timeline", "subgraph",
    "facet_matchall", "timeline_matchall", "build", "append", "compact",
)
STAGES = ("tokenized", "docmeta", "postings", "dictionary", "bigrams", "segments")
# build checkpoints that no query reads; everything else in an index dir is served
CHECKPOINTS = ("tokenized", "postings", "bigram_postings")
SEQ_LEN = 2000
# untimed requests per client before measuring: the first few requests
# of a fresh JVM run slower while its JIT warms up
WARM_PER_CLIENT = 4
# whole cycles each client completes in an untraced run, at least
MIN_CYCLES = 2
N_CLIENTS = 2
SETUP_REPEATS = 3
WARM_TURNS = 300  # ingest_rw's untimed warm-up table


@dataclass
class Done:
    """One completed request: its wall, whether it failed, and the answer."""

    req: Request
    wall: float
    ok: bool
    resp: object = None
    error: str = ""


@dataclass
class Run:
    spark: object
    scale: corpus.Scale
    seed: int
    seconds: float
    traced: bool
    work: str
    cache: str
    tracer: Tracer = field(init=False)
    jobs: JobCounter = field(init=False)
    readers: dict = field(default_factory=dict)
    done: list[Done] = field(default_factory=list)
    report: list[str] = field(default_factory=list)

    def __post_init__(self):
        self.tracer = Tracer(self.traced)
        self.jobs = JobCounter(self.spark.sparkContext)

    def reader(self, index_dir: str) -> IndexReader:
        """The engine reader for the index's current state, opened (and
        traced as engine.reader_open) whenever that state changes."""
        key = (index_dir, index_state_key(index_dir))
        rd = self.readers.get(key)
        if rd is None:
            with self.tracer.span("engine.reader_open"):
                rd = IndexReader(self.spark, index_dir)
            self.readers = {key: rd}
        return rd


# ---------------------------------------------------------------------------
# request execution
# ---------------------------------------------------------------------------

def issue(api: NewsleakAPI, req: Request) -> dict:
    """The request as a user issues it: one public API call."""
    if req.rtype.startswith("page"):
        return api.get_docs(
            req.query, roles=req.roles, page=req.page, with_total=req.rtype == "page1_total"
        )
    if req.rtype.startswith("facet"):
        return api.aggregate(req.facet_key, req.query)
    if req.rtype.startswith("timeline"):
        return api.get_timeline(req.query, lod=req.lod)
    return api.induce_subgraph(req.query)


def issue_traced(run: Run, api: NewsleakAPI, req: Request, rid: str) -> dict:
    """The request's API call (span ``api.call``) under a root span, then,
    when the call missed the program's cache so its layers really ran,
    each layer's public call under its own span, outside the request's
    job group."""
    tr, spark, sc = run.tracer, run.spark, run.spark.sparkContext
    with tr.span(f"request.{req.rtype}", request=rid):
        with tr.span("spec.parse"):
            spec = compile_spec(req.query, roles=req.roles, k=req.page * PAGE_SIZE, mode=api.mode)
        terms = list(spec.all_scored_terms()) + list(spec.boost_terms) + list(spec.not_terms)
        runs0 = (api.topk_runs, api.agg_runs)
        with tr.span("api.call"):
            resp = issue(api, req)
        sc.setJobGroup(f"trace-{rid}", "trace")
        missed = (api.topk_runs, api.agg_runs) != runs0
        if req.rtype.startswith("page"):
            if missed and terms:
                rd = run.reader(api.index_dir)
                with tr.span("engine.dictionary"):
                    rd.dictionary_rows(terms)
                with tr.span("engine.rank"):
                    heaps = search_heaps(spark, api.index_dir, spec, reader=rd)
                    if heaps is not None:
                        heaps.collect()
                if req.rtype == "page1_total":
                    with tr.span("engine.count"):
                        count_hits(spark, api.index_dir, spec, reader=rd)
            # the page is cached now: these two calls are the fetch alone
            # and the fetch plus highlighting
            kw = dict(roles=req.roles, page=req.page, with_total=False)
            with tr.span("api.fetch"):
                api.get_docs(req.query, highlight=False, **kw)
            with tr.span("api.fetch_highlight"):
                api.get_docs(req.query, highlight=True, **kw)
            return resp
        if not missed:
            return resp
        if terms:
            rd = run.reader(api.index_dir)
            with tr.span("engine.docset"):
                ids = matching_doc_ids(spark, api.index_dir, spec, reader=rd)
                ids.count()
            docs = api.transcripts.join(ids, "doc_id", "left_semi")
        else:
            docs = matching_docs(api.transcripts, spec, api.mode)
        if req.rtype.startswith("facet"):
            with tr.span("facets.facet"):
                facets_mod.facet_counts(docs, req.facet_key).collect()
        elif req.rtype.startswith("timeline"):
            with tr.span("facets.histogram"):
                facets_mod.date_histogram(docs, req.lod).collect()
        else:
            with tr.span("facets.facet"):
                nodes = [r["value"] for r in facets_mod.facet_counts(docs, "tool", k=10).collect()]
            with tr.span("facets.cooccurrence"):
                facets_mod.cooccurrence(
                    docs.filter(F.col("tool").isin(nodes)).select("conv_id", "tool"),
                    "conv_id", "tool",
                ).collect()
        return resp


def _timed(run: Run, api: NewsleakAPI, req: Request, rid: str) -> Done:
    run.jobs.start(rid, req.rtype)
    t0 = time.perf_counter()
    try:
        resp = issue_traced(run, api, req, rid) if run.traced else issue(api, req)
    except Exception:  # a failed request is counted, never retried
        return Done(req, time.perf_counter() - t0, False, error=traceback.format_exc(limit=3))
    finally:
        run.jobs.stop()
    wall = time.perf_counter() - t0
    return Done(req, wall, not (isinstance(resp, dict) and resp.get("status") == 400), resp)


def closed_loop(
    run: Run, api: NewsleakAPI, seqs: list[list[Request]], cycle: int
) -> tuple[float, tuple[int, int]]:
    """Run the clients, after an untimed warm-up, in whole cycles of their
    sequences until each has completed MIN_CYCLES and ``run.seconds``
    have passed; return the measured wall and the API's (topk_runs,
    agg_runs) when measuring began. Each client sends its next request
    only when the previous answer has arrived. Every measured request is
    in the latency percentiles: whole cycles keep the mix the same
    however many a faster program completes. Traced runs use one client
    that interleaves the sequences, so cache-miss detection is exact, and
    measure one interleaved cycle, since each request there also replays
    its layers."""
    min_cycles = MIN_CYCLES
    if run.traced:
        seqs = [[r for pair in zip(*seqs) for r in pair]]
        cycle *= N_CLIENTS
        min_cycles = 1
    warm = WARM_PER_CLIENT * (N_CLIENTS if run.traced else 1)
    barrier = threading.Barrier(len(seqs))
    start: list[float] = []
    runs0: list[tuple[int, int]] = []
    ends: list[float] = []
    errors: list[str] = []
    lock = threading.Lock()

    def client(seq: list[Request]) -> None:
        try:
            for req in seq[:warm]:
                issue(api, req)
            if barrier.wait() == 0:
                runs0.append((api.topk_runs, api.agg_runs))
                start.append(time.perf_counter())
            barrier.wait()
            deadline = start[0] + run.seconds
            for i, req in enumerate(seq[warm:]):
                if i % cycle == 0 and i >= min_cycles * cycle and time.perf_counter() >= deadline:
                    break
                d = _timed(run, api, req, f"c{req.client}-{req.seq}")
                with lock:
                    run.done.append(d)
                    ends.append(time.perf_counter())
        except Exception:
            errors.append(traceback.format_exc())

    threads = [threading.Thread(target=client, args=(s,), daemon=True) for s in seqs]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise RuntimeError("client crashed:\n" + "\n".join(errors))
    return max(ends) - start[0], runs0[0]


# ---------------------------------------------------------------------------
# set-up, checks
# ---------------------------------------------------------------------------

def cold_open_s(run: Run, table_dir: str, index_dir: str, probe: Request) -> float:
    """Median over SETUP_REPEATS of opening a serving handle on a fresh
    copy of the index (so no reader, listing or cache is warm for that
    path) and answering one getDocs page."""
    walls = []
    for i in range(SETUP_REPEATS):
        dst = os.path.join(run.work, f"open{i}")
        shutil.copytree(index_dir, dst)
        t0 = time.perf_counter()
        api = NewsleakAPI(run.spark, run.spark.read.parquet(table_dir), dst)
        resp = issue(api, probe)
        walls.append(time.perf_counter() - t0)
        if not resp.get("docs"):
            raise RuntimeError(f"set-up probe {probe.query!r} returned no documents")
        shutil.rmtree(dst)
    return statistics.median(walls)


def check_sampled(run: Run, samples: list[tuple[object, Done]]) -> None:
    """Recompute each sampled (table, answer) with the brute path, a few
    at a time; a wrong answer marks its request failed."""
    with ThreadPoolExecutor(max_workers=4) as pool:
        found = list(pool.map(lambda td: checks.check(td[0], td[1].req, td[1].resp), samples))
    for (_table, d), problems in zip(samples, found):
        if problems:
            d.ok = False
            run.report.append(f"WRONG {d.req.rtype} {d.req.query!r}: " + "; ".join(problems))


def sample_checks(done: list[Done], seed: int) -> list[Done]:
    """Client 0's first page with a total, whose count is checked too,
    and one more page drawn by the seed, so every query shape and page
    gets checked across seeds."""
    pages = [d for d in done if d.ok and d.req.rtype.startswith("page")]
    first = next((d for d in pages if d.req.client == 0 and d.req.rtype == "page1_total"), None)
    rest = [d for d in pages if d is not first]
    return [d for d in (first, random.Random(seed).choice(rest) if rest else None) if d]


def served_bytes(index_dir: str) -> int:
    total = 0
    for name in os.listdir(index_dir):
        if name not in CHECKPOINTS:
            p = os.path.join(index_dir, name)
            total += dir_bytes(p) if os.path.isdir(p) else os.path.getsize(p)
    return total


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

@dataclass
class Outcome:
    wall: float  # measured wall of the request stream
    setup_s: float
    index_bytes_per_text_byte: float
    manifests: dict  # "build" | "append" | "compact" -> list[Manifest]
    cache: dict  # "hit" | "agg" -> (lookups, misses)
    figures: dict = field(default_factory=dict)  # workload-specific name -> (value, unit)


def _figures(done: list[Done]) -> dict:
    """The request-type latencies each workload exercises."""
    def p50(pred):
        xs = [d.wall for d in done if d.ok and pred(d.req)]
        return (median(xs), "s") if xs else None

    out = {
        "page1_p50_s": p50(lambda r: r.rtype == "page1"),
        "page1_total_p50_s": p50(lambda r: r.rtype == "page1_total"),
        "page2_cached_p50_s": p50(lambda r: r.rtype == "page2"),
        "agg_cold_p50_s": p50(lambda r: r.cold and r.rtype in ("facet", "timeline", "subgraph")),
        "agg_matchall_p50_s": p50(lambda r: r.rtype.endswith("_matchall")),
    }
    return {k: v for k, v in out.items() if v is not None}


def search_pages(run: Run) -> Outcome:
    t0 = time.perf_counter()
    table_dir, index_dir = corpus.serving_corpus(run.spark, run.cache, run.scale)
    bands = corpus.term_bands(run.spark, table_dir, index_dir, run.scale.sample_docs, run.seed)
    setup_s = cold_open_s(run, table_dir, index_dir, Request(0, -1, "page1", bands.head[-1]))
    table = run.spark.read.parquet(table_dir)
    api = NewsleakAPI(run.spark, table, index_dir)
    seqs = [corpus.search_sequence(bands, run.seed, c, SEQ_LEN) for c in range(N_CLIENTS)]
    t1 = time.perf_counter()
    wall, (topk0, agg0) = closed_loop(run, api, seqs, len(corpus.SEARCH_CYCLE))
    t2 = time.perf_counter()
    check_sampled(run, [(table, d) for d in sample_checks(run.done, run.seed)])
    run.report.append(
        f"phases: set-up {t1 - t0:.1f} s, warm-up and measured {t2 - t1:.1f} s, "
        f"checks {time.perf_counter() - t2:.1f} s"
    )
    n_pages = sum(1 for d in run.done if d.req.rtype.startswith("page"))
    return Outcome(
        wall, setup_s, served_bytes(index_dir) / corpus.text_bytes(table_dir),
        {"build": [Manifest(index_dir)]},
        {"hit": (n_pages, api.topk_runs - topk0), "agg": (len(run.done) - n_pages, api.agg_runs - agg0)},
        _figures(run.done),
    )


def ingest_rw(run: Run) -> Outcome:
    """build, probes, then (append, probes) per delta, then compact,
    probes; one client and one serving handle across every commit, so
    each commit's new index state must invalidate what the handle cached.
    Each delta's parquet files join the table, and the handle takes the
    table's new snapshot, in the same step that indexes them; after the
    compaction the handle swaps to the compacted index."""
    spark, sc_, tr = run.spark, run.scale, run.tracer
    table_dir = os.path.join(run.work, "table")
    index_dir = os.path.join(run.work, "index")
    compacted = index_dir + "_compacted"
    t_setup = time.perf_counter()
    bounds = [sc_.ingest_base + i * sc_.ingest_delta for i in range(sc_.n_deltas + 1)]
    parts = [os.path.join(run.work, f"part{i}") for i in range(len(bounds))]
    for i, part in enumerate(parts):
        lo = bounds[i - 1] if i else 0
        corpus.write_table(f"{part}/part-{i}.parquet", lo, bounds[i], bounds[-1], run.seed)
    shutil.copytree(parts[0], table_dir)

    # untimed warm-up, whose handle opens are the set-up figure: a JVM's
    # first build and queries run several times slower while its JIT
    # compiles them, which a long-running server pays once, not per commit
    warm_table, warm_index = os.path.join(run.work, "warm_table"), os.path.join(run.work, "warm_index")
    corpus.write_table(f"{warm_table}/part-0.parquet", 0, WARM_TURNS, WARM_TURNS, run.seed)
    build_index(spark, spark.read.parquet(warm_table), warm_index, corpus.INDEX_CONFIG)
    warm_bands = corpus.term_bands(spark, warm_table, warm_index, sc_.sample_docs, run.seed)
    setup_s = cold_open_s(run, warm_table, warm_index, Request(0, -1, "page1", warm_bands.head[-1]))

    mans: dict[str, list] = {"build": [], "append": [], "compact": []}
    cache = {"hit": [0, 0], "agg": [0, 0]}
    first_probe: list[float] = []
    sampled: list[tuple[object, Done]] = []
    api: NewsleakAPI | None = None

    def write(kind: str, fn) -> None:
        rid = f"w-{kind}-{len(mans[kind])}"
        run.jobs.start(rid, kind)
        t0 = time.perf_counter()
        with tr.span(f"request.{kind}", request=rid):
            man = fn()
        run.jobs.stop()
        run.done.append(Done(Request(0, len(run.done), kind), time.perf_counter() - t0, True))
        mans[kind].append(man)

    def probes(commit: int, n_turns: int) -> None:
        runs0 = (api.topk_runs, api.agg_runs)
        got = []
        for p in corpus.probe_set(bands, commit):
            d = _timed(run, api, Request(**{**p.to_json(), "seq": len(run.done)}), f"p{commit}-{p.seq}")
            run.done.append(d)
            got.append(d)
        first_probe.append(got[0].wall)
        n_pages = sum(1 for d in got if d.req.rtype.startswith("page"))
        cache["hit"][0] += n_pages
        cache["hit"][1] += api.topk_runs - runs0[0]
        cache["agg"][0] += len(got) - n_pages
        cache["agg"][1] += api.agg_runs - runs0[1]
        # the table only grows by whole doc-id ranges, so this filter is
        # the table as it was at this commit; checked after the last
        # commit. Checked: the multi-part state's page with its total and
        # its cold aggregation, the compacted index's page with its total
        # and its match-all aggregation.
        then = spark.read.parquet(table_dir).filter(F.col("doc_id") < n_turns)
        if commit > 0:
            last = commit == len(bounds)
            sampled.extend(
                (then, d) for d in got
                if d.req.rtype == "page1_total" or (d.req.rtype.endswith("_matchall") if last else d.req.cold)
            )

    def build():
        with tr.span("indexing.build_index"):
            return build_index(spark, spark.read.parquet(table_dir), index_dir, corpus.INDEX_CONFIG)

    def append(part: str):
        with tr.span("table.append"):  # the delta's file joins the table
            for name in os.listdir(part):
                shutil.copy(os.path.join(part, name), table_dir)
            api.transcripts = spark.read.parquet(table_dir)
        with tr.span("indexing.append_index"):
            return append_index(spark, spark.read.parquet(part), index_dir, corpus.INDEX_CONFIG)

    def compact():
        with tr.span("indexing.compact_index"):
            man = compact_index(spark, index_dir, compacted)
        api.index_dir = compacted  # the reader swap compact_index describes
        return man

    t_start = time.perf_counter()
    setup = t_start - t_setup
    write("build", build)
    t0 = time.perf_counter()
    bands = corpus.term_bands(spark, table_dir, index_dir, sc_.sample_docs, run.seed)
    api = NewsleakAPI(spark, spark.read.parquet(table_dir), index_dir)
    t_bands = time.perf_counter() - t0
    probes(0, bounds[0])
    for i in range(1, len(bounds)):
        write("append", lambda: append(parts[i]))
        probes(i, bounds[i])
    write("compact", compact)
    probes(len(bounds), bounds[-1])
    wall = time.perf_counter() - t_start - t_bands
    t0 = time.perf_counter()
    check_sampled(run, sampled)
    run.report.append(
        f"phases: set-up {setup:.1f} s, measured {wall:.1f} s, checks {time.perf_counter() - t0:.1f} s"
    )

    figures = _figures(run.done)
    for kind in ("build", "append", "compact"):
        turns = sum(int(m.stats["n_docs"]) for m in mans[kind])
        secs = sum(d.wall for d in run.done if d.req.rtype == kind)
        figures[f"{kind}_turns_per_s"] = (turns / secs, "1/s")
    figures["read_after_write_p50_s"] = (median(first_probe), "s")
    return Outcome(
        wall, setup_s, served_bytes(compacted) / corpus.text_bytes(table_dir),
        mans, {k: tuple(v) for k, v in cache.items()}, figures,
    )


WORKLOADS = {"search_pages": search_pages, "ingest_rw": ingest_rw}


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def end_to_end(run: Run, out: Outcome) -> dict[str, tuple[float, str]]:
    # a failed or wrong answer misses every latency limit: it counts as
    # taking the whole measured wall, and not as a completed request
    walls = [d.wall if d.ok else max(d.wall, out.wall) for d in run.done]
    failed = sum(1 for d in run.done if not d.ok)
    p90, pct = high_percentile(walls)
    run.report.append(f"failed_share {failed / len(run.done):.4f} ({failed} of {len(run.done)} requests)")
    run.report.append(
        f"  request_p90_s {p90:.4f} s: the p{pct:.1f}, the highest percentile with "
        f"10 of the {len(walls)} samples beyond it"
    )
    for name, (v, unit) in out.figures.items():
        run.report.append(f"  {name} {v:.4f} {unit}")
    return {
        "requests_per_s": ((len(run.done) - failed) / out.wall, "1/s"),
        "request_p50_s": (median(walls), "s"),
        "index_bytes_per_text_byte": (out.index_bytes_per_text_byte, "B/B"),
        "setup_s": (out.setup_s, "s"),
    }


# (metric, span, span of the same request whose time the first includes)
LAYERS = (
    ("spec.parse_s", "spec.parse", None),
    ("engine.reader_open_s", "engine.reader_open", None),
    ("engine.dictionary_s", "engine.dictionary", None),
    ("engine.rank_s", "engine.rank", "engine.dictionary"),
    ("engine.count_s", "engine.count", None),
    ("engine.docset_s", "engine.docset", None),
    ("api.fetch_s", "api.fetch", None),
    ("api.highlight_s", "api.fetch_highlight", "api.fetch"),
    # facet calls aggregate over the lazy doc-set join, so they re-run it
    ("facets.facet_s", "facets.facet", "engine.docset"),
    ("facets.histogram_s", "facets.histogram", "engine.docset"),
    ("facets.cooccurrence_s", "facets.cooccurrence", "engine.docset"),
)


def _request_layers(tr: Tracer) -> dict[str, tuple[str, dict[str, float]]]:
    """request id -> (type, {span name: seconds}) over the root's subtree,
    with LAYERS' derived self times under their metric names."""
    out: dict[str, tuple[str, dict[str, float]]] = {}
    for s in tr.spans:
        if s.parent is None:
            out[s.request] = (s.name[len("request."):], {"wall": s.end - s.start, "n_spans": 1})
    for s in tr.spans:
        if s.parent is not None and s.request in out:
            d = out[s.request][1]
            d[s.name] = d.get(s.name, 0.0) + (s.end - s.start)
            d["n_spans"] += 1
    for _t, d in out.values():
        for metric, name, minus in LAYERS:
            if name in d:
                d[metric] = d[name] - d.get(minus, 0.0)
    return out


def per_layer(run: Run, out: Outcome) -> dict[str, tuple[float, str]]:
    reqs = _request_layers(run.tracer)
    m: dict[str, tuple[float, str]] = {
        metric: (median(d[metric] for _t, d in reqs.values() if metric in d), "s")
        for metric, _n, _m in LAYERS
    }
    for kind in ("hit", "agg"):
        lookups, misses = out.cache[kind]
        m[f"api.{kind}_cache_hit_ratio"] = (1 - misses / lookups if lookups else 0.0, "ratio")
        m[f"api.{kind}_cache_lookups"] = (float(lookups), "count")
    counts = run.jobs.per_type()
    for t in REQUEST_TYPES:
        jobs, tasks = counts.get(t, (0.0, 0.0))
        m[f"spark.jobs_per_request.{t}"] = (jobs, "count")
        m[f"spark.tasks_per_request.{t}"] = (tasks, "count")
    for kind in ("build", "append", "compact"):
        recs = [[mm.stages.get(st, {}) for mm in out.manifests.get(kind, [])] for st in STAGES]
        for st, rs in zip(STAGES, recs):
            m[f"{kind}.{st}_s"] = (statistics.fmean(r.get("wall_sec", 0.0) for r in rs) if rs else 0.0, "s")
            if kind == "build":
                m[f"build.{st}_rows"] = (float(sum(r.get("rows", 0) for r in rs)), "rows")
                m[f"build.{st}_bytes"] = (float(sum(r.get("bytes", 0) for r in rs)), "B")
    served = [d for _t, d in reqs.values() if "api.call" in d]
    call = sum(d["api.call"] for d in served)
    explained = sum(d[metric] for d in served for metric, _n, _m in LAYERS if metric in d)
    # what tracing adds to a request: its spans' own bookkeeping, not the
    # layer calls replayed under them after the answer is back
    n_spans = sum(d["n_spans"] for d in served)
    m["trace.overhead_share"] = (n_spans * span_cost_s() / call if call else 0.0, "ratio")
    m["trace.layers_cover_share"] = (explained / call if call else 0.0, "ratio")
    _layer_table(run, reqs)
    return m


def _layer_table(run: Run, reqs) -> None:
    """Per request type: each layer's mean time per request and its share
    of the API call's wall, and the share of that wall the layers cover.
    Write requests list their child spans against the request wall."""
    types: dict[str, list[dict]] = {}
    for t, d in reqs.values():
        types.setdefault(t, []).append(d)
    for t, ds in sorted(types.items()):
        base_key = "api.call" if "api.call" in ds[0] else "wall"
        base = sum(d[base_key] for d in ds)
        if base_key == "api.call":
            names = [metric for metric, _n, _m in LAYERS]
        else:
            names = sorted({k for d in ds for k in d} - {"wall", "n_spans"})
        rows = [(n, sum(d.get(n, 0.0) for d in ds)) for n in names]
        rows = [(n, v) for n, v in rows if v]
        run.report.append(
            f"layer table {t}: n={len(ds)}, {base_key} {base / len(ds) * 1000:.1f} ms/request, "
            f"layers cover {sum(v for _n, v in rows) / base:.1%}"
        )
        for n, v in sorted(rows, key=lambda nv: -nv[1]):
            run.report.append(f"    {n:<24} {v / len(ds) * 1000:9.1f} ms  {v / base:6.1%}")
