"""Seeded inputs: the transcripts tables, the cached serving index, and
request sequences drawn from the built index's dictionary by df band.

The program only ever sees what this module generates: parquet
transcripts tables (the Iceberg stand-in) and query strings.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import asdict, dataclass

from newsleak_spark.analysis import analyze
from newsleak_spark.api import DEFAULT_PAGE_SIZE
from newsleak_spark.indexing import IndexConfig, build_index
from newsleak_spark.query.engine import IndexReader


@dataclass(frozen=True)
class Scale:
    serve_turns: int
    ingest_base: int
    ingest_delta: int
    n_deltas: int
    sample_docs: int


SCALES = {
    "full": Scale(serve_turns=4_000, ingest_base=2_000, ingest_delta=500, n_deltas=1, sample_docs=1_500),
    "smoke": Scale(serve_turns=1_500, ingest_base=600, ingest_delta=150, n_deltas=1, sample_docs=400),
}

# The serving corpus is fixed so its index is built once per checkout;
# --seed varies the queries drawn from it. ingest_rw draws its corpus
# from --seed because it builds on every run anyway.
SERVE_CORPUS_SEED = 42

# Shards and term buckets sized to these 10^3-10^4-turn corpora (the
# defaults target 10^7 turns, where 256 segment partitions per build are
# not mostly fixed cost).
INDEX_CONFIG = IndexConfig(n_shards=4, n_term_buckets=4)

ROLES = ("user", "assistant", "system", "tool")
PAGE_SIZE = DEFAULT_PAGE_SIZE


@dataclass(frozen=True)
class Request:
    """One closed-loop request. ``rtype`` names the endpoint and shape
    the metrics group by; ``cold`` marks an aggregation whose cache key
    the sequence has not issued before."""

    client: int
    seq: int
    rtype: str
    query: str = ""
    roles: tuple[str, ...] = ()
    page: int = 1
    facet_key: str = "role"
    lod: str = "year"
    cold: bool = False

    def to_json(self) -> dict:
        return asdict(self)


VOCAB_SIZE = 50_000
HOT_TERM = "spark"


def write_table(path: str, lo: int, hi: int, n_total: int, seed: int) -> None:
    """Turns ``lo``..``hi``-1 of a seeded ``n_total``-turn transcripts
    table, written as one parquet file. The layout follows
    transcripts.synth_transcripts: ~20-turn conversations, four roles,
    seven tools, timestamps over several years, and Zipf-like text over a
    50k-word vocabulary with one hot term in ~40% of turns."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, lo])
    ids = np.arange(lo, hi, dtype=np.int64)
    n_convs = max(n_total // 20, 1)
    conv, turn = ids % n_convs, ids // n_convs
    n_tok = rng.integers(5, 120, len(ids))
    u = rng.random(int(n_tok.sum()))
    words = np.minimum((1.0 / np.maximum(u, 1e-12)) ** (1.0 / 0.3), VOCAB_SIZE).astype(np.int64)
    hot = rng.random(len(ids)) < 0.4
    texts, at = [], 0
    for n, h in zip(n_tok, hot):
        toks = [f"w{w}" for w in words[at : at + n]] + ([HOT_TERM] if h else [])
        texts.append(" ".join(toks))
        at += n
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": ids,
        "conv_id": [f"conv_{c}" for c in conv],
        "turn_idx": turn.astype(np.int32),
        "role": [ROLES[i % 4] for i in ids],
        "text": texts,
        "tool": [f"tool_{i % 7}" if i % 4 == 3 else None for i in ids],
        "ts": pa.array(
            1_514_764_800_000_000 + turn * 6_307_200_000_000 + conv * 3_600_000_000,
            pa.timestamp("us", tz="UTC"),
        ),
    }), path)


def serving_dir(cache_root: str, scale: Scale) -> str:
    return os.path.join(cache_root, f"serve-{scale.serve_turns}-s{SERVE_CORPUS_SEED}-{_source_key()}")


def serving_corpus(spark, cache_root: str, scale: Scale) -> tuple[str, str]:
    """(table dir, index dir) of the serving corpus, built on first use
    by these program sources. The build goes to a scratch dir renamed into
    place last, so a killed first run leaves nothing half-built behind."""
    final = serving_dir(cache_root, scale)
    if not os.path.isdir(final):
        stale = os.path.basename(final).rsplit("-", 1)[0] + "-"
        if os.path.isdir(cache_root):  # the same corpus built by other sources
            for name in os.listdir(cache_root):
                if name.startswith(stale):
                    shutil.rmtree(os.path.join(cache_root, name), ignore_errors=True)
        tmp = final + ".building"
        n = scale.serve_turns
        write_table(f"{tmp}/table/part-0.parquet", 0, n, n, SERVE_CORPUS_SEED)
        build_index(spark, spark.read.parquet(f"{tmp}/table"), f"{tmp}/index", INDEX_CONFIG)
        os.replace(tmp, final)
    return f"{final}/table", f"{final}/index"


def _source_key() -> str:
    """Hash of newsleak_spark's sources and the index config: a cached
    index is only reused by the program and config that built it."""
    import hashlib

    import newsleak_spark

    root = os.path.dirname(newsleak_spark.__file__)
    h = hashlib.sha256(repr(INDEX_CONFIG).encode())
    for dirpath, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for name in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:12]


def text_bytes(table_dir: str) -> int:
    """UTF-8 bytes of the text column: the user data the index serves."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    col = pq.read_table(table_dir, columns=["text"])["text"]
    return int(pc.sum(pc.binary_length(col)).as_py() or 0)


@dataclass
class Bands:
    """Dictionary terms by df share of N (hot >= 20%, head 4-10%, mid
    0.5-2%, tail < 0.2%), each list in seeded order."""

    hot: list[str]
    head: list[str]
    mid: list[str]
    tail: list[str]
    pairs: list[tuple[str, str]]  # adjacent (head|mid, head|mid) pairs seen in the text
    hot_term: str  # the hot term whose df is nearest 0.4 N


def term_bands(spark, table_dir: str, index_dir: str, n_sample: int, seed: int) -> Bands:
    """Candidate terms come from a seeded sample of the table's text;
    their df comes from the built index's dictionary."""
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    tbl = pq.read_table(table_dir, columns=["doc_id", "text"]).sort_by("doc_id")
    texts = tbl["text"].to_pylist()
    rows = sorted(rng.sample(range(len(texts)), min(n_sample, len(texts))))
    seen: set[str] = set()
    adjacent: set[tuple[str, str]] = set()
    for i in rows:
        toks = analyze(texts[i])
        seen.update(toks)
        adjacent.update(zip(toks, toks[1:]))
    reader = IndexReader(spark, index_dir)
    dfs = reader.dictionary_rows(sorted(seen))
    n = reader.n_docs
    bands: dict[str, list[str]] = {"hot": [], "head": [], "mid": [], "tail": []}
    for term, (df, _cf) in sorted(dfs.items()):
        share = df / n
        # narrow bands with gaps between them, so a query shape costs
        # about the same whichever terms the seed draws
        if share >= 0.2:
            bands["hot"].append(term)
        elif 0.04 <= share < 0.1:
            bands["head"].append(term)
        elif 0.005 <= share < 0.02:
            bands["mid"].append(term)
        elif df >= 2 and share < 0.002:
            bands["tail"].append(term)
    hot_term = min(bands["hot"], key=lambda t: (abs(dfs[t][0] / n - 0.4), t))
    for terms in bands.values():
        rng.shuffle(terms)
    phrase_ok = set(bands["head"]) | set(bands["mid"])
    pairs = sorted((a, b) for a, b in adjacent if a in phrase_ok and b in phrase_ok and a != b)
    rng.shuffle(pairs)
    return Bands(pairs=pairs, hot_term=hot_term, **bands)


class _Draw:
    """Round-robin over a seeded term list, so every query in a run is
    distinct until the band is exhausted."""

    def __init__(self, items: list):
        self.items, self.i = items, 0

    def __call__(self):
        item = self.items[self.i % len(self.items)]
        self.i += 1
        return item


def _shape_queries(bands: Bands, rng: random.Random):
    head, mid, tail, pairs = _Draw(bands.head), _Draw(bands.mid), _Draw(bands.tail), _Draw(bands.pairs)
    return {
        "head": lambda: (head(), ()),
        "mid": lambda: (mid(), ()),
        "tail": lambda: (tail(), ()),
        "and": lambda: (f"{head()} {mid()}", ()),
        "phrase": lambda: ('"{} {}"'.format(*pairs()), ()),
        "role": lambda: (head(), (rng.choice(ROLES[:2]),)),
        "not": lambda: (f"{mid()} -{head()}", ()),
        "hot": lambda: (bands.hot_term, ()),
    }


# A fixed cycle of (request type, query shape); only the terms depend on
# the seed, so every seed issues the same mix. Page 1 queries are never
# repeated within a run (the distinct pool is larger than the API's
# 32-entry hit cache), so page 1 always ranks, and page 2 of the client's
# previous query (a shape with more than two pages of hits) is served
# from the hit cache. Three page 2, four page 1 and three page 1 with
# total requests per cycle keep the median inside the page 1 group and
# the tail percentiles inside the page 1 with total group.
SEARCH_CYCLE = (
    ("page1", "head"), ("page2", None), ("page1_total", "and"),
    ("page1", "phrase"), ("page1", "role"), ("page2", None),
    ("page1_total", "not"), ("page1", "tail"), ("page1_total", "hot"),
    ("page2", None),
)

def search_sequence(bands: Bands, seed: int, client: int, n: int) -> list[Request]:
    rng = random.Random(f"search-{seed}-{client}")
    shapes = _shape_queries(_client_bands(bands, client), rng)
    out: list[Request] = []
    prev: Request | None = None
    for i in range(n):
        rtype, shape = SEARCH_CYCLE[i % len(SEARCH_CYCLE)]
        if rtype == "page2":
            out.append(Request(client, i, "page2", prev.query, prev.roles, page=2))
            continue
        query, roles = shapes[shape]()
        prev = Request(client, i, rtype, query, roles)
        out.append(prev)
    return out


def _client_bands(bands: Bands, client: int) -> Bands:
    """Clients draw from disjoint halves of each band, so one client's
    queries never warm the other's cache entries."""

    def half(xs):
        return xs[client::2] or xs

    return Bands(
        hot=bands.hot, head=half(bands.head), mid=half(bands.mid), tail=half(bands.tail),
        pairs=half(bands.pairs), hot_term=bands.hot_term,
    )


def probe_set(bands: Bands, commit: int) -> list[Request]:
    """The read-after-write probes ingest_rw issues after a commit, the
    same page queries after every commit (terms from the base index's
    dictionary): a page with its total, whose latency is the
    read-after-write figure, and its page 2 from the hit cache; two more
    pages without totals, which keep the run's median latency inside one
    group of like requests; a cold facet, timeline or subgraph and the
    same request again from the aggregation cache; a match-all facet or
    timeline. The aggregation kinds rotate over the commits, the same in
    every run, so every run issues each kind."""
    q, q2 = bands.head[0], bands.mid[0]
    agg = (
        Request(0, 4, "facet", q2, facet_key="role", cold=True),
        Request(0, 4, "timeline", q2, lod="year", cold=True),
        Request(0, 4, "subgraph", q, cold=True),
    )[commit % 3]
    matchall = (
        Request(0, 6, "facet_matchall", facet_key="tool"),
        Request(0, 6, "timeline_matchall", lod="month"),
    )[commit % 2]
    return [
        Request(0, 0, "page1_total", q),
        Request(0, 1, "page2", q, page=2),
        Request(0, 2, "page1", bands.head[1]),
        Request(0, 3, "page1", bands.head[2]),
        agg,
        Request(**{**agg.to_json(), "seq": 5, "cold": False}),
        matchall,
    ]
