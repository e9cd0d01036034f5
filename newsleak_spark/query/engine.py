"""Segment-based BM25 query engine (the Elasticsearch replacement).

Execution shape (SURVEY §3.1 "Rebuild shape"):
  parse → QuerySpec → driver-side plan (_plan: dictionary lookup —
  df/idf per query term, partition-pruned point reads — and the
  per-shard scorer) → ONE shard task, score_shards: the shards' segment
  rows of (bucket ∈ query buckets, term ∈ query terms) — hive PARTITION
  pruning on shard and bucket — and, for filtered, unscored or
  counting plans, their filter-surviving docmeta rows; the rows are cut
  per (shard, term) into zero-copy Arrow slices, and the scorer runs
  once per shard on its {term: slice} (numpy varint decode straight off
  each slice's binary data buffers, block-range intersection for AND,
  block-max WAND for the scored-union path, docmeta ids minus must_not
  postings for unscored specs) → per-shard top-k heaps → merge, or,
  for a counting plan (count_by), each shard's untruncated doc set
  counted by a docmeta column or time bucket → (shard, key, n)
  partials → summed. No pandas frame is built on the way. The shard
  task runs in one of two places:
  - the driver, for every shard, over the reader's memoized Sources.
    Dictionary, segment and docmeta rows come from the process-wide
    row-group cache (rowcache.py): each parquet row group is decoded
    once, kept ordered by its key (term, with a term → rows
    directory, or doc_id), and a lookup is a dict probe and a slice.
    ranked_heaps (the getDocs path) and count_hits run here when the
    summed df of a plan's fetched terms is at most LOCAL_MAX_POSTINGS,
    and count_by and matching_doc_ids when that df plus the docmeta
    rows they read is (_driver_sized): no Spark job.
  - Spark tasks (_spark_scored): spark.range over the shard ids spread
    over at most defaultParallelism tasks, mapInArrow, each task
    opening only its own shard (and query bucket) directories, then
    reading parquet (the term predicate pushed to row groups) and
    scoring one shard at a time. No segment bytes enter the JVM and no
    row is shuffled; the caller merges (TakeOrderedAndProject for
    search). search, search_heaps and the larger plans of the routed
    entries use it.
  Segment files are not term-sorted (the build's partitionBy write
  drops its sort), so neither place may rely on a row order in a file.

Block-max WAND decodes every union term once and bounds each doc
chunk by one rule: a term adds to the chunk's bound only when it has
a posting inside the chunk, and it adds the largest block max among
its blocks overlapping the chunk.

Correctness contract: rank-identical (doc_id, score_e6) vs
query/brute.py (and hence vs the DuckDB oracle) — enforced by
tests/test_engine_parity.py. Tie-break (score desc, doc_id asc) pinned
on both sides (SURVEY §7.5.1); scores are float64 summed in query-term
order (§7.5.2); N/avgdl/df come from the manifest snapshot, never
recomputed at query time (§7.5.3).
"""

from __future__ import annotations

from dataclasses import dataclass, replace

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from newsleak_spark.codec import decode_positions_flat, gather_ragged, varint_decode
from newsleak_spark.indexing.manifest import Manifest
from newsleak_spark.query import rowcache
from newsleak_spark.query.rowcache import Source, open_source, read_groups, read_rows, read_runs
from newsleak_spark.query.spec import QuerySpec

K1 = 1.2
B = 0.75


@dataclass
class TermMeta:
    term: str
    df: float
    idf: float
    required: bool


class IndexReader:
    """Driver-side handle on an index (base + registered deltas).

    With deltas present, collection stats are COMBINED at read time
    (N and sum_dl add; df sums per term), so BM25 scores equal a
    from-scratch build's exactly; ``multi`` flags the scorer to use
    stats-independent block bounds (each part's stored max_score was
    computed under that part's own snapshot stats)."""

    def __init__(self, spark: SparkSession, index_dir: str):
        import os

        from newsleak_spark.indexing.build import list_deltas

        self.spark = spark
        self.index_dir = index_dir
        self.parts = [index_dir] + [
            os.path.join(index_dir, d) for d in list_deltas(index_dir)
        ]
        self.man = Manifest(index_dir)
        mans = [self.man] + [Manifest(p) for p in self.parts[1:]]
        for p, m in zip(self.parts, mans):
            # n_docs == 0 is a legal (empty) part; only MISSING stats
            # mean an unfinished build
            if m.stats.get("n_docs") is None:
                raise ValueError(f"no built index at {p}")
            if m.config.get("_hash") != self.man.config.get("_hash"):
                raise ValueError(f"delta {p} was built with a different config")
        self.multi = len(self.parts) > 1
        n = sum(int(m.stats["n_docs"]) for m in mans)
        sum_dl = sum(int(m.stats["sum_dl"]) for m in mans)
        self.n_docs = float(n)
        self.avgdl = sum_dl / n if n else 0.0
        self.n_shards = int(self.man.config["n_shards"])
        self.n_buckets = int(self.man.config["n_term_buckets"])
        # bigram-sidecar coverage: a pair (a,b) is covered — "bigram
        # absent ⇒ no adjacency anywhere" — only when EVERY part
        # extracted it, i.e. a,b are in the intersection of the parts'
        # extraction-time hot sets (manifest stats.bigram_terms). Any
        # part without the sidecar stage kills coverage (fallback to
        # unigram position verification; results identical either way).
        bts = [m.stats.get("bigram_terms") for m in mans]
        if all(bt is not None for bt in bts):
            self.bigram_cover: frozenset = frozenset(
                set.intersection(*(set(bt) for bt in bts))
            )
        else:
            self.bigram_cover = frozenset()
        self._pa_datasets: dict = {}

    def _pa_dataset(self, path: str) -> Source | None:
        """The cached-read Source of the pyarrow dataset at ``path``, or
        None when the part has no files there (no or an empty sidecar, an
        empty base part). Dataset discovery walks the hive partition tree
        and stats every file — driver-serial IO worth paying once per
        reader, not once per query (invalidation rides the reader's)."""
        import os

        import pyarrow.dataset as ds

        if path not in self._pa_datasets:
            dataset = None
            if os.path.isdir(path):
                dataset = ds.dataset(path, format="parquet", partitioning="hive")
            self._pa_datasets[path] = open_source(dataset) if dataset is not None and dataset.files else None
        return self._pa_datasets[path]

    def dictionary_rows(self, terms: list[str]) -> dict[str, tuple[int, int]]:
        """term → (df, cf): a driver-side lookup in ONLY the buckets the
        query terms hash to (hive partition pruning, then row-group term
        statistics), served from the row-group cache — the
        term-dictionary lookup of a search engine, not a Spark job. The
        per-bucket dictionary partition stays small at any collection
        size because n_term_buckets scales with the term count."""
        if not terms:
            return {}
        from newsleak_spark.indexing.build import BIGRAM_SEP

        unigrams = [t for t in terms if BIGRAM_SEP not in t]
        bigrams = [t for t in terms if BIGRAM_SEP in t]
        out: dict[str, tuple[int, int]] = {}
        for sub, ts in (("dictionary", unigrams), ("bigram_dictionary", bigrams)):
            if not ts:
                continue
            buckets = sorted({_bucket(t, self.n_buckets) for t in ts})
            for src in self.part_datasets(sub):
                tbl = read_rows(src, "term", ts, ["term", "df", "cf"], {"bucket": buckets})
                for t, d, c in zip(
                    tbl["term"].to_pylist(), tbl["df"].to_pylist(), tbl["cf"].to_pylist()
                ):
                    pd_, pc = out.get(t, (0, 0))
                    out[t] = (pd_ + int(d), pc + int(c))
        return out

    def part_datasets(self, sub: str) -> list[Source]:
        """Every part's memoized Source at ``sub`` that has files: the
        driver's file discovery for score_shards and dictionary_rows,
        whose segment and dictionary reads go through the row-group
        cache."""
        return [d for d in (self._pa_dataset(f"{p}/{sub}") for p in self.parts) if d is not None]

    def segment_rows(self, terms: list[str], with_positions: bool) -> pa.Table:
        """Every shard's segment rows of ``terms`` as score_shards reads
        them in the driver (the row-group cache), in one table: no Spark
        job."""
        buckets = sorted({_bucket(t, self.n_buckets) for t in terms})
        by_shard = _segment_rows(self.part_datasets("segments"), terms, buckets, with_positions)
        runs = [rows for by_term in by_shard.values() for rows in by_term.values()]
        return pa.concat_tables(runs) if runs else pa.table({})

    def meta_filter(self, spec: QuerySpec):
        """The spec's F2/F5 filters as a pyarrow expression over this
        index's docmeta (brute.arrow_filter; None without filters)."""
        from newsleak_spark.query.brute import arrow_filter

        docmeta = self.part_datasets("docmeta")
        return arrow_filter(self.spark, spec, docmeta[0].dataset.schema.field("ts").type) if docmeta else None


def _bucket(term: str, n_buckets: int) -> int:
    # driver-side mirror of F.pmod(F.xxhash64(term), n): pure-Python
    # XXH64 (parity pinned by test_xxh64_matches_spark) — no Spark job
    # for term→bucket routing.
    from newsleak_spark.xxh import term_bucket

    return term_bucket(term, n_buckets)


# ---------------------------------------------------------------------------
# per-shard scorer (called by score_shards, in the driver or a Spark task)
# ---------------------------------------------------------------------------

def _stream(col) -> np.ndarray:
    """A binary column's values back to back, as uint8: for each chunk,
    a zero-copy view of its data buffer from the chunk's first offset
    to its last. The same bytes as joining the column's Python values,
    without a bytes object per block; only a column of several chunks
    is copied, once, to join them. The segment columns hold no nulls."""
    parts = []
    for a in col.chunks:
        if len(a) == 0:
            continue
        _validity, offsets, data = a.buffers()
        off = np.frombuffer(offsets, np.int32)  # parquet BYTE_ARRAY reads as binary
        lo, hi = int(off[a.offset]), int(off[a.offset + len(a)])
        if hi > lo:
            parts.append(np.frombuffer(data, np.uint8)[lo:hi])
    if not parts:
        return np.empty(0, np.uint8)
    return parts[0] if len(parts) == 1 else np.concatenate(parts)


def _decode_term_blocks(rows: pa.Table, want_positions: bool):
    """Concatenate a term's (possibly salted) block runs — an Arrow
    slice of its segment rows — into one sorted posting list: (docs,
    tfs, dls, positions|None).

    Varint streams are self-delimiting, so all blocks decode in ONE
    pass per column (_stream's view of the column's data buffer → one
    vectorized varint_decode) — no per-block Python loop and no copy
    of the bytes. Doc deltas reset to absolute at block starts; the
    reset points are recovered from the per-block ``n``. positions is
    a ragged (counts, flat) pair, never Python lists.
    """
    ns = rows["n"].to_numpy().astype(np.int64)
    block_starts = np.concatenate(([0], np.cumsum(ns)))[:-1]
    # .view, not .astype: decoded values are < 2^63 (doc ids / tfs /
    # dls), so the reinterpret is exact and skips three full-array
    # copies per term in the bandwidth-bound scoring path
    deltas = varint_decode(_stream(rows["docs"])).view(np.int64)
    c = np.cumsum(deltas)
    base = c[block_starts] - deltas[block_starts]
    docs = c - np.repeat(base, ns)
    # bigram-sidecar blocks are membership-only (slim encode,
    # build._encode_group): their tf/dl streams are empty bytes —
    # decode as all-ones rather than an empty array so the shared
    # sort/gather below stays shape-correct (the values are never
    # used: sidecar terms are peeled off before any scoring)
    tb, lb = _stream(rows["tfs"]), _stream(rows["dls"])
    tfs = varint_decode(tb).view(np.int64) if tb.size else np.ones(docs.size, np.int64)
    dls = varint_decode(lb).view(np.int64) if lb.size else np.ones(docs.size, np.int64)
    order = np.argsort(docs, kind="stable")  # salted runs interleave
    docs, tfs, dls = docs[order], tfs[order], dls[order]
    if want_positions:
        counts, flat = decode_positions_flat(_stream(rows["poscnt"]), _stream(rows["posflat"]))
        pos = gather_ragged(counts, flat.astype(np.int64), order)
    else:
        pos = None
    return docs, tfs, dls, pos


def _prune_blocks_by_range(rows: pa.Table, cand: np.ndarray) -> pa.Table:
    """Keep only blocks whose [doc_first, doc_last] contains ≥1 candidate
    (the AND-path analog of WAND skipping: candidate-driven block skip).
    ``rows`` itself when every block is kept."""
    lo = np.searchsorted(cand, rows["doc_first"].to_numpy())
    hi = np.searchsorted(cand, rows["doc_last"].to_numpy(), side="right")
    keep = hi > lo
    return rows if keep.all() else rows.filter(pa.array(keep))


def _bm25(tf: np.ndarray, dl: np.ndarray, idf: float, avgdl: float) -> np.ndarray:
    return idf * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))


def _make_shard_scorer(
    metas: list[TermMeta],
    phrases: tuple[tuple[str, ...], ...],
    avgdl: float,
    k: int,
    truncate: bool = True,
    count: bool = False,
    safe_bounds: bool = False,
    neg_terms: tuple[str, ...] = (),
    phrase_plans: tuple | None = None,
):
    """Returns ``score(by_term, allowed=None)``, which scores one
    shard's segment rows into (doc_id, score, hits) arrays.
    ``by_term`` maps each fetched term to the zero-copy Arrow slice of
    its rows in that shard (_by_shard_term; a term with no rows there
    is absent). ``allowed`` is the shard's sorted filter-surviving doc
    ids (None when no docmeta is read), so filtering happens
    shard-locally and per-shard top-k truncation stays on — no
    untruncated candidate set ever leaves a shard. With no ``metas`` (match-all, filters-only, not-only specs)
    the candidates are ``allowed`` minus the must_not postings, each at
    score 1.0.

    ``hits`` is the shard's match count after every filter, negation
    and phrase check, taken BEFORE the top-k cut — the total rides the
    ranked job. The required path (AND / phrase / must_not) holds the
    count anyway. The scored-union path counts every chunk's surviving
    docs, which is exact only when no chunk is skipped: ``count`` turns
    block-max skipping off (the running heap truncation stays on);
    without it a union shard's ``hits`` is a lower bound. A shard with
    no match returns empty arrays and 0.

    ``phrase_plans`` (one per phrase, aligned with ``phrases``):
    (tokens, pairs, fully) where pairs[i] = (i, bigram_term | None) —
    a bigram term is set when the adjacent pair (tokens[i],
    tokens[i+1]) is covered by the index's hot-pair sidecar. Covered
    pairs prune candidates by cheap doc-membership BEFORE any
    position decode (the sidecar stores doc lists only, no
    positions); a fully covered len-2 phrase never decodes positions
    at all — membership IS adjacency. Longer phrases verify with
    unigram positions decoded AFTER the membership pruning, so only
    the surviving (typically tiny) candidate set pays position IO.
    None → every pair uncovered (pure unigram verification, the
    pre-sidecar behavior).
    """
    required = [m for m in metas if m.required]
    if phrase_plans is None:
        phrase_plans = tuple(
            (p, tuple((i, None) for i in range(len(p) - 1)), False) for p in phrases
        )
    # unigram positions are skipped only for fully covered len-2
    # phrases (membership == adjacency); every other phrase verifies
    # with unigram positions over the membership-pruned candidates
    phrase_terms = {
        t
        for toks, _pairs, fully in phrase_plans
        if not (fully and len(toks) == 2)
        for t in toks
    }
    bigram_terms = {bt for _toks, pairs, _f in phrase_plans for _i, bt in pairs if bt}
    idf = {m.term: m.idf for m in metas}
    req_order = sorted(required, key=lambda m: (m.df, m.term))  # rarest first
    empty = (np.empty(0, np.int64), np.empty(0, np.float64), 0)

    def _score(by_term: dict, allowed: np.ndarray | None = None):
        if allowed is not None and allowed.size == 0:
            return empty
        by_term = dict(by_term)  # the peels below leave the caller's dict whole
        # must_not postings never score: peel them off before any path
        # looks at by_term. Their blocks are decoded candidate-pruned
        # (only block ranges overlapping surviving candidates pay IO).
        neg = {t: by_term.pop(t) for t in neg_terms if t in by_term}
        # bigram sidecar postings never score either: they exist only
        # for the phrase filter
        bg = {t: by_term.pop(t) for t in bigram_terms if t in by_term}
        if any(m.term not in by_term for m in required):
            return empty

        if not metas:
            cand = allowed[~_excluded_mask(allowed, neg)] if neg else allowed
            out_docs, out_scores, hits = cand, np.ones(cand.size), cand.size
        elif required:
            cand, per_term = _intersect_required(by_term)
            if cand is None or cand.size == 0:
                return empty
            if allowed is not None:
                mask = _member_mask(cand, allowed)
                cand = cand[mask]
                per_term = {t: (v[0][mask], v[1][mask]) for t, v in per_term.items()}
                if cand.size == 0:
                    return empty
            if neg:
                # exclusion BEFORE phrase checks: excluded docs never
                # pay position decode
                mask = ~_excluded_mask(cand, neg)
                cand = cand[mask]
                per_term = {t: (v[0][mask], v[1][mask]) for t, v in per_term.items()}
                if cand.size == 0:
                    return empty
            if phrases:
                cand, per_term = _phrase_apply(cand, per_term, by_term, bg)
                if cand.size == 0:
                    return empty
            score = np.zeros(cand.size, dtype=np.float64)
            # fixed term order (query order) for float determinism
            for m in metas:
                if m.required:
                    tfv, dlv = per_term[m.term]
                    score += _bm25(tfv, dlv, m.idf, avgdl)
                elif m.term in by_term:
                    score += _optional_contrib(m.term, by_term[m.term], cand)
            out_docs, out_scores, hits = cand, score, cand.size
        else:
            # scored union (OR / boost-only): block-max WAND
            # must_not inside the union loop (NOT post-hoc: an excluded
            # doc in the running top-k would raise θ and wrongly prune
            # chunks holding valid docs). Union candidates stream, so
            # the neg lists can't be candidate-pruned — decode each
            # once up front (sorted) and membership-test per chunk.
            neg_arrays = [
                _decode_term_blocks(g, False)[0] for g in neg.values()
            ] if neg else []
            out_docs, out_scores, hits = _bmw_union(
                by_term, [m for m in metas if m.term in by_term], allowed, neg_arrays
            )
        if out_docs.size == 0:
            return empty
        if truncate and out_docs.size > k:
            # per-shard top-k: order by the ROUNDED score (score_e6) the
            # global merge uses, so sub-1e-6 raw-float differences can't
            # drop a doc that ties at e6 precision but wins the doc_id
            # tie-break
            order = np.lexsort((out_docs, -_score_e6(out_scores)))[:k]
            out_docs, out_scores = out_docs[order], out_scores[order]
        return out_docs.astype(np.int64), out_scores, hits

    def _member_mask(docs, allowed):
        idx = np.searchsorted(allowed, docs)
        idx_c = np.minimum(idx, allowed.size - 1)
        return (idx < allowed.size) & (allowed[idx_c] == docs)

    def _excluded_mask(docs, neg):
        """True where a doc appears in ANY must_not term's postings.
        Each neg list decodes only blocks whose [doc_first, doc_last]
        range overlaps a surviving candidate — a hot excluded term
        never pays full decode against a selective query."""
        mask = np.zeros(docs.size, dtype=bool)
        for g in neg.values():
            rows = _prune_blocks_by_range(g, docs)
            if rows.num_rows == 0:
                continue
            ndocs = _decode_term_blocks(rows, False)[0]
            mask |= _member_mask(docs, ndocs)
        return mask

    # -- helpers bound to closure -------------------------------------------

    def _intersect_required(by_term):
        """Rarest-first sorted intersection with candidate-driven block
        pruning; returns (cand, {term: (tf, dl)}). Positions are NOT
        decoded here — _positions_for runs after the intersection."""
        m0 = req_order[0]
        docs, tfs, dls, _ = _decode_term_blocks(by_term[m0.term], False)
        cand = docs
        per = {m0.term: (tfs, dls)}
        dl_ref = dls
        for m in req_order[1:]:
            rows = _prune_blocks_by_range(by_term[m.term], cand)
            if rows.num_rows == 0:
                return None, None
            tdocs, ttfs, _tdls, _ = _decode_term_blocks(rows, False)
            idx = np.searchsorted(tdocs, cand)
            idx_c = np.minimum(idx, tdocs.size - 1)
            mask = tdocs[idx_c] == cand
            mask &= idx < tdocs.size
            cand = cand[mask]
            dl_ref = dl_ref[mask]
            for t in per:
                tfv, dlv = per[t]
                per[t] = (tfv[mask], dlv[mask])
            sel = idx_c[mask]
            per[m.term] = (ttfs[sel], dl_ref)
            if cand.size == 0:
                return None, None
        return cand, per

    def _positions_for(rows_by_term, cand, terms):
        """Ragged positions aligned to cand for each term: prune blocks
        to the surviving candidate range, decode, and gather the
        candidate postings (cand ⊆ term docs — phrase terms are
        required; bigram terms membership-pruned cand first)."""
        out = {}
        for t in terms:
            rows = _prune_blocks_by_range(rows_by_term[t], cand)
            tdocs, _ttfs, _tdls, tpos = _decode_term_blocks(rows, True)
            idx = np.searchsorted(tdocs, cand)
            out[t] = gather_ragged(*tpos, idx)
        return out

    def _empty_cand(per_term):
        z = np.empty(0, dtype=np.int64)
        return z, {t: (v[0][:0], v[1][:0]) for t, v in per_term.items()}

    def _phrase_apply(cand, per_term, by_term, bg):
        """Phrase filtering over the candidate set, sidecar-aware.

        Pass 1 — every COVERED adjacent pair prunes cand by membership
        in its bigram doc list (candidate-pruned block decode, no
        positions). A covered pair with no postings in this shard
        means no adjacency in any of this shard's docs → empty.
        Pass 2 — position verification on the reduced cand: fully
        covered len-2 phrases are already exact; every other phrase
        verifies with unigram positions (decoded late, AFTER the
        membership pruning — only surviving candidate blocks pay IO)."""
        for _toks, pairs, _fully in phrase_plans:
            for _off, bt in pairs:
                if bt is None:
                    continue
                g = bg.get(bt)
                if g is None:
                    return _empty_cand(per_term)
                rows = _prune_blocks_by_range(g, cand)
                if rows.num_rows == 0:
                    return _empty_cand(per_term)
                bdocs = _decode_term_blocks(rows, False)[0]
                mask = _member_mask(cand, bdocs)
                cand = cand[mask]
                per_term = {t: (v[0][mask], v[1][mask]) for t, v in per_term.items()}
                if cand.size == 0:
                    return cand, per_term
        positions = (
            _positions_for(by_term, cand, phrase_terms) if phrase_terms else {}
        )
        keep = np.ones(cand.size, dtype=bool)
        for toks, pairs, fully in phrase_plans:
            if fully and len(toks) == 2:
                continue  # the single bigram's membership IS adjacency
            inter = None
            for off, t in enumerate(toks):
                keys = _phrase_keys(positions[t], off)
                inter = keys if inter is None else np.intersect1d(
                    inter, keys, assume_unique=True
                )
                if inter.size == 0:
                    break
            pkeep = np.zeros(cand.size, dtype=bool)
            if inter is not None and inter.size:
                pkeep[np.unique(inter >> 32)] = True
            keep &= pkeep
        cand = cand[keep]
        per_term = {t: (v[0][keep], v[1][keep]) for t, v in per_term.items()}
        return cand, per_term

    def _phrase_keys(pos_pair, off):
        """Ragged (counts, flat) positions → sorted unique int64 keys
        (cand_idx << 32 | (pos - off + 1)); a key present for every
        token offset of a phrase marks a phrase start. 32-bit position
        field: positions are stored int32, so no document length can
        overflow into the candidate-index field."""
        counts, flat = pos_pair
        if flat.size == 0:
            return np.empty(0, dtype=np.int64)
        docidx = np.repeat(np.arange(counts.size, dtype=np.int64), counts)
        shifted = flat.astype(np.int64) - off + 1  # +1 keeps pos=0,off=1 non-negative
        keys = (docidx << 32) | shifted
        keys = keys[shifted >= 0]
        return np.unique(keys)

    def _optional_contrib(term, rows, cand):
        rows = _prune_blocks_by_range(rows, cand)
        out = np.zeros(cand.size, dtype=np.float64)
        if rows.num_rows == 0:
            return out
        tdocs, ttfs, tdls, _ = _decode_term_blocks(rows, False)
        idx = np.searchsorted(tdocs, cand)
        idx_c = np.minimum(idx, tdocs.size - 1)
        mask = (idx < tdocs.size) & (tdocs[idx_c] == cand)
        sel = idx_c[mask]
        out[mask] = _bm25(ttfs[sel], tdls[sel], idf[term], avgdl)
        return out

    def _bmw_union(by_term, present, allowed=None, neg_arrays=()):
        """Block-max WAND over the union of posting lists.

        Every union term decodes once, up front (_decode_term_blocks:
        one vectorized varint pass per column, doc-sorted). Doc space
        is chunked at the union of block boundaries; a chunk is scored
        only when its upper bound Σ_t ub_t can beat the current k-th
        best (θ). One bound rule for every term: a term adds to chunk
        [lo, hi] only when it has a posting inside it (two searchsorted
        calls on its decoded docs), and what it adds is the largest
        block max among its blocks overlapping the chunk. A rare
        term's single shard-wide block so bounds only the chunks that
        hold its postings, and a hot term adds nothing to a chunk that
        falls in a gap between its postings.

        Also returns the number of docs that survived the filters
        across the scored chunks (exact when ``count`` disables
        skipping).
        """
        if not present:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64), 0
        terms = []
        for m in present:
            r = by_term[m.term]
            if safe_bounds:
                # stats-independent bound: stored max_score was computed
                # under the part's OWN snapshot stats, invalid once
                # deltas change N/avgdl/df. For any dl, avgdl > 0:
                # tf_norm ≤ tf(k1+1)/(tf+k1(1-b)), monotone in tf →
                # bound from stored max_tf.
                mt = r["max_tf"].to_numpy().astype(np.float64)
                bnds = m.idf * mt * (K1 + 1.0) / (mt + K1 * (1.0 - B))
            else:
                bnds = r["max_score"].to_numpy().astype(np.float64)
            firsts = r["doc_first"].to_numpy().astype(np.int64)
            lasts = r["doc_last"].to_numpy().astype(np.int64)
            terms.append((m, firsts, lasts, bnds, *_decode_term_blocks(r, False)[:3]))
        bounds = np.unique(
            np.concatenate([t[1] for t in terms] + [t[2] + 1 for t in terms])
        )
        top_docs = np.empty(0, dtype=np.int64)
        top_scores = np.empty(0, dtype=np.float64)
        theta_e6 = -np.inf  # θ in the rounded score_e6 domain the merge uses
        # batch boundary intervals into ~256 groups: skipping power is
        # slightly coarser (group-max bound instead of block-max) but
        # the Python-level loop shrinks from O(blocks) to ~256 rounds;
        # scoring inside a surviving group is exact either way
        n_iv = bounds.size - 1
        group = max(1, n_iv // 256)
        hits = 0
        for ci in range(0, n_iv, group):
            lo = int(bounds[ci])
            hi = int(bounds[min(ci + group, n_iv)]) - 1
            ub = 0.0
            active = []
            for m, firsts, lasts, bnds, tdocs, ttfs, tdls in terms:
                inlo = np.searchsorted(tdocs, lo)
                inhi = np.searchsorted(tdocs, hi, side="right")
                if inhi > inlo:
                    # a posting in [lo, hi] lies in some block overlapping
                    # the chunk, so the selection is never empty
                    ub += float(bnds[(firsts <= hi) & (lasts >= lo)].max())
                    active.append((m, tdocs[inlo:inhi], ttfs[inlo:inhi], tdls[inlo:inhi]))
            # skip only when every chunk score must round BELOW θ_e6 —
            # an e6-tied score could still win the doc_id tie-break;
            # a counting shard must see every chunk's matches
            if not active or (
                truncate and not count and top_docs.size >= k
                and ub * 1e6 < theta_e6 - 0.5
            ):
                continue  # BMW skip
            # fixed term order (query order) for float determinism
            docs_cat = np.concatenate([a[1] for a in active])
            contrib_cat = np.concatenate(
                [_bm25(tfv, dlv, m.idf, avgdl) for m, _docs, tfv, dlv in active]
            )
            uniq, inv = np.unique(docs_cat, return_inverse=True)
            sc = np.zeros(uniq.size, dtype=np.float64)
            np.add.at(sc, inv, contrib_cat)
            if allowed is not None:
                amask = _member_mask(uniq, allowed)
                uniq, sc = uniq[amask], sc[amask]
                if uniq.size == 0:
                    continue
            for narr in neg_arrays:
                if narr.size:
                    keep = ~_member_mask(uniq, narr)
                    uniq, sc = uniq[keep], sc[keep]
                    if uniq.size == 0:
                        break
            if uniq.size == 0:
                continue
            hits += uniq.size
            top_docs = np.concatenate([top_docs, uniq])
            top_scores = np.concatenate([top_scores, sc])
            if truncate and top_docs.size > k:
                order = np.lexsort((top_docs, -_score_e6(top_scores)))[:k]
                top_docs, top_scores = top_docs[order], top_scores[order]
                theta_e6 = float(_score_e6(top_scores).min())
        return top_docs, top_scores, hits

    return _score


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------

_READER_CACHE: dict = {}


def index_state_key(index_dir: str) -> tuple:
    """(manifest generation, manifest mtime, deltas mtime) — changes
    whenever the index mutates (rebuild, append_index, compaction
    registration). Shared invalidation key for the reader cache here
    and the API hit/aggregation caches (api.NewsleakAPI folds it into
    its keys so cached collected rows never outlive the index state
    that produced them). The generation counter (bumped on every
    manifest write) makes invalidation independent of filesystem
    timestamp granularity; mtimes stay in the key for pre-generation
    indexes and for deltas.json registration."""
    import os

    # the generation sidecar is a few bytes — reading its CONTENT per
    # call is as cheap as a stat and never depends on timestamps
    try:
        with open(os.path.join(index_dir, "generation")) as f:
            gen = int(f.read().strip() or 0)
    except (OSError, ValueError):
        gen = 0
    try:
        mtime = os.path.getmtime(os.path.join(index_dir, "manifest.json"))
    except OSError:
        mtime = 0.0
    try:
        dmtime = os.path.getmtime(os.path.join(index_dir, "deltas.json"))
    except OSError:
        dmtime = 0.0
    return (gen, mtime, dmtime)


def row_cache_stats() -> dict:
    """The driver's row-group cache counters (rowcache.ROW_CACHE):
    hits, misses, evictions, resident entries and bytes, and the
    budget."""
    return rowcache.ROW_CACHE.stats()


def _cached_reader(spark: SparkSession, index_dir: str) -> IndexReader:
    """Reader memo, one entry per index_dir — repeated queries skip
    manifest/config re-reads and dataset discovery, and readers of
    different indexes never evict each other. An entry is replaced only
    when its dir's index_state_key changes (the index mutated) or the
    session differs."""
    state = index_state_key(index_dir)
    hit = _READER_CACHE.get(index_dir)
    if hit is not None and hit[0] == state and hit[1].spark is spark:
        return hit[1]
    rd = IndexReader(spark, index_dir)
    _READER_CACHE[index_dir] = (state, rd)
    return rd


def _reader(
    spark: SparkSession, index_dir: str, reader: IndexReader | None
) -> IndexReader:
    """The caller's reader or the cached one for ``index_dir``, after
    shipping the package to the workers that will run the scorer."""
    from newsleak_spark.session import ensure_workers_can_import

    ensure_workers_can_import(spark)
    return reader or _cached_reader(spark, index_dir)


CANDIDATE_SCHEMA = "shard int, doc_id long, score_e6 long, hits long"

# Router: a ranked query whose summed combined df over every fetched
# term is at most this many is scored in the driver; larger ones run as
# Spark shard tasks. Docmeta filters are not counted. Measured against
# the shard-task Spark executor at 200k and 2M turns (BASELINE.md, "One
# shard task behind every engine result"): AND, must_not and filtered
# plans win in the driver to ~1.5M rows and tie at ~2M. Phrases that
# verify positions lose from ~0.7M, but a bound that low would send the
# AND and filtered plans between 0.7M and 1.5M rows to Spark.
LOCAL_MAX_POSTINGS = 1_500_000

# Build stage 5 (segments) encodes in the driver when its input rows
# (unigram plus bigram-sidecar postings) are at most this many, and as a
# Spark shuffle above (build._driver_segments / _spark_segments).
# Measured on 4 cores with the default 8x32 layout (BASELINE.md
# "Segments stage in the driver"), the driver stage took 2.2-4.5 s
# against Spark's 7.1-16.9 s at 0.36M-1.45M rows and 6.6-7.6 s against
# 14.1-15.9 s at 5.8M: no crossover, the gap widening with size. So the
# bound is the driver's memory instead, which holds every input row: the
# process peaked at 0.26 GB RSS at 0.36M rows and 1.07 GB at 5.8M, the
# largest size measured, which 6M rounds.
LOCAL_MAX_SEGMENT_ROWS = 6_000_000


# The docmeta columns a facet counts in the shard task (count_by); a
# facet on any other table column semi-joins the table.
META_FACETS = ("role", "tool")


@dataclass(frozen=True)
class Agg:
    """What score_shards counts in place of ranking: the matched docs
    by value of the docmeta ``column``, or, with ``lod``, by time
    bucket of ``ts`` in time zone ``zone`` (facets.bucket_ordinals)."""

    column: str
    lod: str | None = None
    zone: str | int | None = None


@dataclass
class _Plan:
    """A spec's driver-side plan: what score_shards reads and the
    scorer it calls per shard."""

    scorer: object  # _make_shard_scorer's per-shard function
    fetch_terms: list[str]  # every term whose segment rows are read
    buckets: list[int]  # the term buckets of fetch_terms
    positions: bool  # read the position columns (phrase specs)
    meta: bool  # read each shard's docmeta ids (filtered or unscored specs)
    meta_filter: object  # the F2/F5 filters as a pyarrow expression, or None
    postings: int  # summed df of fetch_terms: the router's size estimate
    meta_columns: tuple = ()  # the docmeta columns meta_filter reads
    agg: Agg | None = None  # count the matched docs instead of ranking them


def _plan(rd: IndexReader, spec: QuerySpec, truncate: bool, count: bool) -> _Plan | None:
    """The driver-side step of the candidate pipeline: dictionary
    lookup → term metadata → the shard scorer. ``truncate`` keeps the
    per-shard top-k heap on (ranked search) or off (full doc-set);
    ``count`` makes every shard's ``hits`` exact (see
    _make_shard_scorer). None when the spec cannot match (a required
    term, or every should term, absent from the collection)."""
    if spec.phrases and not rd.man.config.get("with_positions", True):
        raise ValueError(
            f"index at {rd.index_dir} was built with with_positions=False; "
            "phrase queries need a positions-bearing index"
        )
    filtered = bool(spec.role_filter or spec.tool_filter or spec.ts_from or spec.ts_to)
    required = list(spec.all_scored_terms())
    boost = [t for t in spec.boost_terms if t not in required]
    if any(t in spec.not_terms for t in required):
        return None  # `a -a`: must AND must_not on one term → no hits
    neg = [t for t in spec.not_terms if t not in boost]
    all_terms = required + boost
    # hot-pair bigram sidecar plan: an adjacent phrase pair with BOTH
    # tokens in the index's coverage set is looked up as a synthetic
    # bigram term — membership prunes candidates before any position
    # decode, and a fully covered phrase skips unigram position IO
    # entirely (scoring is untouched: unigrams score BM25 as always,
    # so rank identity with the brute oracle is preserved)
    phrase_plans = None
    bigram_fetch: list[str] = []
    if spec.phrases and rd.bigram_cover:
        from newsleak_spark.indexing.build import BIGRAM_SEP

        plans = []
        for p in spec.phrases:
            pairs = tuple(
                (
                    i,
                    p[i] + BIGRAM_SEP + p[i + 1]
                    if p[i] in rd.bigram_cover and p[i + 1] in rd.bigram_cover
                    else None,
                )
                for i in range(len(p) - 1)
            )
            plans.append((p, pairs, bool(pairs) and all(bt for _i, bt in pairs)))
        phrase_plans = tuple(plans)
        bigram_fetch = sorted({bt for _p, prs, _f in plans for _i, bt in prs if bt})
    dict_rows = rd.dictionary_rows(all_terms + neg + bigram_fetch)
    # a COVERED pair absent from the combined bigram dictionary was
    # extracted by every part and found nowhere → the phrase has no
    # adjacency anywhere in the collection → no hits (phrases are
    # required terms)
    if any(t not in dict_rows for t in required + bigram_fetch):
        return None
    all_terms = [t for t in all_terms if t in dict_rows]
    if spec.scored() and not all_terms:
        return None  # should-only: no should term occurs anywhere
    # a must_not term absent from the collection excludes nothing; a
    # negated boost term stays in the fetch list only once (the scorer
    # peels its postings into the neg set before any scoring looks)
    neg = tuple(t for t in spec.not_terms if t in dict_rows)
    metas = [
        TermMeta(
            t,
            float(dict_rows[t][0]),
            float(np.log(1.0 + (rd.n_docs - dict_rows[t][0] + 0.5) / (dict_rows[t][0] + 0.5))),
            t in required,
        )
        for t in all_terms
    ]
    fetch_terms = all_terms + [t for t in neg if t not in all_terms] + bigram_fetch
    scorer = _make_shard_scorer(
        metas, spec.phrases, rd.avgdl, spec.k, truncate=truncate, count=count,
        safe_bounds=rd.multi, neg_terms=neg, phrase_plans=phrase_plans,
    )
    return _Plan(
        scorer,
        fetch_terms,
        sorted({_bucket(t, rd.n_buckets) for t in fetch_terms}),
        positions=bool(spec.phrases),
        meta=filtered or not metas,
        meta_filter=rd.meta_filter(spec) if filtered else None,
        postings=sum(dict_rows[t][0] for t in fetch_terms),
        meta_columns=tuple(
            c for c, on in (
                ("role", spec.role_filter), ("tool", spec.tool_filter), ("ts", spec.ts_from or spec.ts_to),
            ) if on
        ),
    )


def _segment_rows(
    sources: list[Source], terms: list[str], buckets: list[int], with_positions: bool, shards=None
) -> dict[int, dict[str, pa.Table]]:
    """shard → {term: that shard's segment rows of the term}: hive
    partition pruning on bucket (and shard), then the term rows — from
    the row-group cache as zero-copy slices (read_runs) for the
    driver's Sources, one filtered parquet read cut by _by_shard_term
    for a Spark task's — with no position columns unless asked;
    positions live in separate columns so term-only queries never pay
    their IO (SURVEY §7.5.5). A term's rows from several parts or row
    groups are concatenated in part, then file order."""
    part = {"bucket": buckets} if shards is None else {"bucket": buckets, "shard": shards}
    runs: dict[int, dict[str, list]] = {}
    for s in sources:
        cols = [c for c in s.dataset.schema.names if with_positions or c not in ("poscnt", "posflat")]
        if s.stats is None:
            got = (
                (shard, t, rows)
                for shard, by_term in _by_shard_term(read_rows(s, "term", terms, cols, part)).items()
                for t, rows in by_term.items()
            )
        else:
            got = ((p["shard"], t, rows) for p, t, rows in read_runs(s, "term", terms, cols, part))
        for shard, t, rows in got:
            runs.setdefault(shard, {}).setdefault(t, []).append(rows)
    return {
        shard: {t: v[0] if len(v) == 1 else pa.concat_tables(v) for t, v in by_term.items()}
        for shard, by_term in runs.items()
    }


def _by_shard_term(seg: pa.Table) -> dict[int, dict[str, pa.Table]]:
    """shard → {term: that shard's rows of the term}: ``seg`` ordered
    once by (shard, term) — the term dictionary-encoded, one lexsort,
    one take — and cut into zero-copy slices. The sort is stable, so
    a term's blocks keep their read order."""
    if seg.num_rows == 0:
        return {}
    term = seg["term"].combine_chunks().dictionary_encode()
    codes = term.indices.to_numpy()
    shard = seg["shard"].to_numpy()
    order = np.lexsort((codes, shard))
    seg, codes, shard = seg.take(order), codes[order], shard[order]
    starts = np.flatnonzero(
        np.concatenate(([True], (codes[1:] != codes[:-1]) | (shard[1:] != shard[:-1])))
    )
    ends = np.append(starts[1:], codes.size)
    names = term.dictionary.to_pylist()
    out: dict[int, dict[str, pa.Table]] = {}
    for lo, hi in zip(starts.tolist(), ends.tolist()):
        out.setdefault(int(shard[lo]), {})[names[codes[lo]]] = seg.slice(lo, hi - lo)
    return out


def _docmeta_rows(sources: list[Source], shards: list[int], columns: list[str], plan: _Plan) -> dict[int, pa.Table]:
    """shard → its docmeta rows with ``columns`` (doc_id first) that
    pass the plan's filters, ordered by doc_id. The driver's cached
    Sources decode each of a shard's row groups once
    (rowcache.read_groups, with the filter's columns) and filter in
    Arrow; a Spark task's uncached Sources push the shard and filter
    predicates into one parquet read."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    flt = plan.meta_filter
    pieces: dict[int, list] = {}
    for s in sources:
        if s.stats is None:
            where = ds.field("shard").isin(shards)
            if flt is not None:
                where &= flt
            tbl = s.dataset.to_table(columns=["shard", *columns], filter=where)
            for shard in np.unique(tbl["shard"].to_numpy()).tolist():
                part = tbl.filter(pc.equal(tbl["shard"], shard)).select(columns)
                pieces.setdefault(shard, []).append(part)
            continue
        read = list(dict.fromkeys([*columns, *plan.meta_columns]))
        for part, tbl in read_groups(s, "doc_id", read, {"shard": shards}):
            if flt is not None:
                tbl = tbl.filter(flt)
            pieces.setdefault(part["shard"], []).append(tbl.select(columns))
    out = {}
    for shard, tables in pieces.items():
        tbl = tables[0] if len(tables) == 1 else pa.concat_tables(tables)
        ids = tbl["doc_id"].to_numpy()
        if (ids[1:] < ids[:-1]).any():
            tbl = tbl.take(np.argsort(ids, kind="stable"))
        out[shard] = tbl
    return out


def _shard_counts(agg: Agg, meta: pa.Table, docs: np.ndarray) -> tuple[pa.Array, np.ndarray]:
    """One shard's (keys, counts) of its matched ``docs`` by ``agg``:
    the docs' rows in ``meta`` (the shard's docmeta, ordered by doc_id;
    every matched doc has one), nulls dropped."""
    import pyarrow.compute as pc

    from newsleak_spark.facets import bucket_ordinals

    idx = np.searchsorted(meta["doc_id"].to_numpy(), docs)
    vals = meta[agg.column].take(idx).combine_chunks().drop_null()
    if agg.lod is None:
        vc = pc.value_counts(vals)
        return vc.field("values").cast(pa.string()), vc.field("counts").to_numpy().astype(np.int64)
    keys, n = np.unique(bucket_ordinals(vals, agg.lod, agg.zone), return_counts=True)
    return pa.array(keys, pa.int64()), n.astype(np.int64)


def score_shards(plan: _Plan, shards, open_parts):
    """The engine's one read-and-score, run in the driver for every
    shard or in a Spark task for its own shards. Reads the plan's
    segment rows and, for filtered, unscored or counting plans, the
    shards' docmeta rows (_docmeta_rows) with pyarrow from the Sources
    ``open_parts(sub)`` returns for ``sub`` in {"segments", "docmeta"}
    (the driver's come from the row-group cache); calls the plan's
    scorer once per shard on that shard's {term: Arrow slice}
    (_segment_rows) and, for filtered or unscored plans, its
    filter-surviving doc ids; rounds with _score_e6.
    Returns a pyarrow Table (shard, doc_id, score_e6, hits), or for a
    plan with an ``agg`` (untruncated) each shard's counts of its
    matched docs, (shard, key, n)."""
    shards = [int(s) for s in shards]
    rows = {}
    if plan.fetch_terms:
        rows = _segment_rows(
            open_parts("segments"), plan.fetch_terms, plan.buckets, plan.positions, shards
        )
    meta = {}
    if plan.meta or plan.agg:
        cols = ["doc_id"] + ([plan.agg.column] if plan.agg else [])
        meta = _docmeta_rows(open_parts("docmeta"), shards, cols, plan)
    out = []
    for s in shards:
        m = meta.get(s)
        allowed = None
        if plan.meta:
            allowed = m["doc_id"].to_numpy() if m is not None else np.empty(0, np.int64)
        docs, scores, hits = plan.scorer(rows.get(s, {}), allowed)
        if plan.agg is None:
            out.append((np.full(docs.size, s, np.int32), docs, scores, np.full(docs.size, hits, np.int64)))
        elif docs.size:
            keys, n = _shard_counts(plan.agg, m, docs)
            out.append((np.full(n.size, s, np.int32), keys, n))
    if plan.agg is not None:
        key_type = pa.string() if plan.agg.lod is None else pa.int64()
        shard, keys, n = zip(*out) if out else ((), (), ())
        return pa.table({
            "shard": np.concatenate([np.empty(0, np.int32), *shard]),
            "key": pa.concat_arrays([pa.array([], key_type), *keys]),
            "n": np.concatenate([np.empty(0, np.int64), *n]),
        })
    out.insert(0, (np.empty(0, np.int32), np.empty(0, np.int64), np.empty(0), np.empty(0, np.int64)))
    shard, doc_id, score, hits = (np.concatenate(c) for c in zip(*out))
    return pa.table({"shard": shard, "doc_id": doc_id, "score_e6": _score_e6(score), "hits": hits})


def _task_scored(plan: _Plan, parts: list[str], shards: list[int]):
    """One Spark task of the Spark executor: score_shards one shard at
    a time, so a task holds one shard's rows however many it owns.
    Its datasets are listed once per task from only the task's
    ``shard=s`` docmeta and ``shard=s/bucket=b`` query-bucket segment
    directories, with no walk of the rest of the hive tree, and read
    parquet directly (uncached Sources). Yields Arrow record batches."""
    import functools
    import os

    import pyarrow.dataset as ds

    @functools.cache
    def open_parts(sub: str) -> list:
        leaves = (
            [f"shard={s}/bucket={b}" for s in shards for b in plan.buckets]
            if sub == "segments"
            else [f"shard={s}" for s in shards]
        )
        out = []
        for part in parts:
            base = os.path.join(part, sub)
            files = [
                os.path.join(base, leaf, f)
                for leaf in leaves
                if os.path.isdir(os.path.join(base, leaf))
                for f in sorted(os.listdir(os.path.join(base, leaf)))
                if not f.startswith(("_", "."))
            ]
            if files:
                out.append(Source(
                    ds.dataset(files, format="parquet", partitioning="hive", partition_base_dir=base)
                ))
        return out

    for s in shards:
        yield from score_shards(plan, [s], open_parts).to_batches()


def _spark_scored(rd: IndexReader, plan: _Plan) -> DataFrame:
    """The Spark executor: the shard ids as ``spark.range`` spread over
    at most defaultParallelism tasks, each running _task_scored for its
    own shards (mapInArrow). Segment bytes never enter the JVM and no
    row is shuffled. Returns (shard, doc_id, score_e6, hits), or a
    counting plan's (shard, key, n)."""
    parts = rd.parts

    def run(batches):
        yield from _task_scored(plan, parts, [s for b in batches for s in b.column(0).to_pylist()])

    schema = CANDIDATE_SCHEMA
    if plan.agg is not None:
        schema = f"shard int, key {'string' if plan.agg.lod is None else 'long'}, n long"
    n_tasks = min(rd.n_shards, rd.spark.sparkContext.defaultParallelism)
    return rd.spark.range(rd.n_shards, numPartitions=n_tasks).mapInArrow(run, schema)


def _driver_sized(rd: IndexReader, plan: _Plan) -> bool:
    """Whether an untruncated plan runs in the driver: its fetched
    postings plus, when it reads docmeta, every docmeta row of the
    collection are at most LOCAL_MAX_POSTINGS. Both bound the rows it
    reads and the doc set it returns."""
    return plan.postings + (rd.n_docs if plan.meta or plan.agg else 0) <= LOCAL_MAX_POSTINGS


def _score_e6(scores) -> np.ndarray:
    """round(score · 1e6) as Spark SQL's round computes it: HALF_UP
    (np.round would round halves to even). Exact for these
    non-negative scores: x - floor(x) is exact in binary floating
    point."""
    x = np.asarray(scores, dtype=np.float64) * 1e6
    lo = np.floor(x)
    return (lo + (x - lo >= 0.5)).astype(np.int64)


def _candidates(
    spark: SparkSession, rd: IndexReader, spec: QuerySpec, truncate: bool, count: bool = False
) -> DataFrame:
    """The one candidate pipeline behind every engine DataFrame result:
    _plan, then the Spark executor. Returns (shard, doc_id, score_e6,
    hits); empty when the spec cannot match."""
    plan = _plan(rd, spec, truncate, count)
    if plan is None:
        return spark.createDataFrame([], CANDIDATE_SCHEMA)
    return _spark_scored(rd, plan)


def ranked_heaps(
    spark: SparkSession, index_dir: str, spec: QuerySpec, count: bool = False
) -> list[dict]:
    """search_heaps' rows, collected, from whichever executor the
    router picks: score_shards over every shard in the driver when the
    plan reads at most LOCAL_MAX_POSTINGS segment rows (no Spark job),
    the Spark executor otherwise. The rows are identical. Unscored
    specs get their per-shard top-k of the doc set at the pinned score
    1e6 (search_heaps returns None for them)."""
    return _routed(_reader(spark, index_dir, None), spec, count)


def _routed(rd: IndexReader, spec: QuerySpec, count: bool) -> list[dict]:
    """ranked_heaps' rows for ``rd``: the router's pick between the
    driver and the Spark executor."""
    plan = _plan(rd, spec, truncate=True, count=count)
    if plan is None:
        return []
    if plan.postings <= LOCAL_MAX_POSTINGS:
        return score_shards(plan, range(rd.n_shards), rd.part_datasets).to_pylist()
    return [r.asDict() for r in _spark_scored(rd, plan).collect()]


def search(
    spark: SparkSession, index_dir: str, spec: QuerySpec, reader: IndexReader | None = None
) -> DataFrame:
    """Top-k search against a built index. Returns (doc_id, score_e6):
    the merged per-shard heaps; match_all / filters-only / not-only
    specs rank their doc set at the pinned score 1e6."""
    rd = _reader(spark, index_dir, reader)
    out = _candidates(spark, rd, spec, truncate=True).drop("shard", "hits")
    return out.orderBy(F.desc("score_e6"), F.asc("doc_id")).limit(spec.k)


def search_heaps(
    spark: SparkSession,
    index_dir: str,
    spec: QuerySpec,
    reader: IndexReader | None = None,
    count: bool = False,
) -> DataFrame | None:
    """Per-shard top-k heaps for deep pagination: (shard, doc_id,
    score_e6, hits), each shard's top-spec.k by the global sort key,
    each row carrying its shard's match count. With ``count`` that
    count is exact on every path, so the sum over shards of one row's
    ``hits`` each is the query's total (getTotalHits) from the same
    scan; without it a scored-union shard may skip, and undercount,
    chunks that cannot reach its top-k. A shard with no match returns
    no rows and counts 0.

    The SERVING layer merges these driver-side and can answer any page
    whose rank is provably exact from the heaps alone — the
    distributed analog of the reference's SearchHitIterator cursor
    (SearchHitIterator.scala:43-58): one scan, then O(pages) slicing,
    instead of re-running the whole top-k at growing k per page.

    Exactness bound (computed by the caller from these rows): a doc a
    TRUNCATED shard did not return ranks strictly after that shard's
    k-th returned row, so the merged ranking is exact through every
    position whose key sorts <= the minimum truncated-shard boundary
    key. Returns None for unscored (match_all / filters-only /
    not-only) specs — those page through their doc set."""
    if not spec.scored():
        return None
    return _candidates(spark, _reader(spark, index_dir, reader), spec, truncate=True, count=count)


def matching_doc_ids(
    spark: SparkSession, index_dir: str, spec: QuerySpec, reader: IndexReader | None = None
) -> DataFrame:
    """The UNTRUNCATED matching doc-id set from the INDEX alone — the
    candidate pipeline with the per-shard top-k heap off: the scored
    candidates, or for unscored specs each shard's docmeta ids under
    the F2/F5 filters minus the must_not terms' postings. Never
    touches the text column, unlike a brute matching_docs() scan which
    re-tokenizes the collection; this is the index-accelerated doc-set
    feed for aggregations the shard task cannot count (subgraphs, facet
    keys outside docmeta). Routed: a plan that _driver_sized admits is
    scored in the driver and its ids become a local DataFrame, with no
    Python worker; larger ones run the Spark executor. Returns
    DataFrame(doc_id long)."""
    rd = _reader(spark, index_dir, reader)
    plan = _plan(rd, spec, truncate=False, count=False)
    if plan is None:
        return spark.createDataFrame([], "doc_id long")
    if _driver_sized(rd, plan):
        ids = score_shards(plan, range(rd.n_shards), rd.part_datasets).select(["doc_id"])
        return spark.createDataFrame(ids)
    return _spark_scored(rd, plan).select("doc_id")


def count_by(
    spark: SparkSession,
    index_dir: str,
    spec: QuerySpec,
    column: str,
    lod: str | None = None,
) -> dict:
    """The spec's matched docs (matching_doc_ids' set) counted by the
    docmeta ``column`` (one of META_FACETS), or, with ``lod``, by the
    time bucket of ``ts`` in the session time zone (facets
    .bucket_ordinals keys): {key: n}, nulls dropped. Each shard counts
    its own docs in the shard task and the driver sums the partials —
    in the driver over the row-group cache when _driver_sized admits
    the plan (no Spark job), in Spark tasks otherwise. These are the
    index's docs: an aggregation served here describes the indexed
    collection, as getDocs does."""
    rd = _reader(spark, index_dir, None)
    plan = _plan(rd, spec, truncate=False, count=False)
    if plan is None:
        return {}
    plan = replace(plan, agg=Agg(column, lod, _arrow_zone(spark) if lod else None))
    if _driver_sized(rd, plan):
        tbl = score_shards(plan, range(rd.n_shards), rd.part_datasets)
        pairs = zip(tbl["key"].to_pylist(), tbl["n"].to_pylist())
    else:
        pairs = ((r["key"], r["n"]) for r in _spark_scored(rd, plan).collect())
    out: dict = {}
    for key, n in pairs:
        out[key] = out.get(key, 0) + n
    return out


_ZONES: dict = {}


def _arrow_zone(spark: SparkSession) -> str | int:
    """The session time zone parsed by Spark's own rules (so 'UTC',
    'GMT+2' and '+02:00' agree with Spark): a tz database id, or a
    fixed offset in seconds (facets.bucket_ordinals' ``zone``)."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz not in _ZONES:
        zone = spark._jvm.org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(tz)
        fixed = zone.getRules().isFixedOffset()
        _ZONES[tz] = zone.normalized().getTotalSeconds() if fixed else zone.getId()
    return _ZONES[tz]


def count_hits(
    spark: SparkSession, index_dir: str, spec: QuerySpec, reader: IndexReader | None = None
) -> int:
    """Total matching-doc count (G9 / getTotalHits): the size of
    matching_doc_ids' doc set, as the sum of each shard's exact
    ``hits`` from the routed shard task at k=1 — in the driver, with no
    Spark job, when the plan is under LOCAL_MAX_POSTINGS."""
    rows = _routed(_reader(spark, index_dir, reader), replace(spec, k=1), count=True)
    return sum({r["shard"]: r["hits"] for r in rows}.values())
