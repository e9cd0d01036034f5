"""Inverted-index build pipeline (north_star lineage):

  transcripts scan
    → tokenize (JVM regexp / Arrow UDF)            [stage: tokenized]
    → docmeta + collection stats (N, avgdl)        [stage: docmeta]
    → postings groupBy (doc_id, term)              [stage: postings]
    → dictionary (term, df, cf, is_hot)            [stage: dictionary]
    → hot-pair bigram sidecar (positions indexes)  [stage: bigrams]
    → salted repartition by (shard, bucket, salt)
    → delta+varint block encode (applyInPandas,
      whole-bucket vectorized numpy)               [stage: segments]
    → manifest with per-partition lineage          (committed last)

Layout (SURVEY §4.2 "Partition pruning" — two-level):
  - ``shard``  = hash(doc_id) % n_shards: the document shard. Each
    shard holds a full mini-index, so query-time AND-intersection and
    top-k are SHARD-LOCAL (engine.score_shards per shard, no cross-shard
    traffic except the final k-way merge). Shard count is the scale
    knob: 10^12 turns → O(10^4-10^5) shards.
  - ``bucket`` = hash(term) % n_term_buckets: the term partition column
    INSIDE each shard. A query reads only the buckets of its query
    terms → parquet partition pruning does segment pruning for free.

Postings are computed ONCE and checkpointed; the dictionary is a cheap
re-aggregation of that checkpoint (the reference recomputes nothing
because it never scales past one node; we pay one parquet write to
avoid re-tokenizing the collection twice).

Bigram sidecar (stage 4b) is the one place the sidecar is built, for
builds, appends and compactions: the hot set is the dictionary's top
``bigram_top_terms`` by (cf desc, term asc); pairs are extracted from
the tokenized checkpoint when it exists and from the postings'
positions when it does not (a compacted index). Indexes without
positions build no sidecar — they reject phrase queries.

Skew (north_rule "skew handled explicitly"): terms with
df ≥ hot_df_ratio·N get ``salt = doc_id % n_salts`` in the encode
group key, so a stopword-frequency term (df ≈ 0.4N in the fixtures)
encodes as n_salts parallel groups instead of one straggler. Non-hot
terms share the (shard, bucket, salt=0) group, so the encode UDF runs
over ~n_shards·n_term_buckets LARGE pandas frames (vectorized numpy
across every block in the group) instead of one tiny frame per term —
per-group Python overhead amortizes to ~zero. Salted sub-lists stay
separate block runs in the segment; the query side merges them (they
are disjoint by construction).

Resumability: each stage is skipped when the manifest holds a
committed record with the same config hash (kill-and-resume tested in
tests/test_index_resume.py). Replaces the reference's non-resumable
drop-and-recreate (Postgres2ElasticsearchIndexer.java:82,368-372).
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import asdict, dataclass

import numpy as np
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from newsleak_spark.analysis import ANALYZER_VERSION, tokens_col
from newsleak_spark.codec import gather_ragged, varint_encode_with_offsets
from newsleak_spark.indexing.manifest import (
    Manifest,
    StageRecord,
    config_hash,
    dir_bytes,
)

K1 = 1.2
B = 0.75


@dataclass(frozen=True)
class IndexConfig:
    mode: str = "standard"          # analyzer mode (analysis.py)
    n_shards: int = 8               # doc shards (scale knob)
    n_term_buckets: int = 32        # term partition column per shard
    block_size: int = 128           # postings per block
    hot_df_ratio: float = 0.05      # df/N above which a term is "hot"
    n_salts: int = 8                # salt fan-out for hot-term encode
    with_positions: bool = True     # store positions (phrase queries)
    hot_bigrams: bool = True        # index adjacent hot-term pairs (phrase sidecar)
    # Size of the bigram-sidecar EXTRACTION set: the top-K terms by
    # COLLECTION frequency. Sidecar volume grows with the covered
    # terms' combined token mass SQUARED (every adjacent covered-pair
    # occurrence becomes a posting), and token mass concentrates in the
    # head, so K must stay small: measured at 10M turns, covering all
    # df≥5% terms (94) produced 329M bigram postings — as large as the
    # unigram index, halving build throughput — and even df≥20% (30
    # terms) produced 234M. Top-8 covers exactly the head pairs whose
    # AND-candidate sets are largest (the 6-8.6 s worst-case phrase)
    # for a few percent of index volume; pipelines preferring uniform
    # phrase latency over ingest throughput raise it.
    bigram_top_terms: int = 8
    analyzer_version: int = ANALYZER_VERSION

    def as_dict(self) -> dict:
        return asdict(self)


# Separator for synthetic bigram terms ("a\x1fb"): the ASCII unit
# separator cannot appear in analyzed tokens (both analyzer modes emit
# [0-9a-z']-class words), so bigram terms can never collide with a real
# term. NOT NUL: pandas' object-dtype groupby hashes str keys with
# C-string semantics, so "a\x00b" silently collides with "a" inside the
# shard scorer's groupby("term").
BIGRAM_SEP = "\x1f"


BLOCK_SCHEMA = (
    "shard int, bucket int, term string, salt int, block_seq int, n int, "
    "doc_first long, doc_last long, max_tf int, max_score double, "
    "docs binary, tfs binary, dls binary, poscnt binary, posflat binary"
)


def _shard_col(doc_id, n_shards: int):
    return F.pmod(F.xxhash64(doc_id), F.lit(n_shards)).cast("int")


def _bucket_col(term, n_buckets: int):
    return F.pmod(F.xxhash64(term), F.lit(n_buckets)).cast("int")


_POSTINGS_SCHEMA = (
    "doc_id long, term string, tf int, dl int, shard int, positions array<int>"
)


def _postings(tokenized: DataFrame, with_positions: bool) -> DataFrame:
    """(doc_id, term, tf, dl, shard, positions) — one row per (doc, term).

    MAP-ONLY: a doc's tokens are already co-located in its ``toks``
    array, so per-doc term aggregation needs no shuffle — the naive
    ``posexplode → groupBy(doc_id, term)`` plan shuffles the entire
    exploded token stream for keys that are already partition-local.

    Arrow-native (mapInArrow): token factorization runs in C++
    (pc.dictionary_encode over the list-array's values buffer), group
    reduction is numpy (stable lexsort by (doc, term) → run-length
    reduce), and the ragged positions column is emitted as ONE
    ListArray built from (offsets, values) buffers — no np.split into
    millions of per-posting arrays, no per-row Python anywhere.
    Positions come out ascending because lexsort is stable and token
    positions arrive in order.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    def run(batches):
        for batch in batches:
            toks = batch.column("toks")
            offs_raw = toks.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            base0 = int(offs_raw[0])
            offs = offs_raw - base0  # slice-safe: offsets may not start at 0
            n_rows = len(toks)
            total = int(offs[-1])
            if total == 0:
                continue
            flat_vals = toks.values.slice(base0, total)
            enc = pc.dictionary_encode(flat_vals)
            codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            dic = enc.dictionary
            doc_ids = batch.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64)
            dls = batch.column("dl").to_numpy(zero_copy_only=False).astype(np.int64)
            shards = batch.column("shard").to_numpy(zero_copy_only=False).astype(np.int64)

            n_per = np.diff(offs)
            doc_idx = np.repeat(np.arange(n_rows), n_per)
            pos = (np.arange(total) - np.repeat(offs[:-1], n_per)).astype(np.int32)
            order = np.lexsort((codes, doc_idx))  # primary doc, secondary term, stable
            fd, ft, fp = doc_idx[order], codes[order], pos[order]
            new = np.empty(total, dtype=bool)
            new[0] = True
            new[1:] = (fd[1:] != fd[:-1]) | (ft[1:] != ft[:-1])
            starts = np.flatnonzero(new)
            tf = np.diff(np.append(starts, total)).astype(np.int32)
            gd = fd[starts]

            if with_positions:
                positions = pa.ListArray.from_arrays(
                    pa.array(np.append(starts, total).astype(np.int32)),
                    pa.array(fp, type=pa.int32()),
                )
            else:
                positions = pa.nulls(starts.size, pa.list_(pa.int32()))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(doc_ids[gd], type=pa.int64()),
                    pc.take(dic, pa.array(ft[starts])),
                    pa.array(tf, type=pa.int32()),
                    pa.array(dls[gd].astype(np.int32), type=pa.int32()),
                    pa.array(shards[gd].astype(np.int32), type=pa.int32()),
                    positions,
                ],
                names=["doc_id", "term", "tf", "dl", "shard", "positions"],
            )

    return tokenized.select("doc_id", "shard", "dl", "toks").mapInArrow(
        run, _POSTINGS_SCHEMA
    )


def _bigram_postings(tokenized: DataFrame, hot_terms: list[str]) -> DataFrame:
    """Hot-pair bigram sidecar postings: one row per (doc, pair key)
    — the pair key joins the two tokens with BIGRAM_SEP (\\x1f; see
    the comment at its definition for why NUL cannot be used) —
    for every ADJACENT token pair where both tokens are hot terms —
    the "nextword index" of Williams, Zobel & Bahle, "Fast Phrase
    Querying with Combined Indexes" (ACM TOIS 2004), restricted to
    hot×hot pairs (rare terms already make phrases cheap via
    candidate-driven block pruning; it is two HOT terms that cost a
    multi-million-posting position decode at query time).

    The sidecar is a MEMBERSHIP filter: the engine prunes a phrase's
    candidate docs by each covered pair's doc list before any position
    IO (a fully covered len-2 phrase needs no positions at all —
    membership is adjacency; longer phrases verify with unigram
    positions over the pruned set), so no positions are emitted.

    MAP-ONLY like _postings: adjacency is doc-local, detected on the
    flattened token stream with one vectorized pass (same-doc mask +
    hot-code mask), grouped by (doc, pair) with the same stable
    lexsort + run-length reduce. The hot set is a driver-side
    broadcast closure: |hot| ≤ avgdl / hot_df_ratio by construction
    (Σdf ≤ N·avgdl), i.e. hundreds of strings, never data-scale.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    hot = frozenset(hot_terms)

    def run(batches):
        for batch in batches:
            toks = batch.column("toks")
            offs_raw = toks.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            base0 = int(offs_raw[0])
            offs = offs_raw - base0
            n_rows = len(toks)
            total = int(offs[-1])
            if total < 2:
                continue
            flat_vals = toks.values.slice(base0, total)
            enc = pc.dictionary_encode(flat_vals)
            codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            dic = enc.dictionary.to_pylist()  # unique terms in batch only
            hot_code = np.fromiter((t in hot for t in dic), dtype=bool, count=len(dic))
            doc_ids = batch.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64)
            dls = batch.column("dl").to_numpy(zero_copy_only=False).astype(np.int64)
            shards = batch.column("shard").to_numpy(zero_copy_only=False).astype(np.int64)

            doc_idx = np.repeat(np.arange(n_rows), np.diff(offs))
            adj = (
                (doc_idx[1:] == doc_idx[:-1])
                & hot_code[codes[:-1]]
                & hot_code[codes[1:]]
            )
            hits = np.flatnonzero(adj)
            if hits.size == 0:
                continue
            d = doc_idx[hits]
            key = codes[hits] * len(dic) + codes[hits + 1]
            order = np.lexsort((key, d))  # primary doc, secondary pair
            fd, fk = d[order], key[order]
            new = np.empty(fd.size, dtype=bool)
            new[0] = True
            new[1:] = (fd[1:] != fd[:-1]) | (fk[1:] != fk[:-1])
            starts = np.flatnonzero(new)
            tf = np.diff(np.append(starts, fd.size)).astype(np.int32)
            gd = fd[starts]
            # pair-code → "a" + BIGRAM_SEP + "b" only for the batch's
            # UNIQUE pairs
            uk, inv = np.unique(fk[starts], return_inverse=True)
            names = np.array(
                [dic[k // len(dic)] + BIGRAM_SEP + dic[k % len(dic)] for k in uk.tolist()],
                dtype=object,
            )
            # EMPTY lists, not nulls: bigram rows ride the shared
            # segment encoder, whose positions path consumes the
            # ListArray buffers unconditionally when the index stores
            # positions
            positions = pa.ListArray.from_arrays(
                pa.array(np.zeros(starts.size + 1, dtype=np.int32)),
                pa.array([], type=pa.int32()),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(doc_ids[gd], type=pa.int64()),
                    pa.array(names[inv], type=pa.string()),
                    pa.array(tf, type=pa.int32()),
                    pa.array(dls[gd].astype(np.int32), type=pa.int32()),
                    pa.array(shards[gd].astype(np.int32), type=pa.int32()),
                    positions,
                ],
                names=["doc_id", "term", "tf", "dl", "shard", "positions"],
            )

    return tokenized.select("doc_id", "shard", "dl", "toks").mapInArrow(
        run, _POSTINGS_SCHEMA
    )


def _bigram_from_postings(postings: DataFrame, hot_terms: list[str]) -> DataFrame:
    """Re-extract the hot-pair sidecar from UNIGRAM postings instead of
    the tokenized text: pair (a, b) is adjacent at token index p iff
    p ∈ positions(a) and p+1 ∈ positions(b) — the stored positions are
    the doc's token-stream indexes, so adjacency survives the postings
    representation exactly. Stage 4b uses it when the index has no
    tokenized checkpoint (a compacted index): re-extracting here lets
    compaction RESTORE coverage to the merged collection's own top-K
    hot set (identical to a from-scratch build's) rather than inherit
    the parts' intersection, which can only shrink as deltas
    accumulate. The tokens pass (_bigram_postings) gives identical
    rows faster, so builds and appends keep it.

    Declarative and skew-free: explode the ≤|hot| terms' postings to
    (doc, pos, term) occurrence rows, self-equi-join on
    (doc_id, pos == pos-1) — keys are near-unique, so the shuffle join
    has no hot keys — and hash-aggregate pair tf. The exploded volume
    is the hot terms' combined token mass, the same rows a compaction
    already rewrites in the postings merge.
    """
    occ = postings.filter(F.col("term").isin(list(hot_terms))).select(
        "doc_id", "shard", "dl", "term", F.explode("positions").alias("pos")
    )
    nxt = occ.select(
        "doc_id", F.col("term").alias("term_b"), (F.col("pos") - 1).alias("pos")
    )
    return (
        occ.join(nxt, ["doc_id", "pos"])
        .groupBy("doc_id", "shard", "dl", "term", "term_b")
        .agg(F.count(F.lit(1)).cast("int").alias("tf"))
        .select(
            "doc_id",
            F.concat("term", F.lit(BIGRAM_SEP), "term_b").alias("term"),
            "tf",
            "dl",
            "shard",
            # EMPTY lists, not nulls — same contract as _bigram_postings
            F.array().cast("array<int>").alias("positions"),
        )
    )


def _encode_bucket_fn(cfg: IndexConfig, n_docs: float, avgdl: float):
    """Vectorized whole-group encoder (applyInArrow): one Arrow table
    per (shard, bucket, salt) group, every term run and every block
    inside it encoded with numpy array programs — varint streams are
    encoded ONCE for the whole group and sliced per block via byte
    offsets (codec.varint_encode_with_offsets), block maxima via
    np.maximum.reduceat. The ragged positions column arrives as a
    ListArray and is consumed as its (offsets, values) buffers — no
    per-posting Python objects. Per-block Python work is a handful of
    byte slices.

    Byte format per block is IDENTICAL to encoding each block alone:
    doc deltas reset to absolute at block starts; position deltas reset
    at posting starts (posting streams never span blocks).

    Bigram-sidecar terms (name contains BIGRAM_SEP) take a SLIM path:
    the query engine only ever decodes their doc stream (membership
    pruning — they never score, never resolve positions), so their
    blocks store docs varints only, with empty tfs/dls/poscnt/posflat
    bytes and zero block maxima. The sidecar is ~25-33% of all postings
    at the default top-8 hot set, so skipping its three dead varint
    streams and per-block byte slices is a measurable slice of the
    segments stage (the build's dominant cost). The decoder treats an
    empty tf/dl stream as all-ones (_decode_term_blocks).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    block_size = cfg.block_size
    with_pos = cfg.with_positions

    def encode(table: "pa.Table") -> "pa.Table":
        # split membership-only sidecar terms from scored terms: a term
        # is entirely one or the other, so encoding the two subsets
        # independently and concatenating preserves per-term blocks
        is_big = pc.match_substring(table.column("term"), BIGRAM_SEP)
        n_big = pc.sum(is_big).as_py() or 0
        if n_big == 0:
            return _encode_group(table, slim=False)
        if n_big == table.num_rows:
            return _encode_group(table, slim=True)
        return pa.concat_tables(
            [
                _encode_group(table.filter(pc.invert(is_big)), slim=False),
                _encode_group(table.filter(is_big), slim=True),
            ]
        )

    def _encode_group(table: "pa.Table", slim: bool) -> "pa.Table":
        # Group by term (dictionary code) then doc order — numpy lexsort
        # + fancy-index of the SCALAR columns only. No Arrow take(): a
        # take on the positions ListArray would physically copy every
        # position; gather_ragged permutes the ragged pair in one
        # vectorized pass instead. Run order inside the group is
        # code order, not lexicographic — irrelevant: blocks are per
        # term, and readers never rely on a row order within a file.
        table = table.combine_chunks()
        n = table.num_rows
        term_enc = pc.dictionary_encode(table.column("term").chunk(0))
        codes_u = term_enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        term_dict = term_enc.dictionary
        docs_u = table.column("doc_id").to_numpy()
        order = np.lexsort((docs_u, codes_u))  # primary term code, secondary doc

        term_codes = codes_u[order]
        docs = docs_u[order]
        if not slim:
            tfs = table.column("tf").to_numpy().astype(np.int64)[order]
            dls = table.column("dl").to_numpy().astype(np.int64)[order]
            dfs = table.column("df").to_numpy().astype(np.float64)[order]
        shard = int(table.column("shard")[0].as_py())
        bucket = int(table.column("bucket")[0].as_py())
        salt = int(table.column("salt")[0].as_py())

        # term runs → block boundaries (every run restarts block_seq)
        new_term = np.empty(n, dtype=bool)
        new_term[0] = True
        new_term[1:] = term_codes[1:] != term_codes[:-1]
        run_starts = np.flatnonzero(new_term)
        run_ends = np.append(run_starts[1:], n)
        block_starts = np.concatenate(
            [np.arange(s, e, block_size) for s, e in zip(run_starts, run_ends)]
        )
        block_ends = np.append(block_starts[1:], n)
        # block_seq within each term run
        run_of_block = np.searchsorted(run_starts, block_starts, side="right") - 1
        block_seq = (
            np.arange(block_starts.size)
            - np.searchsorted(block_starts, run_starts[run_of_block], side="left")
        )

        if slim:
            # membership-only blocks: never scored, never position-
            # resolved — block maxima are inert zeros
            max_scores = np.zeros(block_starts.size, dtype=np.float64)
            max_tfs = np.zeros(block_starts.size, dtype=np.int64)
        else:
            # BM25 bounds, vectorized across the whole group
            idf = np.log1p((n_docs - dfs + 0.5) / (dfs + 0.5))
            scores = idf * tfs * (K1 + 1.0) / (tfs + K1 * (1.0 - B + B * dls / avgdl))
            max_scores = np.maximum.reduceat(scores, block_starts)
            max_tfs = np.maximum.reduceat(tfs, block_starts)

        # doc deltas: gaps, reset to absolute at block starts
        deltas = docs.astype(np.uint64)
        deltas[1:] = (docs[1:] - docs[:-1]).astype(np.uint64)
        deltas[block_starts] = docs[block_starts].astype(np.uint64)
        dbuf, doffs = varint_encode_with_offsets(deltas)
        if not slim:
            tbuf, toffs = varint_encode_with_offsets(tfs.astype(np.uint64))
            lbuf, loffs = varint_encode_with_offsets(dls.astype(np.uint64))

        if with_pos and not slim:
            parr = table.column("positions").chunk(0)
            poffs = parr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            pbase = int(poffs[0])
            counts_u = np.diff(poffs - pbase).astype(np.int64)
            total = int(poffs[-1] - pbase)
            flat_u = (
                parr.values.slice(pbase, total)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            # permute the ragged pair into (term, doc) order without
            # materializing per-posting arrays
            counts_s, flat_s = gather_ragged(counts_u, flat_u, order)
            counts = counts_s.astype(np.uint64)
            cbuf, coffs = varint_encode_with_offsets(counts)
            pcum = np.concatenate(([0], np.cumsum(counts_s)))
            if total:
                flat = flat_s.astype(np.uint64)
                fdeltas = flat.copy()
                fdeltas[1:] = flat[1:] - flat[:-1]
                first_idx = pcum[:-1][counts > 0]
                fdeltas[first_idx] = flat[first_idx]
                fbuf, foffs = varint_encode_with_offsets(fdeltas)
            else:
                fbuf, foffs = b"", np.zeros(1, dtype=np.int64)

        nb = block_starts.size
        cols = {
            "shard": pa.array(np.full(nb, shard, dtype=np.int32)),
            "bucket": pa.array(np.full(nb, bucket, dtype=np.int32)),
            "term": pc.take(term_dict, pa.array(term_codes[block_starts])),
            "salt": pa.array(np.full(nb, salt, dtype=np.int32)),
            "block_seq": pa.array(block_seq.astype(np.int32)),
            "n": pa.array((block_ends - block_starts).astype(np.int32)),
            "doc_first": pa.array(docs[block_starts], type=pa.int64()),
            "doc_last": pa.array(docs[block_ends - 1], type=pa.int64()),
            "max_tf": pa.array(max_tfs.astype(np.int32)),
            "max_score": pa.array(max_scores, type=pa.float64()),
            "docs": pa.array(
                [dbuf[doffs[s] : doffs[e]] for s, e in zip(block_starts, block_ends)],
                type=pa.binary(),
            ),
            "tfs": pa.array(
                [b""] * nb
                if slim
                else [tbuf[toffs[s] : toffs[e]] for s, e in zip(block_starts, block_ends)],
                type=pa.binary(),
            ),
            "dls": pa.array(
                [b""] * nb
                if slim
                else [lbuf[loffs[s] : loffs[e]] for s, e in zip(block_starts, block_ends)],
                type=pa.binary(),
            ),
        }
        if with_pos and not slim:
            cols["poscnt"] = pa.array(
                [cbuf[coffs[s] : coffs[e]] for s, e in zip(block_starts, block_ends)],
                type=pa.binary(),
            )
            cols["posflat"] = pa.array(
                [
                    fbuf[foffs[pcum[s]] : foffs[pcum[e]]]
                    for s, e in zip(block_starts, block_ends)
                ],
                type=pa.binary(),
            )
        else:
            cols["poscnt"] = pa.array([b""] * nb, type=pa.binary())
            cols["posflat"] = pa.array([b""] * nb, type=pa.binary())
        return pa.table(cols)

    return encode


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    index_dir: str,
    cfg: IndexConfig | None = None,
    resume: bool = True,
) -> Manifest:
    from newsleak_spark.session import ensure_workers_can_import

    ensure_workers_can_import(spark)
    cfg = cfg or IndexConfig()
    man = Manifest(index_dir)
    chash = config_hash(cfg.as_dict())
    if man.config and man.config.get("_hash") not in (None, chash) and resume:
        raise ValueError(
            f"index at {index_dir} was built with a different config "
            f"({man.config.get('_hash')} != {chash}); pass resume=False to rebuild"
        )
    man.set_config({**cfg.as_dict(), "_hash": chash})
    if not resume:
        # full rebuild = compaction: the new base supersedes every
        # registered delta — clear the registration or the reader would
        # union the compacted docs with their old delta copies
        dj = os.path.join(index_dir, DELTAS_FILE)
        if os.path.exists(dj):
            os.remove(dj)

    tok_path = os.path.join(index_dir, "tokenized")
    meta_path = os.path.join(index_dir, "docmeta")
    post_path = os.path.join(index_dir, "postings")
    dict_path = os.path.join(index_dir, "dictionary")
    big_post_path = os.path.join(index_dir, "bigram_postings")
    big_dict_path = os.path.join(index_dir, "bigram_dictionary")
    seg_path = os.path.join(index_dir, "segments")

    # The sidecar only serves phrase queries, which need positions, so
    # an index without positions never builds one.
    sidecar = cfg.hot_bigrams and cfg.with_positions

    # A prior build of this dir may have left a sidecar behind. If this
    # build won't (re)produce one — no sidecar, or a full rebuild whose
    # stage 4b only overwrites big_post_path when it finds pairs —
    # stale stats.bigram_terms would make the reader treat pairs as
    # COVERED while the rebuilt segments carry no sidecar postings:
    # silent false negatives on phrase queries. Reset the manifest
    # coverage signal and remove the on-disk leftovers up front; stage
    # 4b re-sets both when it actually runs.
    if not sidecar or not resume:
        if man.stats.get("bigram_terms") or int(
            man.stats.get("n_bigram_postings") or 0
        ):
            man.set_stats(n_bigram_postings=0, bigram_terms=None)
        for stale in (big_post_path, big_dict_path):
            if os.path.exists(stale):
                shutil.rmtree(stale)

    # ---- stage 1: tokenized checkpoint (the temp-index analog, S4) -------
    if not (resume and man.stage_done("tokenized", chash)):
        t0 = time.time()
        tokenized = transcripts.select(
            "doc_id",
            "role",
            "tool",
            "ts",
            tokens_col(F.col("text"), cfg.mode).alias("toks"),
        ).withColumn("dl", F.size("toks")).withColumn(
            "shard", _shard_col(F.col("doc_id"), cfg.n_shards)
        )
        obs = Observation("tokenized")
        tokenized = tokenized.observe(obs, F.count(F.lit(1)).alias("rows"))
        tokenized.write.mode("overwrite").parquet(tok_path)
        rows = int(obs.get["rows"])
        man.commit_stage(
            StageRecord("tokenized", rows, time.time() - t0, dir_bytes(tok_path), chash)
        )

    # tokenized checkpoint is read LAZILY: a compacted index
    # (compact_index) seeds docmeta+postings directly and has no
    # tokenized dir — stages that are already committed must not
    # touch it
    _tok_cache: list = []

    def _tokenized() -> DataFrame:
        if not _tok_cache:
            _tok_cache.append(spark.read.parquet(tok_path))
        return _tok_cache[0]

    # ---- stage 2: docmeta + collection stats ------------------------------
    if not (resume and man.stage_done("docmeta", chash)):
        t0 = time.time()
        obs = Observation("docmeta")
        meta = _tokenized().select("doc_id", "role", "tool", "ts", "dl", "shard").observe(
            obs, F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sum_dl")
        )
        meta.write.mode("overwrite").partitionBy("shard").parquet(meta_path)
        n_docs = int(obs.get["n"])
        avgdl = float(obs.get["sum_dl"]) / n_docs if n_docs else 0.0
        man.set_stats(n_docs=n_docs, avgdl=avgdl, sum_dl=int(obs.get["sum_dl"] or 0))
        man.commit_stage(
            StageRecord("docmeta", n_docs, time.time() - t0, dir_bytes(meta_path), chash)
        )
    n_docs = float(man.stats["n_docs"])
    avgdl = float(man.stats["avgdl"])

    if n_docs == 0:
        # empty collection: a zero-row partitioned parquet write leaves
        # no readable files, so commit the remaining stages as empty
        # records instead of writing/rereading them (callers skip
        # registering empty deltas; an empty BASE answers no queries)
        for stage in ("postings", "dictionary", "bigrams", "segments"):
            if not man.stage_done(stage, chash):
                man.commit_stage(StageRecord(stage, 0, 0.0, 0, chash))
        man.set_stats(
            n_postings=0, n_terms=0, n_hot_terms=0,
            n_bigram_postings=0, bigram_terms=[],
        )
        return man

    # ---- stage 3: postings checkpoint (computed once, reused twice) -------
    if not (resume and man.stage_done("postings", chash)):
        t0 = time.time()
        p = _postings(_tokenized(), cfg.with_positions)
        obs = Observation("postings")
        p = p.observe(obs, F.count(F.lit(1)).alias("rows"))
        p.write.mode("overwrite").parquet(post_path)
        n_post = int(obs.get["rows"])
        man.set_stats(n_postings=n_post)
        man.commit_stage(
            StageRecord("postings", n_post, time.time() - t0, dir_bytes(post_path), chash)
        )

    postings = spark.read.parquet(post_path)

    # ---- stage 4: dictionary (re-agg of the postings checkpoint) ----------
    if not (resume and man.stage_done("dictionary", chash)):
        t0 = time.time()
        dictionary = (
            postings.groupBy("term")
            .agg(F.count("*").alias("df"), F.sum("tf").alias("cf"))
            .withColumn("bucket", _bucket_col(F.col("term"), cfg.n_term_buckets))
            .withColumn("is_hot", F.col("df") >= F.lit(cfg.hot_df_ratio) * F.lit(n_docs))
        )
        obs = Observation("dictionary")
        dictionary = dictionary.observe(
            obs,
            F.count(F.lit(1)).alias("n_terms"),
            F.sum(F.col("is_hot").cast("long")).alias("n_hot"),
        )
        dictionary.write.mode("overwrite").partitionBy("bucket").parquet(dict_path)
        n_terms = int(obs.get["n_terms"])
        n_hot = int(obs.get["n_hot"] or 0)
        man.set_stats(n_terms=n_terms, n_hot_terms=n_hot)
        man.commit_stage(
            StageRecord(
                "dictionary", n_terms, time.time() - t0, dir_bytes(dict_path), chash,
                extra={"hot_terms": n_hot},
            )
        )

    dictionary = spark.read.parquet(dict_path)

    # ---- stage 4b: hot-pair bigram sidecar (phrase acceleration) ----------
    # A phrase of two HOT terms is the engine's worst case (a
    # multi-million-candidate AND pays full position decode); indexing
    # the adjacency of hot×hot pairs as synthetic terms turns it into a
    # rare-term lookup. The set of hot terms the extraction used is
    # recorded in the manifest (stats.bigram_terms): the reader treats
    # a pair as COVERED — "bigram absent ⇒ no adjacency anywhere" —
    # only for pairs inside that set. This stage is the only code that
    # builds the sidecar — for builds, appends and compactions alike.
    if sidecar and not (resume and man.stage_done("bigrams", chash)):
        t0 = time.time()
        # bounded driver collect: exactly bigram_top_terms strings;
        # (cf desc, term asc) ordering keeps the set deterministic
        hot_terms = sorted(
            r["term"]
            for r in dictionary.orderBy(F.desc("cf"), F.asc("term"))
            .limit(cfg.bigram_top_terms)
            .select("term")
            .collect()
        )
        n_big = 0
        if hot_terms:
            # both extractors give identical rows; the tokens pass is
            # faster, and a compacted index has only its merged postings
            if os.path.exists(tok_path):
                bp = _bigram_postings(_tokenized(), hot_terms)
            else:
                bp = _bigram_from_postings(postings, hot_terms)
            obs = Observation("bigrams")
            bp = bp.observe(obs, F.count(F.lit(1)).alias("rows"))
            bp.write.mode("overwrite").parquet(big_post_path)
            n_big = int(obs.get["rows"])
            if n_big:
                bd = (
                    spark.read.parquet(big_post_path)
                    .groupBy("term")
                    .agg(F.count("*").alias("df"), F.sum("tf").alias("cf"))
                    .withColumn("bucket", _bucket_col(F.col("term"), cfg.n_term_buckets))
                    .withColumn(
                        "is_hot",
                        F.col("df") >= F.lit(cfg.hot_df_ratio) * F.lit(n_docs),
                    )
                )
                bd.write.mode("overwrite").partitionBy("bucket").parquet(big_dict_path)
        man.set_stats(n_bigram_postings=n_big, bigram_terms=hot_terms)
        man.commit_stage(
            StageRecord(
                "bigrams", n_big, time.time() - t0,
                dir_bytes(big_post_path) if n_big else 0, chash,
                extra={"hot_terms": len(hot_terms)},
            )
        )

    # ---- stage 5: segments (salted encode shuffle) -------------------------
    if not (resume and man.stage_done("segments", chash)):
        t0 = time.time()
        joined = postings.join(
            dictionary.select("term", "df", "bucket", "is_hot"), "term"
        )
        if sidecar and int(man.stats.get("n_bigram_postings") or 0) > 0:
            # bigram sidecar rows ride the same salted encode: their
            # synthetic terms bucket/salt/encode like any other term
            joined = joined.unionByName(
                spark.read.parquet(big_post_path).join(
                    spark.read.parquet(big_dict_path).select(
                        "term", "df", "bucket", "is_hot"
                    ),
                    "term",
                )
            )
        joined = joined.withColumn(
            "salt",
            F.when(F.col("is_hot"), F.pmod(F.col("doc_id"), F.lit(cfg.n_salts)))
            .otherwise(F.lit(0))
            .cast("int"),
        )
        blocks = joined.groupBy("shard", "bucket", "salt").applyInArrow(
            _encode_bucket_fn(cfg, n_docs, avgdl), BLOCK_SCHEMA
        )
        # second (cheap) shuffle: co-locate each (shard,bucket) partition's
        # blocks. The planned partitionBy write sorts by the partition
        # columns and drops this sort, so files are NOT term-sorted; a
        # sort led by "shard", "bucket" would keep it, at +2.5% segment
        # bytes on the 4k-turn perfbench index (CHANGES.md).
        (
            blocks.repartition("shard", "bucket")
            .sortWithinPartitions("term", "salt", "block_seq")
            .write.mode("overwrite")
            .partitionBy("shard", "bucket")
            .parquet(seg_path)
        )
        seg = spark.read.parquet(seg_path)
        # lineage splits unigram vs bigram-sidecar rows so n_postings
        # keeps its stage-3 meaning (unigram postings; the pinned
        # invariant sum(lineage postings) == n_postings survives the
        # sidecar riding the same segment files)
        is_bigram = F.col("term").contains(BIGRAM_SEP)
        lineage_rows = (
            seg.groupBy("shard", "bucket")
            .agg(
                F.count("*").alias("blocks"),
                F.sum(F.when(~is_bigram, F.col("n")).otherwise(F.lit(0))).alias("postings"),
                F.sum(F.when(is_bigram, F.col("n")).otherwise(F.lit(0))).alias("bigram_postings"),
            )
            .collect()
        )
        lineage = {
            f"shard={r['shard']}/bucket={r['bucket']}": {
                "blocks": int(r["blocks"]),
                "postings": int(r["postings"]),
                "bigram_postings": int(r["bigram_postings"]),
            }
            for r in lineage_rows
        }
        total_postings = sum(v["postings"] for v in lineage.values())
        man.set_stats(n_postings=total_postings)
        man.commit_stage(
            StageRecord(
                "segments",
                total_postings,
                time.time() - t0,
                dir_bytes(seg_path),
                chash,
                partitions=lineage,
            )
        )

    return man


# ---------------------------------------------------------------------------
# Incremental append (delta indexes)
# ---------------------------------------------------------------------------

DELTAS_FILE = "deltas.json"


def list_deltas(index_dir: str) -> list[str]:
    """Registered delta subdirectory names, in append order."""
    import json

    path = os.path.join(index_dir, DELTAS_FILE)
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return json.load(f)["deltas"]


def append_index(
    spark: SparkSession,
    new_transcripts: DataFrame,
    index_dir: str,
    cfg: IndexConfig | None = None,
    resume: bool = True,
    delta_name: str | None = None,
) -> Manifest:
    """Incrementally index new turns WITHOUT rebuilding the base: a
    full mini-index (same 5 resumable stages) is built under
    ``index_dir/delta_NNNN`` and registered commit-last in
    ``deltas.json``. The query side (engine.IndexReader) unions base +
    deltas and combines collection stats (N, avgdl, df) at query time,
    so scores equal a from-scratch build's exactly; BMW block bounds
    switch to a stats-independent form because the per-part stored
    bounds were computed under each part's own snapshot stats.

    At 10^12-turn scale this is the daily-ingest path: delta cost is
    O(new turns); periodic compaction = full rebuild. doc_ids must be
    globally unique across base + deltas (deterministic ids from
    (conv_id, turn_idx) guarantee this; see transcripts.composite_doc_id).

    Retry-safe: a killed append re-enters the same delta dir (its own
    manifest resumes unfinished stages) and registration is idempotent.
    Callers with their own idempotency key (e.g. a streaming batch id)
    pass ``delta_name`` — an already-registered name returns without
    rebuilding. Empty inputs build but are NOT registered (an empty
    part would add nothing and zero-stat parts complicate readers).
    """
    import json

    cfg = cfg or IndexConfig()
    base_man = Manifest(index_dir)
    chash = config_hash(cfg.as_dict())
    if base_man.config and base_man.config.get("_hash") != chash:
        raise ValueError(
            "delta config must match the base index config "
            f"({base_man.config.get('_hash')} != {chash})"
        )
    existing = list_deltas(index_dir)
    name = delta_name or f"delta_{len(existing):04d}"
    if name in existing:
        return Manifest(os.path.join(index_dir, name))  # already committed
    man = build_index(
        spark, new_transcripts, os.path.join(index_dir, name), cfg, resume=resume
    )
    if int(man.stats.get("n_docs") or 0) == 0:
        return man  # empty batch: nothing to register
    path = os.path.join(index_dir, DELTAS_FILE)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"deltas": existing + [name]}, f)
    os.replace(tmp, path)  # commit-last
    return man


def compact_index(
    spark: SparkSession, index_dir: str, out_dir: str | None = None
) -> Manifest:
    """Merge base + registered deltas into ONE new index WITHOUT
    re-analyzing any text: the per-part stage-3 POSTINGS checkpoints
    (and docmeta) are unioned into ``out_dir``, their stage records are
    committed, and the normal resumable build pipeline finishes from
    stage 4 — dictionary re-aggregation (df/cf over the merged
    postings, so hot-term salting follows the COMBINED frequencies),
    the bigram sidecar (stage 4b re-extracts it from the merged
    postings' positions with the merged collection's own hot set) and
    the salted segment encode. Tokenization — the dominant build cost
    — is never re-run; compaction costs ~stages 4-5 of a fresh build
    plus two columnar unions.

    The source index is NOT mutated; ``out_dir`` (default
    ``{index_dir}_compacted``) is a complete standalone index whose
    query results and manifest stats equal a from-scratch build of the
    full collection (tests/test_compaction.py). Swapping readers to it
    is the Iceberg catalog-pointer-update analog; after the swap the
    old base+delta tree can be dropped and new deltas append to the
    compacted dir. Kill-and-rerun resumes: the union stages and the
    inherited build stages are all manifest-gated.

    The periodic-compaction maintenance story at 10^12 turns: deltas
    accumulate O(days) of ingest; the reader's per-part dictionary
    lookups and safe (stats-independent) BMW bounds degrade gracefully
    with part count, and this job folds them back to one part at
    postings-merge cost.
    """
    from functools import reduce

    base_man = Manifest(index_dir)
    if not base_man.config:
        raise ValueError(f"no built index at {index_dir}")
    cfg = IndexConfig(**{k: v for k, v in base_man.config.items() if k != "_hash"})
    chash = config_hash(cfg.as_dict())
    parts = [index_dir] + [os.path.join(index_dir, d) for d in list_deltas(index_dir)]
    out_dir = out_dir or index_dir.rstrip("/") + "_compacted"
    man = Manifest(out_dir)
    if man.config and man.config.get("_hash") not in (None, chash):
        raise ValueError(f"compaction target {out_dir} holds a different config")
    man.set_config({**cfg.as_dict(), "_hash": chash})

    meta_path = os.path.join(out_dir, "docmeta")
    post_path = os.path.join(out_dir, "postings")

    if not man.stage_done("docmeta", chash):
        t0 = time.time()
        metas = [spark.read.parquet(os.path.join(p, "docmeta")) for p in parts]
        obs = Observation("compact_docmeta")
        merged = reduce(lambda a, b: a.unionByName(b), metas).observe(
            obs, F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sum_dl")
        )
        merged.write.mode("overwrite").partitionBy("shard").parquet(meta_path)
        n_docs = int(obs.get["n"])
        sum_dl = int(obs.get["sum_dl"] or 0)
        man.set_stats(
            n_docs=n_docs, sum_dl=sum_dl, avgdl=sum_dl / n_docs if n_docs else 0.0
        )
        # no tokenized checkpoint exists for a compacted index — commit
        # the stage as satisfied-by-compaction so build never re-enters
        # stage 1 (and never reads the absent dir: the tokenized
        # checkpoint is read lazily). Committed BEFORE docmeta: a crash
        # between the two writes must leave docmeta-not-done (rerun the
        # block), never docmeta-done-with-tokenized-absent (resume
        # would re-enter stage 1 with transcripts=None and fail).
        man.commit_stage(
            StageRecord("tokenized", n_docs, 0.0, 0, chash, extra={"compacted": True})
        )
        man.commit_stage(
            StageRecord(
                "docmeta", n_docs, time.time() - t0, dir_bytes(meta_path), chash,
                extra={"compacted_from": len(parts)},
            )
        )
    elif not man.stage_done("tokenized", chash):
        # self-heal a target left by the pre-fix commit order (docmeta
        # committed, crash before the tokenized record)
        man.commit_stage(
            StageRecord(
                "tokenized", int(man.stats.get("n_docs", 0)), 0.0, 0, chash,
                extra={"compacted": True},
            )
        )

    if not man.stage_done("postings", chash):
        t0 = time.time()
        posts = [spark.read.parquet(os.path.join(p, "postings")) for p in parts]
        obs = Observation("compact_postings")
        merged = reduce(lambda a, b: a.unionByName(b), posts).observe(
            obs, F.count(F.lit(1)).alias("rows")
        )
        merged.write.mode("overwrite").parquet(post_path)
        n_post = int(obs.get["rows"])
        man.set_stats(n_postings=n_post)
        man.commit_stage(
            StageRecord(
                "postings", n_post, time.time() - t0, dir_bytes(post_path), chash,
                extra={"compacted_from": len(parts)},
            )
        )

    # carry the streaming ingest ledger: a stream repointed at the
    # compacted dir (same source checkpoint) must keep skipping batches
    # whose rows are already folded in, or the replay would duplicate
    # them as fresh deltas
    from newsleak_spark.streaming import BATCH_LEDGER  # lazy: avoids cycle

    ledger = os.path.join(index_dir, BATCH_LEDGER)
    if os.path.exists(ledger):
        shutil.copy(ledger, os.path.join(out_dir, BATCH_LEDGER))

    # stages 4-5 (dictionary, bigrams, segments) run via the normal
    # build with stages 1-3 already committed; transcripts is never
    # touched
    return build_index(spark, None, out_dir, cfg, resume=True)
