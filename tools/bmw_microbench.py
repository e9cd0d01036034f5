"""Scorer-level microbench for the BMW (block-max WAND) union path.

Isolates the per-shard scorer (decode + chunk iteration + scoring)
from the read: reads the union terms' segment blocks in the driver
once, then times the raw scorer callable per shard. Two boost-only union shapes: ``dense`` (common terms, few chunks
skip) and ``selective`` (rare terms plus the hot term, most chunks
skip). Run it alternately on two checkouts to A/B a scorer change;
BASELINE.md records the union-scorer measurements.

Usage: python tools/bmw_microbench.py [n_turns] [reps] [dense|selective]
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from newsleak_spark.indexing import IndexConfig, build_index  # noqa: E402
from newsleak_spark.query.engine import (  # noqa: E402
    IndexReader,
    TermMeta,
    _by_shard_term,
    _make_shard_scorer,
)
from newsleak_spark.query.spec import QuerySpec  # noqa: E402
from newsleak_spark.session import get_spark  # noqa: E402
from newsleak_spark.transcripts import synth_transcripts  # noqa: E402


def main() -> None:
    n_turns = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_spark(cores=8)
    idx = f"/tmp/newsleak_bmw_micro_{n_turns}"
    if not os.path.exists(os.path.join(idx, "manifest.json")):
        shutil.rmtree(idx, ignore_errors=True)
        build_index(
            spark, synth_transcripts(spark, n_turns, partitions=64), idx,
            IndexConfig(), resume=False,
        )
    rd = IndexReader(spark, idx)

    # boost-only scored union incl. the injected hot term (df ~0.4N).
    # dense: all-common terms (low skip rate);
    # selective: rare terms + the hot term (high idf spread: chunks
    # holding only hot-term postings can't beat θ and are skipped)
    shapes = {
        "dense": ("spark", "w3", "w17", "w101"),
        "selective": ("spark", "w4001", "w9001", "w17777"),
    }
    shape = sys.argv[3] if len(sys.argv) > 3 else "dense"
    spec = QuerySpec(terms=(), boost_terms=shapes[shape], k=20)
    terms = list(spec.boost_terms)
    dict_rows = rd.dictionary_rows(terms)
    metas = [
        TermMeta(
            t,
            float(dict_rows[t][0]),
            float(np.log(1.0 + (rd.n_docs - dict_rows[t][0] + 0.5) / (dict_rows[t][0] + 0.5))),
            False,
        )
        for t in terms if t in dict_rows
    ]
    seg = rd.segment_rows(terms, with_positions=False)
    shards = list(_by_shard_term(seg).values())
    print(f"shape={shape} turns={n_turns} union_terms={len(metas)} shards={len(shards)} "
          f"blocks={seg.num_rows} postings={sum(seg['n'].to_pylist())}")

    scorer = _make_shard_scorer(metas, (), rd.avgdl, spec.k, truncate=True)
    times = []
    for _ in range(reps):
        t0 = time.time()
        for by_term in shards:
            scorer(by_term)
        times.append(time.time() - t0)
    times.sort()
    print(f"scorer wall sec per full pass: median={times[len(times)//2]:.4f} "
          f"min={times[0]:.4f} max={times[-1]:.4f}")
    spark.stop()


if __name__ == "__main__":
    main()
