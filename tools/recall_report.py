"""Measured recall of the capped/bucketed LSH scale paths vs their
exact brute-force baselines (BASELINE.md "LSH recall" section).

* ann_lsh_topk vs ann_cosine_topk: fraction of true top-k neighbor
  pairs (query_id, neighbor_id) the LSH+rerank path returns.
* dedup_minhash_lsh vs dedup_ngram_jaccard: fraction of true
  Jaccard>=0.4 near-dup pairs present in the LSH candidate pairs
  (MinHash bands are a candidate GENERATOR — the relevant recall is
  "does a true near-dup pair land in at least one shared bucket",
  including the MAX_BUCKET size cap's effect).

Usage: python tools/recall_report.py [sf_dir ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from newsleak_spark import similarity, textops  # noqa: E402
from newsleak_spark.session import get_spark  # noqa: E402


def pairs(df, cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def main() -> None:
    dirs = sys.argv[1:] or ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
    spark = get_spark(cores=8)
    for d in dirs:
        truth_ann = pairs(
            similarity.ann_cosine_topk(spark, d), ("query_id", "neighbor_id")
        )
        got_ann = pairs(similarity.ann_lsh_topk(spark, d), ("query_id", "neighbor_id"))
        r_ann = len(truth_ann & got_ann) / len(truth_ann) if truth_ann else 1.0

        truth_dup = pairs(textops.dedup_ngram_jaccard(spark, d), ("doc_a", "doc_b"))
        cand = pairs(textops.dedup_minhash_lsh(spark, d), ("doc_a", "doc_b"))
        r_dup = len(truth_dup & cand) / len(truth_dup) if truth_dup else 1.0

        print(
            f"{d}: ann_lsh_topk recall={r_ann:.3f} ({len(truth_ann)} true pairs) | "
            f"minhash_lsh candidate recall={r_dup:.3f} "
            f"({len(truth_dup)} true near-dup pairs, {len(cand)} candidates)"
        )
    spark.stop()


if __name__ == "__main__":
    main()
