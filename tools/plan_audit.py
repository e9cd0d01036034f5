"""Generate tools/PLAN_AUDIT.md: the formatted physical plans of the
load-bearing queries, annotated with the property each plan must show.
tests/test_plans.py pins these properties executably; this artifact
makes them reviewable without running Spark.

Usage: python tools/plan_audit.py   (writes tools/PLAN_AUDIT.md)
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from newsleak_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"


def plan_of(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _s2_export_path(spark) -> str:
    """Materialize the S2 NDJSON fixture (same path the gate query
    writes) so the audited plan is the real file scan."""
    from newsleak_spark import sources

    sources._s2_es_source(spark, SF).limit(1).collect()
    tag = SF.strip("/").replace("/", "_")
    return f"/tmp/newsleak_es_export_{tag}"


def main() -> None:
    spark = get_spark(cores=8)
    import __spark_entry__ as entry
    from newsleak_spark import curation, facets, textops
    from newsleak_spark.query import QuerySpec, bm25_topk
    from newsleak_spark.query.engine import matching_doc_ids, search
    from newsleak_spark.transcripts import load_transcripts

    t = load_transcripts(spark, SF)
    idx = entry._engine_index(spark, SF)

    sections = [
        (
            "Engine search (shard tasks + top-k merge)",
            "MapInArrow over Range(n_shards): each task runs the engine's "
            "shard task (a pyarrow read of only its shards' query-bucket "
            "directories, then the scorer) for its own shards; no Exchange "
            "below the TakeOrderedAndProject merge; no join. Bucket, term "
            "and position-column pruning happen in the pyarrow read "
            "(tests/test_plans.py pins them there).",
            search(spark, idx, QuerySpec(terms=("spark",), k=10)),
        ),
        (
            "Engine doc set (filtered not-only spec)",
            "The same MapInArrow over Range: each shard's filter-surviving "
            "docmeta ids minus the must_not postings inside the shard task; "
            "no anti-join, no Exchange.",
            matching_doc_ids(
                spark, idx, QuerySpec(role_filter=("user",), not_terms=("spark",))
            ),
        ),
        (
            "Brute BM25 (in-repo oracle path)",
            "Broadcast-only joins of the tiny dims; postings-sized "
            "shuffles only; TakeOrderedAndProject top-k.",
            bm25_topk(t, QuerySpec(terms=("merge", "window"), k=10)),
        ),
        (
            "G1 facet",
            "Column-pruned scan (no text), map-side partial_count before "
            "the exchange.",
            facets.facet_counts(t, "role", k=10),
        ),
        (
            "A9 keyterms",
            "No broadcast HINT on the vocabulary-sized cf table (the one "
            "ResolvedHint is the 1-row totals); term join co-partitions "
            "or auto-broadcasts from stats.",
            curation.a9_keyterms(spark, SF),
        ),
        (
            "MinHash LSH dedup",
            "Wide-agg signatures (map-side partial agg), bucket-size cap "
            "filter sharing the (band, band_key) join key, no cartesian.",
            textops.dedup_minhash_lsh(spark, SF),
        ),
        (
            "Dedup clustering (connected components)",
            "Large-star/small-star rounds: each half-round is one "
            "groupBy(u) + one equi-join on u (same shuffle key), edge "
            "set localCheckpointed per round (plan does not grow with "
            "iterations); no cartesian, no driver-side graph.",
            textops.dedup_cluster(spark, SF),
        ),
        (
            "n-gram Jaccard dedup",
            "Shingle df-cap filter feeding the self-join on the same sh "
            "key; no cartesian.",
            textops.dedup_ngram_jaccard(spark, SF),
        ),
        (
            "Stratified sampling (train/eval split)",
            "Map-only: row-local md5 hash draws, no Exchange before the "
            "determinism orderBy; no RNG, no partition dependence.",
            textops.stratified_sample(spark, SF),
        ),
        (
            "Corpus n-gram counts",
            "Explode → hash-agg on the gram with map-side partial agg → "
            "TakeOrderedAndProject (no full sort of the gram table).",
            textops.ngram_counts(spark, SF),
        ),
        (
            "Decontamination",
            "Single equi-join on the shingle key; benchmark side is "
            "eval-set-sized (auto-broadcast from stats at small scale).",
            textops.decontaminate(spark, SF),
        ),
        (
            "As-of join (events)",
            "NO join operator at all: tagged union + ONE user-keyed "
            "window (single exchange on user_id) — the range-join-free "
            "rewrite.",
            __import__("newsleak_spark.events", fromlist=["events"]).ev_asof_join(spark, SF),
        ),
        (
            "A11 temporal tagging",
            "Row-local regexp extraction fully inside WholeStageCodegen — "
            "no Exchange anywhere in the tagging plan (parallelism "
            "follows the scan; explode is a per-partition Generate).",
            __import__("newsleak_spark.annotate", fromlist=["annotate"]).tag_timex(t),
        ),
        (
            "A12 NER entity frequencies",
            "Three codegen'd extraction branches unioned, ONE exchange "
            "for the (type, entity) agg with map-side partial_count — "
            "the S5 upsert-as-agg shape.",
            __import__("newsleak_spark.annotate", fromlist=["annotate"]).entity_frequencies(t),
        ),
        (
            "S2 ES-export source",
            "NDJSON scan with EXPLICIT schema (no inference job), header/"
            "body assembly as codegen'd expressions over the _source "
            "struct — no UDF, no shuffle.",
            __import__("newsleak_spark.sources", fromlist=["sources"]).load_es_export(
                spark, _s2_export_path(spark)
            ),
        ),
    ]

    out = [
        "# Plan audit (generated by tools/plan_audit.py)\n",
        f"\nIndex/query plans at {SF}; properties below are pinned as",
        " executable assertions in tests/test_plans.py.\n",
    ]
    for title, prop, df in sections:
        out.append(f"\n## {title}\n\n**Must show**: {prop}\n\n```\n")
        out.append(plan_of(df))
        out.append("```\n")
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "PLAN_AUDIT.md")
    with open(path, "w") as f:
        f.write("".join(out))
    print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
