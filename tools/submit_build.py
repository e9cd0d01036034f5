"""spark-submit entry point for the index build (north_rule packaging).

Cluster usage (ships the package to executors via --py-files), from
the repo root:

    zip -r /tmp/newsleak_spark.zip newsleak_spark
    spark-submit --py-files /tmp/newsleak_spark.zip \
        tools/submit_build.py --index-dir /data/idx \
        --input /data/transcripts.parquet --shuffle-partitions 4096

Sandbox usage (self-contained; get_spark also addPyFile's the package
so plain `python tools/submit_build.py ...` works identically):

    python tools/submit_build.py --index-dir /tmp/idx --synthetic 1000000
    python tools/submit_build.py --index-dir /tmp/idx --append --synthetic 100000 --seed 43

Emits ONE JSON line of per-stage metrics (rows, wall_sec, bytes,
rows/sec) — the "per-stage throughput metrics" feed of BASELINE.json.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index-dir", required=True)
    ap.add_argument("--input", help="parquet path with transcript columns")
    ap.add_argument("--synthetic", type=int, help="generate N synthetic turns instead")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--append", action="store_true", help="delta-append instead of base build")
    ap.add_argument(
        "--compact", metavar="OUT_DIR",
        help="fold --index-dir's base+deltas into OUT_DIR (no --input needed)",
    )
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--mode", default="standard", choices=["standard", "english"])
    ap.add_argument("--n-shards", type=int, default=8)
    ap.add_argument("--n-term-buckets", type=int, default=32)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from newsleak_spark.indexing import IndexConfig, append_index, build_index
    from newsleak_spark.transcripts import synth_transcripts

    if os.environ.get("PYSPARK_GATEWAY_PORT"):
        # under spark-submit: the JVM gateway carries --master/--conf;
        # don't override them, just attach and ship the package
        from newsleak_spark.session import ensure_workers_can_import

        b = SparkSession.builder
        if args.shuffle_partitions:
            b = b.config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
        spark = b.getOrCreate()
        ensure_workers_can_import(spark)
    else:
        from newsleak_spark.session import get_spark

        spark = get_spark(
            app_name="newsleak_build", shuffle_partitions=args.shuffle_partitions
        )

    if args.compact:
        from newsleak_spark.indexing import compact_index

        t0 = time.time()
        man = compact_index(spark, args.index_dir, args.compact)
        print(
            json.dumps(
                {
                    "index_dir": args.compact,
                    "compacted_from": args.index_dir,
                    "wall_sec": round(time.time() - t0, 2),
                    "stats": man.stats,
                }
            )
        )
        return

    if args.synthetic:
        t = synth_transcripts(spark, args.synthetic, seed=args.seed, partitions=args.partitions)
    elif args.input:
        t = spark.read.parquet(args.input)
        if "doc_id" not in t.columns:
            from pyspark.sql import functions as F

            from newsleak_spark.transcripts import audit_doc_ids, composite_doc_id

            t = t.withColumn("doc_id", composite_doc_id(F.col("conv_id"), F.col("turn_idx")))
            n_bad = audit_doc_ids(t)
            if n_bad:
                raise SystemExit(f"doc_id collisions: {n_bad}")
    else:
        ap.error("one of --input / --synthetic is required")

    cfg = IndexConfig(
        mode=args.mode, n_shards=args.n_shards, n_term_buckets=args.n_term_buckets
    )
    t0 = time.time()
    fn = append_index if args.append else build_index
    man = fn(spark, t, args.index_dir, cfg, resume=not args.no_resume)
    wall = time.time() - t0

    stages = {
        name: {
            "rows": rec["rows"],
            "wall_sec": round(rec["wall_sec"], 2),
            "bytes": rec["bytes"],
            "rows_per_sec": round(rec["rows"] / rec["wall_sec"], 1) if rec["wall_sec"] else None,
        }
        for name, rec in man.data["stages"].items()
    }
    print(
        json.dumps(
            {
                "index_dir": args.index_dir,
                "append": args.append,
                "wall_sec": round(wall, 2),
                "turns": man.stats.get("n_docs"),
                "turns_per_sec": round(man.stats["n_docs"] / wall, 1) if wall else None,
                "stats": man.stats,
                "stages": stages,
            }
        )
    )


if __name__ == "__main__":
    main()
