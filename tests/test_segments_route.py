"""Build stage 5 (segments) has two executors behind one per-group
encode: the driver for inputs within engine.LOCAL_MAX_SEGMENT_ROWS rows and
a salted Spark shuffle above it. Builds, appends and compactions must
write the same segment rows, lineage and stats from either, and answer
queries the same; a driver-routed stage starts no Spark job and a
resumed one leaves nothing of an uncommitted segments dir behind."""

import datetime as dt
import json
import os
import shutil

import pyarrow.dataset as ds
import pytest
from pyspark.sql import functions as F

from newsleak_spark.indexing import IndexConfig, append_index, build_index, compact_index
from newsleak_spark.indexing.build import BIGRAM_SEP
from newsleak_spark.indexing.manifest import Manifest
from newsleak_spark.query import QuerySpec, engine
from newsleak_spark.transcripts import TRANSCRIPT_SCHEMA
from test_api import spark_jobs

# "the" and "of" are in every doc: hot (salted over n_salts) and their
# adjacent pair is a bigram-sidecar term
CFGS = {
    "positions": IndexConfig(n_shards=2, n_term_buckets=3, block_size=4, hot_df_ratio=0.3, n_salts=4),
    "no_positions": IndexConfig(
        n_shards=2, n_term_buckets=3, block_size=4, hot_df_ratio=0.3, n_salts=4, with_positions=False
    ),
}
SPECS = [
    QuerySpec(terms=("the",), k=7),
    QuerySpec(terms=("merge", "window"), k=7),
    QuerySpec(terms=(), boost_terms=("merge", "table"), k=7),
    QuerySpec(not_terms=("merge",), k=7),
]
PHRASE = QuerySpec(phrases=(("the", "of"),), k=7)
ROUTES = {"driver": 10**12, "spark": -1}


def _rows():
    words = ["merge", "window", "table", "fast", "spark", "join"]
    out = []
    for i in range(60):
        doc = i - 25  # negative doc ids salt by pmod
        text = f"the of {words[i % 6]} the {words[(i * 5) % 6]} w{i % 9} of the"
        out.append((
            doc, f"c{i % 4}", i, ("user", "assistant")[i % 2], text,
            ("grep", None)[i % 2], dt.datetime(2021, 1 + i % 12, 1, 12),
        ))
    return out


def _segments(d):
    tbl = ds.dataset(os.path.join(d, "segments"), format="parquet", partitioning="hive").to_table()
    return sorted(tbl.to_pylist(), key=lambda r: (r["shard"], r["bucket"], r["term"], r["salt"], r["block_seq"]))


def _state(spark, d, cfg):
    man = Manifest(d)
    specs = SPECS + ([PHRASE] if cfg.with_positions else [])
    return {
        "segments": _segments(d),
        "lineage": man.stages["segments"]["partitions"],
        "stats": man.stats,
        "heaps": [engine.ranked_heaps(spark, d, s, count=True) for s in specs],
        "roles": [engine.count_by(spark, d, s, "role") for s in specs],
    }


@pytest.fixture(scope="module")
def routed(spark, tmp_path_factory):
    """{(cfg, route): [state of the base, of base + delta, of the
    compacted index]}, each index written with the segments stage
    forced onto one route."""
    table = spark.createDataFrame(_rows(), TRANSCRIPT_SCHEMA).cache()
    root = tmp_path_factory.mktemp("segroute")
    out = {}
    with pytest.MonkeyPatch.context() as mp:
        for name, cfg in CFGS.items():
            for route, bound in ROUTES.items():
                mp.setattr(engine, "LOCAL_MAX_SEGMENT_ROWS", bound)
                d = str(root / f"{name}_{route}")
                build_index(spark, table.filter(F.col("doc_id") % 3 != 0), d, cfg)
                steps = [d]
                append_index(spark, table.filter(F.col("doc_id") % 3 == 0), d, cfg)
                steps.append(os.path.join(d, "delta_0000"))
                compact_index(spark, d, d + "_compacted")
                steps.append(d + "_compacted")
                # the base's answers are read through base + delta
                out[name, route] = [_state(spark, p, cfg) for p in steps]
                out[name, route, "files"] = [
                    f for p in steps for _, _, fs in os.walk(os.path.join(p, "segments")) for f in fs
                ]
    yield out
    shutil.rmtree(root, ignore_errors=True)


@pytest.mark.parametrize("name", sorted(CFGS))
def test_routes_write_equal_segments(routed, name):
    driver, spark_ = routed[name, "driver"], routed[name, "spark"]
    for step, (a, b) in enumerate(zip(driver, spark_)):
        assert a == b, (name, step)
    base = driver[0]
    # the fixture exercises what it claims: salted hot blocks, negative
    # doc ids and (with positions) sidecar rows
    assert any(r["salt"] > 0 for r in base["segments"])
    assert any(r["doc_first"] < 0 for r in base["segments"])
    has_sidecar = any(BIGRAM_SEP in r["term"] for r in base["segments"])
    assert has_sidecar == CFGS[name].with_positions
    assert sum(v["bigram_postings"] for v in base["lineage"].values()) == base["stats"].get("n_bigram_postings", 0)
    # each executor really ran: the driver writes one part-00000 file per
    # directory, Spark's writer names its files by job
    assert set(routed[name, "driver", "files"]) == {"part-00000.parquet"}
    assert "part-00000.parquet" not in routed[name, "spark", "files"]


def test_driver_resume_runs_no_job_and_clears_segments(spark, tmp_path):
    """A build killed inside a driver-routed segments stage resumes
    with no Spark job: every earlier stage is committed, the stage reads
    its checkpoints with pyarrow, and it replaces whatever the killed
    run left in segments/."""
    table = spark.createDataFrame(_rows(), TRANSCRIPT_SCHEMA)
    d = str(tmp_path / "idx")
    cfg = CFGS["positions"]
    build_index(spark, table, d, cfg)
    seg = os.path.join(d, "segments")
    before, lineage = _segments(d), Manifest(d).stages["segments"]["partitions"]

    man_path = os.path.join(d, "manifest.json")
    with open(man_path) as f:
        man = json.load(f)
    del man["stages"]["segments"]
    with open(man_path, "w") as f:
        json.dump(man, f)
    stray = [os.path.join(seg, "shard=0", "bucket=0", "part-99999.parquet"), os.path.join(seg, "shard=7", "x")]
    for p in stray:
        os.makedirs(os.path.dirname(p), exist_ok=True)
        shutil.copy(os.path.join(d, "manifest.json"), p)

    assert spark_jobs(spark, lambda: build_index(spark, table, d, cfg))[1] == 0
    assert not any(os.path.exists(p) for p in stray) and not os.path.exists(os.path.join(seg, "shard=7"))
    assert _segments(d) == before
    assert Manifest(d).stages["segments"]["partitions"] == lineage
