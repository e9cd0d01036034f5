"""Aggregation layer — newsleak's facet/timeline/network services.

Re-expresses (citations into /root/reference/):
  - G1 terms aggregation (top-k facet, include/exclude, zero-fill):
    app/models/services/AggregateService.scala:195-226,261-286
  - G5 cardinality: app/models/services/NetworkService.scala:204-223
  - G6 date histogram with min_doc_count=0 dense buckets:
    app/models/services/TimelineService.scala:117-152
  - G7 min/max date bounds: TimelineService.scala:181-203
  - G8 decade re-grouping: TimelineService.scala:205-227
  - G9 hit count: DocumentService.scala:421
  - J6 co-occurrence network — the O(n²)-ES-roundtrip pattern of
    NetworkService.scala:152-175 rewritten as ONE self-join + groupBy
  - T5 per-group top-n: KeytermExtractor.java:96-98 (window + row_number)

Every function takes an already-filtered transcripts DataFrame (the
`Facets` filter model composes upstream via query.brute._apply_filters)
and returns a DataFrame with pinned deterministic ordering/tie-breaks
so results hash-match the DuckDB oracles.

All plans are pure Catalyst: partial+final hash aggregation, broadcast
spine joins; no UDFs. The index serves role/tool facets and timelines
as per-shard counts (engine.count_by); top_values and dense_buckets
turn those counts into exactly the rows facet_counts and
date_histogram return.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def hit_count(filtered: DataFrame) -> DataFrame:
    """G9: total hits of a filter."""
    return filtered.agg(F.count("*").alias("n_hits"))


def facet_counts(
    filtered: DataFrame,
    column: str,
    k: int = 50,
    include: list[str] | None = None,
    exclude: list[str] | None = None,
) -> DataFrame:
    """G1: doc-count per distinct value, count-desc, top-k.

    include → zero-count buckets re-added (AggregateService.scala:272-277);
    exclude → dropped (U3). Tie-break pinned (n_docs desc, value asc).
    """
    df = filtered.filter(F.col(column).isNotNull())
    if exclude:
        df = df.filter(~F.col(column).isin(exclude))
    if include:
        df = df.filter(F.col(column).isin(include))
    agg = df.groupBy(F.col(column).alias("value")).agg(F.count("*").alias("n_docs"))
    if include:
        spark = filtered.sparkSession
        spine = spark.createDataFrame([(v,) for v in include], "value string")
        agg = (
            F.broadcast(spine)
            .join(agg, "value", "left")
            .select("value", F.coalesce("n_docs", F.lit(0)).alias("n_docs"))
        )
    return agg.orderBy(F.desc("n_docs"), F.asc("value")).limit(k)


def top_values(
    counts: dict,
    k: int = 50,
    include: list[str] | None = None,
    exclude: list[str] | None = None,
) -> list[tuple]:
    """facet_counts' (value, n_docs) rows from per-value doc counts
    (nulls already dropped): exclude drops, include keeps only its
    values and zero-fills them (once per listed occurrence, as the
    spine join does), then (n_docs desc, value asc) and top-k."""
    if exclude:
        counts = {v: n for v, n in counts.items() if v not in exclude}
    rows = [(v, counts.get(v, 0)) for v in include] if include else list(counts.items())
    # nulls first, as Spark's ascending sort puts them (a None in include)
    return sorted(rows, key=lambda r: (-r[1], r[0] is not None, r[0] or ""))[:k]


def cardinality(filtered: DataFrame, column: str, exact: bool = True) -> DataFrame:
    """G5: distinct count. ES uses HLL (approximate); exact mode for
    oracle parity, approx_count_distinct as the 100TB-scale path."""
    fn = F.countDistinct if exact else F.approx_count_distinct
    return filtered.agg(fn(column).alias("n_distinct"))


_LOD_TRUNC = {"day": "day", "month": "month", "year": "year", "decade": "year"}
LODS = tuple(_LOD_TRUNC)  # the timeline levels of detail
_LOD_FMT = {"day": "yyyy-MM-dd", "month": "yyyy-MM", "year": "yyyy"}


def date_histogram(filtered: DataFrame, lod: str = "month") -> DataFrame:
    """G6: dense date histogram (min_doc_count=0 + extended bounds).

    Buckets formatted per LoD (TimelineService.scala:154-179); the zero
    spine is generated with sequence() between the filtered min/max and
    broadcast-joined — no shuffle beyond the count agg.
    """
    if lod == "decade":
        return decade_histogram(filtered)
    trunc = _LOD_TRUNC[lod]
    fmt = _LOD_FMT[lod]
    counts = (
        filtered.select(F.date_trunc(trunc, "ts").cast("date").alias("bucket_d"))
        .groupBy("bucket_d")
        .agg(F.count("*").alias("n_docs"))
    )
    bounds = filtered.agg(
        F.date_trunc(trunc, F.min("ts")).cast("date").alias("lo"),
        F.date_trunc(trunc, F.max("ts")).cast("date").alias("hi"),
    )
    step = {"day": "interval 1 day", "month": "interval 1 month", "year": "interval 1 year"}[lod]
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr(step))).alias("bucket_d")
    )
    return (
        spine.join(counts, "bucket_d", "left")
        .select(
            F.date_format("bucket_d", fmt).alias("bucket"),
            F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
        )
        .orderBy("bucket")
    )


def bucket_ordinals(ts: pa.Array, lod: str, zone: str | int) -> np.ndarray:
    """Each instant's timeline bucket at ``lod`` in time zone ``zone``
    (a tz database id, or a fixed offset in seconds), as an int: the
    local date's days since 1970-01-01 (day), year·12 + month - 1
    (month), the year (year) or its decade (decade) — date_histogram's
    date_trunc in the session time zone. ``ts`` holds no nulls; a
    zone-less timestamp is taken as UTC."""
    unit = ts.type.unit
    if isinstance(zone, str):
        local = pc.local_timestamp(ts.cast(pa.timestamp(unit, zone)))
    else:
        shift = pa.scalar(zone * {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[unit], pa.duration(unit))
        local = pc.add(ts.cast(pa.timestamp(unit)), shift)
    if lod == "day":
        return local.cast(pa.date32()).view(pa.int32()).to_numpy().astype(np.int64)
    year = pc.year(local).to_numpy().astype(np.int64)
    if lod == "month":
        return year * 12 + pc.month(local).to_numpy() - 1
    return year if lod == "year" else year // 10 * 10


_BUCKET_KEY = {
    "day": lambda o: (dt.date(1970, 1, 1) + dt.timedelta(days=o)).isoformat(),
    "month": lambda o: f"{o // 12:04d}-{o % 12 + 1:02d}",
    "year": lambda o: f"{o:04d}",
    "decade": str,
}


def dense_buckets(counts: dict, lod: str) -> list[tuple[str, int]]:
    """date_histogram's dense (key, n_docs) rows, keys as the timeline
    endpoint formats them, from per-bucket doc counts keyed by
    bucket_ordinals: every bucket from the first to the last, zero
    where no doc falls."""
    if not counts:
        return []
    step = 10 if lod == "decade" else 1
    fmt = _BUCKET_KEY[lod]
    return [(fmt(o), counts.get(o, 0)) for o in range(min(counts), max(counts) + 1, step)]


def decade_histogram(filtered: DataFrame) -> DataFrame:
    """G8: year buckets re-grouped to decades, zero-filled across span."""
    counts = (
        filtered.select((F.floor(F.year("ts") / 10) * 10).cast("int").alias("decade"))
        .groupBy("decade")
        .agg(F.count("*").alias("n_docs"))
    )
    bounds = filtered.agg(
        (F.floor(F.year(F.min("ts")) / 10) * 10).cast("int").alias("lo"),
        (F.floor(F.year(F.max("ts")) / 10) * 10).cast("int").alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.lit(10))).alias("decade")
    )
    return (
        spine.join(counts, "decade", "left")
        .select("decade", F.coalesce("n_docs", F.lit(0)).alias("n_docs"))
        .orderBy("decade")
    )


def date_bounds(filtered: DataFrame) -> DataFrame:
    """G7: collection min/max dates (overview bounds)."""
    return filtered.agg(
        F.min(F.col("ts").cast("date")).cast("string").alias("min_d"),
        F.max(F.col("ts").cast("date")).cast("string").alias("max_d"),
    )


def cooccurrence(
    pairs: DataFrame, group_col: str, value_col: str, min_count: int = 1, k: int = 1000
) -> DataFrame:
    """J6 rewrite: edge weights for ALL node pairs in one self-join —
    replaces NetworkService.scala:152-175's O(n²) sequential requests.

    ``pairs`` = (group, value) rows; edge weight = number of groups
    containing both values. At scale this is the canonical
    dedup→self-join→agg: the distinct() bounds the join input to one
    row per (group, value).
    """
    d = pairs.select(
        F.col(group_col).alias("g"), F.col(value_col).alias("v")
    ).filter(F.col("v").isNotNull()).distinct()
    a = d.alias("a")
    b = d.alias("b")
    edges = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.v") < F.col("b.v")))
        .groupBy(F.col("a.v").alias("source"), F.col("b.v").alias("target"))
        .agg(F.count("*").alias("weight"))
        .filter(F.col("weight") >= min_count)
    )
    return edges.orderBy(F.desc("weight"), F.asc("source"), F.asc("target")).limit(k)


def tool_network(transcripts: DataFrame, min_count: int = 1, k: int = 1000) -> DataFrame:
    """Tool co-usage network: tools co-occurring within a conversation
    (the entity-network analog for the transcript payload)."""
    return cooccurrence(
        transcripts.filter(F.col("tool").isNotNull()).select("conv_id", "tool"),
        "conv_id",
        "tool",
        min_count,
        k,
    )


def top_terms_per_doc(doc_terms: DataFrame, n: int = 10) -> DataFrame:
    """T5/G10: per-doc top-n terms by tf (KeytermExtractor n=15 / index
    n=10). ``doc_terms`` = (doc_id, term, tf). Tie-break (tf desc, term
    asc) pinned. Window + row_number — Catalyst's standard top-n-per-
    group; at scale this shuffles once on doc_id."""
    w = W.partitionBy("doc_id").orderBy(F.desc("tf"), F.asc("term"))
    return (
        doc_terms.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n)
        .select("doc_id", "term", "tf", F.col("rank").cast("long").alias("rank"))
    )
