"""Brute-force BM25 as plain DataFrame ops (SURVEY §7.1 step 2).

This is the rank-identity *reference inside our own codebase*: the
segment/WAND engine (query/engine.py) must match it exactly, and the
driver's DuckDB oracle reproduces it SQL-for-SQL via
``bm25_topk_oracle_sql``.

Semantics (replacing the ES roles newsleak delegates to):
  - F1 query_string with default_operator=AND
    (ESRequestUtils.scala:295-312): every required term must match;
    quoted phrases additionally require token adjacency.
  - BM25 (Lucene ≥5 default): idf = ln(1 + (N-df+0.5)/(df+0.5)),
    tf_norm = tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)), k1=1.2, b=0.75.
  - F2 metadata filters (role/tool — OR within key, AND across keys,
    ESRequestUtils.scala:330-337) and F5 inclusive date range
    (ESRequestUtils.scala:351-353) restrict the candidate set but do
    NOT change scores (global collection stats, like ES filters).
  - F7 boost terms contribute score but never filter
    (ESRequestUtils.scala:287-289,314-328).
  - T1 top-k with pinned tie-break (score desc, doc_id asc) — the
    deterministic replacement for ES's internal-doc-order ties
    (SURVEY §7.5.1). Scores compared at 1e-6 via score_e6 = round(1e6·s).
  - Empty spec → match_all (Facets.scala:50-57) with score 1.0.

Output schema: (doc_id bigint, score_e6 bigint).
"""

from __future__ import annotations

import functools
import operator
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from newsleak_spark.analysis import STANDARD_TOKEN_RE, tokens_col
from newsleak_spark.query.spec import QuerySpec
from newsleak_spark.transcripts import transcripts_sql

K1 = 1.2
B = 0.75

_SAFE_TERM = re.compile(r"^[a-z0-9]+$")


def _sanitize(terms) -> list[str]:
    out = []
    for t in terms:
        if not _SAFE_TERM.match(t):
            raise ValueError(f"term not in index term space: {t!r}")
        out.append(t)
    return out


def score_expr(tf, df, dl, n_docs, avgdl):
    """BM25 per-(doc,term) contribution as a Spark Column expression."""
    idf = F.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
    tf_norm = tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))
    return idf * tf_norm


def _not_filter(t: DataFrame, toks_col, spec: QuerySpec) -> DataFrame:
    """F1 must_not ('-term') exclusion: row-local array_contains on the
    given tokens column — no join, no extra scan."""
    for nt in _sanitize(spec.not_terms):
        t = t.filter(~F.array_contains(toks_col, nt))
    return t


def _apply_filters(t: DataFrame, spec: QuerySpec) -> DataFrame:
    if spec.role_filter:
        t = t.filter(F.col("role").isin(list(spec.role_filter)))
    if spec.tool_filter:
        t = t.filter(F.col("tool").isin(list(spec.tool_filter)))
    if spec.ts_from:
        t = t.filter(F.col("ts").cast("date") >= F.lit(str(spec.ts_from)))
    if spec.ts_to:
        t = t.filter(F.col("ts").cast("date") <= F.lit(str(spec.ts_to)))
    return t


def arrow_filter(spark, spec: QuerySpec, ts_type):
    """_apply_filters as a pyarrow dataset expression (None when the
    spec has no filter), for the engine's driver-local executor.
    ``cast(ts as date)`` takes the instant's date in the session time
    zone, so a ``ts`` bound compares the raw instant with the start of
    that day there, from Spark's own zone rules: ``ts >= start(from)``
    and ``ts < start(to + 1 day)``. ``ts_type`` is the stored column's
    Arrow type (parquet INT96 reads as timestamp[ns]); bounds take its
    unit."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.dataset as ds

    def day_start(day: dt.date):
        du = spark._jvm.org.apache.spark.sql.catalyst.util.DateTimeUtils
        zone = du.getZoneId(spark.conf.get("spark.sql.session.timeZone"))
        micros = du.daysToMicros((day - dt.date(1970, 1, 1)).days, zone)
        return pa.scalar(micros, pa.timestamp("us", ts_type.tz)).cast(ts_type)

    conds = []
    if spec.role_filter:
        conds.append(ds.field("role").isin(list(spec.role_filter)))
    if spec.tool_filter:
        conds.append(ds.field("tool").isin(list(spec.tool_filter)))
    if spec.ts_from:
        conds.append(ds.field("ts") >= day_start(spec.ts_from))
    if spec.ts_to:
        conds.append(ds.field("ts") < day_start(spec.ts_to + dt.timedelta(days=1)))
    return functools.reduce(operator.and_, conds) if conds else None


def _phrase_predicate(toks_joined, phrase: tuple[str, ...]):
    needle = " " + " ".join(phrase) + " "
    return toks_joined.contains(F.lit(needle))


def bm25_topk(transcripts: DataFrame, spec: QuerySpec, mode: str = "standard") -> DataFrame:
    """Top-k BM25 over a transcripts DataFrame. Plain Catalyst plan:
    tokenize → explode → filter to the query's terms BEFORE any
    aggregation (so every shuffle is O(matching postings), never
    O(collection token stream)) → per-(doc,term) hash-agg carrying dl →
    broadcast df/stats joins → final TakeOrderedAndProject. Collection
    stats (N, avgdl) ride as a broadcast single-row crossJoin so the
    whole query stays one lazy plan (no driver-side stats job)."""
    spark = transcripts.sparkSession
    required = _sanitize(spec.all_scored_terms())
    boost = [t for t in _sanitize(spec.boost_terms) if t not in required]

    base = transcripts.select(
        "doc_id", "role", "tool", "ts", tokens_col(F.col("text"), mode).alias("toks")
    )

    if not required and not boost:
        # match_all: filters / exclusions only, score pinned to 1.0
        out = _not_filter(_apply_filters(base, spec), F.col("toks"), spec).select(
            "doc_id", F.lit(1_000_000).cast("long").alias("score_e6")
        )
        return out.orderBy(F.desc("score_e6"), F.asc("doc_id")).limit(spec.k)

    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum(F.size("toks")).cast("double").alias("sum_dl"),
    ).select("n_docs", (F.col("sum_dl") / F.col("n_docs")).alias("avgdl"))

    all_terms = required + boost
    ex = base.select(
        "doc_id", F.size("toks").cast("double").alias("dl"), F.explode("toks").alias("term")
    ).filter(F.col("term").isin(all_terms))
    postings = ex.groupBy("doc_id", "term").agg(
        F.count("*").cast("double").alias("tf"), F.first("dl").alias("dl")
    )

    qdf = spark.createDataFrame(
        [(t, 1) for t in required] + [(t, 0) for t in boost], "term string, required int"
    )
    dfreq = postings.groupBy("term").agg(F.count("*").cast("double").alias("df"))

    cand = (
        postings.join(F.broadcast(qdf), "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
    )
    scored = cand.withColumn(
        "contrib",
        score_expr(F.col("tf"), F.col("df"), F.col("dl"), F.col("n_docs"), F.col("avgdl")),
    ).groupBy("doc_id").agg(
        F.sum("contrib").alias("score"), F.sum("required").alias("nreq")
    ).filter(F.col("nreq") == len(required))

    # candidate attrs for filters / phrases — semi-join back to the base table
    attrs = base.withColumn("joined", F.concat(F.lit(" "), F.array_join("toks", " "), F.lit(" ")))
    attrs = _not_filter(_apply_filters(attrs, spec), F.col("toks"), spec)
    for p in spec.phrases:
        attrs = attrs.filter(_phrase_predicate(F.col("joined"), p))
    scored = scored.join(attrs.select("doc_id"), "doc_id", "left_semi")

    out = scored.select(
        "doc_id", F.round(F.col("score") * 1e6).cast("long").alias("score_e6")
    )
    return out.orderBy(F.desc("score_e6"), F.asc("doc_id")).limit(spec.k)


def matching_docs(transcripts: DataFrame, spec: QuerySpec, mode: str = "standard") -> DataFrame:
    """The UNSCORED doc set a spec matches — F1 terms/phrases as
    membership predicates plus F2/F5 filters. This is what the reference
    applies to aggregation/timeline/network requests (the same bool
    query filters the doc set; only getDocs ranks). ES bool semantics:
    must clauses AND; with NO musts, at least one should (boost) term
    must match. Returns the transcripts rows that match, full schema
    preserved."""
    required = _sanitize(spec.all_scored_terms())
    boost = _sanitize(spec.boost_terms)
    out = transcripts
    if spec.not_terms:
        out = _not_filter(out, tokens_col(F.col("text"), mode), spec)
    if required or spec.phrases or boost:
        toks = tokens_col(F.col("text"), mode)
        pred = None
        for t in required:
            c = F.array_contains(toks, t)
            pred = c if pred is None else (pred & c)
        if spec.phrases:
            joined = F.concat(F.lit(" "), F.array_join(toks, " "), F.lit(" "))
            for p in spec.phrases:
                c = _phrase_predicate(joined, p)
                pred = c if pred is None else (pred & c)
        if pred is None and boost:
            for t in boost:
                c = F.array_contains(toks, t)
                pred = c if pred is None else (pred | c)
        if pred is not None:
            out = out.filter(pred)
    return _apply_filters(out, spec)


# ---------------------------------------------------------------------------
# DuckDB oracle twin — same math, same tie-break, same output schema.
# ---------------------------------------------------------------------------

def _sql_list(vals) -> str:
    return ", ".join("'" + v.replace("'", "''") + "'" for v in vals)


def bm25_topk_oracle_sql(
    spec: QuerySpec, from_documents: bool = True, mode: str = "standard"
) -> str:
    """ANSI-ish SQL DuckDB runs on the pre-registered ``documents`` view
    (transcripts derived in-query) reproducing bm25_topk exactly.

    The rendered SQL tokenizes with STANDARD_TOKEN_RE everywhere
    (phrases, must_not, dl) — DuckDB cannot run the english stemmer
    chain — so it is only a valid twin for ``bm25_topk(mode=
    "standard")``. Fail closed rather than silently disagreeing with a
    differently-analyzed brute path (english parity goes through the
    pinned-token fixture oracle instead; see analysis_oracle notes)."""
    if mode != "standard":
        raise ValueError(
            f"bm25_topk_oracle_sql renders the standard analyzer only, got mode={mode!r}"
        )
    required = _sanitize(spec.all_scored_terms())
    boost = [t for t in _sanitize(spec.boost_terms) if t not in required]

    filters = []
    for nt in _sanitize(spec.not_terms):
        filters.append(
            "NOT list_contains(regexp_extract_all(lower(text), "
            f"'{STANDARD_TOKEN_RE}'), '{nt}')"
        )
    if spec.role_filter:
        filters.append(f"role IN ({_sql_list(spec.role_filter)})")
    if spec.tool_filter:
        filters.append(f"tool IN ({_sql_list(spec.tool_filter)})")
    if spec.ts_from:
        filters.append(f"CAST(ts AS DATE) >= DATE '{spec.ts_from}'")
    if spec.ts_to:
        filters.append(f"CAST(ts AS DATE) <= DATE '{spec.ts_to}'")
    for p in spec.phrases:
        needle = " " + " ".join(p) + " "
        filters.append(
            "(' ' || array_to_string(regexp_extract_all(lower(text), "
            f"'{STANDARD_TOKEN_RE}'), ' ') || ' ') LIKE '%{needle}%'"
        )
    where = (" WHERE " + " AND ".join(filters)) if filters else ""

    prelude = f"WITH transcripts AS ({transcripts_sql('duckdb')}),\n"

    if not required and not boost:
        return (
            prelude
            + "m AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS score_e6 "
            + f"FROM transcripts{where})\n"
            + f"SELECT doc_id, score_e6 FROM m ORDER BY score_e6 DESC, doc_id ASC LIMIT {spec.k}"
        )

    qvals = ", ".join(
        [f"('{t}', 1)" for t in required] + [f"('{t}', 0)" for t in boost]
    )
    return f"""{prelude}
toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{STANDARD_TOKEN_RE}')) AS term
  FROM transcripts
),
-- dl from transcripts (not toks) so zero-token docs still count in N/avgdl,
-- matching the Spark side which derives dl = size(toks) over every row
dl AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(lower(text), '{STANDARD_TOKEN_RE}')) AS DOUBLE) AS dl
  FROM transcripts
),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         SUM(dl) / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM dl
),
postings AS (
  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM toks GROUP BY doc_id, term
),
q(term, required) AS (VALUES {qvals}),
dfreq AS (
  SELECT p.term, CAST(COUNT(*) AS DOUBLE) AS df
  FROM postings p JOIN q USING (term) GROUP BY p.term
),
scored AS (
  SELECT p.doc_id,
         SUM( ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
              * p.tf * {K1 + 1.0} / (p.tf + {K1} * (1.0 - {B} + {B} * d.dl / s.avgdl)) ) AS score,
         SUM(q.required) AS nreq
  FROM postings p
  JOIN q USING (term)
  JOIN dfreq f ON f.term = p.term
  JOIN dl d ON d.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY p.doc_id
),
kept AS (SELECT doc_id FROM transcripts{where})
SELECT sc.doc_id, CAST(ROUND(sc.score * 1000000) AS BIGINT) AS score_e6
FROM scored sc JOIN kept USING (doc_id)
WHERE sc.nreq = {len(required)}
ORDER BY score_e6 DESC, doc_id ASC
LIMIT {spec.k}"""
