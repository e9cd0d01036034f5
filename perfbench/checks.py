"""Correctness oracles: each sampled answer is recomputed with the brute
DataFrame path (query/brute.py) over the current table. A returned list
of mismatch descriptions is empty when the answer is right."""

from __future__ import annotations

from collections import Counter
from itertools import combinations

from pyspark.sql import functions as F

from newsleak_spark.api import compile_spec
from newsleak_spark.query.brute import bm25_topk, matching_docs

from perfbench.corpus import PAGE_SIZE, Request

_LOD_FMT = {"year": "yyyy", "month": "yyyy-MM"}


def check(table, req: Request, resp: dict, mode: str = "standard") -> list[str]:
    if not isinstance(resp, dict) or resp.get("status") == 400:
        return [f"error response {resp!r:.200}"]
    if req.rtype.startswith("page"):
        return _check_docs(table, req, resp, mode)
    spec = compile_spec(req.query, roles=req.roles, mode=mode)
    docs = matching_docs(table, spec, mode)
    if req.rtype.startswith("facet"):
        return _check_facet(docs, req, resp)
    if req.rtype.startswith("timeline"):
        return _check_timeline(docs, req, resp)
    return _check_subgraph(docs, resp)


def _check_docs(table, req: Request, resp: dict, mode: str) -> list[str]:
    spec = compile_spec(req.query, roles=req.roles, k=req.page * PAGE_SIZE, mode=mode)
    want = [(r["doc_id"], r["score_e6"]) for r in bm25_topk(table, spec, mode).collect()]
    want = want[(req.page - 1) * PAGE_SIZE :]
    got = [(d["id"], round(d["score"] * 1e6)) for d in resp["docs"]]
    out = []
    if got != want:
        out.append(f"page {req.page} of {req.query!r}: got {got[:3]}.. ({len(got)}) want {want[:3]}.. ({len(want)})")
    if req.rtype == "page1_total":
        n = matching_docs(table, spec, mode).count()
        if resp["hits"] != n:
            out.append(f"total of {req.query!r}: got {resp['hits']} want {n}")
    return out


def _check_facet(docs, req: Request, resp: dict) -> list[str]:
    key = req.facet_key
    rows = docs.filter(F.col(key).isNotNull()).groupBy(key).count().collect()
    want = {r[key]: r["count"] for r in rows}
    got = {b["key"]: b["docCount"] for b in resp["buckets"]}
    return [] if got == want else [f"facet {key} of {req.query!r}: got {got} want {want}"]


def _check_timeline(docs, req: Request, resp: dict) -> list[str]:
    bucket = F.date_format(F.col("ts"), _LOD_FMT[req.lod])
    want = {r["b"]: r["count"] for r in docs.groupBy(bucket.alias("b")).count().collect()}
    got = {b["key"]: b["docCount"] for b in resp["buckets"] if b["docCount"]}
    return [] if got == want else [f"timeline {req.lod} of {req.query!r}: got {got} want {want}"]


def _check_subgraph(docs, resp: dict, n_nodes: int = 10) -> list[str]:
    pairs = docs.filter(F.col("tool").isNotNull()).select("conv_id", "tool")
    counts = {r["tool"]: r["count"] for r in pairs.groupBy("tool").count().collect()}
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:n_nodes]
    nodes = {t for t, _ in top}
    by_conv: dict[str, set[str]] = {}
    for r in pairs.filter(F.col("tool").isin(list(nodes))).distinct().collect():
        by_conv.setdefault(r["conv_id"], set()).add(r["tool"])
    edges = Counter(p for tools in by_conv.values() for p in combinations(sorted(tools), 2))
    want_nodes = [{"id": t, "occurrence": n} for t, n in top]
    want_edges = {(a, b): w for (a, b), w in edges.items()}
    got_edges = {(e["source"], e["target"]): e["weight"] for e in resp["relationships"]}
    out = []
    if resp["nodes"] != want_nodes:
        out.append(f"subgraph nodes: got {resp['nodes']} want {want_nodes}")
    if got_edges != want_edges:
        out.append(f"subgraph edges: got {len(got_edges)} want {len(want_edges)}")
    return out
