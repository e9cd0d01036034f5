"""Query IR — the `Facets` analog (app/models/Facets.scala:37-58).

`QuerySpec` carries everything `Facets` carries, mapped to the
transcript payload: fulltext terms + phrases (F1), role/tool metadata
filters (F2, OR within key / AND across keys,
ESRequestUtils.scala:330-337), inclusive ts range (F5,
ESRequestUtils.scala:351-353), optional boost terms (F7 should-clause,
ESRequestUtils.scala:287-289,314-328), and top-k size.

`parse_query_string` reproduces the query_string preparation of
ESRequestUtils.scala:295-312: terms joined under AND, quoted phrases,
unbalanced quotes auto-closed. `parse_time_range` is the 4-regex
grammar of app/util/DateUtils.scala:58-74.
"""

from __future__ import annotations

import calendar
import datetime as dt
import hashlib
import re
from dataclasses import dataclass


@dataclass(frozen=True)
class QuerySpec:
    terms: tuple[str, ...] = ()                 # F1 — AND semantics
    phrases: tuple[tuple[str, ...], ...] = ()   # F1 — quoted, positional
    role_filter: tuple[str, ...] = ()           # F2 — OR within key
    tool_filter: tuple[str, ...] = ()           # F2
    ts_from: dt.date | None = None              # F5 — inclusive
    ts_to: dt.date | None = None                # F5 — inclusive
    boost_terms: tuple[str, ...] = ()           # F7 — score-only should
    not_terms: tuple[str, ...] = ()             # F1 — '-term' must_not
    k: int = 10
    mode: str = "AND"                           # default_operator=AND

    def is_match_all(self) -> bool:
        """Empty facets → match_all (ESRequestUtils.scala:275-276)."""
        return not (
            self.terms or self.phrases or self.boost_terms or self.not_terms
            or self.role_filter or self.tool_filter or self.ts_from or self.ts_to
        )

    def cache_key(self) -> str:
        """Normalized-query hash (Facets.hashCode analog,
        DocumentController.scala:284-287)."""
        return hashlib.sha256(repr(self).encode()).hexdigest()[:16]

    def all_scored_terms(self) -> tuple[str, ...]:
        seen: dict[str, None] = {}
        for t in self.terms:
            seen.setdefault(t)
        for p in self.phrases:
            for t in p:
                seen.setdefault(t)
        return tuple(seen)

    def scored(self) -> bool:
        """True when some term scores (required or boost): such a spec
        ranks through the index's candidate pipeline; match_all,
        filters-only and not-only specs pin every hit at one score."""
        return bool(self.terms or any(self.phrases) or self.boost_terms)


def parse_query_string(
    q: str, analyzer=None
) -> tuple[tuple[str, ...], tuple[tuple[str, ...], ...], tuple[str, ...]]:
    """Split a raw query string into (terms, phrases, not_terms).

    Quoted spans become phrases; an unbalanced quote is auto-closed at
    end of string (ESRequestUtils.scala:299-302). Outside quotes, a
    word with a ``-`` prefix is a Lucene-query-string must_not (the
    reference compiles fullTextSearch through queryStringQuery,
    ESRequestUtils.scala:304-307, whose syntax includes ``-term``;
    negated PHRASES are out of scope). ``analyzer`` (a callable
    str -> list[str]) is applied to every term/phrase so query terms
    live in the same term space as the index.
    """
    if q.count('"') % 2 == 1:
        q = q + '"'
    analyzer = analyzer or (lambda s: s.lower().split())
    terms: list[str] = []
    phrases: list[tuple[str, ...]] = []
    not_terms: list[str] = []
    chunks = re.split(r'"', q)
    for i, chunk in enumerate(chunks):
        if i % 2 == 1:  # inside quotes
            toks = analyzer(chunk)
            if not toks:
                continue
            if len(toks) == 1:
                terms.append(toks[0])
            else:
                phrases.append(tuple(toks))
            continue
        # outside quotes: peel '-'-prefixed words before analysis (the
        # analyzer itself strips punctuation, so the prefix must be
        # read from the raw word)
        words = chunk.split()
        # A negated quoted phrase (-"foo bar") leaves a bare '-' as the
        # chunk's last word right before the quoted span. Negated
        # phrases are out of scope, so fail CLOSED: silently keeping
        # the phrase would invert intent (Lucene queryStringQuery
        # must_nots it; a positive MUST returns exactly the docs the
        # user excluded).
        if words and words[-1] == "-" and chunk.endswith("-") and i + 1 < len(chunks):
            raise ValueError(
                'negated quoted phrases (-"...") are not supported; '
                "negate individual terms instead"
            )
        pos_words: list[str] = []
        for w in words:
            if w.startswith("-") and len(w) > 1:
                not_terms.extend(analyzer(w[1:]))
            else:
                pos_words.append(w)
        terms.extend(analyzer(" ".join(pos_words)))
    # dedup, preserve order (AND of a repeated term is the same set)
    seen: dict[str, None] = {}
    for t in terms:
        seen.setdefault(t)
    seen_n: dict[str, None] = {}
    for t in not_terms:
        seen_n.setdefault(t)
    return tuple(seen), tuple(phrases), tuple(seen_n)


_YEAR_RE = re.compile(r"^(\d{4})$")
_YEAR_RANGE_RE = re.compile(r"^(\d{4})-(\d{4})$")
_MONTH_RE = re.compile(r"^(\d{4})-(\d{1,2})$")
_DAY_RE = re.compile(r"^(\d{4})-(\d{1,2})-(\d{1,2})$")


def parse_time_range(s: str) -> tuple[dt.date, dt.date]:
    """F8: '2014-2016' | '2014' | '2014-01' | '2014-1-1' → inclusive
    (from, to) date pair (app/util/DateUtils.scala:58-74)."""
    s = s.strip()
    if m := _YEAR_RANGE_RE.match(s):
        y1, y2 = int(m.group(1)), int(m.group(2))
        return dt.date(y1, 1, 1), dt.date(y2, 12, 31)
    if m := _YEAR_RE.match(s):
        y = int(m.group(1))
        return dt.date(y, 1, 1), dt.date(y, 12, 31)
    if m := _MONTH_RE.match(s):
        y, mo = int(m.group(1)), int(m.group(2))
        return dt.date(y, mo, 1), dt.date(y, mo, calendar.monthrange(y, mo)[1])
    if m := _DAY_RE.match(s):
        y, mo, d = (int(g) for g in m.groups())
        return dt.date(y, mo, d), dt.date(y, mo, d)
    raise ValueError(f"unparseable time range: {s!r}")
