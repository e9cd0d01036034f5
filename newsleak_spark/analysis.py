"""Text-analysis contract: what a *term* is.

Re-expresses newsleak's analyzer chain (reference citations):
  - A1 search-time "english" analyzer selection:
    preprocessing/.../Postgres2ElasticsearchIndexer.java:97-136,378-379
    (ES `english` analyzer == standard tokenize + possessive strip +
    lowercase + Lucene English stopwords + Porter stem)
  - A2 temp-index "standard" analyzer (tokenize+lowercase only):
    preprocessing/desc/elasticsearch_mapping_document_2.4.json:4-7
  - A3 ICU word tokenization: annotator/SegmenterICU.java:92-135
  - A5 line-break/HTML normalization + dehyphenation:
    writer/ElasticsearchDocumentWriter.java:122-130,216-229,247-280
  - A6 token cleanup (>70-char drop, identical single-char-run collapse):
    annotator/SentenceCleaner.java:40-46, annotator/SegmenterICU.java:151-185
  - A7 non-fulltext flagging (TTR heuristic): annotator/SegmenterICU.java:223-266

Two pinned analyzer modes:
  * ``standard`` — lowercase + ``[a-z0-9]+`` extraction. Pure Spark
    built-ins (JVM-side, codegen) AND expressible identically in DuckDB
    SQL — this is the oracle-parity mode used by the driver's
    correctness gate.
  * ``english`` — full normalize → unicode tokenize → possessive strip
    → lowercase → cleanup → stopword remove → Porter stem. Vectorized
    pandas UDF (Arrow batches; no row-at-a-time Spark UDF). Verified by
    golden-token pytest cases (per-turn text equality invariant).

BM25 rank identity depends on this module being byte-stable — treat
any change here as an index-format version bump (ANALYZER_VERSION).
"""

from __future__ import annotations

import re
from collections.abc import Iterable

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

ANALYZER_VERSION = 1

# Lucene's EnglishAnalyzer default stop set (public, 33 words).
LUCENE_EN_STOPWORDS = frozenset(
    """a an and are as at be but by for if in into is it no not of on
    or such that the their then there these they this to was will with""".split()
)

STANDARD_TOKEN_RE = "[a-z0-9]+"  # shared with DuckDB oracle SQL

MAX_TOKEN_LEN = 70  # SentenceCleaner.java:46 — tokens longer are dropped

WORD_RE = re.compile(r"[\w’']+", re.UNICODE)  # english-mode word tokens
_HTML_BREAK_RE = re.compile(r"(?i)<\s*br\s*/?\s*>|</\s*p\s*>")
_HTML_TAG_RE = re.compile(r"<[^>\n]{0,200}?>")
_DEHYPHEN_RE = re.compile(r"(\w+)-[ \t]*\n[ \t]*(\w+)", re.UNICODE)
# ElasticsearchDocumentWriter.java:247-280 — keep the hyphen+break when the
# continuation is a conjunction (de/en) or starts uppercase/digit.
_DEHYPHEN_GUARDS = frozenset({"und", "oder", "and", "or"})


def normalize_text(s: str) -> str:
    """A5: CRLF → LF, HTML breaks → newline, strip tags, dehyphenate.

    Must run before tokenization; byte-identical normalization is the
    per-turn text-equality invariant the index build depends on.
    """
    if s is None:
        return ""
    s = s.replace("\r\n", "\n").replace("\r", "\n")
    s = _HTML_BREAK_RE.sub("\n", s)
    s = _HTML_TAG_RE.sub(" ", s)

    def _join(m: re.Match) -> str:
        head, tail = m.group(1), m.group(2)
        if tail.lower() in _DEHYPHEN_GUARDS or tail[0].isupper() or tail[0].isdigit():
            return f"{head}-\n{tail}"
        return head + tail

    s = _DEHYPHEN_RE.sub(_join, s)
    return s


def _strip_possessive(tok: str) -> str:
    if tok.endswith("'s") or tok.endswith("’s"):
        return tok[:-2]
    return tok.strip("'’")


def tokenize_unicode(s: str) -> list[str]:
    """A3: unicode word tokens (BreakIterator analog), possessive strip."""
    out = []
    for tok in WORD_RE.findall(s):
        tok = _strip_possessive(tok)
        if tok:
            out.append(tok)
    return out


def clean_tokens(tokens: Iterable[str]) -> list[str]:
    """A6: drop >70-char tokens; collapse runs of identical 1-char tokens."""
    out: list[str] = []
    prev: str | None = None
    for tok in tokens:
        if len(tok) > MAX_TOKEN_LEN:
            prev = None
            continue
        if len(tok) == 1 and tok == prev:
            continue
        out.append(tok)
        prev = tok if len(tok) == 1 else None
    return out


# ---------------------------------------------------------------------------
# Porter stemmer (Porter 1980; the algorithm Lucene's PorterStemFilter and
# hence the ES `english` analyzer implement). Pure-python port of the
# published algorithm — public knowledge, no reference code involved.
# ---------------------------------------------------------------------------

_VOWELS = "aeiou"


def _is_cons(w: str, i: int) -> bool:
    c = w[i]
    if c in _VOWELS:
        return False
    if c == "y":
        return i == 0 or not _is_cons(w, i - 1)
    return True


def _measure(stem: str) -> int:
    """Number of VC sequences in [C](VC){m}[V]."""
    m = 0
    i, n = 0, len(stem)
    while i < n and _is_cons(stem, i):
        i += 1
    while i < n:
        while i < n and not _is_cons(stem, i):
            i += 1
        if i >= n:
            break
        m += 1
        while i < n and _is_cons(stem, i):
            i += 1
    return m


def _has_vowel(stem: str) -> bool:
    return any(not _is_cons(stem, i) for i in range(len(stem)))


def _ends_double_cons(w: str) -> bool:
    return len(w) >= 2 and w[-1] == w[-2] and _is_cons(w, len(w) - 1)


def _ends_cvc(w: str) -> bool:
    if len(w) < 3:
        return False
    if not (_is_cons(w, len(w) - 3) and not _is_cons(w, len(w) - 2) and _is_cons(w, len(w) - 1)):
        return False
    return w[-1] not in "wxy"


_STEP2 = [
    ("ational", "ate"), ("tional", "tion"), ("enci", "ence"), ("anci", "ance"),
    ("izer", "ize"), ("bli", "ble"), ("alli", "al"), ("entli", "ent"),
    ("eli", "e"), ("ousli", "ous"), ("ization", "ize"), ("ation", "ate"),
    ("ator", "ate"), ("alism", "al"), ("iveness", "ive"), ("fulness", "ful"),
    ("ousness", "ous"), ("aliti", "al"), ("iviti", "ive"), ("biliti", "ble"),
    ("logi", "log"),
]

_STEP3 = [
    ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
    ("ical", "ic"), ("ful", ""), ("ness", ""),
]

_STEP4 = [
    "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
    "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
]


def porter_stem(w: str) -> str:
    if len(w) <= 2:
        return w

    # step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        w = w[:-1]

    # step 1b
    if w.endswith("eed"):
        if _measure(w[:-3]) > 0:
            w = w[:-1]
    else:
        flag = False
        if w.endswith("ed") and _has_vowel(w[:-2]):
            w, flag = w[:-2], True
        elif w.endswith("ing") and _has_vowel(w[:-3]):
            w, flag = w[:-3], True
        if flag:
            if w.endswith(("at", "bl", "iz")):
                w += "e"
            elif _ends_double_cons(w) and w[-1] not in "lsz":
                w = w[:-1]
            elif _measure(w) == 1 and _ends_cvc(w):
                w += "e"

    # step 1c
    if w.endswith("y") and _has_vowel(w[:-1]):
        w = w[:-1] + "i"

    # step 2
    for suf, rep in _STEP2:
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if _measure(stem) > 0:
                w = stem + rep
            break

    # step 3
    for suf, rep in _STEP3:
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if _measure(stem) > 0:
                w = stem + rep
            break

    # step 4
    for suf in _STEP4:
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if _measure(stem) > 1:
                if suf == "ion" and (not stem or stem[-1] not in "st"):
                    break
                w = stem
            break

    # step 5a
    if w.endswith("e"):
        stem = w[:-1]
        m = _measure(stem)
        if m > 1 or (m == 1 and not _ends_cvc(stem)):
            w = stem

    # step 5b
    if _measure(w) > 1 and _ends_double_cons(w) and w.endswith("l"):
        w = w[:-1]

    return w


# ---------------------------------------------------------------------------
# Analyzer entry points (pure python — shared by the pandas UDFs and the
# in-repo BM25 oracle so consistency is by construction)
# ---------------------------------------------------------------------------

def analyze_english(s: str) -> list[str]:
    """Full chain: normalize → tokenize → lowercase → cleanup → stop → stem."""
    toks = tokenize_unicode(normalize_text(s))
    toks = [t.lower() for t in toks]
    toks = clean_tokens(toks)
    return [porter_stem(t) for t in toks if t not in LUCENE_EN_STOPWORDS]


_STANDARD_RE = re.compile(STANDARD_TOKEN_RE)


def analyze_standard(s: str) -> list[str]:
    """A2 oracle-parity mode: lowercase + [a-z0-9]+ runs. Matches both the
    Spark built-in expression (tokens_col) and the DuckDB oracle SQL."""
    if s is None:
        return []
    return _STANDARD_RE.findall(s.lower())


def analyze(s: str, mode: str = "standard") -> list[str]:
    return analyze_english(s) if mode == "english" else analyze_standard(s)


def is_not_fulltext(s: str, max_tokens: int = 100, ttr: float = 0.1) -> bool:
    """A7: >100 tokens with type/token ratio < 0.1 → boilerplate flag."""
    toks = analyze_standard(s)
    if len(toks) <= max_tokens:
        return False
    return len(set(toks)) / len(toks) < ttr


# ---------------------------------------------------------------------------
# Spark column builders
# ---------------------------------------------------------------------------

@F.pandas_udf(T.ArrayType(T.StringType()))
def _english_tokens_udf(texts: pd.Series) -> pd.Series:
    return texts.map(analyze_english)


@F.pandas_udf(T.BooleanType())
def _not_fulltext_udf(texts: pd.Series) -> pd.Series:
    return texts.map(is_not_fulltext)


def tokens_col(text: Column, mode: str = "standard") -> Column:
    """array<string> of analyzed terms for a text column.

    ``standard`` stays entirely JVM-side (regexp_extract_all inside
    whole-stage codegen); ``english`` is an Arrow-batched pandas UDF.
    """
    if mode == "standard":
        return F.regexp_extract_all(F.lower(text), F.lit(STANDARD_TOKEN_RE), 0)
    if mode == "english":
        return _english_tokens_udf(text)
    raise ValueError(f"unknown analyzer mode: {mode}")


def not_fulltext_col(text: Column) -> Column:
    return _not_fulltext_udf(text)


def duckdb_tokens_sql(text_expr: str) -> str:
    """The DuckDB expression equivalent to tokens_col(mode='standard')."""
    return f"regexp_extract_all(lower({text_expr}), '{STANDARD_TOKEN_RE}')"
