"""HTML -> text extraction and mention extraction (SURVEY.md C1, C5).

The north rule's per-row invariant (BASELINE.json input_hint): *byte-identical
extracted text per url*, enforced by vectorized Arrow UDFs with no per-row
Python crossing. Both UDFs here are iterator-style pandas UDFs so the
compiled regexes initialize once per Python worker, then run vectorized
``pd.Series.str`` ops over each Arrow batch.

Determinism contract: ``extract_text`` is a pure function of the html bytes —
same bytes in, same text out, regardless of partitioning / parallelism /
batch boundaries (tested at local[1] vs local[8] in tests/test_extract.py).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Compiled once per Python worker process (module import time), shared by
# every Arrow batch the worker sees.
_RE_SCRIPT = re.compile(r"(?is)<(script|style)\b.*?</\1\s*>")
_RE_COMMENT = re.compile(r"(?s)<!--.*?-->")
_RE_TAG = re.compile(r"(?s)<[^>]*>")
_RE_WS = re.compile(r"\s+")
_ENTITIES = {
    "&amp;": "&",
    "&lt;": "<",
    "&gt;": ">",
    "&quot;": '"',
    "&#39;": "'",
    "&apos;": "'",
    "&nbsp;": " ",
}
_RE_TITLE = re.compile(r"(?is)<title[^>]*>(.*?)</title\s*>")
_RE_BOLD = re.compile(r"(?is)<(?:b|strong)\b[^>]*>(.*?)</(?:b|strong)\s*>")


def _decode(html: pd.Series) -> pd.Series:
    # html column is BinaryType -> batches arrive as Series of bytes.
    return html.map(
        lambda b: b.decode("utf-8", errors="replace")
        if isinstance(b, (bytes, bytearray))
        else ("" if b is None else str(b))
    )


def _strip_html(s: pd.Series) -> pd.Series:
    s = s.str.replace(_RE_SCRIPT, " ", regex=True)
    s = s.str.replace(_RE_COMMENT, " ", regex=True)
    s = s.str.replace(_RE_TAG, " ", regex=True)
    for ent, rep in _ENTITIES.items():
        s = s.str.replace(ent, rep, regex=False)
    s = s.str.replace(_RE_WS, " ", regex=True)
    return s.str.strip()


@F.pandas_udf(T.StringType())
def extract_text(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """Byte-identical html->text: drop script/style/comments, strip tags,
    unescape basic entities, collapse whitespace, trim."""
    for html in batches:
        yield _strip_html(_decode(html))


_MENTION_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("surface", T.StringType()),
            T.StructField("kind", T.StringType()),
        ]
    )
)


@F.pandas_udf(_MENTION_SCHEMA)
def extract_mentions_html(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """Mention extraction from web-page structure: the <title> plus every
    <b>/<strong> span (logically a UDTF — 1 page -> n mentions; returned as
    array<struct> + explode, which is cheaper than a Python UDTF).
    """

    def mentions_of(raw) -> list[dict]:
        if raw is None:
            return []
        s = raw.decode("utf-8", errors="replace") if isinstance(
            raw, (bytes, bytearray)
        ) else str(raw)
        out = []
        for m in _RE_TITLE.findall(s):
            t = _RE_WS.sub(" ", _RE_TAG.sub(" ", m)).strip()
            if t:
                out.append({"surface": t, "kind": "title"})
        for m in _RE_BOLD.findall(s):
            t = _RE_WS.sub(" ", _RE_TAG.sub(" ", m)).strip()
            if t:
                out.append({"surface": t, "kind": "bold"})
        return out

    for html in batches:
        yield html.map(mentions_of)


_PAGE_SCHEMA = T.StructType(
    [
        T.StructField("text", T.StringType()),
        T.StructField("mentions", _MENTION_SCHEMA),
    ]
)


@F.pandas_udf(_PAGE_SCHEMA)
def extract_page(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """Fused extraction: text + mentions in ONE decode/regex pass per batch
    (the records stage calls this instead of two separate UDFs — one Arrow
    round-trip and one html decode instead of two)."""

    def mentions_of(s: str) -> list[dict]:
        out = []
        for m in _RE_TITLE.findall(s):
            t = _RE_WS.sub(" ", _RE_TAG.sub(" ", m)).strip()
            if t:
                out.append({"surface": t, "kind": "title"})
        for m in _RE_BOLD.findall(s):
            t = _RE_WS.sub(" ", _RE_TAG.sub(" ", m)).strip()
            if t:
                out.append({"surface": t, "kind": "bold"})
        return out

    for html in batches:
        decoded = _decode(html)
        yield pd.DataFrame(
            {"text": _strip_html(decoded), "mentions": decoded.map(mentions_of)}
        )


# Non-deterministic alias of extract_page for the records hot path. The
# function IS deterministic (pure function of the html bytes — the engine's
# byte-identity contract); the marker only forbids the OPTIMIZER to reorder
# or duplicate the call. Without it, the records stage's surface filters
# (which reference the UDF's output) get pushed below the projection and the
# plan evaluates extract_page TWICE — two ArrowEvalPython nodes, every page
# extracted and shipped through Arrow twice (guide §4.4; observed at 1M
# pages in plans/r08/records_before.txt). Values are identical either way;
# only the evaluation count changes (plan-shape test in test_extract).
extract_page_nd = extract_page.asNondeterministic()


def mention_regex_spark() -> str:
    """Regex for capitalized-run mention extraction over plain text —
    SQL-expressible in both Spark and DuckDB (RE2-safe: no backrefs)."""
    return "[A-Z][a-z]+(?: [A-Z][a-z]+)+"


def extract_mentions_text(text_col) -> F.Column:
    """C5, plain-text path: multi-word capitalized runs as candidate entity
    mentions — pure JVM regexp_extract_all (no Python crossing), the
    structure-free complement to the html title/bold extractor above.
    array<string>; explode for one row per mention."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_extract_all(c, F.lit(mention_regex_spark()), 0)
