"""Pinned HTML -> text extractor (invariant #1: byte-identical per url).

The north rule requires extracted text to be byte-identical per url across
runs and partitionings. This module IS the pinned spec:

1. Decode the `html` binary as UTF-8 with errors='replace'.
2. Parse with stdlib `html.parser.HTMLParser`, convert_charrefs=True
   (entities and character references decoded by the parser).
3. Drop all character data inside <script>, <style>, <noscript>, <template>.
4. Concatenate remaining character-data chunks with a single space.
5. Collapse every whitespace run to one space ≙ the reference's classifier
   normalization `replace(/\\s+/g,' ')` (reference classify.js:19); strip.

Pure-Python + stdlib only -> identical output on every executor, any Python
3.x with a stable html.parser (pinned by test golden files). Exposed as a
scalar *pandas UDF* (Arrow-batched — the `input_hint` contract: no per-row
Python UDFs).
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

_WS = re.compile(r"\s+")
_SKIP_TAGS = frozenset({"script", "style", "noscript", "template"})


class _TextExtractor(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._chunks: list[str] = []
        self._skip_depth = 0

    def handle_starttag(self, tag: str, attrs) -> None:  # noqa: ANN001
        if tag in _SKIP_TAGS:
            self._skip_depth += 1

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_TAGS and self._skip_depth > 0:
            self._skip_depth -= 1

    def handle_data(self, data: str) -> None:
        if self._skip_depth == 0 and data:
            self._chunks.append(data)

    def text(self) -> str:
        return _WS.sub(" ", " ".join(self._chunks)).strip()


def extract_text_bytes_parser(html: bytes | None) -> str | None:
    """Reference implementation of the pinned extraction (stdlib
    HTMLParser). Kept as the spec oracle: `extract_text_bytes` (the fast
    path) is parity-tested byte-for-byte against this on every golden file
    and on corpus samples (tests/test_extract_text.py)."""
    if html is None:
        return None
    parser = _TextExtractor()
    parser.feed(html.decode("utf-8", errors="replace"))
    parser.close()
    return parser.text()


# Fast path: the same pinned semantics as _TextExtractor expressed as ONE
# C-speed regex pass + html.unescape — the SAME function html.parser uses
# internally for convert_charrefs=True, applied after tag-stripping so
# entity-encoded '<' stays literal text, exactly like the parser (which
# never re-tokenizes decoded data). HTMLParser is a per-character Python
# state machine — measured ~4-5x slower per byte, and it was ~2/3 of the
# whole KG pipeline's wall time.
# The alternation applied left-to-right IS a real tokenizer: at each '<' the
# first alternative that matches wins, so a comment opener inside a script
# block is script data (the block alternative consumed it) and a script tag
# inside a comment is comment text — the same precedence HTMLParser's
# sequential scan gives. Alternatives: comment | raw-text block (ends at its
# first closing tag — raw-text elements cannot nest in HTML; unterminated
# runs to EOF like the parser's CDATA mode) | tag/decl/PI ('<' + letter,
# '</', '<!' or '<?'; a stray '<' is literal text; quoted attribute values
# may contain '>').
_MARKUP = re.compile(
    r"<!--.*?-->"
    r"|<(script|style|noscript|template)\b[^>]*>.*?(?:</\1\s*>|\Z)"
    r"|<(?:[A-Za-z/!?])(?:[^>\"']|\"[^\"]*\"|'[^']*')*>",
    re.IGNORECASE | re.DOTALL,
)
# whatever still starts like a tag after markup removal is an UNTERMINATED
# construct at EOF; HTMLParser flushes those as literal data, '<' first as
# its own chunk ('<p>a</p' -> 'a < /p'). Chunk-join = spaces around '<'.
_UNTERMINATED = re.compile(r"<(?=[A-Za-z/!?])|<\Z")


def extract_text_bytes(html: bytes | None) -> str | None:
    """Pinned extraction of one document. Deterministic; the unit of the
    byte-identical invariant. Byte-identical to
    `extract_text_bytes_parser` (the HTMLParser spec oracle) — enforced by
    golden files and corpus-sample parity tests."""
    if html is None:
        return None
    s = _MARKUP.sub(" ", html.decode("utf-8", errors="replace"))
    if "<" in s:
        s = _UNTERMINATED.sub(" < ", s)
    if "&" in s:
        from html import unescape

        s = unescape(s)
    return _WS.sub(" ", s).strip()


@F.pandas_udf(StringType())
def extract_text(html: pd.Series) -> pd.Series:
    """Arrow-batched scalar pandas UDF: html binary -> extracted text."""
    return html.map(extract_text_bytes)


def with_extracted_text(df):
    """pages DF -> pages DF with `text` filled from `html` where null.

    Keeps pre-extracted text when present (schema allows a precomputed text
    column) — coalesce avoids re-parsing on incremental re-runs.
    """
    text = extract_text(F.col("html"))
    return df.withColumn(
        "text", F.coalesce(F.col("text"), text) if "text" in df.columns else text
    )
