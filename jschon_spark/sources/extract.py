"""Deterministic HTML → text extraction with a byte-identical contract.

The north rule (BASELINE.json input_hint) requires "byte-identical
extracted text per url" versus the reference extractor. The reference
repo has no HTML extractor (jschon validates JSON), so *this* module is
the reference: a pinned, versioned normalization. The same pure
function runs in tests (golden hashes) and inside the Arrow batch UDF
— one code path, no drift.

Pinned normalization (EXTRACTOR_VERSION bumps on any change):
  1. decode utf-8 (errors='replace')
  2. drop <script>/<style>/<head> elements wholesale
  3. strip remaining tags
  4. decode HTML entities
  5. collapse all whitespace runs to single spaces; strip ends
"""

from __future__ import annotations

import html as _html
import re

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

EXTRACTOR_VERSION = "1.0.0"

_DROP_RE = re.compile(
    r"<(script|style|head)\b[^>]*>.*?</\1\s*>", re.IGNORECASE | re.DOTALL
)
_TAG_RE = re.compile(r"<[^>]*>")
_WS_RE = re.compile(r"\s+")


# Golden fixtures: html bytes -> exact expected text — the behavioral
# contract of EXTRACTOR_VERSION (byte-exact precedent: the reference's
# example outputs, /root/reference/tests/test_examples.py:25-28).
# Single source for the pytest goldens, the extract_text_goldens oracle
# query, AND its DuckDB expectation (cases keyed by position here; any
# change must bump EXTRACTOR_VERSION).
GOLDEN_CASES: list[tuple[bytes, str]] = [
    (b"<html><head><title>T</title></head><body><p>hello world</p></body></html>",
     "hello world"),
    (b"<html><body>a &amp; b &lt;c&gt;</body></html>", "a & b <c>"),
    (b"<html><head><style>p{}</style></head><body>  spaced\n\nout  </body></html>",
     "spaced out"),
    (b"<html><body><script>var x = '<p>no</p>';</script>kept</body></html>", "kept"),
    (b"", ""),
    (b"plain text no tags", "plain text no tags"),
    (b"<p>unclosed", "unclosed"),
    (b"\xff\xfe invalid utf8 <b>x</b>", "�� invalid utf8 x"),
]


def extract_text_bytes(data: bytes | None) -> str | None:
    """The pinned extractor. bytes -> normalized text (None-safe)."""
    if data is None:
        return None
    s = data.decode("utf-8", errors="replace")
    s = _DROP_RE.sub(" ", s)
    s = _TAG_RE.sub(" ", s)
    s = _html.unescape(s)
    s = _WS_RE.sub(" ", s).strip()
    return s


@F.pandas_udf(T.StringType())
def extract_text_udf(html_col: pd.Series) -> pd.Series:
    """Vectorized Arrow-batch wrapper over the pinned extractor."""
    return html_col.map(extract_text_bytes)


def with_extracted_text(df, html_col: str = "html", out_col: str = "text_extracted"):
    """Add the extracted-text column (Arrow batches; regexes compile
    once per worker via module import, mirroring the reference's
    precompiled-pattern rule, validation.py:136-138)."""
    return df.withColumn(out_col, extract_text_udf(F.col(html_col)))
