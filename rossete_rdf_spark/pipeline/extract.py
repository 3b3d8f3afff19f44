"""Text extraction from raw HTML bytes — the pipeline's pinned per-row
invariant: extraction is byte-identical per url across runs and cluster
sizes (BASELINE.json input_hint).

`extract_text_bytes` is the specification, a pure function of the bytes;
`extract_pages` computes the same text as one JVM projection, so the
pipeline starts no Python worker. The projection decodes first
(`make_valid_utf8`, the replacement decoding of Python's
`decode("utf-8", "replace")`) and then matches: every delimiter the
extractor matches (`<body`, `>`, `</body>`, tags, ASCII whitespace) is
ASCII, and a replaced invalid byte sequence never absorbs an ASCII byte,
so decoding before or after the regexes gives the same string
(tests/test_pipeline.py::test_extract_pages_matches_spec pins it)."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_TAG = re.compile(rb"<[^>]*>")
_WS = re.compile(rb"\s+")
_BODY = re.compile(rb"<body[^>]*>(.*)</body>", re.DOTALL | re.IGNORECASE)


def extract_text_bytes(html: bytes) -> bytes:
    """Main-content extraction: body-only, tags stripped, whitespace
    collapsed. Pure function of the input bytes — THE pinned invariant."""
    if html is None:
        return b""
    m = _BODY.search(html)
    content = m.group(1) if m else html
    no_tags = _TAG.sub(b" ", content)
    return _WS.sub(b" ", no_tags).strip()


def extract_pages(pages: DataFrame, python_parallelism: int | None = None) -> DataFrame:
    """(url, warc_ts, html, ...) -> (url, warc_ts, lang, text) with text
    re-derived from html bytes: `extract_text_bytes(html)` decoded with
    replacement, "" for a NULL html. python_parallelism is accepted and
    ignored: this stage runs no Python (bench.py passes it positionally).

    Java's `(?i)` and `\\s` are ASCII, like Python's on bytes; the body
    pass keeps the whole string when there is no body, like `_BODY.search`."""
    decoded = F.make_valid_utf8(F.col("html").cast("string"))
    body = F.regexp_replace(decoded, r"(?is)^.*?<body[^>]*>(.*)</body>.*$", "$1")
    no_tags = F.regexp_replace(body, "<[^>]*>", " ")
    collapsed = F.trim(F.regexp_replace(no_tags, r"\s+", " "))
    text = F.coalesce(collapsed, F.lit("")).alias("text")
    return pages.select("url", "warc_ts", "lang", text)
