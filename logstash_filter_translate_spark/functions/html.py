"""HTML/url parse stage (axis B): vectorized text extraction and grok-style
field parsing.

The parse stage extracts natively: ``regexp_extract`` over the decoded
html — whole-stage codegen, zero Python, so no row crosses the Python
boundary.

Per-row invariant (BASELINE.json.input_hint): extract_text(html) == text
byte-identically — guaranteed by the page template (plans/pages.py) and
asserted in tests + the e2e pipeline observe() metric.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_TEXT_RE = r"(?s)<p>(.*)</p>"
_STATUS_RE = r'<meta http-equiv="Status" content="([^"]*)"'
_LANG_RE = r'<meta name="lang" content="([^"]*)"'
_URL_RE = r"^https?://([^/.]+)\.example\.([a-z]+)(/.*)?$"


def html_str(html_bin: Column) -> Column:
    """binary → string as a zero-copy UTF8String wrap (``cast``), NOT
    ``F.decode(..., 'UTF-8')``: decode round-trips through a java.lang
    String (bytes → UTF-16 String → UTF8String = 3 copies + 2x inflation),
    which at corpus scale is pure memory-bandwidth burn — measured ~15%
    slower on the 40M-row parse path at every parallelism level (A/B).
    Spark's internal string type IS UTF-8 bytes, so for UTF-8 input the
    two are value-identical (asserted over the corpus generator).

    PRECONDITION: the input must be VALID UTF-8. ``cast``
    wraps raw bytes while ``decode`` substitutes U+FFFD for malformed
    sequences, so on non-UTF-8 input the two silently diverge. The
    generated corpus guarantees validity by construction (html is
    ``F.encode(string, 'UTF-8')``); for an UNTRUSTED external crawl use
    :func:`html_str_untrusted` at the ingest seam instead — valid rows
    still take this zero-copy path, malformed rows fall back to the
    charset-converting decode."""
    return html_bin.cast("string")


def html_str_untrusted(html_bin: Column) -> Column:
    """binary → string for sources that may carry malformed UTF-8 (real
    crawl data): ``make_valid_utf8`` returns valid input UNCHANGED (the
    zero-copy wrap survives) and substitutes U+FFFD for malformed
    sequences — the reference's charset-converting behavior, without the
    ANSI-mode ``decode`` throw ([MALFORMED_CHARACTER_CODING]). Fully
    codegen'd; the validity scan costs only at the ingest seam — internal
    stages keep the plain :func:`html_str` fast path because everything
    downstream of this seam is valid by construction."""
    return F.make_valid_utf8(html_bin.cast("string"))


def extract_text_from_str(s: Column) -> Column:
    x = F.regexp_extract(s, _TEXT_RE, 1)
    return F.when(x != "", x)


def extract_status_from_str(s: Column) -> Column:
    x = F.regexp_extract(s, _STATUS_RE, 1)
    return F.when(x != "", x)


def extract_lang_from_str(s: Column) -> Column:
    x = F.regexp_extract(s, _LANG_RE, 1)
    return F.when(x != "", x)


def parse_url(url: Column):
    """grok-ish url parse → (host, tld, path).

    ONE regex execution per row: the match is rewritten to a
    \\x01-separated triple and split — three ``regexp_extract`` calls would
    each re-run the same pattern (3× the regex cost in the hot parse
    stage). No match → the url has no \\x01 → all three NULL."""
    packed = F.regexp_replace(url, _URL_RE, "$1\x01$2\x01$3")
    parts = F.when(packed.contains("\x01"), F.split(packed, "\x01", -1))
    host = F.try_element_at(parts, F.lit(1))
    tld = F.try_element_at(parts, F.lit(2))
    path = F.try_element_at(parts, F.lit(3))
    return (
        F.when(host != "", host).alias("host"),
        F.when(tld != "", tld).alias("tld"),
        F.when(path != "", path).alias("path"),
    )
