"""P2 — boilerplate removal: HTML → main-content plain text.

The reference calls ``resiliparse.extract.html2text.extract_plain_text(
content, main_content=True)`` (/root/reference/src/strategies/
boilerplate_removal/boilerplate_removal_resiliparse_html2text.py:17) through
the pluggable ``BoilerPlateRemoval.apply`` interface (boilerplate_removal.py:4-18).

resiliparse is not installed in this environment, so the default strategy is
a DETERMINISTIC regex-based extractor with the same contract (pure function
str → str, main-content mode drops nav/header/footer/aside chrome). When
resiliparse IS importable, :class:`ResiliparseStrategy` delegates to the real
function — byte-identical to the reference. The strategy registry mirrors
the reference's extension point.

Pure per-element function + Arrow-batched pandas UDF; also used directly by
the sequential test oracle (byte-identity anchor, SURVEY.md §7.3).
"""

from __future__ import annotations

import html as _html
import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

_SCRIPT_RE = re.compile(r"(?is)<(script|style|noscript|template)\b.*?</\1\s*>")
_COMMENT_RE = re.compile(r"(?s)<!--.*?-->")
_CHROME_RE = re.compile(r"(?is)<(nav|header|footer|aside)\b.*?</\1\s*>")
_BLOCK_RE = re.compile(
    r"(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|td|th|table|section|article|"
    r"blockquote|pre|form|body|html|head|title)\b[^>]*>"
)
_TAG_RE = re.compile(r"(?s)<[^>]*>")
_SPACES_RE = re.compile(r"[ \t\r\f\v]+")


def html_to_text(content: str | None, main_content: bool = True) -> str | None:
    """Deterministic html→text: strip script/style/comments, optionally the
    page chrome (main_content=True), convert block tags to newlines, strip
    remaining tags, unescape entities, normalize whitespace per line."""
    if content is None:
        return None
    t = _SCRIPT_RE.sub(" ", content)
    t = _COMMENT_RE.sub(" ", t)
    if main_content:
        t = _CHROME_RE.sub(" ", t)
    t = _BLOCK_RE.sub("\n", t)
    t = _TAG_RE.sub(" ", t)
    t = _html.unescape(t)
    lines = []
    for line in t.split("\n"):
        line = _SPACES_RE.sub(" ", line).strip()
        if line:
            lines.append(line)
    return "\n".join(lines)


class RegexHtml2Text:
    """Default strategy (reference interface: apply(content) -> str)."""

    def apply(self, content: str) -> str:
        return html_to_text(content, main_content=True)


class ResiliparseStrategy:  # pragma: no cover - lib absent in sandbox
    """Byte-identical delegate when resiliparse is installed."""

    def apply(self, content: str) -> str:
        from resiliparse.extract.html2text import extract_plain_text

        return extract_plain_text(content, main_content=True)


def default_strategy():
    try:  # pragma: no cover
        import resiliparse.extract.html2text  # noqa: F401

        return ResiliparseStrategy()
    except Exception:
        return RegexHtml2Text()


_STRATEGY = default_strategy()


def _html2text_batch(content: pd.Series) -> pd.Series:
    apply_fn = _STRATEGY.apply
    return pd.Series(
        [apply_fn(c) if isinstance(c, str) else None for c in content],
        dtype="object",
    )


_UDF = None


def html2text_udf(content: Column | str) -> Column:
    """Arrow-batched html→text column (UDF created lazily)."""
    global _UDF
    if _UDF is None:
        _UDF = pandas_udf("string")(_html2text_batch)
    c = F.col(content) if isinstance(content, str) else content
    return _UDF(c)

