"""Deterministic text normalization + boilerplate-stripped HTML extraction.

Semantics modeled on the reference's preprocessing (SURVEY.md §2.2):

* width normalization — the reference calls ``mojimoji.zen_to_han(line,
  kana=False)`` before splitting (reference ``utils.py:299,399,569,703``).
  We reimplement the same mapping as a pure-Python translation table:
  full-width ASCII letters/digits/punct (U+FF01..U+FF5E) -> half-width,
  kana untouched, and the ideographic space U+3000 preserved (the reference
  round-trips it through the in-band ``[JASP]`` token, ``utils.py:678``).

* escape guards — the reference rewrites ``>>`` / ``&gt;`` / ``#`` before XML
  parsing (``utils.py:315-332,735-742``). Our extractor works on HTML, so the
  analogous guard is entity unescaping applied exactly once, in one place.

* N1 boilerplate-stripped extraction (no reference implementation; required by
  BASELINE.json north_star): ``extract_text(html)`` must be byte-identical per
  url to the fixture's pre-extracted ``text`` column. The contract is a fixed,
  versioned grammar: the page body is the ordered list of ``<h1>``/``<p>``
  blocks inside ``<article>...</article>``; tags inside a block are stripped;
  HTML entities are unescaped; blocks join with ``\n``. Everything outside
  ``<article>`` (nav/header/footer/script) is boilerplate and dropped.

All functions here are pure and total (never raise on malformed input — a
bad page yields ``""`` rather than killing a 10^12-row job; per-row error
isolation mirrors reference ``utils.py:844-846``).
"""

from __future__ import annotations

import re

# --- width normalization -------------------------------------------------

# Full-width ASCII block U+FF01..U+FF5E maps 1:1 onto U+0021..U+007E.
_ZEN2HAN = {code: code - 0xFEE0 for code in range(0xFF01, 0xFF5F)}
_HAN2ZEN = {v: k for k, v in _ZEN2HAN.items()}

IDEOGRAPHIC_SPACE = "　"
JASP = "[JASP]"  # in-band token for U+3000, reference utils.py:678
SEP = "[SEP]"    # in-band token for newline in doc-level mode, utils.py:722


def zen_to_han(text: str) -> str:
    """Full-width ASCII -> half-width; kana and U+3000 untouched.

    Mirrors ``mojimoji.zen_to_han(text, kana=False)`` as used at reference
    ``utils.py:299``.
    """
    return text.translate(_ZEN2HAN)


def han_to_zen(text: str) -> str:
    """Inverse of :func:`zen_to_han` (reference applies per-token han_to_zen)."""
    return text.translate(_HAN2ZEN)


# --- HTML entity handling --------------------------------------------------

_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),  # must come last
)


def unescape_html(text: str) -> str:
    for ent, ch in _ENTITIES:
        text = text.replace(ent, ch)
    return text


def escape_html(text: str) -> str:
    # inverse order: & first
    text = text.replace("&", "&amp;")
    text = text.replace("<", "&lt;").replace(">", "&gt;")
    text = text.replace('"', "&quot;").replace("'", "&#39;")
    return text


# --- N1: boilerplate-stripped extraction -----------------------------------

_ARTICLE_RE = re.compile(r"<article\b[^>]*>(.*?)</article>", re.DOTALL | re.IGNORECASE)
_BLOCK_RE = re.compile(r"<(h1|p)\b[^>]*>(.*?)</\1>", re.DOTALL | re.IGNORECASE)
_TAG_RE = re.compile(r"<[^>]+>")


def extract_text(html: str | bytes | None) -> str:
    """Deterministic boilerplate-stripped extraction (N1).

    Byte-identical output per input is the per-row invariant from
    BASELINE.json ``input_hint``; tested byte-for-byte in
    ``tests/test_textnorm.py``.
    """
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray)):
        try:
            html = bytes(html).decode("utf-8")
        except UnicodeDecodeError:
            return ""
    article = _ARTICLE_RE.search(html)
    if article is None:
        return ""
    blocks = []
    for m in _BLOCK_RE.finditer(article.group(1)):
        inner = _TAG_RE.sub("", m.group(2))
        blocks.append(unescape_html(inner))
    return "\n".join(blocks)
