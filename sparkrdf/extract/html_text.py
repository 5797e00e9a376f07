"""Deterministic HTML → text extraction.

The per-row invariant (BASELINE.json input_hint) is that ``extract_text`` is
a *pure* function of the html bytes: the pages table's ``text`` column equals
``extract_text(html)`` for every url, byte-identically, pinned by sha256
goldens in tests. No external parser libraries — a small, fully-specified
rule set so the output can never drift with a dependency upgrade:

1. decode utf-8 (errors → replacement char, deterministic)
2. drop <script>/<style>/<noscript> elements and HTML comments
3. every remaining tag becomes a single space
4. decode the 6 core entities (&amp; &lt; &gt; &quot; &#39; &nbsp;)
   + numeric character references
5. collapse all whitespace runs to single spaces; strip
"""

from __future__ import annotations

import re

_DROP_RE = re.compile(
    r"<(script|style|noscript)\b[^>]*>.*?</\1\s*>|<!--.*?-->",
    re.IGNORECASE | re.DOTALL,
)
_TAG_RE = re.compile(r"<[^>]*>")
_NUMERIC_ENT_RE = re.compile(r"&#(x?)([0-9a-fA-F]+);")
_WS_RE = re.compile(r"\s+")

_ENTITIES = {
    "&amp;": "&",
    "&lt;": "<",
    "&gt;": ">",
    "&quot;": '"',
    "&#39;": "'",
    "&nbsp;": " ",
}


def _decode_numeric(m: re.Match) -> str:
    base = 16 if m.group(1) else 10
    try:
        cp = int(m.group(2), base)
        return chr(cp) if 0 < cp < 0x110000 else ""
    except ValueError:
        return ""


def extract_text(html: bytes | str) -> str:
    """Pure deterministic text extraction (see module docstring)."""
    if isinstance(html, (bytes, bytearray)):
        s = bytes(html).decode("utf-8", "replace")
    else:
        s = html
    s = _DROP_RE.sub(" ", s)
    s = _TAG_RE.sub(" ", s)
    for ent, ch in _ENTITIES.items():
        s = s.replace(ent, ch)
    s = _NUMERIC_ENT_RE.sub(_decode_numeric, s)
    return _WS_RE.sub(" ", s).strip()