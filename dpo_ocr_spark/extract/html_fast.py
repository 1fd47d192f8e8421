"""Fast HTML segmenter: single-regex lexer (≈4-5× the stdlib parser).

Profiling showed ~90% of extraction time inside html.parser's tag
machinery (attribute regexes, updatepos bookkeeping) — none of which this
engine needs: boilerplate stripping only requires tag names, tag kind
(open/close/self-closing), and character data.  This lexer produces the
SAME segments as ``html.py``'s ``_Segmenter`` (equivalence-tested on the
full corpus plus mutation probes in tests/test_html_fast.py); the stdlib
implementation stays as the reference oracle.

Semantics preserved:
- kill-subtree tags, block-boundary segmentation, link-density accounting
  identical to html.py;
- entity references in character data are unescaped (convert_charrefs
  analog) — skipped when the chunk has no '&';
- script/style bodies are raw text (no tags, no entity conversion), like
  html.parser's CDATA_CONTENT_ELEMENTS;
- comments and declarations are dropped.
"""

from __future__ import annotations

import re
from html import unescape

from .charset import decode_html
from .html import BLOCK_TAGS, KILL_TAGS, MAX_LINK_DENSITY

_TOKEN_RE = re.compile(
    r"<(/?)([a-zA-Z][a-zA-Z0-9\-]*)"  # 1: closing slash, 2: tag name
    r"((?:\"[^\"]*\"|'[^']*'|[^\"'>])*?)"  # 3: attributes (quote-aware)
    r"(/?)>"  # 4: self-closing slash
    r"|<!--.*?-->"  # comment
    r"|<![^>]*>"  # doctype / declaration
    r"|</[^a-zA-Z][^>]*>"  # bogus end tag → comment (html.parser parity)
    r"|<\?[^>]*>",  # processing instruction (html.parser pi parity)
    re.S,
)

_RAWTEXT = frozenset(("script", "style"))
# precompiled end-tag patterns searched with a start position — slicing
# text[last:] per rawtext element copied ~the whole document twice/page
_RAW_END = {name: re.compile(rf"</{name}\s*>", re.I) for name in _RAWTEXT}


def segment_html_fast(payload: bytes) -> list[str]:
    """payload bytes → kept main-content segments (boilerplate stripped).
    Drop-in replacement for html.segment_html.

    Loop shape: C-level ``finditer`` passes — the earlier
    search-per-token loop paid a Python ``search`` call and slice
    bookkeeping per tag; the iterator form measured ~8% faster on the
    corpus and byte-identical on corpus + mutation probes.  A rawtext
    element ends the pass: lexing resumes after its end tag, so a token
    the regex would have matched from inside the body (a ``<!--`` in a
    script string) can never swallow markup past it."""
    text = decode_html(payload)
    segments: list[tuple[str, int, int]] = []
    parts: list[str] = []
    parts_append = parts.append
    chars = 0
    link_chars = 0
    kill = 0
    a_depth = 0
    kill_tags = KILL_TAGS
    block_tags = BLOCK_TAGS
    rawtext = _RAWTEXT
    n = len(text)
    last = 0  # end of the previously consumed token
    pos = 0  # where the current lexing pass starts
    while pos is not None:
        tokens = _TOKEN_RE.finditer(text, pos)
        pos = None
        for m in tokens:
            s = m.start()
            if s > last and not kill:
                data = text[last:s]
                if "&" in data:
                    data = unescape(data)
                parts_append(data)
                chars += len(data)
                if a_depth:
                    link_chars += len(data)
            last = m.end()
            name = m.group(2)
            if name is None:  # comment / declaration / PI / bogus end tag
                continue
            name = name.lower()
            selfclose = m.group(4) == "/"
            if m.group(1):  # closing tag
                if name in kill_tags:
                    if kill:
                        kill -= 1
                    continue
                if kill:
                    continue
                if name in block_tags:
                    if parts:
                        segments.append(("".join(parts), chars, link_chars))
                        parts = []
                        parts_append = parts.append
                        chars = 0
                        link_chars = 0
                elif name == "a":
                    if a_depth:
                        a_depth -= 1
            else:
                if name in rawtext and not selfclose:
                    # raw-text element: skip body to the matching end tag
                    # (both tags + body contribute nothing — rawtext tags are
                    # all KILL_TAGS or neutral)
                    end = _RAW_END[name].search(text, last)
                    last = pos = end.end() if end else n
                    break
                if name in kill_tags:
                    if not selfclose:
                        kill += 1
                    continue
                if kill:
                    continue
                if name in block_tags:
                    if parts:
                        segments.append(("".join(parts), chars, link_chars))
                        parts = []
                        parts_append = parts.append
                        chars = 0
                        link_chars = 0
                elif name == "a" and not selfclose:
                    a_depth += 1
    if last < n and not kill:
        data = text[last:]
        if "&" in data:
            data = unescape(data)
        parts_append(data)
        chars += len(data)
        if a_depth:
            link_chars += len(data)
    if parts:
        segments.append(("".join(parts), chars, link_chars))

    kept: list[str] = []
    for seg_text, seg_chars, seg_links in segments:
        stripped = seg_text.strip()
        if not stripped:
            continue
        if seg_chars > 0 and seg_links / seg_chars > MAX_LINK_DENSITY:
            continue
        kept.append(stripped)
    return kept
