"""HTML main-content extraction: tolerant tokenizer + block
segmentation + boilerpipe/readability-style heuristics. Pure Python —
the DOM walk is genuinely unexpressible in Catalyst, so this is the
one text operator that earns its Arrow-batched UDF (driven through
mapInArrow in ``operators/html_extract.py``; no per-row Python).

North-rule item: "main-content extraction (HTML boilerplate strip,
PDF/layout parse, DOM heuristics)". The PDF/layout half lives in
``kernels/pdf.py`` + the det/layout pipeline; this module is the
HTML/DOM half. Reference analogue: the reference has no HTML path (it
is an OCR engine) — the heuristics here follow the published
boilerpipe line (Kohlschütter et al., WSDM 2010: text blocks scored by
length and link density) re-expressed from scratch.

Determinism contract (the DuckDB oracle depends on it): block text is
normalized by ASCII-whitespace collapse + space-only edge strip
(``_norm_ws`` — the exact twin of the oracle's
``trim(regexp_replace(text, '\\s+', ' ', 'g'))``; Unicode whitespace
like NBSP survives on BOTH sides); kept blocks are joined by
``"\\n\\n"`` in document order; a block survives iff its normalized
length >= MIN_BLOCK_CHARS and its link density (anchor chars / total
chars, measured on normalized fragment text) <= MAX_LINK_DENSITY.
"""

from __future__ import annotations

import re

__all__ = ["main_content", "tokenize", "tokenize_ex", "extract_links",
           "MIN_BLOCK_CHARS", "MAX_LINK_DENSITY", "DROP_TAGS",
           "BLOCK_TAGS"]

MIN_BLOCK_CHARS = 25
MAX_LINK_DENSITY = 1 / 3

# subtrees that are never main content
DROP_TAGS = frozenset(
    "script style nav header footer aside form noscript template "
    "svg iframe".split())
# tags that delimit text blocks
BLOCK_TAGS = frozenset(
    "p div section article main li ul ol h1 h2 h3 h4 h5 h6 td th tr "
    "table blockquote pre figure figcaption hr body".split())
# void elements: no closing tag ever arrives
VOID_TAGS = frozenset(
    "br img hr input meta link area base col embed source track "
    "wbr".split())
# raw-text elements: content scanned verbatim to the closing tag
RAWTEXT_TAGS = frozenset(("script", "style", "textarea", "title"))
# foreign-content roots where HTML5 honors XML self-closing syntax
_FOREIGN_TAGS = frozenset(("svg", "math"))
_RAWTEXT_END = {t: re.compile(rf"</{t}\s*>", re.I) for t in RAWTEXT_TAGS}

# ASCII whitespace only, matching the DuckDB oracle's RE2 '\s+' and
# the Spark twin (extract_core pins the same (?a) rule): Python's
# str.split() is Unicode-wide and would collapse NBSP/U+2028 that the
# SQL side preserves
_WS_A = re.compile(r"(?a)\s+")


def _norm_ws(s: str) -> str:
    """ASCII-whitespace collapse + space-only edge strip — the exact
    twin of the oracle's trim(regexp_replace(text, '\\s+', ' ', 'g'))."""
    return _WS_A.sub(" ", s).strip(" ")

_ENTITIES = {"amp": "&", "lt": "<", "gt": ">", "quot": '"',
             "apos": "'", "nbsp": " "}
_ENT_RE = re.compile(r"&(#x?[0-9a-fA-F]+|[a-zA-Z]+);")
_TAG_RE = re.compile(
    r"<(/?)([a-zA-Z][a-zA-Z0-9:-]*)"      # slash, name
    r"((?:[^>\"']|\"[^\"]*\"|'[^']*')*)"  # attrs ('>' inside quotes ok)
    r">")
_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)


def _decode_entities(s: str) -> str:
    def sub(m: re.Match) -> str:
        body = m.group(1)
        if body.startswith("#"):
            try:
                code = (int(body[2:], 16) if body[1] in "xX"
                        else int(body[1:]))
                if 0xD800 <= code <= 0xDFFF:
                    # a lone surrogate is a valid Python str but NOT
                    # valid UTF-8 — it would crash the Arrow transfer
                    # of the very mapInArrow stage this kernel feeds;
                    # html.unescape maps these to U+FFFD, so do we
                    return "�"
                return chr(code) if 0 < code < 0x110000 else m.group(0)
            except ValueError:
                return m.group(0)
        return _ENTITIES.get(body.lower(), m.group(0))

    return _ENT_RE.sub(sub, s)


def tokenize_ex(html: str):
    """Yield ('open'|'close'|'text', value, attrs_str) tolerantly:
    comments and doctypes skipped, raw-text element bodies never
    re-parsed, bare '<' that opens no tag treated as text. attrs_str
    is the raw attribute slice for 'open' events, '' otherwise."""
    html = _COMMENT_RE.sub(" ", html)
    i, n = 0, len(html)
    while i < n:
        lt = html.find("<", i)
        if lt < 0:
            yield ("text", html[i:], "")
            return
        if lt > i:
            yield ("text", html[i:lt], "")
        if html.startswith("<!", lt) or html.startswith("<?", lt):
            gt = html.find(">", lt)
            i = n if gt < 0 else gt + 1
            continue
        m = _TAG_RE.match(html, lt)
        if m is None:  # stray '<'
            yield ("text", "<", "")
            i = lt + 1
            continue
        closing, name = m.group(1), m.group(2).lower()
        i = m.end()
        if closing:
            yield ("close", name, "")
            continue
        attrs = m.group(3)
        # HTML5 §13.1.2: a trailing '/' on a NON-void element is
        # ignored (the element stays open — browsers parse
        # '<a href=x/>text</a>' as an open anchor); it genuinely
        # self-closes only foreign content (svg/math subtrees)
        self_closed = (attrs.rstrip().endswith("/")
                       and name in _FOREIGN_TAGS)
        yield ("open", name, attrs)
        if name in VOID_TAGS or self_closed:
            yield ("close", name, "")
        elif name in RAWTEXT_TAGS:
            # search in place from i — slicing html[i:] copies the
            # document remainder per raw-text element (O(n^2) on
            # script-heavy pages)
            end = _RAWTEXT_END[name].search(html, i)
            if end is None:
                yield ("text", html[i:], "")
                yield ("close", name, "")
                return
            yield ("text", html[i:end.start()], "")
            yield ("close", name, "")
            i = end.end()


def tokenize(html: str):
    """('open'|'close'|'text', value) pairs — tokenize_ex without the
    attribute slice."""
    for kind, val, _ in tokenize_ex(html):
        yield (kind, val)


# unquoted values consume until whitespace or '>' (HTML5 §13.1.2.3 —
# a trailing '/' is part of the value, matching browser behavior).
# The lookbehind anchors the attribute NAME: without it, 'data-href='
# or 'xlink:href=' matches as href and can shadow the real attribute.
_HREF_RE = re.compile(
    r"""(?<![-\w:])href\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]+))""", re.I)


def extract_links(html: str) -> list:
    """Every anchor href in document order (entity-decoded), including
    boilerplate subtrees — link-graph construction wants the nav links
    too; filtering to content links is the caller's query predicate."""
    out = []
    for kind, val, attrs in tokenize_ex(html):
        if kind == "open" and val == "a":
            m = _HREF_RE.search(attrs)
            if m is not None:
                href = next(g for g in m.groups() if g is not None)
                out.append(_decode_entities(href))
    return out


def main_content(html: str) -> dict:
    """Extract the main content of one HTML document.

    Returns {title, main_text, n_blocks_kept, n_blocks_dropped,
    link_density} — link_density is the whole-document anchor-char
    fraction (diagnostic), the keep decision uses per-block density.
    """
    title_parts: list[str] = []
    h1_parts: list[str] = []
    # current block accumulator: [text_fragments, anchor_chars]
    blocks: list[tuple[str, int]] = []
    frags: list[str] = []
    anchor_chars = 0
    skip = 0
    anchor_depth = 0
    in_title = False
    in_h1 = False

    def flush() -> None:
        nonlocal frags, anchor_chars
        if frags:
            blocks.append(("".join(frags), anchor_chars))
        frags, anchor_chars = [], 0

    for kind, val in tokenize(html):
        if kind == "open":
            if val in DROP_TAGS:
                skip += 1
            elif skip == 0:
                if val == "title":
                    in_title = True
                elif val == "a":
                    anchor_depth += 1
                elif val == "h1":
                    in_h1 = True
                if val in ("br",):
                    frags.append(" ")
                if val in BLOCK_TAGS:
                    flush()
        elif kind == "close":
            if val in DROP_TAGS:
                skip = max(0, skip - 1)
            elif skip == 0:
                if val == "title":
                    in_title = False
                elif val == "a":
                    anchor_depth = max(0, anchor_depth - 1)
                elif val == "h1":
                    in_h1 = False
                if val in BLOCK_TAGS:
                    flush()
        else:
            if skip:
                continue
            text = _decode_entities(val)
            if in_title:
                title_parts.append(text)
                continue
            if in_h1:
                h1_parts.append(text)
            frags.append(text)
            if anchor_depth > 0:
                anchor_chars += len(_norm_ws(text))
    flush()

    kept: list[str] = []
    dropped = 0
    total_chars = 0
    total_anchor = 0
    for raw, a_chars in blocks:
        norm = _norm_ws(raw)
        if not norm:
            continue
        total_chars += len(norm)
        total_anchor += min(a_chars, len(norm))
        density = a_chars / len(norm)
        if len(norm) >= MIN_BLOCK_CHARS and density <= MAX_LINK_DENSITY:
            kept.append(norm)
        else:
            dropped += 1

    title = _norm_ws("".join(title_parts))
    if not title:
        title = _norm_ws("".join(h1_parts))
    return {
        "title": title,
        "main_text": "\n\n".join(kept),
        "n_blocks_kept": len(kept),
        "n_blocks_dropped": dropped,
        "link_density": (round(total_anchor / total_chars, 6)
                         if total_chars else 0.0),
    }
