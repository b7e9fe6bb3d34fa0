"""HTML main-content extraction: boilerplate strip + DOM block heuristics.

The reference engine is PDF-only — its per-format parse seam is
``fitz.open("pdf", bytes)`` sniffing the payload (reference
document.py:532-541).  This module is the HTML analogue of that seam for
Common-Crawl-style page bytes (the north rule's "HTML boilerplate strip …
DOM heuristics" requirement).

Design: a stack-based DOM walk (stdlib ``html.parser`` — dependency-free,
tolerant of malformed markup) produces content blocks; each block then gets
deterministic reading-order geometry so the result is a page dict of the
EXACT shape :func:`ocr_spark.payload.decode_doc` emits for the synthetic
PDF payloads.  Downstream, every kernel (coverage probe, consolidation,
stable y-sort, postprocess, assembly) runs unchanged on the virtual
page — HTML and PDF documents mix freely in one job and one output
schema, and the pure-Python oracle (:mod:`ocr_spark.oracle`) covers HTML
for free.

Heuristics (public knowledge — the boilerpipe / jusText / trafilatura line
of work: block segmentation at DOM block elements, link-density scoring):

- ``script/style/noscript/template/svg/iframe/head/…`` subtree content is
  dropped entirely (markup, not prose);
- ``nav/header/footer/aside`` subtrees are dropped (site chrome — the
  boilerplate strip);
- generic containers (``div/section/ul/…``) whose ``class``/``id``
  carries a chrome token (``footer``, ``sidebar``, ``menu``, ``ad``, …)
  are subtree-dropped too — real pages mark chrome with classes at least
  as often as with semantic tags (the jusText/boilerpipe class hint);
  matching is per TOKEN, so ``class="roadmap"`` is not an ad;
- block-level tags delimit blocks; ``<br>`` delimits lines inside a block;
- blocks take the reference's layout class vocabulary
  (kernels/layout.LAYOUT_CHOICES): ``h1``-``h6`` → ``title``, table
  cells → ``table``, ``<tfoot>`` cells → ``table_footnote``,
  ``<caption>`` → ``table_caption``, ``<figcaption>`` →
  ``figure_caption``, ``<math>`` content → ``isolate_formula`` (MathML
  text layer; ``<annotation>``/``<annotation-xml>`` alternates are
  dropped so TeX source never duplicates the rendered text), everything
  else ``text``;
- a block whose link density (non-whitespace chars inside ``<a>`` ÷ total
  non-whitespace chars) exceeds 0.5 is dropped as link-farm boilerplate
  (nav menus rendered as ``<div>`` lists);
- whitespace is collapsed per line; entity references are decoded by the
  parser (``convert_charrefs``); empty lines and blocks are dropped;
- zero surviving blocks → a zero-page document (empty tree, not an error).

At 100 TB the parse is embarrassingly parallel (per-document, inside the
same Arrow-batched UDF as the PDF path; no extra shuffle).  Two engines
share one collector state machine: the default compiled-regex tokenizer
(~38 MB/s/core on realistic pages) and the stdlib ``html.parser`` path
kept as the reference implementation — a differential test pins them
block-for-block equal.  A cluster deployment can still swap a C tokenizer
(lxml/selectolax) behind the same function seam without touching the plan.
"""

from __future__ import annotations

import re
from html import unescape as _unescape
from html.parser import HTMLParser

# Subtrees whose text is never prose.
DROP_TAGS = frozenset(
    "script style noscript template svg iframe object embed head "
    "title canvas audio video map annotation annotation-xml".split()
)
# Site-chrome subtrees: the boilerplate strip.
BOILERPLATE_TAGS = frozenset("nav header footer aside".split())
# Tags that delimit content blocks (flush on open AND close).
BLOCK_TAGS = frozenset(
    "p div h1 h2 h3 h4 h5 h6 li ul ol dl dt dd table thead tbody tfoot tr "
    "td th caption blockquote pre article section main figure figcaption "
    "address form fieldset hr body html center math".split()
)
HEADING_TAGS = frozenset("h1 h2 h3 h4 h5 h6".split())
# Containers that type their blocks with the reference's richer layout
# vocabulary (kernels/layout.LAYOUT_CHOICES): table cells → "table",
# <caption> → "table_caption", <figcaption> → "figure_caption".
# Order matters: more specific contexts first (tfoot cells are
# table_footnote, not table; a formula inside a table is still a formula).
_TYPE_CONTEXT_TAGS = ("math", "figcaption", "caption", "tfoot", "table")
_TYPE_FOR_CONTEXT = {
    "math": "isolate_formula",
    "figcaption": "figure_caption",
    "caption": "table_caption",
    "tfoot": "table_footnote",
    "table": "table",
}

# Generic containers whose class/id can mark them as site chrome — real
# pages render nav/footer/sidebar as <div class="footer"> at least as
# often as with semantic tags (the jusText/boilerpipe class-hint
# heuristic).  Subtree-dropped when any class/id TOKEN matches.
ATTR_CHECK_TAGS = frozenset(
    "div section span ul ol table form article aside li".split()
)
BOILERPLATE_CLASS_WORDS = frozenset(
    "nav navbar navigation menu footer header sidebar banner breadcrumb "
    "breadcrumbs comment comments share social sharing advert adverts "
    "advertisement ad ads adsense widget widgets cookie cookies popup "
    "modal pagination pager disclaimer copyright related promo "
    "subscribe newsletter masthead toolbar skip".split()
)
_CLASS_TOKEN_RE = re.compile(r"[^a-zA-Z0-9]+")


def _boilerplate_attrs(attrs) -> bool:
    """True when a class/id attribute carries a chrome-marker token."""
    for name, value in attrs:
        if name in ("class", "id") and value:
            for tok in _CLASS_TOKEN_RE.split(value.lower()):
                if tok in BOILERPLATE_CLASS_WORDS:
                    return True
    return False

MAX_LINK_DENSITY = 0.5

_WS_RE = re.compile(r"[ \t\r\n\f\v]+")
_WS_CHARS = " \t\r\n\f\v"


def _nonws_count(s: str) -> int:
    """len(s) minus its [ \\t\\r\\n\\f\\v] chars — str.count is C-fast and
    this runs once per text node (a regex findall here was the parse
    hot-spot at ~30% of total time)."""
    n = len(s)
    for ch in _WS_CHARS:
        n -= s.count(ch)
    return n
_HTML_SNIFF_RE = re.compile(
    rb"(?i)<!doctype\s+html|<html[\s>]|<head[\s>]|<body[\s>]"
)
# HTML5-prescan-style charset declaration (first KB): a <meta> tag's
# ATTRIBUTES are parsed (the same quoted-value-consuming scanner as the
# fast tokenizer), and only an actual `charset` attribute — or a
# `content` attribute on an http-equiv=content-type meta — is honored.
# A raw `charset=` substring search would be hijacked by `?charset=` in
# a script src URL, or by unrelated attribute VALUES like
# <meta name="description" content="see charset=koi8-r docs">, which the
# spec's prescan correctly ignores.
_META_RE = re.compile(r"(?i)<meta((?:\"[^\"]*\"|'[^']*'|[^>'\"])*)>")
_CONTENT_CHARSET_RE = re.compile(
    r"(?i)charset\s*=\s*[\"']?\s*([a-zA-Z0-9_\-:.]+)"
)


def _prescan_charset(data: bytes) -> str | None:
    """The declared document charset per the HTML5 prescan, or None."""
    head = data[:1024].decode("latin-1")  # byte-transparent view
    for m in _META_RE.finditer(head):
        # first-wins on duplicate attributes (the HTML5 rule, and the
        # convention every other scanner here uses) — dict() is
        # last-wins, so <meta charset="utf-8" charset="koi8-r"> would
        # decode with the wrong codec
        attrs: dict = {}
        for name, value in _scan_attrs(m.group(1)):
            attrs.setdefault(name, value)
        charset = attrs.get("charset", "").strip()
        if charset:
            return charset
        if attrs.get("http-equiv", "").strip().lower() == "content-type":
            cm = _CONTENT_CHARSET_RE.search(attrs.get("content", ""))
            if cm:
                return cm.group(1)
    return None

# Virtual-page geometry: identical to the synthetic-corpus layout rule
# (fixtures._text_block) so per-line coverage lands ≈0.85 ≥ 0.5 and the
# coverage probe routes every HTML page down the native path.  All
# coordinates are integral floats and the virtual dpi is 72, so the
# detector chain's int-cast → ×(72/dpi) is an exact identity.
PAGE_W = 612.0
_X1, _X2 = 72.0, 540.0
_LINE_H, _BLOCK_PAD, _BLOCK_GAP = 14.0, 6.0, 10.0
VIRTUAL_DPI = 72


def looks_like_html(data: bytes) -> bool:
    """Payload sniff: is this an HTML document (vs a PDF/sgdoc payload)?

    The analogue of fitz's magic-byte sniff at the reference's parse seam
    (document.py:532-541): decide the per-format parser from the first KB.
    UTF-16 pages (BOM-led) are sniffed through their decoded prefix —
    the raw-byte markers are NUL-interleaved there.
    """
    if data[:2] in (b"\xff\xfe", b"\xfe\xff"):
        prefix = data[:2048].decode("utf-16", errors="replace")
        return bool(
            re.search(r"(?i)<!doctype\s+html|<html[\s>]|<head[\s>]|<body[\s>]",
                      prefix)
        )
    return bool(_HTML_SNIFF_RE.search(data[:1024]))


def decode_html_bytes(data: bytes) -> str:
    """Charset-aware decode (Common-Crawl pages are NOT all UTF-8).

    Priority per the HTML5 encoding sniff: byte-order mark → declared
    ``<meta charset>`` / ``http-equiv`` in the first KB (utf-16
    declarations are treated as utf-8 per the spec — the prescan only
    runs on ASCII-compatible bytes) → utf-8.  Always ``errors='replace'``
    (never raise on mojibake; deterministic output).  Unknown or
    misdeclared charsets fall back to utf-8."""
    import codecs

    if data[:3] == b"\xef\xbb\xbf":
        return data[3:].decode("utf-8", errors="replace")
    if data[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return data.decode("utf-16", errors="replace")
    name = _prescan_charset(data)
    if name:
        name = name.strip(".")
        try:
            info = codecs.lookup(name)
            # canonical name BEFORE the utf-16 guard: alias labels like
            # 'utf_16'/'u16' resolve to utf-16 and used to bypass the
            # hyphen-only normalization, decoding an ASCII-compatible
            # page into CJK mojibake shipped as COMPLETED text
            name = info.name
            # registered NON-TEXT codecs ('hex', 'base64', 'zlib', ...)
            # pass lookup but are not page encodings; punycode/idna are
            # flagged text codecs yet decode arbitrary page bytes to
            # garbage-or-empty (or reject errors='replace')
            if (
                not getattr(info, "_is_text_encoding", True)
                or info.name in ("punycode", "idna")
            ):
                name = "utf-8"
        except LookupError:
            name = "utf-8"
        if name.lower().replace("-", "").replace("_", "").startswith(
            "utf16"
        ):
            name = "utf-8"
        try:
            return data.decode(name, errors="replace")
        except (LookupError, UnicodeError, ValueError):
            # the decode itself can still raise for exotic registered
            # codecs (e.g. 'idna' rejects errors='replace') — the
            # contract is NEVER raise, fall back to utf-8
            return data.decode("utf-8", errors="replace")
    return data.decode("utf-8", errors="replace")


class _BlockCollector(HTMLParser):
    """One streaming pass: suppression counters + block/line accumulation."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._drop: dict[str, int] = {}  # per-tag open counts (misnest-safe)
        self._drop_total = 0  # O(1) suppression check on the hot data path
        self._open: dict[str, int] = {}  # ATTR_CHECK_TAGS nesting depths
        self._attr_drops: list[tuple[str, int]] = []  # (tag, depth_at_open)
        self._link_depth = 0
        self._heading_depth = 0
        # inline-state scoping: block-nesting depth plus the depth at
        # which the current <a>/outermost heading opened, so dangling
        # inline state dies with its CONTAINER (unclosed <a> in a menu
        # item) but survives blocks nested INSIDE it (HTML5 card links:
        # <a><h3>..</h3><p>..</p></a> stays fully linked)
        self._block_depth = 0
        self._a_open_depth: int | None = None
        self._heading_open_depth: int | None = None
        self._ctx = dict.fromkeys(_TYPE_CONTEXT_TAGS, 0)
        self._cur: dict | None = None  # {"title","lines":[ [str,...] ],...}
        self.blocks: list[dict] = []  # [{"type","lines":[str,...]}]

    def handle_starttag(self, tag, attrs):
        if tag in DROP_TAGS or tag in BOILERPLATE_TAGS:
            self._drop[tag] = self._drop.get(tag, 0) + 1
            self._drop_total += 1
            self._flush()
            return
        if tag in ATTR_CHECK_TAGS:
            # class/id chrome marker → drop this element's whole subtree;
            # same-tag nesting tracked by depth so the drop ends at the
            # MATCHING close even through nested divs
            if (
                not self._attr_drops
                and not self._drop_total
                and attrs
                and _boilerplate_attrs(attrs)
            ):
                self._attr_drops.append((tag, self._open.get(tag, 0)))
                self._drop_total += 1
                self._flush()
            self._open[tag] = self._open.get(tag, 0) + 1
        if tag == "br":
            if self._cur is not None:
                self._cur["lines"].append([])
            return
        if tag in BLOCK_TAGS:
            self._block_depth += 1
        if self._drop_total:
            # inline state opened INSIDE a suppressed subtree is
            # meaningless (its text never lands) and must not be
            # tracked: a dangling <a> inside <nav> used to leak
            # _link_depth past the subtree close — the close handler
            # early-returns for nav — and link-density-drop the ENTIRE
            # remaining document; matching closes inside the subtree
            # are no-ops via the > 0 guards below
            return
        if tag == "a":
            # HTML5-style implied end tag: a new <a> while one is open
            # closes the old one — unclosed-<a> chains (malformed menus)
            # must not accumulate depth and mark the rest of the page
            # as linked
            self._link_depth = 1
            self._a_open_depth = self._block_depth
        if tag in HEADING_TAGS:
            self._heading_depth += 1
            if self._heading_open_depth is None:
                self._heading_open_depth = self._block_depth
        if tag in self._ctx:
            self._ctx[tag] += 1
        if tag in BLOCK_TAGS:
            self._flush()

    def handle_startendtag(self, tag, attrs):
        if tag == "br":
            if self._cur is not None:
                self._cur["lines"].append([])
            return
        if tag in BLOCK_TAGS or tag in DROP_TAGS or tag in BOILERPLATE_TAGS:
            self._flush()

    def handle_endtag(self, tag):
        if tag in DROP_TAGS or tag in BOILERPLATE_TAGS:
            if self._drop.get(tag, 0) > 0:
                self._drop[tag] -= 1
                self._drop_total -= 1
            self._flush()
            return
        if tag in ATTR_CHECK_TAGS:
            depth = self._open.get(tag, 0)
            if depth > 0:
                self._open[tag] = depth - 1
                if (
                    self._attr_drops
                    and self._attr_drops[-1] == (tag, depth - 1)
                ):
                    self._attr_drops.pop()
                    self._drop_total -= 1
        if tag == "a" and self._link_depth > 0:
            self._link_depth = 0
            self._a_open_depth = None
        if tag in HEADING_TAGS and self._heading_depth > 0:
            self._heading_depth -= 1
            if self._heading_depth == 0:
                self._heading_open_depth = None
        if tag in self._ctx and self._ctx[tag] > 0:
            self._ctx[tag] -= 1
        if tag in BLOCK_TAGS:
            self._flush()
            if self._block_depth > 0:
                self._block_depth -= 1
            # closing a block BELOW where an <a>/heading opened means its
            # container ended with the inline tag dangling (unclosed <a>
            # in a menu item) — terminate it so it cannot leak into the
            # rest of the document and link-density-drop (or title-ify)
            # everything; blocks nested INSIDE the anchor keep the state.
            if (
                self._a_open_depth is not None
                and self._block_depth < self._a_open_depth
            ):
                self._link_depth = 0
                self._a_open_depth = None
            if (
                self._heading_open_depth is not None
                and self._block_depth < self._heading_open_depth
            ):
                self._heading_depth = 0
                self._heading_open_depth = None

    # -- text accumulation -------------------------------------------------
    def handle_data(self, data):
        if self._drop_total:
            return
        if self._cur is None:
            if not data.strip():
                return  # inter-tag whitespace never opens a block
            if self._heading_depth > 0:
                btype = "title"
            else:
                btype = "text"
                for ctx_tag in _TYPE_CONTEXT_TAGS:
                    if self._ctx[ctx_tag] > 0:
                        btype = _TYPE_FOR_CONTEXT[ctx_tag]
                        break
            self._cur = {
                "type": btype,
                "lines": [[]],
                "chars": 0,
                "linked": 0,
            }
        self._cur["lines"][-1].append(data)
        n = _nonws_count(data)
        self._cur["chars"] += n
        if self._link_depth > 0:
            self._cur["linked"] += n

    # -- block finalization ------------------------------------------------
    def _flush(self) -> None:
        cur, self._cur = self._cur, None
        if cur is None:
            return
        lines = []
        for parts in cur["lines"]:
            text = "".join(parts)
            # regex collapse only when a collapsible run can exist — the
            # common single-spaced paragraph takes the C-scan fast path
            if (
                "  " in text or "\n" in text or "\t" in text
                or "\r" in text or "\f" in text or "\v" in text
            ):
                text = _WS_RE.sub(" ", text)
            text = text.strip()
            if text:
                lines.append(text)
        if not lines:
            return
        if cur["chars"] > 0 and cur["linked"] / cur["chars"] > MAX_LINK_DENSITY:
            return  # link-farm boilerplate
        self.blocks.append({"type": cur["type"], "lines": lines})

    def close(self):
        super().close()
        self._flush()


# ---------------------------------------------------------------------------
# fast tokenizer: a compiled-regex scan that drives the SAME collector
# handlers as the stdlib HTMLParser path.  ~2× the stdlib parser on
# Common-Crawl-size pages (the per-token Python machinery of
# HTMLParser.goahead is the cost, not the regexes).  The stdlib path is
# kept as the reference implementation; a differential test
# (tests/test_html.py) asserts block-for-block equality across the whole
# fixture corpus plus malformed-markup cases.

_TAG_CLOSE_RE = re.compile(r"</([a-zA-Z][a-zA-Z0-9-]*)[^>]*>")
_TAG_OPEN_RE = re.compile(
    r"<([a-zA-Z][a-zA-Z0-9-]*)((?:\"[^\"]*\"|'[^']*'|[^>'\"])*?)(/?)>", re.S
)


def _open_tag_parts(m) -> tuple:
    """(tag, attrs_chunk, self_closing) for a _TAG_OPEN_RE match,
    resolving the trailing-solidus ambiguity the way html.parser (and
    the HTML5 unquoted-attribute-value state) does: the '/' in
    ``<a href=http://x/foo/>`` is part of the unquoted VALUE, not a
    self-close — the non-greedy attrs chunk otherwise truncates the url
    (/foo and /foo/ are distinct resources) and drops the anchor text by
    treating the tag as already closed.  A solidus after nothing
    (``<br/>``), whitespace, or a closing quote IS self-closing."""
    tag = m.group(1).lower()
    chunk = m.group(2) or ""
    self_closing = m.group(3) == "/"
    if self_closing and chunk and chunk[-1] not in " \t\n\r\f\v\"'":
        chunk += "/"
        self_closing = False
    return tag, chunk, self_closing
# Attribute scanner: consumes name(=value)? pairs SEQUENTIALLY so a
# quoted value is swallowed as a value, never re-scanned for names — a
# bare word-boundary search would false-match the `id` suffix of
# `data-id` or a `class=` inside title="..." and drop content the stdlib
# reference keeps.
_ATTR_SCAN_RE = re.compile(
    r"\s*([a-zA-Z_:][-a-zA-Z0-9_:.]*)"
    r"(?:\s*=\s*(\"[^\"]*\"|'[^']*'|[^\s>]*))?"
)


def _scan_attrs(chunk: str):
    """Yield (name, raw_value) pairs from a start-tag attribute chunk,
    consuming name(=value)? pairs SEQUENTIALLY so a quoted value is
    swallowed as a value, never re-scanned for names — a bare
    word-boundary search would false-match the `id` suffix of `data-id`
    or a `class=` inside title="..."."""
    pos, n = 0, len(chunk)
    while pos < n:
        m = _ATTR_SCAN_RE.match(chunk, pos)
        if m is None or m.end() == pos:
            # resync over junk — but NEVER one char at a time into a
            # quoted string (a value-only attr like ="class=ad" would
            # otherwise get its contents parsed as attributes)
            q = chunk[pos]
            if q in "\"'":
                close = chunk.find(q, pos + 1)
                pos = n if close < 0 else close + 1
            else:
                pos += 1
            continue
        value = m.group(2) or ""
        if value[:1] in "\"'":
            value = value[1:-1]
        yield m.group(1).lower(), value
        pos = m.end()


def _class_id_attrs(chunk: str) -> list[tuple[str, str]]:
    """Extract only the class/id attrs (the ones the collector inspects);
    values entity-unescaped for parity with html.parser."""
    return [
        (name, _unesc(value))
        for name, value in _scan_attrs(chunk)
        if name in ("class", "id")
    ]
_MARKUP_SKIP_RE = re.compile(
    r"<!--.*?(?:-->|\Z)"          # comments (unterminated: to EOF)
    r"|<!\[CDATA\[.*?(?:\]\]>|\Z)"  # CDATA sections
    r"|<![^>]*>"                   # doctype / declarations
    r"|<\?[^>]*>",                 # processing instructions
    re.S,
)
_RAWTEXT_TAGS = frozenset(("script", "style"))  # html.parser CDATA elems
# Close-tag finders for rawtext skipping: case-insensitive search on the
# ORIGINAL text — a lowercased copy shifts indices when case-folding
# changes string length (e.g. 'İ'.lower() is two codepoints), which made
# the fast engine swallow content after scripts on Turkish pages.
_RAWTEXT_CLOSE_RE = {
    t: re.compile(f"(?i)</{t}") for t in _RAWTEXT_TAGS
}


def _unesc(s: str) -> str:
    return _unescape(s) if "&" in s else s


def _fast_feed(text: str, c: "_BlockCollector") -> None:
    pos, n = 0, len(text)
    while pos < n:
        lt = text.find("<", pos)
        if lt < 0:
            c.handle_data(_unesc(text[pos:]))
            break
        if lt > pos:
            c.handle_data(_unesc(text[pos:lt]))
        m = _TAG_CLOSE_RE.match(text, lt)
        if m:
            c.handle_endtag(m.group(1).lower())
            pos = m.end()
            continue
        m = _TAG_OPEN_RE.match(text, lt)
        if m:
            tag, chunk, self_closing = _open_tag_parts(m)
            pos = m.end()
            if self_closing:
                c.handle_startendtag(tag, [])
                continue
            attrs = (
                _class_id_attrs(chunk)
                if tag in ATTR_CHECK_TAGS and chunk
                else []
            )
            c.handle_starttag(tag, attrs)
            if tag in _RAWTEXT_TAGS:
                # raw content: no tags, no entities — skip to the close
                cm = _RAWTEXT_CLOSE_RE[tag].search(text, pos)
                if cm is None:
                    break  # unterminated: swallowed (parser parity)
                gt = text.find(">", cm.start())
                c.handle_endtag(tag)
                pos = n if gt < 0 else gt + 1
            continue
        m = _MARKUP_SKIP_RE.match(text, lt)
        if m:
            pos = m.end()
            continue
        c.handle_data("<")  # bare '<' is text (html.parser behavior)
        pos = lt + 1


# Giant-page decode guard.  The HTML parse is per-document Python and an
# HTML document is ONE virtual page, so a pathological 100 MB page would
# be a single straggler task dominating its stage.  Documents over this many
# bytes are truncated at a tag boundary before parsing and flagged
# TRUNCATED in lineage (never silently): 4 MiB is ~100× the Common-Crawl
# median page and parses in ~0.1 s/core, so the worst single-page task
# stays bounded no matter what the crawl contains.
MAX_HTML_BYTES = 4 * 1024 * 1024

# Block-count companion to the byte guard: the downstream page kernels
# (coverage probe, consolidation — reference-exact loops) are O(blocks ×
# lines) per page, so a 4 MiB page of thousands of TINY blocks is still a
# multi-10-second task even after the byte cut.  Real article pages carry
# well under 500 content blocks; a page over this cap is a listing/feed
# whose tail adds no prose value.  Applied identically in the pure-Python
# oracle (same function), so Spark↔oracle byte-identity is preserved, and
# flagged through the same TRUNCATED lineage — never silent.
MAX_HTML_BLOCKS = 2000


def _truncate_at_tag(data: bytes, max_bytes: int) -> bytes:
    """Cut before the last ``<`` under the limit so no half-parsed tag is
    ever fed to the tokenizer; the parse of the truncated bytes is then
    exactly the parse an untruncated document with that content would
    get."""
    cut = data.rfind(b"<", 1, max_bytes)
    return data[:cut] if cut > 0 else data[:max_bytes]


def _parse_blocks(
    data: bytes, engine: str = "fast", max_bytes: int | None = MAX_HTML_BYTES
) -> tuple[list[dict], bool]:
    """(blocks, truncated) — see :func:`parse_html_blocks`."""
    truncated = False
    if max_bytes is not None and len(data) > max_bytes:
        data = _truncate_at_tag(data, max_bytes)
        truncated = True
    parser = _BlockCollector()
    text = decode_html_bytes(data)
    if engine == "fast":
        _fast_feed(text, parser)
        parser._flush()
    else:
        parser.feed(text)
        parser.close()
    return parser.blocks, truncated


def parse_html_blocks(
    data: bytes, engine: str = "fast",
    max_bytes: int | None = MAX_HTML_BYTES,
) -> list[dict]:
    """HTML bytes → content blocks ``[{"type", "lines": [str, ...]}, ...]``.

    ``engine='stdlib'`` runs the html.parser reference path (used by the
    differential test); both produce identical blocks on every corpus we
    generate — prefer the default on the hot path.  Inputs over
    ``max_bytes`` are truncated at a tag boundary first (see
    ``MAX_HTML_BYTES``); use :func:`html_doc` to get the truncation flag
    for lineage."""
    return _parse_blocks(data, engine, max_bytes)[0]


def _page_and_truncated(
    data: bytes, max_bytes: int | None
) -> tuple[dict | None, bool]:
    """HTML bytes → (one virtual page dict, or ``None`` when no content
    blocks survive the boilerplate strip; truncated).  Giant inputs are
    truncated (see ``MAX_HTML_BYTES``), and the page dict then carries
    ``"truncated": True`` for lineage.  The truncated flag reflects BOTH
    decode guards (byte cap, block cap) even when zero blocks survive the
    boilerplate strip, so ``html_doc`` reports guard hits on zero-page
    documents too (a giant page whose surviving blocks were all
    boilerplate once reported ``truncated=False``)."""
    blocks, truncated = _parse_blocks(data, max_bytes=max_bytes)
    if len(blocks) > MAX_HTML_BLOCKS:
        blocks = blocks[:MAX_HTML_BLOCKS]
        truncated = True
    if not blocks:
        return None, truncated
    layout: list[dict] = []
    native: list[dict] = []
    y = 72.0
    for blk in blocks:
        n = len(blk["lines"])
        h = _LINE_H * n + _BLOCK_PAD
        layout.append({"type": blk["type"], "bbox": [_X1, y, _X2, y + h]})
        for j, content in enumerate(blk["lines"]):
            ly = y + 3.0 + _LINE_H * j
            native.append(
                {
                    "bbox": [_X1 + 2.0, ly, _X2 - 2.0, ly + 12.0],
                    "spans": [content],
                }
            )
        y += h + _BLOCK_GAP
    return {
        "i": 0,
        "width": PAGE_W,
        "height": max(792.0, y + 62.0),
        "layout": layout,
        "native_lines": native,
        "ocr_lines": [],
        "truncated": truncated,
    }, truncated


def html_doc(data: bytes, max_bytes: int | None = MAX_HTML_BYTES) -> dict:
    """HTML bytes → doc dict (decode_doc shape): one virtual page, or zero
    pages when the document is pure boilerplate.  ``"truncated"`` is True
    when a decode guard cut the input — INCLUDING when zero pages survive
    the boilerplate strip (lineage — never silent)."""
    page, truncated = _page_and_truncated(data, max_bytes)
    return {
        "dpi": VIRTUAL_DPI,
        "kind": "H",
        "pages": [page] if page is not None else [],
        "truncated": truncated,
    }
