"""HTML link extraction, cleaning and text extraction.

Three row-level transforms, each the golden definition for a byte-identity
invariant (BASELINE.json input_hint: "byte-identical extracted text per url"):

- `extract_links`: every `a[href]` attribute value in document order, tolerant
  of broken HTML — semantics of the reference's lol_html streaming pass
  (reference: src/main.rs:859-895). Content of <script>/<style> is rawtext and
  never yields elements, matching lol_html.
- `clean_html`: parse -> drop every <script> subtree -> re-serialize the
  normalized DOM; on parse error return the input verbatim (reference:
  julia_container/clean_html_docker.jl:415-443). Gumbo's exact serialization
  bytes are runtime-specific, so per SURVEY.md §7 this function *is* the
  fixed golden contract for the rebuilt engine: deterministic, pure, and the
  pytest suite enforces byte-identity against it.
- `extract_text`: visible text of the cleaned DOM (script/style excluded),
  whitespace-collapsed. This is the `text` column of the `pages` shape.

All three are wrapped as Arrow-batched pandas UDFs in functions/udfs.py —
never per-row Python on the Spark side.
"""

from __future__ import annotations

from html import escape
from html.parser import HTMLParser

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)
RAWTEXT_ELEMENTS = frozenset(("script", "style"))


# ---------------------------------------------------------------------------
# link extraction (streaming, no DOM) — semantics of lol_html `a[href]`
# ---------------------------------------------------------------------------


class _LinkCollector(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.links: list[str] = []

    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        if tag == "a":
            for name, value in attrs:
                if name == "href" and value is not None:
                    self.links.append(value)
                    break

    def handle_startendtag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        # lol_html's element! handler also fires for self-closing <a href/>
        self.handle_starttag(tag, attrs)


import re as _re

# guarded regex fast path for link extraction — byte-identical to the
# html.parser path by construction (differential-tested, incl. hypothesis):
# it only applies to documents where every construct that could make
# html.parser behave differently is PROVABLY absent, and declines to the
# parser otherwise. Guards:
#   - no '&' anywhere (convert_charrefs can never fire),
#   - no '<' followed by uppercase/'!'/'?' (no declarations, comments, PIs,
#     or case-folded tags),
#   - script/style only as bare '<script>...</script>' / '<style>...</style>'
#     rawtext spans, removed before scanning (html.parser's CDATA mode);
#     any leftover open tag (attributes, unterminated, '</ script>' forms)
#     declines,
#   - every remaining '<a' anchor must be exactly '<a href="VALUE">' with
#     VALUE free of '"<>' — any other attr order/quoting/spacing declines.
_HTML_DECL_OR_UPPER_RE = _re.compile(r"<[A-Z!?]")
_RAWTEXT_SPAN_RE = _re.compile(r"<(script|style)>(.*?)</\1>", _re.DOTALL)
_SIMPLE_ANCHOR_RE = _re.compile(r'<a href="([^"<>]*)">')
_ANY_ANCHOR_RE = _re.compile(r"<a[\s>/]")
# tag-open/close run that reaches another '<' before any '>': html.parser
# consumes a (possibly malformed) tag up to the next '>', SWALLOWING any
# '<a href=...>' inside it ('<wort<a href="x">' yields NO link from the
# golden parse — the anchor's '>' terminates the broken '<wort' tag).
# The anchor-count guard can't see this, so any such run declines the
# fast path. '</' + NON-letter is html.parser's bogus-comment mode, which
# consumes to '>' the same way, so ANY '</' run counts (both found by
# scripts/fuzz_html.py; pinned in tests/test_functions_html.py).
_TAG_SWALLOW_RE = _re.compile(r"<(?:/[^<>]*|[a-z][^<>]*)<")


def _strip_rawtext_spans(html: str) -> tuple[str, str] | None:
    r"""Split out bare '<script>…</script>' / '<style>…</style>' spans,
    PROVABLY matching html.parser's CDATA behavior, or None:

    - the parser leaves CDATA at the first '</\s*elem' match
      (case-insensitive, whitespace allowed), so span contents must contain
      no '</' at all — then our case-sensitive terminator IS the parser's;
    - after splitting, no '<script'/'<style' may remain (attributed,
      unterminated or otherwise exotic forms decline).

    Returns (minus_script, minus_both): clean_html keeps style spans
    verbatim (only script subtrees are dropped); text/link scans exclude
    both rawtext contents."""
    minus_script: list[str] = []
    minus_both: list[str] = []
    pos = 0
    for m in _RAWTEXT_SPAN_RE.finditer(html):
        if "</" in m.group(2):
            return None
        minus_script.append(html[pos : m.start()])
        minus_both.append(html[pos : m.start()])
        if m.group(1) == "style":
            minus_script.append(m.group(0))
        pos = m.end()
    minus_script.append(html[pos:])
    minus_both.append(html[pos:])
    scan = "".join(minus_both)
    if "<script" in scan or "<style" in scan:
        return None
    return "".join(minus_script), scan


def _extract_links_fast(html: str) -> list[str] | None:
    """The fast form, or None when the document isn't provably simple."""
    if "&" in html:
        return None
    if _HTML_DECL_OR_UPPER_RE.search(html):
        return None
    stripped = _strip_rawtext_spans(html)
    if stripped is None:
        return None
    _, rem = stripped
    if _TAG_SWALLOW_RE.search(rem) is not None:
        return None
    links = _SIMPLE_ANCHOR_RE.findall(rem)
    if len(_ANY_ANCHOR_RE.findall(rem)) != len(links):
        return None
    return links


def extract_links(html: str | bytes | None) -> list[str]:
    """All a[href] values in document order; broken HTML tolerated
    (reference: src/main.rs:863-883). Simple documents take the guarded
    regex fast path above; anything with declarations, charrefs, attribute
    variance or rawtext subtleties takes the golden streaming parse."""
    if html is None:
        return []
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    fast = _extract_links_fast(html)
    if fast is not None:
        return fast
    collector = _LinkCollector()
    try:
        collector.feed(html)
        collector.close()
    except Exception:
        # streaming parser: keep whatever was collected before the error,
        # mirroring lol_html's `rewriter.write(..).ok()` best-effort writes
        pass
    return collector.links


# ---------------------------------------------------------------------------
# DOM build / clean / serialize — golden contract for clean_html
# ---------------------------------------------------------------------------


class _Node:
    __slots__ = ("tag", "attrs", "children")

    def __init__(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        self.tag = tag
        self.attrs = attrs
        self.children: list[object] = []  # _Node | str (text) | tuple marker


class _Comment:
    __slots__ = ("text",)

    def __init__(self, text: str) -> None:
        self.text = text


class _DomBuilder(HTMLParser):
    """Tolerant tree builder. Recovery rules (fixed golden semantics):

    - void elements never take children;
    - an end tag pops up to its nearest matching open tag; with no match in
      the open stack it is ignored (stray close);
    - unclosed tags are implicitly closed at EOF;
    - <script>/<style> content is raw text (html.parser handles CDATA mode).
    """

    def __init__(self) -> None:
        super().__init__(convert_charrefs=False)
        self.root = _Node("#document", [])
        self.stack: list[_Node] = [self.root]

    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        node = _Node(tag, attrs)
        self.stack[-1].children.append(node)
        if tag not in VOID_ELEMENTS:
            self.stack.append(node)

    def handle_startendtag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        self.stack[-1].children.append(_Node(tag, attrs))

    def handle_endtag(self, tag: str) -> None:
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return
        # stray end tag: ignored

    def handle_data(self, data: str) -> None:
        self.stack[-1].children.append(data)

    def handle_entityref(self, name: str) -> None:
        self.stack[-1].children.append(f"&{name};")

    def handle_charref(self, name: str) -> None:
        self.stack[-1].children.append(f"&#{name};")

    def handle_comment(self, data: str) -> None:
        self.stack[-1].children.append(_Comment(data))

    def handle_decl(self, decl: str) -> None:
        self.stack[-1].children.append(_Comment("!" + decl))


def _parse(html: str) -> _Node:
    builder = _DomBuilder()
    builder.feed(html)
    builder.close()
    return builder.root


def _serialize_attrs(attrs: list[tuple[str, str | None]]) -> str:
    out = []
    for name, value in attrs:
        if value is None:
            out.append(f" {name}")
        else:
            out.append(f' {name}="{escape(value, quote=True)}"')
    return "".join(out)


def _serialize(node: object, out: list[str]) -> None:
    if isinstance(node, str):
        out.append(node)
        return
    if isinstance(node, _Comment):
        out.append(f"<!--{node.text}-->")
        return
    assert isinstance(node, _Node)
    if node.tag == "#document":
        for child in node.children:
            _serialize(child, out)
        return
    out.append(f"<{node.tag}{_serialize_attrs(node.attrs)}")
    if node.tag in VOID_ELEMENTS and not node.children:
        out.append("/>")
        return
    out.append(">")
    for child in node.children:
        _serialize(child, out)
    out.append(f"</{node.tag}>")


def _drop_tag(node: _Node, tag: str) -> int:
    """Pre-order collect + detach, mirroring the Julia PreOrderDFS pass
    (clean_html_docker.jl:418-437). Returns number of removed subtrees."""
    removed = 0
    kept: list[object] = []
    for child in node.children:
        if isinstance(child, _Node) and child.tag == tag:
            removed += 1
            continue
        if isinstance(child, _Node):
            removed += _drop_tag(child, tag)
        kept.append(child)
    node.children = kept
    return removed


def clean_html(html: str | bytes | None) -> str:
    """Drop all <script> subtrees, re-serialize; parse error -> input verbatim
    (reference: julia_container/clean_html_docker.jl:415-443)."""
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    try:
        root = _parse(html)
        _drop_tag(root, "script")
        out: list[str] = []
        _serialize(root, out)
        return "".join(out)
    except Exception:
        return html


# elements whose boundaries separate words in the extracted text — without
# this, adjacent blocks glue tokens together ("RatSitzung"), which poisons
# downstream tokenization; part of the fixed golden contract
BLOCK_ELEMENTS = frozenset(
    "address article aside blockquote body br caption dd div dl dt fieldset "
    "figcaption figure footer form h1 h2 h3 h4 h5 h6 head header hr html li "
    "main nav ol option p pre section table tbody td tfoot th thead title tr "
    "ul".split()
)


class _TextCollector(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.chunks: list[str] = []
        self._skip_depth = 0

    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        if tag in RAWTEXT_ELEMENTS:
            self._skip_depth += 1
        elif tag in BLOCK_ELEMENTS:
            self.chunks.append(" ")

    def handle_endtag(self, tag: str) -> None:
        if tag in RAWTEXT_ELEMENTS and self._skip_depth:
            self._skip_depth -= 1
        elif tag in BLOCK_ELEMENTS:
            self.chunks.append(" ")

    def handle_data(self, data: str) -> None:
        if not self._skip_depth:
            self.chunks.append(data)


def extract_text(html: str | bytes | None) -> str:
    """Visible text of (cleaned) HTML: text nodes outside script/style,
    entity-decoded, block-element boundaries become word breaks, all
    whitespace runs collapsed to single spaces, stripped.
    The golden byte-identity target for the `text` column."""
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    collector = _TextCollector()
    try:
        collector.feed(html)
        collector.close()
    except Exception:
        pass
    return " ".join("".join(collector.chunks).split())


_SIMPLE_ATTRNAME_RE = _re.compile(r"[a-zA-Z_:][a-zA-Z0-9_:.-]*")


class _ReparseSensitive(Exception):
    """A text chunk contains a literal '<': once serialized adjacent to the
    next tag it could re-lex as markup (e.g. raw input '<p><wort' stores
    data '<wort', whose serialization '<p><wort</p>' re-parses with the
    chunk swallowed into a bogus tag). The walk cannot reproduce that
    re-lexing, so such documents take the two-parse contract path. Found by
    the hypothesis differential test — kept as an explicit guard."""


def _dom_text(node: object, chunks: list[str]) -> None:
    """Visible-text walk over an already-built DOM — the single-parse fast
    path for `clean_and_extract`. Byte-equal to re-parsing the serialized
    DOM through `extract_text` (the contract function):
    - stored text children are raw source slices with entity/charref
      children kept as complete `&name;` units, so per-chunk
      `html.unescape` equals the re-parse's convert_charrefs decode
      (entities never span chunk boundaries — the tolerant builder only
      splits text at markup);
    - text chunks containing a literal '<' raise _ReparseSensitive (see
      above) and the caller falls back to the contract path;
    - comments/declarations are skipped, rawtext subtrees skipped, block
      boundaries become word breaks — same rules as _TextCollector.
    Differentially tested against extract_text(serialize(dom)) in
    tests/test_functions_html.py (fixtures + hypothesis random HTML)."""
    from html import unescape

    if isinstance(node, str):
        if "<" in node:
            raise _ReparseSensitive
        chunks.append(unescape(node))
        return
    if isinstance(node, _Comment):
        return
    assert isinstance(node, _Node)
    # Attr VALUES serialize through escape(), but attr NAMES go out raw —
    # html.parser's tolerant attrfind can produce names containing
    # quotes/'>'/'=' (markup soup like <a\taä'="b>), whose serialized
    # form re-lexes with the tag ending early. The walk cannot reproduce
    # that re-lex, so any non-simple attr name takes the contract path
    # (scripts/fuzz_html.py P1 find, round 4).
    for name, _value in node.attrs:
        if _SIMPLE_ATTRNAME_RE.fullmatch(name) is None:
            raise _ReparseSensitive
    if node.tag in RAWTEXT_ELEMENTS:
        return
    is_block = node.tag in BLOCK_ELEMENTS
    if is_block:
        chunks.append(" ")
    for child in node.children:
        _dom_text(child, chunks)
    if is_block:
        chunks.append(" ")


# ---------------------------------------------------------------------------
# zero-parse token-scan fast path for clean_and_extract — byte-identical by
# construction on PROVABLY-simple documents, declining to the DOM path on
# anything else (differential-tested: fixtures + hypothesis markup soup +
# the byte-identity crawl oracles). For a document to qualify, the golden
# serializer must be the identity on everything outside dropped <script>
# subtrees, which these guards guarantee:
#   - no '&' (entity decoding identity in both serializer and text),
#   - script/style only as bare '<script>…</script>' / '<style>…</style>'
#     spans (html.parser's CDATA behavior == literal span),
#   - every other tag is exactly '<tag>' / '</tag>' /
#     '<tag attr="v" …>' — lowercase names, single-space single-double-quote
#     attrs with values free of '"&<>' (escape() identity), no void
#     elements, no self-closing, no declarations/comments/PIs,
#   - end tags match the open stack exactly and everything closes before
#     EOF (parser recovery — stray-close dropping, implicit EOF closes —
#     never fires, so serialization preserves source bytes).
# clean = source minus script spans (string splice); text = text chunks +
# block-boundary spaces, style spans skipped — _TextCollector's exact rules.
_SIMPLE_TAG_RE = _re.compile(
    r"<(/?)([a-z][a-z0-9]*)((?: [a-z-]+=\"[^\"&<>]*\")*)>"
)


def _clean_extract_fast(html: str) -> tuple[str, str] | None:
    """(clean, text) for provably-simple documents, else None."""
    if "&" in html:
        return None
    stripped = _strip_rawtext_spans(html)
    if stripped is None:
        return None
    cleaned, scan = stripped
    chunks: list[str] = []
    stack: list[str] = []
    i = 0
    n = len(scan)
    while i < n:
        lt = scan.find("<", i)
        if lt < 0:
            chunks.append(scan[i:])
            break
        chunks.append(scan[i:lt])
        m = _SIMPLE_TAG_RE.match(scan, lt)
        if m is None:
            return None  # anything the strict token grammar doesn't cover
        closing, tag, attrs = m.group(1), m.group(2), m.group(3)
        if tag in VOID_ELEMENTS or tag in RAWTEXT_ELEMENTS:
            return None  # voids re-serialize as '<x/>'; rawtext handled above
        if closing:
            if attrs or not stack or stack[-1] != tag:
                return None  # parser recovery would fire
            stack.pop()
        else:
            stack.append(tag)
        if tag in BLOCK_ELEMENTS:
            chunks.append(" ")
        i = m.end()
    if stack:
        return None  # implicit EOF closes would add bytes
    return cleaned, " ".join("".join(chunks).split())


def clean_and_extract(html: str | bytes | None) -> tuple[str, str]:
    """(clean_html, extract_text-of-clean). Provably-simple documents take
    the zero-parse token scan above; everything else builds the DOM ONCE:
    drop <script> subtrees, serialize (the clean_html bytes), and take the
    visible text from the same DOM instead of re-parsing the serialized
    string — byte-identical output either way (differential tests vs the
    two-parse contract path)."""
    if html is None:
        return "", ""
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    fast = _clean_extract_fast(html)
    if fast is not None:
        return fast
    try:
        root = _parse(html)
        _drop_tag(root, "script")
        out: list[str] = []
        _serialize(root, out)
        cleaned = "".join(out)
    except Exception:
        # parse error -> input verbatim (clean_html contract); text falls
        # back to the tolerant streaming extractor over the raw input
        return html, extract_text(html)
    try:
        chunks: list[str] = []
        _dom_text(root, chunks)
        text = " ".join("".join(chunks).split())
    except _ReparseSensitive:
        text = extract_text(cleaned)
    return cleaned, text
