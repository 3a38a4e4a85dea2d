"""Golden-contract tests for link extraction / clean_html / extract_text
(reference semantics: src/main.rs:859-909, julia_container/
clean_html_docker.jl:415-443 — Python implementation is the fixed golden,
SURVEY.md §7)."""

from __future__ import annotations

import hypothesis
import hypothesis.strategies as st

from crawler_german_localpoliticans_spark.functions.html import (
    clean_and_extract,
    extract_links,
    extract_text,
)
from html_reference import clean_html


def test_links_document_order():
    html = '<a href="/b">b</a><p><a href="/a">a</a></p><a href="/c">c</a>'
    assert extract_links(html) == ["/b", "/a", "/c"]


def test_links_duplicates_kept_here():
    # per-page dedup happens later in the pipeline (src/main.rs:908-909)
    html = '<a href="/x">1</a><a href="/x">2</a>'
    assert extract_links(html) == ["/x", "/x"]


def test_links_ignore_script_content():
    html = '<script>var s = \'<a href="/fake">x</a>\';</script><a href="/real">r</a>'
    assert extract_links(html) == ["/real"]


def test_links_missing_href_and_selfclosing():
    html = '<a name="anchor">no href</a><a href="/y"/><A HREF="/upper">u</A>'
    assert extract_links(html) == ["/y", "/upper"]


def test_links_tolerant_of_broken_html():
    html = '<div><a href="/a">a<p><a href="/b">'
    assert extract_links(html) == ["/a", "/b"]


def test_links_bytes_input():
    assert extract_links(b'<a href="/x">x</a>') == ["/x"]


def test_clean_removes_script_subtrees():
    html = '<html><head><script>var a=1;</script></head><body><p>Hallo</p><script src="x.js"></script></body></html>'
    cleaned = clean_html(html)
    assert "<script" not in cleaned
    assert "var a=1" not in cleaned
    assert "<p>Hallo</p>" in cleaned


def test_clean_removes_nested_content_inside_script():
    html = "<body><script><div>inner</div></script><p>keep</p></body>"
    cleaned = clean_html(html)
    assert "inner" not in cleaned
    assert "keep" in cleaned


def test_clean_preserves_non_script():
    html = '<div class="a"><span>Text &amp; mehr</span><br/></div>'
    cleaned = clean_html(html)
    assert "Text" in cleaned and "span" in cleaned
    # entity preserved, not double-decoded
    assert "&amp;" in cleaned


def test_clean_is_deterministic_and_idempotent_on_clean_input():
    html = "<html><body><p>x</p></body></html>"
    once = clean_html(html)
    assert clean_html(once) == once


def test_clean_tolerates_malformed():
    html = "<html><head><title>t<body><p>offen"
    cleaned = clean_html(html)
    assert "offen" in cleaned


def test_extract_text_collapses_whitespace():
    html = "<body><h1>Titel</h1>\n\n  <p>Zeile   eins</p><script>skip()</script></body>"
    assert extract_text(html) == "Titel Zeile eins"


def test_extract_text_decodes_entities():
    assert extract_text("<p>a &amp; b &uuml;</p>") == "a & b ü"


def test_extract_text_empty():
    assert extract_text("") == ""
    assert extract_text(None) == ""


# --------------------------------------------------------------------------
# single-parse fast path == two-parse contract path (byte differential)
# --------------------------------------------------------------------------

_ADVERSARIAL = [
    # exotic attr NAMES (quotes/'>'/'=') serialize raw and re-lex with the
    # tag ending early — the DOM walk must decline to the contract path
    # (scripts/fuzz_html.py P1 find, round 4)
    'ä\'="b>;<a\taä\'="b>;<a\t<a href=x>',
    "<p '>x</p>after",
    '<a ="v">t</a>',
    "<div a=b c>txt</div>",
    "",
    "kein html nur text",
    "<p>a &amp; b &uuml; &#38; &#x26; &unknownent; &amp x</p>",
    "a < b und a <3 b und x&y",
    "abc<",
    "x&",
    "&ampx &amp",
    "<div><p>Offen<ul><li>Eins<li>Zwei</div>",
    "<body><script><div>inner</div></script><p>keep</p></body>",
    "<style>p { content: '<a href=x>'; }</style><p>sichtbar</p>",
    "<!-- kommentar --><!DOCTYPE html><p>text</p>",
    "<p/><br/><img src='x'/>nach void",
    "</p>stray close<p>open",
    "<P>UPPER</P><A HREF='/x'>link</A>glue<a>more</a>",
    "<script>unterminated...",
    "<td>cell</td>text<table><tr><td>in</td></tr></table>",
]


def test_clean_and_extract_equals_contract_path_on_fixtures():
    for raw in _ADVERSARIAL:
        cleaned, text = clean_and_extract(raw)
        assert cleaned == clean_html(raw), raw
        assert text == extract_text(cleaned), raw


@hypothesis.settings(max_examples=300, deadline=None)
@hypothesis.given(
    st.lists(
        st.one_of(
            st.sampled_from(
                [
                    "<p>", "</p>", "<div>", "</div>", "<li>", "<a href='/x'>",
                    "</a>", "<script>", "</script>", "<style>", "</style>",
                    "<br/>", "<span>", "</span>", "<!--c-->", "&amp;", "&lt;",
                    "&#38;", "&unknown;", "&amp", "&", "<", ">", " ", "\n",
                    "wort", "Straße", "a < b", "x&y;", "<P >", "</ p>",
                ]
            ),
            st.text(max_size=8),
        ),
        max_size=40,
    )
)
def test_clean_and_extract_equals_contract_path_hypothesis(parts):
    raw = "".join(parts)
    cleaned, text = clean_and_extract(raw)
    assert cleaned == clean_html(raw)
    assert text == extract_text(cleaned)


def test_extract_links_fast_path_differential_fixed():
    """The guarded regex fast path must agree byte-for-byte with the golden
    parser wherever it applies, and must DECLINE (None) on every construct
    that could change parser behavior."""
    from crawler_german_localpoliticans_spark.functions.html import (
        _LinkCollector,
        _extract_links_fast,
        extract_links,
    )

    def parser_links(h):
        c = _LinkCollector()
        try:
            c.feed(h)
            c.close()
        except Exception:
            pass
        return c.links

    applies = [
        '<html><body><a href="/x">a</a><a href="/y">b</a></body></html>',
        '<a href="">empty</a>',
        '<script>var x = "<a href=\'/hidden\'>";</script><a href="/vis">v</a>',
        '<style>a { color: red }</style><a href="/s">s</a>',
        'text only, no anchors',
        '<a href="/a"><a href="/a">dup kept in doc order</a>',
    ]
    for h in applies:
        fast = _extract_links_fast(h)
        assert fast is not None, h
        assert fast == parser_links(h), h

    declines = [
        '<a href="/x&amp;y">charref</a>',            # '&'
        '<!-- <a href="/c"> --><a href="/v">v</a>',  # declaration
        '<A HREF="/up">case</A>',                    # uppercase tag
        "<a href='/sq'>single quotes</a>",           # quoting variant
        '<a class="k" href="/attr">extra attr</a>',  # attr order/extra
        '<a\nhref="/nl">newline in tag</a>',         # whitespace in tag
        '<script src="x.js"></script><a href="/v">v</a>',  # script attrs
        '<script>unterminated <a href="/in">',       # unterminated rawtext
        '<a href="/x>broken quote',                  # '>' in value / broken
        '<a>no href</a>',                            # anchor without href
        # malformed tag-open runs that reach another '<' before any '>':
        # html.parser swallows the following anchor into the broken tag
        # ('<wort<a href="x">' collects NO link) — the anchor-count guard
        # cannot see this (scripts/fuzz_html.py find, round 4)
        '<wort<a href="x">',
        '<b=junk<a href="x">',
        '<a href="x"><wort<a href="y">',
        '</wort<a href="x">',
        '<p<p><a href="x">',
        # '</' + non-letter = bogus-comment mode, same swallow
        '<-/</\'ba<a href="">',
        '</ <a href="x">',
    ]
    for h in declines:
        assert _extract_links_fast(h) is None, h
        # and the public function still returns the parser's answer
        assert extract_links(h) == parser_links(h), h


def test_extract_links_fast_path_differential_hypothesis():
    """Randomized markup soup: wherever the fast path applies it equals the
    parser; extract_links (the public function) always equals the parser."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from crawler_german_localpoliticans_spark.functions.html import (
        _LinkCollector,
        extract_links,
    )

    def parser_links(h):
        c = _LinkCollector()
        try:
            c.feed(h)
            c.close()
        except Exception:
            pass
        return c.links

    frag = st.one_of(
        st.just('<a href="/x">'),
        st.just('<a href="/y/z-1">t</a>'),
        st.just("<script>var a=1;</script>"),
        st.just("<style>.c{}</style>"),
        st.just("<p>text</p>"),
        st.just("&amp;"),
        st.just("<!-- c -->"),
        st.just('<a href="/q?x=1">'),
        st.just("<A HREF='/U'>"),
        st.just("</a>"),
        st.just("<a>"),
        st.just("<script>"),
        st.text(alphabet="ab<>/\"'&= \n", max_size=12),
    )

    @settings(max_examples=300, deadline=None)
    @given(st.lists(frag, max_size=8))
    def run(frags):
        h = "".join(frags)
        assert extract_links(h) == parser_links(h), repr(h)

    run()


def test_clean_extract_fast_path_differential_fixed():
    """The token-scan fast path must be byte-identical to the DOM contract
    path wherever it applies, and decline on every construct where parser
    recovery or serialization normalization could change bytes."""
    from crawler_german_localpoliticans_spark.functions.html import (
        _clean_extract_fast,
        clean_and_extract,
        extract_text,
    )

    applies = [
        '<html><head><title>Seite 3</title><script>var x = 3;</script></head>'
        '<body><h1>Dokument</h1><p>wort eins zwei</p><a href="/seite/1">l</a></body></html>',
        "<p>nur text</p>",
        "plain text, no markup",
        '<div><style>.c { color: red }</style><p>after style</p></div>',
        '<p>a</p><p>b</p>',
        '<span>inline</span><b>glue</b>',
    ]
    for h in applies:
        fast = _clean_extract_fast(h)
        assert fast is not None, h
        expected_clean = clean_html(h)
        assert fast[0] == expected_clean, h
        assert fast[1] == extract_text(expected_clean), h

    declines = [
        "<p>a &amp; b</p>",                      # charref
        "<P>upper</P>",                          # case normalization
        "<p>unclosed",                           # implicit EOF close
        "</p>stray close",                       # parser drops it
        "<p><b>cross</p></b>",                   # recovery pops differently
        '<br>',                                  # void reserializes as <br/>
        '<p  class="x">two spaces</p>',          # attr spacing normalization
        "<p class='sq'>single quotes</p>",       # quote normalization
        "<!-- comment --><p>x</p>",              # declaration/comment
        '<script src="x"></script>',             # attributed rawtext
        "<script>if (a</b) {}</script>",         # '</' inside rawtext content
        "<p>a < b</p>",                          # literal '<' in text
    ]
    for h in declines:
        assert _clean_extract_fast(h) is None, h
        # public function still equals the golden contract
        c, t = clean_and_extract(h)
        assert c == clean_html(h), h
        assert t == extract_text(clean_html(h)), h


def test_clean_extract_fast_path_differential_hypothesis():
    """Randomized markup soup: clean_and_extract (public, fast path inside)
    always equals the two-parse golden contract."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from crawler_german_localpoliticans_spark.functions.html import (
        clean_and_extract,
        extract_text,
    )

    frag = st.one_of(
        st.just("<p>wort</p>"),
        st.just("<div>"),
        st.just("</div>"),
        st.just('<a href="/x">l</a>'),
        st.just("<script>var x = 1;</script>"),
        st.just("<style>.c{}</style>"),
        st.just("<script>bad </ inside</script>"),
        st.just("&amp;"),
        st.just("<br>"),
        st.just("<B>U</B>"),
        st.just("text stück "),
        st.just("<!-- c -->"),
        st.text(alphabet="ab<>/\"'&= \n", max_size=10),
    )

    @settings(max_examples=250, deadline=None)
    @given(st.lists(frag, max_size=7))
    def run(frags):
        h = "".join(frags)
        c, t = clean_and_extract(h)
        expected_clean = clean_html(h)
        assert c == expected_clean, repr(h)
        assert t == extract_text(expected_clean), repr(h)

    run()
