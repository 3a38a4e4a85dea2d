"""Frozen golden bytes for the extraction contract.

The clean_html/extract_text semantics ARE the reference contract for
byte-identical extracted text (SURVEY.md §7: the Julia/Gumbo byte output is
not reproducible cross-runtime, so this Python implementation is the fixed
golden). These literals pin the contract: any accidental semantic drift in
the implementation fails here even though engine-vs-oracle comparisons
(which share the code) would still pass."""

from __future__ import annotations

import pytest

from crawler_german_localpoliticans_spark.functions.html import extract_text
from html_reference import clean_html

GOLDEN = [
    (
        "<html><head><title>Rat</title><script>var a=1;</script></head>"
        "<body><h1>Sitzung</h1><p>Beschluss &amp; Protokoll</p></body></html>",
        "<html><head><title>Rat</title></head><body><h1>Sitzung</h1>"
        "<p>Beschluss &amp; Protokoll</p></body></html>",
        "Rat Sitzung Beschluss & Protokoll",
    ),
    (
        # unclosed tags: recovery closes at EOF, li nesting per the tolerant
        # builder's fixed rules
        "<div><p>Offen<ul><li>Eins<li>Zwei</div>",
        "<div><p>Offen<ul><li>Eins<li>Zwei</li></li></ul></p></div>",
        "Offen Eins Zwei",
    ),
    (
        # script subtree dropped even with markup-looking rawtext content;
        # attribute requoted with double quotes; inline <a> does NOT break words
        "<body><script src='x.js'><div>inner</div></script><a href='/a'>A</a>üß</body>",
        '<body><a href="/a">A</a>üß</body>',
        "Aüß",
    ),
    (
        # non-HTML input passes through
        "kein html nur text",
        "kein html nur text",
        "kein html nur text",
    ),
    (
        # whitespace collapse + block-boundary word breaks + tag lowercasing
        "<p>a  b\n\nc</p><script>s</script><P>D</P>",
        "<p>a  b\n\nc</p><p>D</p>",
        "a b c D",
    ),
]


@pytest.mark.parametrize("raw,expected_clean,expected_text", GOLDEN)
def test_golden_bytes(raw, expected_clean, expected_text):
    cleaned = clean_html(raw)
    assert cleaned == expected_clean
    assert extract_text(cleaned) == expected_text
