"""Reference form of the HTML clean step, kept for parity tests only.

The engine cleans and extracts in one pass (`html.clean_and_extract`, one DOM
build per page). `clean_html` below is the same clean as one function: parse,
drop every <script> subtree, re-serialize, input verbatim on a parse error.
The tests pin the engine's `clean_html` column and the zero-parse fast path
against it.
"""

from __future__ import annotations

from crawler_german_localpoliticans_spark.functions.html import _drop_tag, _parse, _serialize


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
