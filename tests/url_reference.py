"""Reference form of the host column, kept for parity tests only.

The engine takes a URL's host as a Column expression (`udfs.url_host_col`);
no product path needs it in Python. `url_host` below is the same host from
`urlsplit`, with the bracket rule `canonicalize_url` and `host_key` use.
"""

from __future__ import annotations

from urllib.parse import urlsplit

from crawler_german_localpoliticans_spark.functions.urls import _host_of


def url_host(url: str) -> str:
    """Lowercased hostname of a canonical URL ('' when absent)."""
    try:
        return _host_of(urlsplit(url))
    except ValueError:
        return ""
