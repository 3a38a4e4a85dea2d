"""Arrow-batched pandas UDFs wrapping the pure row semantics.

Per BASELINE.json input_hint: "vectorized pandas/Arrow UDFs (no per-row
Python) throughout" — every Python-side transform crosses the JVM boundary as
Arrow batches; nothing registers a row-at-a-time `F.udf`. Simple predicates
(keyword gate, scheme filter, depth cutoff) stay as Column expressions and
never reach Python at all (see `keyword_hit_col`).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .html import clean_and_extract
from .keywords import effective_keywords
from .urls import (
    canonicalize_url as _canonicalize,
    derive_custom_id as _custom_id,
    host_key as _host_key,
    normalize_url_ingest as _normalize_url_ingest,
    safe_filename_from_url as _safe_filename,
    url_host as _url_host,
    url_path as _url_path,
)


@pandas_udf(T.StringType())
def canonicalize_url(urls: pd.Series) -> pd.Series:
    """C1 — THE key function (src/main.rs:429-440 + url-crate parse); also
    the seed path's parse-normalize + fragment strip (seeder.rs:55-58)."""
    return urls.map(lambda u: _canonicalize(u) if u is not None else None)


@pandas_udf(T.StringType())
def url_host(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: _url_host(u) if u is not None else None)


@pandas_udf(T.StringType())
def url_path(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: _url_path(u) if u is not None else None)


@pandas_udf(T.StringType())
def host_key(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: _host_key(u) if u is not None else None)


@pandas_udf(T.StringType())
def safe_filename(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: _safe_filename(u) if u is not None else None)


@pandas_udf(T.StringType())
def custom_id_from_url(urls: pd.Series) -> pd.Series:
    """custom_id lineage: request_ + sanitize(basename(safe_filename + .html))
    (clean_html_docker.jl:488-495 over the S3 key from src/main.rs:529-530)."""
    return urls.map(
        lambda u: _custom_id(_safe_filename(u) + ".html") if u is not None else None
    )


@pandas_udf(T.ArrayType(T.StringType()))
def found_links(page_urls: pd.Series, htmls: pd.Series) -> pd.Series:
    """X1+X2: the full per-page link pipeline — extract a[href] in document
    order, trim+resolve against the page URL, http(s) filter, canonicalize,
    sorted-unique (src/main.rs:859-909). A per-batch memo dedupes the
    resolution of repeated hrefs (hot links recur on nearly every page)."""
    from ..plans.oracle import page_found_links

    cache: dict = {}
    return pd.Series(
        [page_found_links(u, h, cache) for u, h in zip(page_urls, htmls)]
    )


@pandas_udf(
    T.StructType(
        [
            T.StructField("clean_html", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
)
def clean_extract(htmls: pd.Series) -> pd.DataFrame:
    """X4 + text extraction: script-strip + visible-text, the byte-identity
    surface (clean_html_docker.jl:415-443; golden per SURVEY.md §7)."""
    cleaned, texts = [], []
    for h in htmls:
        c, t = clean_and_extract(h)
        cleaned.append(c)
        texts.append(t)
    return pd.DataFrame({"clean_html": cleaned, "text": texts})


@pandas_udf(
    T.StructType(
        [
            T.StructField("normalized", T.StringType()),
            T.StructField("scheme", T.StringType()),
            T.StructField("host", T.StringType()),
            T.StructField("port", T.IntegerType()),
            T.StructField("path", T.StringType()),
            T.StructField("query", T.StringType()),
        ]
    )
)
def normalize_ingest(urls: pd.Series) -> pd.DataFrame:
    """C2 (crawler_ingest.py:143-172) as an Arrow struct column: the
    normalized ledger key plus its relational parts. Invalid URLs (no
    scheme/host) yield a NULL normalized value — the reference raises and
    skips the row; callers filter on normalized IS NOT NULL."""
    cols = {"normalized": [], "scheme": [], "host": [], "port": [], "path": [], "query": []}
    for u in urls:
        try:
            normalized, parts = _normalize_url_ingest(u or "")
        except ValueError:
            cols["normalized"].append(None)
            for k in ("scheme", "host", "port", "path", "query"):
                cols[k].append(None)
            continue
        cols["normalized"].append(normalized)
        for k in ("scheme", "host", "path", "query"):
            cols[k].append(parts[k])
        cols["port"].append(parts["port"])
    return pd.DataFrame(cols)


def keyword_hit_col(url_col: Column, keywords: list[str] | tuple[str, ...], save_all: bool = False) -> Column:
    """F4 as a pure Column expression (whole-stage-codegen'd, no UDF).

    Canonical URLs are ASCII (non-ASCII is percent-encoded at
    canonicalization), so JVM `lower` equals the reference's
    ascii-lowercase on this domain (src/main.rs:446-462).
    """
    if save_all:
        return F.lit(True)
    needles = effective_keywords(list(keywords))
    if not needles:
        return F.lit(False)
    hay = F.lower(url_col)
    cond = F.lit(False)
    for n in needles:
        cond = cond | hay.contains(F.lit(n))
    return cond
