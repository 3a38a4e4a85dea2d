"""URL canonicalization, resolution and derived keys.

Reimplements the semantics of the reference's URL handling
(reference: src/main.rs:429-440 `normalize_url`, :441-444 `is_http_scheme`,
:124-131 `host_key`, :900 `current_url.join(href.trim())`,
src/bin/seeder.rs:55-58 seed fragment-strip) on top of `urllib.parse`.

The Rust `url` crate normalizes at parse time (lowercased scheme/host,
default-port removal, dot-segment removal, `/` path for empty paths on
special schemes); the reference's `normalize_url` then strips the fragment.
We fold both into one canonical form here. This Python implementation is the
*golden* definition for the rebuilt engine (SURVEY.md §7 "Hard parts"): the
engine, the oracle, and every dedup/ordering hash derive from it.
"""

from __future__ import annotations

import re as _re
from urllib.parse import quote, urljoin, urlsplit, urlunsplit

# Characters the `url` crate leaves un-encoded in path / query components.
# Existing percent-escapes are preserved ('%' is in the safe set).
_PATH_SAFE = "/%!$&'()*+,;=:@~.-_"
_QUERY_SAFE = "/%!$&'()*+,;=:@~.-_?"

_DEFAULT_PORTS = {"http": 80, "https": 443, "ws": 80, "wss": 443, "ftp": 21}
# a bracketed host with an optional port: the only authority brackets may take
_IP_LITERAL_RE = _re.compile(r"\[[^\]]*\](:[0-9]*)?")


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 — the `url` crate applies this at parse time.

    A trailing '.' / '..' segment ALWAYS contributes a trailing empty
    segment (the buffer algorithm replaces the final '/.' with '/'), even
    when the output already ends with one: '/ba///.' -> '/ba///', not
    '/ba//'. The old conditional append dropped that empty segment, which
    made the fast root-relative join path diverge from urljoin (whose own
    dot removal is RFC-faithful here) — found by the 150k fresh-seed fuzz
    (scripts/fuzz_urls.py P1), pinned in tests/test_functions_urls.py."""
    if not path:
        return path
    output: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if len(output) > 1:
                output.pop()
            continue
        output.append(seg)
    # trailing "." / ".." imply a trailing slash
    if path.endswith(("/.", "/..")):
        output.append("")
    result = "/".join(output)
    if path.startswith("/") and not result.startswith("/"):
        result = "/" + result
    return result


def canonicalize_url(raw: str, *, keep_fragment: bool = False) -> str | None:
    """Parse + normalize a URL to its canonical string form.

    Returns None for unparsable/relative inputs (the reference silently skips
    those, src/main.rs:639-642, :899-906). Semantics:

    - scheme and host lowercased
    - default port removed (http:80 / https:443)
    - fragment removed (unless keep_fragment, used by the seed path which
      per src/bin/seeder.rs:57 strips *only* the fragment — the remaining
      normalization is the parse-time normalization, identical to this)
    - empty path -> "/" for http(s)
    - dot segments removed
    - percent-encoding of path/query characters outside the safe set,
      preserving existing escapes
    """
    if raw is None:
        return None
    s = raw.strip()
    if not s:
        return None
    try:
        parts = urlsplit(s)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if not scheme:
        return None
    if scheme in ("http", "https") and not parts.netloc:
        return None
    try:
        host = parts.hostname
        port = parts.port
    except ValueError:
        return None
    netloc = ""
    if parts.netloc:
        if host is None:
            return None
        # Forbidden-host guard (WHATWG "forbidden host code point" subset;
        # the Rust `url` crate rejects these at parse, so the reference
        # drops such links): whitespace or control characters inside a
        # hostname. Besides spec fidelity this is what makes the canonical
        # form a FIXED POINT — a host ending in strippable whitespace with
        # an empty path would put that whitespace at the END of the output
        # string, where a second canonicalize's entry strip() would eat it
        # (50k-example fuzz find, scripts/fuzz_urls.py P3; pinned in
        # tests/test_functions_urls.py).
        if any(c.isspace() or ord(c) < 0x21 or ord(c) == 0x7F for c in host):
            return None
        # Brackets count only around a whole IPv6 literal: urlsplit reads
        # past text beside one ('x[::1]y') and past a '[' in the dropped
        # userinfo, so those outputs would parse to another host or not at
        # all (fuzz finds, P3).
        hostinfo = parts.netloc.rpartition("@")[2]
        if ("[" in hostinfo or "]" in hostinfo) and not _IP_LITERAL_RE.fullmatch(hostinfo):
            return None
        netloc = _host_of(parts)
        if port is not None and port != _DEFAULT_PORTS.get(scheme):
            netloc = f"{netloc}:{port}"
    path = _remove_dot_segments(parts.path)
    if scheme in ("http", "https") and not path:
        path = "/"
    path = quote(path, safe=_PATH_SAFE)
    # Authority-less URL whose path starts with '//' ('ftp:////A' parses as
    # netloc='', path='//A'): urlunsplit emits 'ftp://A', which RE-PARSES
    # with the path as the authority — no canonical fixed point exists, so
    # reject (the url crate errors on these too: empty host). Fuzz find,
    # scripts/fuzz_urls.py P3; pinned in tests/test_functions_urls.py.
    if not netloc and path.startswith("//"):
        return None
    query = quote(parts.query, safe=_QUERY_SAFE)
    fragment = quote(parts.fragment, safe=_QUERY_SAFE) if keep_fragment and parts.fragment else ""
    return urlunsplit((scheme, netloc, path, query, fragment))


def join_url(base: str, href: str) -> str | None:
    """RFC 3986 resolution of an href against its page URL, then canonical.

    Mirrors `current_url.join(href.trim())` + `normalize_url`
    (reference: src/main.rs:899-905).

    CONTRACT QUIRK (pinned in tests/test_functions_urls.py::
    test_join_url_golden_contract_quirks_vs_whatwg): the golden contract is
    urllib's RFC 3986 resolution, NOT the WHATWG URL Standard the Rust
    `url` crate implements. They agree on every href class observed in real
    markup (absolute, protocol-relative with a host, root-relative,
    relative, dot segments, query/fragment) but diverge on three
    structurally-degenerate classes:

    - all-slash network-path refs: `'//'` → urllib returns the BASE (we
      emit it); the `url` crate raises EmptyHost → the reference DROPS the
      link (src/main.rs:900-903);
    - extra-slash authority: `'///x'` → urllib keeps the base authority
      (`https://base-host/x`); WHATWG ignores repeated slashes and reads
      `x` as the HOST (`https://x/`);
    - backslashes: WHATWG treats `'\\'` like `'/'` for special schemes
      (`'\\a'` resolves root-relative); urllib treats it as a path
      character (percent-encoded into the current directory).

    We keep urllib as golden because every driver oracle, dedup hash and
    ordering key already derives from it, the divergent classes do not
    occur in the corpus or in well-formed markup, and a partial WHATWG
    emulation would risk silent divergence in less degenerate cases. This
    is a documented deviation, in the same spirit as the robots crawl-delay
    saturating-cast quirk (functions/robots.py).
    """
    if href is None:
        return None
    href = href.strip()
    try:
        joined = urljoin(base, href)
    except ValueError:
        return None
    return canonicalize_url(joined)


# ---------------------------------------------------------------------------
# fast paths for the hot link pipeline (page_found_links): byte-identical to
# join_url/canonicalize_url by construction, differential-tested (pytest +
# hypothesis, tests/test_functions_urls.py). The slow urllib forms above stay
# the GOLDEN definitions; these only skip the round trip when a conservative
# recognizer proves the result verbatim.
# ---------------------------------------------------------------------------

# already-canonical recognizer: lowercase http(s), lowercase host (no port,
# no userinfo), non-empty path whose chars quote() provably keeps (ALPHA /
# DIGIT / '_.-~' plus _PATH_SAFE), no query/fragment. "/." excluded
# conservatively (covers '/./', '/../', trailing '/.'— and harmlessly
# declines '/.hidden', which the slow path handles).
_CANONICAL_FAST_RE = _re.compile(
    r"https?://[a-z0-9.-]+(/[A-Za-z0-9/%!$&'()*+,;=:@~._-]*)\Z"
)
# origin (scheme://host) of an already-canonical page URL
_ORIGIN_RE = _re.compile(r"(https?://[a-z0-9.-]+)(?=/)")

# href characters that change meaning somewhere inside urllib's resolution
# round trip — any match declines join_url_fast to the golden slow path:
#   ';'        urlparse's params split drops a trailing ';' ('/a;' -> '/a')
#   \s         (unicode-wide) urlsplit strips \t/\n/\r anywhere BEFORE
#              classifying; any OTHER whitespace becomes string-trailing when
#              urljoin drops an empty '?'/'#' marker ('/x\f#' joins to
#              '.../x\f', whose trailing \f canonicalize's entry strip()
#              eats — the concat fast path still sees the '#' and keeps it;
#              50k-fuzz find, scripts/fuzz_urls.py P1)
#   C0 / DEL   remaining control chars, same stripping hazards
_UNSAFE_HREF_RE = _re.compile(r"[;\s\x00-\x20\x7f]")


def is_canonical_fast(u: str) -> bool:
    """True ONLY IF canonicalize_url(u) == u (conservative: may return False
    for canonical inputs, never True for non-canonical ones)."""
    m = _CANONICAL_FAST_RE.match(u)
    return bool(m) and "/." not in m.group(1)


def url_origin(url: str) -> str | None:
    """scheme://host prefix of a canonical http(s) URL (None when the URL
    isn't in canonical shape — callers fall back to the slow path)."""
    m = _ORIGIN_RE.match(url or "")
    return m.group(1) if m else None


def join_url_fast(base: str, href_stripped: str, origin: str | None) -> str | None:
    """join_url with two provable shortcuts (href must be pre-stripped):

    - an absolute http(s) href that is already canonical IS the result
      (urljoin returns an absolute href verbatim; canonicalize is identity);
    - a root-relative href resolves as origin + href (RFC 3986 keeps the
      base authority and replaces the path — urljoin(base, '/x?q') ==
      scheme://netloc + '/x?q' exactly), canonicalized — skipping the
      canonicalization too when the concatenation is already canonical.

    Everything else (protocol-relative '//', dotted/relative paths, schemes,
    empty hrefs) takes the golden slow path — as does any href containing a
    character urllib treats non-literally somewhere in its round trip
    (see _UNSAFE_HREF_RE above; all three classes were found by the
    hypothesis differential / the 50k-example fuzz in scripts/fuzz_urls.py
    and are pinned in tests/test_functions_urls.py):

    - ';' anywhere: urlparse's params split DROPS a trailing ';' with empty
      params ('/a;' -> '/a');
    - '\\t'/'\\n'/'\\r' anywhere: urlsplit strips them BEFORE classifying
      (bpo-43882, matching WHATWG), so '/\\t/' is the scheme-relative '//'
      to the golden path while raw-string classification would call it
      root-relative and emit origin + '//';
    - any other whitespace or C0/DEL control: urljoin drops an empty
      trailing '?'/'#', which can expose the whitespace to canonicalize's
      entry strip() on the golden path only ('/x\\f#' -> golden '.../',
      fast '.../%0C').

    str.strip() pre-stripping only removes these at the ENDS, so interior
    occurrences survive to this check. Real-markup hot hrefs contain none
    of them, and the per-batch memo makes the slow path near-free, so the
    conservative decline costs nothing measurable.

    Dot-SEGMENT hrefs (any '/.' substring) also decline: CPython's urljoin
    resolution algorithm deviates from RFC 3986 §5.2.4 when '.'/'..'
    segments sit next to EMPTY segments ('/..//b' resolves to '/b' in
    urljoin but '//b' under the RFC buffer algorithm canonicalize_url
    implements), so "concat + canonicalize" provably differs from
    "urljoin + canonicalize" on that class (150k fresh-seed fuzz finds,
    scripts/fuzz_urls.py P1). canonicalize_url itself stays RFC-faithful —
    the url crate applies RFC removal at parse time — the quirk belongs to
    the urljoin-based golden JOIN only."""
    if _UNSAFE_HREF_RE.search(href_stripped) is not None or "/." in href_stripped:
        return join_url(base, href_stripped)
    if href_stripped.startswith(("http://", "https://")):
        if is_canonical_fast(href_stripped):
            return href_stripped
        return join_url(base, href_stripped)
    if origin is not None and href_stripped.startswith("/") and not href_stripped.startswith("//"):
        candidate = origin + href_stripped
        if is_canonical_fast(candidate):
            return candidate
        return canonicalize_url(candidate)
    return join_url(base, href_stripped)


def is_http_scheme(url: str) -> bool:
    """reference: src/main.rs:441-444."""
    return url.startswith("http://") or url.startswith("https://")


def _host_of(parts) -> str:
    """Lowercased hostname; an IPv6 literal keeps its brackets, as the `url`
    crate serializes it ('http://::1:8080/' would parse to no host)."""
    host = (parts.hostname or "").lower()
    if parts.netloc.rpartition("@")[2].startswith("["):
        host = f"[{host}]"
    return host


def url_path(url: str) -> str:
    """Path component used for robots longest-prefix matching
    (reference: src/main.rs:684 `current_url.path()`)."""
    try:
        return urlsplit(url).path or "/"
    except ValueError:
        return "/"


def host_key(url: str) -> str:
    """`scheme://host[:port]` robots-cache key (reference: src/main.rs:124-131).

    On a canonical URL the port survives only when non-default, matching the
    Rust side where `url.port()` is None for scheme-default ports.
    """
    try:
        parts = urlsplit(url)
        host = _host_of(parts)
        port = parts.port
    except ValueError:
        return ""
    scheme = parts.scheme.lower()
    suffix = f":{port}" if port is not None and port != _DEFAULT_PORTS.get(scheme) else ""
    return f"{scheme}://{host}{suffix}"


def safe_filename_from_url(url: str) -> str:
    """HTML blob filename (reference: src/main.rs:465-498).

    host + '_' + path [+ '_' + query]; chars outside [A-Za-z0-9.-] -> '_';
    collapse '__' runs; strip leading/trailing '_'; truncate to 150 chars;
    empty -> 'index'.
    """
    try:
        parts = urlsplit(url)
        host = parts.hostname or ""
    except ValueError:
        parts = None
        host = ""
    s = host + "_"
    if parts is not None:
        s += parts.path
        if parts.query:
            s += "_" + parts.query
    out = "".join(ch if (ch.isascii() and ch.isalnum()) or ch in "-." else "_" for ch in s)
    while "__" in out:
        out = out.replace("__", "_")
    out = out.strip("_")[:150]
    return out or "index"


def derive_custom_id(source_key: str) -> str:
    """LLM-batch custom id (reference: julia_container/clean_html_docker.jl:488-495).

    basename of the key (whole key when basename empty); non [0-9A-Za-z_.-]
    -> '_'; strip '_'; empty -> 'file'; prefixed 'request_'.
    """
    import re

    filename = source_key.rsplit("/", 1)[-1]
    candidate = filename if filename else source_key
    sanitized = re.sub(r"[^0-9A-Za-z_.-]", "_", candidate).strip("_")
    if not sanitized:
        sanitized = "file"
    return "request_" + sanitized


def normalize_url_ingest(raw_url: str) -> tuple[str, dict]:
    """C2 — the INGEST-path URL normalizer, distinct from the crawl-path
    canonicalize_url (C1). Faithful to the reference
    (python_container/crawler_ingest.py:143-172), which uses stdlib
    urlparse/urlunparse — so does this, quirks included:

    - raises ValueError when scheme or netloc is missing (the reference
      skips such ledger rows);
    - scheme lowercased; host is `urlparse().hostname` (lowercased, userinfo
      DROPPED, IPv6 brackets stripped by stdlib — re-added by urlunparse
      netloc assembly only via the plain host string);
    - default ports stripped for http/https only; other schemes keep theirs;
    - path defaults to '/'; params (the `;segment` part) and fragment are
      DROPPED; query is kept verbatim (unlike C1, which strips nothing from
      the query but re-encodes components);
    - returns (normalized, parts) where parts carries scheme/host/port/
      path/query — the reference URL ledger's relational columns
      (crawler_ingest.py:189-241);
    - QUIRK (reference-faithful, crawler_ingest.py:159-161 `if port:`): an
      explicit `:0` port is truthy-falsy, so it is dropped from the
      normalized KEY while parts['port'] still reports 0 — `http://a.de:0/x`
      shares a ledger key with `http://a.de/x`. Preserved because the
      normalized string is the reference's UNIQUE column; diverging here
      would split ledger rows the reference merges.
    """
    from urllib.parse import urlparse, urlunparse

    parsed = urlparse(raw_url)
    if not parsed.scheme or not parsed.netloc:
        raise ValueError(f"URL missing scheme or host: {raw_url}")

    scheme = parsed.scheme.lower()
    host = parsed.hostname.lower() if parsed.hostname else None
    port = parsed.port

    if scheme in {"http", "https"}:
        if (scheme == "http" and (port is None or port == 80)) or (
            scheme == "https" and (port is None or port == 443)
        ):
            port = None

    netloc = host or ""
    if port:
        netloc = f"{netloc}:{port}"

    path = parsed.path or "/"
    query = parsed.query or ""

    normalized = urlunparse((scheme, netloc, path, "", query, ""))
    return normalized, {
        "scheme": scheme,
        "host": host,
        "port": port,
        "path": path,
        "query": query,
    }
