"""Table-driven parity tests for URL canonicalization, derived keys and the
keyword gate (reference semantics: src/main.rs:429-498, src/bin/seeder.rs:55-58,
julia_container/clean_html_docker.jl:488-495)."""

from __future__ import annotations

import pytest

from crawler_german_localpoliticans_spark.functions.keywords import (
    DEFAULT_KEYWORDS,
    matches_keywords,
)
from crawler_german_localpoliticans_spark.functions.urls import (
    canonicalize_url,
    derive_custom_id,
    host_key,
    is_http_scheme,
    join_url,
    safe_filename_from_url,
    url_path,
)
from url_reference import url_host


@pytest.mark.parametrize(
    "raw,expected",
    [
        # fragment dropped (src/main.rs:431)
        ("https://example.de/a#frag", "https://example.de/a"),
        # default ports dropped (src/main.rs:432-435)
        ("http://example.de:80/a", "http://example.de/a"),
        ("https://example.de:443/a", "https://example.de/a"),
        ("https://example.de:8443/a", "https://example.de:8443/a"),
        # empty path -> "/" (src/main.rs:437-439)
        ("https://example.de", "https://example.de/"),
        ("https://example.de?q=1", "https://example.de/?q=1"),
        # host lowercased, scheme lowercased (url crate parse normalization)
        ("HTTPS://EXAMPLE.DE/Pfad", "https://example.de/Pfad"),
        # query preserved verbatim
        ("https://example.de/a?b=1&c=2", "https://example.de/a?b=1&c=2"),
        # dot segments removed
        ("https://example.de/a/../b/./c", "https://example.de/b/c"),
        ("https://example.de/a/b/..", "https://example.de/a/"),
        # spaces percent-encoded, existing escapes preserved
        ("https://example.de/a b", "https://example.de/a%20b"),
        ("https://example.de/a%20b", "https://example.de/a%20b"),
        # non-http schemes parse but keep their shape
        ("mailto:rat@example.de", "mailto:rat@example.de"),
    ],
)
def test_canonicalize(raw, expected):
    assert canonicalize_url(raw) == expected


@pytest.mark.parametrize("raw", ["", "   ", "http://", "https://"])
def test_canonicalize_invalid(raw):
    assert canonicalize_url(raw) is None


def test_canonicalize_keep_fragment_seed_path():
    # seeder strips only the fragment (seeder.rs:57); parse normalization
    # still applies, so the seed path is the canonical form
    assert canonicalize_url("https://Example.DE:443/a#x") == "https://example.de/a"


@pytest.mark.parametrize(
    "base,href,expected",
    [
        ("https://h.de/a/b", "c", "https://h.de/a/c"),
        ("https://h.de/a/b", "/c", "https://h.de/c"),
        ("https://h.de/a/b", "../c", "https://h.de/c"),
        ("https://h.de/a/b", "  ../c  ", "https://h.de/c"),  # trim, src/main.rs:900
        ("https://h.de/a/b", "https://other.de/x#f", "https://other.de/x"),
        ("https://h.de/a/b", "//cdn.de/x", "https://cdn.de/x"),
        ("https://h.de/a/b", "?q=2", "https://h.de/a/b?q=2"),
        ("https://h.de/a/b", "mailto:x@y.de", "mailto:x@y.de"),
    ],
)
def test_join(base, href, expected):
    assert join_url(base, href) == expected


def test_scheme_filter():
    assert is_http_scheme("https://a.de/")
    assert is_http_scheme("http://a.de/")
    assert not is_http_scheme("mailto:x@y.de")
    assert not is_http_scheme("javascript:void(0)")
    assert not is_http_scheme("ftp://a.de/")


@pytest.mark.parametrize(
    "url,expected",
    [
        ("https://a.de/x", "https://a.de"),
        ("https://a.de:8443/x", "https://a.de:8443"),
        ("https://a.de:443/x", "https://a.de"),  # default port gone, main.rs:124-131
        ("http://a.de:80/x", "http://a.de"),
    ],
)
def test_host_key(url, expected):
    assert host_key(url) == expected


def test_url_path():
    assert url_path("https://a.de/x/y?q=1") == "/x/y"
    assert url_path("https://a.de") == "/"


@pytest.mark.parametrize(
    "url,expected",
    [
        # host + '_' + path, specials -> '_', collapse, strip (src/main.rs:465-498)
        ("https://a.de/x/y", "a.de_x_y"),
        ("https://a.de/", "a.de"),
        ("https://a.de/x?b=1&c=2", "a.de_x_b_1_c_2"),
        ("https://a.de/äöü", "a.de"),  # non-ascii -> '_' -> collapsed/stripped
        ("https://a.de/x__y", "a.de_x_y"),
    ],
)
def test_safe_filename(url, expected):
    assert safe_filename_from_url(url) == expected


def test_safe_filename_truncate_and_empty():
    long = "https://a.de/" + "x" * 300
    assert len(safe_filename_from_url(long)) == 150
    assert safe_filename_from_url("https:///") == "index"


@pytest.mark.parametrize(
    "key,expected",
    [
        ("crawl-html/a.de_x.html", "request_a.de_x.html"),
        ("a b/c d.html", "request_c_d.html"),
        ("dir/", "request_dir"),  # empty basename -> whole key sanitized
        ("___", "request_file"),
    ],
)
def test_derive_custom_id(key, expected):
    assert derive_custom_id(key) == expected


def test_normalize_url_ingest_reference_parity():
    """C2 (crawler_ingest.py:143-172): stdlib urlparse semantics, quirks
    included — userinfo dropped, default ports stripped for http/https only,
    path-segment params and fragment dropped, query kept, '/' default path,
    ValueError on missing scheme/host."""
    import pytest

    from crawler_german_localpoliticans_spark.functions.urls import normalize_url_ingest

    n, p = normalize_url_ingest("HTTP://User:Pw@Host.Example.DE:80/pfad/x;params?q=1#frag")
    assert n == "http://host.example.de/pfad/x?q=1"
    assert p == {"scheme": "http", "host": "host.example.de", "port": None,
                 "path": "/pfad/x", "query": "q=1"}

    n, p = normalize_url_ingest("HTTPS://a.de:8443")
    assert n == "https://a.de:8443/"
    assert p["port"] == 8443 and p["path"] == "/" and p["query"] == ""

    # https default port stripped; http non-default kept
    assert normalize_url_ingest("https://a.de:443/x")[0] == "https://a.de/x"
    assert normalize_url_ingest("http://a.de:8080/x")[1]["port"] == 8080
    # non-http(s) schemes keep their default-looking ports
    assert normalize_url_ingest("ftp://a.de:80/x")[1]["port"] == 80

    for bad in ("no-scheme.de/x", "http://", "mailto:x@y.de"):
        with pytest.raises(ValueError):
            normalize_url_ingest(bad)


def test_normalize_url_ingest_port_zero_quirk():
    """Reference-faithful quirk (crawler_ingest.py:159-161 `if port:`): an
    explicit :0 port drops out of the normalized ledger key but stays in the
    parts column — pinned so nobody 'fixes' one side and splits ledger rows
    the reference merges."""
    from crawler_german_localpoliticans_spark.functions.urls import normalize_url_ingest

    n, p = normalize_url_ingest("http://a.de:0/x")
    assert n == "http://a.de/x"  # same key as the portless URL
    assert p["port"] == 0
    assert normalize_url_ingest("http://a.de/x")[0] == n


# ------------------------------------------------------- link fast paths


def test_join_url_fast_differential_fixed_cases():
    """join_url_fast must be byte-identical to the golden join_url on every
    href shape: absolute (canonical and messy), root-relative (plain, query,
    fragment, dot segments, encoded, '//' protocol-relative), relative,
    empty, schemes."""
    from crawler_german_localpoliticans_spark.functions.urls import (
        canonicalize_url,
        is_canonical_fast,
        join_url,
        join_url_fast,
        url_origin,
    )

    bases = [
        "https://host0001.beispiel.de/seite/12",
        "http://a.de/x/y?q=1",
        "https://a.de/",
    ]
    hrefs = [
        "/seite/0", "/seite/7-rathaus", "/a/b/c", "/", "/x?y=1", "/x#frag",
        "/a/../b", "/a/./b", "/.hidden", "//other.de/x", "/x%20y", "/x y",
        "/UPPER/Case", "/tilde~ok", "/semi;colon",
        # urlparse's params split drops a trailing ';' with empty params —
        # these MUST take the slow path (hypothesis-found regression)
        "/;", "/a;", "/a;b", "/x/y;", "https://b.de/;", "https://b.de/a;",
        # urlsplit strips interior \t/\n/\r BEFORE classifying (bpo-43882):
        # '/\t/' is scheme-relative '//' to urllib, not root-relative —
        # these MUST take the slow path (hypothesis-found at r3 judging)
        "/\t/", "/\ta", "/a\tb", "/\n/", "/a\rb", "//\t/", "/\t\t/",
        "https://b.de/a\tb", "ht\ttps://b.de/x", "/seite\t/3",
        # urljoin drops an EMPTY trailing '?'/'#', exposing preceding
        # whitespace to canonicalize's entry strip() on the golden path
        # only — whitespace/control hrefs MUST take the slow path
        # (50k-fuzz find, scripts/fuzz_urls.py P1)
        "/\x0c#", "/!\xa0?", "/\\ #", "/a\x0b?", "/a #", "/a　#",
        "https://b.de/x\x0c#", "/x\x7fy",
        # a trailing '.' after EMPTY segments must leave a trailing empty
        # segment ('/ba///.' -> '/ba///'): _remove_dot_segments used to
        # drop it when the output already ended with '' (150k fresh-seed
        # fuzz find, scripts/fuzz_urls.py P1)
        "/ba///.", "/a//.", "/a//..", "/a///..", "//a//.", "/.//",
        "https://b.de/ba///.", "/a/.//b",
        # CPython urljoin deviates from RFC 3986 dot-removal when '..'
        # sits next to empty segments — all dot-segment hrefs decline
        "/..//b", "/..//b\\/a-\\.", "/.././/x", "/a/..//", "/../..",
        "https://b.de/abs", "HTTP://B.DE/Abs", "https://b.de:443/abs",
        "relative/path", "../up", "?just-query", "#just-frag", "",
        "mailto:x@y.de", "javascript:void(0)", "  /spaced  ",
        "/seite/0\n",
    ]
    for base in bases:
        origin = url_origin(base)
        for href in hrefs:
            h = href.strip()
            assert join_url_fast(base, h, origin) == join_url(base, h), (base, href)

    # is_canonical_fast never lies: True implies identity under canonicalize
    for u in [
        "https://a.de/x", "http://h.de/seite/0", "https://a.de/a//b",
        "https://a.de/x%20y", "http://a.de/x?q", "https://A.de/x",
        "https://a.de", "https://a.de/./x", "https://a.de/x#f",
    ]:
        if is_canonical_fast(u):
            assert canonicalize_url(u) == u, u


def test_join_url_fast_differential_hypothesis():
    """Randomized differential: for arbitrary (base, href) built from a URL-ish
    alphabet, the fast join equals the golden join byte-for-byte."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from crawler_german_localpoliticans_spark.functions.urls import (
        join_url,
        join_url_fast,
        url_origin,
    )

    alphabet = "abzAZ09./:?#%&=_-~!$'()*+,;@ \t\xe4 "
    href_st = st.text(alphabet=alphabet, max_size=24)
    base_st = st.one_of(
        st.just("https://host1.beispiel.de/seite/3"),
        st.builds(lambda p: "http://a.de/" + p, st.text(alphabet="ab0/.-", max_size=10)),
        st.text(alphabet=alphabet, max_size=20),  # garbage bases too
    )

    @settings(max_examples=400, deadline=None)
    @given(base=base_st, href=href_st)
    def run(base, href):
        h = href.strip()
        origin = url_origin(base)
        try:
            slow = join_url(base, h)
        except Exception as e:  # pragma: no cover - golden path raised
            slow = ("raised", type(e).__name__)
        try:
            fast = join_url_fast(base, h, origin)
        except Exception as e:
            fast = ("raised", type(e).__name__)
        assert fast == slow, (base, href)

    run()


def test_join_url_golden_contract_quirks_vs_whatwg():
    """Pin the documented golden-contract choice (urls.py join_url docstring):
    the golden resolution is urllib's RFC 3986, which diverges from the
    WHATWG URL Standard (the Rust `url` crate, reference src/main.rs:900-903)
    on three structurally-degenerate href classes. This test pins OUR
    behavior on each class so any silent drift is caught; the WHATWG-side
    behavior is recorded in the comments.
    """
    from crawler_german_localpoliticans_spark.functions.urls import join_url

    base = "https://host1.beispiel.de/seite/3"

    # 1. all-slash network-path refs: urllib resolves to the base (we emit
    #    it); the url crate raises EmptyHost and the reference drops the link.
    assert join_url(base, "//") == base
    assert join_url(base, "/\t/") == base        # urlsplit strips \t first
    assert join_url(base, "//\t") == base
    # query/fragment survive on the empty-authority form
    assert join_url(base, "//?q") == base + "?q"

    # 2. extra-slash authority: urllib keeps the base authority; WHATWG
    #    would ignore the repeated slashes and read 'x' as the host
    #    ('https://x/').
    assert join_url(base, "///x") == "https://host1.beispiel.de/x"

    # 3. backslash: urllib treats '\' as a path character (percent-encoded,
    #    relative to the current directory); WHATWG treats it like '/' for
    #    special schemes ('\\a' would resolve root-relative to
    #    'https://host1.beispiel.de/a').
    assert join_url(base, "\\a") == "https://host1.beispiel.de/seite/%5Ca"


def test_canonicalize_rejects_whitespace_control_hosts_and_is_idempotent():
    """Forbidden-host guard (urls.py canonicalize_url): hostnames containing
    whitespace or control characters are rejected (None), matching the url
    crate's forbidden-host-code-point parse errors — and making the
    canonical form a fixed point (a host ending in strippable whitespace
    with an empty path used to put that whitespace at the END of the
    output, where a second canonicalize's entry strip() ate it; 50k-fuzz
    find, scripts/fuzz_urls.py P3)."""
    from crawler_german_localpoliticans_spark.functions.urls import canonicalize_url

    for raw in [
        "ftp://9 :",            # host '9 ' -> trailing space in output pre-guard
        "ftp://a\x0bb",         # interior vertical tab in host (trailing
                                # whitespace is entry-stripped before parse)
        "ftp://\xa0.b",         # NBSP in host
        "http://a b.de/x",      # interior space, http
        "https://h\x7f.de/x",   # DEL in host
        "HTTP://[::%&@9\xdf]?",  # '[' in the dropped userinfo: host '9\xdf]'
        "http://:]-[::]-[:",      # text beside an IPv6 literal
        "http://[::1]x/",
        "http://[v1.x]/",            # IPvFuture: the url crate rejects it
        "http://[fe80::1%25eth0]/",  # zone id: likewise
    ]:
        assert canonicalize_url(raw) is None, raw

    # idempotence holds on everything canonicalize accepts
    for raw in [
        "https://Example.DE:443/a b/../c#f", "http://a.de", "ftp://a.de/x",
        "https://a.de/x%20y?q= 1", "mailto:x@y.de", "https://a.de/ä",
    ]:
        c = canonicalize_url(raw)
        if c is not None:
            assert canonicalize_url(c) == c, (raw, c)


def test_canonicalize_rejects_authorityless_double_slash_paths():
    """'ftp:////A' parses as netloc='' + path='//A'; urlunsplit would emit
    'ftp://A', whose re-parse promotes the path to the AUTHORITY — no
    canonical fixed point exists, so canonicalize_url returns None (the
    url crate errors on the empty host too). Fuzz find (P3)."""
    from crawler_german_localpoliticans_spark.functions.urls import canonicalize_url

    for raw in ["ftp:////A", "ftp:///\n/A", "foo:////x", "ftp://///"]:
        assert canonicalize_url(raw) is None, raw
    # single-slash authority-less paths still canonicalize (and stay fixed)
    c = canonicalize_url("ftp:///A")
    assert c == "ftp:///A" and canonicalize_url(c) == c


@pytest.mark.parametrize(
    "raw,canonical,key,host",
    [
        ("http://[::1]:8080/a", "http://[::1]:8080/a", "http://[::1]:8080", "[::1]"),
        ("HTTP://[::1]/", "http://[::1]/", "http://[::1]", "[::1]"),
        ("https://[2001:DB8::7]:443", "https://[2001:db8::7]/", "https://[2001:db8::7]", "[2001:db8::7]"),
        ("http://u:p@[::ffff:1.2.3.4]:80/x?q", "http://[::ffff:102:304]/x?q", "http://[::ffff:102:304]", "[::ffff:102:304]"),
        ("ftp://[fe80::1]:2121/f", "ftp://[fe80::1]:2121/f", "ftp://[fe80::1]:2121", "[fe80::1]"),
        ("http://[0:0::1]/", "http://[::1]/", "http://[::1]", "[::1]"),
        ("http://[00::1]/", "http://[::1]/", "http://[::1]", "[::1]"),
        ("https://[2001:0DB8:0000::0007]:8443", "https://[2001:db8::7]:8443/", "https://[2001:db8::7]:8443", "[2001:db8::7]"),
    ],
)
def test_canonicalize_keeps_ipv6_brackets(raw, canonical, key, host):
    """An IPv6 literal keeps its brackets and is compressed, as the url
    crate serializes it, so '[0:0::1]', '[00::1]' and '[::1]' share one
    host key and one dedup key. Without the brackets the output
    ('http://::1:8080/a') is no fixed point, and host_key / url_host of it
    read '', so every IPv6 host would share one robots policy and one
    politeness window."""
    assert canonicalize_url(raw) == canonical
    assert canonicalize_url(canonical) == canonical
    assert host_key(canonical) == key
    assert url_host(canonical) == host


def test_keyword_gate():
    assert matches_keywords("https://x.de/rathaus/kontakt", list(DEFAULT_KEYWORDS))
    assert matches_keywords("https://x.de/STADTRAT", list(DEFAULT_KEYWORDS))
    assert not matches_keywords("https://x.de/impressum", list(DEFAULT_KEYWORDS))
    assert not matches_keywords("https://x.de/rathaus", [])  # empty list gates off
    # ascii-only lowering: uppercase Ü in page does not match lowercase ü needle
    assert not matches_keywords("https://x.de/BÜRGERMEISTER", list(DEFAULT_KEYWORDS))
    assert matches_keywords("https://x.de/bürgermeister", list(DEFAULT_KEYWORDS))
    # whitespace-only keywords ignored (src/main.rs:452-460)
    assert not matches_keywords("https://x.de/a", ["  ", ""])
