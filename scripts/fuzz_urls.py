#!/usr/bin/env python
"""High-budget differential fuzz of the URL fast paths (VERDICT r3 item #3).

Both fast-path bugs ever found (';' in r3, interior '\\t' at r3 judging)
came out of the hypothesis differential in tests/test_functions_urls.py at
max_examples=400. This script is the dedicated high-budget pass: it runs the
same byte-identity properties at >=50k examples per property with targeted
strategies for the known-dangerous character classes:

- C0 control characters (urlsplit strips \\t/\\n/\\r anywhere; leading
  controls are stripped by WHATWG but NOT by str.strip() for non-space C0);
- backslash (WHATWG treats '\\' as '/' for special schemes; urllib doesn't);
- percent sequences (valid, truncated, non-hex — quote() must preserve
  existing escapes byte-for-byte);
- unicode hosts / umlauts (IDNA-adjacent inputs, NBSP, full-width chars);
- the ';' params split and '/.' dot-segment edges already pinned;
- '[' / ']' (IPv6-literal hosts must keep their brackets, P3).

Properties checked:
  P1  join_url_fast(base, h, origin) == join_url(base, h)   (byte identity)
  P2  is_canonical_fast(u)  =>  canonicalize_url(u) == u    (never lies)
  P3  canonicalize_url is idempotent: c(c(x)) == c(x) whenever c(x) is not
      None (the canonical form must be a fixed point — dedup keys depend
      on it).

Any counterexample is printed in repr() form, ready to be promoted into the
table-driven cases in tests/test_functions_urls.py. Exit code 1 on any find.

Usage:
    python scripts/fuzz_urls.py [--examples 50000] [--seed 0]

The pytest suite keeps its fast 400-example differential; this script is the
raised-budget gate, run per-round (not per-test-invocation) because 150k+
urllib round trips take a few minutes.
"""
from __future__ import annotations

import argparse
import sys

from hypothesis import HealthCheck, given, seed as hyp_seed, settings
from hypothesis import strategies as st

sys.path.insert(0, ".")

from crawler_german_localpoliticans_spark.functions.urls import (  # noqa: E402
    canonicalize_url,
    is_canonical_fast,
    join_url,
    join_url_fast,
    url_origin,
)

# URL-ish alphabet + every dangerous class the verdict names.
ALPHABET = (
    "abzAZ09./:?#%&=_-~!$'()*+,;@ "
    "\t\n\r\x00\x01\x0b\x0c\x7f"      # C0 controls + DEL
    "\\"                               # WHATWG slash-alias
    "[]"                               # IPv6-literal brackets
    "\xe4\xdf\xa0　ａ"         # umlaut, eszett, NBSP, ideo. space, full-width a
)

href_st = st.one_of(
    st.text(alphabet=ALPHABET, max_size=32),
    # structured: a prefix that forces each classification branch + noise
    st.builds(
        lambda p, s: p + s,
        st.sampled_from(
            ["", "/", "//", "///", "http://", "https://", "HTTP://", "\\",
             "/\t", "//\t", "\t//", "%", "%2", "%2f", "%zz", "?", "#", "../",
             "./", ";", "/;"]
        ),
        st.text(alphabet=ALPHABET, max_size=24),
    ),
)

base_st = st.one_of(
    st.just("https://host1.beispiel.de/seite/3"),
    st.just("http://a.de/x/y?q=1"),
    st.builds(lambda p: "http://a.de/" + p, st.text(alphabet="ab0/.-%\\", max_size=12)),
    st.text(alphabet=ALPHABET, max_size=24),  # garbage bases too
)

url_st = st.one_of(
    st.builds(
        lambda scheme, host, path: scheme + host + path,
        st.sampled_from(["http://", "https://", "HTTPS://", "ftp://", ""]),
        st.one_of(
            st.text(alphabet="ab0.-:@\xe4\xa0[]", max_size=12),
            st.builds(lambda h: f"[{h}]", st.text(alphabet="0a:.", max_size=8)),  # IPv6-ish
        ),
        st.text(alphabet=ALPHABET, max_size=24),
    ),
    st.text(alphabet=ALPHABET, max_size=40),
)

FAILURES: list[tuple] = []


def _record(tag, *parts):
    FAILURES.append((tag, parts))
    print(f"FAIL {tag}: " + " ".join(repr(p) for p in parts))


def run(examples: int, seed_val: int) -> int:
    common = settings(
        max_examples=examples,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much,
                               HealthCheck.data_too_large],
        print_blob=False,
    )

    @common
    @hyp_seed(seed_val)
    @given(base=base_st, href=href_st)
    def p1_join_identity(base, href):
        h = href.strip()
        origin = url_origin(base)
        try:
            slow = join_url(base, h)
        except Exception as e:
            slow = ("raised", type(e).__name__)
        try:
            fast = join_url_fast(base, h, origin)
        except Exception as e:
            fast = ("raised", type(e).__name__)
        if fast != slow:
            _record("P1 join_url_fast != join_url", base, href, fast, slow)

    @common
    @hyp_seed(seed_val + 1)
    @given(u=url_st)
    def p2_canonical_never_lies(u):
        if is_canonical_fast(u):
            c = canonicalize_url(u)
            if c != u:
                _record("P2 is_canonical_fast lied", u, c)

    @common
    @hyp_seed(seed_val + 2)
    @given(u=url_st)
    def p3_canonical_idempotent(u):
        try:
            c = canonicalize_url(u)
        except Exception as e:
            _record("P3 canonicalize raised", u, type(e).__name__)
            return
        if c is None:
            return
        try:
            c2 = canonicalize_url(c)
        except Exception as e:
            _record("P3 canonicalize(c) raised", u, c, type(e).__name__)
            return
        if c2 != c:
            _record("P3 not idempotent", u, c, c2)

    for name, prop in [
        ("P1 join identity", p1_join_identity),
        ("P2 is_canonical_fast conservative", p2_canonical_never_lies),
        ("P3 canonicalize idempotent", p3_canonical_idempotent),
    ]:
        print(f"running {name} @ {examples} examples ...", flush=True)
        prop()

    if FAILURES:
        print(f"\n{len(FAILURES)} divergence(s) found — promote to table-driven cases")
        return 1
    print(f"\nOK: 3 properties x {examples} examples, zero divergences")
    return 0


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--examples", type=int, default=50_000)
    ap.add_argument("--seed", type=int, default=0)
    a = ap.parse_args()
    sys.exit(run(a.examples, a.seed))
