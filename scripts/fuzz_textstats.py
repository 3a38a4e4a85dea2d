#!/usr/bin/env python
"""High-budget differential fuzz of the text-kernel fast paths (VERDICT r4
item #7 — extend the fuzz_urls/fuzz_html pattern, which found 5 real bug
classes in two rounds, to the remaining pure-Python kernels).

Targets and their references:

  P1  winnow_batch([t])[0]        == winnow_py(t)
      (vectorized prefix-hash + stride-view sliding min vs the plain
      per-window loop — exercises the utf-32 encode path, the short-doc /
      <=guard fallbacks, and the uint64 modular arithmetic)
  P2  window_hashes_batch([t])[0] == an in-script per-window rolling-hash
      loop (independent re-derivation of the 2^61-1 Rabin-Karp values, the
      same formula the DuckDB HUGEINT oracles use)
  P3  batching is invisible: winnow_batch(texts) == [winnow_batch([t])[0]
      for t in texts] on mixed-length batches (offsets/chunking in
      _rolling_hashes must not leak across documents; stresses
      the _FP_CHUNK chunked passes with size skew)
  P4  (--jvm) tokens_py == the LIVE JVM tokenizer tokens_col
      (F.split(F.trim(x), WS_CLASS + '+')) over one bulk DataFrame pass — the
      tokenizer contract every Python kernel and oracle depends on
      (ASCII-\\s, 0x20-only trim; see tokens_py docstring).

The alphabet concentrates on the classes where Python and JVM/numpy text
semantics are known to differ: C0 controls (\\x0b IS Java \\s but not RE2
\\s), NBSP / ideographic space (unicode-\\s in Python, not in Java),
astral-plane chars (utf-32 vs utf-16 code units), combining marks, and
long repetitive runs (winnow tie-dense windows, chunk boundaries).

Any counterexample prints in repr() form ready to promote into a pinned
test. Exit code 1 on any find.

Usage:
    python scripts/fuzz_textstats.py [--examples 50000] [--seed 0] [--jvm]
"""
from __future__ import annotations

import argparse
import random
import sys

from hypothesis import HealthCheck, given
from hypothesis import seed as hyp_seed
from hypothesis import settings
from hypothesis import strategies as st

sys.path.insert(0, ".")

from crawler_german_localpoliticans_spark.operators.dedup import tokens_py  # noqa: E402
from crawler_german_localpoliticans_spark.operators.textstats import (  # noqa: E402
    FP_BASE,
    FP_MOD,
    FP_WINDOW,
    window_hashes_batch,
    winnow_batch,
    winnow_py,
)

ALPHABET = (
    "ab x.09-"
    "\t\n\r\x0b\x0c\x00\x01\x7f"  # C0 controls (0x0b: Java-\s yes, RE2 no) + DEL
    "\xa0 　"            # NBSP, thin space, ideographic space
    "\xe4\xdf"                    # umlaut, eszett
    "́"                      # combining acute (zero-width on re-render)
    "\U0001f600\U00010348"        # astral: emoji + Gothic (utf-16 surrogates)
)

text_st = st.one_of(
    st.text(alphabet=ALPHABET, max_size=64),
    # window/guard boundary hunting: lengths right around FP_WINDOW (16)
    # and FP_WINDOW + FP_GUARD - 1 (19)
    st.text(alphabet=ALPHABET, min_size=12, max_size=22),
    # repetitive: tie-dense windows for the sliding min (capped at a few
    # hundred chars — the O(n*window) pure-Python references price every
    # char, and single fuzz texts cannot reach the 2^18 _FP_CHUNK boundary
    # anyway; chunk crossing is exercised by the corpus-scale tests)
    st.builds(
        lambda seg, n, tail: seg * n + tail,
        st.text(alphabet="ab \xa0", min_size=1, max_size=6),
        st.integers(min_value=2, max_value=60),
        st.text(alphabet=ALPHABET, max_size=8),
    ),
)

FAILURES: list[tuple] = []


def _record(tag, *parts):
    FAILURES.append((tag, parts))
    print(f"FAIL {tag}: " + " ".join(repr(p) for p in parts))


def _window_hashes_ref(text: str, window: int = FP_WINDOW) -> list[int]:
    """Independent per-window Rabin-Karp loop (no shared machinery with the
    kernel): hash(s) = fold of (acc * FP_BASE + ord(ch)) mod 2^61-1."""

    def h(s: str) -> int:
        acc = 0
        for ch in s:
            acc = (acc * FP_BASE + ord(ch)) % FP_MOD
        return acc

    n = len(text)
    if n == 0:
        return [0]
    if n < window:
        return [h(text)]
    return sorted({h(text[i : i + window]) for i in range(n - window + 1)})


def _settings(budget: int):
    return settings(
        max_examples=budget,
        deadline=None,
        suppress_health_check=[
            HealthCheck.too_slow,
            HealthCheck.filter_too_much,
            HealthCheck.data_too_large,
        ],
        print_blob=False,
    )


def run(examples: int, seed_val: int) -> int:
    # per-property budgets: P1's reference is O(n*guard) (cheap); P2's
    # per-window loop re-hashes every window from scratch (O(n*window));
    # P3 runs the kernels up to 9x per example — scale budgets so the
    # whole pass stays minutes, like fuzz_urls
    b1 = examples
    b2 = max(1000, examples // 2)
    b3 = max(500, examples // 5)

    @_settings(b1)
    @hyp_seed(seed_val)
    @given(t=text_st)
    def p1_winnow_parity(t):
        got = winnow_batch([t])[0]
        ref = winnow_py(t)
        if got != ref:
            _record("P1 winnow_batch != winnow_py", t, got, ref)

    @_settings(b2)
    @hyp_seed(seed_val + 1)
    @given(t=text_st)
    def p2_window_hash_parity(t):
        got = window_hashes_batch([t])[0]
        ref = _window_hashes_ref(t)
        if got != ref:
            _record("P2 window_hashes_batch != reference", t, got, ref)

    @_settings(b3)
    @hyp_seed(seed_val + 2)
    @given(ts=st.lists(text_st, min_size=2, max_size=8))
    def p3_batch_invisible(ts):
        got = winnow_batch(ts)
        ref = [winnow_batch([t])[0] for t in ts]
        if got != ref:
            _record("P3 winnow batching leaked across docs", ts, got, ref)
        got_w = window_hashes_batch(ts)
        ref_w = [window_hashes_batch([t])[0] for t in ts]
        if got_w != ref_w:
            _record("P3 window-hash batching leaked across docs", ts, got_w, ref_w)

    for name, prop, budget in [
        ("P1 winnow_batch == winnow_py", p1_winnow_parity, b1),
        ("P2 window_hashes_batch == per-window loop", p2_window_hash_parity, b2),
        ("P3 batching invisible", p3_batch_invisible, b3),
    ]:
        print(f"running {name} @ {budget} examples ...", flush=True)
        prop()
    return len(FAILURES)


def run_jvm(examples: int, seed_val: int) -> int:
    """tokens_py vs the live JVM tokenizer: one bulk DataFrame pass over
    `examples` adversarial strings (lone surrogates excluded — they cannot
    round-trip the Arrow utf-8 boundary and the ingest layer rejects
    non-UTF-8 input before tokenization)."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from crawler_german_localpoliticans_spark.operators.dedup import tokens_col

    rng = random.Random(seed_val)
    texts = []
    for _ in range(examples):
        k = rng.randrange(0, 48)
        texts.append("".join(rng.choice(ALPHABET) for _ in range(k)))
    # targeted edges: pure-whitespace runs, leading/trailing mixes
    texts += ["", " ", "  ", "\t", "\ta b\n", "\xa0a\xa0b", "\x0b\x0b", "a\x0bb",
              " \t a ", "　x　", "\f\r\n", "a" + " " * 30 + "b"]

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("fuzz-textstats-jvm")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    try:
        df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
        rows = df.select("i", tokens_col(F.col("t")).alias("toks")).collect()
        jvm = {r["i"]: list(r["toks"]) for r in rows}
        bad = 0
        for i, t in enumerate(texts):
            ref = tokens_py(t)
            if jvm[i] != ref:
                _record("P4 tokens_py != JVM tokens_col", t, jvm[i], ref)
                bad += 1
                if bad >= 20:
                    break
        return bad
    finally:
        spark.stop()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--examples", type=int, default=50_000)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--jvm", action="store_true", help="also run the live-JVM tokenizer differential")
    args = ap.parse_args()
    n = run(args.examples, args.seed)
    if args.jvm:
        print(f"running P4 tokens_py == JVM @ {args.examples} examples ...", flush=True)
        n += run_jvm(args.examples, args.seed)
    print(f"done: {len(FAILURES)} failure(s)")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
