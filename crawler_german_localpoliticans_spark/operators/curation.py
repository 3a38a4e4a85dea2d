"""Corpus-curation operators a 100-TB training-data pipeline needs beyond
scoring/dedup: PII detection + redaction and a benchmark contamination check.

Both are Spark-first:

- PII is pure Column regexp work (whole-stage codegen, zero Python) with
  regexes shared verbatim with the DuckDB oracle (queries/curation.py);
- the contamination check is a hashed n-gram join — the industry-standard
  "a document sharing an n-gram with the eval set is contaminated" rule (as
  used for C4/GPT-3-style decontamination) expressed as an Arrow gram-hash
  kernel -> explode -> broadcast-able join, never a substring scan per
  pair.
  At 10^10 docs the benchmark n-gram table is tiny (a few million grams) and
  broadcasts; the document side stays a single map pass + one left join +
  one count per document.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

try:  # FIPS-enforcing builds refuse plain md5; this use is non-cryptographic
    hashlib.md5(b"", usedforsecurity=False)

    def _md5(data: bytes):
        return hashlib.md5(data, usedforsecurity=False)

except TypeError:  # Python < 3.9: no usedforsecurity kwarg (and no FIPS gate)
    _md5 = hashlib.md5

# shared Spark/DuckDB regexes (keep in sync with the oracle in
# queries/curation.py — both engines get THESE strings)
EMAIL_PAT = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# international-ish phone: optional +country, then 3 groups of digits with
# separators; at least 8 digits total is enforced by the shape
PHONE_PAT = r"\+?[0-9]{2,4}[-/ ][0-9]{3,6}[-/ ][0-9]{3,8}"
IPV4_PAT = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"
IBAN_PAT = r"\b[A-Z]{2}[0-9]{2}(?: ?[0-9A-Z]{4}){3,7}\b"

# fixed application order, most-specific first: an IBAN contains
# phone-shaped digit groups, so it must redact before the phone pattern;
# emails before phone/IP keeps digits inside an address intact. Both
# counting and redaction consume matches in THIS order, so n_<kind> always
# equals the number of <PII:kind> tokens in the redacted text.
PII_PATTERNS: dict[str, str] = {
    "iban": IBAN_PAT,
    "email": EMAIL_PAT,
    "phone": PHONE_PAT,
    "ipv4": IPV4_PAT,
}

REDACTION_TOKEN = "<PII:{kind}>"


def with_pii_counts(df: DataFrame, text_col: str) -> DataFrame:
    """One count column per PII class (n_email, n_phone, ...) plus a total
    and a boolean `has_pii` — pure regexp Columns, one codegen stage, no
    Python. Counts consume matches in the SAME precedence order as
    redact_pii (each class counts on the text with higher-precedence
    classes already redacted): without that, the phone-shaped digit groups
    inside every IBAN would double-count as phones and n_<kind> would
    disagree with the redaction tokens actually emitted — the class counts
    always equal the number of <PII:kind> tokens in the redacted text."""
    out = df
    total = F.lit(0)
    remaining = F.col(text_col)
    for kind, pat in PII_PATTERNS.items():
        c = F.regexp_count(remaining, F.lit(pat))
        out = out.withColumn(f"n_{kind}", c)
        total = total + c
        remaining = F.regexp_replace(remaining, pat, REDACTION_TOKEN.format(kind=kind))
    return out.withColumn("n_pii", total).withColumn("has_pii", total > 0)


def redact_pii(df: DataFrame, text_col: str) -> DataFrame:
    """Column `redacted`: the text with every PII match replaced by a typed
    redaction token, applying the patterns in the fixed PII_PATTERNS order
    (IBAN before phone: an IBAN's spaced digit groups would otherwise
    partially redact as a phone) — a chain of regexp_replace Columns, still
    zero Python."""
    col = F.col(text_col)
    for kind, pat in PII_PATTERNS.items():
        col = F.regexp_replace(col, pat, REDACTION_TOKEN.format(kind=kind))
    return df.withColumn("redacted", col)


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------


def ngram_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int = 13
) -> DataFrame:
    """(id, gram_hash) — 64-bit hash of each DISTINCT word n-gram, computed
    in one Arrow map pass per batch (the JVM transform/slice/concat
    higher-order form evaluates interpreted per element — the same cost the
    MinHash signatures eliminated, operators/dedup.py). Tokens follow the
    corpus-wide whitespace contract; documents shorter than n tokens
    contribute their single full-text gram, so no document is invisible to
    the check. A document with no gram at all (NULL or whitespace-only
    text) keeps one row with a NULL gram_hash (explode_outer), so every
    document reaches a per-id count.

    The hash is the first 8 bytes of MD5 (C-speed via hashlib, constructed
    with usedforsecurity=False so FIPS-enforcing builds allow this
    non-cryptographic use; both join
    sides use THIS kernel, so the choice is self-consistent and invisible
    to callers). 64 bits keeps false collisions negligible even at
    10^10-doc scale (~3e11 grams -> expected ~2e3 spurious gram matches
    corpus-wide, i.e. a ~1e-7 false-contamination rate on a
    recall-oriented filter)."""
    from pyspark.sql import types as T

    from .dedup import tokens_py

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def grams(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            # CONTENT n-grams: boundary empty tokens (tokens_py's faithful
            # JVM artifact for leading/trailing \t or \n) are dropped —
            # otherwise '\tthe quick fox' grams as ' the quick fox' and
            # never matches the clean benchmark text's gram, silently
            # losing decontamination recall. (MinHash keeps the artifact:
            # its contract is byte-parity with the JVM shingle plan.)
            toks = [tok for tok in tokens_py(t) if tok]
            gs = {" ".join(toks[i : i + n]) for i in range(max(1, len(toks) - n + 1))}
            gs.discard("")
            out.append(
                [
                    int.from_bytes(_md5(g.encode()).digest()[:8], "big", signed=True)
                    for g in gs
                ]
                or None
            )
        return pd.Series(out)

    return df.select(
        F.col(id_col).alias("id"), F.explode_outer(grams(F.col(text_col))).alias("gram_hash")
    )


def _bench_gram_hashes(benchmark: DataFrame, n: int) -> DataFrame:
    """The benchmark side's distinct gram_hash set, persisted and counted.

    Un-materialized, the gram side's plan-time estimate is ~3e18 B for a
    createDataFrame benchmark, so the join would plan as a SortMergeJoin
    that shuffles every document gram. Counted, the cache reports its true
    size and spark.sql.autoBroadcastJoinThreshold picks broadcast (a real
    eval suite: 1e5-1e6 grams) or a shuffle join on gram_hash (a corpus-sized
    "benchmark", per-task memory O(grams/P)). The query is planned at its
    action, so the cache is not released here: the entry lives until
    clearCache(), and CacheManager reuses it for repeated calls on the same
    benchmark in one session."""
    grams = (
        ngram_hashes(benchmark.select(F.lit(0).alias("bid"), "text"), "bid", "text", n)
        .where(F.col("gram_hash").isNotNull())
        .select("gram_hash")
        .distinct()
        .persist()
    )
    grams.count()
    return grams


def contamination_check(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
) -> DataFrame:
    """Per-document contamination against an eval/benchmark corpus (its
    `text` column): a doc is contaminated iff it shares >= 1 word n-gram
    with ANY benchmark text. Returns (id, contaminated_grams, contaminated).

    Plan shape for 100 TB: the benchmark side collapses to a distinct
    gram_hash set (tiny — benchmarks are MBs, corpora are TBs) that Spark
    broadcasts; the document side is one explode_outer (a doc with no gram
    keeps one NULL row) + one broadcast left join + ONE groupBy that counts
    the matched side per id — no second join back to the documents. No
    substring matching, no cross join. The gram set is materialized before
    planning (_bench_gram_hashes), so Spark sizes the join: an
    adversarially large benchmark plans a shuffle join instead of OOMing
    every executor."""
    bench_grams = _bench_gram_hashes(benchmark, n).select(
        F.col("gram_hash").alias("_bench_gram")
    )
    return (
        ngram_hashes(docs, id_col, text_col, n)
        .join(bench_grams, F.col("gram_hash") == F.col("_bench_gram"), "left")
        .groupBy("id")
        .agg(F.count("_bench_gram").alias("contaminated_grams"))
        .select(
            "id", "contaminated_grams", (F.col("contaminated_grams") > 0).alias("contaminated")
        )
    )
