"""Document deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

The reference dedups only URLs (exact set membership, src/main.rs:30-45); a
web-text corpus at 10^10 pages additionally needs *content* dedup. Every
operator here is shuffle-conscious:

- exact: one hash-groupBy on md5(text) — map-side partial aggregation, one
  shuffle, keeps the min doc_id per group (deterministic representative);
- MinHash: signatures come from an Arrow-batched numpy kernel — a
  SHUFFLE-FREE map pass producing byte-identical values to the JVM
  explode->crc32->64-min-aggregates form (kept only as the tests' parity
  reference, tests/dedup_reference.py; measured ~20x slower at sf0.1
  because its higher-order shingle expressions evaluate interpreted
  per-element); LSH bands turn the quadratic pair search into an equi-join
  on (band, band_hash) buckets — the only pairs ever materialized are
  bucket collisions, which is what makes this run at 10^10 docs;
- SimHash: 64-bit weighted bit votes in a vectorized pandas UDF, near-dup
  candidates via 4x16-bit band equality (Hamming<=3 guaranteed recall on
  >=1 identical band), verified by exact Hamming distance;
- n-gram Jaccard: exact verification operator (and small-scale oracle) —
  shingle equi-join, never a cross join;
- embedding cosine: label-blocked BLAS gramian per block (applyInPandas);
  blocks (label / LSH bucket / IVF cell) are bounded by construction.

Portability contract: all hash primitives are crc32 (zlib == JVM CRC32 ==
Spark `F.crc32`), so the pytest oracle recomputes identical signatures in
pure Python — see tests/test_dedup.py.

Scale note: crc32 is 32-bit, so at >= ~10^9 DISTINCT shingles corpus-wide,
hash collisions start to bias MinHash estimates upward. For that regime
`minhash_dedup_pairs(..., hash_family="xxhash64")` switches the signature
family to seeded 64-bit XXH64 (`minhash_signatures_xx`) — collision-free in
practice at any corpus size, same banded LSH structure. crc32 stays the
default because its signatures are recomputable in pure Python/DuckDB
(the parity oracle); the xxhash64 family is pinned by the planted-corpus
invariant instead (driver query `minhash_planted_xx`).
"""

from __future__ import annotations

import re
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MINHASH_PRIME = 2147483647  # 2^31 - 1
NUM_PERM = 64
LSH_BANDS = 16  # 16 bands x 4 rows
LSH_ROWS = 4
SHINGLE_K = 3  # MinHash shingles are word 3-grams
_PERM_SEED = 42


def _permutation_params(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a*x + b) mod p."""
    import random

    rng = random.Random(_PERM_SEED)
    return [(rng.randrange(1, MINHASH_PRIME), rng.randrange(0, MINHASH_PRIME)) for _ in range(num_perm)]


# Java regex \s, spelled out: the one whitespace class of the Spark plans,
# the Python kernels and the DuckDB oracle SQL (RE2's \s lacks \x0b).
WS_CHARS = r" \t\n\x0b\f\r"
WS_CLASS = f"[{WS_CHARS}]"


def tokens_col(text_col):
    """Whitespace tokenization — the shared contract with textstats + oracle."""
    return F.split(F.trim(text_col), WS_CLASS + "+")


_JVM_WS_RE = re.compile(WS_CLASS + "+")


def tokens_py(text: str) -> list[str]:
    """EXACT Python mirror of tokens_col (split on WS_CLASS runs after trim):
    Spark's trim strips 0x20 ONLY, and Java-regex \\s is the ASCII class
    [ \\t\\n\\x0B\\f\\r]. Python's bare str.strip()/str.split() are
    Unicode-aware (full strip, NBSP/em-space split), which silently diverges
    on leading/trailing tabs/newlines and non-breaking spaces — real
    web-extracted text — so EVERY Python-side kernel and parity oracle must
    tokenize through this function, never str.split(). Like the JVM form,
    a leading/trailing non-space whitespace run yields an empty token
    (consumers filter as the JVM plan does)."""
    return _JVM_WS_RE.split((text or "").strip(" "))


def word_shingles(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Distinct word k-gram shingles per document: (id, shingle).
    array_distinct already dedups within the doc and ids are unique by
    contract, so no global .distinct() — that would be a redundant full
    shuffle of the biggest table in the dedup pipeline."""
    toks = tokens_col(F.col(text_col))
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - F.lit(k), F.lit(0)))
    shingle = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))
    )
    return (
        df.select(F.col(id_col).alias("id"), F.explode(F.array_distinct(shingle)).alias("shingle"))
        .where(F.length("shingle") > 0)
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per distinct text: (text_hash, keep_id, n_dups). Deterministic
    representative = min id. Single shuffle, partial agg map-side."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col).alias("id"))
        .groupBy("text_hash")
        .agg(F.min("id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures_arrow(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, sig array<long>) in ONE Arrow-batched map pass — byte-identical
    to the JVM explode -> crc32 -> min-aggregates form (same crc32 +
    (a*x+b) mod p params, pinned by tests/test_dedup.py against
    tests/dedup_reference.py) but with NO shingle explode and NO groupBy
    shuffle:
    per doc, the shingle set is built in Python (zlib.crc32 is C), and all
    NUM_PERM permutation minima fall out of a single numpy
    (NUM_PERM, n_shingles) broadcast-min. Measured ~20x faster than the JVM
    form at sf0.1 (0.18s vs 3.7s, local[32]): Spark evaluates the JVM
    path's higher-order slice/concat shingle lambdas interpreted
    per-element, and it shuffles ~52 shingle rows per doc where this kernel
    ships 64 longs. At 10^10 docs the shuffle elision is the bigger win:
    signatures become map-side work; only the banded LSH join shuffles."""
    from pyspark.sql import types as T

    params = _permutation_params(NUM_PERM)
    a_col = np.array([a for a, _ in params], dtype=np.uint64)[:, None]
    b_col = np.array([b for _, b in params], dtype=np.uint64)[:, None]
    prime = np.uint64(MINHASH_PRIME)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = tokens_py(t)
            shingles = {
                " ".join(toks[i : i + SHINGLE_K])
                for i in range(max(1, len(toks) - SHINGLE_K + 1))
            }
            shingles.discard("")
            if not shingles:
                out.append(None)  # same as the JVM form: no shingles, no row
                continue
            h = np.fromiter(
                (zlib.crc32(s.encode()) for s in shingles),
                dtype=np.uint64,
                count=len(shingles),
            )
            # a*h + b < 2^31 * 2^32 + 2^31 < 2^64: exact in uint64
            out.append(((a_col * h[None, :] + b_col) % prime).min(axis=1).astype(np.int64))
        return pd.Series(out)

    # asNondeterministic: the isNotNull filter on the UDF's OUTPUT otherwise
    # gets pushed below any upstream exchange by substitution, duplicating
    # the ArrowEvalPython node — the whole kernel then runs twice, once
    # BEFORE the repartition (i.e. serially on a single-split scan). Guide
    # §4.4; measured 5.45s -> 1.0s at sf1.0 on local[32]. Results are
    # unchanged: the kernel is a pure function.
    return (
        df.select(
            F.col(id_col).alias("id"),
            sig.asNondeterministic()(F.col(text_col)).alias("sig"),
        )
        .where(F.col("sig").isNotNull())
    )


def minhash_signatures_xx(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, sig array<long>) with a 64-BIT hash family for corpora beyond
    crc32's ~1e9-distinct-shingle ceiling: hash function i is
    xxhash64(shingle, i) — Spark hashes the shingle together with the
    literal index, giving NUM_PERM independent 64-bit functions directly
    (no (a*x+b) mod p permutation arithmetic, hence no modulus-width
    overflow concerns). All JVM-side: explode -> one groupBy with NUM_PERM
    min() aggregates.
    XXH64 isn't recomputable in DuckDB/stdlib Python, so this family is
    verified by the planted-corpus invariant (identical text => identical
    signatures => detected == planted), not signature parity."""
    sh = word_shingles(df, id_col, text_col, SHINGLE_K)
    aggs = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"s{i}")
        for i in range(NUM_PERM)
    ]
    sigs = sh.groupBy("id").agg(*aggs)
    return sigs.select("id", F.array(*[f"s{i}" for i in range(NUM_PERM)]).alias("sig"))


# Per-(band, band_hash) bucket cap: above this many members a bucket stops
# doing all-pairs (quadratic — a boilerplate page duplicated 10^6x would
# otherwise emit ~5*10^11 pairs from ONE bucket) and every overflow member
# is paired with the bucket's min-id REPRESENTATIVE instead. 5000 keeps
# head-pair work <= ~1.2*10^7 per degenerate bucket while being far above
# any honest near-dup cluster; overflow members remain connected to their
# cluster through the representative, so union-find/grouping downstream
# sees the same components — only the redundant tail-tail pairs are elided.
# Read at call time.
LSH_MAX_BUCKET = 5000


def banded_signatures(sigs: DataFrame) -> DataFrame:
    """(id, band, bh) — one row per LSH band per signature; bh = xxhash64
    over the band's signature slice elements (band-hash equality <=> band
    slice equality, modulo the usual 2^-64 collision argument — the same
    one the band hash already rested on). The longs feed xxhash64 DIRECTLY
    as multiple arguments: the previous concat_ws(",") form built a
    ~40-char string per (row, band) — bands x n_docs string allocations —
    just to feed the hash; hashing the longs natively removes that
    allocation from the hottest projection in the LSH path (guide §2.3,
    narrower/cheaper bytes). Feeds the batch pair join
    (lsh_candidate_pairs). Null signatures (docs with no shingles) are
    dropped: their null band hashes can never equal anything."""
    return (
        sigs.where(F.col("sig").isNotNull())
        .select(
            "id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.xxhash64(
                                *[
                                    F.element_at("sig", b * LSH_ROWS + r + 1)
                                    for r in range(LSH_ROWS)
                                ]
                            ).alias("bh"),
                        )
                        for b in range(LSH_BANDS)
                    ]
                )
            ).alias("bb"),
        )
        .select("id", "bb.band", "bb.bh")
    )


def lsh_candidate_pairs(sigs: DataFrame) -> DataFrame:
    """Distinct (id_a < id_b) pairs colliding in >=1 LSH band. The band hash
    is xxhash64 over the band's signature slice; the pair search is an
    equi-join on (band, band_hash) — never a cross join.

    Degenerate-bucket cap (LSH_MAX_BUCKET): a hash-agg
    finds the oversized buckets (map-side combine -> one row per bucket;
    there are mathematically at most n_banded/LSH_MAX_BUCKET of them; the
    list is persisted and counted, so the planner sees its true size and
    spark.sql.autoBroadcastJoinThreshold chooses broadcast or shuffle for
    the flagging join), and ONLY their rows pay a row_number
    window; the first LSH_MAX_BUCKET members of each do the normal
    all-pairs equi-join, and every overflow member contributes exactly one
    pair (bucket-representative = min id, overflow id). NOTE the
    connectivity guarantee is a property of the CANDIDATE graph: after a
    similarity-thresholded verification (minhash_dedup_pairs), an
    overflow member whose only true near-dups sit among the elided
    head/overflow pairs keeps just its representative link, and if the
    representative itself is below threshold the member survives
    verification unpaired. In the mass-duplicate regime the cap targets
    (one boilerplate text repeated), the representative IS the duplicate
    (est_jaccard 1.0), so the kept link is the right one; mixed
    adversarial buckets trade that tail recall for boundedness — raise
    LSH_MAX_BUCKET if that tail matters. Measured trade-off
    (sf0.1, interleaved min-of-5): this split costs ~1.0s over uncapped at
    toy scale (three extra stages of fixed overhead; a rank-everything
    window costs ~0.45s) — but the window variant SORTS the entire banded
    table (16 rows/doc, ~1.6e11 rows at 1e10 docs) to police a cap that
    almost never triggers, while the agg probe is map-side-combined and
    the second pass is map-only; at cluster scale the sort is the
    bottleneck, the fixed stages amortize to nothing. Work per bucket is
    bounded at O(cap^2 + n) instead of O(n^2) and NO member is dropped —
    each stays connected to its duplicate cluster via the representative;
    what's elided are the redundant overflow-overflow/head-overflow pairs.
    """
    from pyspark.sql.window import Window

    # the banded table feeds the size probe, BOTH branches of the
    # flagged split, and BOTH sides of the pair self-join — without a
    # persist the explode+hash subtree (and its upstream signature read)
    # re-executes once per consumer, up to 8x
    # (measured: the candidate stage alone walled 14s at sf1.0 before,
    # ~2s after). Same session-cache convention as sigs.persist in
    # minhash_dedup_pairs: repeated same-input calls reuse the entry,
    # bench/oracle runs clearCache between runs.
    banded = banded_signatures(sigs).persist()

    # Find the oversized buckets with one hash-agg, then rank ONLY
    # their rows: a global row_number window would SORT the whole
    # banded table (16 rows per doc) to police a cap that almost never
    # triggers. The oversized-bucket list is mathematically tiny —
    # each holds > LSH_MAX_BUCKET members, so there are at most
    # n_banded / LSH_MAX_BUCKET of them.
    sizes = banded.groupBy("band", "bh").agg(F.count(F.lit(1)).alias("_bsz"))
    oversized = (
        sizes.where(F.col("_bsz") > LSH_MAX_BUCKET)
        .select("band", "bh", F.lit(True).alias("_over"))
        .persist()
    )
    # Materialize the oversized list before the join is planned: the
    # > cap filter sits ABOVE the aggregation's exchange, so un-materialized
    # its size estimate is the full bucket histogram and the join plans as
    # a SortMergeJoin shuffling the whole banded table (stage receipt in
    # BENCH/NOTES.md r6). Counted, the cache reports its true (near-zero)
    # size and spark.sql.autoBroadcastJoinThreshold picks broadcast or
    # shuffle; the count also fills the banded cache every branch reads.
    #
    # PERSIST the flagged table: it feeds FOUR branches (ok_part on
    # both sides of the pair self-join, the ranked window, the
    # overflow slice), and exchange reuse does not fire across them —
    # measured at sf1.0 the un-materialized plan re-shuffled the full
    # banded table ~10x (stage receipt in BENCH/NOTES.md r6).
    oversized.count()
    flagged = banded.join(oversized, ["band", "bh"], "left").persist()
    ok_part = flagged.where(F.col("_over").isNull()).select("id", "band", "bh")
    w = Window.partitionBy("band", "bh").orderBy("id")
    ranked = flagged.where(F.col("_over").isNotNull()).select(
        "id",
        "band",
        "bh",
        F.row_number().over(w).alias("rk"),
        F.first("id").over(w).alias("rep"),  # min id: window is id-ordered
    )
    head = ok_part.unionByName(
        ranked.where(F.col("rk") <= LSH_MAX_BUCKET).select("id", "band", "bh")
    )
    overflow_pairs = (
        ranked.where(F.col("rk") > LSH_MAX_BUCKET)
        .select(F.col("rep").alias("id_a"), F.col("id").alias("id_b"))
    )

    left = head.alias("l")
    right = head.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
    )
    return pairs.unionByName(overflow_pairs).distinct()


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    hash_family: str = "crc32",
) -> DataFrame:
    """Near-duplicate pairs with estimated Jaccard >= threshold:
    signatures -> LSH buckets -> candidate pairs -> signature-agreement
    verification (fraction of equal components estimates Jaccard).

    hash_family: "crc32" (default; the shuffle-free Arrow kernel, with
    Python/DuckDB-recomputable parity) or "xxhash64" (the JVM 64-bit family
    for >= ~1e9 distinct shingles — see the module scale note)."""
    if hash_family == "crc32":
        sig_fn = minhash_signatures_arrow
    elif hash_family == "xxhash64":
        sig_fn = minhash_signatures_xx
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    # the signature table feeds the band join AND both sides of the
    # verification join — persist so the signature computation runs once,
    # not three times
    sigs = sig_fn(df, id_col, text_col).persist()
    cands = lsh_candidate_pairs(sigs)
    a = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    b = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    joined = cands.join(a, "id_a").join(b, "id_b")
    agree = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
    est = agree / F.lit(NUM_PERM)
    return (
        joined.withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def with_simhash(df: DataFrame, text_col: str) -> DataFrame:
    """Adds a `simhash` column. Vectorized pandas UDF (the bit-vote
    accumulation is genuinely non-columnar). Inside the Arrow batch the per-token/per-bit work is
    numpy: token hashes unpack to an (n_tokens, 64) bit matrix whose column
    sums are the votes — no interpreted per-bit loop (round-1 verdict's
    simhash scale flag; the pure-Python parity oracle is simhash64_py in
    tests/dedup_reference.py). A per-batch token-hash memo exploits Zipfian
    token repetition."""
    from pyspark.sql import types as T

    @F.pandas_udf(T.LongType())
    def simhash(texts: pd.Series) -> pd.Series:
        shifts = np.arange(64, dtype=np.uint64)
        cache: dict[str, int] = {}

        def tok_hash(tok: str) -> int:
            h = cache.get(tok)
            if h is None:
                bt = tok.encode()
                h = zlib.crc32(bt) | (zlib.crc32(bt + b"\x01") << 32)
                cache[tok] = h
            return h

        out = np.empty(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            toks = [tok for tok in tokens_py(t) if tok]
            if not toks:
                out[i] = 0
                continue
            hs = np.fromiter(
                (tok_hash(tok) for tok in toks), dtype=np.uint64, count=len(toks)
            )
            # bit matrix (n_tokens, 64); votes[b] = ones - zeros = 2*ones - n
            ones = ((hs[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
            votes = 2 * ones.astype(np.int64) - len(toks)
            sig = int((np.uint64(1) << shifts[votes > 0]).sum(dtype=np.uint64))
            out[i] = sig - (1 << 64) if sig >= (1 << 63) else sig
        return pd.Series(out)

    return df.withColumn("simhash", simhash(F.col(text_col)))


def simhash_dedup_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming. Candidates via
    4x16-bit band equality (pigeonhole: Hamming<=3 ⇒ at least one of 4 bands
    identical), verified by exact popcount — bit_count is JVM-side."""
    sh = with_simhash(df.select(F.col(id_col).alias("id"), text_col), text_col)
    bands = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned("simhash", b * 16).bitwiseAND(F.lit(0xFFFF)).alias("bh"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("id", "simhash", "bb.band", "bb.bh")
    l, r = bands.alias("l"), bands.alias("r")
    cands = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.simhash").alias("sh_a"),
            F.col("r.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cands.withColumn("hamming", hamming).where(
        F.col("hamming") <= max_hamming
    ).select("id_a", "id_b", "hamming")


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (verification / small-scale oracle path)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Exact Jaccard over word k-gram shingle SETS for every pair sharing at
    least one shingle. Shingle equi-join + two aggregates; quadratic only in
    actual collisions (use minhash_dedup_pairs as the scale path)."""
    sh = word_shingles(df, id_col, text_col, k)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    l, r = sh.alias("l"), sh.alias("r")
    inter = (
        l.join(r, (F.col("l.shingle") == F.col("r.shingle")) & (F.col("l.id") < F.col("r.id")))
        .groupBy(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------


def _vec_length_groups(pdf: pd.DataFrame):
    """Yield the block's rows grouped by vector length (nulls dropped),
    ascending length for determinism. Pairing WITHIN each length group makes
    a block kernel exactly equivalent to the blocked self-join form
    (tests/dedup_reference.py): a mixed-length pair has a null zip_with dot
    there (filtered out), while two same-length vectors always pair — even
    when their length is a minority in the block (the round-2 dominant-length
    filter silently dropped those)."""
    lengths = pdf["vec"].map(lambda v: -1 if v is None else len(v))
    for length in sorted(lengths[lengths >= 0].unique()):
        yield pdf[lengths == length]


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float = 0.9,
) -> DataFrame:
    """Near-dup pairs with cosine >= threshold, blocked on `block_col`
    (label / LSH bucket / IVF cell) — never a global cross join.

    One applyInPandas kernel per block: the block's vectors stack into a
    matrix once and all pairwise cosines come from a single BLAS gramian
    (G@G.T / outer(norms)) — O(n·d) Arrow transfer instead of materializing
    two vector copies per PAIR, and no per-element lambda interpretation
    (the round-1 zip_with/aggregate path was interpreter-bound). Vectors
    pair within same-LENGTH groups of the block (mixed-length pairs are
    skipped, exactly as the blocked self-join reference filters its null
    cosines — both return identical pair sets, pinned by
    tests/test_dedup.py). Blocks are bounded by construction."""
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        outs = []
        for grp in _vec_length_groups(pdf):
            n = len(grp)
            if n < 2:
                continue
            ids = grp["id"].to_numpy(dtype=np.int64)
            mat = np.vstack([np.asarray(v, dtype=np.float64) for v in grp["vec"]])
            norms = np.sqrt((mat * mat).sum(axis=1))
            sims = np.round((mat @ mat.T) / np.outer(norms, norms), 6)
            iu, ju = np.triu_indices(n, k=1)
            c = sims[iu, ju]
            keep = c >= threshold
            ia, ib = ids[iu[keep]], ids[ju[keep]]
            outs.append(
                pd.DataFrame(
                    {
                        "id_a": np.minimum(ia, ib),
                        "id_b": np.maximum(ia, ib),
                        "cosine": c[keep],
                    }
                )
            )
        if not outs:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        return pd.concat(outs, ignore_index=True)

    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), F.col(block_col).alias("blk")
    )
    return base.groupBy("blk").applyInPandas(block_pairs, out_schema)


# ---------------------------------------------------------------------------
# near-dup clustering: pairs -> connected components -> representatives
# ---------------------------------------------------------------------------


# Below this many distinct edges the whole component computation runs as a
# driver-side union-find over the collected edge list (~16 B/edge -> <=
# ~16 MB at the default), skipping the iterative large-star/small-star
# rounds whose per-round fixed cost (two star shuffles + an eager
# localCheckpoint + a checksum collect) dominates for small graphs —
# measured ~15s of driver-paced latency for a 2.5k-edge graph at sf1.0.
# Near-dup graphs at 1e10-doc scale exceed the threshold and keep the
# distributed O(log n) loop. Read at call time.
CC_DRIVER_FASTPATH_MAX_EDGES = 1_000_000
CC_MAX_ITER = 50


def _components_py(edge_list: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """(id, min-reachable-id) for every id in the edge list — union-find
    with path halving; the label is the component MINIMUM, exactly the
    distributed fixed point's contract."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in edge_list:
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    mins: dict[int, int] = {}
    for x in parent:
        r = find(x)
        if r not in mins or x < mins[r]:
            mins[r] = x
    return [(x, mins[find(x)]) for x in parent]


def connected_components(pairs: DataFrame) -> DataFrame:
    """(id, cluster_id) for every id in the (id_a, id_b) `pairs`, where
    cluster_id is the MINIMUM id reachable through the pair graph — the missing step
    between near-dup PAIRS (minhash/simhash/embedding *_pairs operators)
    and an actually deduplicated corpus (keep one representative per
    cluster).

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — converges in
    O(log n) rounds on any graph (vs O(diameter) for naive label
    propagation, which a chained near-dup cluster can stretch), and every
    round is one groupBy over the symmetrized edge list, no joins:

      large-star: for each node u, connect every neighbor v > u to
                  m = min(neighborhood(u) + u);
      small-star: connect every neighbor v <= u (except m) to m.

    At a fixed point the edges form stars centered at each component's
    minimum. Each round triggers one comparison action (count + order-
    independent edge checksum) to detect the fixed point — iterative
    convergence is inherently driver-paced; the per-round data path is
    pure shuffle-by-key. Raises RuntimeError after CC_MAX_ITER rounds (a
    correctness backstop: the algorithm provably converges, so hitting it
    means the input violates assumptions, e.g. non-deterministic ids)."""
    e = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .where(F.col("u") != F.col("v"))
    )
    # canonical undirected representation: (u, v) oriented u > v
    edges = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct()

    # the loop below needs the distinct edge set materialized anyway
    # (its first localCheckpoint); checkpoint first, then one cheap
    # count over the checkpointed blocks decides the path
    edges = edges.localCheckpoint(eager=True)
    if edges.count() <= CC_DRIVER_FASTPATH_MAX_EDGES:
        labels = _components_py([(r["u"], r["v"]) for r in edges.collect()])
        edges.unpersist()
        return pairs.sparkSession.createDataFrame(labels, "id long, cluster_id long")

    # all ids ever seen (kept stable across rounds; at the fixed point the
    # component minima appear only on the small side of edges)
    nodes = (
        edges.select(F.col("u").alias("id"))
        .unionByName(edges.select(F.col("v").alias("id")))
        .distinct()
        .persist()
    )

    def large_star(edges: DataFrame) -> DataFrame:
        # full neighborhoods: symmetrize, per-node minimum via groupBy-min
        # plus an equi-join back (NOT collect_list — a component minimum
        # in a mass-duplicate cluster has degree ~cluster size, and a
        # collected neighborhood array must fit in one task), then connect
        # every LARGER neighbor to m = min(N(u) + u)
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn")).select(
            "u", F.least("mn", "u").alias("m")
        )
        out = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))  # v > u >= m
        )
        return out.where(F.col("u") != F.col("v")).distinct()

    def small_star(edges: DataFrame) -> DataFrame:
        # edges already oriented u > v: group by the LARGER endpoint,
        # connect u and every neighbor to m = min(N(u)) — including u
        # itself (the edge that keeps u attached to its component)
        mins = edges.groupBy("u").agg(F.min("v").alias("m"))  # all v < u
        nbr_edges = (
            edges.join(mins, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))  # v > m
        )
        self_edges = mins.select("u", F.col("m").alias("v"))  # u > m always
        return nbr_edges.unionByName(self_edges).distinct()

    def checksum(edges: DataFrame):
        row = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),  # order-independent, no ANSI overflow
        ).collect()[0]
        return (row["n"], row["h"])

    # each round references its input twice per star op, so the lazy plan
    # would DOUBLE every round and the driver dies analyzing it long before
    # the data is big — localCheckpoint materializes the round and truncates
    # lineage (the standard iterative-Spark pattern; trade-off: blocks are
    # not recomputable on executor loss, use checkpoint() with a checkpoint
    # dir for fault-tolerant runs). The first round's input was
    # checkpointed above.
    sig = checksum(edges)
    for _ in range(CC_MAX_ITER):
        nxt = small_star(large_star(edges)).localCheckpoint(eager=True)
        nsig = checksum(nxt)
        edges.unpersist()
        edges = nxt
        if nsig == sig:
            break
        sig = nsig
    else:
        raise RuntimeError(f"connected_components did not converge in {CC_MAX_ITER} rounds")

    # at the fixed point every non-minimum node has exactly the edge
    # (node, component_min); component minima label themselves
    labels = edges.groupBy("u").agg(F.min("v").alias("cluster_id")).select(
        F.col("u").alias("id"), "cluster_id"
    )
    result = (
        nodes.join(labels, "id", "left")
        .select("id", F.coalesce("cluster_id", "id").alias("cluster_id"))
        # materialize before releasing the inputs (labels are lazy); also
        # hands callers a lineage-free table, so repeated use never
        # re-runs the iteration
        .localCheckpoint(eager=True)
    )
    nodes.unpersist()
    edges.unpersist()
    return result


def neardup_clusters(docs: DataFrame, id_col: str, pairs: DataFrame) -> DataFrame:
    """(id, cluster_id, is_representative) for EVERY document: docs in the
    (id_a, id_b) `pairs` get their component minimum as cluster_id,
    singletons label themselves. `is_representative` marks the one kept doc per cluster (the minimum id
    — deterministic, matching exact_dedup's min-id representative rule)."""
    comps = connected_components(pairs)
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(comps, "id", "left")
        .select(
            "id",
            F.coalesce("cluster_id", "id").alias("cluster_id"),
            (F.coalesce("cluster_id", "id") == F.col("id")).alias("is_representative"),
        )
    )
