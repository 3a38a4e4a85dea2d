"""Registry dedup queries — exact, MinHash, SimHash, fingerprint, n-gram,
embedding and substring — each beside its DuckDB oracle, plus the planted
corpus whose duplicate pairs are known by construction."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    MINHASH_PRIME, NUM_PERM, WS_CLASS, _permutation_params, embedding_neardup_pairs,
    exact_dedup, minhash_dedup_pairs, neardup_clusters, ngram_jaccard_pairs,
    simhash_dedup_pairs, tokens_col, with_simhash,
)
from ..operators.textstats import (
    FP_BASE, FP_GUARD, FP_MOD, FP_WINDOW, substring_dedup, substring_dup_pairs,
    substring_overlap, with_fingerprint,
)
from ..sources.tables import spread
from .common import _CRC32_EXPR, _CRC32_TABLE_CTE, _docs, _e6


def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_docs(spark, sf_dir), "doc_id", "text")


_EXACT_DEDUP_SQL = """
            SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
                   count(*) AS n_dups
            FROM documents GROUP BY md5(text)
        """


def _clusters_sql(pairs_sql: str, nodes_sql: str) -> str:
    """Connected components over a pair set via a recursive CTE: reach(id, r)
    holds every (node, reachable node) pair over the symmetrized edge list,
    seeded with each node of `nodes_sql` reaching itself; the cluster label
    is MIN(r) — exactly the large-star/small-star fixed point the Spark side
    computes. The pair SQL is embedded verbatim as a nested-WITH subquery,
    so a cluster oracle can never drift from its pair oracle."""
    return f"""
        WITH RECURSIVE pairs AS ({pairs_sql}),
        edges AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION
            SELECT id_b AS u, id_a AS v FROM pairs
        ),
        reach(id, r) AS (
            {nodes_sql}
            UNION
            SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.id
        )
        SELECT id, MIN(r) AS cluster_id, MIN(r) = id AS is_representative
        FROM reach GROUP BY id
    """


# the minhash_neardup pair threshold, which neardup_clusters reuses
_MINHASH_THRESHOLD = 0.2


def _q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = minhash_dedup_pairs(
        spread(_docs(spark, sf_dir)), "doc_id", "text", threshold=_MINHASH_THRESHOLD
    )
    return pairs.select("id_a", "id_b", _e6(F.col("est_jaccard")).alias("est_jaccard_e6"))


def _minhash_neardup_oracle_sql() -> str:
    """The FULL MinHash near-dup path re-derived in SQL — crc32 shingle
    hashes (inline table), the 64 (a*x+b) mod p permutation minima with the
    literal seed-42 params, LSH candidacy as ">= 1 band with all 4 signature
    components equal" (equivalent to Spark's xxhash64 band-bucket equi-join:
    band_hash equality <=> band slice equality, operators/dedup.py
    lsh_candidate_pairs), and est_jaccard = agreeing components / 64.
    agree/64 has an exact 6-decimal representation, so est_e6 = agree*15625
    on both engines. Threshold 0.2 <=> agree >= 13 (12/64 = 0.1875 < 0.2)."""
    params = _permutation_params(NUM_PERM)
    sig_aggs = ",\n                   ".join(
        f"min(({a}::UBIGINT * hv + {b}::UBIGINT) % {MINHASH_PRIME}::UBIGINT) AS s{i}"
        for i, (a, b) in enumerate(params)
    )
    sig_arr = "[" + ", ".join(f"s{i}" for i in range(NUM_PERM)) + "]"
    crc = _CRC32_EXPR.format(col="shingle", extra="")
    agree = (
        f"list_sum(list_transform(range(1, {NUM_PERM + 1}), "
        "j -> CASE WHEN sa.sig[j] = sb.sig[j] THEN 1 ELSE 0 END))"
    )
    return rf"""
        WITH {_CRC32_TABLE_CTE},
        toks AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '{WS_CLASS}+') AS tk
            FROM documents
        ),
        sh AS (
            SELECT DISTINCT doc_id, shingle
            FROM (
                SELECT doc_id, unnest(list_transform(
                    generate_series(1, greatest(len(tk) - 2, 1)),
                    i -> array_to_string(tk[i:i+2], ' '))) AS shingle
                FROM toks
            ) WHERE length(shingle) > 0
        ),
        h AS (SELECT doc_id, {crc} AS hv FROM sh, t),
        sigc AS (
            SELECT doc_id,
                   {sig_aggs}
            FROM h GROUP BY doc_id
        ),
        sig AS (SELECT doc_id, {sig_arr} AS sig FROM sigc),
        bands AS (
            SELECT doc_id, band,
                   sig[4*band+1] AS c0, sig[4*band+2] AS c1,
                   sig[4*band+3] AS c2, sig[4*band+4] AS c3
            FROM sig, unnest(generate_series(0, 15)) AS u(band)
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
            FROM bands a JOIN bands b2
              ON a.band = b2.band AND a.c0 = b2.c0 AND a.c1 = b2.c1
             AND a.c2 = b2.c2 AND a.c3 = b2.c3 AND a.doc_id < b2.doc_id
        )
        SELECT id_a, id_b, ({agree} * 15625)::BIGINT AS est_jaccard_e6
        FROM cand
        JOIN sig sa ON sa.doc_id = id_a
        JOIN sig sb ON sb.doc_id = id_b
        WHERE {agree} >= {math.ceil(_MINHASH_THRESHOLD * NUM_PERM)}
    """


_MINHASH_NEARDUP_SQL = _minhash_neardup_oracle_sql()


def _q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs -> clusters: the minhash near-dup pairs (threshold 0.2, the
    minhash_neardup query's exact pair set) fed through large-star/
    small-star connected components (operators/dedup.py
    connected_components) — every document labeled with the MINIMUM doc_id
    reachable through the near-dup graph, singletons labeling themselves,
    is_representative marking the one kept doc per cluster. The oracle
    re-derives the same labels with a recursive CTE over the SQL-re-derived
    pair set."""
    docs = spread(_docs(spark, sf_dir))
    pairs = minhash_dedup_pairs(docs, "doc_id", "text", threshold=_MINHASH_THRESHOLD)
    return neardup_clusters(docs, "doc_id", pairs)


_NEARDUP_CLUSTERS_SQL = _clusters_sql(
    _MINHASH_NEARDUP_SQL, "SELECT doc_id, doc_id FROM documents"
)


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_simhash(spread(_docs(spark, sf_dir)).select("doc_id", "text"), "text").select(
        "doc_id", "simhash"
    )


def _simhash_oracle_sql() -> str:
    """Raw 64-bit simhash values re-derived in SQL: per-token hash =
    crc32(tok) | crc32(tok + chr(1)) << 32 (the portable primitive of
    operators/dedup.py with_simhash), 64 per-bit ±1 vote
    sums as aggregates, sign bits reassembled in HUGEINT and converted to
    Spark's signed-64 two's complement. Tokenless docs hash to 0."""
    crc_a = _CRC32_EXPR.format(col="tk", extra="")
    crc_b = _CRC32_EXPR.format(col="tk", extra="\n        || [1::UBIGINT]")
    vote_aggs = ",\n                   ".join(
        f"sum(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(64)
    )
    bits_sum = "\n                 + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b}::HUGEINT ELSE 0::HUGEINT END)"
        for b in range(64)
    )
    return rf"""
        WITH {_CRC32_TABLE_CTE},
        tok AS (
            SELECT doc_id, unnest(regexp_split_to_array(trim(text), '{WS_CLASS}+')) AS tk
            FROM documents
        ),
        tok_ne AS (SELECT doc_id, tk FROM tok WHERE length(tk) > 0),
        h AS (
            SELECT doc_id,
                   {crc_a} | ({crc_b} * 4294967296::UBIGINT) AS hv
            FROM tok_ne, t
        ),
        votes AS (
            SELECT doc_id,
                   {vote_aggs}
            FROM h GROUP BY doc_id
        ),
        raw AS (
            SELECT doc_id,
                   ({bits_sum}) AS u
            FROM votes
        )
        SELECT d.doc_id,
               coalesce(CAST(CASE WHEN r.u >= 9223372036854775808::HUGEINT
                                  THEN r.u - 18446744073709551616::HUGEINT
                                  ELSE r.u END AS BIGINT), 0) AS simhash
        FROM documents d LEFT JOIN raw r ON r.doc_id = d.doc_id
    """


_PLANT_OFFSET = 1000000
_MIN_SALT_TOKENS = 50


def _planted_corpus(spark: SparkSession, sf_dir: str, salt: bool = False) -> DataFrame:
    """documents ∪ exact copies at doc_id+1e6 — a corpus whose true duplicate
    pair set is known BY CONSTRUCTION (and SQL-expressible as text equality),
    giving the hash-based detectors (minhash/simhash/fingerprint, whose crc32
    primitives DuckDB lacks) a constructive ground-truth oracle.

    With salt=True each ORIGINAL gets max(50, 2×token-count) doc-unique
    suffix tokens before copying: the testdata documents contain genuine
    near-dups (true Jaccard up to 0.99 between distinct texts), so near-dup
    detectors would correctly fire on them — salting pushes every cross-doc
    similarity far below any detection threshold while planted copies stay
    byte-identical, making 'detected == planted' an exact invariant. The
    salt count SCALES with the document (not a fixed 50): for any two
    originals the shingle union is >= 2×(|tok_a|+|tok_b|) disjoint salt
    shingles while the intersection is <= min(|tok_a|,|tok_b|), so true
    Jaccard stays < 0.25 regardless of document length — the invariant holds
    unconditionally, even for byte-identical original pairs."""
    docs = spread(_docs(spark, sf_dir)).select("doc_id", "text")
    if salt:
        n_salt = F.greatest(
            F.lit(_MIN_SALT_TOKENS), F.size(tokens_col(F.col("text"))) * 2
        )
        suffix = F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), n_salt - 1),
                lambda j: F.concat(
                    F.lit("u"), F.col("doc_id").cast("string"), F.lit("x"), j.cast("string")
                ),
            ),
        )
        docs = docs.select("doc_id", F.concat(F.col("text"), F.lit(" "), suffix).alias("text"))
    copies = docs.select((F.col("doc_id") + _PLANT_OFFSET).alias("doc_id"), "text")
    return docs.unionByName(copies)


def _planted_pairs_sql(originals_sql: str) -> str:
    """The expected duplicate pairs of a planted corpus: `originals_sql`
    (doc_id, text) plus its copies at doc_id + _PLANT_OFFSET, paired by text
    equality."""
    return f"""
    WITH originals AS ({originals_sql}),
    corpus AS (
        SELECT doc_id, text FROM originals
        UNION ALL
        SELECT doc_id + {_PLANT_OFFSET} AS doc_id, text FROM originals
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM corpus a
    JOIN corpus b ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
"""


# Constructive ground truth for the crc32-based detectors: on the planted
# corpus the true duplicate pair set IS text equality — any detector false
# positive/negative breaks the hash match.
_PLANTED_PAIRS_SQL = _planted_pairs_sql("SELECT doc_id, text FROM documents")

# salted variant (see _planted_corpus(salt=True)): max(50, 2*token-count)
# doc-unique suffix tokens separate genuine near-dups in the base corpus from
# the planted byte-identical copies — the count scales with the document so
# the isolation holds for arbitrarily long texts
_PLANTED_SALTED_PAIRS_SQL = _planted_pairs_sql(rf"""
        SELECT doc_id,
               text || ' ' || array_to_string(
                   list_transform(
                       generate_series(0, greatest(
                           {_MIN_SALT_TOKENS}, 2 * len(regexp_split_to_array(trim(text), '{WS_CLASS}+'))) - 1),
                       j -> 'u' || CAST(doc_id AS VARCHAR) || 'x' || CAST(j AS VARCHAR)
                   ), ' ') AS text
        FROM documents""")


def _q_minhash_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH must recover exactly the planted duplicate pairs: identical
    text => identical signatures => est_jaccard 1.0 (never missed); a false
    positive at threshold 0.95 needs >=61/64 permutation agreement between
    texts whose true Jaccard is <0.35 after salting (probability ~1e-30)."""
    pairs = minhash_dedup_pairs(
        _planted_corpus(spark, sf_dir, salt=True), "doc_id", "text", threshold=0.95
    )
    return pairs.select("id_a", "id_b")


def _q_minhash_planted_xx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 64-bit xxhash64 MinHash family (the documented scale path beyond
    crc32's ~1e9-distinct-shingle ceiling, operators/dedup.py
    minhash_signatures_xx) under the same planted-duplicate invariant:
    identical text => identical 64-bit signatures => every planted pair
    recovered; a false positive at threshold 0.95 needs >=61/64 independent
    64-bit min-hash agreements between salted near-disjoint shingle sets."""
    pairs = minhash_dedup_pairs(
        _planted_corpus(spark, sf_dir, salt=True),
        "doc_id",
        "text",
        threshold=0.95,
        hash_family="xxhash64",
    )
    return pairs.select("id_a", "id_b")


def _q_simhash_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded Hamming search at max_hamming=0 must recover exactly
    the planted identical-text pairs (the salted corpus keeps every
    non-planted pair dozens of token flips apart)."""
    pairs = simhash_dedup_pairs(
        _planted_corpus(spark, sf_dir, salt=True), "doc_id", "text", max_hamming=0
    )
    return pairs.select("id_a", "id_b")


def _q_fingerprint_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash doc fingerprint equality == text equality on the planted
    corpus (2^61-1 modulus: collision odds are negligible and a collision
    would be caught as a hash mismatch here)."""
    fp = with_fingerprint(_planted_corpus(spark, sf_dir), "text").select("doc_id", "doc_hash")
    a = fp.select(F.col("doc_id").alias("id_a"), F.col("doc_hash").alias("h"))
    b = fp.select(F.col("doc_id").alias("id_b"), F.col("doc_hash").alias("h"))
    return (
        a.join(b, "h")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )


_NGRAM_DOCS = 150
_NGRAM_K = 3
_NGRAM_THRESHOLD = 0.15


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(_docs(spark, sf_dir)).where(F.col("doc_id") < _NGRAM_DOCS)
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", k=_NGRAM_K, threshold=_NGRAM_THRESHOLD)
    return pairs.select("id_a", "id_b", _e6(F.col("jaccard")).alias("jaccard_e6"))


_NGRAM_JACCARD_SQL = rf"""
            WITH toks AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '{WS_CLASS}+') AS t
                FROM documents WHERE doc_id < {_NGRAM_DOCS}
            ),
            sh AS (
                SELECT DISTINCT doc_id, shingle
                FROM (
                    SELECT doc_id,
                           unnest(list_transform(
                               generate_series(1, greatest(len(t) - {_NGRAM_K - 1}, 1)),
                               i -> array_to_string(t[i:i+{_NGRAM_K - 1}], ' '))) AS shingle
                    FROM toks
                ) WHERE length(shingle) > 0
            ),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
                FROM sh a JOIN sh b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            )
            SELECT id_a, id_b,
                   CAST(round(1000000 * (i * 1.0 / (sa.n + sb.n - i))) AS BIGINT)
                       AS jaccard_e6
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE i * 1.0 / (sa.n + sb.n - i) >= {_NGRAM_THRESHOLD}
        """

# the embedding_neardup pair threshold, which embedding_dedup_clusters reuses
_EMBEDDING_THRESHOLD = 0.3


def _q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = embedding_neardup_pairs(
        emb, "vec_id", "embedding", "label", threshold=_EMBEDDING_THRESHOLD
    )
    return pairs.select("id_a", "id_b", _e6(F.col("cosine")).alias("cosine_e6"))


_EMBEDDING_NEARDUP_SQL = f"""
            SELECT id_a, id_b, CAST(round(cosine * 1000000) AS BIGINT) AS cosine_e6
            FROM (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       round(list_cosine_similarity(
                           CAST(a.embedding AS DOUBLE[]),
                           CAST(b.embedding AS DOUBLE[])), 6) AS cosine
                FROM embeddings a
                JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
            ) WHERE cosine >= {_EMBEDDING_THRESHOLD}
        """


def _q_embedding_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-dup pairs (blocked cosine >= 0.3, the
    embedding_neardup query's exact pair set) fed through the same
    large-star/small-star connected components as the text path — every
    vector labeled with its component minimum, singletons labeling
    themselves. Closes the embedding modality's pairs -> clusters ->
    representative loop the way neardup_clusters closes MinHash's; the
    oracle is the same recursive-CTE min-reachable-label over the
    SQL-re-derived cosine pair set."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = embedding_neardup_pairs(
        emb, "vec_id", "embedding", "label", threshold=_EMBEDDING_THRESHOLD
    )
    return neardup_clusters(emb, "vec_id", pairs)


_EMBEDDING_DEDUP_CLUSTERS_SQL = _clusters_sql(
    _EMBEDDING_NEARDUP_SQL, "SELECT vec_id, vec_id FROM embeddings"
)


# ---------------------------------------------------------------------------
# rolling-hash fingerprints and substring dedup (operators/textstats.py). The
# hash is plain modular arithmetic, so DuckDB re-derives the RAW values with
# HUGEINT (int128) lambdas: Horner's rule over the codepoints mod FP_MOD.
# O(n·window) per doc is fine at driver scale; Spark-side it's the
# vectorized numpy kernel.
# ---------------------------------------------------------------------------

_ROLL = f"(acc, x) -> (acc * {FP_BASE} + x) % {FP_MOD}"

_CODES_CTE = """codes AS (
                SELECT doc_id,
                       list_transform(range(1, length(text) + 1),
                                      i -> CAST(unicode(text[i]) AS HUGEINT)) AS cs,
                       length(text) AS n
                FROM documents
            )"""

# the hash of every FP_WINDOW-char window of `cs`, by start position
_WINDOW_HASHES = (
    f"list_transform(range(1, n - {FP_WINDOW - 2}), "
    f"i -> list_reduce(cs[i:i+{FP_WINDOW - 1}], {_ROLL}))"
)


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_fingerprint(spread(_docs(spark, sf_dir)).select("doc_id", "text"), "text").select(
        "doc_id", "doc_hash", "min_gram_hash"
    )


# doc_hash = the hash of the whole text, min_gram_hash = the min over every
# window's hash (docs shorter than the window fall back to doc_hash —
# operators/textstats.py fingerprint_py / fingerprint_batch)
_FINGERPRINT_SQL = f"""
            WITH {_CODES_CTE},
            h AS (
                SELECT doc_id, n, cs,
                       CASE WHEN n = 0 THEN 0 ELSE list_reduce(cs, {_ROLL}) END AS doc_hash
                FROM codes
            )
            SELECT doc_id,
                   CAST(doc_hash AS BIGINT) AS doc_hash,
                   CAST(CASE WHEN n < {FP_WINDOW} THEN doc_hash ELSE
                       list_min({_WINDOW_HASHES})
                   END AS BIGINT) AS min_gram_hash
            FROM h
        """

# the candidate rule of every substring query: pairs sharing at least
# _SUBSTRING_MIN_SHARED winnowed fingerprints, none of which appears in more
# than _SUBSTRING_MAX_FP_FREQ documents
_SUBSTRING_MIN_SHARED = 2
_SUBSTRING_MAX_FP_FREQ = 1000

# Winnowed fingerprint sets and their candidate pairs (operators/textstats.py
# winnow_batch / substring_dup_pairs): whs holds every window hash (a text
# shorter than the window is one window), sel the distinct sliding minima
# over FP_GUARD consecutive window hashes (positional tie-breaks are
# value-irrelevant for a SET), kept the fingerprints under the
# document-frequency cap, cand the fp self-join.
_WINNOW_CTES = f"""{_CODES_CTE},
            whs AS (
                SELECT doc_id, n,
                       CASE WHEN n = 0 THEN [CAST(0 AS HUGEINT)]
                            WHEN n < {FP_WINDOW} THEN [list_reduce(cs, {_ROLL})]
                            ELSE {_WINDOW_HASHES}
                       END AS wh
                FROM codes
            ),
            sel AS (
                SELECT doc_id,
                       CASE WHEN len(wh) <= {FP_GUARD} THEN [list_min(wh)]
                            ELSE list_distinct(list_transform(range(1, len(wh) - {FP_GUARD - 2}),
                                j -> list_min(wh[j:j+{FP_GUARD - 1}])))
                       END AS fps
                FROM whs
            ),
            fp AS (SELECT doc_id, unnest(fps) AS fp FROM sel),
            kept AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= {_SUBSTRING_MAX_FP_FREQ}),
            fpk AS (SELECT f.doc_id, f.fp FROM fp f JOIN kept USING (fp)),
            cand AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fps
                FROM fpk a JOIN fpk b ON a.fp = b.fp AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
                HAVING count(*) >= {_SUBSTRING_MIN_SHARED}
            )"""

# Exact verification (operators/textstats.py substring_overlap): per
# candidate pair, the size of the intersection of the two docs' FULL
# (un-winnowed) distinct window-hash sets; pairs sharing none have no row.
_VERIFY_CTES = """wdist AS (
                SELECT doc_id, unnest(list_distinct(wh)) AS w FROM whs
            ),
            shared AS (
                SELECT c.id_a, c.id_b, count(*) AS shared_windows
                FROM cand c
                JOIN wdist wa ON wa.doc_id = c.id_a
                JOIN wdist wb ON wb.doc_id = c.id_b AND wb.w = wa.w
                GROUP BY c.id_a, c.id_b
            )"""


def _q_substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication candidates: winnowed fingerprint sets
    (operators/textstats.py winnow_batch — window 16, guard 4, the MOSS
    selection) -> stop-fp document-frequency cap -> fp equi-join -> pairs
    sharing >= 2 fingerprints. The oracle re-derives the identical winnow
    sets with HUGEINT rolling-hash lambdas and the same df cap in SQL."""
    return substring_dup_pairs(
        spread(_docs(spark, sf_dir)), "doc_id", "text",
        min_shared=_SUBSTRING_MIN_SHARED, max_fp_freq=_SUBSTRING_MAX_FP_FREQ,
    )


_SUBSTRING_DUP_SQL = f"""
            WITH {_WINNOW_CTES}
            SELECT id_a, id_b, shared_fps FROM cand
        """


def _q_substring_dup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full substring-dup pipeline: winnowed candidates
    (substring_dup_pairs) -> EXACT verification via full window-hash set
    intersection (substring_overlap) — shared_windows lower-bounds shared
    contiguous content by L - window + 1. The oracle re-derives candidates
    AND the intersection counts entirely in SQL."""
    docs = spread(_docs(spark, sf_dir))
    cands = substring_dup_pairs(
        docs, "doc_id", "text",
        min_shared=_SUBSTRING_MIN_SHARED, max_fp_freq=_SUBSTRING_MAX_FP_FREQ,
    )
    return substring_overlap(docs, cands, "doc_id", "text")


# zero-overlap candidates keep an explicit 0 row
_SUBSTRING_DUP_VERIFIED_SQL = f"""
            WITH {_WINNOW_CTES},
            {_VERIFY_CTES}
            SELECT c.id_a, c.id_b,
                   COALESCE(s.shared_windows, 0) AS shared_windows
            FROM cand c LEFT JOIN shared s USING (id_a, id_b)
        """

# substring_dedup_apply removes the spans of pairs sharing this many windows
_DEDUP_MIN_WINDOWS = 25


def _q_substring_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The substring-dedup loop CLOSED: winnowed candidates -> exact
    window-hash verification -> pairs with >= 25 shared windows (>= ~40
    shared chars) -> substring_dedup removes the duplicated spans from the
    LATER doc of each pair (keep-first policy). Output is the full
    deduplicated corpus — per doc the before/after char counts AND the
    deduped text itself, value-hash checked against a DuckDB oracle that
    replays candidates, verification, span marking, and character removal
    entirely in SQL."""
    docs = spread(_docs(spark, sf_dir)).select("doc_id", "text")
    cands = substring_dup_pairs(
        docs, "doc_id", "text",
        min_shared=_SUBSTRING_MIN_SHARED, max_fp_freq=_SUBSTRING_MAX_FP_FREQ,
    )
    verified = substring_overlap(docs, cands, "doc_id", "text").where(
        F.col("shared_windows") >= _DEDUP_MIN_WINDOWS
    )
    out = substring_dedup(docs, verified, "doc_id", "text")
    return out.select(
        "doc_id",
        "n_chars_before",
        "n_chars_after",
        F.col("text").alias("text_deduped"),
    )


# The dedup ACTION replayed in SQL: the candidate + verification CTEs of
# substring_dup_verified, then pairs with >= _DEDUP_MIN_WINDOWS shared
# windows, span marking on the id_b side (a positional window hash of dst
# found in any partner's distinct set covers chars [i, i+FP_WINDOW)), and
# character-level removal via per-position anti-join + string_agg.
_SUBSTRING_DEDUP_APPLY_SQL = f"""
            WITH {_WINNOW_CTES},
            {_VERIFY_CTES},
            verified AS (
                SELECT id_a, id_b FROM shared
                WHERE shared_windows >= {_DEDUP_MIN_WINDOWS}
            ),
            partner AS (
                SELECT DISTINCT v.id_b AS doc_id, wa.w
                FROM verified v JOIN wdist wa ON wa.doc_id = v.id_a
            ),
            pos AS (
                SELECT w2.doc_id,
                       unnest(w2.wh) AS wh_i,
                       unnest(range(1, len(w2.wh) + 1)) AS i
                FROM whs w2
                JOIN (SELECT DISTINCT doc_id FROM partner) t USING (doc_id)
                WHERE w2.n >= {FP_WINDOW}
            ),
            hits AS (
                SELECT DISTINCT p.doc_id, p.i
                FROM pos p
                JOIN partner q ON q.doc_id = p.doc_id AND q.w = p.wh_i
            ),
            cover AS (
                SELECT DISTINCT doc_id, unnest(range(i, i + {FP_WINDOW})) AS p
                FROM hits
            ),
            hitdocs AS (SELECT DISTINCT doc_id FROM hits),
            chars AS (
                SELECT d.doc_id,
                       unnest(range(1, length(d.text) + 1)) AS p,
                       unnest(list_transform(range(1, length(d.text) + 1),
                                             i -> d.text[i])) AS ch
                FROM documents d JOIN hitdocs USING (doc_id)
            ),
            strip AS (
                SELECT c.doc_id, string_agg(c.ch, '' ORDER BY c.p) AS newt
                FROM chars c
                LEFT JOIN cover v ON v.doc_id = c.doc_id AND v.p = c.p
                WHERE v.p IS NULL
                GROUP BY c.doc_id
            )
            SELECT d.doc_id,
                   length(d.text)::BIGINT AS n_chars_before,
                   length(CASE WHEN h.doc_id IS NOT NULL
                               THEN COALESCE(s.newt, '')
                               ELSE d.text END)::BIGINT AS n_chars_after,
                   CASE WHEN h.doc_id IS NOT NULL
                        THEN COALESCE(s.newt, '')
                        ELSE d.text END AS text_deduped
            FROM documents d
            LEFT JOIN hitdocs h USING (doc_id)
            LEFT JOIN strip s ON s.doc_id = d.doc_id
        """

QUERIES = {
    "exact_dedup": (_q_exact_dedup, _EXACT_DEDUP_SQL),
    "minhash_neardup": (_q_minhash_neardup, _MINHASH_NEARDUP_SQL),
    "neardup_clusters": (_q_neardup_clusters, _NEARDUP_CLUSTERS_SQL),
    "simhash": (_q_simhash, _simhash_oracle_sql()),
    "minhash_planted": (_q_minhash_planted, _PLANTED_SALTED_PAIRS_SQL),
    "minhash_planted_xx": (_q_minhash_planted_xx, _PLANTED_SALTED_PAIRS_SQL),
    "simhash_planted": (_q_simhash_planted, _PLANTED_SALTED_PAIRS_SQL),
    "fingerprint_planted": (_q_fingerprint_planted, _PLANTED_PAIRS_SQL),
    "ngram_jaccard": (_q_ngram_jaccard, _NGRAM_JACCARD_SQL),
    "embedding_neardup": (_q_embedding_neardup, _EMBEDDING_NEARDUP_SQL),
    "embedding_dedup_clusters": (_q_embedding_dedup_clusters, _EMBEDDING_DEDUP_CLUSTERS_SQL),
    "fingerprint": (_q_fingerprint, _FINGERPRINT_SQL),
    "substring_dup": (_q_substring_dup, _SUBSTRING_DUP_SQL),
    "substring_dup_verified": (_q_substring_dup_verified, _SUBSTRING_DUP_VERIFIED_SQL),
    "substring_dedup_apply": (_q_substring_dedup_apply, _SUBSTRING_DEDUP_APPLY_SQL),
}
