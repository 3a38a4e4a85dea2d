"""Registry curation queries — language ID, quality, token counts, the LM
score and its ranking, PII, decontamination, repetition, document
frequency, packing, keyed sampling, splits and the mix — each beside its
DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.curation import (
    PII_PATTERNS, REDACTION_TOKEN, contamination_check, redact_pii, with_pii_counts,
)
from ..operators.dedup import WS_CLASS, tokens_col
from ..operators.packing import pack_emit, pack_sequences
from ..operators.sampling import hash_split, rebalance_fractions, source_mix, stratified_sample
from ..operators.textstats import (
    BPE_PAT, DE_PAT, EN_PAT, PUNCT_PAT, TOKEN_PAT, bigram_lm_scores, doc_frequency,
    repetition_stats, with_lang_id, with_quality_score, with_token_counts,
)
from ..sources.tables import spread
from .common import _CRC32_EXPR, _CRC32_TABLE_CTE, _docs, _e6


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_lang_id(spread(_docs(spark, sf_dir)), "text").select(
        "doc_id", "de_hits", "en_hits", "lang_pred"
    )


_LANG_ID_SQL = rf"""
            SELECT doc_id,
                   len(regexp_extract_all(lower(text), '{DE_PAT}')) AS de_hits,
                   len(regexp_extract_all(lower(text), '{EN_PAT}')) AS en_hits,
                   CASE
                     WHEN len(regexp_extract_all(lower(text), '{DE_PAT}')) = 0
                      AND len(regexp_extract_all(lower(text), '{EN_PAT}')) = 0
                       THEN 'unknown'
                     WHEN len(regexp_extract_all(lower(text), '{DE_PAT}'))
                       >= len(regexp_extract_all(lower(text), '{EN_PAT}'))
                       THEN 'de'
                     ELSE 'en'
                   END AS lang_pred
            FROM documents
        """


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = with_quality_score(spread(_docs(spark, sf_dir)), "text")
    return out.select(
        "doc_id",
        "n_tokens",
        _e6(F.col("punct_ratio")).alias("punct_ratio_e6"),
        _e6(F.col("stopword_ratio")).alias("stopword_ratio_e6"),
        _e6(F.col("mean_token_len")).alias("mean_token_len_e6"),
        _e6(F.col("quality_score")).alias("quality_score_e6"),
    )


# operators/textstats.py with_quality_score, shared by quality_score and
# corpus_curation: the per-document counts, the ratios over them, and the
# score over the ratios
_QUALITY_COUNTS = rf"""length(text) AS n_chars,
                       len(regexp_extract_all(text, '{TOKEN_PAT}')) AS n_tokens,
                       len(regexp_extract_all(text, '{PUNCT_PAT}')) AS n_punct,
                       len(regexp_extract_all(lower(text), '{EN_PAT}'))
                         + len(regexp_extract_all(lower(text), '{DE_PAT}')) AS n_stop,
                       len(regexp_extract_all(text, '{WS_CLASS}')) AS n_ws"""

_QUALITY_RATIOS = """round(n_punct * 1.0 / greatest(n_chars, 1), 6) AS punct_ratio,
                       round(n_stop * 1.0 / greatest(n_tokens, 1), 6) AS stopword_ratio,
                       round((n_chars - n_ws) * 1.0 / greatest(n_tokens, 1), 6)
                           AS mean_token_len"""

_QUALITY_SCORE = """round(
                       least(stopword_ratio * 4, 1.0) * 0.4
                       + CASE WHEN mean_token_len >= 3 AND mean_token_len <= 10
                              THEN 0.4 ELSE 0.1 END
                       + CASE WHEN punct_ratio <= 0.05 THEN 0.2 ELSE 0.05 END, 6)"""

_QUALITY_SCORE_SQL = f"""
            WITH feats AS (
                SELECT doc_id,
                       {_QUALITY_COUNTS}
                FROM documents
            ),
            ratios AS (
                SELECT doc_id, n_tokens,
                       {_QUALITY_RATIOS}
                FROM feats
            )
            SELECT doc_id, n_tokens,
                   CAST(round(punct_ratio * 1000000) AS BIGINT) AS punct_ratio_e6,
                   CAST(round(stopword_ratio * 1000000) AS BIGINT) AS stopword_ratio_e6,
                   CAST(round(mean_token_len * 1000000) AS BIGINT) AS mean_token_len_e6,
                   CAST(round({_QUALITY_SCORE}
                       * 1000000) AS BIGINT) AS quality_score_e6
            FROM ratios
        """


def _q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_token_counts(spread(_docs(spark, sf_dir)), "text").select(
        "doc_id", "n_tokens", "n_bpe_tokens"
    )


_TOKEN_COUNT_SQL = rf"""
            SELECT doc_id,
                   len(regexp_extract_all(text, '{TOKEN_PAT}')) AS n_tokens,
                   len(regexp_extract_all(text, '{BPE_PAT}')) AS n_bpe_tokens
            FROM documents
        """


def _keyed_crc32_ctes(salt: int) -> str:
    """CTE `h`: every document with hv = crc32("<doc_id>:<salt>"), the keyed
    hash of operators/sampling.py. Digits and ':' are ASCII, so the
    unicode-byte CRC-32 form is exact."""
    return f"""{_CRC32_TABLE_CTE},
            keyed AS (
                SELECT *, CAST(doc_id AS VARCHAR) || ':{salt}' AS s
                FROM documents
            ),
            h AS (
                SELECT keyed.*, {_CRC32_EXPR.format(col="s", extra="")} AS hv
                FROM keyed, t
            )"""


_SAMPLE_FRACTIONS = {"src0": 1.0, "src3": 0.5, "src7": 0.25, "src12": 0.1}
_SAMPLE_SALT = 5


def _q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic keyed stratified sampling (operators/sampling.py):
    keep iff crc32(doc_id + ':5') < per-source fraction * 2^32 — the
    reproducible hash-Bernoulli every large pipeline uses instead of RNG.
    The oracle recomputes the exact same CRC-32 decision in SQL."""
    docs = _docs(spark, sf_dir)
    return stratified_sample(
        docs, "doc_id", "source", _SAMPLE_FRACTIONS, salt=_SAMPLE_SALT
    ).select("doc_id", "source")


_SAMPLE_STRATIFIED_SQL = f"""
            WITH {_keyed_crc32_ctes(_SAMPLE_SALT)}
            SELECT doc_id, source FROM h
            WHERE hv < CASE source
                {" ".join(f"WHEN '{s}' THEN {int(f * (1 << 32))}" for s, f in _SAMPLE_FRACTIONS.items())}
                ELSE 0 END
        """


def _q_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-composition report: per-source doc count, n_chars weight and
    integral ppm share — the input to a training-mix decision."""
    return source_mix(_docs(spark, sf_dir), "source", "n_chars")


# operators/sampling.py source_mix, shared by source_mix and mix_rebalance:
# the per-source count and n_chars weight of a table, then each source's
# integral ppm share in the operator's association
_MIX_AGG = """SELECT source AS stratum, count(*) AS n_docs,
                       SUM(n_chars)::BIGINT AS weight
                FROM {} GROUP BY source"""

_MIX_SHARES = """SELECT stratum, n_docs, weight,
                   CAST(round(weight * 1000000.0 / (SELECT SUM(weight) FROM {0}))
                        AS BIGINT) AS share_e6
            FROM {0}"""

_SOURCE_MIX_SQL = f"""
            WITH agg AS (
                {_MIX_AGG.format("documents")}
            )
            {_MIX_SHARES.format("agg")}
        """


def _q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring (operators/textstats.py
    bigram_lm_scores): per-doc average ln-probability under an
    add-one-smoothed bigram model trained on the corpus itself
    (self-perplexity). The oracle retrains the identical model in SQL —
    bigram/context counts, vocabulary size, smoothing algebra, ln — and
    re-derives every score (same measure-zero ln-rounding caveat as the
    char-entropy oracle)."""
    out = bigram_lm_scores(spread(_docs(spark, sf_dir)), "doc_id", "text")
    return out.select("id", "n_bigrams", _e6(F.col("avg_logprob")).alias("avg_logprob_e6"))


# Bigram LM retrained from scratch in SQL: zipped positional unnests give
# (a, b) pairs, two GROUP BYs give the model, and lp replays
# ln((c_ab + 1) / (c_a + V)) per scored bigram with the same double casts
# as the Spark side. Self-reference model => every scored bigram exists in
# the counts, so inner joins suffice.
_BIGRAM_LP_CTES = rf"""toks AS (
                SELECT doc_id, source,
                       list_filter(regexp_split_to_array(trim(text), '{WS_CLASS}+'),
                                   t -> length(t) > 0) AS t
                FROM documents
            ),
            bi AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(t)), i -> t[i])) AS a,
                       unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS b
                FROM toks WHERE len(t) >= 2
            ),
            counts AS (SELECT a, b, count(*) AS c_ab FROM bi GROUP BY a, b),
            ctx AS (SELECT a, count(*) AS c_a FROM bi GROUP BY a),
            vocab AS (SELECT count(DISTINCT x) AS v
                      FROM (SELECT unnest(t) AS x FROM toks)),
            lp AS (
                SELECT d.doc_id,
                       ln((c.c_ab + 1)::DOUBLE / (x.c_a + vocab.v)::DOUBLE) AS lp
                FROM bi d
                JOIN counts c USING (a, b)
                JOIN ctx x USING (a), vocab
            )"""

# the two-step rounding (round(avg, 6) then *1e6) of the Spark side
_BIGRAM_LM_SQL = f"""
            WITH {_BIGRAM_LP_CTES},
            sc AS (
                SELECT doc_id, count(*) AS n_bigrams,
                       round(avg(lp), 6) AS avg_logprob
                FROM lp GROUP BY doc_id
            )
            SELECT t.doc_id AS id,
                   COALESCE(sc.n_bigrams, 0) AS n_bigrams,
                   CAST(round(sc.avg_logprob * 1000000) AS BIGINT)
                       AS avg_logprob_e6
            FROM toks t LEFT JOIN sc USING (doc_id)
        """

_TOP_PER_SOURCE = 3


def _q_quality_topk_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked curation: the top-3 documents per source by bigram-LM score
    (higher avg ln-prob = more reference-like text) — the 'keep the best N
    per stratum' selection step of a curation recipe. Only scored documents
    rank: one with no bigram has no score and never fills a source's slots.
    Ranking runs on the E6-ROUNDED score with doc_id tie-break: the rounded
    integers are the hash-matched contract, so cross-engine ulp drift in
    the raw doubles can never flip a rank. One window over a per-source
    partition — no global sort."""
    docs = spread(_docs(spark, sf_dir))
    scored = (
        bigram_lm_scores(docs, "doc_id", "text")
        .join(docs.select(F.col("doc_id").alias("id"), "source"), "id")
        .select("id", "source", _e6(F.col("avg_logprob")).alias("avg_logprob_e6"))
        .where(F.col("avg_logprob_e6").isNotNull())
    )
    w = Window.partitionBy("source").orderBy(
        F.col("avg_logprob_e6").desc(), F.col("id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _TOP_PER_SOURCE)
        .select("source", F.col("id").alias("doc_id"), "rk", "avg_logprob_e6")
    )


# ranked selection over the e6-rounded LM scores (the hash-matched
# integers — raw-double ordering could flip ranks on ulp drift)
_QUALITY_TOPK_PER_SOURCE_SQL = f"""
            WITH {_BIGRAM_LP_CTES},
            sc AS (
                SELECT doc_id,
                       CAST(round(round(avg(lp), 6) * 1000000) AS BIGINT)
                           AS avg_logprob_e6
                FROM lp GROUP BY doc_id
            ),
            ranked AS (
                SELECT t.source, t.doc_id, sc.avg_logprob_e6,
                       row_number() OVER (
                           PARTITION BY t.source
                           ORDER BY sc.avg_logprob_e6 DESC, t.doc_id ASC
                       ) AS rk
                FROM toks t LEFT JOIN sc USING (doc_id)
                WHERE sc.avg_logprob_e6 IS NOT NULL
            )
            SELECT source, doc_id, CAST(rk AS INT) AS rk, avg_logprob_e6
            FROM ranked WHERE rk <= {_TOP_PER_SOURCE}
        """

_SPLITS = [("train", 0.8), ("val", 0.1), ("test", 0.1)]
_SPLIT_SALT = 7


def _q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test partition by keyed CRC-32
    cumulative thresholds (operators/sampling.py hash_split) — every doc in
    exactly one split, stable under repartition/retry and consistent with
    any derived table keyed by doc_id. The oracle applies the identical
    integer thresholds (computed by the same Python float accumulation,
    embedded as literals) to the same in-SQL CRC-32."""
    docs = _docs(spark, sf_dir)
    return hash_split(docs, "doc_id", _SPLITS, salt=_SPLIT_SALT).select("doc_id", "split")


def _hash_split_oracle_sql() -> str:
    """Split thresholds computed by the SAME Python float accumulation
    hash_split uses, embedded as integer literals — both engines then
    compare the identical CRC-32 against the identical integers."""
    cum, whens = 0.0, []
    for name, frac in _SPLITS[:-1]:
        cum += frac
        whens.append(f"WHEN hv < {int(cum * 4294967296)} THEN '{name}'")
    return f"""
            WITH {_keyed_crc32_ctes(_SPLIT_SALT)}
            SELECT doc_id,
                   CASE {" ".join(whens)} ELSE '{_SPLITS[-1][0]}' END AS split
            FROM h
        """


_MIX_TARGET = {"src0": 50.0, "src1": 30.0, "src2": 20.0}
_MIX_SALT = 11


def _q_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mix-shaping loop END-TO-END: source_mix (observed composition)
    -> rebalance_fractions (driver-side downsample-only solver) ->
    stratified_sample (keyed CRC-32 Bernoulli with the solved per-stratum
    fractions) -> source_mix again, reporting the ACHIEVED mix. The
    oracle replays the whole loop in SQL — aggregation, the solver's
    arithmetic in the exact same float-op order (integer-valued target
    shares keep the sums exact; every division/multiplication mirrors
    operators/sampling.py rebalance_fractions), threshold truncation, the
    CRC-32 keep decision, and the re-aggregation — so the solver itself
    is hash-checked against the engine, not just unit-tested. Target mix
    50/30/20 over src0/src1/src2; all other strata drop to 0 (an explicit
    mix decision)."""
    docs = _docs(spark, sf_dir)
    current = {
        r["stratum"]: float(r["weight"])
        for r in source_mix(docs, "source", "n_chars").collect()
    }
    fractions = rebalance_fractions(current, _MIX_TARGET)
    sampled = stratified_sample(docs, "doc_id", "source", fractions, salt=_MIX_SALT)
    return source_mix(sampled, "source", "n_chars")


# The full mix-shaping loop replayed in SQL. Float-op order mirrors
# rebalance_fractions EXACTLY (ratio = c / (t / tot_t); f =
# least(1.0, k * (t / tot_t) / c); threshold = trunc(f * 2^32)) so
# both engines evaluate the identical IEEE doubles; target shares
# are integer-valued, keeping their sum exact under any order.
_MIX_REBALANCE_SQL = f"""
            WITH {_keyed_crc32_ctes(_MIX_SALT)},
            agg AS (
                {_MIX_AGG.format("documents")}
            ),
            tgt(stratum, share) AS (
                VALUES {", ".join(f"('{s}', {w})" for s, w in _MIX_TARGET.items())}
            ),
            tott AS (SELECT SUM(share) AS ts FROM tgt),
            ratios AS (
                SELECT g.stratum,
                       a.weight::DOUBLE AS c,
                       g.share / ts AS tshare,
                       a.weight::DOUBLE / (g.share / ts) AS ratio
                FROM tgt g JOIN agg a USING (stratum), tott
            ),
            kk AS (SELECT MIN(ratio) AS k FROM ratios),
            thr AS (
                SELECT stratum,
                       CAST(trunc(LEAST(1.0, k * tshare / c) * 4294967296.0)
                            AS BIGINT) AS thr
                FROM ratios, kk
            ),
            samp AS (
                SELECT h.doc_id, h.source, h.n_chars
                FROM h JOIN thr ON thr.stratum = h.source AND h.hv < thr.thr
            ),
            agg2 AS (
                {_MIX_AGG.format("samp")}
            )
            {_MIX_SHARES.format("agg2")}
        """

_SEQ_LEN = 2048


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing over the documents table: whitespace
    token counts (the token_count contract), deterministic doc_id-order
    concatenation, seq_len=2048 — per doc its stream start, first pack,
    offset, and spanned-pack count. Spark computes the global prefix sum
    with the two-pass bucketed pattern (operators/packing.py); the oracle
    is the plain windowed SUM the pattern is provably equal to."""
    docs = with_token_counts(spread(_docs(spark, sf_dir)).select("doc_id", "text"), "text")
    return pack_sequences(docs, "doc_id", "n_tokens", _SEQ_LEN).select(
        "doc_id", "n_tokens", "start_offset", "pack_id", "pack_offset", "n_packs_spanned"
    )


# the windowed SUM form the two-pass bucketed prefix sum is provably equal
# to; integer div/mod throughout
_PACK_SEQUENCES_SQL = rf"""
            WITH tc AS (
                SELECT doc_id,
                       len(regexp_extract_all(text, '{TOKEN_PAT}'))::BIGINT AS n_tokens
                FROM documents
            ),
            c AS (
                SELECT doc_id, n_tokens,
                       COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
                           AS start_offset
                FROM tc
            )
            SELECT doc_id, n_tokens, start_offset,
                   (start_offset // {_SEQ_LEN})::BIGINT AS pack_id,
                   (start_offset % {_SEQ_LEN})::BIGINT AS pack_offset,
                   CASE WHEN n_tokens = 0 THEN 0
                        ELSE (start_offset + n_tokens - 1) // {_SEQ_LEN}
                             - start_offset // {_SEQ_LEN} + 1
                   END::BIGINT AS n_packs_spanned
            FROM c
        """

_EMIT_SEQ_LEN = 128


def _q_pack_emit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packing WRITER: pack_sequences' offsets gathered into actual
    fixed-length token sequences (seq_len=128 so the corpus yields many
    packs), one row per pack with the token stream and the in-pack
    document-start positions. Arrays flatten to \\x1f- / comma-joined
    strings for the driver's scalar value-hash; the oracle rebuilds every
    pack from the raw table with a positional unnest + windowed prefix
    sum."""
    docs = spread(_docs(spark, sf_dir)).select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.regexp_extract_all("text", F.lit(TOKEN_PAT), 0).alias("toks")
    )
    counted = toks.select(
        "doc_id", F.size("toks").cast("long").alias("n_tokens")
    )
    packed = pack_sequences(counted, "doc_id", "n_tokens", _EMIT_SEQ_LEN)
    out = pack_emit(packed, toks, "doc_id", "toks", _EMIT_SEQ_LEN)
    return out.select(
        "pack_id",
        "n_tokens",
        F.concat_ws("\x1f", "tokens").alias("tokens_cat"),
        F.concat_ws(
            ",", F.transform("doc_breaks", lambda b: b.cast("string"))
        ).alias("breaks_cat"),
    )


# Writer oracle: the packed streams rebuilt from scratch — global token
# positions via the windowed prefix sum + a zipped positional unnest,
# packs = GROUP BY p // seq_len with ORDER BY p string_aggs, breaks =
# start_offset mod seq_len of every nonempty doc grouped by its starting
# pack.
_PACK_EMIT_SQL = rf"""
            WITH tc AS (
                SELECT doc_id, regexp_extract_all(text, '{TOKEN_PAT}') AS toks
                FROM documents
            ),
            c AS (
                SELECT doc_id, toks, len(toks)::BIGINT AS n_toks,
                       COALESCE(SUM(len(toks)) OVER (ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
                           AS start_offset
                FROM tc
            ),
            pos AS (
                SELECT start_offset + unnest(range(0, len(toks))) AS p,
                       unnest(toks) AS tok
                FROM c WHERE n_toks > 0
            ),
            packs AS (
                SELECT p // {_EMIT_SEQ_LEN} AS pack_id,
                       count(*)::INT AS n_tokens,
                       string_agg(tok, chr(31) ORDER BY p) AS tokens_cat
                FROM pos GROUP BY p // {_EMIT_SEQ_LEN}
            ),
            br AS (
                SELECT start_offset // {_EMIT_SEQ_LEN} AS pack_id,
                       start_offset % {_EMIT_SEQ_LEN} AS b
                FROM c WHERE n_toks > 0
            ),
            brl AS (
                SELECT pack_id,
                       string_agg(CAST(b AS VARCHAR), ',' ORDER BY b) AS breaks_cat
                FROM br GROUP BY pack_id
            )
            SELECT p.pack_id, p.n_tokens, p.tokens_cat,
                   COALESCE(l.breaks_cat, '') AS breaks_cat
            FROM packs p LEFT JOIN brl l USING (pack_id)
        """


def _pii_augmented_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with deterministic synthetic PII appended (the raw corpus
    is plain words, so PII operators would be vacuously all-zero): emails on
    doc_id%3==0, phones on %4==1, IPv4 on %5==2, IBAN on %7==3 — some docs
    get several kinds, some none. The SAME augmentation is a string concat
    in the DuckDB oracle."""
    d = F.col("doc_id")
    txt = F.col("text")
    txt = F.when(
        d % 3 == 0,
        F.concat(txt, F.lit(" Kontakt: user"), d.cast("string"), F.lit("@beispiel.de")),
    ).otherwise(txt)
    txt = F.when(
        d % 4 == 1,
        F.concat(txt, F.lit(" Tel. +49-3012-"), F.lpad((d % 10000).cast("string"), 4, "0")),
    ).otherwise(txt)
    txt = F.when(
        d % 5 == 2,
        F.concat(txt, F.lit(" Host 10.0."), (d % 256).cast("string"), F.lit(".7")),
    ).otherwise(txt)
    txt = F.when(
        d % 7 == 3, F.concat(txt, F.lit(" IBAN DE89 3704 0044 0532 0130"))
    ).otherwise(txt)
    return spread(_docs(spark, sf_dir)).select("doc_id", txt.alias("text"))


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (operators/curation.py): per-class counts
    and the typed-token redacted text, all regexp Columns — byte-compared
    against the DuckDB oracle applying the same regexes with the 'g' flag."""
    docs = _pii_augmented_docs(spark, sf_dir)
    out = redact_pii(with_pii_counts(docs, "text"), "text")
    return out.select(
        "doc_id", "n_email", "n_phone", "n_ipv4", "n_iban", "n_pii", "has_pii", "redacted"
    )


def _pii_oracle_sql() -> str:
    """PII counts + typed-token redaction re-derived in DuckDB with the
    SAME regex strings (operators/curation.py PII_PATTERNS). Counting
    mirrors the operator's sequential consumption: each class counts on the
    text with higher-precedence classes already redacted (so an IBAN's
    phone-shaped digit groups never double-count), via staged CTE columns
    t0..tN; redaction is the same chained regexp_replace(..., 'g'). The
    synthetic PII augmentation is the same string concat as
    _pii_augmented_docs."""
    aug = (
        "CASE WHEN doc_id % 3 = 0 THEN text || ' Kontakt: user' "
        "|| CAST(doc_id AS VARCHAR) || '@beispiel.de' ELSE text END"
    )
    aug = (
        f"CASE WHEN doc_id % 4 = 1 THEN ({aug}) || ' Tel. +49-3012-' "
        f"|| lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE ({aug}) END"
    )
    aug = (
        f"CASE WHEN doc_id % 5 = 2 THEN ({aug}) || ' Host 10.0.' "
        f"|| CAST(doc_id % 256 AS VARCHAR) || '.7' ELSE ({aug}) END"
    )
    aug = (
        f"CASE WHEN doc_id % 7 = 3 THEN ({aug}) || ' IBAN DE89 3704 0044 0532 0130' "
        f"ELSE ({aug}) END"
    )
    # staged texts: t0 = augmented input, t(i+1) = t(i) with class i redacted;
    # n_<kind_i> counts on t(i) — exactly the operator's sequential columns
    stages = []
    red = "t0"
    counts = []
    for kind, pat in PII_PATTERNS.items():
        counts.append(f"len(regexp_extract_all({red}, '{pat}')) AS n_{kind}")
        tok = REDACTION_TOKEN.format(kind=kind)
        nxt = f"t{len(stages) + 1}"
        stages.append(f"regexp_replace({red}, '{pat}', '{tok}', 'g') AS {nxt}")
        red = nxt
    total = " + ".join(f"n_{kind}" for kind in PII_PATTERNS)
    counts_sql = ",\n                   ".join(counts)
    stages_sql = ",\n                   ".join(stages)
    return f"""
        WITH aug AS (
            SELECT doc_id, {aug} AS t0 FROM documents
        ),
        c AS (
            SELECT doc_id, t0,
                   {stages_sql},
                   {counts_sql}
            FROM aug
        )
        SELECT doc_id, n_email, n_phone, n_ipv4, n_iban,
               ({total}) AS n_pii,
               ({total}) > 0 AS has_pii,
               {red} AS redacted
        FROM c
    """


_GRAM_N = 13
_BENCH_EVERY = 97


def _q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/curation.py): documents sharing
    any 13-token gram with the 'benchmark' (every 97th document's text) are
    contaminated. Spark joins on a 64-bit gram hash (Arrow kernel, broadcast
    semi-join shape); the oracle joins on the gram STRING — identical
    results barring a 64-bit hash collision (~1e-11 at this gram count),
    the same argument as the minhash band oracle."""
    docs = spread(_docs(spark, sf_dir))
    bench = docs.where(F.col("doc_id") % _BENCH_EVERY == 0).select("text")
    out = contamination_check(docs, bench, "doc_id", "text", n=_GRAM_N)
    return out.select(
        F.col("id").alias("doc_id"), "contaminated_grams", "contaminated"
    )


_CONTAMINATION_SQL = rf"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '{WS_CLASS}+'),
                           t -> length(t) > 0) AS tk
        FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id, gram
        FROM (
            SELECT doc_id, unnest(list_transform(
                generate_series(1, greatest(len(tk) - {_GRAM_N - 1}, 1)),
                i -> array_to_string(tk[i:i+{_GRAM_N - 1}], ' '))) AS gram
            FROM toks
        ) WHERE length(gram) > 0
    ),
    bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % {_BENCH_EVERY} = 0),
    hits AS (
        SELECT g.doc_id, count(*) AS contaminated_grams
        FROM grams g JOIN bench b ON g.gram = b.gram
        GROUP BY g.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(h.contaminated_grams, 0) AS BIGINT)
               AS contaminated_grams,
           coalesce(h.contaminated_grams, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
"""


def _q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/diversity filters (operators/textstats.py
    repetition_stats): distinct-token ratio, top-token share, character
    entropy — every value re-derived in the DuckDB oracle from the same
    definitions (H = ln n - Σ c·ln c / n)."""
    out = repetition_stats(spread(_docs(spark, sf_dir)), "doc_id", "text")
    return out.select(
        F.col("id").alias("doc_id"),
        "n_tokens",
        _e6(F.col("distinct_token_ratio")).alias("distinct_token_ratio_e6"),
        _e6(F.col("top_token_ratio")).alias("top_token_ratio_e6"),
        _e6(F.col("char_entropy")).alias("char_entropy_e6"),
    )


# same definitions, same 6-dec rounding; entropy via the one-pass identity
# H = ln n - Σ c·ln c / n
_REPETITION_STATS_SQL = rf"""
            WITH toks AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '{WS_CLASS}+') AS tk
                FROM documents
            ),
            ratios AS (
                SELECT doc_id,
                       len(list_filter(tk, t -> length(t) > 0)) AS n_tokens,
                       round(len(list_distinct(list_filter(tk, t -> length(t) > 0))) * 1.0
                             / greatest(len(list_filter(tk, t -> length(t) > 0)), 1), 6)
                           AS dtr
                FROM toks
            ),
            tok_rows AS (
                SELECT doc_id, unnest(tk) AS tok FROM toks
            ),
            tok_counts AS (
                SELECT doc_id, tok, count(*) AS c FROM tok_rows
                WHERE length(tok) > 0 GROUP BY doc_id, tok
            ),
            top AS (
                SELECT doc_id, round(max(c) * 1.0 / sum(c), 6) AS ttr
                FROM tok_counts GROUP BY doc_id
            ),
            ch_counts AS (
                SELECT doc_id, ch, count(*) AS c
                FROM (
                    SELECT doc_id,
                           unnest(list_transform(range(1, length(text) + 1),
                                                 i -> text[i])) AS ch
                    FROM documents
                ) GROUP BY doc_id, ch
            ),
            ent AS (
                SELECT doc_id,
                       round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS h
                FROM ch_counts GROUP BY doc_id
            )
            SELECT r.doc_id,
                   CAST(r.n_tokens AS INT) AS n_tokens,
                   CAST(round(r.dtr * 1000000) AS BIGINT)
                       AS distinct_token_ratio_e6,
                   CAST(round(coalesce(t.ttr, 0.0) * 1000000) AS BIGINT)
                       AS top_token_ratio_e6,
                   CAST(round(coalesce(e.h, 0.0) * 1000000) AS BIGINT)
                       AS char_entropy_e6
            FROM ratios r
            LEFT JOIN top t ON t.doc_id = r.doc_id
            LEFT JOIN ent e ON e.doc_id = r.doc_id
        """

_MIN_DF = 2


def _q_doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    # count before the spread: the row count needs no text shuffle
    n = docs.count()
    out = doc_frequency(spread(docs), "doc_id", "text", n_docs=n, min_df=_MIN_DF)
    return out.select("token", "df_count", _e6(F.col("idf")).alias("idf_e6"))


_DOC_FREQUENCY_SQL = rf"""
            WITH toks AS (
                SELECT DISTINCT doc_id,
                       unnest(regexp_split_to_array(trim(text), '{WS_CLASS}+')) AS token
                FROM documents
            ),
            n AS (SELECT count(*) AS n_docs FROM documents)
            SELECT token, count(*) AS df_count,
                   CAST(round(ln(n.n_docs * 1.0 / count(*)) * 1000000) AS BIGINT)
                       AS idf_e6
            FROM toks, n
            WHERE length(token) > 0
            GROUP BY token, n.n_docs
            HAVING count(*) >= {_MIN_DF}
        """

_KEEP_LANG = "en"
_MIN_QUALITY = 0.65


def _q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite training-data pipeline in one plan: language ID ->
    quality floor -> exact dedup (keep min doc_id per distinct text) ->
    curated corpus. Single scan + one hash shuffle for the dedup; every
    stage is a Column expression (no Python)."""
    scored = with_quality_score(with_lang_id(spread(_docs(spark, sf_dir)), "text"), "text")
    kept = scored.where(
        (F.col("lang_pred") == _KEEP_LANG) & (F.col("quality_score") >= _MIN_QUALITY)
    )
    rep = kept.groupBy(F.md5("text").alias("h")).agg(F.min("doc_id").alias("doc_id"))
    return (
        kept.join(rep, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            _e6(F.col("quality_score")).alias("quality_score_e6"),
        )
    )


_CORPUS_CURATION_SQL = rf"""
            WITH feats AS (
                SELECT doc_id, text,
                       {_QUALITY_COUNTS},
                       len(regexp_extract_all(lower(text), '{DE_PAT}')) AS de_hits,
                       len(regexp_extract_all(lower(text), '{EN_PAT}')) AS en_hits
                FROM documents
            ),
            ratios AS (
                SELECT doc_id, text, n_tokens, de_hits, en_hits,
                       {_QUALITY_RATIOS}
                FROM feats
            ),
            scored AS (
                SELECT doc_id, text, n_tokens,
                       CASE WHEN de_hits = 0 AND en_hits = 0 THEN 'unknown'
                            WHEN de_hits >= en_hits THEN 'de'
                            ELSE 'en' END AS lang_pred,
                       {_QUALITY_SCORE} AS quality_score
                FROM ratios
            ),
            kept AS (
                SELECT * FROM scored
                WHERE lang_pred = '{_KEEP_LANG}' AND quality_score >= {_MIN_QUALITY}
            ),
            rep AS (
                SELECT md5(text) AS h, min(doc_id) AS doc_id FROM kept GROUP BY md5(text)
            )
            SELECT k.doc_id, k.n_tokens,
                   CAST(round(k.quality_score * 1000000) AS BIGINT) AS quality_score_e6
            FROM kept k JOIN rep r ON k.doc_id = r.doc_id
        """

_POSEXPLODE_DOCS = 100


def _q_posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(_docs(spark, sf_dir)).where(F.col("doc_id") < _POSEXPLODE_DOCS)
    return docs.select(
        "doc_id", F.posexplode(tokens_col(F.col("text"))).alias("pos", "token")
    )


_POSEXPLODE_TOKENS_SQL = rf"""
            WITH toks AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '{WS_CLASS}+') AS t
                FROM documents WHERE doc_id < {_POSEXPLODE_DOCS}
            )
            SELECT doc_id,
                   CAST(unnest(generate_series(1, len(t))) - 1 AS INT) AS pos,
                   unnest(t) AS token
            FROM toks
        """

QUERIES = {
    "lang_id": (_q_lang_id, _LANG_ID_SQL),
    "quality_score": (_q_quality, _QUALITY_SCORE_SQL),
    "token_count": (_q_token_count, _TOKEN_COUNT_SQL),
    "sample_stratified": (_q_sample_stratified, _SAMPLE_STRATIFIED_SQL),
    "source_mix": (_q_source_mix, _SOURCE_MIX_SQL),
    "bigram_lm": (_q_bigram_lm, _BIGRAM_LM_SQL),
    "quality_topk_per_source": (_q_quality_topk_per_source, _QUALITY_TOPK_PER_SOURCE_SQL),
    "hash_split": (_q_hash_split, _hash_split_oracle_sql()),
    "mix_rebalance": (_q_mix_rebalance, _MIX_REBALANCE_SQL),
    "pack_sequences": (_q_pack_sequences, _PACK_SEQUENCES_SQL),
    "pack_emit": (_q_pack_emit, _PACK_EMIT_SQL),
    # PII + decontamination (the gram join runs on xxhash64 in Spark and the
    # gram string in SQL — equivalent modulo a ~1e-11 64-bit collision)
    "pii_scrub": (_q_pii_scrub, _pii_oracle_sql()),
    "contamination": (_q_contamination, _CONTAMINATION_SQL),
    "repetition_stats": (_q_repetition_stats, _REPETITION_STATS_SQL),
    "doc_frequency": (_q_doc_frequency, _DOC_FREQUENCY_SQL),
    "corpus_curation": (_q_corpus_curation, _CORPUS_CURATION_SQL),
    "posexplode_tokens": (_q_posexplode_tokens, _POSEXPLODE_TOKENS_SQL),
}
