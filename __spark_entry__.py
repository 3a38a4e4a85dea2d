"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship iterative crawl over a corpus derived from
                 /root/testdata/sf0.001 (BFS frontier, robots, politeness,
                 bloom+anti-join dedup, extraction).
queries()      — one entry per implemented operator family (SURVEY.md §2 +
                 the training-data extensions); each callable
                 (spark, sf_dir) -> DataFrame.
oracle_sql()   — DuckDB-equivalent ANSI SQL for every SQL-expressible query.
                 Float outputs are emitted as round(x*1e6) BIGINTs on BOTH
                 sides so value hashes are engine-portable.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the text regexes: the Spark operators and the DuckDB oracle SQL below
# both use these strings
from crawler_german_localpoliticans_spark.operators.dedup import WS_CLASS, tokens_col
from crawler_german_localpoliticans_spark.operators.textstats import (
    BPE_PAT,
    DE_PAT,
    EN_PAT,
    PUNCT_PAT,
    TOKEN_PAT,
)
from crawler_german_localpoliticans_spark.sources.tables import spread

SF0001 = "/root/testdata/sf0.001"

GATE_WORDS = ("join", "filter", "window")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table as scanned; `spread` it before heavy per-document
    work."""
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _e6(col) -> F.Column:
    return F.round(col * 1000000).cast("long")


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: iterative BFS crawl (frontier, robots broadcast state,
    politeness schedule, bloom-prefiltered exact dedup, deterministic
    (depth, seq) order, pandas-UDF extraction) over the corpus derived from
    sf0.001 documents."""
    from crawler_german_localpoliticans_spark.sources.webcorpus import run_flagship_crawl

    tables, _ = run_flagship_crawl(spark, SF0001, max_depth=2)
    return tables.fetched.select(
        "seq", "url", "depth", "keyword_hit", "robots_blocked", "fetch_failed",
        F.size("found_links").alias("found_links_count"),
    ).orderBy("seq")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


_SESSION_MEMO: dict[tuple, object] = {}


def _session_memo(spark: SparkSession, name: str, key: tuple, build):
    """`build()` once per (name, session, *key), then the stored value: the
    flagship crawl and the persisted indexes feed several queries() entries
    and repeated runs in one session. The session part of the key is the
    Spark applicationId — unique per SparkContext lifetime, unlike id(spark),
    which a GC'd session's successor can in principle reuse (round-2 verdict
    nit). An insert drops every other session's entries, so the memo holds
    cached DataFrames of one session at most: a stopped session's tables
    go at the next session's first build."""
    app = spark.sparkContext.applicationId
    memo_key = (name, app, *key)
    if memo_key not in _SESSION_MEMO:
        for stale in [k for k in _SESSION_MEMO if k[1] != app]:
            del _SESSION_MEMO[stale]
        _SESSION_MEMO[memo_key] = build()
    return _SESSION_MEMO[memo_key]


def _flagship_tables(spark: SparkSession, sf_dir: str, max_depth: int = 2):
    """The flagship crawl, run once per (session, sf_dir, max_depth) — the
    output tables are deterministic parquet, so reuse is sound."""
    from crawler_german_localpoliticans_spark.sources.webcorpus import run_flagship_crawl

    return _session_memo(
        spark,
        "crawl",
        (sf_dir, max_depth),
        lambda: run_flagship_crawl(spark, sf_dir, max_depth=max_depth)[0],
    )


def _q_crawl_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables = _flagship_tables(spark, sf_dir, 2)
    return tables.fetched.select(
        "seq", "url", "depth", "keyword_hit", "robots_blocked",
        F.size("found_links").alias("found_links_count"),
    ).orderBy("seq")


def _q_crawl_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship crawl's fetched table minus the seq column — membership,
    depth, flags and per-page link counts are fully SQL-expressible over the
    derived corpus (the link graph is modular arithmetic), so THIS query is
    hash-checked against a DuckDB oracle; crawl_bfs keeps the seq column and
    the rows-only check."""
    tables = _flagship_tables(spark, sf_dir, 2)
    return tables.fetched.select(
        "url",
        "depth",
        "keyword_hit",
        "robots_blocked",
        F.size("found_links").alias("found_links_count"),
    )


def _q_crawl_extracted(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables = _flagship_tables(spark, sf_dir, 2)
    return tables.extracted.select("url", "text", "custom_id").orderBy("url")


def _q_url_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BASELINE.json's 'URL-seen exact set match' invariant as its own named
    driver row: the engine's url_seen table (== distinct frontier urls, the
    D2 invariant incl. blocked/failed rows) vs the reachable set re-derived
    in SQL."""
    tables = _flagship_tables(spark, sf_dir, 2)
    return tables.url_seen.select("url")


def _q_found_links_jvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl's link pipeline (the udfs.found_links pandas UDF) over the
    full derived corpus, exploded to (url, link) pairs, against the SQL edge
    derivation. Exploding straight from the pandas generator is safe:
    InferFiltersFromGenerate skips generators that contain a python UDF
    (SPARK-36715), so the UDF is evaluated once."""
    from crawler_german_localpoliticans_spark.functions.udfs import found_links
    from crawler_german_localpoliticans_spark.sources.webcorpus import (
        corpus_from_documents,
    )

    pages, _, _ = corpus_from_documents(spark, sf_dir)
    return pages.select("url", F.explode(found_links("url", "html")).alias("link"))


def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawler_german_localpoliticans_spark.operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir), "doc_id", "text")


def _q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawler_german_localpoliticans_spark.operators.dedup import minhash_dedup_pairs

    pairs = minhash_dedup_pairs(spread(_docs(spark, sf_dir)), "doc_id", "text", threshold=0.2)
    return pairs.select("id_a", "id_b", _e6(F.col("est_jaccard")).alias("est_jaccard_e6"))


def _q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs -> clusters: the minhash near-dup pairs (threshold 0.2, the
    minhash_neardup query's exact pair set) fed through large-star/
    small-star connected components (operators/dedup.py
    connected_components) — every document labeled with the MINIMUM doc_id
    reachable through the near-dup graph, singletons labeling themselves,
    is_representative marking the one kept doc per cluster. The oracle
    re-derives the same labels with a recursive CTE over the SQL-re-derived
    pair set."""
    from crawler_german_localpoliticans_spark.operators.dedup import (
        minhash_dedup_pairs,
        neardup_clusters,
    )

    docs = spread(_docs(spark, sf_dir))
    pairs = minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.2)
    return neardup_clusters(docs, "doc_id", pairs)


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawler_german_localpoliticans_spark.operators.dedup import with_simhash

    return with_simhash(spread(_docs(spark, sf_dir)).select("doc_id", "text"), "text").select(
        "doc_id", "simhash"
    )


_PLANT_OFFSET = 1000000


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
            F.lit(50), F.size(tokens_col(F.col("text"))) * 2
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


def _q_minhash_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH must recover exactly the planted duplicate pairs: identical
    text => identical signatures => est_jaccard 1.0 (never missed); a false
    positive at threshold 0.95 needs >=61/64 permutation agreement between
    texts whose true Jaccard is <0.35 after salting (probability ~1e-30)."""
    from crawler_german_localpoliticans_spark.operators.dedup import minhash_dedup_pairs

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
    from crawler_german_localpoliticans_spark.operators.dedup import minhash_dedup_pairs

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
    from crawler_german_localpoliticans_spark.operators.dedup import simhash_dedup_pairs

    pairs = simhash_dedup_pairs(
        _planted_corpus(spark, sf_dir, salt=True), "doc_id", "text", max_hamming=0
    )
    return pairs.select("id_a", "id_b")


def _q_fingerprint_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash doc fingerprint equality == text equality on the planted
    corpus (2^61-1 modulus: collision odds are negligible and a collision
    would be caught as a hash mismatch here)."""
    from crawler_german_localpoliticans_spark.operators.textstats import with_fingerprint

    fp = with_fingerprint(_planted_corpus(spark, sf_dir), "text").select("doc_id", "doc_hash")
    a = fp.select(F.col("doc_id").alias("id_a"), F.col("doc_hash").alias("h"))
    b = fp.select(F.col("doc_id").alias("id_b"), F.col("doc_hash").alias("h"))
    return (
        a.join(b, "h")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawler_german_localpoliticans_spark.operators.dedup import ngram_jaccard_pairs

    docs = spread(_docs(spark, sf_dir)).where(F.col("doc_id") < 150)
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.15)
    return pairs.select("id_a", "id_b", _e6(F.col("jaccard")).alias("jaccard_e6"))


def _q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawler_german_localpoliticans_spark.operators.dedup import embedding_neardup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = embedding_neardup_pairs(emb, "vec_id", "embedding", "label", threshold=0.3)
    return pairs.select("id_a", "id_b", _e6(F.col("cosine")).alias("cosine_e6"))


def _q_embedding_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-dup pairs (blocked cosine >= 0.3, the
    embedding_neardup query's exact pair set) fed through the same
    large-star/small-star connected components as the text path — every
    vector labeled with its component minimum, singletons labeling
    themselves. Closes the embedding modality's pairs -> clusters ->
    representative loop the way neardup_clusters closes MinHash's; the
    oracle is the same recursive-CTE min-reachable-label over the
    SQL-re-derived cosine pair set."""
    from crawler_german_localpoliticans_spark.operators.dedup import (
        embedding_neardup_pairs,
        neardup_clusters,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = embedding_neardup_pairs(emb, "vec_id", "embedding", "label", threshold=0.3)
    return neardup_clusters(emb, "vec_id", pairs)


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    row = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .where(F.col("vec_id") == 0)
        .select("embedding")
        .collect()[0]
    )
    return [float(x) for x in row["embedding"]]


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawler_german_localpoliticans_spark.operators.similarity import cosine_topk_bruteforce

    # the Arrow matvec is per-row work (see `spread`); the top-k itself is
    # TakeOrderedAndProject — per-partition heaps, no global sort
    emb = spread(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    q = _query_vec(spark, sf_dir)
    topk = cosine_topk_bruteforce(emb, "vec_id", "embedding", q, k=10)
    return topk.select("id", _e6(F.col("score")).alias("score_e6"))


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH ANN with the index built ONCE per (session, sf_dir): the
    bucketed vector table persists (bucket = partition key in production =>
    pruned scan per probe); each query scores only its own bucket with the
    Arrow matvec kernel. Bucket derivation is the shared
    similarity.query_bucket — never a local re-implementation."""
    from crawler_german_localpoliticans_spark.operators.similarity import (
        cosine_topk_bruteforce,
        query_bucket,
        with_lsh_bucket,
    )

    def build():
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        bucketed = with_lsh_bucket(emb, "embedding", dim=64, n_planes=8).persist()
        bucketed.count()
        return bucketed

    bucketed = _session_memo(spark, "ann_lsh", (sf_dir,), build)
    q = _query_vec(spark, sf_dir)
    cand = bucketed.where(F.col("bucket") == query_bucket(q, n_planes=8, dim=64))
    return cosine_topk_bruteforce(cand, "vec_id", "embedding", q, k=5).select(
        "id", _e6(F.col("score")).alias("score_e6")
    )


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawler_german_localpoliticans_spark.operators.textstats import with_lang_id

    return with_lang_id(spread(_docs(spark, sf_dir)), "text").select(
        "doc_id", "de_hits", "en_hits", "lang_pred"
    )


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawler_german_localpoliticans_spark.operators.textstats import with_quality_score

    out = with_quality_score(spread(_docs(spark, sf_dir)), "text")
    return out.select(
        "doc_id",
        "n_tokens",
        _e6(F.col("punct_ratio")).alias("punct_ratio_e6"),
        _e6(F.col("stopword_ratio")).alias("stopword_ratio_e6"),
        _e6(F.col("mean_token_len")).alias("mean_token_len_e6"),
        _e6(F.col("quality_score")).alias("quality_score_e6"),
    )


def _q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawler_german_localpoliticans_spark.operators.textstats import with_token_counts

    return with_token_counts(spread(_docs(spark, sf_dir)), "text").select(
        "doc_id", "n_tokens", "n_bpe_tokens"
    )


def _q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic keyed stratified sampling (operators/sampling.py):
    keep iff crc32(doc_id + ':5') < per-source fraction * 2^32 — the
    reproducible hash-Bernoulli every large pipeline uses instead of RNG.
    The oracle recomputes the exact same CRC-32 decision in SQL."""
    from crawler_german_localpoliticans_spark.operators.sampling import (
        stratified_sample,
    )

    docs = _docs(spark, sf_dir)
    fractions = {"src0": 1.0, "src3": 0.5, "src7": 0.25, "src12": 0.1}
    return stratified_sample(docs, "doc_id", "source", fractions, salt=5).select(
        "doc_id", "source"
    )


def _q_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-composition report: per-source doc count, n_chars weight and
    integral ppm share — the input to a training-mix decision."""
    from crawler_german_localpoliticans_spark.operators.sampling import source_mix

    return source_mix(_docs(spark, sf_dir), "source", "n_chars")


def _q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring (operators/textstats.py
    bigram_lm_scores): per-doc average ln-probability under an
    add-one-smoothed bigram model trained on the corpus itself
    (self-perplexity). The oracle retrains the identical model in SQL —
    bigram/context counts, vocabulary size, smoothing algebra, ln — and
    re-derives every score (same measure-zero ln-rounding caveat as the
    char-entropy oracle)."""
    from crawler_german_localpoliticans_spark.operators.textstats import (
        bigram_lm_scores,
    )

    out = bigram_lm_scores(spread(_docs(spark, sf_dir)), "doc_id", "text")
    return out.select("id", "n_bigrams", _e6(F.col("avg_logprob")).alias("avg_logprob_e6"))


def _q_quality_topk_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked curation: the top-3 documents per source by bigram-LM score
    (higher avg ln-prob = more reference-like text) — the 'keep the best N
    per stratum' selection step of a curation recipe. Only scored documents
    rank: one with no bigram has no score and never fills a source's slots.
    Ranking runs on the E6-ROUNDED score with doc_id tie-break: the rounded
    integers are the hash-matched contract, so cross-engine ulp drift in
    the raw doubles can never flip a rank. One window over a per-source
    partition — no global sort."""
    from pyspark.sql import Window

    from crawler_german_localpoliticans_spark.operators.textstats import (
        bigram_lm_scores,
    )

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
        .where(F.col("rk") <= 3)
        .select("source", F.col("id").alias("doc_id"), "rk", "avg_logprob_e6")
    )


def _q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test partition by keyed CRC-32
    cumulative thresholds (operators/sampling.py hash_split) — every doc in
    exactly one split, stable under repartition/retry and consistent with
    any derived table keyed by doc_id. The oracle applies the identical
    integer thresholds (computed by the same Python float accumulation,
    embedded as literals) to the same in-SQL CRC-32."""
    from crawler_german_localpoliticans_spark.operators.sampling import hash_split

    docs = _docs(spark, sf_dir)
    return hash_split(
        docs, "doc_id", [("train", 0.8), ("val", 0.1), ("test", 0.1)], salt=7
    ).select("doc_id", "split")


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
    from crawler_german_localpoliticans_spark.operators.sampling import (
        rebalance_fractions,
        source_mix,
        stratified_sample,
    )

    docs = _docs(spark, sf_dir)
    current = {
        r["stratum"]: float(r["weight"])
        for r in source_mix(docs, "source", "n_chars").collect()
    }
    target = {"src0": 50.0, "src1": 30.0, "src2": 20.0}
    fractions = rebalance_fractions(current, target)
    sampled = stratified_sample(docs, "doc_id", "source", fractions, salt=11)
    return source_mix(sampled, "source", "n_chars")


def _q_substring_dup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full substring-dup pipeline: winnowed candidates
    (substring_dup_pairs) -> EXACT verification via full window-hash set
    intersection (substring_overlap) — shared_windows lower-bounds shared
    contiguous content by L - window + 1. The oracle re-derives candidates
    AND the intersection counts entirely in SQL."""
    from crawler_german_localpoliticans_spark.operators.textstats import (
        substring_dup_pairs,
        substring_overlap,
    )

    docs = spread(_docs(spark, sf_dir))
    cands = substring_dup_pairs(docs, "doc_id", "text", min_shared=2, max_fp_freq=1000)
    return substring_overlap(docs, cands, "doc_id", "text")


def _q_substring_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The substring-dedup loop CLOSED: winnowed candidates -> exact
    window-hash verification -> pairs with >= 25 shared windows (>= ~40
    shared chars) -> substring_dedup removes the duplicated spans from the
    LATER doc of each pair (keep-first policy). Output is the full
    deduplicated corpus — per doc the before/after char counts AND the
    deduped text itself, value-hash checked against a DuckDB oracle that
    replays candidates, verification, span marking, and character removal
    entirely in SQL."""
    from crawler_german_localpoliticans_spark.operators.textstats import (
        substring_dedup,
        substring_dup_pairs,
        substring_overlap,
    )

    docs = spread(_docs(spark, sf_dir)).select("doc_id", "text")
    cands = substring_dup_pairs(docs, "doc_id", "text", min_shared=2, max_fp_freq=1000)
    verified = substring_overlap(docs, cands, "doc_id", "text").where(
        F.col("shared_windows") >= 25
    )
    out = substring_dedup(docs, verified, "doc_id", "text")
    return out.select(
        "doc_id",
        "n_chars_before",
        "n_chars_after",
        F.col("text").alias("text_deduped"),
    )


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing over the documents table: whitespace
    token counts (the token_count contract), deterministic doc_id-order
    concatenation, seq_len=2048 — per doc its stream start, first pack,
    offset, and spanned-pack count. Spark computes the global prefix sum
    with the two-pass bucketed pattern (operators/packing.py); the oracle
    is the plain windowed SUM the pattern is provably equal to."""
    from crawler_german_localpoliticans_spark.operators.packing import pack_sequences
    from crawler_german_localpoliticans_spark.operators.textstats import (
        with_token_counts,
    )

    docs = with_token_counts(spread(_docs(spark, sf_dir)).select("doc_id", "text"), "text")
    return pack_sequences(docs, "doc_id", "n_tokens", 2048).select(
        "doc_id", "n_tokens", "start_offset", "pack_id", "pack_offset", "n_packs_spanned"
    )


def _q_pack_emit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packing WRITER: pack_sequences' offsets gathered into actual
    fixed-length token sequences (seq_len=128 so the corpus yields many
    packs), one row per pack with the token stream and the in-pack
    document-start positions. Arrays flatten to \\x1f- / comma-joined
    strings for the driver's scalar value-hash; the oracle rebuilds every
    pack from the raw table with a positional unnest + windowed prefix
    sum."""
    from crawler_german_localpoliticans_spark.operators.packing import (
        pack_emit,
        pack_sequences,
    )

    docs = spread(_docs(spark, sf_dir)).select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.regexp_extract_all("text", F.lit(TOKEN_PAT), 0).alias("toks")
    )
    counted = toks.select(
        "doc_id", F.size("toks").cast("long").alias("n_tokens")
    )
    packed = pack_sequences(counted, "doc_id", "n_tokens", 128)
    out = pack_emit(packed, toks, "doc_id", "toks", 128)
    return out.select(
        "pack_id",
        "n_tokens",
        F.concat_ws("\x1f", "tokens").alias("tokens_cat"),
        F.concat_ws(
            ",", F.transform("doc_breaks", lambda b: b.cast("string"))
        ).alias("breaks_cat"),
    )


def _q_substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication candidates: winnowed fingerprint sets
    (operators/textstats.py winnow_batch — window 16, guard 4, the MOSS
    selection) -> stop-fp document-frequency cap -> fp equi-join -> pairs
    sharing >= 2 fingerprints. The oracle re-derives the identical winnow
    sets with HUGEINT rolling-hash lambdas and the same df cap in SQL."""
    from crawler_german_localpoliticans_spark.operators.textstats import (
        substring_dup_pairs,
    )

    return substring_dup_pairs(
        spread(_docs(spark, sf_dir)), "doc_id", "text", min_shared=2, max_fp_freq=1000
    )


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawler_german_localpoliticans_spark.operators.textstats import with_fingerprint

    return with_fingerprint(spread(_docs(spark, sf_dir)).select("doc_id", "text"), "text").select(
        "doc_id", "doc_hash", "min_gram_hash"
    )


def _q_keyword_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    hay = F.lower(F.col("text"))
    cond = F.lit(False)
    for w in GATE_WORDS:
        cond = cond | hay.contains(F.lit(w))
    return _docs(spark, sf_dir).select("doc_id", cond.alias("keyword_hit"))


def _q_posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(_docs(spark, sf_dir)).where(F.col("doc_id") < 100)
    return docs.select(
        "doc_id", F.posexplode(tokens_col(F.col("text"))).alias("pos", "token")
    )


def _q_ledger_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy("user_id").agg(
        F.min("ts").alias("first_seen_at"),
        F.max("ts").alias("last_seen_at"),
        F.count(F.lit(1)).alias("n_events"),
        _e6(F.sum("value")).alias("total_value_e6"),
    )


def _q_top_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawler_german_localpoliticans_spark.operators.ledger import top_k_by_count

    return top_k_by_count(_docs(spark, sf_dir), "source", k=5).select("source", "n")


def _q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.row_number().over(w).alias("rn"),
        F.lag("event_type").over(w).alias("prev_type"),
    )


def _q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity") * 100).cast("long").alias("sum_qty_e2"),
            F.round(F.sum("l_extendedprice") * 100).cast("long").alias("sum_base_price_e2"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100
            ).cast("long").alias("sum_disc_price_e2"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q_volume_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100)
            .cast("long")
            .alias("revenue_e2"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def _q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawler_german_localpoliticans_spark.functions import udfs

    docs = spread(_docs(spark, sf_dir)).where(F.col("doc_id") < 200)
    messy = F.concat(
        F.lit("HTTPS://Host"),
        F.col("doc_id").cast("string"),
        F.lit(".Example.DE:443/a/../seite/"),
        F.col("doc_id").cast("string"),
        F.lit("#frag"),
    )
    return docs.select(
        "doc_id",
        messy.alias("raw_url"),
        udfs.canonicalize_url(messy).alias("canonical_url"),
        udfs.host_key_col(udfs.canonicalize_url(messy)).alias("host_key"),
        udfs.safe_filename(udfs.canonicalize_url(messy)).alias("safe_filename"),
    )


def _q_url_normalize_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 — the ingest-path normalizer (crawler_ingest.py:143-172), distinct
    from the crawl-path canonicalizer: userinfo dropped, default ports
    stripped, path-segment params and fragments dropped, query kept, plus
    the relational parts columns the reference's URL ledger stores. Even doc_ids probe
    userinfo + default port + params + fragment; odd ones a non-default
    port with no path."""
    from crawler_german_localpoliticans_spark.functions import udfs

    docs = spread(_docs(spark, sf_dir)).where(F.col("doc_id") < 200)
    d = F.col("doc_id").cast("string")
    messy = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(
            F.lit("HTTP://User:Pw@Host"), d, F.lit(".Example.DE:80/pfad/"),
            d, F.lit(";params?x="), d, F.lit("&y=2#frag"),
        ),
    ).otherwise(F.concat(F.lit("HTTPS://Host"), d, F.lit(".Example.DE:8443")))
    out = docs.select("doc_id", messy.alias("raw_url"), udfs.normalize_ingest(messy).alias("n"))
    return out.select(
        "doc_id",
        "raw_url",
        F.col("n.normalized").alias("normalized"),
        F.col("n.scheme").alias("scheme"),
        F.col("n.host").alias("host"),
        F.col("n.port").alias("port"),
        F.col("n.path").alias("path"),
        F.col("n.query").alias("query"),
    )


def _q_robots_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exercises the flagship robots path: policies parsed on executors as a
    DataFrame, picked up via Spark's size-based host_key join (never a driver
    dict), longest-prefix match as Column expressions."""
    from crawler_german_localpoliticans_spark.functions import udfs
    from crawler_german_localpoliticans_spark.plans.crawl import (
        evaluate_robots,
        parse_policies_df,
    )
    from crawler_german_localpoliticans_spark.sources.webcorpus import corpus_from_documents

    pages, _, robots = corpus_from_documents(spark, sf_dir)
    policies = parse_policies_df(robots)
    out = evaluate_robots(
        pages.select("url", udfs.host_key_col(F.col("url")).alias("host_key")),
        policies,
    )
    return out.select(
        "url",
        "host_key",
        F.col("robots_blocked").alias("blocked"),
        "crawl_delay_ms",
    )


def _q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawler_german_localpoliticans_spark.operators.multimodal import (
        FEATURE_DIM,
        extract_features,
    )

    media = spread(_docs(spark, sf_dir)).select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    out = extract_features(media)
    return out.select(
        "media_id",
        "n_bytes",
        *[_e6(F.element_at("features", i + 1)).alias(f"f{i}_e6") for i in range(FEATURE_DIM)],
    )


def _q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index built ONCE per (session, sf_dir) — persisted assigned table
    + centroid metadata, then probed; the KMeans fit never runs on the query
    path (operators/similarity.py ivf_build/ivf_probe).

    The driver probe runs with nprobe = n_cells (FULL probe): probing every
    cell of a correct IVF index must equal brute-force top-k exactly, which
    IS SQL-expressible — the oracle is the same rounded-cosine top-5 the
    cosine_topk oracle computes. KMeans centroids themselves aren't
    SQL-derivable, so this invariant is what makes the build/probe machinery
    (cell assignment completeness, probe-cell selection, candidate scoring)
    hash-checkable. The PRUNED nprobe=2 path — the production access pattern
    — is the driver's ann_ivf_pruned query (rows-only by design) and
    tests/test_operators.py::test_ivf_topk_recall."""
    assigned, centroids = _ivf_index(spark, sf_dir)
    q = _query_vec(spark, sf_dir)
    from crawler_german_localpoliticans_spark.operators.similarity import ivf_probe

    return ivf_probe(
        assigned, centroids, "vec_id", "embedding", q, k=5, nprobe=len(centroids)
    ).select("id", _e6(F.col("score")).alias("score_e6"))


def _ivf_index(spark: SparkSession, sf_dir: str):
    from crawler_german_localpoliticans_spark.operators.similarity import ivf_build

    def build():
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        assigned, centroids = ivf_build(emb, "vec_id", "embedding", n_cells=8)
        assigned = assigned.persist()
        assigned.count()
        return assigned, centroids

    return _session_memo(spark, "ivf", (sf_dir,), build)


def _ivf_seeded_index(spark: SparkSession, sf_dir: str):
    from crawler_german_localpoliticans_spark.operators.similarity import ivf_build_seeded

    def build():
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        assigned, centroids = ivf_build_seeded(emb, "vec_id", "embedding", "label")
        assigned = assigned.persist()
        assigned.count()
        return assigned, centroids

    return _session_memo(spark, "ivf_seeded", (sf_dir,), build)


def _q_ann_ivf_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production IVF access pattern: a PRUNED probe (nprobe=3 of 10
    cells — a partition-pruned scan at scale), end-to-end value-hash
    checked. The index is the seeded closed-form build
    (operators/similarity.py ivf_build_seeded: centroids = per-label
    per-dim means, assignment = nearest centroid), so the DuckDB oracle
    replays the ENTIRE pruned path from the raw table — centroid means,
    argmin cell assignment, nprobe cell selection, and rounded-cosine
    top-k over exactly the probed cells. ivf_probe/ivf_probe_cells are the
    same probe machinery the KMeans index uses (whose full-probe ≡
    brute-force invariant is the ann_ivf oracle); the pytest recall test
    covers the KMeans pruned path."""
    assigned, centroids = _ivf_seeded_index(spark, sf_dir)
    q = _query_vec(spark, sf_dir)
    from crawler_german_localpoliticans_spark.operators.similarity import ivf_probe

    return ivf_probe(assigned, centroids, "vec_id", "embedding", q, k=5, nprobe=3).select(
        "id", _e6(F.col("score")).alias("score_e6")
    )


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
    from crawler_german_localpoliticans_spark.operators.curation import (
        redact_pii,
        with_pii_counts,
    )

    docs = _pii_augmented_docs(spark, sf_dir)
    out = redact_pii(with_pii_counts(docs, "text"), "text")
    return out.select(
        "doc_id", "n_email", "n_phone", "n_ipv4", "n_iban", "n_pii", "has_pii", "redacted"
    )


def _q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/curation.py): documents sharing
    any 13-token gram with the 'benchmark' (every 97th document's text) are
    contaminated. Spark joins on a 64-bit gram hash (Arrow kernel, broadcast
    semi-join shape); the oracle joins on the gram STRING — identical
    results barring a 64-bit hash collision (~1e-11 at this gram count),
    the same argument as the minhash band oracle."""
    from crawler_german_localpoliticans_spark.operators.curation import contamination_check

    docs = spread(_docs(spark, sf_dir))
    bench = docs.where(F.col("doc_id") % 97 == 0).select("text")
    out = contamination_check(docs, bench, "doc_id", "text", n=13)
    return out.select(
        F.col("id").alias("doc_id"), "contaminated_grams", "contaminated"
    )


def _q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/diversity filters (operators/textstats.py
    repetition_stats): distinct-token ratio, top-token share, character
    entropy — every value re-derived in the DuckDB oracle from the same
    definitions (H = ln n - Σ c·ln c / n)."""
    from crawler_german_localpoliticans_spark.operators.textstats import repetition_stats

    out = repetition_stats(spread(_docs(spark, sf_dir)), "doc_id", "text")
    return out.select(
        F.col("id").alias("doc_id"),
        "n_tokens",
        _e6(F.col("distinct_token_ratio")).alias("distinct_token_ratio_e6"),
        _e6(F.col("top_token_ratio")).alias("top_token_ratio_e6"),
        _e6(F.col("char_entropy")).alias("char_entropy_e6"),
    )


def _q_doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawler_german_localpoliticans_spark.operators.textstats import doc_frequency

    docs = _docs(spark, sf_dir)
    # count before the spread: the row count needs no text shuffle
    n = docs.count()
    out = doc_frequency(spread(docs), "doc_id", "text", n_docs=n, min_df=2)
    return out.select("token", "df_count", _e6(F.col("idf")).alias("idf_e6"))


def _q_politeness_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 as a driver-checked query: the whole derived corpus as one wave
    through robots evaluation + the politeness scheduler (host windows,
    priority order blocked-last/keyword-first/seq, per-host slots, simulated
    offsets, slice budget 6000 ms) — every schedule column is re-derived in
    the DuckDB oracle from the same modular arithmetic."""
    from crawler_german_localpoliticans_spark.config import CrawlConfig
    from crawler_german_localpoliticans_spark.functions import udfs
    from crawler_german_localpoliticans_spark.functions.keywords import DEFAULT_KEYWORDS
    from crawler_german_localpoliticans_spark.plans.crawl import (
        evaluate_robots,
        parse_policies_df,
    )
    from crawler_german_localpoliticans_spark.plans.politeness import schedule_wave
    from crawler_german_localpoliticans_spark.sources.webcorpus import corpus_from_documents

    cfg = CrawlConfig(slice_budget_ms=6000)
    pages, _, robots = corpus_from_documents(spark, sf_dir)
    wave = pages.select(
        "url",
        udfs.url_host_col(F.col("url")).alias("host"),
        udfs.host_key_col(F.col("url")).alias("host_key"),
        F.regexp_extract("url", r"/seite/(\d+)", 1).cast("long").alias("seq"),
        udfs.keyword_hit_col(F.col("url"), DEFAULT_KEYWORDS).alias("keyword_hit"),
    )
    wave = evaluate_robots(wave, parse_policies_df(robots))
    out = schedule_wave(wave, cfg)
    return out.select(
        "url",
        "robots_blocked",
        F.col("effective_delay_ms").cast("long").alias("effective_delay_ms"),
        "host_slot",
        F.col("sched_offset_ms").cast("long").alias("sched_offset_ms"),
        "slice",
    )


def _q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite training-data pipeline in one plan: language ID ->
    quality floor -> exact dedup (keep min doc_id per distinct text) ->
    curated corpus. Single scan + one hash shuffle for the dedup; every
    stage is a Column expression (no Python)."""
    from crawler_german_localpoliticans_spark.operators.textstats import (
        with_lang_id,
        with_quality_score,
    )

    scored = with_quality_score(with_lang_id(spread(_docs(spark, sf_dir)), "text"), "text")
    kept = scored.where((F.col("lang_pred") == "en") & (F.col("quality_score") >= 0.65))
    rep = kept.groupBy(F.md5("text").alias("h")).agg(F.min("doc_id").alias("doc_id"))
    return (
        kept.join(rep, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            _e6(F.col("quality_score")).alias("quality_score_e6"),
        )
    )


def _q_rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity") * 100).cast("long").alias("sum_qty_e2"),
        )
    )


def _q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    building = c.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    big_spenders = o.where(F.col("o_totalprice") > 100000).select(
        F.col("o_custkey").alias("custkey")
    )
    inter = building.intersect(big_spenders).withColumn("op", F.lit("intersect"))
    exc = building.exceptAll(big_spenders.distinct()).distinct().withColumn("op", F.lit("except"))
    return inter.unionByName(exc).select("op", "custkey")


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond-exact integer gap (epoch micros; ts is NTZ, session tz is
    # UTC) so the semantics can never diverge from DuckDB's fractional
    # epoch(ts - lag(ts)) on sub-second data; session_id cast to BIGINT on
    # BOTH sides so the driver's cell normalizer sees the same representation
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800 * 1000000), 1).otherwise(0)
    wsum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(new_sess).over(wsum).cast("long").alias("session_id"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "crawl_bfs": _q_crawl_bfs,
        "crawl_reachability": _q_crawl_reachability,
        "crawl_extracted": _q_crawl_extracted,
        "url_seen": _q_url_seen,
        "found_links_jvm": _q_found_links_jvm,
        "exact_dedup": _q_exact_dedup,
        "minhash_neardup": _q_minhash_neardup,
        "neardup_clusters": _q_neardup_clusters,
        "minhash_planted": _q_minhash_planted,
        "minhash_planted_xx": _q_minhash_planted_xx,
        "simhash": _q_simhash,
        "simhash_planted": _q_simhash_planted,
        "fingerprint_planted": _q_fingerprint_planted,
        "ngram_jaccard": _q_ngram_jaccard,
        "embedding_neardup": _q_embedding_neardup,
        "embedding_dedup_clusters": _q_embedding_dedup_clusters,
        "cosine_topk": _q_cosine_topk,
        "ann_lsh": _q_ann_lsh,
        "ann_ivf": _q_ann_ivf,
        "ann_ivf_pruned": _q_ann_ivf_pruned,
        "doc_frequency": _q_doc_frequency,
        "pii_scrub": _q_pii_scrub,
        "contamination": _q_contamination,
        "repetition_stats": _q_repetition_stats,
        "politeness_schedule": _q_politeness_schedule,
        "corpus_curation": _q_corpus_curation,
        "rollup_pricing": _q_rollup_pricing,
        "set_ops": _q_set_ops,
        "sessionize": _q_sessionize,
        "lang_id": _q_lang_id,
        "quality_score": _q_quality,
        "token_count": _q_token_count,
        "fingerprint": _q_fingerprint,
        "substring_dup": _q_substring_dup,
        "substring_dup_verified": _q_substring_dup_verified,
        "substring_dedup_apply": _q_substring_dedup_apply,
        "pack_sequences": _q_pack_sequences,
        "pack_emit": _q_pack_emit,
        "sample_stratified": _q_sample_stratified,
        "source_mix": _q_source_mix,
        "mix_rebalance": _q_mix_rebalance,
        "hash_split": _q_hash_split,
        "bigram_lm": _q_bigram_lm,
        "quality_topk_per_source": _q_quality_topk_per_source,
        "keyword_gate": _q_keyword_gate,
        "posexplode_tokens": _q_posexplode_tokens,
        "ledger_events": _q_ledger_events,
        "top_sources": _q_top_sources,
        "events_window": _q_events_window,
        "pricing_summary": _q_pricing_summary,
        "volume_by_nation": _q_volume_by_nation,
        "url_canonicalize": _q_url_canonicalize,
        "url_normalize_ingest": _q_url_normalize_ingest,
        "robots_eval": _q_robots_eval,
        "multimodal_features": _q_multimodal_features,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# shared derived-corpus CTE blocks — ONE definition of the webcorpus
# arithmetic (sources/webcorpus.py), interpolated into every crawl oracle.
# Round-2 advice: the node/edge CTEs were copy-pasted across five oracle
# queries; a missed edit in one copy would silently desynchronize them.
# ---------------------------------------------------------------------------

_CORPUS_PARAMS_CTE = """params AS (
                SELECT count(*) AS n,
                       greatest(4, count(*) // 50) AS nh,
                       greatest(4, count(*) // 100) AS ns
                FROM documents
            )"""

# one row per document: url, host index h, robots-blocked flag, keyword
# gate, extracted text and custom_id (consumers project what they need —
# DuckDB prunes unused CTE columns)
_CORPUS_NODE_CTE = rf"""node AS (
                SELECT d.doc_id AS doc,
                       'https://host' || lpad(CAST(d.doc_id % p.nh AS VARCHAR), 4, '0')
                         || '.beispiel.de/seite/' || CAST(d.doc_id AS VARCHAR)
                         || CASE WHEN d.doc_id % 4 = 0 THEN '-rathaus' ELSE '' END AS url,
                       d.doc_id % p.nh AS h,
                       'https://host' || lpad(CAST(d.doc_id % p.nh AS VARCHAR), 4, '0')
                         || '.beispiel.de' AS host_key,
                       ((d.doc_id % p.nh) % 5 = 1
                        AND CAST(d.doc_id AS VARCHAR) LIKE '1%') AS blocked,
                       d.doc_id % 4 = 0 AS keyword_hit,
                       'Seite ' || CAST(d.doc_id AS VARCHAR) || ' Dokument '
                         || regexp_replace(trim(d.text), '{WS_CLASS}+', ' ', 'g')
                         || ' l0l1l2l3l4l5l6l7hot' AS text,
                       'request_host' || lpad(CAST(d.doc_id % p.nh AS VARCHAR), 4, '0')
                         || '.beispiel.de_seite_' || CAST(d.doc_id AS VARCHAR)
                         || CASE WHEN d.doc_id % 4 = 0 THEN '-rathaus' ELSE '' END
                         || '.html' AS custom_id
                FROM documents d, params p
            )"""

_CORPUS_EDGE_CTE = """edge AS (
                SELECT DISTINCT s.doc AS src, g.tgt
                FROM node s, params p,
                     unnest([
                        (s.doc*7 + 0*13 + 1) % p.n, (s.doc*7 + 1*13 + 1) % p.n,
                        (s.doc*7 + 2*13 + 1) % p.n, (s.doc*7 + 3*13 + 1) % p.n,
                        (s.doc*7 + 4*13 + 1) % p.n, (s.doc*7 + 5*13 + 1) % p.n,
                        (s.doc*7 + 6*13 + 1) % p.n, (s.doc*7 + 7*13 + 1) % p.n,
                        0
                     ]) AS g(tgt)
            )"""

_CORPUS_DEGREE_CTE = (
    """degree AS (SELECT src AS doc, count(*) AS links FROM edge GROUP BY src)"""
)

_CORPUS_L0_CTE = """l0 AS (SELECT doc FROM node, params p WHERE doc < p.ns)"""

# order-INSENSITIVE reachable layers (depth 1 kept set incl. the
# seed-requeue quirk, depth 2 frontier); crawl_bfs derives its own ordered
# l1s/l2s layers because it also hash-checks the seq column
_CORPUS_REACH_CTES = """l1 AS (
                SELECT e.tgt AS doc, min(e.src) AS first_parent
                FROM edge e
                JOIN l0 ON e.src = l0.doc
                JOIN node pn ON pn.doc = e.src
                WHERE NOT pn.blocked
                GROUP BY e.tgt
            ),
            l1k AS (
                SELECT l1.doc FROM l1, params p
                WHERE l1.doc >= p.ns OR l1.first_parent < l1.doc
            ),
            l2 AS (
                SELECT DISTINCT e.tgt AS doc
                FROM edge e
                JOIN l1k ON e.src = l1k.doc
                JOIN node pn ON pn.doc = e.src
                WHERE NOT pn.blocked
                  AND e.tgt NOT IN (SELECT doc FROM l0)
                  AND e.tgt NOT IN (SELECT doc FROM l1k)
            )"""


# expected duplicate pairs on the planted corpus = text-equality pairs
_PLANTED_PAIRS_SQL = """
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM corpus a
    JOIN corpus b ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
"""

def _crc32_table_sql() -> str:
    """The standard CRC-32 (IEEE 802.3, poly 0xEDB88320) lookup table as a
    DuckDB UBIGINT[] literal — DuckDB 1.0 has no crc32 builtin, but the
    algorithm is pure bit arithmetic: crc' = (crc >> 8) XOR
    table[(crc XOR byte) & 0xFF], init/finalize 0xFFFFFFFF. Identical to
    zlib.crc32 == JVM CRC32 == Spark F.crc32 (the engine's portability
    contract, operators/dedup.py)."""
    table = []
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ (0xEDB88320 if c & 1 else 0)
        table.append(c)
    return "[" + ",".join(map(str, table)) + "]"


# crc32 over a string's bytes; {col} is substituted. Byte access is
# unicode(char), valid because the driver testdata text is pure ASCII
# (TESTDATA.md) — a non-ASCII corpus would need BLOB byte extraction.
_CRC32_EXPR = """xor(list_reduce(list_prepend(4294967295::UBIGINT,
        list_transform(range(1, length({col}) + 1), i -> unicode({col}[i])::UBIGINT){extra}),
        (crc, b) -> xor(crc >> 8, tab[(1 + (xor(crc, b) & 255))::BIGINT])),
        4294967295::UBIGINT)"""


# crc32 of the sampling key column `s` (digits + ':' — pure ASCII)
_CRC32_EXPR_SAMPLE = _CRC32_EXPR.format(col="s", extra="")


def _minhash_neardup_oracle_sql() -> str:
    """The FULL MinHash near-dup path re-derived in SQL — crc32 shingle
    hashes (inline table), the 64 (a*x+b) mod p permutation minima with the
    literal seed-42 params, LSH candidacy as ">= 1 band with all 4 signature
    components equal" (equivalent to Spark's xxhash64 band-bucket equi-join:
    band_hash equality <=> band slice equality, operators/dedup.py
    lsh_candidate_pairs), and est_jaccard = agreeing components / 64.
    agree/64 has an exact 6-decimal representation, so est_e6 = agree*15625
    on both engines. Threshold 0.2 <=> agree >= 13 (12/64 = 0.1875 < 0.2)."""
    from crawler_german_localpoliticans_spark.operators.dedup import (
        MINHASH_PRIME,
        _permutation_params,
    )

    params = _permutation_params(64)
    sig_aggs = ",\n                   ".join(
        f"min(({a}::UBIGINT * hv + {b}::UBIGINT) % {MINHASH_PRIME}::UBIGINT) AS s{i}"
        for i, (a, b) in enumerate(params)
    )
    sig_arr = "[" + ", ".join(f"s{i}" for i in range(64)) + "]"
    crc = _CRC32_EXPR.format(col="shingle", extra="")
    agree = (
        "list_sum(list_transform(range(1, 65), "
        "j -> CASE WHEN sa.sig[j] = sb.sig[j] THEN 1 ELSE 0 END))"
    )
    return rf"""
        WITH t AS (SELECT {_crc32_table_sql()}::UBIGINT[] AS tab),
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
        WHERE {agree} >= 13
    """


def _neardup_clusters_oracle_sql() -> str:
    """Connected components over the SQL-re-derived minhash pair set
    (_minhash_neardup_oracle_sql, embedded verbatim as a nested-WITH
    subquery so the two oracles can never drift apart) via a recursive
    CTE: reach(id, r) holds every (node, reachable node) pair over the
    symmetrized edge list; the cluster label is MIN(r) — exactly the
    large-star/small-star fixed point the Spark side computes."""
    pairs_sql = _minhash_neardup_oracle_sql()
    return f"""
        WITH RECURSIVE pairs AS ({pairs_sql}),
        edges AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION
            SELECT id_b AS u, id_a AS v FROM pairs
        ),
        reach(id, r) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.id
        )
        SELECT id, MIN(r) AS cluster_id, MIN(r) = id AS is_representative
        FROM reach GROUP BY id
    """


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
        WITH t AS (SELECT {_crc32_table_sql()}::UBIGINT[] AS tab),
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


def _pii_oracle_sql() -> str:
    """PII counts + typed-token redaction re-derived in DuckDB with the
    SAME regex strings (operators/curation.py PII_PATTERNS). Counting
    mirrors the operator's sequential consumption: each class counts on the
    text with higher-precedence classes already redacted (so an IBAN's
    phone-shaped digit groups never double-count), via staged CTE columns
    t0..tN; redaction is the same chained regexp_replace(..., 'g'). The
    synthetic PII augmentation is the same string concat as
    _pii_augmented_docs."""
    from crawler_german_localpoliticans_spark.operators.curation import (
        PII_PATTERNS,
        REDACTION_TOKEN,
    )

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


_CONTAMINATION_ORACLE_SQL = rf"""
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
                generate_series(1, greatest(len(tk) - 12, 1)),
                i -> array_to_string(tk[i:i+12], ' '))) AS gram
            FROM toks
        ) WHERE length(gram) > 0
    ),
    bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
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


def _ann_lsh_oracle_sql() -> str:
    """The sign-LSH bucket assignment is SQL-expressible because the
    hyperplanes are DETERMINISTIC literals (seed 42): bucket bit i =
    sign(embedding · plane_i). The oracle re-derives every vector's bucket
    with list_dot_product, filters to the query vector's bucket and takes
    the same rounded-cosine top-5 — the full ANN path, hash-checked."""
    from crawler_german_localpoliticans_spark.operators.similarity import hyperplanes

    planes = hyperplanes(dim=64, n_planes=8, seed=42)

    def arr(p) -> str:
        return "[" + ", ".join(repr(float(x)) for x in p) + "]"

    bucket_expr = "\n                   + ".join(
        f"(CASE WHEN list_dot_product(v, {arr(planes[i])}) > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(planes.shape[0])
    )
    return f"""
        WITH b AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        bucketed AS (
            SELECT vec_id, v,
                   {bucket_expr} AS bucket
            FROM b
        ),
        q AS (SELECT v AS qv, bucket AS qb FROM bucketed WHERE vec_id = 0)
        SELECT vec_id AS id,
               CAST(round(round(list_cosine_similarity(v, qv), 6) * 1000000) AS BIGINT)
                   AS score_e6
        FROM bucketed, q
        WHERE bucket = qb
        ORDER BY round(list_cosine_similarity(v, qv), 6) DESC, vec_id ASC
        LIMIT 5
    """


def _multimodal_oracle_sql() -> str:
    """Byte-level SQL reconstruction of the deterministic fake decoder
    (operators/multimodal.py:_fake_features): payload = UTF-8 text bytes
    (pure ASCII in the testdata => char k == byte k), features = first 8
    little-endian uint32 words (zero-padded) L2-normalized, cast float32.
    Squares/sums run in DOUBLE on both engines; the e6 rounding absorbs any
    last-ulp summation-order difference."""

    def byte(k: int) -> str:
        return f"(CASE WHEN length(text) >= {k + 1} THEN ord(substr(text, {k + 1}, 1)) ELSE 0 END)"

    words = [
        " + ".join(
            f"{byte(4 * i + j)} * CAST({256 ** j} AS DOUBLE)" for j in range(4)
        )
        for i in range(8)
    ]
    u_cols = ",\n                   ".join(f"({w}) AS u{i}" for i, w in enumerate(words))
    sq = " + ".join(f"u{i} * u{i}" for i in range(8))
    feats = ",\n               ".join(
        f"CAST(round(CASE WHEN norm = 0 THEN 0.0 ELSE CAST(CAST(u{i} / norm AS REAL) AS DOUBLE) END * 1000000) AS BIGINT) AS f{i}_e6"
        for i in range(8)
    )
    return f"""
        WITH u AS (
            SELECT doc_id, length(text) AS n_bytes,
                   {u_cols}
            FROM documents
        ),
        n AS (SELECT *, sqrt({sq}) AS norm FROM u)
        SELECT doc_id AS media_id, CAST(n_bytes AS INT) AS n_bytes,
               {feats}
        FROM n
    """


# salted variant (see _planted_corpus(salt=True)): max(50, 2*token-count)
# doc-unique suffix tokens separate genuine near-dups in the base corpus from
# the planted byte-identical copies — the count scales with the document so
# the isolation holds for arbitrarily long texts
_PLANTED_SALTED_PAIRS_SQL = rf"""
    WITH salted AS (
        SELECT doc_id,
               text || ' ' || array_to_string(
                   list_transform(
                       generate_series(0, greatest(
                           50, 2 * len(regexp_split_to_array(trim(text), '{WS_CLASS}+'))) - 1),
                       j -> 'u' || CAST(doc_id AS VARCHAR) || 'x' || CAST(j AS VARCHAR)
                   ), ' ') AS text
        FROM documents
    ),
    corpus AS (
        SELECT doc_id, text FROM salted
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM salted
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM corpus a
    JOIN corpus b ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
"""


def oracle_sql() -> dict[str, str]:
    gate_cond = " OR ".join(f"lower(text) LIKE '%{w}%'" for w in GATE_WORDS)
    return {
        # BFS crawl ORDER over the derived corpus, fully re-derived in SQL —
        # including the seq column (BASELINE.json invariant "crawl-order
        # exact match"). Seeds are docs 0..ns-1 with seq == doc (seed_order);
        # depth-d children are ranked by (first-discovering parent's seq,
        # position in that parent's sorted-unique found_links) — the exact
        # single-worker FIFO order of the reference's Lua check-and-add
        # (src/main.rs:30-45, :908-909). The first-discovery key is encoded
        # min(parent_seq*1024 + pos) (pos <= 8 < 1024). Validated against
        # plans/oracle.py's sequential crawl on sf0.001/0.01/0.1.
        "crawl_bfs": f"""
            WITH {_CORPUS_PARAMS_CTE},
            {_CORPUS_NODE_CTE},
            {_CORPUS_EDGE_CTE},
            {_CORPUS_DEGREE_CTE},
            pl AS (
                SELECT e.src, e.tgt,
                       row_number() OVER (PARTITION BY e.src ORDER BY n.url) - 1 AS pos
                FROM edge e JOIN node n ON n.doc = e.tgt
            ),
            {_CORPUS_L0_CTE},
            l1r AS (
                SELECT pl.tgt AS doc, min(pl.src * 1024 + pl.pos) AS k
                FROM pl
                JOIN l0 ON pl.src = l0.doc
                JOIN node pn ON pn.doc = pl.src
                WHERE NOT pn.blocked
                GROUP BY pl.tgt
            ),
            l1s AS (
                SELECT doc, k,
                       p.ns - 1 + row_number() OVER (ORDER BY k) AS seq
                FROM l1r, params p
                WHERE doc >= p.ns OR (k // 1024) < doc
            ),
            l2r AS (
                SELECT pl.tgt AS doc, min(l1s.seq * 1024 + pl.pos) AS k
                FROM pl
                JOIN l1s ON pl.src = l1s.doc
                JOIN node pn ON pn.doc = pl.src
                WHERE NOT pn.blocked
                  AND pl.tgt NOT IN (SELECT doc FROM l0)
                  AND pl.tgt NOT IN (SELECT doc FROM l1s)
                GROUP BY pl.tgt
            ),
            l1n AS (SELECT count(*) AS c FROM l1s),
            l2s AS (
                SELECT doc,
                       p.ns + l1n.c - 1 + row_number() OVER (ORDER BY k) AS seq
                FROM l2r, params p, l1n
            ),
            fetched AS (
                SELECT doc, 0 AS depth, CAST(doc AS BIGINT) AS seq FROM l0
                UNION ALL SELECT doc, 1, CAST(seq AS BIGINT) FROM l1s
                UNION ALL SELECT doc, 2, CAST(seq AS BIGINT) FROM l2s
            )
            SELECT f.seq, n.url, CAST(f.depth AS INT) AS depth, n.keyword_hit,
                   n.blocked AS robots_blocked,
                   CAST(CASE WHEN n.blocked THEN 0 ELSE d.links END AS INT)
                       AS found_links_count
            FROM fetched f
            JOIN node n ON n.doc = f.doc
            JOIN degree d ON d.doc = f.doc
        """,
        # Byte-identity for the extraction stage (BASELINE.json invariant
        # "byte-identical extracted text per url"): the derived corpus HTML
        # is a Column concat (sources/webcorpus.py:57-68), so the expected
        # clean-extracted text is reconstructible verbatim — title, h1, the
        # whitespace-collapsed document text, and the anchor labels (inline
        # <a> runs glue without separators). Re-popped keyword seeds are
        # extracted once per pop, hence the fetched-level FROM.
        "crawl_extracted": f"""
            WITH {_CORPUS_PARAMS_CTE},
            {_CORPUS_NODE_CTE},
            {_CORPUS_EDGE_CTE},
            {_CORPUS_L0_CTE},
            {_CORPUS_REACH_CTES},
            fetched AS (
                SELECT doc FROM l0
                UNION ALL SELECT doc FROM l1k
                UNION ALL SELECT doc FROM l2
            )
            SELECT n.url, n.text, n.custom_id
            FROM fetched f
            JOIN node n ON n.doc = f.doc
            WHERE n.keyword_hit AND NOT n.blocked
        """,
        # The messy-URL canonicalization fixture is pure string arithmetic:
        # scheme/host lowercased, default :443 dropped, /a/../ dot-segment
        # removed, #frag stripped; safe_filename maps non-[A-Za-z0-9.-] to
        # '_' and collapses runs (functions/urls.py:50,139,156).
        "url_canonicalize": """
            SELECT doc_id,
                   'HTTPS://Host' || CAST(doc_id AS VARCHAR)
                     || '.Example.DE:443/a/../seite/' || CAST(doc_id AS VARCHAR)
                     || '#frag' AS raw_url,
                   'https://host' || CAST(doc_id AS VARCHAR)
                     || '.example.de/seite/' || CAST(doc_id AS VARCHAR)
                     AS canonical_url,
                   'https://host' || CAST(doc_id AS VARCHAR) || '.example.de'
                     AS host_key,
                   'host' || CAST(doc_id AS VARCHAR) || '.example.de_seite_'
                     || CAST(doc_id AS VARCHAR) AS safe_filename
            FROM documents WHERE doc_id < 200
        """,
        # C2 ingest normalizer: pure string arithmetic of the stdlib
        # urlparse semantics on the two fixture shapes — userinfo dropped,
        # default port stripped (even rows), non-default port kept with
        # path defaulting to '/' (odd rows); params + fragment dropped,
        # query kept
        "url_normalize_ingest": """
            WITH d AS (
                SELECT doc_id, CAST(doc_id AS VARCHAR) AS s FROM documents
                WHERE doc_id < 200
            )
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0
                        THEN 'HTTP://User:Pw@Host' || s || '.Example.DE:80/pfad/'
                             || s || ';params?x=' || s || '&y=2#frag'
                        ELSE 'HTTPS://Host' || s || '.Example.DE:8443'
                   END AS raw_url,
                   CASE WHEN doc_id % 2 = 0
                        THEN 'http://host' || s || '.example.de/pfad/' || s
                             || '?x=' || s || '&y=2'
                        ELSE 'https://host' || s || '.example.de:8443/'
                   END AS normalized,
                   CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END AS scheme,
                   'host' || s || '.example.de' AS host,
                   CAST(CASE WHEN doc_id % 2 = 0 THEN NULL ELSE 8443 END AS INT)
                       AS port,
                   CASE WHEN doc_id % 2 = 0 THEN '/pfad/' || s ELSE '/' END AS path,
                   CASE WHEN doc_id % 2 = 0 THEN 'x=' || s || '&y=2' ELSE '' END
                       AS query
            FROM d
        """,
        # Robots policy evaluation over the derived corpus: hosts h%5==1
        # disallow the /seite/1 prefix for all agents; hosts h%7==3 (and not
        # h%5==1 — the webcorpus WHEN chain) set Crawl-delay: 4.5 => 4500 ms;
        # all other hosts have the empty allow-all policy with NULL delay.
        "robots_eval": f"""
            WITH {_CORPUS_PARAMS_CTE},
            {_CORPUS_NODE_CTE}
            SELECT url, host_key, blocked,
                   CAST(CASE WHEN h % 5 <> 1 AND h % 7 = 3
                             THEN 4500 END AS BIGINT) AS crawl_delay_ms
            FROM node
        """,
        # BASELINE invariant "URL-seen exact set match": url_seen == distinct
        # frontier urls over rounds 0..2 (seed re-enqueues collapse; blocked
        # and failed URLs stay seen).
        "url_seen": f"""
            WITH {_CORPUS_PARAMS_CTE},
            {_CORPUS_NODE_CTE},
            {_CORPUS_EDGE_CTE},
            {_CORPUS_L0_CTE},
            {_CORPUS_REACH_CTES}
            SELECT DISTINCT n.url
            FROM (
                SELECT doc FROM l0
                UNION SELECT doc FROM l1k
                UNION SELECT doc FROM l2
            ) f
            JOIN node n ON n.doc = f.doc
        """,
        # The per-page link pipeline (found_links pandas UDF):
        # (url, link) pairs == the DISTINCT corpus edges (the engine's
        # sorted-unique dedup ≡ DISTINCT; sortedness is absorbed by the
        # order-insensitive row hash).
        "found_links_jvm": f"""
            WITH {_CORPUS_PARAMS_CTE},
            {_CORPUS_NODE_CTE},
            {_CORPUS_EDGE_CTE}
            SELECT s.url AS url, t.url AS link
            FROM edge e
            JOIN node s ON s.doc = e.src
            JOIN node t ON t.doc = e.tgt
        """,
        # Membership/flags view of the same crawl (kept alongside crawl_bfs:
        # this one checks reachability independently of the order logic).
        "crawl_reachability": f"""
            WITH {_CORPUS_PARAMS_CTE},
            {_CORPUS_NODE_CTE},
            {_CORPUS_EDGE_CTE},
            {_CORPUS_DEGREE_CTE},
            {_CORPUS_L0_CTE},
            {_CORPUS_REACH_CTES},
            fetched AS (
                SELECT doc, 0 AS depth FROM l0
                UNION ALL SELECT doc, 1 FROM l1k
                UNION ALL SELECT doc, 2 FROM l2
            )
            SELECT n.url, CAST(f.depth AS INT) AS depth, n.keyword_hit,
                   n.blocked AS robots_blocked,
                   CAST(CASE WHEN n.blocked THEN 0 ELSE d.links END AS INT)
                       AS found_links_count
            FROM fetched f
            JOIN node n ON n.doc = f.doc
            JOIN degree d ON d.doc = f.doc
        """,
        "exact_dedup": """
            SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
                   count(*) AS n_dups
            FROM documents GROUP BY md5(text)
        """,
        # Constructive ground truth for the crc32-based detectors: on the
        # planted corpus (documents ∪ exact copies at doc_id+1e6) the true
        # duplicate pair set IS text equality — any detector false
        # positive/negative breaks the hash match.
        "minhash_planted": _PLANTED_SALTED_PAIRS_SQL,
        "minhash_planted_xx": _PLANTED_SALTED_PAIRS_SQL,
        "simhash_planted": _PLANTED_SALTED_PAIRS_SQL,
        # PII + decontamination curation operators (the gram join runs on
        # xxhash64 in Spark and the gram string in SQL — equivalent modulo a
        # ~1e-11 64-bit collision)
        "pii_scrub": _pii_oracle_sql(),
        "contamination": _CONTAMINATION_ORACLE_SQL,
        # Gopher-style repetition/diversity: same definitions, same 6-dec
        # rounding; entropy via the one-pass identity H = ln n - Σ c·ln c / n
        "repetition_stats": rf"""
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
        """,
        # raw-value oracles for the crc32 detectors: DuckDB has no crc32
        # builtin, but CRC-32 is pure bit arithmetic — an inline lookup
        # table + list_reduce recomputes zlib/JVM-identical hashes, so the
        # previously rows-only queries are now fully hash-checked
        "minhash_neardup": _minhash_neardup_oracle_sql(),
        "neardup_clusters": _neardup_clusters_oracle_sql(),
        "simhash": _simhash_oracle_sql(),
        "fingerprint_planted": _PLANTED_PAIRS_SQL,
        # byte-level reconstruction of the deterministic fake decoder — the
        # multimodal PLUMBING (schema, byte handling, normalization, Arrow
        # batch shape) is oracle-checked even though the real decoder stays a
        # documented stub (no PIL/ffmpeg in this container)
        "multimodal_features": _multimodal_oracle_sql(),
        # full LSH-ANN path: bucket assignment from the literal hyperplanes
        # + rounded-cosine top-k inside the query's bucket
        "ann_lsh": _ann_lsh_oracle_sql(),
        # IVF full-probe invariant: probing ALL cells of a correct KMeans
        # index == brute-force top-k (KMeans centroids aren't SQL-derivable,
        # so full-probe equivalence is what hash-checks that machinery)
        "ann_ivf": """
            WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings WHERE vec_id = 0)
            SELECT vec_id AS id,
                   CAST(round(round(list_cosine_similarity(
                       CAST(embedding AS DOUBLE[]), qv), 6) * 1000000) AS BIGINT)
                       AS score_e6
            FROM embeddings, q
            ORDER BY round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 6)
                     DESC, vec_id ASC
            LIMIT 5
        """,
        # PRUNED IVF probe replayed end-to-end: the seeded closed-form index
        # (centroid = per-label per-dim mean, cell = argmin squared L2 with
        # lowest-cell tie-break) is pure arithmetic, so the oracle re-derives
        # centroids, assignment, the nprobe=3 cell choice, AND the top-k over
        # exactly those cells from the raw table. Parallel unnests zip, so
        # (value, dimension-index) pairs come from one unnest pass.
        "ann_ivf_pruned": """
            WITH v AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev, label
                FROM embeddings
            ),
            dimvals AS (
                SELECT label,
                       unnest(ev) AS x,
                       unnest(range(1, len(ev) + 1)) AS d
                FROM v
            ),
            cmeans AS (
                SELECT label AS cell, d, avg(x) AS m
                FROM dimvals GROUP BY label, d
            ),
            cent AS (
                SELECT cell, list(m ORDER BY d) AS cv
                FROM cmeans GROUP BY cell
            ),
            assign AS (
                SELECT vec_id, ev, cell
                FROM (
                    SELECT v.vec_id, v.ev, c.cell,
                           list_sum(list_transform(range(1, len(v.ev) + 1),
                               i -> (v.ev[i] - c.cv[i]) ^ 2)) AS d2
                    FROM v CROSS JOIN cent c
                )
                QUALIFY row_number() OVER (PARTITION BY vec_id
                                           ORDER BY d2, cell) = 1
            ),
            q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                  FROM embeddings WHERE vec_id = 0),
            probe AS (
                SELECT c.cell
                FROM cent c, q
                ORDER BY list_sum(list_transform(range(1, len(qv) + 1),
                             i -> (qv[i] - c.cv[i]) ^ 2)), c.cell
                LIMIT 3
            )
            SELECT a.vec_id AS id,
                   CAST(round(round(list_cosine_similarity(a.ev, qv), 6)
                        * 1000000) AS BIGINT) AS score_e6
            FROM assign a JOIN probe USING (cell), q
            ORDER BY round(list_cosine_similarity(a.ev, qv), 6) DESC,
                     a.vec_id ASC
            LIMIT 5
        """,
        "ngram_jaccard": rf"""
            WITH toks AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '{WS_CLASS}+') AS t
                FROM documents WHERE doc_id < 150
            ),
            sh AS (
                SELECT DISTINCT doc_id, shingle
                FROM (
                    SELECT doc_id,
                           unnest(list_transform(
                               generate_series(1, greatest(len(t) - 2, 1)),
                               i -> array_to_string(t[i:i+2], ' '))) AS shingle
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
            WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.15
        """,
        "embedding_neardup": """
            SELECT id_a, id_b, CAST(round(cosine * 1000000) AS BIGINT) AS cosine_e6
            FROM (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       round(list_cosine_similarity(
                           CAST(a.embedding AS DOUBLE[]),
                           CAST(b.embedding AS DOUBLE[])), 6) AS cosine
                FROM embeddings a
                JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
            ) WHERE cosine >= 0.3
        """,
        # same recursive-CTE min-reachable labeling as neardup_clusters,
        # over the embedding-cosine pair set above
        "embedding_dedup_clusters": """
            WITH RECURSIVE pairs AS (
                SELECT id_a, id_b FROM (
                    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                           round(list_cosine_similarity(
                               CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[])), 6) AS cosine
                    FROM embeddings a
                    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
                ) WHERE cosine >= 0.3
            ),
            edges AS (
                SELECT id_a AS u, id_b AS v FROM pairs
                UNION
                SELECT id_b AS u, id_a AS v FROM pairs
            ),
            reach(id, r) AS (
                SELECT vec_id, vec_id FROM embeddings
                UNION
                SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.id
            )
            SELECT id, MIN(r) AS cluster_id, MIN(r) = id AS is_representative
            FROM reach GROUP BY id
        """,
        "cosine_topk": """
            WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings WHERE vec_id = 0)
            SELECT vec_id AS id,
                   CAST(round(round(list_cosine_similarity(
                       CAST(embedding AS DOUBLE[]), qv), 6) * 1000000) AS BIGINT)
                       AS score_e6
            FROM embeddings, q
            ORDER BY round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 6)
                     DESC, vec_id ASC
            LIMIT 10
        """,
        "lang_id": rf"""
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
        """,
        "quality_score": rf"""
            WITH feats AS (
                SELECT doc_id,
                       length(text) AS n_chars,
                       len(regexp_extract_all(text, '{TOKEN_PAT}')) AS n_tokens,
                       len(regexp_extract_all(text, '{PUNCT_PAT}')) AS n_punct,
                       len(regexp_extract_all(lower(text), '{EN_PAT}'))
                         + len(regexp_extract_all(lower(text), '{DE_PAT}')) AS n_stop,
                       len(regexp_extract_all(text, '{WS_CLASS}')) AS n_ws
                FROM documents
            ),
            ratios AS (
                SELECT doc_id, n_tokens,
                       round(n_punct * 1.0 / greatest(n_chars, 1), 6) AS punct_ratio,
                       round(n_stop * 1.0 / greatest(n_tokens, 1), 6) AS stopword_ratio,
                       round((n_chars - n_ws) * 1.0 / greatest(n_tokens, 1), 6)
                           AS mean_token_len
                FROM feats
            )
            SELECT doc_id, n_tokens,
                   CAST(round(punct_ratio * 1000000) AS BIGINT) AS punct_ratio_e6,
                   CAST(round(stopword_ratio * 1000000) AS BIGINT) AS stopword_ratio_e6,
                   CAST(round(mean_token_len * 1000000) AS BIGINT) AS mean_token_len_e6,
                   CAST(round(round(
                       least(stopword_ratio * 4, 1.0) * 0.4
                       + CASE WHEN mean_token_len >= 3 AND mean_token_len <= 10
                              THEN 0.4 ELSE 0.1 END
                       + CASE WHEN punct_ratio <= 0.05 THEN 0.2 ELSE 0.05 END, 6)
                       * 1000000) AS BIGINT) AS quality_score_e6
            FROM ratios
        """,
        "doc_frequency": rf"""
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
            HAVING count(*) >= 2
        """,
        "politeness_schedule": f"""
            WITH {_CORPUS_PARAMS_CTE},
            {_CORPUS_NODE_CTE},
            eff AS (
                SELECT n.*,
                       greatest(
                           coalesce(CASE WHEN n.h % 5 <> 1 AND n.h % 7 = 3
                                         THEN 4500 END, 0),
                           2000) AS eff
                FROM node n
            ),
            slots AS (
                SELECT *,
                       row_number() OVER (
                           PARTITION BY h
                           ORDER BY blocked ASC, keyword_hit DESC, doc ASC
                       ) - 1 AS slot,
                       greatest(1, floor(6000.0 / eff)) AS cap
                FROM eff
            )
            SELECT url, blocked AS robots_blocked,
                   CAST(eff AS BIGINT) AS effective_delay_ms,
                   CAST(CASE WHEN blocked THEN NULL ELSE slot END AS INT) AS host_slot,
                   CAST(CASE WHEN blocked THEN NULL ELSE slot * eff END AS BIGINT)
                       AS sched_offset_ms,
                   CAST(CASE WHEN blocked THEN NULL
                             ELSE floor(slot * 1.0 / cap) END AS INT) AS slice
            FROM slots
        """,
        "corpus_curation": rf"""
            WITH feats AS (
                SELECT doc_id, text,
                       length(text) AS n_chars,
                       len(regexp_extract_all(text, '{TOKEN_PAT}')) AS n_tokens,
                       len(regexp_extract_all(text, '{PUNCT_PAT}')) AS n_punct,
                       len(regexp_extract_all(lower(text), '{EN_PAT}'))
                         + len(regexp_extract_all(lower(text), '{DE_PAT}')) AS n_stop,
                       len(regexp_extract_all(text, '{WS_CLASS}')) AS n_ws,
                       len(regexp_extract_all(lower(text), '{DE_PAT}')) AS de_hits,
                       len(regexp_extract_all(lower(text), '{EN_PAT}')) AS en_hits
                FROM documents
            ),
            ratios AS (
                SELECT doc_id, text, n_tokens, de_hits, en_hits,
                       round(n_punct * 1.0 / greatest(n_chars, 1), 6) AS punct_ratio,
                       round(n_stop * 1.0 / greatest(n_tokens, 1), 6) AS stopword_ratio,
                       round((n_chars - n_ws) * 1.0 / greatest(n_tokens, 1), 6)
                           AS mean_token_len
                FROM feats
            ),
            scored AS (
                SELECT doc_id, text, n_tokens,
                       CASE WHEN de_hits = 0 AND en_hits = 0 THEN 'unknown'
                            WHEN de_hits >= en_hits THEN 'de'
                            ELSE 'en' END AS lang_pred,
                       round(
                           least(stopword_ratio * 4, 1.0) * 0.4
                           + CASE WHEN mean_token_len >= 3 AND mean_token_len <= 10
                                  THEN 0.4 ELSE 0.1 END
                           + CASE WHEN punct_ratio <= 0.05 THEN 0.2 ELSE 0.05 END,
                           6) AS quality_score
                FROM ratios
            ),
            kept AS (
                SELECT * FROM scored
                WHERE lang_pred = 'en' AND quality_score >= 0.65
            ),
            rep AS (
                SELECT md5(text) AS h, min(doc_id) AS doc_id FROM kept GROUP BY md5(text)
            )
            SELECT k.doc_id, k.n_tokens,
                   CAST(round(k.quality_score * 1000000) AS BIGINT) AS quality_score_e6
            FROM kept k JOIN rep r ON k.doc_id = r.doc_id
        """,
        "token_count": rf"""
            SELECT doc_id,
                   len(regexp_extract_all(text, '{TOKEN_PAT}')) AS n_tokens,
                   len(regexp_extract_all(text, '{BPE_PAT}')) AS n_bpe_tokens
            FROM documents
        """,
        # The rolling-hash fingerprint is plain modular arithmetic, so DuckDB
        # re-derives the RAW hash values with HUGEINT (int128) lambdas:
        # doc_hash = Horner's rule over the codepoints, min_gram_hash = min
        # over every 16-char window's polynomial hash (docs shorter than the
        # window fall back to doc_hash — operators/textstats.py
        # fingerprint_py / fingerprint_batch). O(n·window) per doc is fine at
        # driver scale; Spark-side it's the vectorized numpy kernel.
        "fingerprint": """
            WITH codes AS (
                SELECT doc_id,
                       list_transform(range(1, length(text) + 1),
                                      i -> CAST(unicode(text[i]) AS HUGEINT)) AS cs,
                       length(text) AS n
                FROM documents
            ),
            h AS (
                SELECT doc_id, n, cs,
                       CASE WHEN n = 0 THEN 0 ELSE
                           list_reduce(cs, (acc, x) ->
                               (acc * 257 + x) % 2305843009213693951)
                       END AS doc_hash
                FROM codes
            )
            SELECT doc_id,
                   CAST(doc_hash AS BIGINT) AS doc_hash,
                   CAST(CASE WHEN n < 16 THEN doc_hash ELSE
                       list_min(list_transform(range(1, n - 14),
                           i -> list_reduce(cs[i:i+15], (acc, x) ->
                               (acc * 257 + x) % 2305843009213693951)))
                   END AS BIGINT) AS min_gram_hash
            FROM h
        """,
        # Winnowed fingerprint sets re-derived with the same HUGEINT
        # rolling-hash lambdas as `fingerprint`, plus the winnow selection
        # (distinct sliding minima over guard=4 consecutive window hashes —
        # positional tie-breaks are value-irrelevant for a SET), the
        # stop-fp document-frequency cap (<= 1000), and the fp self-join.
        # Mirrors operators/textstats.py winnow_batch / substring_dup_pairs.
        # Keyed-sampling oracle: the same crc32("<doc_id>:<salt>") <
        # fraction * 2^32 decision, CRC-32 via the inline table (digits and
        # ':' are ASCII, so the unicode-byte form is exact).
        "sample_stratified": rf"""
            WITH t AS (SELECT {_crc32_table_sql()}::UBIGINT[] AS tab),
            keyed AS (
                SELECT doc_id, source,
                       CAST(doc_id AS VARCHAR) || ':5' AS s
                FROM documents
            ),
            h AS (
                SELECT doc_id, source,
                       {_CRC32_EXPR_SAMPLE} AS hv
                FROM keyed, t
            )
            SELECT doc_id, source FROM h
            WHERE hv < CASE source
                WHEN 'src0'  THEN 4294967296
                WHEN 'src3'  THEN 2147483648
                WHEN 'src7'  THEN 1073741824
                WHEN 'src12' THEN 429496729
                ELSE 0 END
        """,
        "source_mix": """
            WITH agg AS (
                SELECT source AS stratum, count(*) AS n_docs,
                       SUM(n_chars)::BIGINT AS weight
                FROM documents GROUP BY source
            )
            SELECT stratum, n_docs, weight,
                   CAST(round(weight * 1000000.0 / (SELECT SUM(weight) FROM agg))
                        AS BIGINT) AS share_e6
            FROM agg
        """,
        # Bigram LM retrained from scratch in SQL: zipped positional unnests
        # give (a, b) pairs, two GROUP BYs give the model, and the scoring
        # join replays (c_ab + 1) / (c_a + V) with the same double casts and
        # the same two-step rounding (round(avg, 6) then *1e6) as the Spark
        # side. Self-reference model => every scored bigram exists in the
        # counts, so inner joins suffice.
        "bigram_lm": rf"""
            WITH toks AS (
                SELECT doc_id,
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
            ),
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
        """,
        # ranked selection over the e6-rounded LM scores (the hash-matched
        # integers — raw-double ordering could flip ranks on ulp drift)
        "quality_topk_per_source": rf"""
            WITH toks AS (
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
            ),
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
            FROM ranked WHERE rk <= 3
        """,
        # Split thresholds computed by the SAME Python float accumulation
        # hash_split uses (0.8 -> 0.8+0.1 in doubles), embedded as integer
        # literals — both engines then compare the identical CRC-32 against
        # the identical integers.
        "hash_split": rf"""
            WITH t AS (SELECT {_crc32_table_sql()}::UBIGINT[] AS tab),
            keyed AS (
                SELECT doc_id, CAST(doc_id AS VARCHAR) || ':7' AS s
                FROM documents
            ),
            h AS (SELECT doc_id, {_CRC32_EXPR_SAMPLE} AS hv FROM keyed, t)
            SELECT doc_id,
                   CASE WHEN hv < {int(0.8 * 4294967296)} THEN 'train'
                        WHEN hv < {int((0.8 + 0.1) * 4294967296)} THEN 'val'
                        ELSE 'test' END AS split
            FROM h
        """,
        # The full mix-shaping loop replayed in SQL. Float-op order mirrors
        # rebalance_fractions EXACTLY (ratio = c / (t / tot_t); f =
        # least(1.0, k * (t / tot_t) / c); threshold = trunc(f * 2^32)) so
        # both engines evaluate the identical IEEE doubles; target shares
        # are integer-valued, keeping their sum exact under any order.
        "mix_rebalance": rf"""
            WITH t AS (SELECT {_crc32_table_sql()}::UBIGINT[] AS tab),
            agg AS (
                SELECT source AS stratum, count(*) AS n_docs,
                       SUM(n_chars)::BIGINT AS weight
                FROM documents GROUP BY source
            ),
            tgt(stratum, share) AS (
                VALUES ('src0', 50.0), ('src1', 30.0), ('src2', 20.0)
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
            keyed AS (
                SELECT doc_id, source, n_chars,
                       CAST(doc_id AS VARCHAR) || ':11' AS s
                FROM documents
            ),
            h AS (
                SELECT doc_id, source, n_chars, {_CRC32_EXPR_SAMPLE} AS hv
                FROM keyed, t
            ),
            samp AS (
                SELECT h.doc_id, h.source, h.n_chars
                FROM h JOIN thr ON thr.stratum = h.source AND h.hv < thr.thr
            ),
            agg2 AS (
                SELECT source AS stratum, count(*) AS n_docs,
                       SUM(n_chars)::BIGINT AS weight
                FROM samp GROUP BY source
            )
            SELECT stratum, n_docs, weight,
                   CAST(round(weight * 1000000.0 / (SELECT SUM(weight) FROM agg2))
                        AS BIGINT) AS share_e6
            FROM agg2
        """,
        # Packing oracle: the windowed SUM form the two-pass bucketed
        # prefix sum is provably equal to; integer div/mod throughout.
        "pack_sequences": rf"""
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
                   (start_offset // 2048)::BIGINT AS pack_id,
                   (start_offset % 2048)::BIGINT AS pack_offset,
                   CASE WHEN n_tokens = 0 THEN 0
                        ELSE (start_offset + n_tokens - 1) // 2048
                             - start_offset // 2048 + 1
                   END::BIGINT AS n_packs_spanned
            FROM c
        """,
        # Writer oracle: the packed streams rebuilt from scratch — global
        # token positions via the windowed prefix sum + a zipped positional
        # unnest, packs = GROUP BY p // seq_len with ORDER BY p string_aggs,
        # breaks = start_offset mod seq_len of every nonempty doc grouped by
        # its starting pack.
        "pack_emit": rf"""
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
                SELECT p // 128 AS pack_id,
                       count(*)::INT AS n_tokens,
                       string_agg(tok, chr(31) ORDER BY p) AS tokens_cat
                FROM pos GROUP BY p // 128
            ),
            br AS (
                SELECT start_offset // 128 AS pack_id,
                       start_offset % 128 AS b
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
        """,
        "substring_dup": """
            WITH codes AS (
                SELECT doc_id,
                       list_transform(range(1, length(text) + 1),
                                      i -> CAST(unicode(text[i]) AS HUGEINT)) AS cs,
                       length(text) AS n
                FROM documents
            ),
            whs AS (
                SELECT doc_id, n,
                       CASE WHEN n = 0 THEN [CAST(0 AS HUGEINT)]
                            WHEN n < 16 THEN [list_reduce(cs, (acc, x) ->
                                (acc * 257 + x) % 2305843009213693951)]
                            ELSE list_transform(range(1, n - 14),
                                i -> list_reduce(cs[i:i+15], (acc, x) ->
                                    (acc * 257 + x) % 2305843009213693951))
                       END AS wh
                FROM codes
            ),
            sel AS (
                SELECT doc_id,
                       CASE WHEN len(wh) <= 4 THEN [list_min(wh)]
                            ELSE list_distinct(list_transform(range(1, len(wh) - 2),
                                j -> list_min(wh[j:j+3])))
                       END AS fps
                FROM whs
            ),
            fp AS (SELECT doc_id, unnest(fps) AS fp FROM sel),
            kept AS (
                SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 1000
            ),
            fpk AS (SELECT f.doc_id, f.fp FROM fp f JOIN kept USING (fp))
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   count(*) AS shared_fps
            FROM fpk a JOIN fpk b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING count(*) >= 2
        """,
        # substring_dup candidates + exact window-hash-set intersection
        # (operators/textstats.py substring_overlap): the whs CTE is the
        # FULL rolling-hash list (un-winnowed); zero-overlap candidates
        # keep an explicit 0 row.
        "substring_dup_verified": """
            WITH codes AS (
                SELECT doc_id,
                       list_transform(range(1, length(text) + 1),
                                      i -> CAST(unicode(text[i]) AS HUGEINT)) AS cs,
                       length(text) AS n
                FROM documents
            ),
            whs AS (
                SELECT doc_id, n,
                       CASE WHEN n = 0 THEN [CAST(0 AS HUGEINT)]
                            WHEN n < 16 THEN [list_reduce(cs, (acc, x) ->
                                (acc * 257 + x) % 2305843009213693951)]
                            ELSE list_transform(range(1, n - 14),
                                i -> list_reduce(cs[i:i+15], (acc, x) ->
                                    (acc * 257 + x) % 2305843009213693951))
                       END AS wh
                FROM codes
            ),
            sel AS (
                SELECT doc_id,
                       CASE WHEN len(wh) <= 4 THEN [list_min(wh)]
                            ELSE list_distinct(list_transform(range(1, len(wh) - 2),
                                j -> list_min(wh[j:j+3])))
                       END AS fps
                FROM whs
            ),
            fp AS (SELECT doc_id, unnest(fps) AS fp FROM sel),
            kept AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 1000),
            fpk AS (SELECT f.doc_id, f.fp FROM fp f JOIN kept USING (fp)),
            cand AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM fpk a JOIN fpk b ON a.fp = b.fp AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
                HAVING count(*) >= 2
            ),
            wdist AS (
                SELECT doc_id, unnest(list_distinct(wh)) AS w FROM whs
            ),
            counts AS (
                SELECT c.id_a, c.id_b, count(*) AS shared_windows
                FROM cand c
                JOIN wdist wa ON wa.doc_id = c.id_a
                JOIN wdist wb ON wb.doc_id = c.id_b AND wb.w = wa.w
                GROUP BY c.id_a, c.id_b
            )
            SELECT c.id_a, c.id_b,
                   COALESCE(counts.shared_windows, 0) AS shared_windows
            FROM cand c LEFT JOIN counts USING (id_a, id_b)
        """,
        # The dedup ACTION replayed in SQL: same candidate+verification CTEs
        # as substring_dup_verified, then pairs with >= 25 shared windows,
        # span marking on the id_b side (a positional window hash of dst
        # found in any partner's distinct set covers chars [i, i+16)), and
        # character-level removal via per-position anti-join + string_agg.
        "substring_dedup_apply": """
            WITH codes AS (
                SELECT doc_id,
                       list_transform(range(1, length(text) + 1),
                                      i -> CAST(unicode(text[i]) AS HUGEINT)) AS cs,
                       length(text) AS n
                FROM documents
            ),
            whs AS (
                SELECT doc_id, n,
                       CASE WHEN n = 0 THEN [CAST(0 AS HUGEINT)]
                            WHEN n < 16 THEN [list_reduce(cs, (acc, x) ->
                                (acc * 257 + x) % 2305843009213693951)]
                            ELSE list_transform(range(1, n - 14),
                                i -> list_reduce(cs[i:i+15], (acc, x) ->
                                    (acc * 257 + x) % 2305843009213693951))
                       END AS wh
                FROM codes
            ),
            sel AS (
                SELECT doc_id,
                       CASE WHEN len(wh) <= 4 THEN [list_min(wh)]
                            ELSE list_distinct(list_transform(range(1, len(wh) - 2),
                                j -> list_min(wh[j:j+3])))
                       END AS fps
                FROM whs
            ),
            fp AS (SELECT doc_id, unnest(fps) AS fp FROM sel),
            kept AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 1000),
            fpk AS (SELECT f.doc_id, f.fp FROM fp f JOIN kept USING (fp)),
            cand AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM fpk a JOIN fpk b ON a.fp = b.fp AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
                HAVING count(*) >= 2
            ),
            wdist AS (
                SELECT doc_id, unnest(list_distinct(wh)) AS w FROM whs
            ),
            verified AS (
                SELECT c.id_a, c.id_b
                FROM cand c
                JOIN wdist wa ON wa.doc_id = c.id_a
                JOIN wdist wb ON wb.doc_id = c.id_b AND wb.w = wa.w
                GROUP BY c.id_a, c.id_b
                HAVING count(*) >= 25
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
                WHERE w2.n >= 16
            ),
            hits AS (
                SELECT DISTINCT p.doc_id, p.i
                FROM pos p
                JOIN partner q ON q.doc_id = p.doc_id AND q.w = p.wh_i
            ),
            cover AS (
                SELECT DISTINCT doc_id, unnest(range(i, i + 16)) AS p
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
        """,
        "keyword_gate": f"""
            SELECT doc_id, ({gate_cond}) AS keyword_hit FROM documents
        """,
        "posexplode_tokens": rf"""
            WITH toks AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '{WS_CLASS}+') AS t
                FROM documents WHERE doc_id < 100
            )
            SELECT doc_id,
                   CAST(unnest(generate_series(1, len(t))) - 1 AS INT) AS pos,
                   unnest(t) AS token
            FROM toks
        """,
        "ledger_events": """
            SELECT user_id, min(ts) AS first_seen_at, max(ts) AS last_seen_at,
                   count(*) AS n_events,
                   CAST(round(sum(value) * 1000000) AS BIGINT) AS total_value_e6
            FROM events GROUP BY user_id
        """,
        "top_sources": """
            SELECT source, count(*) AS n FROM documents
            GROUP BY source ORDER BY n DESC, source ASC LIMIT 5
        """,
        "events_window": """
            SELECT event_id, user_id,
                   CAST(row_number() OVER w AS INT) AS rn,
                   lag(event_type) OVER w AS prev_type
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "rollup_pricing": """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   CAST(round(sum(l_quantity) * 100) AS BIGINT) AS sum_qty_e2
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "set_ops": """
            WITH building AS (
                SELECT c_custkey AS custkey FROM customer
                WHERE c_mktsegment = 'BUILDING'
            ),
            big AS (
                SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 100000
            )
            SELECT 'intersect' AS op, custkey FROM (SELECT custkey FROM building INTERSECT SELECT custkey FROM big)
            UNION ALL
            SELECT 'except' AS op, custkey FROM (SELECT custkey FROM building EXCEPT SELECT custkey FROM big)
        """,
        "sessionize": """
            WITH gaps AS (
                SELECT event_id, user_id,
                       CASE WHEN lag(ts) OVER w IS NULL
                              OR epoch(ts - lag(ts) OVER w) > 1800
                            THEN 1 ELSE 0 END AS new_sess,
                       ts, event_id AS eid
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT event_id, user_id,
                   CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, eid
                                            ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS session_id
            FROM gaps
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(round(sum(l_quantity) * 100) AS BIGINT) AS sum_qty_e2,
                   CAST(round(sum(l_extendedprice) * 100) AS BIGINT)
                       AS sum_base_price_e2,
                   CAST(round(sum(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)
                       AS sum_disc_price_e2,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "volume_by_nation": """
            SELECT n_name,
                   CAST(round(sum(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)
                       AS revenue_e2,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
    }
