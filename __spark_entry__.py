"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship iterative crawl over a corpus derived from
                 /root/testdata/sf0.001 (BFS frontier, robots, politeness,
                 bloom+anti-join dedup, extraction).
queries()      — one entry per implemented operator family (SURVEY.md §2 +
                 the training-data extensions); each callable
                 (spark, sf_dir) -> DataFrame.
oracle_sql()   — DuckDB-equivalent ANSI SQL for every query. Float outputs
                 are emitted as round(x*1e6) BIGINTs on BOTH sides so value
                 hashes are engine-portable.

The builders and their oracle SQL live side by side in the package's
`queries/` modules; this file only orders them.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawler_german_localpoliticans_spark.queries import (
    crawl, curation, dedup, relational, similarity,
)
from crawler_german_localpoliticans_spark.sources.webcorpus import run_flagship_crawl

SF0001 = "/root/testdata/sf0.001"

# the driver's gate reads the registry in this order (its first 50 entries)
QUERY_NAMES = (
    "crawl_bfs", "crawl_reachability", "crawl_extracted", "url_seen", "found_links_jvm",
    "exact_dedup", "minhash_neardup", "neardup_clusters", "minhash_planted",
    "minhash_planted_xx", "simhash", "simhash_planted", "fingerprint_planted", "ngram_jaccard",
    "embedding_neardup", "embedding_dedup_clusters", "cosine_topk", "ann_lsh", "ann_ivf",
    "ann_ivf_pruned", "doc_frequency", "pii_scrub", "contamination", "repetition_stats",
    "politeness_schedule", "corpus_curation", "rollup_pricing", "set_ops", "sessionize",
    "lang_id", "quality_score", "token_count", "fingerprint", "substring_dup",
    "substring_dup_verified", "substring_dedup_apply", "pack_sequences", "pack_emit",
    "sample_stratified", "source_mix", "mix_rebalance", "hash_split", "bigram_lm",
    "quality_topk_per_source", "keyword_gate", "posexplode_tokens", "ledger_events",
    "top_sources", "events_window", "pricing_summary", "volume_by_nation", "url_canonicalize",
    "url_normalize_ingest", "robots_eval", "multimodal_features",
)

# oracle_sql() keeps the key order it has always had
ORACLE_NAMES = (
    "crawl_bfs", "crawl_extracted", "url_canonicalize", "url_normalize_ingest", "robots_eval",
    "url_seen", "found_links_jvm", "crawl_reachability", "exact_dedup", "minhash_planted",
    "minhash_planted_xx", "simhash_planted", "pii_scrub", "contamination", "repetition_stats",
    "minhash_neardup", "neardup_clusters", "simhash", "fingerprint_planted",
    "multimodal_features", "ann_lsh", "ann_ivf", "ann_ivf_pruned", "ngram_jaccard",
    "embedding_neardup", "embedding_dedup_clusters", "cosine_topk", "lang_id", "quality_score",
    "doc_frequency", "politeness_schedule", "corpus_curation", "token_count", "fingerprint",
    "sample_stratified", "source_mix", "bigram_lm", "quality_topk_per_source", "hash_split",
    "mix_rebalance", "pack_sequences", "pack_emit", "substring_dup", "substring_dup_verified",
    "substring_dedup_apply", "keyword_gate", "posexplode_tokens", "ledger_events",
    "top_sources", "events_window", "rollup_pricing", "set_ops", "sessionize",
    "pricing_summary", "volume_by_nation",
)

_REGISTRY = {
    **crawl.QUERIES, **dedup.QUERIES, **similarity.QUERIES,
    **curation.QUERIES, **relational.QUERIES,
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: iterative BFS crawl (frontier, robots broadcast state,
    politeness schedule, bloom-prefiltered exact dedup, deterministic
    (depth, seq) order, pandas-UDF extraction) over the corpus derived from
    sf0.001 documents."""
    tables, _ = run_flagship_crawl(spark, SF0001, max_depth=crawl.MAX_DEPTH)
    return tables.fetched.select(
        "seq", "url", "depth", "keyword_hit", "robots_blocked", "fetch_failed",
        F.size("found_links").alias("found_links_count"),
    ).orderBy("seq")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _REGISTRY[name][0] for name in QUERY_NAMES}


def oracle_sql() -> dict[str, str]:
    return {name: _REGISTRY[name][1] for name in ORACLE_NAMES}
