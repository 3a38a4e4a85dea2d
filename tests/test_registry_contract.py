"""The driver contract of `__spark_entry__.py`, checked without Spark: the
55 query names in their order (the driver's gate reads only the first 50
registry entries), one oracle per query, and one family module per name."""

from __future__ import annotations

import __spark_entry__ as entrymod

QUERY_ORDER = [
    "crawl_bfs", "crawl_reachability", "crawl_extracted", "url_seen", "found_links_jvm",
    "exact_dedup", "minhash_neardup", "neardup_clusters", "minhash_planted",
    "minhash_planted_xx", "simhash", "simhash_planted", "fingerprint_planted",
    "ngram_jaccard", "embedding_neardup", "embedding_dedup_clusters", "cosine_topk",
    "ann_lsh", "ann_ivf", "ann_ivf_pruned", "doc_frequency", "pii_scrub",
    "contamination", "repetition_stats", "politeness_schedule", "corpus_curation",
    "rollup_pricing", "set_ops", "sessionize", "lang_id", "quality_score",
    "token_count", "fingerprint", "substring_dup", "substring_dup_verified",
    "substring_dedup_apply", "pack_sequences", "pack_emit", "sample_stratified",
    "source_mix", "mix_rebalance", "hash_split", "bigram_lm",
    "quality_topk_per_source", "keyword_gate", "posexplode_tokens", "ledger_events",
    "top_sources", "events_window", "pricing_summary", "volume_by_nation",
    "url_canonicalize", "url_normalize_ingest", "robots_eval", "multimodal_features",
]

ORACLE_ORDER = [
    "crawl_bfs", "crawl_extracted", "url_canonicalize", "url_normalize_ingest",
    "robots_eval", "url_seen", "found_links_jvm", "crawl_reachability", "exact_dedup",
    "minhash_planted", "minhash_planted_xx", "simhash_planted", "pii_scrub",
    "contamination", "repetition_stats", "minhash_neardup", "neardup_clusters",
    "simhash", "fingerprint_planted", "multimodal_features", "ann_lsh", "ann_ivf",
    "ann_ivf_pruned", "ngram_jaccard", "embedding_neardup", "embedding_dedup_clusters",
    "cosine_topk", "lang_id", "quality_score", "doc_frequency", "politeness_schedule",
    "corpus_curation", "token_count", "fingerprint", "sample_stratified", "source_mix",
    "bigram_lm", "quality_topk_per_source", "hash_split", "mix_rebalance",
    "pack_sequences", "pack_emit", "substring_dup", "substring_dup_verified",
    "substring_dedup_apply", "keyword_gate", "posexplode_tokens", "ledger_events",
    "top_sources", "events_window", "rollup_pricing", "set_ops", "sessionize",
    "pricing_summary", "volume_by_nation",
]


def test_registry_names_keep_their_order():
    assert len(QUERY_ORDER) == 55 and sorted(QUERY_ORDER) == sorted(ORACLE_ORDER)
    assert list(entrymod.queries()) == QUERY_ORDER
    assert list(entrymod.oracle_sql()) == ORACLE_ORDER


def test_each_query_is_defined_by_one_family():
    from crawler_german_localpoliticans_spark.queries import (
        crawl,
        curation,
        dedup,
        relational,
        similarity,
    )

    families = [crawl, dedup, similarity, curation, relational]
    names = [name for family in families for name in family.QUERIES]
    assert sorted(names) == sorted(QUERY_ORDER)
