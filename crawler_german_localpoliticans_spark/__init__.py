"""PySpark-native crawl + web-text analytics engine.

A brand-new implementation (NOT a port) of the data-processing semantics of
K-unix/Crawler_german_localpoliticans: a DataFrame-resident URL frontier with
exact + bloom-prefiltered URL-seen dedup, robots.txt evaluation as broadcast
state, a per-host politeness scheduler, deterministic (depth, seq) crawl
ordering, vectorized pandas/Arrow UDF extraction, and the large-scale
training-data operators (dedup, similarity search, text analysis) that a
100 TB web-text pipeline needs.

Layout
------
functions/   pure-Python row semantics (canonicalize, robots, html, keywords)
             shared verbatim by the Spark engine and the reference oracle
operators/   DataFrame-level operators (dedup, similarity, textstats, ledger)
sources/     table schemas, parquet-backed catalog, seed/pages sources
plans/       the iterative crawl driver: waves, bloom sidecar, politeness,
             checkpoint/resume, and the single-threaded reference oracle

The reference is a poll-loop batch system (SURVEY.md §1.2), so incremental
ingest maps to the iterative batch crawl; there is no streaming layer.
"""

__version__ = "0.1.0"
