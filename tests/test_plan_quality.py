"""Physical-plan quality gates: these assert the plans we'd want at 100 TB —
filter/column pushdown into the parquet scan, broadcast joins for small
dims, whole-stage codegen for Column-only operators, no Python in JVM-only
paths. A plan regression fails CI even while results stay correct."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def clear_cache(spark):
    # other modules cache the same parquet tables; a cache hit rewrites the
    # scan to InMemoryTableScan and hides the pushdown we assert on
    spark.catalog.clearCache()
    yield


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_filter_and_column_pushdown(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = docs.where(F.col("doc_id") < 100).select("doc_id", "lang")
    plan = formatted(q)
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)]" in plan
    # column pruning: html-sized text column is NOT read
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan


def test_keyword_gate_is_codegen_no_python(spark):
    from crawler_german_localpoliticans_spark.functions.udfs import keyword_hit_col

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = docs.select(keyword_hit_col(F.col("text"), ("Rathaus", "Politik")).alias("hit"))
    plan = formatted(q)
    # the gate projection sits inside a whole-stage-codegen span
    # (`* Project ... [codegen id : N]` in formatted output)
    assert "* Project" in plan and "[codegen id :" in plan
    assert "Python" not in plan  # F4 is a pure Column expr (SURVEY §2.2)


def test_small_dim_join_is_broadcast(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    n = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    s = spark.read.parquet(f"{SF_DIR}/supplier.parquet")
    q = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .count()
    )
    assert "BroadcastHashJoin" in plan_of(q)


def test_exact_dedup_has_partial_aggregation(spark):
    from crawler_german_localpoliticans_spark.operators.dedup import exact_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(exact_dedup(docs, "doc_id", "text"))
    # map-side combine: HashAggregate appears twice (partial + final)
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning(text_hash" in plan


def test_minhash_signatures_no_python(spark):
    from crawler_german_localpoliticans_spark.operators.dedup import minhash_signatures_xx
    from dedup_reference import minhash_signatures

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    plan = plan_of(minhash_signatures(docs, "doc_id", "text"))
    assert "Python" not in plan  # crc32 + 64 min-aggregates are all JVM
    plan_xx = plan_of(minhash_signatures_xx(docs, "doc_id", "text"))
    assert "Python" not in plan_xx  # the 64-bit family too


def test_minhash_arrow_signatures_shuffle_free(spark):
    """The default (Arrow) signature engine is a pure map pass: no Exchange
    anywhere in the plan — at 10^10 docs the JVM form's explode+groupBy
    shuffle is the cost this elides."""
    from crawler_german_localpoliticans_spark.operators.dedup import minhash_signatures_arrow

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(minhash_signatures_arrow(docs, "doc_id", "text"))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan


def test_cosine_topk_is_heap_topk_with_arrow_scoring(spark):
    from crawler_german_localpoliticans_spark.operators.similarity import cosine_topk_bruteforce

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.limit(50).collect()[0]["embedding"]
    plan = plan_of(cosine_topk_bruteforce(emb, "vec_id", "embedding", list(q), 10))
    # top-k compiles to TakeOrderedAndProject (per-partition heaps), never a
    # global sort; scoring is one Arrow-batched numpy matvec (ArrowEvalPython),
    # never row-at-a-time Python (BatchEvalPython)
    assert "TakeOrderedAndProject" in plan
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert "Sort " not in plan


def test_anti_join_on_url_hash_keys(spark, tmp_path):
    """The url_seen anti-join shuffles on the join key; bloom-definite rows
    bypass it entirely (structure asserted via row counts in crawl tests;
    here: the join itself is a hash join, not BNL/cartesian)."""
    a = spark.range(1000).select(F.concat(F.lit("u"), F.col("id")).alias("url"))
    b = spark.range(500).select(F.concat(F.lit("u"), F.col("id") * 2).alias("url"))
    plan = plan_of(a.join(b, "url", "left_anti"))
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_robots_policies_join_scales_past_broadcast(spark):
    """Flagship robots path at 10^5 synthetic hosts: the policy set never
    reaches the driver as a count or a dict — evaluate_robots is an
    un-hinted JOIN, so Spark's size-based selection broadcasts the small
    policies side and shuffles on host_key once broadcasts are off, and the
    results are exact and identical either way."""
    from crawler_german_localpoliticans_spark.config import DEFAULT_CONFIG
    from crawler_german_localpoliticans_spark.plans.crawl import (
        evaluate_robots,
        parse_policies_df,
    )

    n_hosts = 100_000
    robots = spark.range(n_hosts).select(
        F.concat(F.lit("https://h"), F.col("id"), F.lit(".de")).alias("host_key"),
        F.when(
            F.col("id") % 3 == 0, F.lit("User-agent: *\nDisallow: /priv\nCrawl-delay: 2\n")
        ).otherwise(F.lit("")).alias("robots_txt"),
    )
    policies = parse_policies_df(robots, DEFAULT_CONFIG)
    frontier = spark.range(0, n_hosts, 7).select(
        F.concat(F.lit("https://h"), F.col("id"), F.lit(".de/priv/x")).alias("url"),
        F.concat(F.lit("https://h"), F.col("id"), F.lit(".de")).alias("host_key"),
        F.col("id"),
    )
    thresholds = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in thresholds}
    results = []
    try:
        for broadcast_off in (False, True):
            for k in thresholds:
                if broadcast_off:
                    spark.conf.set(k, "-1")
                elif saved[k] is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, saved[k])
            out = evaluate_robots(frontier, policies)
            rows = sorted(
                tuple(r) for r in out.select("id", "robots_blocked", "crawl_delay_ms").collect()
            )
            plan = plan_of(out)
            assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
            if broadcast_off:
                assert "BroadcastHashJoin" not in plan, plan
                assert re.search(r"(SortMergeJoin|ShuffledHashJoin) \[host_key", plan), plan
            else:
                assert "BroadcastHashJoin" in plan, plan
            results.append(rows)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert results[0] == results[1]
    rows = results[0]
    assert len(rows) == len(range(0, n_hosts, 7))
    for id_, blocked, delay in rows:
        expect_blocked = id_ % 3 == 0
        assert blocked == expect_blocked, (id_, blocked)
        assert delay == (2000 if expect_blocked else None), (id_, delay)


def test_extraction_stage_prunes_payload_columns(spark, smoke_dir):
    """Reading fetched output for analytics must not deserialize found_links
    when only counts are selected."""
    from crawler_german_localpoliticans_spark.sources.tables import PAGES_SCHEMA

    pages = spark.read.schema(PAGES_SCHEMA).parquet(f"{smoke_dir}/pages.parquet")
    q = pages.select("url", "lang")
    assert "ReadSchema: struct<url:string,lang:string>" in formatted(q)


def test_bigram_lm_model_is_jvm_only_no_cartesian(spark):
    """The LM path must be pure JVM (tokens/bigrams are Column transforms,
    never Python) and every join an equi-join — a cartesian/BNL against
    the counts table would be quadratic in the corpus."""
    from crawler_german_localpoliticans_spark.operators.textstats import (
        bigram_lm_scores,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = bigram_lm_scores(docs, "doc_id", "text")
    plan = plan_of(out)
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    # the only nested-loop allowed is the broadcast of the 1-row vocab size
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_substring_dedup_python_only_touches_pair_docs(spark):
    """The strip kernel and the partner window-hash explode must run behind
    joins that restrict to candidate-pair documents — the corpus-sized
    branch of the union has to stay Python-free."""
    from crawler_german_localpoliticans_spark.operators.textstats import (
        substring_dedup,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = substring_dedup(docs, pairs, "doc_id", "text")
    plan = plan_of(out)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # the union's untouched branch (left-anti side of the target join)
    # carries no Python evaluation: every Arrow/Python node in the plan
    # sits below a join with the pair-derived target set. Cheap structural
    # proxy: the plan contains exactly the two pandas UDF evaluations
    # (partner whs + strip), not a third corpus-wide one.
    assert plan.count("ArrowEvalPython") == 2


def test_pack_emit_slices_before_shuffle(spark):
    """pack_emit must cut per-(doc, pack) slices JVM-side BEFORE the
    groupBy shuffle — a doc's full token array must never ship once per
    spanned pack — and (r6) the per-pack assembly is a pure JVM
    aggregation: NO Python stage of any kind in the plan."""
    from crawler_german_localpoliticans_spark.operators.packing import (
        pack_emit,
        pack_sequences,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    toks = docs.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("toks")
    )
    counted = toks.select("doc_id", F.size("toks").cast("long").alias("n_tokens"))
    packed = pack_sequences(counted, "doc_id", "n_tokens", 64)
    out = pack_emit(packed, toks, "doc_id", "toks", 64)
    plan = plan_of(out)
    assert "FlatMapGroupsInPandas" not in plan  # r6: assembly is JVM-only
    assert "ArrowEvalPython" not in plan  # no scalar-UDF stage anywhere
    assert "BatchEvalPython" not in plan
    assert "slice(" in plan  # the pre-shuffle JVM cut
    assert "CartesianProduct" not in plan


def test_found_links_query_evaluates_link_udf_once(spark):
    """The found_links_jvm query explodes straight from the pandas UDF: one
    ArrowEvalPython node and no cache barrier. A second Python evaluation
    (an inferred size() > 0 filter pushed below the generator by
    substitution) would double the link pipeline's cost."""
    import __spark_entry__ as entry

    plan = plan_of(entry.queries()["found_links_jvm"](spark, SF_DIR))
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan, plan
