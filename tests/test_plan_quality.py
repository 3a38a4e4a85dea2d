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


def operators(df) -> list[str]:
    """Node names of df's physical plan (the adaptive plan's current one); a
    cached relation is one InMemoryTableScan leaf, its own plan not walked."""
    names, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            node = node.executedPlan()
        names.append(node.nodeName())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return names


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
    results are exact and identical either way. Past the (cached) policy
    parse, no row crosses into Python in either mode: the longest-prefix
    match is Column expressions."""
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
    policies = parse_policies_df(robots, DEFAULT_CONFIG).persist()
    assert policies.count() == n_hosts
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
            nodes = operators(out)
            assert "InMemoryTableScan" in nodes, nodes
            assert not {"ArrowEvalPython", "BatchEvalPython"} & set(nodes), nodes
            if broadcast_off:
                assert "BroadcastHashJoin" not in plan, plan
                assert re.search(r"(SortMergeJoin|ShuffledHashJoin) \[host_key", plan), plan
            else:
                assert "BroadcastHashJoin" in plan, plan
            results.append(rows)
    finally:
        policies.unpersist()
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


def test_lsh_flagging_join_is_sized_by_spark(spark):
    """lsh_candidate_pairs materializes its oversized-bucket list before the
    (band, bh) flagging join is planned, and gives no hint: at the default
    thresholds the join broadcasts the near-empty list; with auto-broadcast
    off it plans a shuffle join. Same pairs either way."""
    from crawler_german_localpoliticans_spark.operators import dedup

    docs = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("rathaus sitzung nummer "), (F.col("id") % 20).cast("string"),
                 F.lit(" der stadt")).alias("text"),
    )
    flag_join = re.compile(r"(\w*Join\w*) \[band#\d+, bh#\d+L\], \[band#\d+, bh#\d+L\], LeftOuter")
    thresholds = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in thresholds}
    results = []
    try:
        for broadcast_off in (False, True):
            spark.catalog.clearCache()  # the flagged table caches its plan
            for k in thresholds:
                if broadcast_off:
                    spark.conf.set(k, "-1")
                elif saved[k] is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, saved[k])
            sigs = dedup.minhash_signatures_arrow(docs, "doc_id", "text")
            pairs = dedup.lsh_candidate_pairs(sigs)
            joins = flag_join.findall(plan_of(pairs))
            assert joins, plan_of(pairs)
            if broadcast_off:
                assert all(j in ("SortMergeJoin", "ShuffledHashJoin") for j in joins), joins
            else:
                assert all(j == "BroadcastHashJoin" for j in joins), joins
            results.append(sorted((r["id_a"], r["id_b"]) for r in pairs.collect()))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert results[0] == results[1] and results[0]


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


def test_contamination_query_has_no_sort_merge_join(spark):
    """The contamination query counts each document's benchmark-gram hits
    in ONE aggregation over a left join to the broadcast gram set. A join
    of the documents back to a per-id hit count planned as a SortMergeJoin
    at the default thresholds: Spark estimates an aggregate over a join as
    the product of its sides."""
    import __spark_entry__ as entry

    plan = plan_of(entry.queries()["contamination"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def plan_nodes(plan, into_cache: bool):
    """Every physical node under `plan`, through AQE wrappers and reused
    exchanges; into a cached relation's plan only when `into_cache`."""
    name = plan.nodeName()
    yield plan
    if name == "AdaptiveSparkPlan":
        kids = [plan.executedPlan()]
    elif plan.getClass().getSimpleName().endswith("QueryStageExec"):
        kids = [plan.plan()]
    elif name == "ReusedExchange":
        kids = [plan.child()]
    elif name == "InMemoryTableScan":
        kids = [plan.relation().cachedPlan()] if into_cache else []
    else:
        children = plan.children()
        kids = [children.apply(i) for i in range(children.size())]
    for kid in kids:
        yield from plan_nodes(kid, into_cache)


def test_crawl_writes_run_python_once_per_wave(spark, smoke_dir, tmp_path, monkeypatch):
    """Each wave evaluates the link UDF and both extraction UDFs in ONE
    Arrow pass, which the fetched write builds. The extracted write only
    reads that pass's cache, the frontier write only reads the dedup pass's
    cache, and the seq kernel applies its bucket offsets as a literal (no
    local relation, no broadcast)."""
    from crawler_german_localpoliticans_spark.config import CrawlConfig
    from crawler_german_localpoliticans_spark.plans.crawl import CrawlDriver
    from crawler_german_localpoliticans_spark.sources.seeds import seeds_from_table
    from crawler_german_localpoliticans_spark.sources.tables import Catalog, read_robots

    plans: list[tuple[str, int, list, list]] = []
    write_round = Catalog.write_round

    def spy(self, table, round_no, df):
        plan = df._jdf.queryExecution().executedPlan()
        plans.append((
            table,
            round_no,
            [(n.nodeName(), n.simpleString(100)) for n in plan_nodes(plan, False)],
            [(n.nodeName(), n.simpleString(100)) for n in plan_nodes(plan, True)],
        ))
        return write_round(self, table, round_no, df)

    monkeypatch.setattr(Catalog, "write_round", spy)
    driver = CrawlDriver(
        spark, str(tmp_path), f"{smoke_dir}/pages.parquet",
        read_robots(spark, f"{smoke_dir}/robots.parquet"), CrawlConfig(seen_partitions=8),
    )
    driver.run(seeds_from_table(spark.read.parquet(f"{smoke_dir}/seeds.parquet")))

    assert {t for t, *_ in plans} == {"fetched", "extracted", "frontier"}
    assert len([t for t, *_ in plans if t == "frontier"]) > 1  # seeding + expansion
    link_udfs = ("found_links(", "clean_extract(", "custom_id_from_url(")
    for table, round_no, own, full in plans:
        names = [n for n, _ in own]
        if table in ("extracted", "frontier"):
            assert not {"ArrowEvalPython", "FlatMapGroupsInPandas"} & set(names), (table, round_no, names)
        if table == "frontier":
            assert not {"LocalTableScan", "BroadcastExchange"} & set(names), (round_no, names)
        if table == "fetched":
            passes = [s for n, s in full if n == "ArrowEvalPython" and any(u in s for u in link_udfs)]
            assert len(passes) == 1, (round_no, passes)
            assert all(u in passes[0] for u in link_udfs), passes[0]


# --- the scan-layout rule (sources/tables.spread) ---------------------------


def test_lineitem_queries_leave_session_conf_unchanged(spark):
    """Registry queries read their inputs; they never retune the session. A
    per-query split-size conf set would stay for every later query."""
    import __spark_entry__ as entry

    session = spark.newSession()
    before = session.conf.getAll
    split = session.conf.get("spark.sql.files.maxPartitionBytes")
    for name in ("pricing_summary", "volume_by_nation", "rollup_pricing"):
        entry.queries()[name](session, SF_DIR).collect()
    assert session.conf.get("spark.sql.files.maxPartitionBytes") == split
    assert session.conf.getAll == before


def test_spread_follows_parquet_row_groups(spark, tmp_path):
    """`spread` adds one round-robin exchange below the per-document kernel
    exactly when the documents input has fewer row groups than the session's
    cores: the one-row-group file, also when Spark cuts it into many byte
    splits (all but one empty), but not a table of >= cores files."""
    import shutil

    import pyarrow.parquet as pq

    import __spark_entry__ as entry

    cores = spark.sparkContext.defaultParallelism
    single = tmp_path / "single"
    single.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", single / "documents.parquet")
    multi = tmp_path / "multi" / "documents.parquet"
    multi.mkdir(parents=True)
    table = pq.read_table(f"{SF_DIR}/documents.parquet")
    step = -(-table.num_rows // cores)
    for i in range(cores):
        pq.write_table(table.slice(i * step, step), multi / f"part-{i:05d}.parquet")
    assert sum(pq.read_metadata(p).num_row_groups for p in multi.iterdir()) >= cores

    # a session whose split size cuts the one row group into >= 2x cores
    # byte splits; its own conf, so the shared session keeps its split size
    cut = spark.newSession()
    size = (single / "documents.parquet").stat().st_size
    cut.conf.set("spark.sql.files.maxPartitionBytes", str(size // (2 * cores)))
    assert cut.read.parquet(str(single / "documents.parquet")).rdd.getNumPartitions() >= cores

    rows = {}
    for label, session, sf_dir, spreads in (
        ("single", spark, single, True),
        ("multi", spark, multi.parent, False),
        ("cut", cut, single, True),
    ):
        df = entry.queries()["fingerprint"](session, str(sf_dir))
        plan = plan_of(df)
        below = plan[plan.index("ArrowEvalPython") :]
        if spreads:
            assert below.count("Exchange") == 1, (label, below)
            assert f"RoundRobinPartitioning({cores})" in below, (label, below)
        else:
            assert "Exchange" not in below, (label, below)
        rows[label] = sorted(df.collect())
    assert rows["single"] == rows["multi"] == rows["cut"]
    assert len(rows["single"]) == table.num_rows


@pytest.mark.parametrize(
    "name", ["exact_dedup", "source_mix", "hash_split", "keyword_gate", "top_sources"]
)
def test_cheap_pass_queries_are_not_spread(spark, name):
    """One cheap column pass plus a partial aggregation gains nothing from
    the spread and pays a text shuffle (measured exact_dedup 0.43s -> 1.51s
    with it, BENCH/NOTES.md round 6)."""
    import __spark_entry__ as entry

    plan = plan_of(entry.queries()[name](spark, SF_DIR))
    assert "RoundRobinPartitioning" not in plan, plan


def test_one_scan_layout_rule():
    """The only code that repartitions to defaultParallelism or sets a
    spark.sql.files conf is `sources/tables.spread`."""
    import ast
    import pathlib

    def own_nodes(scope):
        # the scope's nodes, without those of the functions nested in it
        stack = list(ast.iter_child_nodes(scope))
        while stack:
            node = stack.pop()
            yield node
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                stack.extend(ast.iter_child_nodes(node))

    root = pathlib.Path(__file__).resolve().parents[1]
    package = root / "crawler_german_localpoliticans_spark"
    files = [root / "__spark_entry__.py", *package.rglob("*.py")]
    repartitions, conf_sets = set(), set()
    for path in files:
        tree = ast.parse(path.read_text())
        scopes = [(tree, "<module>")] + [
            (node, node.name)
            for node in ast.walk(tree)
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for scope, name in scopes:
            nodes = list(own_nodes(scope))
            calls = [
                n for n in nodes if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
            ]
            where = (str(path.relative_to(root)), name)
            if any(c.func.attr == "repartition" for c in calls) and any(
                isinstance(n, ast.Attribute) and n.attr == "defaultParallelism" for n in nodes
            ):
                repartitions.add(where)
            if any(
                c.func.attr == "set"
                and c.args
                and isinstance(c.args[0], ast.Constant)
                and str(c.args[0].value).startswith("spark.sql.files")
                for c in calls
            ):
                conf_sets.add(where)
    rule = ("crawler_german_localpoliticans_spark/sources/tables.py", "spread")
    assert repartitions == {rule}
    assert conf_sets <= {rule}
