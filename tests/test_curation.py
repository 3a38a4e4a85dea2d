"""PII detection/redaction + the benchmark contamination check
(crawler_german_localpoliticans_spark/operators/curation.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from crawler_german_localpoliticans_spark.operators import curation

SF_DIR = "/root/testdata/sf0.001"


def test_pii_counts_and_redaction(spark):
    rows = [
        (1, "schreib an max.mustermann@stadt-muenchen.de oder ruf +49-3012-4455 an"),
        (2, "server 192.168.0.1 und konto DE89 3704 0044 0532 0130 hier"),
        (3, "ganz harmloser text ohne besondere inhalte"),
        (4, "zwei adressen: a@b.de und c.d@e-f.org"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = curation.redact_pii(curation.with_pii_counts(df, "text"), "text")
    got = {r["doc_id"]: r for r in out.collect()}

    assert (got[1]["n_email"], got[1]["n_phone"]) == (1, 1)
    assert (got[2]["n_ipv4"], got[2]["n_iban"]) == (1, 1)
    # sequential counting: the phone-shaped digit groups INSIDE the IBAN do
    # not double-count as a phone (round-3 review finding) — counts always
    # equal the redaction tokens emitted
    assert got[2]["n_phone"] == 0 and got[2]["n_pii"] == 2
    assert got[3]["n_pii"] == 0 and not got[3]["has_pii"]
    assert got[4]["n_email"] == 2
    assert "<PII:email>" in got[1]["redacted"] and "<PII:phone>" in got[1]["redacted"]
    assert "mustermann" not in got[1]["redacted"]
    assert "<PII:ipv4>" in got[2]["redacted"] and "<PII:iban>" in got[2]["redacted"]
    assert got[3]["redacted"] == rows[2][1]  # untouched
    assert got[4]["redacted"].count("<PII:email>") == 2


def test_contamination_check_and_decontaminate(spark):
    # benchmark shares a 5-gram with docs 1 and 2, not with 3
    bench_text = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, "prefix words alpha beta gamma delta epsilon more tail words here"),
        (2, bench_text),  # exact benchmark copy
        (3, "totally unrelated content about spark adaptive query execution plans"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(bench_text,)], "text string")

    out = {
        r["id"]: (r["contaminated_grams"], r["contaminated"])
        for r in curation.contamination_check(docs, bench, "doc_id", "text", n=5).collect()
    }
    assert out[1][1] and out[1][0] >= 1
    assert out[2][1]
    assert out[3] == (0, False)


def test_short_docs_still_checked(spark):
    # a doc shorter than n tokens contributes its full text as one gram
    docs = spark.createDataFrame([(1, "tiny doc"), (2, "other words")], "doc_id long, text string")
    bench = spark.createDataFrame([("tiny doc",)], "text string")
    out = {
        r["id"]: r["contaminated"]
        for r in curation.contamination_check(docs, bench, "doc_id", "text", n=13).collect()
    }
    assert out == {1: True, 2: False}


def test_contamination_plan_broadcasts_benchmark(spark):
    """The benchmark gram set must be the BROADCAST side — at 10^10 docs the
    document grams can never be shuffled against a tiny eval set."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 97 == 0).select("text")
    out = curation.contamination_check(docs, bench, "doc_id", "text", n=13)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_repetition_stats_values(spark):
    from crawler_german_localpoliticans_spark.operators.textstats import repetition_stats
    import math

    rows = [
        (1, "a a a a"),            # maximally repetitive
        (2, "w x y z"),            # fully diverse tokens
        (3, "aaaa"),               # single repeated char: entropy 0
        (4, "   "),                # whitespace-only: 0 tokens, 0.0 ratios
        (5, None),                 # NULL text: NULL token stats (pre-r6 shape)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r for r in repetition_stats(df, "doc_id", "text").collect()}

    assert got[4]["n_tokens"] == 0
    assert got[4]["distinct_token_ratio"] == 0.0
    assert got[4]["top_token_ratio"] == 0.0
    assert got[5]["n_tokens"] is None
    assert got[5]["distinct_token_ratio"] is None
    assert got[5]["top_token_ratio"] == 0.0
    assert got[5]["char_entropy"] == 0.0

    assert got[1]["n_tokens"] == 4
    assert got[1]["distinct_token_ratio"] == 0.25
    assert got[1]["top_token_ratio"] == 1.0
    assert got[2]["distinct_token_ratio"] == 1.0
    assert got[2]["top_token_ratio"] == 0.25
    assert got[3]["char_entropy"] == 0.0
    # "a a a a": 4x'a' + 3x' ' over 7 chars
    p_a, p_s = 4 / 7, 3 / 7
    expected_h = round(-(p_a * math.log(p_a) + p_s * math.log(p_s)), 6)
    assert abs(got[1]["char_entropy"] - expected_h) < 1e-6


def test_contamination_ignores_boundary_whitespace(spark):
    """A doc differing from a benchmark text only by leading/trailing tabs
    or newlines is still contaminated: grams are CONTENT n-grams (empty
    boundary tokens dropped), so '\\tthe quick...' matches the clean
    benchmark gram (round-3 follow-up review finding)."""
    bench_text = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [(1, "\t" + bench_text), (2, bench_text + "\n"), (3, "unrelated words entirely here now")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(bench_text,)], "text string")
    out = {
        r["id"]: r["contaminated"]
        for r in curation.contamination_check(docs, bench, "doc_id", "text", n=6).collect()
    }
    assert out == {1: True, 2: True, 3: False}


def test_contamination_broadcast_size_guard(spark):
    """The benchmark gram side is materialized before planning, so Spark
    sizes the gram join with no hint: at the default thresholds it
    broadcasts; with the auto-broadcast thresholds off (as they effectively
    are for an adversarially large benchmark) it plans a shuffle join, and
    executors never hold the whole gram set. Results are identical either
    way."""
    import re

    def gram_join_modes(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return re.findall(r"(\w*HashJoin\w*|SortMergeJoin\w*)[^\n]*gram_hash", plan)

    bench_text = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [(1, "x " + bench_text + " y"), (2, "unrelated spark text here entirely")],
        "doc_id long, text string",
    )
    big_bench = spark.createDataFrame(
        [(f"tok{i} tok{i+1} tok{i+2} tok{i+3} tok{i+4} {bench_text}",) for i in range(0, 120, 5)],
        "text string",
    )
    key = lambda rs: sorted((r["id"], r["contaminated_grams"], r["contaminated"]) for r in rs)

    small = curation.contamination_check(docs, big_bench, "doc_id", "text", n=5)
    modes = gram_join_modes(small)
    assert modes and all("Broadcast" in m for m in modes), modes
    broadcast_rows = key(small.collect())

    thresholds = ("spark.sql.autoBroadcastJoinThreshold",
                  "spark.sql.adaptive.autoBroadcastJoinThreshold")
    saved = {k: spark.conf.get(k, None) for k in thresholds}
    try:
        for k in thresholds:
            spark.conf.set(k, "-1")
        shuffled = curation.contamination_check(docs, big_bench, "doc_id", "text", n=5)
        modes = gram_join_modes(shuffled)
        assert modes and all("Broadcast" not in m for m in modes), modes
        shuffle_rows = key(shuffled.collect())
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    assert broadcast_rows == shuffle_rows
    assert [r[0] for r in broadcast_rows if r[2]] == [1]
