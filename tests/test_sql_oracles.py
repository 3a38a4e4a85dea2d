"""The driver-side DuckDB SQL oracles must agree with the sequential Python
oracle (plans/oracle.py) on the derived corpus — this pins the SQL
re-derivation of the crawl (crawl_bfs seq order, extraction byte-identity)
against the golden single-worker semantics WITHOUT needing Spark, so any
drift in sources/webcorpus.py or the oracle SQL fails fast."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod
from crawler_german_localpoliticans_spark.config import CrawlConfig
from crawler_german_localpoliticans_spark.plans.oracle import crawl_oracle

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def corpus():
    con = duckdb.connect()
    docs = con.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    n = len(docs)
    nh = max(4, n // 50)
    ns = max(4, n // 100)

    def url_of(d: int) -> str:
        slug = "-rathaus" if d % 4 == 0 else ""
        return f"https://host{d % nh:04d}.beispiel.de/seite/{d}{slug}"

    pages = {}
    for d, t in docs:
        targets = [(d * 7 + j * 13 + 1) % n for j in range(8)]
        anchors = "".join(f'<a href="{url_of(x)}">l{j}</a>' for j, x in enumerate(targets))
        script = f"<script>var x = {d};</script>" if d % 2 == 0 else ""
        pages[url_of(d)] = (
            f"<html><head><title>Seite {d}</title>{script}</head>"
            f"<body><h1>Dokument</h1><p>{t}</p>{anchors}"
            f'<a href="{url_of(0)}">hot</a></body></html>'
        )
    seeds = [url_of(d) for d in range(ns)]
    robots = {}
    for h in range(nh):
        hk = f"https://host{h:04d}.beispiel.de"
        if h % 5 == 1:
            robots[hk] = "User-agent: *\nDisallow: /seite/1\n"
        elif h % 7 == 3:
            robots[hk] = "User-agent: *\nCrawl-delay: 4.5\n"
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF}/documents.parquet')"
    )
    result = crawl_oracle(seeds, pages, robots, CrawlConfig(max_depth=2))
    return con, result


def test_crawl_bfs_sql_matches_sequential_oracle(corpus):
    con, result = corpus
    expected = sorted(
        (r.seq, r.url, r.depth, r.keyword_hit, r.robots_blocked, len(r.found_links))
        for r in result.fetched
    )
    got = sorted(
        (int(a), b, int(c), bool(d), bool(e), int(f))
        for a, b, c, d, e, f in con.sql(entrymod.oracle_sql()["crawl_bfs"]).fetchall()
    )
    assert got == expected


def test_crawl_extracted_sql_matches_sequential_oracle(corpus):
    con, result = corpus
    expected = sorted((e["url"], e["text"], e["custom_id"]) for e in result.extracted)
    got = sorted(tuple(r) for r in con.sql(entrymod.oracle_sql()["crawl_extracted"]).fetchall())
    assert got == expected


def test_reachability_sql_is_projection_of_bfs_sql(corpus):
    con, _ = corpus
    bfs = con.sql(entrymod.oracle_sql()["crawl_bfs"]).fetchall()
    reach = con.sql(entrymod.oracle_sql()["crawl_reachability"]).fetchall()
    assert sorted((u, d, k, b, f) for _, u, d, k, b, f in bfs) == sorted(
        tuple(r) for r in reach
    )


def test_vertical_tab_splits_tokens_in_spark_and_duckdb(spark, tmp_path):
    """Java regex \\s includes \\x0b and RE2's \\s does not, so the oracle
    SQL spells the class out (dedup.WS_CLASS): texts with vertical tabs
    give the same token_count, repetition_stats and quality_score rows in
    Spark and in DuckDB."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = ["a\x0bb c", "eins\x0bzwei\x0bdrei vier", "x \x0b y", "der text\x0b ist da."]
    pq.write_table(
        pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()), "text": texts}),
        tmp_path / "documents.parquet",
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    for name in ("token_count", "repetition_stats", "quality_score"):
        sdf = entrymod.queries()[name](spark, str(tmp_path))
        cols = sorted(sdf.columns)
        got = sorted(tuple(r[c] for c in cols) for r in sdf.collect())
        rel = con.sql(entrymod.oracle_sql()[name])
        idx = [rel.columns.index(c) for c in cols]
        expected = sorted(tuple(r[i] for i in idx) for r in rel.fetchall())
        assert got == expected, name


def test_quality_topk_ranks_only_scored_documents(spark, tmp_path):
    """A source with fewer than 3 scored documents keeps only those: a
    1-token document has no bigram, hence no score, and never takes a
    top-3 slot. Spark and DuckDB give the same rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = [
        (0, "a", "der rat tagt heute im rathaus"),
        (1, "a", "der rat tagt morgen"),
        (2, "a", "rathaus"),
        (3, "b", "die stadt hat einen rat"),
        (4, "b", "der rat der stadt tagt"),
        (5, "b", "heute tagt die stadt"),
        (6, "b", "im rathaus tagt der rat"),
    ]
    pq.write_table(
        pa.table({
            "doc_id": pa.array([d for d, _, _ in docs], pa.int64()),
            "source": [s for _, s, _ in docs],
            "text": [t for _, _, t in docs],
        }),
        tmp_path / "documents.parquet",
    )
    sdf = entrymod.queries()["quality_topk_per_source"](spark, str(tmp_path))
    cols = ["source", "doc_id", "rk", "avg_logprob_e6"]
    got = sorted(tuple(r[c] for c in cols) for r in sdf.collect())
    assert sorted(d for s, d, _, _ in got if s == "a") == [0, 1], got
    assert sorted(rk for s, _, rk, _ in got if s == "b") == [1, 2, 3], got
    assert all(score is not None for *_, score in got), got

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    rel = con.sql(entrymod.oracle_sql()["quality_topk_per_source"])
    idx = [rel.columns.index(c) for c in cols]
    assert got == sorted(tuple(r[i] for i in idx) for r in rel.fetchall())


def test_session_memo_keeps_only_the_current_sessions_entries(monkeypatch):
    """A build under a new session drops the entries of every other one, so a
    stopped session's cached tables are not held for the process's life."""
    from types import SimpleNamespace

    def session(app_id):
        return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))

    from crawler_german_localpoliticans_spark.queries import common

    monkeypatch.setattr(common, "_SESSION_MEMO", {})
    a, b = session("app-a"), session("app-b")
    assert common._session_memo(a, "crawl", ("x",), lambda: "a-x") == "a-x"
    assert common._session_memo(a, "index", ("y",), lambda: "a-y") == "a-y"
    assert common._session_memo(a, "crawl", ("x",), lambda: "rebuilt") == "a-x"
    assert common._session_memo(b, "crawl", ("x",), lambda: "b-x") == "b-x"
    assert list(common._SESSION_MEMO) == [("crawl", "app-b", "x")]
