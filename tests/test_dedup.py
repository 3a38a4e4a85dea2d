"""Dedup operators: Spark results vs pure-Python oracles on testdata docs."""

from __future__ import annotations

import zlib

import pytest
from pyspark.sql import functions as F

from crawler_german_localpoliticans_spark.operators import dedup
from dedup_reference import (
    embedding_neardup_pairs_join,
    lsh_candidate_pairs_uncapped,
    minhash_signature_py,
    minhash_signatures,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(120).cache()


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y"), (4, "a b c")], "doc_id long, text string"
    )
    out = {r["keep_id"]: r["n_dups"] for r in dedup.exact_dedup(df, "doc_id", "text").collect()}
    assert out == {1: 3, 3: 1}


def test_word_shingles_matches_python(spark, docs):
    rows = docs.limit(5).collect()
    sh = dedup.word_shingles(docs.limit(5), "doc_id", "text", 3)
    got = {}
    for r in sh.collect():
        got.setdefault(r["id"], set()).add(r["shingle"])
    for r in rows:
        toks = dedup.tokens_py(r["text"])  # the exact JVM tokenizer mirror
        expected = {" ".join(toks[i : i + 3]) for i in range(max(1, len(toks) - 2))}
        expected = {s for s in expected if s}
        assert got[r["doc_id"]] == expected


def test_minhash_signature_matches_python_oracle(spark, docs):
    rows = docs.limit(8).collect()
    sigs = {
        r["id"]: list(r["sig"])
        for r in minhash_signatures(docs.limit(8), "doc_id", "text").collect()
    }
    for r in rows:
        assert sigs[r["doc_id"]] == minhash_signature_py(r["text"]), r["doc_id"]


def test_minhash_arrow_kernel_matches_jvm_signatures(spark, docs):
    """The shuffle-free Arrow signature kernel must be BYTE-identical to the
    JVM explode+min-aggregates form (same crc32, same permutation params) —
    they are two physical strategies for one logical operator, so either can
    feed the LSH bands. Also pins the no-shingles edge: a whitespace-only
    text yields no signature row on either path."""
    jvm = {
        r["id"]: list(r["sig"])
        for r in minhash_signatures(docs.limit(30), "doc_id", "text").collect()
    }
    arrow = {
        r["id"]: list(r["sig"])
        for r in dedup.minhash_signatures_arrow(docs.limit(30), "doc_id", "text").collect()
    }
    assert arrow == jvm

    empty = spark.createDataFrame([(1, "   "), (2, "a b c d")], "doc_id long, text string")
    assert {r["id"] for r in minhash_signatures(empty, "doc_id", "text").collect()} == {2}
    assert {r["id"] for r in dedup.minhash_signatures_arrow(empty, "doc_id", "text").collect()} == {2}


def test_minhash_lsh_finds_planted_neardups(spark):
    base = "the quick brown fox jumps over the lazy dog " * 8
    near = base.replace("lazy", "sleepy", 1)  # tiny edit -> high jaccard
    far = "completely different content about spark shuffles and joins " * 8
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_dedup_pairs(df, "doc_id", "text", threshold=0.5).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_minhash_xxhash64_family_detects_neardups(spark):
    """The 64-bit xxhash64 signature family (scale path beyond crc32's
    distinct-shingle ceiling) must behave like the crc32 family on the same
    corpus: near-dups detected, dissimilar pairs rejected, exact duplicates
    at est_jaccard 1.0."""
    base = "the quick brown fox jumps over the lazy dog " * 8
    near = base.replace("lazy", "sleepy", 1)
    far = "completely different content about spark shuffles and joins " * 8
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far), (4, base)], "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in dedup.minhash_dedup_pairs(
            df, "doc_id", "text", threshold=0.5, hash_family="xxhash64"
        ).collect()
    }
    assert (1, 2) in got and (1, 4) in got
    assert got[(1, 4)] == 1.0  # identical text -> identical 64-bit signatures
    assert (1, 3) not in got and (2, 3) not in got

    # unknown family is a loud error, not a silent fallback
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dedup.minhash_dedup_pairs(df, "doc_id", "text", hash_family="md5")


def test_simhash_matches_python_and_detects_neardups(spark):
    base = "word " + " ".join(f"token{i}" for i in range(60))
    near = base + " extra"  # small vote perturbation
    exact = base  # hamming 0 — banding MUST find it (pigeonhole)
    far = " ".join(f"other{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far), (4, exact)], "doc_id long, text string"
    )
    sh = {r["doc_id"]: r["simhash"] for r in dedup.with_simhash(df, "text").collect()}
    for did, text in [(1, base), (2, near), (3, far), (4, exact)]:
        assert sh[did] == dedup.simhash64_py(text)

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    h12 = hamming(sh[1], sh[2])
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_dedup_pairs(df, "doc_id", "text", max_hamming=max(3, h12)).collect()
    }
    assert pairs[(1, 4)] == 0  # exact dup always found
    assert (1, 3) not in pairs  # far doc never passes the hamming check
    if h12 <= 3:  # banding recall guarantee only below 4 bits
        assert pairs[(1, 2)] == h12
    for (a, b), h in pairs.items():
        assert h == hamming(sh[a], sh[b])


def test_ngram_jaccard_exact(spark):
    a = "a b c d e f"
    b = "a b c d e g"  # shares 2 of the 3-gram sets partially
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    rows = dedup.ngram_jaccard_pairs(df, "doc_id", "text", k=3, threshold=0.0).collect()
    assert len(rows) == 1
    # python oracle
    sa = {" ".join(a.split()[i : i + 3]) for i in range(4)}
    sb = {" ".join(b.split()[i : i + 3]) for i in range(4)}
    expected = len(sa & sb) / len(sa | sb)
    assert abs(rows[0]["jaccard"] - expected) < 1e-9


def test_embedding_neardup_blocked(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    pairs = dedup.embedding_neardup_pairs(
        emb, "vec_id", "embedding", "label", threshold=0.8
    )
    rows = pairs.collect()
    # sanity: every returned pair is same-label and ordered
    emb_labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    for r in rows:
        assert r["id_a"] < r["id_b"]
        assert emb_labels[r["id_a"]] == emb_labels[r["id_b"]]
        assert r["cosine"] >= 0.8


def test_embedding_neardup_blas_equals_join_variant(spark):
    """The per-block BLAS gramian and the streaming pair join are two
    physical strategies for ONE operator — identical pairs and cosines."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    blas = dedup.embedding_neardup_pairs(emb, "vec_id", "embedding", "label", threshold=0.5)
    join = embedding_neardup_pairs_join(emb, "vec_id", "embedding", "label", threshold=0.5)
    b = {(r["id_a"], r["id_b"]): r["cosine"] for r in blas.collect()}
    j = {(r["id_a"], r["id_b"]): r["cosine"] for r in join.collect()}
    assert set(b) == set(j)
    for k_, v in b.items():
        assert abs(v - j[k_]) < 1e-9, (k_, v, j[k_])


def test_embedding_kernels_tolerate_null_and_ragged_vectors(spark):
    """A null or wrong-dimension embedding must not crash the block kernel
    or the query scorer — it drops out (pairs) or scores NULL (top-k),
    matching the replaced JVM expressions' null propagation."""
    from crawler_german_localpoliticans_spark.operators import similarity

    rows = [
        (1, [1.0, 0.0, 0.0], "a"),
        (2, [1.0, 0.0, 0.0], "a"),
        (3, None, "a"),
        (4, [1.0, 0.0], "a"),  # ragged
        (5, [0.0, 1.0, 0.0], "a"),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    pairs = dedup.embedding_neardup_pairs(df, "vec_id", "embedding", "label", threshold=0.9)
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == {(1, 2)}

    topk = similarity.cosine_topk_bruteforce(df, "vec_id", "embedding", [1.0, 0.0, 0.0], k=5)
    got = [(r["id"], r["score"]) for r in topk.collect()]
    # nulls sort last; valid vectors keep exact scores
    assert got[0][0] in (1, 2) and abs(got[0][1] - 1.0) < 1e-9
    assert {g[0] for g in got[:3]} == {1, 2, 5}
    assert all(g[1] is None for g in got[3:])


def test_embedding_kernel_pairs_minority_lengths(spark):
    """Two same-length vectors whose length is a MINORITY in the block must
    still pair (round-2 advice: the dominant-length filter silently dropped
    them). The BLAS kernel now groups by length, exactly like the join
    variant's null-cosine filtering."""
    rows = [
        (1, [1.0, 0.0, 0.0], "a"),
        (2, [1.0, 0.0, 0.0], "a"),
        (3, [1.0, 0.0, 0.0], "a"),
        # minority length-2 pair: must be detected
        (10, [0.6, 0.8], "a"),
        (11, [0.6, 0.8], "a"),
        (12, None, "a"),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    blas = dedup.embedding_neardup_pairs(df, "vec_id", "embedding", "label", threshold=0.9)
    join = embedding_neardup_pairs_join(df, "vec_id", "embedding", "label", threshold=0.9)
    expected = {(1, 2), (1, 3), (2, 3), (10, 11)}
    assert {(r["id_a"], r["id_b"]) for r in blas.collect()} == expected
    assert {(r["id_a"], r["id_b"]) for r in join.collect()} == expected


def test_crc32_parity_with_zlib(spark):
    df = spark.createDataFrame([("hello wörld",), ("",), ("a b",)], "s string")
    rows = df.select("s", F.crc32(F.encode("s", "UTF-8")).alias("c")).collect()
    for r in rows:
        assert r["c"] == zlib.crc32(r["s"].encode("utf-8"))


def test_tokenizer_parity_on_nasty_whitespace(spark):
    """tokens_py must mirror the JVM tokens_col EXACTLY on inputs where
    Python's unicode-aware str.strip()/split() diverge: leading tabs and
    newlines (kept by Spark's space-only trim, yielding a leading empty
    token) and NBSP (not whitespace to Java regex \\s). Pinned end-to-end:
    arrow and JVM MinHash signatures stay byte-identical on these texts."""
    nasty = [
        (1, "\tthe quick brown fox jumps over it"),
        (2, "\nthe quick brown fox jumps over it"),
        (3, "a\xa0b c d e f"),
        (4, "  plain spaced text here ok  "),
        (5, "x\x0by one two three"),  # vertical tab: ASCII \s on both
    ]
    df = spark.createDataFrame(nasty, "doc_id long, text string")
    jvm = {
        r["id"]: list(r["sig"])
        for r in minhash_signatures(df, "doc_id", "text").collect()
    }
    arrow = {
        r["id"]: list(r["sig"])
        for r in dedup.minhash_signatures_arrow(df, "doc_id", "text").collect()
    }
    assert arrow == jvm
    for i, t in nasty:
        assert arrow[i] == minhash_signature_py(t), i

    # the shared tokenizer itself, against the live JVM split
    from pyspark.sql import functions as F

    rows = df.select("doc_id", F.split(F.trim("text"), r"\s+").alias("tk")).collect()
    for r in rows:
        assert list(r["tk"]) == dedup.tokens_py(nasty[r["doc_id"] - 1][1]), r["doc_id"]


def test_lsh_bucket_cap_bounds_degenerate_buckets(spark):
    """Skew fixture (VERDICT r3 #4): one text duplicated 10^4x puts every
    doc into the SAME (band, bh) bucket in all bands. Uncapped that is
    ~5*10^7 pairs; with the cap the head does all-pairs and every overflow
    member contributes exactly one representative pair — bounded work, no
    member dropped, and the Observation reports the capping loudly."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    n, cap = 10_000, 50
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("immer derselbe boilerplate text auf jeder seite der stadt").alias("text"),
    )
    sigs = dedup.minhash_signatures_arrow(docs, "doc_id", "text")
    obs = Observation("lsh_cap")
    pairs = dedup.lsh_candidate_pairs(sigs, max_bucket_size=cap, observation=obs)
    got = pairs.collect()

    # head all-pairs + one representative pair per overflow member
    assert len(got) == cap * (cap - 1) // 2 + (n - cap)
    # connectivity: every doc appears in at least one pair
    seen = {r["id_a"] for r in got} | {r["id_b"] for r in got}
    assert len(seen) == n
    # representative pairing: every overflow member pairs with min id 0
    overflow = [r for r in got if r["id_b"] >= cap]
    assert overflow and all(r["id_a"] == 0 for r in overflow)
    # loud counter: overflow members observed across all bands
    m = obs.get
    assert m["lsh_capped_members"] == (n - cap) * dedup.LSH_BANDS
    assert m["lsh_max_bucket_size"] == n

    # uncapped on a SMALL bucket == capped (cap above bucket size): identity
    small = spark.range(20).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text nummer "), F.col("id").cast("string")).alias("text"),
    )
    ssigs = dedup.minhash_signatures_arrow(small, "doc_id", "text")
    a = sorted((r["id_a"], r["id_b"]) for r in lsh_candidate_pairs_uncapped(ssigs).collect())
    b = sorted((r["id_a"], r["id_b"]) for r in dedup.lsh_candidate_pairs(ssigs).collect())
    assert a == b


def _uf_components(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-id label per component
    return {i: min(j for j in range(n_nodes) if find(j) == find(i)) for i in range(n_nodes)}


def test_connected_components_vs_union_find(spark):
    """large-star/small-star differential vs a Python union-find on graph
    shapes that stress the algorithm: a long chain (naive label propagation
    needs O(diameter) rounds; star ops need O(log n)), cliques, stars,
    random sparse graphs, and disconnected singletons."""
    import random

    cases = []
    # 40-node chain
    cases.append((40, [(i, i + 1) for i in range(39)]))
    # two cliques + a bridge + singletons (nodes 20..24 untouched)
    clique1 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    clique2 = [(a, b) for a in range(10, 15) for b in range(a + 1, 15)]
    cases.append((25, clique1 + clique2 + [(4, 10)]))
    # random sparse graphs, fixed seeds
    for seed in (1, 2, 3):
        rng = random.Random(seed)
        n = 60
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(45)]
        cases.append((n, edges))

    for n, edges in cases:
        expect = _uf_components(n, edges)
        pairs = spark.createDataFrame(
            [(a, b) for a, b in edges] or [(0, 0)], "id_a long, id_b long"
        )
        got = {
            r["id"]: r["cluster_id"]
            for r in dedup.connected_components(pairs).collect()
        }
        # operator only labels ids appearing in pairs; singletons are the
        # caller's join (neardup_clusters) — compare on covered ids
        covered = {a for a, b in edges if a != b} | {b for a, b in edges if a != b}
        assert got == {i: expect[i] for i in covered}, (n, len(edges))


def test_connected_components_distributed_path_matches_fastpath(spark):
    """r6: small edge sets take a driver-side union-find fast path
    (CC_DRIVER_FASTPATH_MAX_EDGES); the distributed star loop must stay
    covered and produce IDENTICAL labels. Runs the same stress shapes as
    the union-find differential through BOTH paths."""
    import random

    rng = random.Random(7)
    n = 50
    cases = [
        [(i, i + 1) for i in range(39)],  # chain: O(log n) star rounds
        [(rng.randrange(n), rng.randrange(n)) for _ in range(40)],
    ]
    for edges in cases:
        pairs = spark.createDataFrame(
            [(a, b) for a, b in edges] or [(0, 0)], "id_a long, id_b long"
        )
        fast = {
            r["id"]: r["cluster_id"]
            for r in dedup.connected_components(pairs).collect()
        }
        dist = {
            r["id"]: r["cluster_id"]
            for r in dedup.connected_components(
                pairs, driver_fastpath_max_edges=None
            ).collect()
        }
        assert fast == dist and fast, len(edges)


def test_neardup_clusters_and_representatives(spark):
    from pyspark.sql import functions as F

    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(0, 3), (3, 5), (1, 2), (6, 7)], "id_a long, id_b long"
    )
    clusters = {
        r["id"]: (r["cluster_id"], r["is_representative"])
        for r in dedup.neardup_clusters(docs, "doc_id", pairs).collect()
    }
    assert clusters == {
        0: (0, True), 3: (0, False), 5: (0, False),
        1: (1, True), 2: (1, False),
        6: (6, True), 7: (6, False),
        4: (4, True),
    }
