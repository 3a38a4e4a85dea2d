"""Similarity search, text stats, ledger analytics, multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from crawler_german_localpoliticans_spark.operators import (
    ledger,
    multimodal,
    similarity,
    textstats,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


# --------------------------------------------------------------- similarity
def test_cosine_topk_matches_numpy(spark, emb):
    rows = emb.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    q = vecs[0]
    scores = {
        vid: float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q))) for vid, v in vecs.items()
    }
    expected = sorted(scores.items(), key=lambda kv: (-round(kv[1], 6), kv[0]))[:10]
    got = similarity.cosine_topk_bruteforce(emb, "vec_id", "embedding", list(q), k=10).collect()
    assert [r["id"] for r in got] == [vid for vid, _ in expected]
    for r, (_, s) in zip(got, expected):
        assert abs(r["score"] - s) < 1e-5


def test_ann_lsh_is_subset_and_query_found(spark, emb):
    rows = emb.limit(1).collect()
    q = list(rows[0]["embedding"])
    ann = similarity.ann_topk_lsh(emb, "vec_id", "embedding", q, k=5, n_planes=6)
    got = ann.collect()
    assert len(got) >= 1
    # the query vector itself lives in its own bucket -> always recalled
    assert got[0]["id"] == rows[0]["vec_id"]
    assert abs(got[0]["score"] - 1.0) < 1e-6


def test_ivf_topk_recall(spark, emb):
    rows = emb.limit(1).collect()
    q = list(rows[0]["embedding"])
    assigned, centroids = similarity.ivf_build(emb, "vec_id", "embedding", n_cells=4, seed=42)
    out = similarity.ivf_probe(assigned, centroids, "vec_id", "embedding", q, k=5, nprobe=2).collect()
    assert len(out) >= 1
    # the query vector's own cell is always probed -> itself is recalled
    assert out[0]["id"] == rows[0]["vec_id"]
    assert abs(out[0]["score"] - 1.0) < 1e-6
    # approximate results are a subset of the brute-force ranking universe
    brute = {
        r["id"]: r["score"]
        for r in similarity.cosine_topk_bruteforce(emb, "vec_id", "embedding", q, 2000).collect()
    }
    for r in out:
        assert abs(brute[r["id"]] - r["score"]) < 1e-6


def test_ivf_full_probe_equals_bruteforce(spark, emb):
    """The ann_ivf driver oracle's invariant, pinned in pytest: probing with
    nprobe = n_cells must return exactly the brute-force top-k (same ids,
    same rounded scores, same tie-break) — every vector lives in exactly one
    cell, so a full probe is a complete scan through the index machinery."""
    rows = emb.limit(1).collect()
    q = list(rows[0]["embedding"])
    assigned, centroids = similarity.ivf_build(emb, "vec_id", "embedding", n_cells=4)
    full = similarity.ivf_probe(
        assigned, centroids, "vec_id", "embedding", q, k=7, nprobe=len(centroids)
    ).collect()
    brute = similarity.cosine_topk_bruteforce(emb, "vec_id", "embedding", q, k=7).collect()
    assert [(r["id"], r["score"]) for r in full] == [(r["id"], r["score"]) for r in brute]


def test_ivf_seeded_build_matches_numpy_reference(spark, emb):
    """ivf_build_seeded's closed-form contract, replayed in numpy: centroid
    = per-label per-dim mean, cell = argmin squared L2 (tie -> lowest cell
    index), full probe == brute force through the shared probe machinery."""
    rows = emb.collect()
    labels = sorted({r["label"] for r in rows})
    mats = {
        lab: np.vstack(
            [np.asarray(r["embedding"], dtype=np.float64) for r in rows if r["label"] == lab]
        )
        for lab in labels
    }
    ref_cent = np.vstack([mats[lab].mean(axis=0) for lab in labels])
    assigned, centroids = similarity.ivf_build_seeded(emb, "vec_id", "embedding", "label")
    got_cent = np.asarray(centroids)
    assert got_cent.shape == ref_cent.shape
    assert np.allclose(got_cent, ref_cent, atol=1e-9)
    got_cells = {r["vec_id"]: r["cell"] for r in assigned.collect()}
    for r in rows:
        v = np.asarray(r["embedding"], dtype=np.float64)
        d2 = ((ref_cent - v) ** 2).sum(axis=1)
        assert got_cells[r["vec_id"]] == int(np.argmin(d2))
    # full probe through the same machinery == brute force (index is lossless)
    q = list(rows[0]["embedding"])
    full = similarity.ivf_probe(
        assigned, centroids, "vec_id", "embedding", q, k=7, nprobe=len(centroids)
    ).collect()
    brute = similarity.cosine_topk_bruteforce(emb, "vec_id", "embedding", q, k=7).collect()
    assert [(r["id"], r["score"]) for r in full] == [(r["id"], r["score"]) for r in brute]


# --------------------------------------------------------------- textstats
def test_token_counts(spark):
    df = spark.createDataFrame([("ab cd  ef", ), ("Hello, world! 42",)], "text string")
    out = textstats.with_token_counts(df, "text").collect()
    assert out[0]["n_tokens"] == 3 and out[0]["n_bpe_tokens"] == 3
    # BPE-ish: Hello , world ! 42 -> 5
    assert out[1]["n_tokens"] == 3 and out[1]["n_bpe_tokens"] == 5


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            (1, "der Gemeinderat ist nicht mit den Plänen zufrieden und das ist gut"),
            (2, "the council is not happy with the plans and it shows"),
            (3, "xyzzy plugh"),
        ],
        "id long, text string",
    )
    out = {r["id"]: r["lang_pred"] for r in textstats.with_lang_id(df, "text").collect()}
    assert out == {1: "de", 2: "en", 3: "unknown"}


def test_quality_score_features(spark, docs):
    out = textstats.with_quality_score(docs.limit(20), "text").collect()
    for r in out:
        assert r["n_chars_calc"] == len(r["text"])
        assert 0 <= r["punct_ratio"] <= 1
        assert 0 <= r["quality_score"] <= 1.0


def test_fingerprint_matches_python(spark, docs):
    rows = docs.limit(10).collect()
    out = {r["doc_id"]: (r["doc_hash"], r["min_gram_hash"]) for r in textstats.with_fingerprint(docs.limit(10), "text").collect()}
    for r in rows:
        assert out[r["doc_id"]] == textstats.fingerprint_py(r["text"])


# --------------------------------------------------------------- ledger
def test_url_ledger_min_max(spark):
    import datetime

    ts = datetime.datetime
    df = spark.createDataFrame(
        [
            (0, "https://a.de/", 0, ts(2025, 1, 1), ["x"], True, False, False),
            (5, "https://a.de/", 1, ts(2025, 1, 2), ["x"], True, False, False),
            (1, "https://b.de/", 0, ts(2025, 1, 1), [], False, False, False),
        ],
        "seq long, url string, depth int, scraped_at timestamp, found_links array<string>, keyword_hit boolean, robots_blocked boolean, fetch_failed boolean",
    )
    out = {r["url"]: r for r in ledger.url_ledger(df).collect()}
    assert out["https://a.de/"]["last_depth"] == 0
    assert out["https://a.de/"]["last_seen_at"] == ts(2025, 1, 2)
    # first_seen_at = the FIRST-processed fetch's stamp (seq order), the
    # reference's ON CONFLICT DO NOTHING insert semantics
    assert out["https://a.de/"]["first_seen_at"] == ts(2025, 1, 1)
    assert out["https://a.de/"]["n_fetches"] == 2
    assert out["https://b.de/"]["first_seen_at"] == out["https://b.de/"]["last_seen_at"]


# --------------------------------------------------------------- multimodal
def _fake_media(spark, n: int, seed: int = 42):
    """Deterministic synthetic media table: the columns extract_features reads."""
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n):
        payload = bytes(rng.randrange(256) for _ in range(64 + (i % 5) * 16))
        rows.append((i, ("image", "audio", "video")[i % 3], payload))
    return spark.createDataFrame(rows, "media_id long, kind string, payload binary")


def test_multimodal_features_and_frames(spark):
    media = _fake_media(spark, n=30)
    feats = multimodal.extract_features(media).collect()
    assert len(feats) == 30
    for r in feats:
        assert len(r["features"]) == multimodal.FEATURE_DIM
        assert r["n_bytes"] > 0
    # deterministic across runs
    feats2 = multimodal.extract_features(_fake_media(spark, n=30)).collect()
    assert sorted((r["media_id"], tuple(r["features"])) for r in feats) == sorted(
        (r["media_id"], tuple(r["features"])) for r in feats2
    )


def test_winnow_batch_parity_and_guarantee():
    """winnow_batch == winnow_py on randomized texts (incl. unicode,
    whitespace runs, short docs), and the winnowing GUARANTEE holds: two
    texts sharing any substring of length >= window + guard - 1 share >= 1
    selected fingerprint."""
    import random

    from crawler_german_localpoliticans_spark.operators.textstats import (
        FP_GUARD,
        FP_WINDOW,
        winnow_batch,
        winnow_py,
    )

    rng = random.Random(7)
    alphabet = "abcdefgh äöü \t\n."
    texts = ["", "x", "kurz", "a" * 16, "ab" * 40]
    texts += ["".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 120)))
              for _ in range(60)]
    got = winnow_batch(texts)
    for t, g in zip(texts, got):
        assert g == winnow_py(t), repr(t[:30])

    shared = "gemeinsamer abschnitt der lang genug ist"  # >= window+guard-1
    assert len(shared) >= FP_WINDOW + FP_GUARD - 1
    a = "prefix eins " + shared + " suffix eins"
    b = "ganz anderer anfang " + shared + " und ende zwei"
    sa, sb = winnow_batch([a, b])
    assert set(sa) & set(sb), "winnowing guarantee violated"


def test_bigram_lm_scores_matches_python_reference(spark):
    """bigram_lm_scores == the closed-form add-one bigram estimator in
    Python: self-model scores, the unseen-bigram/unseen-context smoothing
    path against an external reference model, and the <2-token NULL
    contract."""
    from collections import Counter
    from math import log

    from crawler_german_localpoliticans_spark.operators.textstats import (
        bigram_lm_scores,
    )

    rows = [(1, "a b a c a b"), (2, "b a"), (3, "nur"), (4, " ")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def ref_model(texts):
        bis, ctx, vocab = Counter(), Counter(), set()
        for t in texts:
            toks = [x for x in t.split() if x]
            vocab.update(toks)
            for a, b in zip(toks, toks[1:]):
                bis[(a, b)] += 1
                ctx[a] += 1
        return bis, ctx, len(vocab)

    def ref_scores(texts_by_id, model):
        bis, ctx, v = model
        out = {}
        for did, t in texts_by_id.items():
            toks = [x for x in t.split() if x]
            lps = [
                log((bis.get((a, b), 0) + 1) / (ctx.get(a, 0) + v))
                for a, b in zip(toks, toks[1:])
            ]
            out[did] = (len(lps), round(sum(lps) / len(lps), 6) if lps else None)
        return out

    texts = dict(rows)
    # self-model (corpus == reference)
    expect = ref_scores(texts, ref_model(texts.values()))
    got = {
        r["id"]: (r["n_bigrams"], r["avg_logprob"])
        for r in bigram_lm_scores(docs, "doc_id", "text").collect()
    }
    assert set(got) == {1, 2, 3, 4}
    for did in texts:
        assert got[did][0] == expect[did][0]
        if expect[did][1] is None:
            assert got[did][1] is None
        else:
            assert abs(got[did][1] - expect[did][1]) < 1e-9
    assert got[3] == (0, None) and got[4] == (0, None)

    # external reference: doc 2's bigram ('b','a') exists in ref doc 1?
    # ref = only "c d c" -> every scored bigram unseen, some contexts unseen
    ref = spark.createDataFrame([(9, "c d c")], "doc_id long, text string")
    expect2 = ref_scores(texts, ref_model(["c d c"]))
    got2 = {
        r["id"]: (r["n_bigrams"], r["avg_logprob"])
        for r in bigram_lm_scores(docs, "doc_id", "text", ref=ref).collect()
    }
    for did in texts:
        assert got2[did][0] == expect2[did][0]
        if expect2[did][1] is None:
            assert got2[did][1] is None
        else:
            assert abs(got2[did][1] - expect2[did][1]) < 1e-9


def test_substring_dup_pairs_and_stop_fp_cap(spark):
    from crawler_german_localpoliticans_spark.operators.textstats import (
        substring_dup_pairs,
    )

    shared = "dieser absatz wurde woertlich uebernommen und ist lang genug dafuer"
    footer = "impressum datenschutz kontakt stadtverwaltung"
    rows = [
        (1, "eigener inhalt eins " + shared + " weitere saetze hier " + footer),
        (2, "voellig anderer text zwei " + shared + " noch mehr inhalt " + footer),
        (3, "unabhaengiges dokument ohne uebernommene abschnitte dabei " + footer),
        (4, "das vierte dokument teilt mit niemandem etwas substantielles"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = {
        (r["id_a"], r["id_b"]): r["shared_fps"]
        for r in substring_dup_pairs(docs, "doc_id", "text", min_shared=2).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    # doc 4 shares nothing substantial; any pair must be among docs 1-3
    # (doc 3 MAY legitimately pair via the shared footer in uncapped mode)
    assert set(pairs) <= {(1, 2), (1, 3), (2, 3)}
    assert not any(4 in k for k in pairs)

    # stop-fp cap: with max_fp_freq=2 the footer fingerprints (df=3) are
    # excluded, so doc 3 pairs with nobody; (1,2) still pairs via `shared`
    capped = {
        (r["id_a"], r["id_b"])
        for r in substring_dup_pairs(
            docs, "doc_id", "text", min_shared=2, max_fp_freq=2
        ).collect()
    }
    assert (1, 2) in capped
    assert not any(3 in p for p in capped)


def test_pack_sequences_matches_python_reference(spark):
    """Two-pass packing == single-threaded reference packing (exclusive
    prefix sums over id order), including empty docs, boundary-straddling
    docs, and ids that are non-contiguous — and pack_assignments emits
    exactly one row per (doc, touched sequence)."""
    import random

    from crawler_german_localpoliticans_spark.operators.packing import (
        pack_assignments,
        pack_sequences,
    )

    rng = random.Random(11)
    rows = [(i * 7 + 3, rng.choice([0, 1, 5, 17, 100, 2048, 5000]))
            for i in range(200)]
    L = 2048
    # python reference
    expect = {}
    start = 0
    for did, n in sorted(rows):
        pid = start // L
        expect[did] = (
            start, pid, start % L,
            0 if n == 0 else (start + n - 1) // L - pid + 1,
        )
        start += n

    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    got = {
        r["doc_id"]: (r["start_offset"], r["pack_id"], r["pack_offset"],
                      r["n_packs_spanned"])
        for r in pack_sequences(df, "doc_id", "n_tokens", L).collect()
    }
    assert got == expect

    packed = pack_sequences(df, "doc_id", "n_tokens", L)
    rows_out = pack_assignments(packed, "doc_id").collect()
    expect_rows = sorted(
        (did, p)
        for did, (s, pid, off, k) in expect.items()
        for p in range(pid, pid + k)
    )
    assert sorted((r["doc_id"], r["pack_id"]) for r in rows_out) == expect_rows


def test_pack_emit_matches_python_reference(spark):
    """pack_emit == the single-threaded writer: concatenate all tokens in
    id order, cut into seq_len slices, record where documents start. Byte-
    exact on every pack, including straddling docs, an interior pack of a
    giant doc (empty break list), empty docs (no token, no break), and the
    ragged final pack."""
    import random

    from crawler_german_localpoliticans_spark.operators.packing import (
        pack_emit,
        pack_sequences,
    )

    rng = random.Random(23)
    L = 64
    rows = []
    for i in range(60):
        did = i * 3 + 1
        n = rng.choice([0, 1, 7, 40, 64, 200])  # 200 > 3L: interior packs
        rows.append((did, [f"t{did}w{j}" for j in range(n)]))

    # python reference
    stream: list[str] = []
    breaks_by_pack: dict[int, list[int]] = {}
    for did, toks in sorted(rows):
        if toks:
            start = len(stream)
            breaks_by_pack.setdefault(start // L, []).append(start % L)
            stream.extend(toks)
    expect = {}
    for p in range((len(stream) + L - 1) // L):
        chunk = stream[p * L : (p + 1) * L]
        expect[p] = (len(chunk), chunk, breaks_by_pack.get(p, []))

    df = spark.createDataFrame(rows, "doc_id long, toks array<string>")
    counted = df.select("doc_id", F.size("toks").cast("long").alias("n_tokens"))
    packed = pack_sequences(counted, "doc_id", "n_tokens", L)
    got = {
        r["pack_id"]: (r["n_tokens"], list(r["tokens"]), list(r["doc_breaks"]))
        for r in pack_emit(packed, df, "doc_id", "toks", L).collect()
    }
    assert got == expect
    # every pack but the last is exactly seq_len
    last = max(got)
    assert all(got[p][0] == L for p in got if p != last)


def test_strip_covered_properties_hypothesis():
    """Randomized invariants of the substring-dedup removal kernel
    (strip_covered_batch, no SparkSession needed): (1) output is a
    subsequence of the input, (2) a partner set sharing no window leaves
    the text byte-identical, (3) a planted copy of a partner window is
    always removed, (4) an empty partner set is a no-op."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from crawler_german_localpoliticans_spark.operators.textstats import (
        FP_WINDOW,
        strip_covered_batch,
        window_hashes_batch,
    )

    alphabet = "ab \xa0x.\U0001F600"

    def is_subsequence(sub: str, full: str) -> bool:
        it = iter(full)
        return all(ch in it for ch in sub)

    @settings(max_examples=200, deadline=None)
    @given(
        t=st.text(alphabet=alphabet, max_size=80),
        other=st.text(alphabet=alphabet, min_size=FP_WINDOW, max_size=60),
    )
    def check(t, other):
        w_other = window_hashes_batch([other])[0]
        out = strip_covered_batch([t], [w_other])[0]
        assert is_subsequence(out, t)  # (1)
        w_t = set(window_hashes_batch([t])[0])
        if len(t) >= FP_WINDOW and not (w_t & set(w_other)):
            assert out == t  # (2)
        assert strip_covered_batch([t], [[]])[0] == t  # (4)
        # (3) plant a window of `other`: its FP_WINDOW chars are covered by
        # the matching window, so at least that many chars must come out
        # (junction artifacts can re-create span-like strings, so assert on
        # guaranteed length, not substring absence)
        span = other[:FP_WINDOW]
        planted = "QQ" + t + span + t + "ZZ"
        out_p = strip_covered_batch([planted], [w_other])[0]
        assert len(out_p) <= len(planted) - FP_WINDOW
        assert is_subsequence(out_p, planted)

    check()


def test_winnow_batch_parity_hypothesis():
    """Randomized winnow_batch == winnow_py differential over adversarial
    text (controls, unicode whitespace, astral chars, lone-surrogate-free
    but high codepoints) — the kernel hashes raw codepoints, so the
    alphabet stresses the utf-32 encode path and window/guard edges around
    the 16/4 boundaries."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from crawler_german_localpoliticans_spark.operators.textstats import (
        winnow_batch,
        winnow_py,
    )

    alphabet = "ab \t\n\xa0äß　\U0001F600́x."
    texts_st = st.lists(
        st.text(alphabet=alphabet, max_size=40), min_size=1, max_size=8
    )

    @settings(max_examples=150, deadline=None)
    @given(texts=texts_st)
    def run(texts):
        got = winnow_batch(texts)
        for t, g in zip(texts, got):
            assert g == winnow_py(t), repr(t)

    run()


def test_pack_sequences_wide_hash_id_domain(spark):
    """Bucketing must stay monotone for hash-scale id domains: ids near
    +/- 2^62 would overflow a naive (id-lo)*buckets product into negative
    buckets and corrupt every offset."""
    from pyspark.sql import functions as F

    from crawler_german_localpoliticans_spark.operators.packing import pack_sequences

    ids = [-(2**62), -(2**40), -17, 0, 3, 2**41, 2**62, 2**62 + 5]
    rows = [(i, 10 + j) for j, i in enumerate(sorted(ids))]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    got = {
        r["doc_id"]: r["start_offset"]
        for r in pack_sequences(df, "doc_id", "n_tokens", 16).collect()
    }
    start, expect = 0, {}
    for i, n in rows:
        expect[i] = start
        start += n
    assert got == expect


def test_substring_overlap_verification(spark):
    """substring_overlap == python set-intersection reference, including
    zero-overlap verdict rows, and the span lower bound holds: a shared
    contiguous span of length L contributes >= L - window + 1 windows."""
    from crawler_german_localpoliticans_spark.operators.textstats import (
        FP_WINDOW,
        substring_overlap,
        window_hashes_batch,
    )

    shared = "dieser gemeinsame abschnitt ist deutlich laenger als ein fenster"
    rows = [
        (1, "anfang eins " + shared + " ende eins"),
        (2, "zwei voellig anders " + shared + " zwei ende"),
        (3, "nichts gemeinsam hier in diesem dritten text"),
        (4, "kurz"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2), (1, 3), (3, 4)], "id_a long, id_b long")
    got = {
        (r["id_a"], r["id_b"]): r["shared_windows"]
        for r in substring_overlap(docs, pairs, "doc_id", "text").collect()
    }
    W = {i: set(window_hashes_batch([t])[0]) for i, t in rows}
    expect = {(a, b): len(W[a] & W[b]) for a, b in [(1, 2), (1, 3), (3, 4)]}
    assert got == expect
    assert got[(1, 2)] >= len(shared) - FP_WINDOW + 1
    assert got[(1, 3)] == 0 and got[(3, 4)] == 0


def test_substring_dedup_removes_planted_span_exactly(spark):
    """substring_dedup byte-exact on a planted shared span: the LATER doc
    loses exactly the span (every window inside it matches the keeper's
    set; the boundary windows mix in unique context and don't), the keeper
    and bystanders are untouched, short docs pass through, and a doc that
    is BOTH a keeper (id_a) and a loser (id_b elsewhere) only loses spans
    it shares with ITS keeper."""
    from crawler_german_localpoliticans_spark.operators.textstats import (
        substring_dedup,
    )

    # the chars ADJACENT to the span differ between the two docs (Q/R vs
    # S/T), so no boundary-straddling window can match and the removal is
    # exactly the span — with shared boundary chars (e.g. a space on both
    # sides) coverage would legitimately extend into them
    span = "gemeinsamer abschnitt der deutlich laenger als ein fenster ist"
    rows = [
        (1, "erster eigener anfangQ" + span + "Rerster eigener schluss"),
        (2, "zweiter hat andere worteS" + span + "Tund eigenes ende zwei"),
        (3, "unbeteiligter text ohne jede ueberschneidung mit den anderen"),
        (4, "kurz"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    got = {
        r["doc_id"]: (r["text"], r["n_chars_before"], r["n_chars_after"])
        for r in substring_dedup(docs, pairs, "doc_id", "text").collect()
    }
    assert set(got) == {1, 2, 3, 4}
    # keeper and bystanders byte-identical
    for i, t in rows:
        if i != 2:
            assert got[i] == (t, len(t), len(t))
    # loser: exactly the planted span excised (windows fully inside the
    # span match; windows straddling into doc-2-unique context do not)
    expect2 = "zweiter hat andere worteS" + "Tund eigenes ende zwei"
    assert got[2][0] == expect2
    assert got[2] == (expect2, len(rows[1][1]), len(expect2))

    # short doc as the DST of a pair: unchanged (window semantics N/A)
    pairs2 = spark.createDataFrame([(1, 4)], "id_a long, id_b long")
    got2 = {
        r["doc_id"]: r["text"]
        for r in substring_dedup(docs, pairs2, "doc_id", "text").collect()
    }
    assert got2[4] == "kurz"

    # total removal: dst a verbatim copy of src -> empty string remains
    docs3 = spark.createDataFrame(
        [(1, rows[0][1]), (2, rows[0][1])], "doc_id long, text string"
    )
    got3 = {
        r["doc_id"]: (r["text"], r["n_chars_after"])
        for r in substring_dedup(
            docs3, spark.createDataFrame([(1, 2)], "id_a long, id_b long"),
            "doc_id", "text",
        ).collect()
    }
    assert got3[1] == (rows[0][1], len(rows[0][1]))
    assert got3[2] == ("", 0)

    # a pair whose KEEPER is absent from docs is ignored — the dst must
    # pass through unchanged, not silently vanish from the returned corpus
    # (round-5 review find: it fell through both union branches)
    got4 = {
        r["doc_id"]: r["text"]
        for r in substring_dedup(
            docs3,
            spark.createDataFrame(
                [(99, 2), (1, 2)], "id_a long, id_b long"
            ).where("id_a = 99"),
            "doc_id", "text",
        ).collect()
    }
    assert set(got4) == {1, 2}
    assert got4[2] == rows[0][1]
