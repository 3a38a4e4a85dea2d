"""Deterministic sampling + mix shaping (operators/sampling.py)."""

from __future__ import annotations

import zlib

from pyspark.sql import functions as F

from crawler_german_localpoliticans_spark.operators import sampling

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def _sample(docs, frac, salt=0):
    # the same fraction for every source: the plain keyed Bernoulli sample
    sources = [r["source"] for r in docs.select("source").distinct().collect()]
    return sampling.stratified_sample(
        docs, "doc_id", "source", fractions={s: frac for s in sources}, salt=salt
    )


def test_deterministic_sample_matches_python_rule_and_is_stable(spark):
    docs = _docs(spark)
    frac, salt = 0.3, 7
    got = sorted(r["doc_id"] for r in _sample(docs, frac, salt).collect())
    all_ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    thr = int(frac * 2**32)
    expect = sorted(i for i in all_ids if zlib.crc32(f"{i}:{salt}".encode()) < thr)
    assert got == expect and 0 < len(got) < len(all_ids)
    # repartitioning does not change the sample (keyed, not RNG)
    got2 = sorted(r["doc_id"] for r in _sample(docs.repartition(17), frac, salt).collect())
    assert got2 == got
    # a different salt draws a different (but same-rule) sample
    got3 = sorted(r["doc_id"] for r in _sample(docs, frac, salt + 1).collect())
    assert got3 != got
    # fraction edges
    assert _sample(docs, 1.0).count() == len(all_ids)
    assert _sample(docs, 0.0).count() == 0


def test_stratified_sample_per_stratum_rule(spark):
    docs = _docs(spark)
    fr = {"src0": 1.0, "src1": 0.4}
    out = sampling.stratified_sample(docs, "doc_id", "source", fr, salt=3).collect()
    rows = docs.select("doc_id", "source").collect()
    thr = {s: int(f * 2**32) for s, f in fr.items()}
    expect = sorted(
        r["doc_id"] for r in rows
        if zlib.crc32(f'{r["doc_id"]}:3'.encode()) < thr.get(r["source"], 0)
    )
    assert sorted(r["doc_id"] for r in out) == expect
    # unlisted strata are dropped entirely
    assert all(r["source"] in fr for r in out)


def test_source_mix_and_rebalance(spark):
    docs = _docs(spark)
    mix = {r["stratum"]: r["weight"] for r in
           sampling.source_mix(docs, "source", "n_chars").collect()}
    expect = {r["source"]: 0 for r in docs.select("source").distinct().collect()}
    for r in docs.select("source", "n_chars").collect():
        expect[r["source"]] += r["n_chars"]
    assert mix == expect

    current = {"web": 900.0, "books": 50.0, "news": 50.0}
    target = {"web": 0.5, "books": 0.25, "news": 0.25}
    fr = sampling.rebalance_fractions(current, target)
    # books/news are binding (keep all); web downsamples to hold 50% share
    assert fr["books"] == 1.0 and fr["news"] == 1.0
    sampled = {s: current[s] * fr[s] for s in current}
    tot = sum(sampled.values())
    for s, t in target.items():
        assert abs(sampled[s] / tot - t) < 1e-9
    # strata missing from target are dropped
    fr2 = sampling.rebalance_fractions({"a": 1.0, "junk": 5.0}, {"a": 1.0})
    assert fr2 == {"a": 1.0, "junk": 0.0}


def test_hash_split_partitions_and_aligns(spark):
    """hash_split: total partition (every row exactly one split), the
    python-replayed CRC-32 thresholds agree row-for-row, the same key+salt
    yields the SAME split in a derived table (doc <-> embedding
    alignment), and invalid fraction lists raise."""
    import pytest as _pytest

    docs = _docs(spark)
    splits = [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    out = {r["doc_id"]: r["split"] for r in
           sampling.hash_split(docs, "doc_id", splits, salt=7).collect()}
    assert len(out) == docs.count()
    t1 = int(0.8 * 2**32)
    t2 = int((0.8 + 0.1) * 2**32)
    for did, sp in out.items():
        hv = zlib.crc32(f"{did}:7".encode())
        expect = "train" if hv < t1 else ("val" if hv < t2 else "test")
        assert sp == expect
    # derived-table alignment: any frame keyed by the same ids agrees
    derived = docs.select("doc_id", "n_chars")
    out2 = {r["doc_id"]: r["split"] for r in
            sampling.hash_split(derived, "doc_id", splits, salt=7).collect()}
    assert out2 == out
    with _pytest.raises(ValueError):
        sampling.hash_split(docs, "doc_id", [("a", 0.5), ("b", 0.4)])
    with _pytest.raises(ValueError):
        sampling.hash_split(docs, "doc_id", [("only", 1.0)])


def test_mix_rebalance_end_to_end_hits_target(spark):
    """The composed loop (mix -> solver -> sample -> mix) on the engine:
    the binding stratum keeps fraction 1.0 (downsample-only invariant),
    dropped strata vanish, and the ACHIEVED shares track the target within
    finite-sample noise of the keyed Bernoulli."""
    docs = _docs(spark)
    current = {
        r["stratum"]: float(r["weight"])
        for r in sampling.source_mix(docs, "source", "n_chars").collect()
    }
    target = {"src0": 50.0, "src1": 30.0, "src2": 20.0}
    fr = sampling.rebalance_fractions(current, target)
    assert max(fr[s] for s in target) == 1.0  # binding stratum keeps all
    assert all(0.0 <= f <= 1.0 for f in fr.values())
    assert all(fr[s] == 0.0 for s in fr if s not in target)
    sampled = sampling.stratified_sample(docs, "doc_id", "source", fr, salt=11)
    achieved = {
        r["stratum"]: r["share_e6"]
        for r in sampling.source_mix(sampled, "source", "n_chars").collect()
    }
    assert set(achieved) <= set(target)
    # keyed Bernoulli over few-hundred docs: shares within ~10 points of
    # target (the driver oracle checks EXACT replay; this checks intent)
    for s, t in target.items():
        assert abs(achieved[s] / 1e6 - t / 100.0) < 0.10
