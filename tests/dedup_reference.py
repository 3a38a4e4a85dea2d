"""Reference forms of four dedup kernels, kept for parity tests only.

The engine runs the Arrow MinHash kernel (`dedup.minhash_signatures_arrow`),
the per-block BLAS cosine kernel (`dedup.embedding_neardup_pairs`) and the
bucket-capped LSH candidate search (`dedup.lsh_candidate_pairs`). The Spark
forms below compute the same values with plain Spark expressions, so the tests
can pin the engine kernels against an independent plan; `minhash_signature_py`
is the pure-Python MinHash oracle for one text and `simhash64_py` the
pure-Python oracle of `dedup.with_simhash`.
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawler_german_localpoliticans_spark.operators.dedup import (
    MINHASH_PRIME,
    NUM_PERM,
    _permutation_params,
    banded_signatures,
    tokens_py,
    word_shingles,
)


def minhash_signature_py(text: str, num_perm: int = NUM_PERM, k: int = 3) -> list[int]:
    toks = tokens_py(text)
    shingles = {" ".join(toks[i : i + k]) for i in range(max(1, len(toks) - k + 1))}
    shingles = {s for s in shingles if s}
    params = _permutation_params(num_perm)
    out = []
    for a, b in params:
        out.append(min((a * zlib.crc32(s.encode()) + b) % MINHASH_PRIME for s in shingles))
    return out


def simhash64_py(text: str) -> int:
    """64-bit simhash over whitespace tokens, portable primitives only:
    token hash = crc32(token) | crc32(token + 0x01 byte) << 32. Returns a
    SIGNED 64-bit int (Spark LongType two's complement)."""
    votes = [0] * 64
    for tok in (t for t in tokens_py(text) if t):
        bt = tok.encode()
        h = zlib.crc32(bt) | (zlib.crc32(bt + b"\x01") << 32)
        for bit in range(64):
            votes[bit] += 1 if (h >> bit) & 1 else -1
    out = 0
    for bit in range(64):
        if votes[bit] > 0:
            out |= 1 << bit
    return out - (1 << 64) if out >= (1 << 63) else out


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_perm: int = NUM_PERM, k: int = 3
) -> DataFrame:
    """(id, sig array<long>) — 64 permutation minima over crc32 shingle
    hashes, all JVM-side: explode -> crc32 -> one groupBy with num_perm
    min() aggregates."""
    sh = word_shingles(df, id_col, text_col, k)
    h = sh.withColumn("h", F.crc32(F.encode(F.col("shingle"), "UTF-8")))
    params = _permutation_params(num_perm)
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(f"s{i}")
        for i, (a, b) in enumerate(params)
    ]
    sigs = h.groupBy("id").agg(*aggs)
    return sigs.select("id", F.array(*[f"s{i}" for i in range(num_perm)]).alias("sig"))


def embedding_neardup_pairs_join(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float = 0.9,
) -> DataFrame:
    """Blocked self-equi-join form of `dedup.embedding_neardup_pairs`: per-row
    precomputed norms and a JVM-side dot per pair. Mixed-length pairs get a
    null dot (zip_with pads with nulls) and drop out at the threshold."""
    base = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
        F.col(block_col).alias("blk"),
    ).withColumn(
        "norm",
        F.sqrt(F.aggregate(F.transform("vec", lambda x: x * x), F.lit(0.0), lambda a, v: a + v)),
    )
    l, r = base.alias("l"), base.alias("r")
    pairs = l.join(r, (F.col("l.blk") == F.col("r.blk")) & (F.col("l.id") < F.col("r.id")))
    dot = F.aggregate(
        F.zip_with(F.col("l.vec"), F.col("r.vec"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        pairs.select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.round(dot / (F.col("l.norm") * F.col("r.norm")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def lsh_candidate_pairs_uncapped(sigs: DataFrame) -> DataFrame:
    """Uncapped form of `dedup.lsh_candidate_pairs`: every (id_a < id_b)
    pair sharing a (band, band_hash) bucket, as one band self-join. Equal to
    the capped engine whenever no bucket exceeds the cap."""
    banded = banded_signatures(sigs)
    l, r = banded.alias("l"), banded.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
