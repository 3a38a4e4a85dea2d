"""Deterministic sampling and training-mix shaping.

Large-corpus pipelines never use RNG sampling: a keyed HASH decides each
row's fate, so the sample is (a) reproducible across runs/retries/engines,
(b) stable under repartitioning (no per-partition RNG state), and (c)
consistent across derived tables — sampling documents and their embeddings
by the same key keeps them aligned. The hash here is CRC-32 over
"<key>:<salt>" (the repo's portability primitive: zlib == JVM CRC32 ==
Spark F.crc32 == the DuckDB inline-table oracle), so the decision is a
pure JVM Column — whole-stage codegen, no Python, no shuffle — and every
sample is value-hash verifiable in SQL.

  keep(row)  <=>  crc32(str(key) + ":" + str(salt)) < fraction * 2^32

Changing `salt` draws an independent sample; `fraction` is honored in
expectation per stratum (crc32 of distinct keys is uniform enough for
corpus work; for adversarial keys switch the salt).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_HASH_SPACE = 1 << 32


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    salt: int = 0,
) -> DataFrame:
    """Per-stratum keyed sampling (the training-mix shaping step: e.g.
    keep 100% of books, 10% of common-crawl). Strata absent from
    `fractions` are dropped (the safe rule for an explicit mix). The
    per-stratum threshold is a literal CASE chain —
    strata counts are small by definition (sources, languages), so this
    stays one codegen stage with no join."""
    for stratum, fraction in fractions.items():
        if not (0.0 <= fraction <= 1.0):
            raise ValueError(f"fraction for {stratum!r} must be in [0, 1], got {fraction}")
    threshold = F.lit(0)
    for stratum, fraction in sorted(fractions.items()):
        threshold = F.when(
            F.col(strata_col) == F.lit(stratum), F.lit(int(fraction * _HASH_SPACE))
        ).otherwise(threshold)
    h = F.crc32(
        F.encode(F.concat(F.col(key_col).cast("string"), F.lit(f":{salt}")), "UTF-8")
    )
    return df.where(h < threshold)


def source_mix(df: DataFrame, strata_col: str, weight_col: str | None = None) -> DataFrame:
    """(stratum, n_docs, weight, share_e6) — the corpus composition report
    a mix decision starts from. `weight_col` (e.g. a token count) defaults
    to document count; share_e6 = round(weight * 1e6 / total) so the
    column is integral and hash-comparable. One hash groupBy plus a scalar
    total (window over a single row group — broadcast-sized).

    The share expression is `weight * 1e6 / total` in exactly that
    association — the SAME order the DuckDB oracle evaluates — because the
    two associations can differ by one ulp and flip round() at an exact
    half boundary (integer weights make those boundaries reachable)."""
    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    # the aggregate feeds BOTH the grand total and the share projection.
    # Strata counts are tiny by definition (sources, languages), so the
    # agg is COLLECTED once and rebuilt via createDataFrame: the corpus
    # scan+agg runs exactly once, the grand total becomes a literal, and
    # no session-lifetime cache entry is pinned per distinct input (the
    # r5 ADVICE persist-leak note — an unpaired .persist() here
    # accumulated one entry per corpus in a long-lived session).
    # Construction is eager (one Spark job), like the materializing
    # counts in dedup.lsh_candidate_pairs and curation.contamination_check.
    # The share expression keeps the
    # exact association `weight * 1e6 / total` the DuckDB oracle uses —
    # total is an exact integer sum either way, so the float op sequence
    # is unchanged.
    agg = df.groupBy(F.col(strata_col).alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum(w).alias("weight")
    )
    rows = agg.collect()
    spark = df.sparkSession
    rebuilt = spark.createDataFrame(rows, agg.schema)
    total = sum(r["weight"] for r in rows if r["weight"] is not None)
    return rebuilt.select(
        "stratum",
        "n_docs",
        "weight",
        F.round(F.col("weight") * F.lit(1_000_000.0) / F.lit(total).cast("long"))
        .cast("long")
        .alias("share_e6"),
    )


def hash_split(
    df: DataFrame,
    key_col: str,
    splits: list[tuple[str, float]],
    salt: int = 0,
) -> DataFrame:
    """Deterministic train/val/test assignment: every row lands in exactly
    one named split (column `split`) by comparing its keyed CRC-32 against
    cumulative fraction thresholds (first split = hashes below trunc(f1 * 2^32), next
    below trunc((f1+f2) * 2^32), ...; the LAST split absorbs the rounding
    residue so the partition is total). Same guarantees as
    stratified_sample: reproducible across runs/retries/engines, stable
    under repartitioning, and consistent across derived tables keyed the
    same way — a document and its embeddings always land in the same
    split. Fractions must sum to 1 (the split is a partition, not a
    sample; combine with stratified_sample to subsample first).
    Pure codegen CASE chain, no shuffle."""
    if len(splits) < 2:
        raise ValueError("need at least two splits")
    total = sum(f for _, f in splits)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    if any(f < 0 for _, f in splits):
        raise ValueError("split fractions must be non-negative")
    h = F.crc32(
        F.encode(F.concat(F.col(key_col).cast("string"), F.lit(f":{salt}")), "UTF-8")
    )
    cum = 0.0
    expr = None
    for name, frac in splits[:-1]:
        cum += frac
        thr = int(cum * _HASH_SPACE)
        cond = h < F.lit(thr)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    expr = expr.otherwise(F.lit(splits[-1][0]))
    return df.withColumn("split", expr)


def rebalance_fractions(
    current: dict[str, float], target: dict[str, float]
) -> dict[str, float]:
    """Per-stratum sampling fractions that move an observed mix to a target
    mix by DOWNSAMPLING only (no stratum is upweighted past keeping all of
    it — duplication is a training-recipe choice, not a sampling one).

    current: stratum -> observed weight (any positive scale)
    target:  stratum -> desired share (any positive scale; normalized)

    Returns the largest fractions f_s in (0, 1] such that the sampled
    weights current_s * f_s are IN the target proportion: the binding
    stratum (smallest current share relative to target share) keeps
    fraction 1.0 and everything else downsamples to match. Strata missing
    from `target` get 0.0. Driver-side arithmetic — strata are few."""
    tot_t = sum(v for v in target.values() if v > 0)
    if tot_t <= 0:
        raise ValueError("target must contain a positive share")
    fractions: dict[str, float] = {}
    # scale k = min over strata of current_s / target_share_s ensures
    # f_s = k * target_share_s / current_s <= 1 with equality at the
    # binding stratum
    k = None
    for s, t in target.items():
        if t <= 0:
            continue
        c = current.get(s, 0.0)
        if c <= 0:
            raise ValueError(f"target stratum {s!r} has no current weight")
        ratio = c / (t / tot_t)
        k = ratio if k is None else min(k, ratio)
    for s in current:
        t = target.get(s, 0.0)
        if t <= 0:
            fractions[s] = 0.0
        else:
            fractions[s] = min(1.0, k * (t / tot_t) / current[s])
    return fractions
