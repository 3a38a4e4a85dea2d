"""Registry similarity queries — brute-force cosine top-k, sign-LSH ANN, IVF
full and pruned probes, multimodal features — each beside its DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import FEATURE_DIM, extract_features
from ..operators.similarity import (
    cosine_topk_bruteforce, hyperplanes, ivf_build, ivf_build_seeded, ivf_probe, query_bucket,
    with_lsh_bucket,
)
from ..sources.tables import spread
from .common import _docs, _e6, _session_memo

# every query probes with vector 0; the ANN queries return its top _ANN_K
_COSINE_K = 10
_ANN_K = 5


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    row = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .where(F.col("vec_id") == 0)
        .select("embedding")
        .collect()[0]
    )
    return [float(x) for x in row["embedding"]]


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the Arrow matvec is per-row work (see `spread`); the top-k itself is
    # TakeOrderedAndProject — per-partition heaps, no global sort
    emb = spread(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    q = _query_vec(spark, sf_dir)
    topk = cosine_topk_bruteforce(emb, "vec_id", "embedding", q, k=_COSINE_K)
    return topk.select("id", _e6(F.col("score")).alias("score_e6"))


def _topk_sql(k: int) -> str:
    """The rounded-cosine top-k of vector 0 over every embedding."""
    return f"""
            WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings WHERE vec_id = 0)
            SELECT vec_id AS id,
                   CAST(round(round(list_cosine_similarity(
                       CAST(embedding AS DOUBLE[]), qv), 6) * 1000000) AS BIGINT)
                       AS score_e6
            FROM embeddings, q
            ORDER BY round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 6)
                     DESC, vec_id ASC
            LIMIT {k}
        """


_LSH_DIM = 64
_LSH_PLANES = 8


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH ANN with the index built ONCE per (session, sf_dir): the
    bucketed vector table persists (bucket = partition key in production =>
    pruned scan per probe); each query scores only its own bucket with the
    Arrow matvec kernel. Bucket derivation is the shared
    similarity.query_bucket — never a local re-implementation."""

    def build():
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        bucketed = with_lsh_bucket(emb, "embedding", dim=_LSH_DIM, n_planes=_LSH_PLANES).persist()
        bucketed.count()
        return bucketed

    bucketed = _session_memo(spark, "ann_lsh", (sf_dir,), build)
    q = _query_vec(spark, sf_dir)
    cand = bucketed.where(
        F.col("bucket") == query_bucket(q, n_planes=_LSH_PLANES, dim=_LSH_DIM)
    )
    return cosine_topk_bruteforce(cand, "vec_id", "embedding", q, k=_ANN_K).select(
        "id", _e6(F.col("score")).alias("score_e6")
    )


def _ann_lsh_oracle_sql() -> str:
    """The sign-LSH bucket assignment is SQL-expressible because the
    hyperplanes are DETERMINISTIC literals (seed 42): bucket bit i =
    sign(embedding · plane_i). The oracle re-derives every vector's bucket
    with list_dot_product, filters to the query vector's bucket and takes
    the same rounded-cosine top-5 — the full ANN path, hash-checked."""
    planes = hyperplanes(dim=_LSH_DIM, n_planes=_LSH_PLANES, seed=42)

    def arr(p) -> str:
        return "[" + ", ".join(repr(float(x)) for x in p) + "]"

    bucket_expr = "\n                   + ".join(
        f"(CASE WHEN list_dot_product(v, {arr(planes[i])}) > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(planes.shape[0])
    )
    return f"""
        WITH b AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        bucketed AS (
            SELECT vec_id, v,
                   {bucket_expr} AS bucket
            FROM b
        ),
        q AS (SELECT v AS qv, bucket AS qb FROM bucketed WHERE vec_id = 0)
        SELECT vec_id AS id,
               CAST(round(round(list_cosine_similarity(v, qv), 6) * 1000000) AS BIGINT)
                   AS score_e6
        FROM bucketed, q
        WHERE bucket = qb
        ORDER BY round(list_cosine_similarity(v, qv), 6) DESC, vec_id ASC
        LIMIT {_ANN_K}
    """


def _ivf_index(spark: SparkSession, sf_dir: str):
    def build():
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        assigned, centroids = ivf_build(emb, "vec_id", "embedding", n_cells=8)
        assigned = assigned.persist()
        assigned.count()
        return assigned, centroids

    return _session_memo(spark, "ivf", (sf_dir,), build)


def _q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index built ONCE per (session, sf_dir) — persisted assigned table
    + centroid metadata, then probed; the KMeans fit never runs on the query
    path (operators/similarity.py ivf_build/ivf_probe).

    The driver probe runs with nprobe = n_cells (FULL probe): probing every
    cell of a correct IVF index must equal brute-force top-k exactly, which
    IS SQL-expressible — the oracle is the same rounded-cosine top-5 the
    cosine_topk oracle computes. KMeans centroids themselves aren't
    SQL-derivable, so this invariant is what makes the build/probe machinery
    (cell assignment completeness, probe-cell selection, candidate scoring)
    hash-checkable. The PRUNED path — the production access pattern — is
    the ann_ivf_pruned query (over the seeded index) and
    tests/test_operators.py::test_ivf_topk_recall."""
    assigned, centroids = _ivf_index(spark, sf_dir)
    q = _query_vec(spark, sf_dir)
    return ivf_probe(
        assigned, centroids, "vec_id", "embedding", q, k=_ANN_K, nprobe=len(centroids)
    ).select("id", _e6(F.col("score")).alias("score_e6"))


def _ivf_seeded_index(spark: SparkSession, sf_dir: str):
    def build():
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        assigned, centroids = ivf_build_seeded(emb, "vec_id", "embedding", "label")
        assigned = assigned.persist()
        assigned.count()
        return assigned, centroids

    return _session_memo(spark, "ivf_seeded", (sf_dir,), build)


_IVF_NPROBE = 3


def _q_ann_ivf_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production IVF access pattern: a PRUNED probe (nprobe=3 of 10
    cells — a partition-pruned scan at scale), end-to-end value-hash
    checked. The index is the seeded closed-form build
    (operators/similarity.py ivf_build_seeded: centroids = per-label
    per-dim means, assignment = nearest centroid), so the DuckDB oracle
    replays the ENTIRE pruned path from the raw table — centroid means,
    argmin cell assignment, nprobe cell selection, and rounded-cosine
    top-k over exactly the probed cells. ivf_probe/ivf_probe_cells are the
    same probe machinery the KMeans index uses (whose full-probe ≡
    brute-force invariant is the ann_ivf oracle); the pytest recall test
    covers the KMeans pruned path."""
    assigned, centroids = _ivf_seeded_index(spark, sf_dir)
    q = _query_vec(spark, sf_dir)
    return ivf_probe(
        assigned, centroids, "vec_id", "embedding", q, k=_ANN_K, nprobe=_IVF_NPROBE
    ).select("id", _e6(F.col("score")).alias("score_e6"))


# PRUNED IVF probe replayed end-to-end: the seeded closed-form index
# (centroid = per-label per-dim mean, cell = argmin squared L2 with
# lowest-cell tie-break) is pure arithmetic, so the oracle re-derives
# centroids, assignment, the nprobe cell choice, AND the top-k over
# exactly those cells from the raw table. Parallel unnests zip, so
# (value, dimension-index) pairs come from one unnest pass.
_ANN_IVF_PRUNED_SQL = f"""
            WITH v AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev, label
                FROM embeddings
            ),
            dimvals AS (
                SELECT label,
                       unnest(ev) AS x,
                       unnest(range(1, len(ev) + 1)) AS d
                FROM v
            ),
            cmeans AS (
                SELECT label AS cell, d, avg(x) AS m
                FROM dimvals GROUP BY label, d
            ),
            cent AS (
                SELECT cell, list(m ORDER BY d) AS cv
                FROM cmeans GROUP BY cell
            ),
            assign AS (
                SELECT vec_id, ev, cell
                FROM (
                    SELECT v.vec_id, v.ev, c.cell,
                           list_sum(list_transform(range(1, len(v.ev) + 1),
                               i -> (v.ev[i] - c.cv[i]) ^ 2)) AS d2
                    FROM v CROSS JOIN cent c
                )
                QUALIFY row_number() OVER (PARTITION BY vec_id
                                           ORDER BY d2, cell) = 1
            ),
            q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                  FROM embeddings WHERE vec_id = 0),
            probe AS (
                SELECT c.cell
                FROM cent c, q
                ORDER BY list_sum(list_transform(range(1, len(qv) + 1),
                             i -> (qv[i] - c.cv[i]) ^ 2)), c.cell
                LIMIT {_IVF_NPROBE}
            )
            SELECT a.vec_id AS id,
                   CAST(round(round(list_cosine_similarity(a.ev, qv), 6)
                        * 1000000) AS BIGINT) AS score_e6
            FROM assign a JOIN probe USING (cell), q
            ORDER BY round(list_cosine_similarity(a.ev, qv), 6) DESC,
                     a.vec_id ASC
            LIMIT {_ANN_K}
        """


def _q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = spread(_docs(spark, sf_dir)).select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    out = extract_features(media)
    return out.select(
        "media_id",
        "n_bytes",
        *[_e6(F.element_at("features", i + 1)).alias(f"f{i}_e6") for i in range(FEATURE_DIM)],
    )


def _multimodal_oracle_sql() -> str:
    """Byte-level SQL reconstruction of the deterministic fake decoder
    (operators/multimodal.py:_fake_features): payload = UTF-8 text bytes
    (pure ASCII in the testdata => char k == byte k), features = first
    FEATURE_DIM little-endian uint32 words (zero-padded) L2-normalized, cast
    float32. Squares/sums run in DOUBLE on both engines; the e6 rounding
    absorbs any last-ulp summation-order difference. The documented stub
    decoder (no PIL/ffmpeg here) still has its plumbing — schema, byte
    handling, normalization, Arrow batch shape — oracle-checked."""

    def byte(k: int) -> str:
        return f"(CASE WHEN length(text) >= {k + 1} THEN ord(substr(text, {k + 1}, 1)) ELSE 0 END)"

    words = [
        " + ".join(
            f"{byte(4 * i + j)} * CAST({256 ** j} AS DOUBLE)" for j in range(4)
        )
        for i in range(FEATURE_DIM)
    ]
    u_cols = ",\n                   ".join(f"({w}) AS u{i}" for i, w in enumerate(words))
    sq = " + ".join(f"u{i} * u{i}" for i in range(FEATURE_DIM))
    feats = ",\n               ".join(
        f"CAST(round(CASE WHEN norm = 0 THEN 0.0 ELSE CAST(CAST(u{i} / norm AS REAL) AS DOUBLE) END * 1000000) AS BIGINT) AS f{i}_e6"
        for i in range(FEATURE_DIM)
    )
    return f"""
        WITH u AS (
            SELECT doc_id, length(text) AS n_bytes,
                   {u_cols}
            FROM documents
        ),
        n AS (SELECT *, sqrt({sq}) AS norm FROM u)
        SELECT doc_id AS media_id, CAST(n_bytes AS INT) AS n_bytes,
               {feats}
        FROM n
    """


QUERIES = {
    "cosine_topk": (_q_cosine_topk, _topk_sql(_COSINE_K)),
    "ann_lsh": (_q_ann_lsh, _ann_lsh_oracle_sql()),
    # IVF full-probe invariant: probing ALL cells of a correct KMeans index
    # == brute-force top-k (KMeans centroids aren't SQL-derivable, so
    # full-probe equivalence is what hash-checks that machinery)
    "ann_ivf": (_q_ann_ivf, _topk_sql(_ANN_K)),
    "ann_ivf_pruned": (_q_ann_ivf_pruned, _ANN_IVF_PRUNED_SQL),
    "multimodal_features": (_q_multimodal_features, _multimodal_oracle_sql()),
}
