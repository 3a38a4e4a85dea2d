"""Partitioned bloom-filter sidecar for the URL-seen structure.

The reference's URL-seen set is a Redis SET with an atomic Lua
check-and-add (src/main.rs:30-45, :644-654). The Spark-native rebuild keeps
the *exact* set in the partitioned `url_seen` table (the trailing anti-join
preserves the exact-membership invariant) and adds this bloom sidecar as the
fast path, per the north rule: "partitioned bloom/cuckoo-filter URL-seen
structure keyed by canonicalized URL hash".

Design (scale posture first):
- `url_seen` rows carry (h1, h2, part) where h1 = xxhash64(url),
  h2 = xxhash64(url, GOLDEN_GAMMA) — both computed JVM-side — and
  part = pmod(h1, P). One bloom bitset per part.
- Bitsets live as one .npy file per partition under
  `<root>/bloom/v=K/part-N.npy`, versioned per insertion event (round).
  Executors read ONLY their group's file inside `applyInPandas` — no
  broadcast of the full filter, so memory per task stays O(m/P) no matter
  how many partitions exist. At 10^10 keys / 1% FPR the whole structure is
  ~1.4 GB split across P files; P scales with the cluster, each task still
  touches one file.
- Membership test: k bit probes at (h1 + i*h2) mod m (Kirsch-Mitzenmacher
  double hashing). False positives go to the exact anti-join; false
  negatives are impossible as long as version K covers everything inserted
  before the test — the crawl driver guarantees bloom(v=r) ⊇ url_seen at
  round r's expansion (seeds inserted during round 0, children of round r
  inserted as v=r+1).
- Partitions untouched by an insertion round are carried forward by
  hard-linking the previous version's file (a manifest table would replace
  this on object storage).
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

GOLDEN_GAMMA = -7046029254386353131  # 0x9E3779B97F4A7C15 as signed int64


def bloom_params(capacity: int, fpp: float) -> tuple[int, int]:
    """(m bits, k hashes) for a target capacity/false-positive rate."""
    m = max(64, int(-capacity * math.log(fpp) / (math.log(2) ** 2)))
    m = (m + 63) // 64 * 64  # round up to whole words
    k = max(1, round(m / capacity * math.log(2)))
    return m, k


def with_hashes(df: DataFrame, url_col: str, partitions: int) -> DataFrame:
    """Attach (h1, h2, part) — hashes computed in the JVM (codegen), never
    in Python."""
    h1 = F.xxhash64(F.col(url_col))
    h2 = F.xxhash64(F.col(url_col), F.lit(GOLDEN_GAMMA))
    return (
        df.withColumn("h1", h1)
        .withColumn("h2", h2)
        .withColumn("part", F.pmod(F.col("h1"), F.lit(partitions)).cast("int"))
    )


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer (public-domain constants) — decorrelates the bit
    positions from the PARTITION key: part = pmod(h1, P) fixes h1 mod P, and
    since P | 64 | m, raw `h1 mod m` would confine every key's first probe
    to the same m/P stripe of its partition's bitset (measured 7.7% FPR at
    a configured 1% before this mix — caught by tests/test_bloom.py)."""
    x = x.astype(np.uint64)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _positions(h1: np.ndarray, h2: np.ndarray, m: int, k: int) -> np.ndarray:
    """(n, k) bit positions via double hashing over MIXED hashes, uint64
    wraparound arithmetic. The stride is forced odd: gcd(step, m) == 1
    (m is a multiple of 64), so the k probes never collapse onto a short
    cycle."""
    u1 = _mix64(h1)
    u2 = _mix64(h2) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)
    return ((u1[:, None] + i[None, :] * u2[:, None]) % np.uint64(m)).astype(np.int64)


#: bump when the probe-position derivation changes — a resumed run reading
#: bitsets built under a different scheme would return FALSE NEGATIVES,
#: which (unlike false positives) break the exact-set invariant via the
#: definite-new fast path, so a mismatch must fail loudly.
PROBE_ALGO = "splitmix64-oddstride-v2"


class BloomSidecar:
    def __init__(self, root: str, partitions: int, capacity: int, fpp: float) -> None:
        import json

        self.dir = os.path.join(root, "bloom")
        self.partitions = partitions
        self.m, self.k = bloom_params(capacity, fpp)
        os.makedirs(self.dir, exist_ok=True)
        meta = {"m": self.m, "k": self.k, "algo": PROBE_ALGO}
        meta_path = os.path.join(self.dir, "meta.json")
        if os.path.exists(meta_path):
            with open(meta_path, encoding="utf-8") as f:
                existing = json.load(f)
            if existing != meta:
                raise ValueError(
                    f"bloom sidecar params changed ({existing} -> {meta}); "
                    "existing bitsets would give false negatives — start a "
                    "fresh work_dir instead of resuming"
                )
        else:
            # legacy dirs (bitsets written before the meta marker existed)
            # must NOT be blessed with fresh meta: their positions came from
            # an unknown probe scheme, so probing them is a false-negative
            # hazard — refuse just like a params mismatch
            if any(name.startswith("v=") for name in os.listdir(self.dir)):
                raise ValueError(
                    "bloom sidecar has bitset versions but no meta.json "
                    "(written by a pre-meta build); probing them with the "
                    "current scheme risks false negatives — start a fresh "
                    "work_dir instead of resuming"
                )
            tmp = meta_path + ".tmp"
            with open(tmp, "w", encoding="utf-8") as f:
                json.dump(meta, f)
            os.replace(tmp, meta_path)

    def _vdir(self, version: int) -> str:
        return os.path.join(self.dir, f"v={version:06d}")

    def _part_file(self, version: int, part: int) -> str:
        return os.path.join(self._vdir(version), f"part-{part}.npy")

    def drop_versions_after(self, last: int) -> None:
        import shutil

        if not os.path.isdir(self.dir):
            return
        for name in os.listdir(self.dir):
            if name.startswith("v=") and int(name[2:]) > last:
                shutil.rmtree(os.path.join(self.dir, name))

    # -- insertion ----------------------------------------------------------
    def insert(self, df_with_hashes: DataFrame, prev_version: int | None, version: int) -> int:
        """Write bloom version `version` = prev ∪ df. Returns rows inserted.

        Runs as applyInPandas over the part groups: each task loads only its
        partition's previous bitset, ORs in the new keys, writes the new file.
        """
        vdir = self._vdir(version)
        os.makedirs(vdir, exist_ok=True)
        m, k = self.m, self.k
        prev_dir = self._vdir(prev_version) if prev_version is not None else None
        out_dir = vdir

        def build(pdf: pd.DataFrame) -> pd.DataFrame:
            part = int(pdf["part"].iloc[0])
            prev_file = os.path.join(prev_dir, f"part-{part}.npy") if prev_dir else None
            if prev_file and os.path.exists(prev_file):
                bits = np.load(prev_file)
            else:
                bits = np.zeros(m // 64, dtype=np.uint64)
            pos = _positions(pdf["h1"].to_numpy(), pdf["h2"].to_numpy(), m, k).ravel()
            np.bitwise_or.at(bits, pos // 64, np.uint64(1) << (pos % 64).astype(np.uint64))
            tmp = os.path.join(out_dir, f".part-{part}.tmp.npy")
            np.save(tmp, bits)
            os.replace(tmp, os.path.join(out_dir, f"part-{part}.npy"))
            return pd.DataFrame({"part": [part], "n": [len(pdf)]})

        stats = (
            df_with_hashes.select("part", "h1", "h2")
            .groupBy("part")
            .applyInPandas(build, schema="part int, n long")
            .agg(F.sum("n").alias("n"))
            .collect()
        )
        inserted = int(stats[0]["n"]) if stats and stats[0]["n"] is not None else 0

        # carry forward untouched partitions from the previous version
        if prev_dir and os.path.isdir(prev_dir):
            for name in os.listdir(prev_dir):
                if name.startswith("part-") and not os.path.exists(os.path.join(vdir, name)):
                    try:
                        os.link(os.path.join(prev_dir, name), os.path.join(vdir, name))
                    except OSError:
                        import shutil

                        shutil.copy2(os.path.join(prev_dir, name), os.path.join(vdir, name))
        return inserted

    # -- membership prefilter -------------------------------------------------
    def prefilter(self, candidates: DataFrame, version: int) -> DataFrame:
        """Add `maybe_seen`: False rows are *definitely* not in url_seen (no
        false negatives) and may skip the exact anti-join."""
        m, k = self.m, self.k
        vdir = self._vdir(version)
        out_schema = T.StructType(
            candidates.schema.fields + [T.StructField("maybe_seen", T.BooleanType(), False)]
        )
        columns = candidates.columns

        def test(pdf: pd.DataFrame) -> pd.DataFrame:
            part = int(pdf["part"].iloc[0])
            f = os.path.join(vdir, f"part-{part}.npy")
            if not os.path.exists(f):
                pdf["maybe_seen"] = False
                return pdf
            bits = np.load(f)
            pos = _positions(pdf["h1"].to_numpy(), pdf["h2"].to_numpy(), m, k)
            probe = (bits[pos // 64] >> (pos % 64).astype(np.uint64)) & np.uint64(1)
            pdf["maybe_seen"] = probe.all(axis=1)
            return pdf

        return candidates.groupBy("part").applyInPandas(test, schema=out_schema)
