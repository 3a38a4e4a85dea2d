"""Partitioned bloom-filter sidecar for the URL-seen structure.

The reference's URL-seen set is a Redis SET with an atomic Lua
check-and-add (src/main.rs:30-45, :644-654). The Spark-native rebuild keeps
the *exact* set in the partitioned `url_seen` table (the trailing anti-join
preserves the exact-membership invariant) and adds this bloom sidecar as the
fast path, per the north rule: "partitioned bloom/cuckoo-filter URL-seen
structure keyed by canonicalized URL hash".

Design (scale posture first):
- Rows entering the filter (the crawl's seeds and deduped children, see
  `with_hashes`) carry (h1, h2, part) where h1 = xxhash64(url),
  h2 = xxhash64(url, GOLDEN_GAMMA) — both computed JVM-side — and
  part = pmod(h1, P). One bloom bitset per part. The `url_seen` table
  itself holds only the url.
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
  round r's expansion (seeds written as v=0, the deduped children of round
  r as v=r+1).
- Write on materialization: `insert` probes its candidates against the
  previous version AND writes the next version in one grouped pass, so the
  crawl's dedup pass is also its bloom write — no separate insert job. The
  files land when the returned frame runs; each part goes to a unique temp
  name and is renamed into place, so a retried task rewrites identical
  bytes. The crawl persists the returned frame, so its definite-new and
  maybe-seen branches read one pass. The crawl inserts every deduped
  child, not only the enqueued ones: the ones the anti-join drops are
  already in url_seen ⊆ the previous version, so the key set (and every
  bit) is the same.
- Carry-forward: partitions no candidate touches are hard-linked from the
  previous version before the pass runs; a touched part replaces its link
  by rename, never writes through it (a manifest table would replace this
  on object storage).
"""

from __future__ import annotations

import math
import os
import shutil
import uuid

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
        # keys live in part pmod(h1, partitions): another partition count
        # probes them in the wrong part files, as false negatives
        meta = {"m": self.m, "k": self.k, "algo": PROBE_ALGO, "partitions": partitions}
        meta_path = os.path.join(self.dir, "meta.json")
        if os.path.exists(meta_path):
            with open(meta_path, encoding="utf-8") as f:
                existing = json.load(f)
            if existing != meta:
                changed = ", ".join(
                    f"{key}: {existing.get(key)} -> {meta.get(key)}"
                    for key in sorted(existing.keys() | meta.keys())
                    if existing.get(key) != meta.get(key)
                )
                raise ValueError(
                    f"bloom sidecar params changed ({changed}); "
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

    def drop_versions_after(self, last: int) -> None:
        if not os.path.isdir(self.dir):
            return
        for name in os.listdir(self.dir):
            if name.startswith("v=") and int(name[2:]) > last:
                shutil.rmtree(os.path.join(self.dir, name))

    # -- one grouped pass: probe, and optionally write the next version ------
    def _grouped(self, candidates: DataFrame, probe_version: int | None, write_version: int | None) -> DataFrame:
        """`candidates` + `maybe_seen` (probed against `probe_version`; None
        = the empty filter), as one applyInPandas over the part groups. With
        `write_version`, each group also writes that version's part file =
        the probed bitset OR its keys. Every file goes to a unique temp name
        and is renamed into place, so a task retry (or a plan that evaluates
        the pass twice) rewrites identical bytes without a torn file."""
        m, k = self.m, self.k
        probe_dir = self._vdir(probe_version) if probe_version is not None else None
        out_dir = self._vdir(write_version) if write_version is not None else None
        out_schema = T.StructType(
            candidates.schema.fields + [T.StructField("maybe_seen", T.BooleanType(), False)]
        )

        def probe(pdf: pd.DataFrame) -> pd.DataFrame:
            part = int(pdf["part"].iloc[0])
            f = os.path.join(probe_dir, f"part-{part}.npy") if probe_dir else None
            bits = np.load(f) if f and os.path.exists(f) else np.zeros(m // 64, dtype=np.uint64)
            pos = _positions(pdf["h1"].to_numpy(), pdf["h2"].to_numpy(), m, k)
            word, bit = pos // 64, np.uint64(1) << (pos % 64).astype(np.uint64)
            pdf["maybe_seen"] = ((bits[word] & bit) != 0).all(axis=1)
            if out_dir is not None:
                np.bitwise_or.at(bits, word.ravel(), bit.ravel())
                tmp = os.path.join(out_dir, f".part-{part}.{uuid.uuid4().hex}.tmp.npy")
                np.save(tmp, bits)
                os.replace(tmp, os.path.join(out_dir, f"part-{part}.npy"))
            return pdf

        return candidates.groupBy("part").applyInPandas(probe, schema=out_schema)

    # -- insertion ----------------------------------------------------------
    def insert(self, candidates: DataFrame, prev_version: int | None, version: int) -> DataFrame:
        """Bloom version `version` = version `prev_version` ∪ `candidates`
        (an empty filter when None), written by the same grouped pass that
        probes `candidates` against `prev_version`. Returns `candidates` +
        `maybe_seen` (False = definitely not in `prev_version`); the files
        are written when that frame is materialized, so the caller must run
        it over every row before reading `version`.

        Parts no candidate touches are hard-linked from `prev_version` up
        front; a touched part replaces its link by rename, never in place.
        """
        vdir = self._vdir(version)
        os.makedirs(vdir, exist_ok=True)
        prev_dir = self._vdir(prev_version) if prev_version is not None else None
        if prev_dir and os.path.isdir(prev_dir):
            for name in os.listdir(prev_dir):
                if name.startswith("part-") and not os.path.exists(os.path.join(vdir, name)):
                    try:
                        os.link(os.path.join(prev_dir, name), os.path.join(vdir, name))
                    except OSError:
                        shutil.copy2(os.path.join(prev_dir, name), os.path.join(vdir, name))
        return self._grouped(candidates, prev_version, version)

    # -- membership prefilter -------------------------------------------------
    def prefilter(self, candidates: DataFrame, version: int) -> DataFrame:
        """Add `maybe_seen`: False rows are *definitely* not in url_seen (no
        false negatives) and may skip the exact anti-join. A missing part
        file probes as the empty filter."""
        return self._grouped(candidates, version, None)
