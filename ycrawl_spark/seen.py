"""URL-seen membership: Bloom / cuckoo filter primitives + exact joins.

Reference analog: the coordinator lists today's GCS blobs and splits
them into completed / error / forfeit name lists, then does O(n·m)
python list membership (`/root/reference/Coordinator/main.py:8-25,68`).

Engine design: the seen set is a DataFrame derived from the
append-only fetch_log, and the crawl tests membership once per
(re)entry with ONE exact left join against it (``join_seen_state``,
called by ``pipeline.apply_seen_state``); the epoch loop carries the
live pending set exactly and never re-tests it, so no filter is built
or probed on the crawl path.

The filter primitives stay for membership at scales the exact join
cannot serve alone, each tested against the exact anti-join:
  1. ``Bloom`` — a driver-held bitset built by a grouped applyInPandas
     aggregation and broadcast (``build_bloom``, ``add_keys_to_bloom``,
     ``anti_join_unseen``): definitely-unseen rows pass with zero join,
     only maybe-hits take the exact ``left_anti`` join (false positives
     are re-checked; false negatives are impossible);
  2. the sharded Bloom (``build_sharded_bloom``, ``update_sharded_bloom``,
     ``sharded_maybe_tag``) for filters that outgrow a broadcast;
  3. ``Cuckoo`` (deletable fingerprints) for a retry re-arm path where
     keys must leave the filter — the engine avoids deletions by
     deriving the seen set from the append-only fetch_log.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .hashing import bloom_positions, xxh64_str

_HASH_SEED_A = 101
_HASH_SEED_B = 202


class Bloom:
    """Fixed-size Bloom filter over strings; numpy bitset, mergeable."""

    def __init__(self, m_bits: int, k: int, bits: np.ndarray | None = None):
        assert m_bits % 64 == 0
        self.m = m_bits
        self.k = k
        self.words = bits if bits is not None else np.zeros(m_bits // 64, dtype=np.uint64)

    @classmethod
    def sized_for(cls, n_items: int, fpp: float = 0.01) -> "Bloom":
        n = max(n_items, 1)
        m = int(-n * math.log(fpp) / (math.log(2) ** 2))
        m = max(1024, 1 << (m - 1).bit_length())  # pow2, ≥1024
        k = max(1, round(m / n * math.log(2)))
        return cls(m, min(k, 16))

    def _positions(self, keys) -> np.ndarray:
        a = np.array([xxh64_str(s, _HASH_SEED_A) for s in keys], dtype=np.uint64)
        b = np.array([xxh64_str(s, _HASH_SEED_B) | 1 for s in keys], dtype=np.uint64)
        return bloom_positions(a, b, self.k, self.m)  # (k, n)

    def add_many(self, keys) -> None:
        if len(keys) == 0:
            return
        pos = self._positions(keys).ravel()
        np.bitwise_or.at(self.words, pos >> 6, np.uint64(1) << (pos & 63).astype(np.uint64))

    def contains_many(self, keys) -> np.ndarray:
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(keys)  # (k, n)
        hit = (self.words[pos >> 6] >> (pos & 63).astype(np.uint64)) & np.uint64(1)
        return hit.all(axis=0)

    def merge(self, other: "Bloom") -> "Bloom":
        assert self.m == other.m and self.k == other.k
        return Bloom(self.m, self.k, self.words | other.words)

    def to_bytes(self) -> bytes:
        return self.words.tobytes()

    @classmethod
    def from_bytes(cls, m_bits: int, k: int, data: bytes) -> "Bloom":
        return cls(m_bits, k, np.frombuffer(data, dtype=np.uint64).copy())


def add_keys_to_bloom(bloom: Bloom, keys_df: DataFrame, key_col: str,
                      n_shards: int = 32) -> None:
    """OR a DataFrame of keys into an existing (pre-sized) Bloom —
    distributed: shard by key hash, per-shard grouped aggregation yields
    one bits-row each, driver OR-merges. This is the INCREMENTAL path:
    only the delta's keys are hashed (O(delta)), instead of rebuilding
    the filter over the whole seen set (O(seen) per update → quadratic
    over a crawl)."""
    m, k = bloom.m, bloom.k

    def shard_agg(pdf: pd.DataFrame) -> pd.DataFrame:
        b = Bloom(m, k)
        b.add_many(pdf[key_col].tolist())
        return pd.DataFrame({"bits": [b.to_bytes()]})

    shards = (
        keys_df.select(key_col)
        .withColumn("_shard", F.pmod(F.xxhash64(key_col), F.lit(n_shards)))
        .groupBy("_shard")
        .applyInPandas(shard_agg, schema="bits binary")
        .collect()
    )
    for r in shards:
        bloom.words |= np.frombuffer(bytes(r["bits"]), dtype=np.uint64)


def build_bloom(seen_keys: DataFrame, key_col: str, n_items_hint: int, n_shards: int = 32,
                fpp: float = 0.01) -> Bloom:
    """Distributed one-shot Bloom build (sized from the hint) over an
    existing key set; ``add_keys_to_bloom`` grows a filter in place."""
    merged = Bloom.sized_for(max(n_items_hint, 1), fpp)
    add_keys_to_bloom(merged, seen_keys, key_col, n_shards)
    return merged


def anti_join_unseen(candidates: DataFrame, seen: DataFrame, key_col: str = "key",
                     bloom: Bloom | None = None, spark=None) -> DataFrame:
    """``candidates`` whose key is NOT in ``seen`` — exact.

    With a Bloom: definite-new rows bypass the join entirely; only
    maybe-hits take the exact anti-join (reference anti-join:
    Coordinator/main.py:68, list membership → here a real anti-join).
    """
    if bloom is None:
        return candidates.join(seen.select(key_col), key_col, "left_anti")
    bc = (spark or candidates.sparkSession).sparkContext.broadcast(
        (bloom.m, bloom.k, bloom.to_bytes())
    )

    @F.pandas_udf("boolean")
    def maybe_seen(s: pd.Series) -> pd.Series:
        m, k, raw = bc.value
        b = Bloom.from_bytes(m, k, raw)
        return pd.Series(b.contains_many(s.tolist()))

    tagged = candidates.withColumn("_maybe", maybe_seen(F.col(key_col)))
    definite_new = tagged.filter(~F.col("_maybe")).drop("_maybe")
    rechecked = (
        tagged.filter(F.col("_maybe"))
        .drop("_maybe")
        .join(seen.select(key_col), key_col, "left_anti")
    )
    return definite_new.unionByName(rechecked)


def join_seen_state(candidates: DataFrame, seen_agg: DataFrame,
                    key_col: str = "key",
                    broadcast_state: bool = False) -> DataFrame:
    """Attach crawl state (done, err_count) from the compacted seen_agg
    to every candidate in ONE exact left join; candidates with no state
    row get (done=0, err_count=0)."""
    state = seen_agg.select(
        key_col,
        F.col("done").cast("int").alias("done"),
        F.col("err_count").cast("long").alias("err_count"),
    )
    if broadcast_state:
        # Caller knows the state is small: hint it explicitly so the
        # left join never falls back to a sort-merge that shuffles the
        # frontier side.
        state = F.broadcast(state)
    return (
        candidates.join(state, key_col, "left")
        .withColumn("done", F.coalesce(F.col("done"), F.lit(0)))
        .withColumn("err_count",
                    F.coalesce(F.col("err_count"), F.lit(0).cast("long")))
    )


class Cuckoo:
    """Minimal cuckoo filter (8-bit fingerprints, bucket size 4) with
    delete support — fallback for seen-set deletions (retry re-arm).

    Public algorithm: Fan et al., "Cuckoo Filter: Practically Better
    Than Bloom" (CoNEXT 2014).
    """

    def __init__(self, n_buckets: int):
        self.n = 1 << (max(n_buckets, 8) - 1).bit_length()
        self.table = np.zeros((self.n, 4), dtype=np.uint8)  # 0 = empty

    def _fp_and_index(self, key: str) -> tuple[int, int]:
        h = xxh64_str(key, 303)
        fp = (h & 0xFF) or 1
        i1 = (h >> 8) % self.n
        return fp, i1

    def _alt(self, i: int, fp: int) -> int:
        return (i ^ xxh64_str(chr(fp), 404)) % self.n

    def insert(self, key: str, max_kicks: int = 500) -> bool:
        fp, i = self._fp_and_index(key)
        for idx in (i, self._alt(i, fp)):
            empty = np.flatnonzero(self.table[idx] == 0)
            if empty.size:
                self.table[idx, empty[0]] = fp
                return True
        # evict deterministically (slot 0) and re-place
        idx = i
        for kick in range(max_kicks):
            slot = kick % 4
            fp, self.table[idx, slot] = int(self.table[idx, slot]), fp
            idx = self._alt(idx, fp)
            empty = np.flatnonzero(self.table[idx] == 0)
            if empty.size:
                self.table[idx, empty[0]] = fp
                return True
        return False

    def contains(self, key: str) -> bool:
        fp, i = self._fp_and_index(key)
        return bool((self.table[i] == fp).any() or (self.table[self._alt(i, fp)] == fp).any())

    def delete(self, key: str) -> bool:
        fp, i = self._fp_and_index(key)
        for idx in (i, self._alt(i, fp)):
            hits = np.flatnonzero(self.table[idx] == fp)
            if hits.size:
                self.table[idx, hits[0]] = 0
                return True
        return False


# ───────────────── partitioned (sharded) Bloom — 10^10 path ─────────────────
#
# The driver-held Bloom above broadcasts the WHOLE bitset to every
# executor on each probe — right up to the point where the filter outgrows
# a broadcast (10^10 keys ≈ 12 GB at 1% fpp). The sharded layout keeps
# the north_rule's scale: keys shard by xxhash64(key) % n_shards, each
# shard is an independently-sized Bloom stored as ONE row
# (shard, m, k, bits); the membership test co-groups candidates with
# their shard row (cogrouped applyInPandas), so a task ever holds just
# its shard's bits (total_bits / n_shards), never the full filter — and
# an update rewrites only the shards its delta touches.


def shard_col(key_col: str, n_shards: int):
    return F.pmod(F.xxhash64(key_col), F.lit(n_shards)).cast("int")


def build_sharded_bloom(keys_df: DataFrame, n_items_hint: int,
                        n_shards: int = 64, fpp: float = 0.01,
                        key_col: str = "key") -> DataFrame:
    """(shard, m, k, bits) — one Bloom per shard, each sized for the
    per-shard share of the hint. Distributed grouped aggregation; no
    driver-side bitset ever materializes."""
    proto = Bloom.sized_for(max(n_items_hint // n_shards, 1), fpp)
    m, k = proto.m, proto.k

    def shard_agg(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        b = Bloom(m, k)
        b.add_many(pdf[key_col].tolist())
        return pd.DataFrame(
            {"shard": [int(key[0])], "m": [m], "k": [k], "bits": [b.to_bytes()]}
        )

    return (
        keys_df.select(key_col)
        .withColumn("shard", shard_col(key_col, n_shards))
        .groupBy("shard")
        .applyInPandas(shard_agg, schema="shard int, m long, k int, bits binary")
    )


def update_sharded_bloom(shards: DataFrame, delta_keys: DataFrame,
                         n_shards: int, key_col: str = "key") -> DataFrame:
    """OR the delta's keys into the filter — only shards the delta
    touches are rewritten (dirty-shard update); clean shards pass
    through untouched. O(delta) hashing + O(dirty_shards) bits I/O."""
    m_k = shards.select("m", "k").first()
    if m_k is None:
        raise ValueError("update_sharded_bloom on an empty shard set; "
                         "use build_sharded_bloom first")
    m, k = int(m_k["m"]), int(m_k["k"])

    def merge(key: tuple, cand: pd.DataFrame, old: pd.DataFrame) -> pd.DataFrame:
        if len(cand) == 0:
            return old[["shard", "m", "k", "bits"]]  # clean shard: unchanged
        b = Bloom(m, k)
        if len(old):
            b.words |= np.frombuffer(bytes(old["bits"].iloc[0]), dtype=np.uint64)
        b.add_many(cand[key_col].tolist())
        return pd.DataFrame(
            {"shard": [int(key[0])], "m": [m], "k": [k], "bits": [b.to_bytes()]}
        )

    delta = delta_keys.select(key_col).withColumn(
        "shard", shard_col(key_col, n_shards)
    )
    return (
        delta.groupBy("shard")
        .cogroup(shards.groupBy("shard"))
        .applyInPandas(merge, schema="shard int, m long, k int, bits binary")
    )


def sharded_maybe_tag(candidates: DataFrame, shards: DataFrame,
                      n_shards: int, key_col: str = "key") -> DataFrame:
    """candidates + ``_maybe`` boolean: Bloom verdict from the row's own
    shard only. Co-grouped by shard id — the shuffle moves candidate
    rows and ONE bits-row per shard; no broadcast of the filter at all.
    False negatives impossible; maybe-hits need the exact check.
    """
    from pyspark.sql.types import BooleanType, StructField, StructType

    cand = candidates.withColumn("_shard", shard_col(key_col, n_shards))
    out_schema = StructType(
        cand.schema.fields + [StructField("_maybe", BooleanType())]
    )
    cols = [f.name for f in out_schema.fields]

    def check(key: tuple, cdf: pd.DataFrame, sdf: pd.DataFrame) -> pd.DataFrame:
        if len(cdf) == 0:
            return pd.DataFrame(columns=cols)
        if len(sdf) == 0:  # no shard row yet: nothing seen in this shard
            cdf["_maybe"] = False
            return cdf[cols]
        b = Bloom.from_bytes(int(sdf["m"].iloc[0]), int(sdf["k"].iloc[0]),
                             bytes(sdf["bits"].iloc[0]))
        cdf["_maybe"] = b.contains_many(cdf[key_col].tolist())
        return cdf[cols]

    return (
        cand.groupBy("_shard")
        .cogroup(shards.groupBy("shard"))
        .applyInPandas(check, schema=out_schema)
        .drop("_shard")
    )
