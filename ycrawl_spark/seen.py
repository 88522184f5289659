"""URL-seen membership: partitioned Bloom filter + exact anti-join.

Reference analog: the coordinator lists today's GCS blobs and splits
them into completed / error / forfeit name lists, then does O(n·m)
python list membership (`/root/reference/Coordinator/main.py:8-25,68`).

Engine design (north_rule): the seen set is a DataFrame; membership is
  1. a Bloom pre-filter — per-bucket shards built by a grouped
     applyInPandas aggregation, OR-merged and broadcast per epoch —
     which passes *definitely-unseen* rows through with zero join, and
  2. an exact ``left_anti`` join only for the maybe-hits (Bloom false
     positives are re-checked; false negatives are impossible).

A cuckoo filter (deletable fingerprints) is provided for the retry
re-arm path where keys must leave the filter; at engine level we avoid
deletions entirely by deriving the seen set from the append-only
fetch_log, so the cuckoo variant is a tested fallback, not the hot path.
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
    per epoch only the delta's keys are hashed (O(delta)), instead of
    rebuilding the filter over the whole seen set (O(seen) per epoch →
    quadratic over a crawl)."""
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
    existing key set; the regenerate-mode epoch loop feeds its filter
    with ``add_keys_to_bloom`` instead."""
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
                    key_col: str = "key", bloom: Bloom | None = None,
                    broadcast_state: bool = False) -> DataFrame:
    """Attach crawl state (done, err_count) from the compacted seen_agg
    to every candidate in ONE equi-join, bloom-gated when a ``bloom``
    is given (exact left join otherwise).

    The Bloom filter is built over *attempted* keys (any fetch_log row).
    Definite-new candidates bypass the join entirely and get
    (done=0, err_count=0); only maybe-hits shuffle into the join.
    False positives resolve naturally: the left join finds no state row
    and the fill gives (0, 0). Replaces the anti-join + attempts-join
    pair with a single shuffle of the (small) maybe subset.
    """
    state = seen_agg.select(
        key_col,
        F.col("done").cast("int").alias("done"),
        F.col("err_count").cast("long").alias("err_count"),
    )
    if broadcast_state:
        # Caller knows the state is small (below the Bloom threshold):
        # hint it explicitly so the left join never falls back to a
        # sort-merge that shuffles the frontier side every epoch.
        state = F.broadcast(state)

    def _fill(df: DataFrame) -> DataFrame:
        return df.withColumn("done", F.coalesce(F.col("done"), F.lit(0))).withColumn(
            "err_count", F.coalesce(F.col("err_count"), F.lit(0).cast("long"))
        )

    if bloom is None:
        return _fill(candidates.join(state, key_col, "left"))

    bc = candidates.sparkSession.sparkContext.broadcast(
        (bloom.m, bloom.k, bloom.to_bytes())
    )

    @F.pandas_udf("boolean")
    def maybe_seen(s: pd.Series) -> pd.Series:
        m, k, raw = bc.value
        b = Bloom.from_bytes(m, k, raw)
        return pd.Series(b.contains_many(s.tolist()))

    tagged = candidates.withColumn("_maybe", maybe_seen(F.col(key_col)))
    definite_new = (
        tagged.filter(~F.col("_maybe"))
        .drop("_maybe")
        .withColumn("done", F.lit(0))
        .withColumn("err_count", F.lit(0).cast("long"))
    )
    maybe = _fill(tagged.filter(F.col("_maybe")).drop("_maybe").join(state, key_col, "left"))
    return definite_new.unionByName(maybe)


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
# executor each epoch — right up to the point where the filter outgrows
# a broadcast (10^10 keys ≈ 12 GB at 1% fpp). The sharded layout keeps
# the north_rule's scale: keys shard by xxhash64(key) % n_shards, each
# shard is an independently-sized Bloom stored as ONE row
# (shard, m, k, bits); the membership test co-groups candidates with
# their shard row (cogrouped applyInPandas), so a task ever holds just
# its shard's bits (total_bits / n_shards), never the full filter — and
# an epoch update rewrites only the shards its delta touches.


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

    def shard_agg(key, pdf: pd.DataFrame) -> pd.DataFrame:
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

    def merge(key, cand: pd.DataFrame, old: pd.DataFrame) -> pd.DataFrame:
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
    False negatives impossible; maybe-hits take the exact join upstream.
    """
    from pyspark.sql.types import BooleanType, StructField, StructType

    cand = candidates.withColumn("_shard", shard_col(key_col, n_shards))
    out_schema = StructType(
        cand.schema.fields + [StructField("_maybe", BooleanType())]
    )
    cols = [f.name for f in out_schema.fields]

    def check(key, cdf: pd.DataFrame, sdf: pd.DataFrame) -> pd.DataFrame:
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


def join_seen_state_sharded(candidates: DataFrame, seen_agg: DataFrame,
                            shards: DataFrame, n_shards: int,
                            key_col: str = "key",
                            broadcast_state: bool = False) -> DataFrame:
    """``join_seen_state`` with the partitioned-Bloom gate: the maybe
    verdict comes from the row's own shard (no filter broadcast), then
    only maybe-hits join the compacted state. Same results as the
    driver-Bloom and exact paths (tests assert)."""
    state = seen_agg.select(
        key_col,
        F.col("done").cast("int").alias("done"),
        F.col("err_count").cast("long").alias("err_count"),
    )
    if broadcast_state:
        state = F.broadcast(state)
    tagged = sharded_maybe_tag(candidates, shards, n_shards, key_col)
    definite_new = (
        tagged.filter(~F.col("_maybe"))
        .drop("_maybe")
        .withColumn("done", F.lit(0))
        .withColumn("err_count", F.lit(0).cast("long"))
    )
    maybe = (
        tagged.filter(F.col("_maybe")).drop("_maybe")
        .join(state, key_col, "left")
        .withColumn("done", F.coalesce(F.col("done"), F.lit(0)))
        .withColumn("err_count",
                    F.coalesce(F.col("err_count"), F.lit(0).cast("long")))
    )
    return definite_new.unionByName(maybe)
