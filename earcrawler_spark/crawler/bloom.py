"""Sharded Bloom filter for the URL-seen set — numpy bit arrays, built
per partition, OR-merged across checkpoints.

Role (north rule): probabilistic pre-filter in front of the exact
anti-join (reference's exact dict-membership skip,
earCrawler/core/ear_crawler.py:176-177). Candidate URLs that the bloom
reports *definitely-unseen* skip the shuffle against the (huge) seen
table entirely; only bloom-positives are verified exactly. False
positives cost one extra join row; false negatives are impossible, so
exactness is preserved.

Sharding: shard id = int(url_hash_hex[:8], 16) % n_shards — stable across
runs and partition layouts. Each shard's filter is small enough to
broadcast; at 10^10 URLs you'd size m/n≈10 bits → ~12 GB total split over
e.g. 4096 shards of ~3 MB, each probed only by its shard's rows.

Hash functions: k indexes derived from two independent 64-bit halves of
the url's sha256 (Kirsch-Mitzenmacher double hashing) — deterministic,
no extra hashing work since the sha256 hex is already the seen-set key.
"""

from __future__ import annotations

import numpy as np

HEX64 = 16  # hex chars per 64-bit half


def _h1_h2(hash_hex: "np.ndarray | list[str]") -> tuple[np.ndarray, np.ndarray]:
    h1 = np.array([int(h[:HEX64], 16) for h in hash_hex], dtype=np.uint64)
    h2 = np.array([int(h[HEX64 : 2 * HEX64], 16) for h in hash_hex], dtype=np.uint64)
    return h1, h2


class BloomShard:
    """Fixed-size bit-array bloom filter over sha256-hex keys."""

    def __init__(self, n_bits: int, n_hashes: int, bits: np.ndarray | None = None):
        assert n_bits % 8 == 0
        self.n_bits = np.uint64(n_bits)
        self.n_hashes = n_hashes
        self.bits = bits if bits is not None else np.zeros(n_bits // 8, dtype=np.uint8)

    @classmethod
    def sized_for(cls, expected_items: int, bits_per_item: int = 10) -> "BloomShard":
        n_bits = max(1024, 1 << int(np.ceil(np.log2(expected_items * bits_per_item + 1))))
        return cls(n_bits=n_bits, n_hashes=7)

    def _positions(self, hash_hex) -> np.ndarray:
        h1, h2 = _h1_h2(hash_hex)
        idx = np.empty((self.n_hashes, len(h1)), dtype=np.uint64)
        for i in range(self.n_hashes):
            idx[i] = (h1 + np.uint64(i) * h2) % self.n_bits
        return idx

    def add_many(self, hash_hex) -> None:
        if len(hash_hex) == 0:
            return
        pos = self._positions(hash_hex).ravel()
        np.bitwise_or.at(self.bits, (pos >> 3).astype(np.int64), (1 << (pos & 7)).astype(np.uint8))

    def contains_many(self, hash_hex) -> np.ndarray:
        """Vectorized membership probe → bool array (True = maybe seen)."""
        if len(hash_hex) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(hash_hex)
        byte_idx = (pos >> 3).astype(np.int64)
        bit_mask = (1 << (pos & 7)).astype(np.uint8)
        hit = (self.bits[byte_idx] & bit_mask) != 0
        return hit.all(axis=0)

    def union(self, other: "BloomShard") -> "BloomShard":
        assert self.n_bits == other.n_bits and self.n_hashes == other.n_hashes
        return BloomShard(int(self.n_bits), self.n_hashes, np.bitwise_or(self.bits, other.bits))

    def to_bytes(self) -> bytes:
        return self.bits.tobytes()

    @classmethod
    def from_bytes(cls, raw: bytes, n_hashes: int = 7) -> "BloomShard":
        bits = np.frombuffer(raw, dtype=np.uint8).copy()
        return cls(n_bits=len(bits) * 8, n_hashes=n_hashes)._with_bits(bits)

    def _with_bits(self, bits: np.ndarray) -> "BloomShard":
        self.bits = bits
        return self


def shard_of(hash_hex: str, n_shards: int) -> int:
    return int(hash_hex[:8], 16) % n_shards


def shard_of_series(hash_hex_series, n_shards: int) -> np.ndarray:
    return np.array([int(h[:8], 16) % n_shards for h in hash_hex_series], dtype=np.int32)


# --- executor-side probe path --------------------------------------------
# Re-materializing a BloomShard from broadcast bytes on every Arrow batch
# costs a full bit-array memcpy per (batch, shard) — at 32 workers that
# memory traffic dominates the probe. Shards are immutable on the probe
# path, so each Python worker caches zero-copy (read-only frombuffer)
# views keyed by (broadcast id, shard).
# id(raw) is only a safe cache key while the keyed bytes object is alive —
# CPython reuses ids after garbage collection, and a recycled id returning a
# stale filter could produce FALSE NEGATIVES. The cache therefore stores a
# strong reference to the exact bytes object alongside the parsed shard:
# while an entry exists, its key's id cannot be recycled, and an identity
# check guards the lookup.
_SHARD_CACHE: dict[int, tuple[bytes, object]] = {}


def _cached_shard(raw: bytes, kind: str = "bloom", n_hashes: int = 7):
    key = id(raw)
    hit = _SHARD_CACHE.get(key)
    if hit is not None and hit[0] is raw:
        return hit[1]
    if len(_SHARD_CACHE) > 512:
        _SHARD_CACHE.clear()
    if kind == "cuckoo":
        from earcrawler_spark.crawler.cuckoo import CuckooShard

        b = CuckooShard.from_bytes(raw)
    else:
        bits = np.frombuffer(raw, dtype=np.uint8)  # zero-copy, read-only
        b = BloomShard(len(bits) * 8, n_hashes, bits)
    _SHARD_CACHE[key] = (raw, b)
    return b


def probe_maybe_seen_join(candidates, bloom_df, n_shards: int, kind: str = "bloom"):
    """Shard-local maybe-seen probe WITHOUT a whole-filter broadcast:
    candidates shuffle to their shard, each task cogroups with exactly
    its shard's (shard, bits) row and probes locally. This is the scale
    path the module docstring's sharding design implies — at 10^10 URLs
    the filter is ~12 GB total, far past broadcast range, but any one
    shard is a few MB. Cost is one shuffle of (url_hash + carry columns)
    keyed by shard; the crawler keeps the broadcast probe (probe_hashes)
    while the filter fits under spark.sql.autoBroadcastJoinThreshold.
    → candidates + `_maybe` boolean."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cand = candidates.withColumn(
        "_shard",
        (F.conv(F.substring("url_hash", 1, 8), 16, 10).cast("long") % n_shards).cast("int"),
    )
    out_schema = T.StructType(
        list(cand.schema.fields) + [T.StructField("_maybe", T.BooleanType())]
    )

    def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0:
            return left.assign(_maybe=pd.Series([], dtype=bool))
        if len(right) == 0:
            return left.assign(_maybe=False)
        shard = _cached_shard(bytes(right["bits"].iloc[0]), kind)
        return left.assign(_maybe=shard.contains_many(left["url_hash"].tolist()))

    probed = (
        cand.groupBy("_shard")
        .cogroup(bloom_df.withColumnRenamed("shard", "_shard").groupBy("_shard"))
        .applyInPandas(probe, out_schema)
    )
    return probed.drop("_shard")


def extend_filter_join(
    hashes_df,
    bloom_df,
    n_shards: int,
    kind: str = "bloom",
    n_bits: int = 1 << 20,
    cuckoo_capacity: int = 1 << 17,
):
    """Shard-local filter extension WITHOUT broadcasting the previous
    shards: new hashes cogroup with their shard's bits; untouched shards
    (right-only groups) pass through unchanged. → new (shard, bits)."""
    import pandas as pd
    from pyspark.sql import functions as F

    hashed = hashes_df.select(
        "url_hash",
        (F.conv(F.substring("url_hash", 1, 8), 16, 10).cast("long") % n_shards)
        .cast("int")
        .alias("_shard"),
    )

    def extend(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0:
            return right.rename(columns={"_shard": "shard"})[["shard", "bits"]]
        shard_id = int(left["_shard"].iloc[0])
        raw = bytes(right["bits"].iloc[0]) if len(right) else None
        if kind == "cuckoo":
            from earcrawler_spark.crawler.cuckoo import CuckooShard

            f = (
                CuckooShard.sized_for(cuckoo_capacity)
                if raw is None
                else CuckooShard.from_bytes(raw)
            )
        else:
            f = BloomShard(n_bits, 7) if raw is None else BloomShard.from_bytes(raw)
        f.add_many(left["url_hash"].tolist())
        return pd.DataFrame({"shard": [shard_id], "bits": [f.to_bytes()]})

    return (
        hashed.groupBy("_shard")
        .cogroup(bloom_df.withColumnRenamed("shard", "_shard").groupBy("_shard"))
        .applyInPandas(extend, "shard int, bits binary")
    )


def probe_hashes(
    hashes: "list[str]", table: dict[int, bytes], n_shards: int, kind: str = "bloom"
) -> np.ndarray:
    """Vectorized maybe-seen probe for a batch of sha256-hex keys against
    bloom or cuckoo shards. → bool array; True = maybe seen (must be
    verified by the exact anti-join), False = definitely new."""
    out = np.zeros(len(hashes), dtype=bool)
    if not hashes:
        return out
    shards = shard_of_series(hashes, n_shards)
    for s in np.unique(shards):
        raw = table.get(int(s))
        if raw is None:
            continue
        idx = np.nonzero(shards == s)[0]
        b = _cached_shard(raw, kind)
        out[idx] = b.contains_many([hashes[i] for i in idx])
    return out


def delete_filter_join(expired_df, bloom_df, n_shards: int):
    """Shard-local cuckoo deletion WITHOUT broadcasting the shard map:
    expired hashes cogroup with exactly their shard's (shard, bits) row,
    the task deletes the fingerprints locally, untouched shards
    (right-only groups) pass through unchanged.  → new (shard, bits).

    This is the retention-path sibling of extend_filter_join: at the
    10^10-URL design point the shard map is the largest state object in
    the system, so it never passes through the driver."""
    import pandas as pd
    from pyspark.sql import functions as F

    hashed = expired_df.select(
        "url_hash",
        (F.conv(F.substring("url_hash", 1, 8), 16, 10).cast("long") % n_shards)
        .cast("int")
        .alias("_shard"),
    )

    def drop(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        from earcrawler_spark.crawler.cuckoo import CuckooShard

        if len(right) == 0:
            # expired hashes for a shard with no bits: nothing to delete
            return pd.DataFrame({"shard": [], "bits": []})
        shard_id = int(right["_shard"].iloc[0])
        raw = bytes(right["bits"].iloc[0])
        if len(left) == 0:
            return pd.DataFrame({"shard": [shard_id], "bits": [raw]})
        f = CuckooShard.from_bytes(raw)
        f.delete_many(left["url_hash"].tolist())
        return pd.DataFrame({"shard": [shard_id], "bits": [f.to_bytes()]})

    return (
        hashed.groupBy("_shard")
        .cogroup(bloom_df.withColumnRenamed("shard", "_shard").groupBy("_shard"))
        .applyInPandas(drop, "shard int, bits binary")
    )
