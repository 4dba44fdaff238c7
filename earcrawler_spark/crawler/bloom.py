"""Sharded seen-set filters — numpy bloom bit arrays (or cuckoo tables,
crawler/cuckoo.py), one (shard, bits) row per shard, built, extended and
deleted shard-locally by one cogroup kernel.

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

Filter family: ``shard_family`` is the one place that maps a kind
('bloom' / 'cuckoo') to its shard class and empty shard; every probe,
extend and size estimate goes through it.

Hash functions: k indexes derived from two independent 64-bit halves of
the url's sha256 (Kirsch-Mitzenmacher double hashing) — deterministic,
no extra hashing work since the sha256 hex is already the seen-set key.
"""

from __future__ import annotations

import numpy as np

from earcrawler_spark.crawler.cuckoo import CuckooShard

HEX64 = 16  # hex chars per 64-bit half
N_HASHES = 7


def _h1_h2(hash_hex: "np.ndarray | list[str]") -> tuple[np.ndarray, np.ndarray]:
    h1 = np.array([int(h[:HEX64], 16) for h in hash_hex], dtype=np.uint64)
    h2 = np.array([int(h[HEX64 : 2 * HEX64], 16) for h in hash_hex], dtype=np.uint64)
    return h1, h2


class BloomShard:
    """Fixed-size bit-array bloom filter over sha256-hex keys."""

    def __init__(self, n_bits: int, n_hashes: int = N_HASHES, bits: np.ndarray | None = None):
        assert n_bits % 8 == 0
        self.n_bits = np.uint64(n_bits)
        self.n_hashes = n_hashes
        self.bits = bits if bits is not None else np.zeros(n_bits // 8, dtype=np.uint8)

    def _positions(self, hash_hex) -> np.ndarray:
        h1, h2 = _h1_h2(hash_hex)
        idx = np.empty((self.n_hashes, len(h1)), dtype=np.uint64)
        for i in range(self.n_hashes):
            idx[i] = (h1 + np.uint64(i) * h2) % self.n_bits
        return idx

    def add_many(self, hash_hex) -> None:
        # ufunc.at ignores the read-only flag (numpy 1.x) and would write
        # into the immutable bytes behind a from_bytes(copy=False) view
        if not self.bits.flags.writeable:
            raise ValueError("read-only BloomShard view; use from_bytes(raw) to extend")
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
    def from_bytes(cls, raw: bytes, n_hashes: int = N_HASHES, copy: bool = True) -> "BloomShard":
        """copy=False → a read-only view of ``raw`` (probes only: no
        memcpy per batch, and an add_many raises instead of writing into
        broadcast bytes)."""
        bits = np.frombuffer(raw, dtype=np.uint8)
        if copy:
            bits = bits.copy()
        else:
            bits.flags.writeable = False
        return cls(len(bits) * 8, n_hashes, bits)


def shard_family(kind: str, n_bits: int = 1 << 20, cuckoo_capacity: int = 1 << 17):
    """The filter-family switch → (shard class, factory for an empty
    shard of ``n_bits`` bloom bits / ``cuckoo_capacity`` cuckoo keys)."""
    if kind == "bloom":
        return BloomShard, lambda: BloomShard(n_bits)
    if kind == "cuckoo":
        return CuckooShard, lambda: CuckooShard.sized_for(cuckoo_capacity)
    raise ValueError(f"unknown seen-filter kind {kind!r} (expected 'bloom' or 'cuckoo')")


def shard_of(hash_hex: str, n_shards: int) -> int:
    return int(hash_hex[:8], 16) % n_shards


def _per_shard(keys_df, bloom_df, n_shards: int, body, schema):
    """The one per-shard kernel: ``keys_df`` (with a url_hash column) gains
    an ``_shard`` column, each shard's rows cogroup with that shard's
    (shard, bits) row of ``bloom_df`` (renamed to ``_shard``), and
    ``body(left, right)`` runs per shard in applyInPandas. Shards present
    on one side only still reach ``body`` with the other side empty."""
    from pyspark.sql import functions as F

    keyed = keys_df.withColumn(
        "_shard",
        (F.conv(F.substring("url_hash", 1, 8), 16, 10).cast("long") % n_shards).cast("int"),
    )
    return (
        keyed.groupBy("_shard")
        .cogroup(bloom_df.withColumnRenamed("shard", "_shard").groupBy("_shard"))
        .applyInPandas(body, schema)
    )


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
    from pyspark.sql import types as T

    cls, _ = shard_family(kind)
    out_schema = T.StructType(
        list(candidates.schema.fields)
        + [T.StructField("_shard", T.IntegerType()), T.StructField("_maybe", T.BooleanType())]
    )

    def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0:
            return left.assign(_maybe=pd.Series([], dtype=bool))
        if len(right) == 0:
            return left.assign(_maybe=False)
        shard = cls.from_bytes(right["bits"].iloc[0], copy=False)
        return left.assign(_maybe=shard.contains_many(left["url_hash"].tolist()))

    return _per_shard(candidates, bloom_df, n_shards, probe, out_schema).drop("_shard")


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

    cls, empty = shard_family(kind, n_bits, cuckoo_capacity)

    def extend(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0:
            return right.rename(columns={"_shard": "shard"})[["shard", "bits"]]
        f = cls.from_bytes(right["bits"].iloc[0]) if len(right) else empty()
        f.add_many(left["url_hash"].tolist())
        return pd.DataFrame({"shard": [int(left["_shard"].iloc[0])], "bits": [f.to_bytes()]})

    return _per_shard(
        hashes_df.select("url_hash"), bloom_df, n_shards, extend, "shard int, bits binary"
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
    cls, _ = shard_family(kind)
    shards = np.array([shard_of(h, n_shards) for h in hashes])
    for s in np.unique(shards):
        raw = table.get(int(s))
        if raw is None:
            continue
        idx = np.nonzero(shards == s)[0]
        out[idx] = cls.from_bytes(raw, copy=False).contains_many([hashes[i] for i in idx])
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

    def drop(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(right) == 0:
            # expired hashes for a shard with no bits: nothing to delete
            return pd.DataFrame({"shard": [], "bits": []})
        if len(left) == 0:
            return right.rename(columns={"_shard": "shard"})[["shard", "bits"]]
        f = CuckooShard.from_bytes(right["bits"].iloc[0])
        f.delete_many(left["url_hash"].tolist())
        return pd.DataFrame({"shard": [int(right["_shard"].iloc[0])], "bits": [f.to_bytes()]})

    return _per_shard(
        expired_df.select("url_hash"), bloom_df, n_shards, drop, "shard int, bits binary"
    )
