"""URL-seen / negative-cache machinery (C1-C3 of SURVEY.md §2.3).

The reference keeps two file-backed negative sets (`missingCards.txt`,
`missingImages.txt`; CrawlerLib/MissingResourceTracker.fs:12-44) and treats
local presence as "already crawled" (FileCollector.fs:5-25).  Here:

* ``seen(url_hash)``   — positive cache: resources already fetched+stored.
* ``missing(id)``      — negative cache: resources confirmed Absent (404).

Both checks are LEFT ANTI joins — the exact-correctness backstop.  At
10^10-URL scale an anti-join of every wave against the full seen table is the
dominant shuffle, so one **partitioned Bloom prefilter** (:class:`ShardedBloom`)
can sit in front: partial bitmaps built per partition (numpy inside
mapInPandas, OR-merged on the driver), the merged filter broadcast, and the
guaranteed-unseen rows dropped cheaply before the exact anti-join runs on the
survivors.  False positives only cost a row entering the exact join; never
correctness.  Whether the filter exists at all is the crawl's decision, not
the caller's: ``CrawlJob`` builds it only once |seen| reaches its
``PREFILTER_MIN_SEEN`` gate (below it the exact anti-join is cheaper).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def filter_unseen(frontier_df: DataFrame, seen_df: DataFrame,
                  key: str = "url_hash") -> DataFrame:
    """Exact: frontier rows whose key is NOT in seen (C1 anti-join)."""
    return frontier_df.join(seen_df.select(key).distinct(), key, "left_anti")


def filter_not_missing(frontier_df: DataFrame, missing_df: DataFrame,
                       key: str = "id") -> DataFrame:
    """Exact: drop rows already in the negative cache (C1-C3,
    MissingResourceTracker.Check → skip before any fetch)."""
    return frontier_df.join(missing_df.select(key).distinct(), key, "left_anti")


class ShardedBloom:
    """The URL-seen Bloom filter: double hashing over int64 keys, numpy
    bitmap split into ``n_shards`` disjoint shards, keys routed by
    ``key mod n_shards`` (the north rule's "partitioned" seen set).

    Memory math: 10^10 keys at 1% fpp need ~9.6 bits/key ≈ **12 GB** of
    bitmap.  Because shard(key) is a pure function of the key, each shard
    can live co-partitioned with the url_hash range that probes it instead
    of every executor holding the whole bitmap; at the scales the crawl
    runs at, the merged filter ships as one broadcast.

    New filters use :attr:`N_SHARDS` shards; a persisted blob carries its
    own shard count in the header.  Serialization is a fixed int64 header +
    the raw bitmap, so the merged filter persists as a single blob.
    """

    N_SHARDS = 32
    FPP = 0.01
    _MAGIC = 0x53_42_4C_4D  # "SBLM"

    def __init__(self, n_shards: int, shard_bits: int, n_hashes: int,
                 bits: np.ndarray | None = None):
        self.n_shards = n_shards
        self.shard_bits = shard_bits
        self.n_bits = n_shards * shard_bits
        self.n_hashes = n_hashes
        self.bits = (
            bits if bits is not None
            else np.zeros(self.n_bits // 8 + 1, dtype=np.uint8)
        )
        # running count of keys folded in (upper bound on distinct keys);
        # carried through the serialized blob header
        self.n_items = 0

    @classmethod
    def sized(cls, expected_items: int, fpp: float = FPP) -> "ShardedBloom":
        n = max(expected_items, 1)
        n_bits = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
        n_hashes = max(1, int(round(n_bits / n * math.log(2))))
        shard_bits = -(-n_bits // cls.N_SHARDS)  # ceil
        shard_bits += (-shard_bits) % 8  # byte-align each shard's bitmap
        return cls(cls.N_SHARDS, shard_bits, n_hashes)

    def capacity(self) -> int:
        """Keys this bitmap holds at :attr:`FPP` — the inverse of
        :meth:`sized` for a filter sized at the default fpp."""
        return round(self.n_bits * math.log(2) ** 2 / -math.log(self.FPP))

    def empty_like(self) -> "ShardedBloom":
        return ShardedBloom(self.n_shards, self.shard_bits, self.n_hashes)

    def _positions(self, keys: np.ndarray) -> np.ndarray:
        k = keys.astype(np.uint64)
        shard_base = (k % np.uint64(self.n_shards)) * np.uint64(self.shard_bits)
        h1 = k * np.uint64(0x9E3779B97F4A7C15)
        h2 = (k >> np.uint64(17)) | np.uint64(1)
        i = np.arange(self.n_hashes, dtype=np.uint64)[:, None]
        return (shard_base + (h1 + i * h2) % np.uint64(self.shard_bits)).astype(
            np.int64
        )

    def add_many(self, keys: np.ndarray) -> None:
        pos = self._positions(keys).ravel()
        np.bitwise_or.at(self.bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
        self.n_items += len(keys)

    def might_contain(self, keys: np.ndarray) -> np.ndarray:
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(keys)
        hit = (self.bits[pos >> 3] >> (pos & 7)) & 1
        return hit.all(axis=0).astype(bool)

    def to_bytes(self) -> bytes:
        header = np.array(
            [self._MAGIC, self.n_shards, self.shard_bits, self.n_hashes,
             self.n_items],
            dtype=np.int64,
        )
        return header.tobytes() + self.bits.tobytes()

    @classmethod
    def from_bytes(cls, raw: bytes) -> "ShardedBloom":
        """Inverse of :meth:`to_bytes`; raises ValueError on any other blob."""
        header = np.frombuffer(raw[:40], dtype=np.int64)
        if len(header) < 5 or header[0] != cls._MAGIC:
            raise ValueError("not a ShardedBloom blob")
        bf = cls(int(header[1]), int(header[2]), int(header[3]))
        bits = np.frombuffer(raw[40:], dtype=np.uint8)
        if len(bits) != len(bf.bits):
            raise ValueError("ShardedBloom bitmap size mismatch")
        bf.bits = bits.copy()
        bf.n_items = int(header[4])
        return bf


def build_bloom_into(df: DataFrame, proto: ShardedBloom,
                     key: str = "url_hash") -> ShardedBloom:
    """Distributed build with FIXED filter parameters: one partial filter
    per partition via mapInPandas, OR-merged on the driver (partial bytes
    move, never rows).  Used for full builds and for folds too large to
    bring to the driver."""
    params = (proto.n_shards, proto.shard_bits, proto.n_hashes)

    def partial(batches):
        bf = ShardedBloom(*params)
        for pdf in batches:
            bf.add_many(pdf[key].to_numpy(dtype=np.int64, na_value=0))
        yield pd.DataFrame({"bits": [bf.bits.tobytes()],
                            "n_items": [bf.n_items]})

    partials = df.select(key).mapInPandas(
        partial, "bits binary, n_items long"
    ).collect()
    merged = ShardedBloom(*params)
    for row in partials:
        merged.bits |= np.frombuffer(row["bits"], dtype=np.uint8)
        merged.n_items += row["n_items"]
    return merged


def build_bloom(seen_df: DataFrame, key: str = "url_hash",
                expected_items: int | None = None,
                fpp: float = 0.01) -> ShardedBloom:
    """One-shot distributed bloom build sized from the input (counts the
    input when no expected_items given)."""
    if expected_items is None:
        expected_items = seen_df.count() or 1
    return build_bloom_into(seen_df, ShardedBloom.sized(expected_items, fpp), key)


# per-Python-worker memo of deserialized seen-filters keyed by a broadcast
# token: the serialized bitmap is MBs and a pandas UDF is invoked once per
# Arrow batch — without the memo every batch pays a full bitmap copy.
# Workers are reused across tasks (spark.python.worker.reuse), so the memo
# amortizes to one deserialization per worker per filter version.
_FILTER_MEMO: dict = {}
_FILTER_MEMO_MAX = 4


def _memoized_filter(token: str, raw: bytes) -> ShardedBloom:
    flt = _FILTER_MEMO.get(token)
    if flt is None:
        flt = ShardedBloom.from_bytes(raw)
        if len(_FILTER_MEMO) >= _FILTER_MEMO_MAX:
            _FILTER_MEMO.pop(next(iter(_FILTER_MEMO)))
        _FILTER_MEMO[token] = flt
    return flt


def bloom_prefilter_unseen(frontier_df: DataFrame, bloom: ShardedBloom,
                           key: str = "url_hash") -> DataFrame:
    """Flag each frontier row with ``maybe_seen``: ``false`` → the filter
    guarantees the key unseen (fetch directly); ``true`` → the (≤fpp)
    maybe-seen band that the exact anti-join backstop must decide.
    """
    import uuid

    spark = frontier_df.sparkSession
    bc = spark.sparkContext.broadcast(bloom.to_bytes())
    token = uuid.uuid4().hex  # one filter version per broadcast

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def might_contain_udf(keys: pd.Series) -> pd.Series:
        flt = _memoized_filter(token, bc.value)
        return pd.Series(flt.might_contain(keys.to_numpy(dtype=np.int64, na_value=0)))

    return frontier_df.withColumn("maybe_seen", might_contain_udf(F.col(key)))


def filter_unseen_with_bloom(frontier_df: DataFrame, seen_df: DataFrame,
                             bloom: ShardedBloom, key: str = "url_hash",
                             persisted_out: list | None = None) -> DataFrame:
    """Scale path: bloom prefilter + exact anti-join only on the maybe band.

    Semantically identical to :func:`filter_unseen` (verified in tests); at
    scale the anti-join input shrinks from |wave| to ~|wave ∩ seen| + fpp.

    The flagged frontier is PERSISTED before the definitely-new/maybe split:
    both branches of the union read it, and without the cache each branch
    re-evaluates the prefilter UDF and its whole upstream lineage (measured
    as the dominant per-wave cost in round 2).  The rows are slim frontier
    descriptors, so the cache is bytes/row, never payloads.  Callers that
    run waves in a loop pass ``persisted_out`` and unpersist after the
    wave's actions complete; one-shot callers may rely on LRU eviction.
    """
    flagged = bloom_prefilter_unseen(frontier_df, bloom, key).persist()
    if persisted_out is not None:
        persisted_out.append(flagged)
    definitely_new = flagged.where(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = flagged.where(F.col("maybe_seen")).drop("maybe_seen")
    confirmed_new = maybe.join(seen_df.select(key).distinct(), key, "left_anti")
    return definitely_new.unionByName(confirmed_new)


def bloom_fpr_calibration(keys: DataFrame, probes: DataFrame,
                          m_bits: int, k_hashes: int,
                          key_col: str = "key") -> DataFrame:
    """Measured-vs-theoretical Bloom false-positive calibration — the
    sizing evidence behind the 10^10-URL seen filter: the north-star
    frontier stakes its re-fetch rate on ``(1-e^{-kn/m})^k`` holding
    for the actual hash family, and this report MEASURES it instead of
    citing it (the cms_heavy_hitters / pq_recall calibration pattern).

    A relational emulation of the production filter: the bit table is
    the distinct set of ``h_j(x) mod m`` positions over the key set
    (j-salted portable h32, the DSIR salting idiom, so the DuckDB twin
    hashes identically); a probe "hits" when ALL k of its positions are
    set (left-semi join + count == k).  Probes that are genuinely in
    the key set are excluded by anti-join first, so every remaining hit
    IS a false positive.  Exact integer bit positions and counts
    end-to-end; the two formula evaluations (theory, measured rate) are
    the only doubles, rounded 6.

    Plan: one distinct (the bit table, ≤ m rows — the table IS the
    filter, so its size is the filter's memory), one semi-join keyed on
    bit position, two scalar aggregates.  Returns ONE row: (n_keys,
    n_bits_set, n_probes, false_positives, measured_fpr, theory_fpr).
    """
    from ..functions.text import h32

    def positions(df):
        pos = F.array(*[
            F.pmod(h32(F.concat(F.lit(f"{j}|"), F.col(key_col))),
                   F.lit(int(m_bits)))
            for j in range(k_hashes)
        ])
        return df.select(F.col(key_col), F.explode(pos).alias("bit"))

    # distinct both sides: duplicate probe rows would hit 2k positions
    # (failing the count == k test and hiding real false positives),
    # and duplicate keys would inflate n in the theory formula
    keys = keys.select(key_col).distinct()
    truly_new = probes.select(key_col).distinct() \
        .join(keys, key_col, "left_anti")
    bit_table = positions(keys).select("bit").distinct()
    probe_bits = positions(truly_new)
    hits = (
        probe_bits.join(bit_table, "bit", "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n_set"))
        .where(F.col("n_set") == k_hashes)
    )
    n_keys = keys.agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
    n_bits = bit_table.agg(
        F.count(F.lit(1)).cast("long").alias("n_bits_set")
    )
    n_probes = truly_new.agg(
        F.count(F.lit(1)).cast("long").alias("n_probes")
    )
    n_fp = hits.agg(
        F.count(F.lit(1)).cast("long").alias("false_positives")
    )
    out = (
        n_keys.crossJoin(F.broadcast(n_bits))
        .crossJoin(F.broadcast(n_probes))
        .crossJoin(F.broadcast(n_fp))
    )
    theory = (
        1.0
        - F.exp(-F.lit(float(k_hashes)) * F.col("n_keys")
                / F.lit(float(m_bits)))
    ) ** k_hashes
    return out.select(
        "n_keys", "n_bits_set", "n_probes", "false_positives",
        F.round(
            F.col("false_positives").cast("double")
            / F.when(F.col("n_probes") > 0, F.col("n_probes")), 6
        ).alias("measured_fpr"),
        F.round(theory, 6).alias("theory_fpr"),
    )
