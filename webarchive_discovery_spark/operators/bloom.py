"""Partitioned Bloom filter for URL-seen membership.

North-rule component: URL-seen via a partitioned Bloom filter (FPR ≤ 1e-6 at
the 1e10-URL design point) maintained as broadcast shards alongside an exact
seen-set table.  The Bloom is a *prefilter*: a negative answer is definitive
("definitely new"), positives are confirmed against the exact seen-set with
an anti-join — so correctness never depends on the FPR, only shuffle volume
does.  This generalizes the reference's dedup-by-digest URL-seen semantics
(``MDXReduplicatingReducer.java:72-152``, ``PersistLogMapper.java:117-143``).

Sharding: shard id = ``url_hash mod num_shards``; each shard is a numpy bit
array built per Spark partition with ``applyInPandas`` partial builds that
are OR-merged driver-side (a few KB–MB each), then broadcast.  At the 1e10
design point with FPR 1e-6 the total is m = n·ln(1e-6)/ln(2)² ≈ 28.8 bits/URL
→ ~36 GB split over ~1024 shards of ~35 MB — each executor holds only the
shards it probes, and k = 20 probes stay in one or two cache lines per URL
because we derive all k indexes from one 64-bit hash (Kirsch–Mitzenmacher
double hashing).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

__all__ = [
    "BloomParams",
    "PartitionedBloom",
    "build_bloom",
    "bloom_negative_filter",
    "build_bloom_shards",
    "bloom_negative_filter_sharded",
]


@dataclass(frozen=True)
class BloomParams:
    n_capacity: int
    fpr: float = 1e-6
    num_shards: int = 16

    def __post_init__(self):
        # power-of-two so unsigned mod (PartitionedBloom, uint64) and signed
        # pmod (the sharded DataFrame ops) pick identical shards for negative
        # 64-bit hashes: both reduce to h & (num_shards-1)
        if self.num_shards & (self.num_shards - 1):
            raise ValueError(f"num_shards must be a power of two, got {self.num_shards}")

    @property
    def m_bits_per_shard(self) -> int:
        m_total = max(64, int(-self.n_capacity * math.log(self.fpr) / (math.log(2) ** 2)))
        per = (m_total + self.num_shards - 1) // self.num_shards
        return ((per + 63) // 64) * 64  # round to whole words

    @property
    def k_hashes(self) -> int:
        return max(1, round((self.m_bits_per_shard * self.num_shards / self.n_capacity) * math.log(2)))


def _shard_probe_masks(hashes: np.ndarray, params: BloomParams):
    """(word index, bit mask) of every probe, shape (k, n), for hashes
    WITHIN one shard.  Kirsch–Mitzenmacher: bit index_i = (h1 + i*h2) mod m
    from one 64-bit hash."""
    h = hashes.astype(np.uint64)
    h1 = h & np.uint64(0xFFFFFFFF)
    h2 = (h >> np.uint64(32)) | np.uint64(1)  # odd-ish second hash
    i = np.arange(params.k_hashes, dtype=np.uint64)[:, None]
    idx = ((h1[None, :] + i * h2[None, :]) % np.uint64(params.m_bits_per_shard)).astype(np.int64)
    return idx >> 6, np.uint64(1) << (idx & 63).astype(np.uint64)


class PartitionedBloom:
    """num_shards × (m_bits/64) uint64 bit matrix with set/contains kernels."""

    def __init__(self, params: BloomParams, bits: np.ndarray | None = None):
        self.params = params
        words = params.m_bits_per_shard // 64
        self.bits = (
            bits
            if bits is not None
            else np.zeros((params.num_shards, words), dtype=np.uint64)
        )

    def _cells(self, hashes: np.ndarray):
        """Shard (n,), word index and bit mask (k, n) of every probe."""
        h = hashes.astype(np.uint64)
        shard = (h % np.uint64(self.params.num_shards)).astype(np.int64)
        return (shard, *_shard_probe_masks(h, self.params))

    def add_hashes(self, hashes: np.ndarray) -> None:
        shard, word, mask = self._cells(hashes)
        for ki in range(self.params.k_hashes):
            np.bitwise_or.at(self.bits, (shard, word[ki]), mask[ki])

    def contains_hashes(self, hashes: np.ndarray) -> np.ndarray:
        shard, word, mask = self._cells(hashes)
        out = np.ones(len(shard), dtype=bool)
        for ki in range(self.params.k_hashes):
            out &= (self.bits[shard, word[ki]] & mask[ki]) != 0
        return out

    def merge(self, other: "PartitionedBloom") -> "PartitionedBloom":
        return PartitionedBloom(self.params, self.bits | other.bits)


def _non_null_hashes(df: DataFrame, hash_col: str) -> DataFrame:
    """The hash column minus NULLs, which are never members.  The filter
    sits in the plan, ahead of the Python stage, because Arrow hands pandas
    an int64 column that holds a NULL as float64, which drops the low bits
    of every hash above 2^53."""
    return df.select(hash_col).filter(F.col(hash_col).isNotNull())


def build_bloom(df: DataFrame, hash_col: str, params: BloomParams) -> PartitionedBloom:
    """Broadcast-tier build: each partition produces a partial bit matrix
    (RDD ``mapPartitions`` — imperative per-partition state is genuinely
    needed here), OR-reduced treewise to the driver.  Right when the FULL
    matrix fits driver+executor memory (≲1e9 URLs); beyond that use
    :func:`build_bloom_shards` / :func:`bloom_negative_filter_sharded`,
    which never materialize more than one shard per task."""
    words = params.m_bits_per_shard // 64
    shards = params.num_shards

    def partial(it):
        bloom = PartitionedBloom(params)
        for pdf in it:
            bloom.add_hashes(pdf[hash_col].to_numpy(dtype=np.int64))
        yield pd.DataFrame({"bits": [bloom.bits.tobytes()]})

    partials = (
        _non_null_hashes(df, hash_col)
        .mapInPandas(partial, "bits binary")
        .rdd.map(lambda r: np.frombuffer(r["bits"], dtype=np.uint64).reshape(shards, words))
        .treeReduce(lambda a, b: a | b)
    )
    return PartitionedBloom(params, partials)


def bloom_negative_filter(
    spark_df: DataFrame, hash_col: str, bloom: PartitionedBloom
) -> DataFrame:
    """Mark rows by Bloom membership: adds ``maybe_seen`` boolean.
    ``maybe_seen = false`` ⇒ definitely unseen (skip the exact anti-join).
    NULL-hash rows are definitely unseen: the UDF sees them as 0, so Arrow
    keeps the column int64, and its answer for them is discarded."""
    sc = spark_df.sparkSession.sparkContext
    b_bits = sc.broadcast(bloom.bits)
    params = bloom.params

    @F.pandas_udf(BooleanType())
    def probe(h: pd.Series) -> pd.Series:
        local = PartitionedBloom(params, b_bits.value)
        return pd.Series(local.contains_hashes(h.to_numpy(dtype=np.int64)))

    # on a non-nullable column the optimizer folds both NULL guards away
    h = F.col(hash_col)
    return spark_df.withColumn(
        "maybe_seen",
        F.when(h.isNull(), F.lit(False)).otherwise(probe(F.coalesce(h, F.lit(0)))),
    )


# ---------------------------------------------------------------------------
# Sharded tier: the dataflow every sharded membership filter shares (the
# cuckoo tier in ``cuckoo.py`` too).  Only the numpy kernels differ.
# ---------------------------------------------------------------------------

def _shard_key(hash_col: str, num_shards: int):
    return F.pmod(F.col(hash_col), F.lit(num_shards)).cast("int")


def _shard_partitions(df: DataFrame, num_shards: int) -> int:
    return min(num_shards, df.sparkSession.sparkContext.defaultParallelism)


def _build_shards(df: DataFrame, hash_col: str, num_shards: int, build_kernel) -> DataFrame:
    """ONE shuffle on ``shard_id = hash mod num_shards``; each task runs
    ``build_kernel(shard_id, hashes int64 ndarray) -> bytes`` over its
    whole shard in isolation.  Returns ``(shard_id int, blob binary)``, with no row for a
    shard that holds no key."""

    def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        shard_id = int(key[0])
        blob = build_kernel(shard_id, pdf[hash_col].to_numpy(dtype=np.int64))
        return pd.DataFrame({"shard_id": [shard_id], "blob": [blob]})

    # explicit shard-keyed repartition: the shuffled bytes are tiny (8 B/key)
    # but each group runs a REAL per-shard build kernel — AQE would coalesce
    # the exchange by byte size and serialize every shard onto one task
    # (guide §2.5: exploding/compute-heavy groups; user repartitions are
    # never coalesced, and the groupBy reuses this exchange)
    return (
        _non_null_hashes(df, hash_col)
        .withColumn("_shard", _shard_key(hash_col, num_shards))
        .repartition(_shard_partitions(df, num_shards), "_shard")
        .groupBy("_shard")
        .applyInPandas(build, "shard_id int, blob binary")
    )


def _probe_shards(
    df: DataFrame, hash_col: str, shards: DataFrame, num_shards: int, probe_kernel
) -> DataFrame:
    """Cogroup rows with their shard's blob on ``shard_id`` — each task
    holds exactly ONE shard plus its rows (never a blob-per-row join, never
    the full filter).  Adds ``maybe_seen = probe_kernel(blob, hashes int64
    ndarray)``; ``false`` ⇒ definitely unseen.  Rows whose shard has no
    entry are definitely unseen without a kernel call.  That covers
    NULL-hash rows too: their shard key is NULL, which no shard carries."""
    out_schema = StructType(df.schema.fields + [StructField("maybe_seen", BooleanType())])
    cols = list(df.columns)

    def probe(key, rows: pd.DataFrame, shard: pd.DataFrame) -> pd.DataFrame:
        if rows.empty:
            return pd.DataFrame(columns=cols + ["maybe_seen"])
        rows = rows[cols].copy()
        rows["maybe_seen"] = False if shard.empty else probe_kernel(
            bytes(shard["blob"].iloc[0]), rows[hash_col].to_numpy(dtype=np.int64)
        )
        return rows

    # shard-keyed repartition ahead of the cogroup — same AQE-coalescing
    # guard as the build (the probe kernel is the compute, not the shuffled
    # bytes)
    n_parts = _shard_partitions(df, num_shards)
    left = (
        df.withColumn("_shard", _shard_key(hash_col, num_shards))
        .repartition(n_parts, "_shard")
        .groupBy("_shard")
    )
    right = shards.repartition(n_parts, "shard_id").groupBy("shard_id")
    return left.cogroup(right).applyInPandas(probe, out_schema)


def build_bloom_shards(df: DataFrame, hash_col: str, params: BloomParams) -> DataFrame:
    """Fully-distributed build at the 1e10 design point: each task builds
    its whole shard's bit array in isolation (no partial-merge, no driver
    materialization).  Returns a DataFrame ``(shard_id int, blob binary)``
    — the durable form (write it to parquet next to the seen-set snapshot
    for resume).  Peak per-task memory = one shard = ``m_bits_per_shard/8``
    bytes (~35 MB at the design point with 1024 shards)."""
    words = params.m_bits_per_shard // 64

    def build(_shard_id: int, h: np.ndarray) -> bytes:
        bits = np.zeros(words, dtype=np.uint64)
        word, mask = _shard_probe_masks(h, params)
        for ki in range(params.k_hashes):
            np.bitwise_or.at(bits, word[ki], mask[ki])
        return bits.tobytes()

    return _build_shards(df, hash_col, params.num_shards, build)


def bloom_negative_filter_sharded(
    spark_df: DataFrame, hash_col: str, shards: DataFrame, params: BloomParams
) -> DataFrame:
    """Sharded probe against :func:`build_bloom_shards` output.  Adds
    ``maybe_seen``; ``false`` ⇒ definitely unseen."""

    def probe(blob: bytes, h: np.ndarray) -> np.ndarray:
        bits = np.frombuffer(blob, dtype=np.uint64)
        word, mask = _shard_probe_masks(h, params)
        seen = np.ones(len(h), dtype=bool)
        for ki in range(params.k_hashes):
            seen &= (bits[word[ki]] & mask[ki]) != 0
        return seen

    return _probe_shards(spark_df, hash_col, shards, params.num_shards, probe)
