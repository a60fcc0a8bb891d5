"""Exact partition placement for DataFrame shuffles.

Spark's DataFrame API offers only two shuffle placements: murmur3 hash
(``repartition(n, col)`` — balls-in-bins skew when the number of
distinct keys is within ~10x of ``n``) and sampled range
(``repartitionByRange`` — an extra full pass over the child to sample
bounds, which for the index build means re-decoding hundreds of MB of
packed postings just to learn bounds we already know: block ids are
dense integers ``0..n_blocks-1`` by construction).

This module gets exact placement out of the plain hash exchange: for a
target of ``n`` partitions, precompute ``probe[i]`` = the smallest
non-negative int64 whose Spark murmur3 hash lands in partition ``i``,
then repartition on ``element_at(probes, fid + 1)`` where ``fid`` is
the desired partition id. Each fid maps to exactly one reducer, so

- ``fid = block_id % n``          -> exact round-robin (balanced tasks)
- ``fid = block_id * n // total`` -> exact contiguous ranges (the
  block-range postings/doclens layout), no sampling pass, no sampling
  job, and perfectly equal ranges instead of sample-approximate ones.

``_spark_hash_long`` re-implements the public semantics of
``pyspark.sql.functions.hash`` for a LongType column (Murmur3 x86 32,
seed 42, the long split into two little-endian u32 blocks) — pinned by
tests/test_partitioning.py against ``F.hash`` itself, and guarded at
build time by the existing footer block-range verification (a wrong
probe table would produce overlapping file ranges and fail the build's
alignment check, never a silently wrong index).

Probe tables are cheap: coupon-collector ~n ln n draws, so ~3 us per
partition; capped at PROBE_MAX_PARTITIONS to keep the plan literal
small (a wider build runs as more group jobs, each within the cap).
"""
from __future__ import annotations

from functools import lru_cache
from typing import List

from pyspark.sql import Column, DataFrame, functions as F

# 64Ki probes = 512 KiB plan literal — one exchange places at most this
# many partitions rather than bloat the physical plan
PROBE_MAX_PARTITIONS = 1 << 16

_MASK32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _MASK32


def _mix_k1(k1: int) -> int:
    k1 = (k1 * 0xCC9E2D51) & _MASK32
    k1 = _rotl32(k1, 15)
    return (k1 * 0x1B873593) & _MASK32


def _mix_h1(h1: int, k1: int) -> int:
    h1 ^= k1
    h1 = _rotl32(h1, 13)
    return (h1 * 5 + 0xE6546B64) & _MASK32


def _spark_hash_long(value: int, seed: int = 42) -> int:
    """``F.hash`` of one LongType value (signed i32 result)."""
    v = value & 0xFFFFFFFFFFFFFFFF
    h1 = _mix_h1(seed & _MASK32, _mix_k1(v & _MASK32))
    h1 = _mix_h1(h1, _mix_k1((v >> 32) & _MASK32))
    h1 ^= 8  # fmix with total byte length
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _MASK32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _MASK32
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


@lru_cache(maxsize=32)
def exact_probes(n_partitions: int) -> tuple:
    """probe[i] = smallest non-negative long hashing to partition i."""
    probes: List = [None] * n_partitions
    found = 0
    v = 0
    while found < n_partitions:
        p = _spark_hash_long(v) % n_partitions  # python % == Spark pmod
        if probes[p] is None:
            probes[p] = v
            found += 1
        v += 1
    return tuple(probes)


def placement_col(fid: Column, n_partitions: int) -> Column:
    """Column whose hash places each row in partition ``fid`` exactly."""
    probes = exact_probes(n_partitions)
    # cast matters: a small python int literal becomes IntegerType, and
    # Spark's murmur3 hashes a 4-byte int differently from the 8-byte
    # long the probe table was searched against
    return F.element_at(
        F.array(*[F.lit(p).cast("long") for p in probes]),
        (fid.cast("int") + F.lit(1)))


def repartition_exact(df: DataFrame, fid: Column,
                      n_partitions: int) -> DataFrame:
    """Shuffle ``df`` into ``n_partitions`` with row -> partition
    ``fid`` (values must lie in ``[0, n_partitions)``). Wider layouts
    are split by the caller (the build runs more groups)."""
    if n_partitions > PROBE_MAX_PARTITIONS:
        raise ValueError(
            f"{n_partitions} partitions exceeds PROBE_MAX_PARTITIONS")
    return df.repartition(n_partitions, placement_col(fid, n_partitions))
