"""Bloom-filter kind of the sharded URL-seen set (operators/sharded_state.py).

Each shard's state is an ``m_bits``-bit bitset (column ``bitset``).  Build
ORs k bit positions per new URL into its shard's bitset; probe ANDs the
same k positions.  A negative probe is definitive (Bloom has no false
negatives), so the URL is certainly new and skips the exact join.  A
positive is *maybe seen*, and only those rows proceed to the exact
``left_anti`` join against the ``seen_urls`` table.  At a ~1% FPR the
exact join probes ~1% + true-dup% of candidates instead of 100%.  Bloom
cannot delete; operators/cuckoo.py is the deletable kind.

Sizing (config.CrawlConfig): at 10^10 URLs, 4096 shards hold
n = 10^10/4096 ~ 2.44e6 URLs each.  With m = 2^30 bits (128 MiB) per
shard and k=7, m/n ~ 440 and FPR ~ (1-e^{-kn/m})^k ~ 1e-15; even 2^27
bits/shard keeps FPR < 1e-4.  Tests use tiny shards; the arithmetic is
identical.

Bit positions use double hashing h_i = h1 + i*h2 (Kirsch-Mitzenmacher)
derived from the 64-bit url_hash via splitmix64 finalizers — no string
re-hashing executor-side.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from auto_ria_spark.operators import sharded_state

FILTER_SCHEMA = sharded_state.STATE_SCHEMA.format("bitset")

_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — public-domain mixing constants."""
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & _MASK
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _MASK
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _MASK
    return x ^ (x >> np.uint64(31))


def _bit_positions(hashes: np.ndarray, k: int, m_bits: int) -> np.ndarray:
    """(n, k) bit positions via double hashing from the 64-bit url_hash."""
    h = hashes.astype(np.int64).view(np.uint64)
    h1 = _splitmix64(h)
    h2 = _splitmix64(h1) | np.uint64(1)  # odd -> full-period stride
    i = np.arange(k, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) & _MASK) % np.uint64(m_bits)


def _set_bits(bitset: np.ndarray, pos: np.ndarray) -> None:
    flat = pos.reshape(-1)
    np.bitwise_or.at(bitset, flat >> np.uint64(3),
                     np.left_shift(np.uint8(1), (flat & np.uint64(7)).astype(np.uint8)))


def _test_bits(bitset: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """row-wise AND over k probes -> boolean maybe-member per row."""
    byte = bitset[(pos >> np.uint64(3)).astype(np.int64)]
    bit = np.left_shift(np.uint8(1), (pos & np.uint64(7)).astype(np.uint8))
    return ((byte & bit) != 0).all(axis=1)


def build_filters(
    new_urls: DataFrame,
    prior_filters: DataFrame | None,
    *,
    num_shards: int,
    m_bits: int,
    k: int,
    wave: int,
) -> DataFrame:
    """Merge the ``url_hash`` values of ``new_urls`` into their shards'
    bitsets; returns the full replacement ``seen_filters`` content."""

    def merge(bitset: bytes, hashes: np.ndarray):
        bits = np.frombuffer(bitset, np.uint8).copy()
        _set_bits(bits, _bit_positions(hashes, k, m_bits))
        return bits.tobytes(), len(hashes)

    return sharded_state.mutate(
        new_urls, prior_filters, merge, state_col="bitset",
        state_bytes=m_bits // 8, num_shards=num_shards, wave=wave)


def probe_filters(
    candidates: DataFrame,
    filters: DataFrame | None,
    *,
    num_shards: int,
    m_bits: int,
    k: int,
    cand_cols: list[str] | None = None,
    cand_schema: str | None = None,
) -> DataFrame:
    """Add boolean ``maybe_seen`` to candidates (needs ``url_hash``).
    False => certainly new; True => must pass the exact anti-join."""

    def probe(bitset: bytes, hashes: np.ndarray) -> np.ndarray:
        return _test_bits(np.frombuffer(bitset, np.uint8),
                          _bit_positions(hashes, k, m_bits))

    return sharded_state.probe(
        candidates, filters, probe, state_col="bitset",
        num_shards=num_shards, cand_cols=cand_cols, cand_schema=cand_schema)
