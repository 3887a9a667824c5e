"""Cuckoo-filter kind of the sharded URL-seen set
(operators/sharded_state.py) — the deletable upgrade of the Bloom kind
(operators/bloom.py).

Each shard's state is a bucket table (column ``table``).  It shares the
shard layout, the cogrouped build and the cogrouped probe with Bloom and
adds the one thing Bloom cannot do: **deletion** — needed when a URL must
be re-crawled (listing refresh, retracted car, freshness-priority
re-queue).

Standard cuckoo filter (Fan et al., CoNEXT'14 public construction):
buckets of ``SLOTS``=4 16-bit fingerprints; item x lives in bucket
``i1 = h(x) % nb`` or ``i2 = i1 ^ h(fp(x)) % nb``; insert kicks a random
victim on overflow (deterministic LCG here — reproducibility), up to
``MAX_KICKS`` displacements.  Lookup / delete check both candidate
buckets.  At 10^10 URLs: 4096 shards x 2^22 buckets x 4 slots x 2 B =
32 MiB/shard, load factor <= 0.95, FPR ~ 2*4/2^16 ~ 1.2e-4.

Two correctness rules this implementation enforces:

* **n_buckets MUST be a power of two** — the partial-key alt-bucket map
  ``b2 = (b1 ^ h(fp)) % nb`` is an involution only then; any other size
  makes kicked items unfindable (false negatives).  ``_mutate`` and
  ``probe_cuckoo`` raise on violation.
* **duplicate fingerprints are STORED, never coalesced** — the standard
  deletion-safety rule: two distinct keys colliding on (fingerprint,
  bucket-pair) must hold two slots, else deleting one makes the other
  probe negative.  Callers therefore insert each key at most once (the
  engine's seen-set discipline guarantees it); ``n_items`` counts slots
  actually written / freed, i.e. true occupancy.

Fingerprints/buckets derive from the already-computed 64-bit url_hash via
the same splitmix64 finalizers as the Bloom path — no string re-hashing.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from auto_ria_spark.operators import sharded_state
from auto_ria_spark.operators.bloom import _splitmix64

CUCKOO_SCHEMA = sharded_state.STATE_SCHEMA.format("table")
SLOTS = 4
MAX_KICKS = 500


def _fp_and_buckets(hashes: np.ndarray, n_buckets: int):
    """(fingerprint uint16 nonzero, bucket1, bucket2) per hash."""
    h = hashes.astype(np.int64).view(np.uint64)
    m1 = _splitmix64(h)
    fp = (m1 & np.uint64(0xFFFF)).astype(np.uint16)
    fp = np.where(fp == 0, np.uint16(1), fp)  # 0 marks an empty slot
    b1 = (_splitmix64(m1) % np.uint64(n_buckets)).astype(np.int64)
    fph = _splitmix64(fp.astype(np.uint64))
    b2 = (b1.view(np.uint64) ^ fph) % np.uint64(n_buckets)
    return fp, b1, b2.astype(np.int64)


def _alt_bucket(fp: np.uint16, b: int, n_buckets: int) -> int:
    fph = int(_splitmix64(np.array([fp], np.uint64))[0])
    return int((b ^ fph) % n_buckets)


def _check_n_buckets(n_buckets: int) -> None:
    if n_buckets <= 0 or (n_buckets & (n_buckets - 1)) != 0:
        raise ValueError(
            f"cuckoo n_buckets must be a power of two, got {n_buckets}: "
            "the alt-bucket map b2 = (b1 ^ h(fp)) % nb is only an "
            "involution for power-of-two sizes (kicked items would be "
            "unfindable otherwise)")


def _insert_many(table: np.ndarray, hashes: np.ndarray, n_buckets: int) -> int:
    """Insert hashes into the (n_buckets, SLOTS) uint16 table; returns the
    number of slots actually written (raises on pathological overflow).

    Equal fingerprints landing in the same bucket pair are stored as
    separate copies (deletion safety — see module docstring), so every
    successful insert writes exactly one slot.
    """
    fp, b1, b2 = _fp_and_buckets(hashes, n_buckets)
    rng_state = np.uint64(0x9E3779B97F4A7C15)
    written = 0
    for i in range(len(hashes)):
        f, x1, x2 = fp[i], int(b1[i]), int(b2[i])
        placed = False
        for b in (x1, x2):
            empty = np.where(table[b] == 0)[0]
            if len(empty):
                table[b, empty[0]] = f
                placed = True
                break
        if placed:
            written += 1
            continue
        # kick loop (deterministic victim selection)
        b, cur = x1, f
        for _ in range(MAX_KICKS):
            rng_state = _splitmix64(np.array([rng_state], np.uint64))[0]
            slot = int(rng_state % np.uint64(SLOTS))
            cur, table[b, slot] = table[b, slot], cur
            b = _alt_bucket(cur, b, n_buckets)
            empty = np.where(table[b] == 0)[0]
            if len(empty):
                table[b, empty[0]] = cur
                cur = None
                break
        if cur is not None:  # pragma: no cover - sized for <=95% load
            raise RuntimeError("cuckoo shard overflow — resize the shard")
        written += 1
    return written


def _contains(table: np.ndarray, hashes: np.ndarray, n_buckets: int) -> np.ndarray:
    fp, b1, b2 = _fp_and_buckets(hashes, n_buckets)
    hit1 = (table[b1] == fp[:, None]).any(axis=1)
    hit2 = (table[b2] == fp[:, None]).any(axis=1)
    return hit1 | hit2


def _delete_many(table: np.ndarray, hashes: np.ndarray, n_buckets: int) -> int:
    fp, b1, b2 = _fp_and_buckets(hashes, n_buckets)
    removed = 0
    for i in range(len(hashes)):
        for b in (int(b1[i]), int(b2[i])):
            slots = np.where(table[b] == fp[i])[0]
            if len(slots):
                table[b, slots[0]] = 0
                removed += 1
                break
    return removed


def _mutate(step, sign: int, urls: DataFrame, prior: DataFrame | None, *,
            num_shards: int, n_buckets: int, wave: int) -> DataFrame:
    _check_n_buckets(n_buckets)

    def apply(state: bytes, hashes: np.ndarray):
        table = np.frombuffer(state, np.uint16).reshape(
            n_buckets, SLOTS).copy()
        dn = sign * step(table, hashes, n_buckets)
        return table.tobytes(), dn

    return sharded_state.mutate(
        urls, prior, apply, state_col="table",
        state_bytes=n_buckets * SLOTS * 2, num_shards=num_shards, wave=wave)


def build_cuckoo(new_urls, prior, *, num_shards, n_buckets, wave):
    return _mutate(_insert_many, 1, new_urls, prior, num_shards=num_shards,
                   n_buckets=n_buckets, wave=wave)


def delete_cuckoo(urls, prior, *, num_shards, n_buckets, wave):
    return _mutate(_delete_many, -1, urls, prior, num_shards=num_shards,
                   n_buckets=n_buckets, wave=wave)


def probe_cuckoo(candidates: DataFrame, filters: DataFrame | None, *,
                 num_shards: int, n_buckets: int,
                 cand_cols: list[str] | None = None,
                 cand_schema: str | None = None) -> DataFrame:
    """Add boolean ``maybe_seen`` (same contract as bloom.probe_filters)."""
    _check_n_buckets(n_buckets)

    def probe(state: bytes, hashes: np.ndarray) -> np.ndarray:
        table = np.frombuffer(state, np.uint16).reshape(n_buckets, SLOTS)
        return _contains(table, hashes, n_buckets)

    return sharded_state.probe(
        candidates, filters, probe, state_col="table",
        num_shards=num_shards, cand_cols=cand_cols, cand_schema=cand_schema)
