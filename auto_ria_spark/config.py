"""Crawl configuration.

Mirrors the reference's env-driven settings (reference:
app/config/settings.py:76-84) plus the engine-side knobs the north rule
requires (politeness budgets, Bloom sizing, skew salting, retry policy).
All time arithmetic is driven by a fixed ``wave_ts_base`` so test runs are
bit-for-bit deterministic (the reference uses wall-clock ``datetime.now()``
at app/scraper/autoria.py:139; we pass the timestamp in).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class CrawlConfig:
    # --- semantics mirrored from the reference ---------------------------
    # F7: stop after this many listing pages (0 = unlimited).
    #     reference: app/scraper/autoria.py:249-253, settings.py:83
    max_pages: int = 0
    # F8: stop once this many car URLs have been *discovered* (counts
    #     already-seen/skipped URLs too, in discovery order; the URL that
    #     pushes the counter past the limit is NOT processed).
    #     reference: app/scraper/autoria.py:298-335
    max_cars: int = 0
    # C1: per-host simultaneous car-fetch budget (SCRAPER_CONCURRENCY).
    #     reference: app/scraper/autoria.py:216,221; settings.py:82
    host_budget: int = 5
    # C2: listing pages are strictly sequential per host (1 s pause in the
    #     reference, autoria.py:341) -> budget 1 listing fetch per host per
    #     wave preserves page order without wall-clock sleeps.
    listing_budget: int = 1
    # C3: phone XHR budget per host per wave (reference jitters 2-3 s,
    #     car_page.py:272,295,298 -- rate-limit analogue).
    phone_budget: int = 5
    # retry policy: car 3x (autoria.py:72-73), phone <=5 (car_page.py:228).
    max_attempts: int = 3
    # deterministic backoff (seconds) added to not_before on a retryable
    # failure; structure mirrors the reference's linear/backoff delays
    # (search_page.py:159-168) minus the randomness, for stable goldens.
    backoff_base_s: int = 5

    # --- engine-side scale knobs -----------------------------------------
    # seconds of simulated time per wave (drives not_before eligibility)
    wave_ts_base: int = 1_700_000_000
    wave_seconds: int = 1
    # URL-seen filter sharding: shard = pmod(url_hash, num_shards).
    # At 10^10 URLs: 4096 shards x 2^30 bits ~ 0.5 GiB/shard bitset, k=7
    # => <1% FPR. Tests use tiny shards; the math is identical.
    num_shards: int = 8
    bloom_bits_per_shard: int = 1 << 16
    bloom_k: int = 7
    # seen-filter implementation: "bloom" (append-only bitsets) or
    # "cuckoo" (operators/cuckoo.py — deletable fingerprints, enabling the
    # recrawl() freshness re-queue without a full filter rebuild).
    seen_filter: str = "bloom"
    # cuckoo shard sizing: MUST be a power of two (alt-bucket involution);
    # buckets x 4 slots x 2 B.  At 10^10 URLs: 4096 shards x 2^22 buckets
    # = 32 MiB/shard at load <= 0.95.
    cuckoo_buckets_per_shard: int = 1 << 12
    # hot-host skew: a host whose pending-fetch count exceeds this gets its
    # rows salted across `ceil(count / salt_target)` sub-partitions before
    # the fetch stage (C6).
    salt_target: int = 1024
    # shuffle partitioning for crawl-state joins (bucket-by url_hash).
    shuffle_partitions: int = 32

    # wave pipelining (run() only): pass state between waves as in-memory
    # checkpoint stubs and commit tables asynchronously.  Wins when waves
    # are small/driver-planning-bound (many-wave crawls); for mega-wave
    # saturated regimes the table-read path can be preferable.
    pipeline_waves: bool = True

    # frontier/pending delta-log compaction: when the persisted log
    # (additions + tombstones since the last full write) exceeds this
    # multiple of the live row count, the wave commits a compacted full
    # rewrite instead of a delta append (Iceberg rewrite_data_files
    # analogue).  Keeps read-side resolution cost bounded while per-wave
    # write volume stays O(delta).
    compact_factor: float = 4.0

    # fetch transport: "pagestore" joins the synthetic page-store world
    # (deterministic tests/bench), "http" issues real GETs from a reused
    # per-partition client (sources/fetch.http_fetched_frontier).  With
    # http_endpoint set, requests go to {endpoint}/{quote(url)} — the
    # gateway mapping the localhost test server uses; empty = GET the URL
    # directly (production).
    fetch_mode: str = "pagestore"
    http_endpoint: str = ""
    http_timeout_s: float = 10.0
    http_workers: int = 8

    # page body format: "json" (structured payloads, the fast path) or
    # "html" (real pages -> P1 extraction stage: an Arrow-batched
    # mapInPandas running the reference's selector cascades,
    # functions/html_extract.py).  Downstream plans are identical.
    payload_format: str = "json"

    # car-fetch scheduling policy (north-star "price/freshness priority"
    # generalization).  "crawl" reproduces the reference's strict
    # discovery order (the default — golden oracle equivalence);
    # "price" fetches cheapest-first, "freshness" newest-first, both
    # falling back to discovery order for ties/null priorities.  Priority
    # values ride the frontier (priority_price / priority_freshness,
    # populated from listing link metadata when present).  Scheduling
    # policy only DELAYS rows — the discovered set, discovery ranks and
    # final saved rows are identical in every mode.
    order_mode: str = "crawl"

    def wave_ts(self, wave: int) -> int:
        """Deterministic epoch-seconds timestamp for wave *w*."""
        return self.wave_ts_base + wave * self.wave_seconds
