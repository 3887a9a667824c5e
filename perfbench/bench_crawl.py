"""The crawl workload: a listing crawl that is interrupted, re-crawled and
resumed, then a bulk-seeded HTML crawl with one hot host.

Deep phase — JSON pages over two paginated hosts, the cuckoo seen-filter,
pipelined waves and small per-host budgets.  A fresh ``CrawlEngine``
crawls from the listing seeds and stops after wave ``INTERRUPT_WAVE``.  A
second fresh engine on the same tables marks saved cars stale with
``recrawl()`` (cuckoo delete) and runs to drain, which resumes the
interrupted crawl from the tables and re-fetches the stale set.  Small
waves, so driver-side planning and per-wave fixed cost dominate.

Bulk phase — a standing frontier seeded by ``start_from_df`` over HTML
pages, the Bloom seen-filter and budgets that take a host's whole share in
one wave.  One hot host holds the most URLs, so the politeness top-B runs
salted (``salt_n > 1``).  Per-row Python (HTML extraction, fetch, image
verify, Bloom merge/probe) carries a larger share here.

The seed picks the hosts of both phases, the stale set, and the bulk
phase's hot host and its share.  The engine receives only the generated
page store, image corpus and seed rows.

Correctness: after the drain, the deep phase's URL-seen set, discovery
order and saved cars must equal the pure-Python oracle
(``auto_ria_spark.oracle.crawl_oracle``) on the same world, which is what
an uninterrupted crawl saves; the drain must save exactly the cars not yet
saved plus the stale ones.  The bulk phase's saved URLs must equal the set
that the oracle's per-car rules accept.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from auto_ria_spark.config import CrawlConfig
from auto_ria_spark.oracle import crawl_oracle, extract_car
from auto_ria_spark.plans.crawl import CrawlEngine
from auto_ria_spark.sources import worldgen

CAR_FIELDS = ["url", "title", "price_usd", "odometer", "username",
              "phone_number", "image_url", "images_count", "car_number",
              "car_vin", "discovery_rank"]

DEEP_HOSTS, DEEP_CARS, DEEP_PAGE = 2, 8, 4   # listing pages 0, 1 and empty 2
INTERRUPT_WAVE = 1          # page 0's cars are saved by then
BULK_HOSTS, BULK_CARS = 4, 20
HOST_POOL = 40              # hosts are drawn from indices 0..HOST_POOL-1
STALE_K = 2


@dataclass(frozen=True)
class Plan:
    deep_hosts: tuple
    stale_seed: int         # picks the stale set among the saved cars
    bulk_hosts: tuple       # the first one is the hot host
    bulk_counts: tuple      # cars per bulk host


def _throttled(hx: int, cars: int, first: int = 0) -> int:
    """Cars ``first..cars-1`` of a host whose phone XHR answers 429 once
    (worldgen keys the case on the global car index)."""
    return sum(1 for i in range(first, cars)
               if worldgen.car_fields(hx, cars, i)["phone_429"])


def make_plan(seed: int) -> Plan:
    """Hosts are drawn so that exactly one phone answers 429, on a car of
    a deep host's first listing page: it is retried by the resumed engine
    in the wave that fetches page 1, so every seed runs the same retry and
    the same 3 deep and 1 bulk waves (the stale set never holds that car,
    whose re-fetched phone would answer 429 again and add a wave)."""
    rng = np.random.default_rng(seed)
    hot = int(rng.integers(6, 9))                 # 30-40% of the URLs
    rest = BULK_CARS - hot
    per = [rest // (BULK_HOSTS - 1)] * (BULK_HOSTS - 1)
    for i in range(rest - sum(per)):
        per[i] += 1
    counts = (hot, *per)
    while True:
        hosts = [int(h) for h in rng.permutation(HOST_POOL)]
        deep = hosts[:DEEP_HOSTS]
        bulk = hosts[DEEP_HOSTS:DEEP_HOSTS + BULK_HOSTS]
        if (sum(_throttled(h, DEEP_CARS) for h in deep) == 1
                and sum(_throttled(h, DEEP_CARS, DEEP_PAGE)
                        for h in deep) == 0
                and sum(_throttled(h, n) for h, n in zip(bulk, counts)) == 0):
            break
    return Plan(deep_hosts=tuple(deep),
                stale_seed=int(rng.integers(0, 1 << 30)),
                bulk_hosts=tuple(bulk), bulk_counts=counts)


def deep_cfg(shuffle_partitions: int) -> CrawlConfig:
    return CrawlConfig(host_budget=DEEP_PAGE, phone_budget=DEEP_PAGE,
                       backoff_base_s=1, wave_seconds=5, num_shards=4,
                       seen_filter="cuckoo", cuckoo_buckets_per_shard=1 << 10,
                       shuffle_partitions=shuffle_partitions)


def bulk_cfg(shuffle_partitions: int) -> CrawlConfig:
    # salt_target under the hot host's pending count, so salt_n > 1
    return CrawlConfig(payload_format="html", host_budget=BULK_CARS,
                       phone_budget=BULK_CARS, backoff_base_s=1,
                       wave_seconds=5, num_shards=8, salt_target=2,
                       shuffle_partitions=shuffle_partitions)


def _host_rows(hx: int, cars: int, fmt: str, listings: bool) -> list[dict]:
    rows = []
    if listings:
        n_pages = (cars + DEEP_PAGE - 1) // DEEP_PAGE
        for p in range(n_pages + 1):   # +1: the empty page ends pagination
            rows.append(worldgen.listing_page_row(hx, cars, p, DEEP_PAGE,
                                                  fmt))
    for i in range(cars):
        rows.append(worldgen.car_page_row(hx, cars, i, fmt))
        pr = worldgen.phone_page_row(hx, cars, i)
        if pr:
            rows.append(pr)
    return rows


@dataclass
class Inputs:
    deep_world: list          # JSON page rows (the oracle's input too)
    deep_seeds: list
    bulk_json: list           # the bulk facts as JSON (oracle input)
    bulk_urls: list           # (host, url) seeded by start_from_df
    throttled: set            # deep cars whose phone answers 429 once
    frames: dict = field(default_factory=dict)   # cached Spark inputs


def build_inputs(spark, plan: Plan) -> Inputs:
    """Generate the worlds and materialise them as cached DataFrames."""
    deep_world, gs = [], []
    for hx in plan.deep_hosts:
        deep_world += _host_rows(hx, DEEP_CARS, "json", True)
        gs += [worldgen.global_car_index(hx, DEEP_CARS, i)
               for i in range(DEEP_CARS)]
    bulk_html, bulk_json, urls = [], [], []
    for hx, n in zip(plan.bulk_hosts, plan.bulk_counts):
        bulk_html += _host_rows(hx, n, "html", False)
        bulk_json += _host_rows(hx, n, "json", False)
        urls += [(worldgen.host_name(hx), worldgen.car_fields(hx, n, i)["url"])
                 for i in range(n)]
        gs += [worldgen.global_car_index(hx, n, i) for i in range(n)]
    throttled = {cf["url"] for hx in plan.deep_hosts
                 for cf in (worldgen.car_fields(hx, DEEP_CARS, i)
                            for i in range(DEEP_CARS)) if cf["phone_429"]}
    inp = Inputs(deep_world=deep_world,
                 deep_seeds=[{"url": worldgen.listing_url(hx, 0),
                              "kind": "listing"} for hx in plan.deep_hosts],
                 bulk_json=bulk_json, bulk_urls=urls, throttled=throttled)
    corpus = pd.DataFrame([worldgen.corpus_row(g) for g in sorted(set(gs))])
    frames = {
        "deep_pages": worldgen.pages_local_df(spark, deep_world),
        "bulk_pages": worldgen.pages_local_df(spark, bulk_html),
        "corpus": spark.createDataFrame(corpus,
                                        schema=worldgen.CORPUS_SCHEMA),
        "bulk_seeds": spark.createDataFrame(
            pd.DataFrame({"url": [u for _, u in urls]}), "url string"),
    }
    for name, df in frames.items():
        inp.frames[name] = df.cache()
        inp.frames[name].count()
    return inp


def release_inputs(inp: Inputs) -> None:
    for df in inp.frames.values():
        df.unpersist()


# --------------------------------------------------------------- oracles
def _phone_numbers(body: dict) -> list:
    """The oracle's phone rule: every phones[].phoneFormatted, none when
    the first is null, formattedPhoneNumber when the list is empty."""
    phones = body.get("phones")
    if phones:
        if not phones[0].get("phoneFormatted"):
            return []
        return [p["phoneFormatted"] for p in phones if p.get("phoneFormatted")]
    return [body["formattedPhoneNumber"]] if body.get(
        "formattedPhoneNumber") else []


def bulk_expected(inp: Inputs) -> set:
    """Saved URLs under the oracle's per-car rules: not deleted, a phone
    handle whose XHR returns at least one number, and per VIN the lowest
    (discovery rank, url) wins.  Ranks follow ``start_from_df``: per host
    in URL order."""
    pages = {r["url_norm"]: r for r in inp.bulk_json}
    by_host: dict[str, list] = {}
    for host, url in inp.bulk_urls:
        by_host.setdefault(host, []).append(url)
    out, best = set(), {}
    for urls in by_host.values():
        for rank, url in enumerate(sorted(urls), start=1):
            car = extract_car(json.loads(pages[url]["payload"]), url)
            if car is None or not car["phone_url"]:
                continue
            phone = pages.get(car["phone_url"])
            if phone is None or not _phone_numbers(
                    json.loads(phone["payload"])):
                continue
            vin = car["car_vin"]
            if vin is None:
                out.add(url)
            elif vin not in best or (rank, url) < best[vin]:
                best[vin] = (rank, url)
    return out | {url for _, url in best.values()}


def _by_host(urls: list) -> dict:
    out: dict[str, list] = {}
    for u in urls:
        out.setdefault(u.split("/")[2], []).append(u)
    return out


def check_deep(eng, oracle) -> list[str]:
    """The engine's seen set, discovery order and saved cars vs the
    oracle's uninterrupted crawl."""
    errs = []
    seen = eng.seen()
    if {r.url_norm for r in seen.select("url_norm").collect()} != oracle.seen:
        errs.append("seen set differs from the oracle")
    order = [r.url_norm for r in seen
             .filter((F.col("kind") == "car")
                     & F.col("discovery_rank").isNotNull())
             .orderBy("host", "discovery_rank").collect()]
    # the oracle lists cars host by host in seed order: compare per host
    if _by_host(order) != _by_host(oracle.order):
        errs.append("discovery order differs from the oracle")
    got = {r["url"]: {f: r[f] for f in CAR_FIELDS}
           for r in eng.cars_final().collect()}
    exp = {c["url"]: {f: c[f] for f in CAR_FIELDS} for c in oracle.cars}
    if got != exp:
        errs.append(f"saved cars differ from the oracle "
                    f"({len(got)} vs {len(exp)})")
    return errs


# ------------------------------------------------------------------- ops
class WaveClock:
    """Records every ``CrawlEngine.run_wave`` call (start, end, stats).
    Installed in every run; it is the only wrapper of an untraced run."""

    def __init__(self):
        self.waves: list[tuple] = []
        self._orig = CrawlEngine.run_wave
        clock = self

        def run_wave(eng, *args, **kwargs):
            t0 = time.perf_counter()
            st = clock._orig(eng, *args, **kwargs)
            clock.waves.append((t0, time.perf_counter(), st))
            return st

        CrawlEngine.run_wave = run_wave

    def between(self, t0: float, t1: float) -> list[tuple]:
        return [w for w in self.waves if t0 <= w[0] < t1]

    def restore(self) -> None:
        CrawlEngine.run_wave = self._orig


@dataclass
class PassResult:
    pass_s: float = 0.0           # the timed segments
    deep_crawl_s: float = 0.0     # deep start to drain, re-crawl included
    bulk_crawl_s: float = 0.0
    resume_s: float = 0.0         # fresh engine to the end of its 1st wave,
                                  # the recrawl() call included
    recrawl_s: float = 0.0        # the recrawl() call
    deep_waves: list = field(default_factory=list)    # WaveStats
    bulk_waves: list = field(default_factory=list)
    deep_wave_s: list = field(default_factory=list)   # run_wave durations
    bulk_wave_s: list = field(default_factory=list)
    engines: dict = field(default_factory=dict)
    warehouses: tuple = ()
    windows: list = field(default_factory=list)   # (start, end, phase)
    counters: dict = field(default_factory=dict)
    errors: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0

    def op(self, name: str, fn, tracer=None, tag: str = ""):
        """Run one operation; an exception counts as a failed op."""
        self.attempted += 1
        if tracer is not None:
            tracer.run_id = f"{tag}/{name}"
        try:
            return fn()
        except Exception as e:  # a failed operation is reported, not fatal
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {e}"[:400])
            return None

    def check(self, name: str, errs: list) -> None:
        self.attempted += 1
        if errs:
            self.failed += 1
            self.errors += [f"{name}: {e}" for e in errs]


def run_pass(spark, inp: Inputs, plan: Plan, work: str, sp: int,
             clock: WaveClock, tracer=None, tag: str = "") -> PassResult:
    """One pass of the workload; checks run between the timed segments."""
    res = PassResult()
    off = time.time() - time.perf_counter()
    f = inp.frames
    dcfg, bcfg = deep_cfg(sp), bulk_cfg(sp)
    oracle = crawl_oracle(inp.deep_world, inp.deep_seeds, dcfg)
    wh = os.path.join(work, f"wh-{tag}-deep")
    whb = os.path.join(work, f"wh-{tag}-bulk")
    res.warehouses = (wh, whb)

    # -- deep: crawl from the seeds, interrupted after a mid wave ---------
    t0 = time.perf_counter()
    e1 = CrawlEngine(spark, wh, dcfg, pages=f["deep_pages"],
                     corpus=f["corpus"])
    s1 = res.op("crawl", lambda: e1.run(seeds=inp.deep_seeds,
                                        stop_after_wave=INTERRUPT_WAVE),
                tracer, tag)
    t1 = time.perf_counter()
    saved = sorted(r.url for r in e1.cars_final().select("url").collect())
    cands = [u for u in saved if u not in inp.throttled]
    pick = np.random.default_rng(plan.stale_seed).choice(
        len(cands), min(STALE_K, len(cands)), replace=False)
    stale = sorted(cands[int(i)] for i in pick)

    # -- deep: a fresh engine re-crawls the stale set and drains ----------
    t2 = time.perf_counter()
    e2 = CrawlEngine(spark, wh, dcfg, pages=f["deep_pages"],
                     corpus=f["corpus"])
    res.op("recrawl", lambda: e2.recrawl(stale), tracer, tag)
    t3 = time.perf_counter()
    s3 = res.op("resume", lambda: e2.run(seeds=None), tracer, tag)
    t4 = time.perf_counter()
    res.recrawl_s = t3 - t2
    first = clock.between(t3, t4)
    res.resume_s = (first[0][1] - t2) if first else t4 - t2
    res.deep_crawl_s = (t1 - t0) + (t4 - t2)
    deep = clock.between(t0, t4)
    res.deep_waves = [w[2] for w in deep]
    res.deep_wave_s = [w[1] - w[0] for w in deep]
    if s1 is not None and s3 is not None:
        errs = check_deep(e2, oracle)
        resaved = sum(s.saved for s in s3)
        if resaved != len(oracle.cars) - len(saved) + len(stale):
            errs.append(f"the drain saved {resaved} cars, not the "
                        f"{len(oracle.cars) - len(saved)} unsaved plus "
                        f"{len(stale)} stale")
        res.check("deep_check", errs)

    # -- bulk: start_from_df over HTML pages, hot host, Bloom -------------
    t5 = time.perf_counter()
    eb = CrawlEngine(spark, whb, bcfg, pages=f["bulk_pages"],
                     corpus=f["corpus"])

    def bulk():
        eb.start_from_df(f["bulk_seeds"], kind="car")
        return eb.run(seeds=None)

    s4 = res.op("bulk_crawl", bulk, tracer, tag)
    t6 = time.perf_counter()
    res.bulk_crawl_s = t6 - t5
    bulk_w = clock.between(t5, t6)
    res.bulk_waves = [w[2] for w in bulk_w]
    res.bulk_wave_s = [w[1] - w[0] for w in bulk_w]
    if s4 is not None:
        got = {r.url for r in eb.cars_final().select("url").collect()}
        exp = bulk_expected(inp)
        res.check("bulk_check", [] if got == exp else [
            f"bulk saved urls differ ({len(got)} vs {len(exp)})"])

    res.pass_s = res.deep_crawl_s + res.bulk_crawl_s
    res.engines = {"interrupted": e1, "deep": e2, "bulk": eb}
    res.windows = [(t0 + off, t1 + off, "deep"), (t2 + off, t4 + off, "deep"),
                   (t5 + off, t6 + off, "bulk")]
    waves = res.deep_waves + res.bulk_waves
    res.counters = {
        "deep_waves": len(res.deep_waves),
        "bulk_waves": len(res.bulk_waves),
        "fetched": sum(s.selected for s in waves),
        "fetch_ok": sum(s.fetched_ok for s in waves),
        "requeued": sum(s.requeued for s in waves),
        "errors": sum(s.errors for s in waves),
        "discovered": sum(s.discovered for s in waves),
        "saved": sum(s.saved for s in waves),
    }
    return res
