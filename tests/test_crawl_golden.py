"""Golden end-to-end crawl: Spark wave loop == pure-Python reference oracle.

Asserts on the t-unit world (FIXTURES.md §6): (a) the exact URL-seen set,
(b) the exact car discovery order, (c) every saved car row field-by-field —
the reference-equivalence contract from BASELINE.json.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from auto_ria_spark.config import CrawlConfig
from auto_ria_spark.plans.crawl import CrawlEngine
from auto_ria_spark.sources import worldgen
from oracle import crawl_oracle
from table_schemas import assert_declared_schemas

CAR_FIELDS = ["url", "title", "price_usd", "odometer", "username",
              "phone_number", "image_url", "images_count", "car_number",
              "car_vin", "discovery_rank"]


def _cfg(**kw):
    base = dict(host_budget=50, phone_budget=50, backoff_base_s=1,
                wave_seconds=5, num_shards=4, bloom_bits_per_shard=1 << 16,
                shuffle_partitions=8)
    base.update(kw)
    return CrawlConfig(**base)


def run_both(spark, tmp_path, cfg, n_hosts=1, cars_per_host=300,
             page_size=100, db_urls=None, robots_rows=None):
    world = worldgen.build_world_local(n_hosts, cars_per_host, page_size)
    seeds = worldgen.seed_rows(n_hosts)
    pages = worldgen.pages_local_df(spark, world)
    robots = (
        spark.createDataFrame(
            robots_rows, schema="host string, path_prefix string, allowed boolean")
        if robots_rows else None
    )
    eng = CrawlEngine(spark, str(tmp_path / "wh"), cfg, pages=pages,
                      robots=robots)
    if db_urls:
        # preload prior-run cars (the F2 'already in DB' path)
        eng.start(seeds)
        pre = spark.createDataFrame(
            [(u, "t", 1, 1, "u", "+1", None, None, 0, None, f"PRE{i}",
              None, "h", 0) for i, u in enumerate(sorted(db_urls))],
            schema=("url string, title string, price_usd int, odometer int,"
                    " username string, phone_number string, image_url string,"
                    " image_id string, images_count int, car_number string,"
                    " car_vin string, datetime_found timestamp, host string,"
                    " discovery_rank long"))
        eng.t["cars"].write(pre, mode="overwrite", tag={"wave": -1})
        stats = eng.run(seeds=None)  # resume path from wave -1
    else:
        stats = eng.run(seeds=seeds, max_waves=400)
    oracle = crawl_oracle(world, seeds, cfg, db_urls=db_urls,
                          robots=robots_rows)
    return eng, oracle, stats


def assert_match(eng, oracle, db_urls=None):
    # (a) URL-seen set — exact
    got_seen = {r.url_norm for r in eng.seen().select("url_norm").collect()}
    assert got_seen == oracle.seen

    # (b) car discovery order — exact
    got_order = [
        r.url_norm
        for r in eng.seen()
        .filter((F.col("kind") == "car") & F.col("discovery_rank").isNotNull())
        .filter(F.col("discovery_rank") <= len(oracle.order))
        .orderBy("host", "discovery_rank")
        .collect()
    ]
    assert got_order == oracle.order

    # (c) cars table field-by-field
    got = {
        r["url"]: {f: r[f] for f in CAR_FIELDS}
        for r in eng.cars_final().collect()
        if not (db_urls and r["url"] in db_urls)
    }
    exp = {c["url"]: {f: c[f] for f in CAR_FIELDS} for c in oracle.cars}
    assert set(got) == set(exp), (
        f"missing={set(exp) - set(got)} extra={set(got) - set(exp)}")
    for url, row in exp.items():
        assert got[url] == row, f"{url}: {got[url]} != {row}"


@pytest.mark.soak
def test_golden_crawl_unlimited(spark, tmp_path):
    eng, oracle, stats = run_both(spark, tmp_path, _cfg())
    assert_match(eng, oracle)
    assert len(oracle.cars) > 200  # non-trivial world


def test_golden_crawl_with_limits(spark, tmp_path):
    cfg = _cfg(max_cars=120, max_pages=2)
    eng, oracle, _ = run_both(spark, tmp_path, cfg)
    assert_match(eng, oracle)
    assert len(oracle.order) <= 120


def test_golden_crawl_max_cars_mid_page(spark, tmp_path):
    # limit falls mid-page: the over-limit links are seen but not processed
    cfg = _cfg(max_cars=130)
    eng, oracle, _ = run_both(spark, tmp_path, cfg)
    assert_match(eng, oracle)
    assert len(oracle.order) == 130


def test_golden_crawl_multi_host(spark, tmp_path):
    eng, oracle, _ = run_both(spark, tmp_path, _cfg(), n_hosts=3,
                              cars_per_host=120)
    assert_match(eng, oracle)


@pytest.mark.soak
def test_golden_crawl_small_budget_same_result(spark, tmp_path):
    # politeness budgets delay but never change the outcome
    cfg = _cfg(host_budget=7, phone_budget=7)
    eng, oracle, stats = run_both(spark, tmp_path, cfg, cars_per_host=60,
                                  page_size=20)
    assert_match(eng, oracle)
    assert len(stats) > 5  # genuinely spread over many waves


def test_golden_crawl_pipeline_off_same_result(spark, tmp_path):
    """The table-read (mega-wave) regime — cfg.pipeline_waves=False —
    must produce the identical crawl result as the pipelined default."""
    cfg = _cfg(pipeline_waves=False)
    eng, oracle, _ = run_both(spark, tmp_path, cfg, cars_per_host=60,
                              page_size=20)
    assert_match(eng, oracle)


def test_strip_stats_resets_size_statistics(spark):
    """_strip_stats must drop a checkpoint stub's origin sizeInBytes
    (the BigInteger-blowup guard) while preserving rows and sharing the
    cached RDD."""
    from pyspark.sql import functions as F

    from auto_ria_spark.plans.crawl import _strip_stats

    df = (spark.range(1000)
          .select("id", (F.col("id") * 2).alias("x"))
          .localCheckpoint(eager=False))
    stripped = _strip_stats(df)
    orig = int(df._jdf.queryExecution().optimizedPlan().stats()
               .sizeInBytes())
    new = int(stripped._jdf.queryExecution().optimizedPlan().stats()
              .sizeInBytes())
    assert new > orig  # origin stats gone -> default (huge)
    assert stripped.count() == 1000
    assert stripped.columns == df.columns


def test_strip_stats_stays_flat_across_chained_waves(spark):
    """REGRESSION GUARD for the private-API path inside _strip_stats: a
    Spark upgrade that silently disables it would re-open the geometric
    BigInteger plan-stats blowup (95+ s/wave planning by wave 8).  Chain
    N strip(join(checkpoint)) rounds — the pass-through wave shape — and
    assert (a) the stub's sizeInBytes statistic stays CONSTANT-size
    round-over-round, (b) the fallback warning never fired."""
    import warnings

    from pyspark.sql import functions as F

    from auto_ria_spark.plans.crawl import _strip_stats

    df = (spark.range(200)
          .select(F.col("id").alias("url_hash"),
                  (F.col("id") % 7).alias("v")))
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)  # fallback => fail
        cur = _strip_stats(df.localCheckpoint(eager=False))
        digits = []
        for _ in range(8):
            grown = (cur.join(cur.select("url_hash"), "url_hash")
                     .join(cur.select("url_hash"), "url_hash"))
            nxt = _strip_stats(
                grown.select("url_hash", "v").localCheckpoint(eager=False))
            nxt.count()   # materialize the stub (the wave's stats job)
            sz = (nxt._jdf.queryExecution().optimizedPlan().stats()
                  .sizeInBytes())
            digits.append(len(str(sz)))
            cur = nxt
    # without the strip the statistic's digit count grows geometrically
    # (measured: thousands of digits by round 8); flat = guarded
    assert max(digits) == min(digits), digits
    assert cur.count() == 200


def test_golden_crawl_cuckoo_filter(spark, tmp_path):
    """The cuckoo seen-filter is a drop-in for Bloom: identical crawl
    result (seen set, order, saved rows) under cfg.seen_filter='cuckoo'."""
    cfg = _cfg(seen_filter="cuckoo", cuckoo_buckets_per_shard=1 << 10)
    eng, oracle, _ = run_both(spark, tmp_path, cfg, cars_per_host=60,
                              page_size=20)
    assert_match(eng, oracle)


def _seen_identity(eng):
    # membership identity (discovered_wave excluded: a re-crawled phone
    # row is re-announced in a later wave by design)
    return {(r.url_hash, r.url_norm, r.host, r.kind, r.discovery_rank)
            for r in eng.seen().collect()}


def _cars_by_url(eng):
    return {r["url"]: {f: r[f] for f in CAR_FIELDS}
            for r in eng.cars_final().collect()}


def _recrawl_roundtrip(spark, tmp_path, cfg, k=3, via_df=False):
    eng, oracle, _ = run_both(spark, tmp_path, cfg, cars_per_host=60,
                              page_size=20)
    before_cars, before_seen = _cars_by_url(eng), _seen_identity(eng)
    stale = sorted(before_cars)[:k]
    fr_before = eng.t["frontier"].current()
    if via_df:
        from auto_ria_spark.util import local_df
        eng.recrawl(local_df(spark, [(u,) for u in stale], "url string"))
    else:
        eng.recrawl(stale)
    # O(delta) frontier commit: the requeue is an APPEND to the delta log
    # (every pre-recrawl file carried byte-identically) serializing exactly
    # the k requeued rows — never a compaction rewrite of the live set
    fr_after = eng.t["frontier"].current()
    assert set(fr_before["files"]) <= set(fr_after["files"])
    assert fr_after["rows"] == k
    # stale rows are gone until re-fetched
    mid = {r.url for r in eng.cars_final().select("url").collect()}
    assert not (set(stale) & mid)
    stats = eng.run(seeds=None)
    # exactly the stale set is re-fetched: k car pages + k phone XHRs
    assert sum(s.selected for s in stats) == 2 * k
    assert sum(s.saved for s in stats) == k
    assert stats[-1].frontier_left == 0
    # the world is unchanged, so the refreshed state is identical
    assert _cars_by_url(eng) == before_cars
    assert _seen_identity(eng) == before_seen
    return eng


def test_recrawl_cuckoo_refetches_exactly_stale_set(spark, tmp_path):
    """Freshness re-queue on the cuckoo filter: stale phone fingerprints
    are DELETED in place (no rebuild), the stale cars re-fetch under their
    original ranks, and the final state matches the original crawl."""
    eng = _recrawl_roundtrip(
        spark, tmp_path,
        _cfg(seen_filter="cuckoo", cuckoo_buckets_per_shard=1 << 10))
    # every table the crawl, the recrawl and the resumed run committed
    # carries exactly its declared schema
    assert_declared_schemas(eng)


@pytest.mark.soak
def test_recrawl_bloom_rebuild_path(spark, tmp_path):
    """Same semantics under Bloom, which cannot delete: recrawl falls back
    to rebuilding the filter from the exact seen table."""
    _recrawl_roundtrip(spark, tmp_path, _cfg(), k=2)


def test_recrawl_dataframe_path(spark, tmp_path):
    """Scale path: recrawl() accepts a DataFrame of URLs (a 10^6-row stale
    set never rides through the driver as a Python list) and round-trips
    to the identical refreshed state through the same O(delta) append."""
    _recrawl_roundtrip(
        spark, tmp_path,
        _cfg(seen_filter="cuckoo", cuckoo_buckets_per_shard=1 << 10),
        k=3, via_df=True)


@pytest.mark.soak
def test_recrawl_on_torn_warehouse_builds_on_consistent_cut(
        spark, tmp_path):
    """A crash can leave the frontier one wave ahead of the other tables;
    recrawl() must roll back to the consistent cut FIRST — its append
    commit would otherwise carry the torn wave's delta files into a
    snapshot tagged with the cut wave, which a later resume() rollback
    could never shed."""
    from auto_ria_spark.plans.crawl import (FRONTIER_COLS, FRONTIER_SCHEMA,
                                            log_adds)
    from auto_ria_spark.util import local_df

    cfg = _cfg(seen_filter="cuckoo", cuckoo_buckets_per_shard=1 << 10)
    eng, oracle, _ = run_both(spark, tmp_path, cfg, cars_per_host=60,
                              page_size=20)
    before_cars, before_seen = _cars_by_url(eng), _seen_identity(eng)
    w = eng.last_complete_wave()
    pre_files = set(eng.t["frontier"].current()["files"])
    junk = local_df(
        spark,
        [("https://auto.ria.test/torn.html", 1, "auto.ria.test", "car",
          2, 0, 0, 0, 0, 1, 0, None, None)], FRONTIER_SCHEMA)
    torn = eng.t["frontier"].write(
        log_adds(junk, w + 1, FRONTIER_COLS), "append", {"wave": w + 1})
    torn_files = set(torn["files"]) - pre_files
    assert torn_files
    stale = sorted(before_cars)[:2]
    eng.recrawl(stale)
    # the recrawl built on the rolled-back cut: no torn file survives
    assert not (torn_files & set(eng.t["frontier"].current()["files"]))
    stats = eng.run(seeds=None)
    # exactly the stale set re-fetches (the torn junk row is gone too)
    assert sum(s.selected for s in stats) == 4
    assert sum(s.saved for s in stats) == 2
    assert _cars_by_url(eng) == before_cars
    assert _seen_identity(eng) == before_seen


def test_golden_crawl_robots(spark, tmp_path):
    robots = [
        {"host": "auto.ria.test", "path_prefix": "/auto_bmw", "allowed": False},
        {"host": "auto.ria.test", "path_prefix": "/", "allowed": True},
    ]
    eng, oracle, _ = run_both(spark, tmp_path, _cfg(), cars_per_host=120,
                              robots_rows=robots)
    assert_match(eng, oracle)
    assert not any("/auto_bmw" in u for u in
                   (r.url_norm for r in eng.seen().collect()))
    assert len(oracle.cars) > 0


def test_golden_crawl_db_skip(spark, tmp_path):
    world = worldgen.build_world_local(1, 120, 100)
    db_urls = {
        worldgen.car_fields(0, 120, i)["url"] for i in range(0, 120, 10)
    }
    eng, oracle, _ = run_both(spark, tmp_path, _cfg(), cars_per_host=120,
                              db_urls=db_urls)
    assert_match(eng, oracle, db_urls=db_urls)
    saved_urls = {r.url for r in eng.cars_final().collect()}
    assert db_urls <= saved_urls  # preloaded rows still present
    assert not any(c["url"] in db_urls for c in oracle.cars)


@pytest.mark.parametrize("seed_n", [(40, 15), (77, 25)])
def test_property_randomized_worlds(spark, tmp_path, seed_n):
    cars, page = seed_n
    eng, oracle, _ = run_both(spark, tmp_path, _cfg(), cars_per_host=cars,
                              page_size=page)
    assert_match(eng, oracle)


def test_sitemap_seeded_crawl(spark, tmp_path):
    """Sitemap-then-listing BFS (north-star generalization): a sitemap page
    lists three hosts' listing chains; the crawl equals the union of the
    three independently-seeded crawls (oracle with 3 seeds)."""
    import json as _json

    n_hosts, cars = 3, 40
    world = worldgen.build_world_local(n_hosts, cars, 20)
    sitemap_url = "https://auto.ria.test/sitemap.xml"
    listing_seeds = [worldgen.listing_url(h, 0) for h in range(n_hosts)]
    world.append({
        "url_norm": sitemap_url, "kind": "sitemap", "host": "auto.ria.test",
        "payload": _json.dumps({"links": _json.dumps(listing_seeds)}),
        "fail_503_times": 0, "retry_after": None,
    })
    pages = spark.createDataFrame(world, schema=worldgen.PAGES_SCHEMA)
    eng = CrawlEngine(spark, str(tmp_path / "whs"), _cfg(), pages=pages)
    eng.run(seeds=[{"url": sitemap_url, "kind": "sitemap"}], max_waves=100)

    oracle = crawl_oracle(
        world, [{"url": u, "kind": "listing"} for u in listing_seeds], _cfg())
    got_seen = {r.url_norm for r in eng.seen().collect()} - {sitemap_url}
    assert got_seen == oracle.seen
    got = {r.url for r in eng.cars_final().collect()}
    assert got == {c["url"] for c in oracle.cars}


def test_crawl_with_corpus_image_verification(spark, tmp_path):
    """Stage V: every saved car's photo decodes back to the corpus row's
    phash + dimensions (the input_hint per-row invariant, engine-side)."""
    n = 60
    world = worldgen.build_world_local(1, n, 20)
    pages = spark.createDataFrame(world, schema=worldgen.PAGES_SCHEMA)
    corpus = worldgen.corpus_df(spark, n, partitions=4)
    eng = CrawlEngine(spark, str(tmp_path / "whc"), _cfg(), pages=pages,
                      corpus=corpus)
    eng.run(seeds=worldgen.seed_rows(1), max_waves=60)
    imgs = eng.car_images().collect()
    saved = eng.cars_final().count()
    assert len(imgs) == saved > 0
    assert all(r.image_ok for r in imgs), [r for r in imgs if not r.image_ok][:3]
    oracle = crawl_oracle(world, worldgen.seed_rows(1), _cfg())
    assert saved == len(oracle.cars)


def test_wave_failure_leaks_no_threads_and_resumes(spark, tmp_path,
                                                   monkeypatch):
    """A stage that raises mid-wave: ``run()`` raises, every thread pool
    the wave started is shut down (its threads exit), and a fresh engine
    resumes from the committed tables to the golden result."""
    import threading

    cfg = _cfg(host_budget=10, phone_budget=10)
    world = worldgen.build_world_local(1, 60, 20)
    seeds = worldgen.seed_rows(1)
    pages = worldgen.pages_local_df(spark, world)
    before = set(threading.enumerate())
    verify = CrawlEngine._verify_images

    def failing_verify(self, saved_rows, wave):
        if wave == 1:
            raise RuntimeError("injected stage failure")
        return verify(self, saved_rows, wave)

    monkeypatch.setattr(CrawlEngine, "_verify_images", failing_verify)
    eng = CrawlEngine(spark, str(tmp_path / "wh"), cfg, pages=pages)
    with pytest.raises(RuntimeError, match="injected stage failure"):
        eng.run(seeds=seeds, max_waves=400)
    started = [t for t in threading.enumerate()
               if t not in before and t.name.startswith("ThreadPoolExecutor")]
    for t in started:
        t.join(timeout=60)  # queued warm counts may still be finishing
    assert not [t.name for t in started if t.is_alive()]

    monkeypatch.undo()
    resumed = CrawlEngine(spark, str(tmp_path / "wh"), cfg, pages=pages)
    resumed.run(seeds=None, max_waves=400)
    assert_match(resumed, crawl_oracle(world, seeds, cfg))


def test_failed_warm_count_warns(spark, tmp_path):
    """A warm count that fails does not raise (the stage's consuming
    action re-raises the error) but warns, naming the error."""
    from concurrent.futures import ThreadPoolExecutor

    eng = CrawlEngine(spark, str(tmp_path / "wh"), _cfg())
    eng._warm_ex = ThreadPoolExecutor(max_workers=1)
    bad = spark.range(1).filter("raise_error('boom') is null")
    with pytest.warns(RuntimeWarning, match="boom"):
        assert eng._warm(bad) is bad
        eng._warm_ex.shutdown(wait=True)
