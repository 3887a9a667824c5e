"""O(delta) frontier/pending commits (the Iceberg merge-on-read
analogue): across a multi-wave crawl, a wave's frontier commit must
serialize only the wave's DELTA (new/requeued rows + consumed-URL
tombstones), never the standing frontier.  At the north rule's 10^10-URL
frontier the old per-wave full overwrite re-serialized ~10^10 rows (TBs)
to change a ~10^-4 fraction; this pins the fix — on a SATURATED frontier
(bulk-seeded, budget-bound waves) per-wave write volume tracks the wave
delta while the live set stays orders larger.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from auto_ria_spark.config import CrawlConfig
from auto_ria_spark.plans.crawl import (FRONTIER_COLS, CrawlEngine,
                                        log_adds, log_dels, resolve_log)
from auto_ria_spark.sources import worldgen
from table_schemas import assert_declared_schemas


def _saturated_engine(spark, tmp_path, name, **cfg_kw):
    """Standing-frontier regime: every car URL bulk-seeded up front, the
    per-wave budget touches a small fraction — what waves look like
    mid-crawl at scale."""
    cfg = CrawlConfig(host_budget=6, phone_budget=60, backoff_base_s=1,
                      wave_seconds=5, num_shards=8, shuffle_partitions=8,
                      **cfg_kw)
    world = worldgen.build_world_local(4, 100, 20)
    pages = worldgen.pages_local_df(spark, world)
    eng = CrawlEngine(spark, str(tmp_path / name), cfg, pages=pages)
    seeds = pages.filter(F.col("kind") == "car").select(
        F.col("url_norm").alias("url"))
    eng.start_from_df(seeds, kind="car")
    return eng


def _state_metrics(eng, kind):
    rows = (eng.metrics().filter(F.col("kind") == kind)
            .groupBy("wave").pivot("metric").agg(F.first("value"))
            .collect())
    return {r["wave"]: r.asDict() for r in rows}


def test_frontier_write_volume_is_o_delta_on_saturated_frontier(
        spark, tmp_path):
    eng = _saturated_engine(spark, tmp_path, "sat")
    stats = eng.run(seeds=None, max_waves=6)
    assert len(stats) >= 3
    m = _state_metrics(eng, "frontier")
    assert m, "no frontier write-volume metrics recorded"
    delta_waves = [v for v in m.values() if v["compacted"] == 0]
    assert delta_waves, "expected at least one delta-append wave"
    for v in delta_waves:
        # rows serialized stay within the wave's delta bound (adds +
        # tombstones, from the wave counters), and the standing frontier
        # is orders larger than what was written
        assert 0 < v["rows_written"] <= v["rows_delta_bound"]
        assert v["rows_live"] > 3 * v["rows_written"], (
            f"frontier write not O(delta): wrote {v['rows_written']} "
            f"rows against {v['rows_live']} live")
    # pending follows the same contract on every non-compaction wave
    for v in _state_metrics(eng, "pending").values():
        if v["compacted"] == 0:
            assert v["rows_written"] <= v["rows_delta_bound"]


def test_frontier_log_bytes_scale_with_delta(spark, tmp_path):
    """Byte-level bound: a delta wave's serialized bytes stay a small
    fraction of what the full-frontier rewrite would cost (measured as
    the seed snapshot's bytes, which DID serialize the full set)."""
    eng = _saturated_engine(spark, tmp_path, "satb")
    eng.run(seeds=None, max_waves=4)
    t = eng.t["frontier"]
    seed_snap = next(s for s in t.snapshots() if s["tag"].get("wave") == -1)
    full_bytes = seed_snap.get("bytes_new", 0)
    assert full_bytes > 0
    m = _state_metrics(eng, "frontier")
    deltas = [v for v in m.values() if v["compacted"] == 0]
    assert deltas
    for v in deltas:
        assert 0 < v["bytes_written"] < full_bytes / 2, (
            f"delta wave wrote {v['bytes_written']} B vs full "
            f"{full_bytes} B")


def test_resolved_log_equals_passthrough_frontier(spark, tmp_path):
    """The durable delta log must resolve to exactly the in-memory
    pass-through frontier the run ended with (merge-on-read parity)."""
    eng = _saturated_engine(spark, tmp_path, "par")
    stats = eng.run(seeds=None, max_waves=3)
    resolved = eng._frontier_read()
    assert resolved.count() == stats[-1].frontier_left
    # no duplicate keys survive resolution
    assert resolved.groupBy("url_hash").count() \
        .filter(F.col("count") > 1).count() == 0
    # pending resolves consistently too (bounded by in-flight phones)
    pend = eng._pending_read()
    assert pend.groupBy("phone_hash").count() \
        .filter(F.col("count") > 1).count() == 0


def test_compaction_triggers_and_preserves_resolution(spark, tmp_path):
    """With compact_factor below 1 every non-empty wave compacts: the
    commit is a full rewrite (compacted=1), the log resets, and the
    resolved view still matches the run's final frontier."""
    eng = _saturated_engine(spark, tmp_path, "cmp", compact_factor=0.1)
    stats = eng.run(seeds=None, max_waves=3)
    m = _state_metrics(eng, "frontier")
    assert m and all(v["compacted"] == 1 for v in m.values())
    for v in m.values():
        assert v["rows_written"] == v["rows_live"]
    assert eng._frontier_read().count() == stats[-1].frontier_left
    # the bulk seed, the delta appends and the compaction rewrites all
    # commit exactly the declared schemas
    assert_declared_schemas(eng)


def test_host_state_bounded_by_host_count(spark, tmp_path):
    """host_state is the one remaining per-wave overwrite table: prove
    its bound.  Row count equals the DISTINCT HOST count (one pagination/
    discovery-counter row per host via the full-outer host join) on every
    wave's snapshot — it never scales with URLs, so the per-wave rewrite
    is O(hosts), not O(frontier).  At the north rule hosts ≍ 10^7-10^8
    rows of 3 narrow columns (~GBs) vs the 10^10-row frontier (TBs)."""
    eng = _saturated_engine(spark, tmp_path, "hs")
    eng.run(seeds=None, max_waves=5)
    n_hosts = 4  # build_world_local(4, ...) above
    for s in eng.t["host_state"].snapshots():
        if s["tag"].get("wave", -1) >= 0 and "rows" in s:
            assert 0 < s["rows"] <= n_hosts, (
                f"host_state snapshot wrote {s['rows']} rows for "
                f"{n_hosts} hosts")
    assert eng._read("host_state",
                     "host string, cars_discovered long,"
                     " pagination_done boolean").count() == n_hosts


def test_resolve_log_tombstone_semantics(spark):
    """Unit semantics of the merge-on-read rule: a tombstone kills only
    STRICTLY-earlier additions — a same-wave requeue survives its own
    consumption tombstone, and a later re-add survives an old one."""
    from auto_ria_spark.plans.crawl import FRONTIER_SCHEMA
    from auto_ria_spark.util import local_df

    def fr(url_hash, wave):
        row = (f"u{url_hash}", url_hash, "h", "car", 2, 0, 0, 0, 0,
               1, 0, None, None)
        return log_adds(
            local_df(spark, [row], FRONTIER_SCHEMA), wave, FRONTIER_COLS)

    def dl(url_hash, wave):
        return log_dels(
            local_df(spark, [(url_hash,)], "url_hash long"),
            wave, FRONTIER_SCHEMA, "url_hash")

    raw = (
        fr(1, 0)                       # added wave 0 ...
        .unionByName(dl(1, 2))         # ... consumed wave 2
        .unionByName(fr(1, 2))         # ... requeued SAME wave 2: alive
        .unionByName(fr(2, 0))         # added wave 0 ...
        .unionByName(dl(2, 1))         # ... consumed wave 1: dead
        .unionByName(fr(3, 0))         # added wave 0, never consumed
        .unionByName(fr(4, 0))         # consumed w1, re-added w3: alive
        .unionByName(dl(4, 1))
        .unionByName(fr(4, 3))
    )
    live = {r["url_hash"]: r["discovered_wave"]
            for r in resolve_log(raw, "url_hash", FRONTIER_COLS).collect()}
    assert set(live) == {1, 3, 4}


def test_finalize_contract_for_standalone_run_wave_callers(
        spark, tmp_path):
    """run_wave's documented contract: the per-wave write-volume
    accounting is only persisted by finalize() — standalone callers that
    drive waves themselves must call it, after which the O(delta)
    evidence rows are durably in the metrics table and the in-memory
    logs are drained (idempotent on a second call)."""
    eng = _saturated_engine(spark, tmp_path, "fin")
    eng.run_wave(0, defer_commits=False)
    eng.run_wave(1, defer_commits=False)
    assert eng._state_meta, "waves should accumulate in-memory accounting"
    assert not _state_metrics(eng, "frontier"), \
        "write-volume must not be durable before finalize()"
    eng.finalize()
    assert not eng._state_meta
    m = _state_metrics(eng, "frontier")
    assert set(m) == {0, 1}
    for v in m.values():
        assert v["rows_written"] >= 0 and v["rows_live"] > 0
    eng.finalize()  # idempotent: nothing accumulated, no new rows
    assert {r["wave"] for r in _state_metrics(eng, "frontier").values()
            } == {0, 1}
