"""Unit tests: Bloom and cuckoo seen-set shards, politeness top-B, robots
gate."""

from __future__ import annotations
import pytest

from pyspark.sql import functions as F

from auto_ria_spark.operators import bloom
from auto_ria_spark.operators.politeness import robots_gate, top_b_per_host

SHARDS, MBITS, K = 4, 1 << 14, 7


def _urls_df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("https://h/auto_x_"), F.col("id"), F.lit(".html"))
        .alias("url_norm")
    ).withColumn("url_hash", F.xxhash64("url_norm"))


def test_bloom_no_false_negatives_and_sane_fpr(spark):
    inserted = _urls_df(spark, 0, 2000)
    filters = bloom.build_filters(inserted, None, num_shards=SHARDS,
                                  m_bits=MBITS, k=K, wave=0)
    filters = filters.cache()
    assert filters.count() == SHARDS
    assert filters.agg(F.sum("n_items")).first()[0] == 2000

    # every inserted key must probe positive (no false negatives)
    probed_in = bloom.probe_filters(inserted, filters, num_shards=SHARDS,
                                    m_bits=MBITS, k=K)
    assert probed_in.filter(~F.col("maybe_seen")).count() == 0

    # disjoint keys: FPR well under a few percent at this m/n
    fresh = _urls_df(spark, 100_000, 102_000)
    probed_out = bloom.probe_filters(fresh, filters, num_shards=SHARDS,
                                     m_bits=MBITS, k=K)
    fpr = probed_out.filter(F.col("maybe_seen")).count() / 2000
    assert fpr < 0.05, f"FPR {fpr} too high"


def test_bloom_incremental_merge_preserves_members(spark):
    first = _urls_df(spark, 0, 500)
    second = _urls_df(spark, 500, 1000)
    f0 = bloom.build_filters(first, None, num_shards=SHARDS,
                             m_bits=MBITS, k=K, wave=0)
    f1 = bloom.build_filters(second, f0, num_shards=SHARDS,
                             m_bits=MBITS, k=K, wave=1).cache()
    assert f1.agg(F.sum("n_items")).first()[0] == 1000
    both = _urls_df(spark, 0, 1000)
    probed = bloom.probe_filters(both, f1, num_shards=SHARDS, m_bits=MBITS, k=K)
    assert probed.filter(~F.col("maybe_seen")).count() == 0


@pytest.mark.soak
def test_bloom_probe_production_sized_shards(spark):
    """Scale check: the cogrouped probe loads each shard's bitset ONCE per
    task, so production-sized shards (2^24 bits = 2 MiB each here; 2^27-2^30
    in the real sizing) must probe a large candidate batch without blowing
    Arrow memory (the old broadcast-join path shipped bitset x rows)."""
    mbits = 1 << 24
    inserted = _urls_df(spark, 0, 20_000)
    filters = bloom.build_filters(inserted, None, num_shards=SHARDS,
                                  m_bits=mbits, k=K, wave=0).cache()
    assert filters.count() == SHARDS
    probed = bloom.probe_filters(inserted, filters, num_shards=SHARDS,
                                 m_bits=mbits, k=K)
    assert probed.filter(~F.col("maybe_seen")).count() == 0
    fresh = _urls_df(spark, 1_000_000, 1_004_000)
    fpr = bloom.probe_filters(fresh, filters, num_shards=SHARDS,
                              m_bits=mbits, k=K) \
        .filter(F.col("maybe_seen")).count() / 4000
    assert fpr < 0.001, fpr
    filters.unpersist()


def test_top_b_per_host_exact_and_deterministic(spark):
    df = spark.range(0, 3000).select(
        F.concat(F.lit("host"), (F.col("id") % 3)).alias("host"),
        F.col("id").alias("discovery_rank"),
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
    )
    picked = top_b_per_host(df, 5, ["discovery_rank"], salt_n=8)
    rows = picked.orderBy("host", "discovery_rank").collect()
    assert len(rows) == 15
    by_host = {}
    for r in rows:
        by_host.setdefault(r.host, []).append(r.discovery_rank)
    # exact per-host minima survive the salted two-phase selection
    for h, ranks in by_host.items():
        base = int(h[-1])
        assert ranks == [base + 3 * i for i in range(5)]


def test_robots_gate_longest_prefix_wins(spark):
    df = spark.createDataFrame(
        [("https://h/a/x", "h"), ("https://h/a/private/x", "h"),
         ("https://other/a/private/x", "other")],
        schema="url_norm string, host string",
    ).withColumn("url_hash", F.xxhash64("url_norm"))
    robots = spark.createDataFrame(
        [("h", "/a", True), ("h", "/a/private", False)],
        schema="host string, path_prefix string, allowed boolean",
    )
    kept = {r.url_norm for r in robots_gate(df, robots).collect()}
    assert kept == {"https://h/a/x", "https://other/a/private/x"}


def test_robots_gate_never_shuffles_the_gated_frame(spark):
    """Scale shape: the gated frame must flow through a broadcast join +
    array-expression filter — the ONLY exchanges in the plan belong to
    the tiny rules-side aggregation (one narrow hash + the broadcast),
    never a hash/sort exchange of the gated rows (the previous shape
    aggregated on every gated column, a full-width shuffle 3x/wave)."""
    import io
    from contextlib import redirect_stdout

    df = spark.range(0, 1000).select(
        F.concat(F.lit("https://h"), F.pmod("id", F.lit(3)),
                 F.lit("/a/"), F.col("id")).alias("url_norm"),
        F.concat(F.lit("h"), F.pmod("id", F.lit(3))).alias("host"),
        F.xxhash64("id").alias("url_hash"))
    robots = spark.createDataFrame(
        [("h0", "/a", True), ("h0", "/a/private", False)],
        schema="host string, path_prefix string, allowed boolean")
    gated = robots_gate(df, robots)
    buf = io.StringIO()
    with redirect_stdout(buf):
        gated.explain("formatted")
    tree = buf.getvalue().split("(1)")[0]
    assert "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree, tree
    # exactly one hashpartitioning exchange — the rules-side groupBy(host)
    assert tree.count("Exchange hashpartitioning") <= 1, tree
    # and correctness is unchanged under the new shape
    assert gated.count() == 1000  # /a allows everything here
    robots2 = spark.createDataFrame(
        [("h0", "/a", False)],
        schema="host string, path_prefix string, allowed boolean")
    blocked = robots_gate(df, robots2)
    # all h0 rows (id % 3 == 0 -> 334 of 1000) are disallowed
    assert blocked.count() == 1000 - 334


# --------------------------------------------------------------- cuckoo
def test_cuckoo_insert_probe_delete(spark):
    from auto_ria_spark.operators import cuckoo

    NB = 1 << 12  # 4096 buckets x 4 slots
    inserted = _urls_df(spark, 0, 2000)
    flt = cuckoo.build_cuckoo(inserted, None, num_shards=SHARDS,
                              n_buckets=NB, wave=0).cache()
    assert flt.count() == SHARDS
    assert flt.agg(F.sum("n_items")).first()[0] == 2000

    # no false negatives
    probed = cuckoo.probe_cuckoo(inserted, flt, num_shards=SHARDS,
                                 n_buckets=NB)
    assert probed.filter(~F.col("maybe_seen")).count() == 0

    # FPR sane (16-bit fingerprints -> ~1e-4; allow slack)
    fresh = _urls_df(spark, 500_000, 504_000)
    fpr = cuckoo.probe_cuckoo(fresh, flt, num_shards=SHARDS, n_buckets=NB) \
        .filter(F.col("maybe_seen")).count() / 4000
    assert fpr < 0.01, fpr

    # delete half -> deleted gone, kept still present (the Bloom-impossible op)
    to_del = _urls_df(spark, 0, 1000)
    flt2 = cuckoo.delete_cuckoo(to_del, flt, num_shards=SHARDS,
                                n_buckets=NB, wave=1).cache()
    assert flt2.agg(F.sum("n_items")).first()[0] == 1000
    gone = cuckoo.probe_cuckoo(to_del, flt2, num_shards=SHARDS, n_buckets=NB)
    assert gone.filter(F.col("maybe_seen")).count() < 10  # residual FPR only
    kept = _urls_df(spark, 1000, 2000)
    still = cuckoo.probe_cuckoo(kept, flt2, num_shards=SHARDS, n_buckets=NB)
    assert still.filter(~F.col("maybe_seen")).count() == 0


@pytest.mark.soak
def test_cuckoo_production_sized_shards(spark):
    """Scale check for the cuckoo kind: 2^20 buckets (8 MiB per shard)
    must take a large insert batch, probe and delete it without copying
    the table once per inserted row."""
    from auto_ria_spark.operators import cuckoo

    NB = 1 << 20
    inserted = _urls_df(spark, 0, 20_000)
    flt = cuckoo.build_cuckoo(inserted, None, num_shards=SHARDS,
                              n_buckets=NB, wave=0).cache()
    assert flt.count() == SHARDS
    assert flt.agg(F.sum("n_items")).first()[0] == 20_000
    probed = cuckoo.probe_cuckoo(inserted, flt, num_shards=SHARDS,
                                 n_buckets=NB)
    assert probed.filter(~F.col("maybe_seen")).count() == 0
    fresh = _urls_df(spark, 1_000_000, 1_004_000)
    fpr = cuckoo.probe_cuckoo(fresh, flt, num_shards=SHARDS, n_buckets=NB) \
        .filter(F.col("maybe_seen")).count() / 4000
    assert fpr < 0.001, fpr

    to_del = _urls_df(spark, 0, 5_000)
    flt2 = cuckoo.delete_cuckoo(to_del, flt, num_shards=SHARDS,
                                n_buckets=NB, wave=1).cache()
    assert flt2.agg(F.sum("n_items")).first()[0] == 15_000
    gone = cuckoo.probe_cuckoo(to_del, flt2, num_shards=SHARDS, n_buckets=NB)
    assert gone.filter(F.col("maybe_seen")).count() < 5  # residual FPR only
    kept = _urls_df(spark, 5_000, 20_000)
    still = cuckoo.probe_cuckoo(kept, flt2, num_shards=SHARDS, n_buckets=NB)
    assert still.filter(~F.col("maybe_seen")).count() == 0
    flt2.unpersist()
    flt.unpersist()


def test_salt_n_for_sizing():
    from auto_ria_spark.operators.politeness import salt_n_for

    # at/below the per-partition target: single exact window
    assert salt_n_for(0, 1024) == 1
    assert salt_n_for(1024, 1024) == 1
    # just above: two salted groups; then ceil growth
    assert salt_n_for(1025, 1024) == 2
    assert salt_n_for(10 * 1024, 1024) == 10
    assert salt_n_for(10 * 1024 + 1, 1024) == 11
    # hot-host extreme: capped so phase 2 stays tiny
    assert salt_n_for(10**10, 1024) == 1 << 14


def test_top_b_per_host_salt_invariant(spark):
    """The selection is IDENTICAL at every salt width (phase 1 keeps each
    salted group's top-B — a superset of the per-host top-B), including
    the salt_n==1 single-window fast path the adaptive sizing emits for
    small pending sets."""
    df = spark.range(0, 3000).select(
        F.concat(F.lit("host"), (F.col("id") % 3)).alias("host"),
        F.col("id").alias("discovery_rank"),
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
    )
    expect = sorted(
        (r.host, r.discovery_rank)
        for r in top_b_per_host(df, 5, ["discovery_rank"], salt_n=64)
        .collect())
    for salt_n in (1, 2, 8):
        got = sorted(
            (r.host, r.discovery_rank)
            for r in top_b_per_host(df, 5, ["discovery_rank"],
                                    salt_n=salt_n).collect())
        assert got == expect, salt_n
    # salt_n == 1 must not build the salted pre-pass at all
    plan = top_b_per_host(df, 5, ["discovery_rank"], salt_n=1) \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert "__salt" not in plan
    assert "__salt" in top_b_per_host(df, 5, ["discovery_rank"], salt_n=2) \
        ._jdf.queryExecution().optimizedPlan().toString()


def test_engine_tracks_hostmax_for_salt_sizing(spark, tmp_path):
    """C6 wiring: after a wave the engine records the hottest host's
    pending count off the stats job (drives the next wave's salt_n)."""
    from auto_ria_spark.config import CrawlConfig
    from auto_ria_spark.plans.crawl import CrawlEngine
    from auto_ria_spark.sources import worldgen

    cfg = CrawlConfig(host_budget=5, phone_budget=5, backoff_base_s=1,
                      wave_seconds=5, num_shards=4, shuffle_partitions=4)
    pages = worldgen.pages_local_df(spark, worldgen.build_world_local(1, 30, 10))
    eng = CrawlEngine(spark, str(tmp_path / "wh"), cfg, pages=pages)
    assert eng._hostmax is None
    eng.run(seeds=worldgen.seed_rows(1), max_waves=2, stop_after_wave=1)
    assert isinstance(eng._hostmax, int) and eng._hostmax >= 0
