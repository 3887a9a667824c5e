"""Two-parallelism scaling evidence (north rule: N vs 4N executors).

In-sandbox stand-in for a 2-cluster-size run: the SAME crawl job over the
SAME materialized world, in two fresh Spark processes at local[N] and
local[4N].  Reports throughput at both + scaling efficiency
  eff = (thr_4N / thr_N) / 4
and appends the evidence table to BENCH.md.

Usage:
  python tools/scaling_bench.py --cars-total 200000 --hosts 1024 \
      --cores 8,32 [--out /tmp/scaling_world]

Phases:
  gen  — one 32-core session materializes pages+corpus parquet (untimed;
         the "web" is not part of crawl throughput),
  run  — subprocess per cores level: fresh JVM, crawl to frontier drain,
         one JSON line on stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def gen_world(out: str, hosts: int, cars_per_host: int) -> None:
    from auto_ria_spark.session import get_spark
    from auto_ria_spark.sources import worldgen

    spark = get_spark("scaling-gen", cores=32, shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    n_images = hosts * cars_per_host
    worldgen.pages_df(spark, hosts, cars_per_host, 100, partitions=128) \
        .write.mode("overwrite").parquet(f"{out}/pages")
    worldgen.corpus_df(spark, n_images, partitions=128) \
        .write.mode("overwrite").parquet(f"{out}/corpus")
    # manifest: the summary's `world` field is read from HERE, never from
    # the CLI args — a pre-existing world dir (gen skipped) would
    # otherwise be silently mislabeled with whatever sizes the caller
    # passed this time
    with open(f"{out}/world.json", "w") as fh:
        json.dump({"hosts": hosts, "cars_total": hosts * cars_per_host}, fh)
    print(json.dumps({"phase": "gen", "pages": out, "images": n_images}))
    spark.stop()


def run_crawl(world: str, cores: int, hosts: int, saturated: bool) -> None:
    import time

    from pyspark.sql import functions as F

    from auto_ria_spark.config import CrawlConfig
    from auto_ria_spark.plans.crawl import CrawlEngine
    from auto_ria_spark.session import get_spark
    from auto_ria_spark.sources import worldgen

    spark = get_spark(f"scaling-{cores}", cores=cores,
                      shuffle_partitions=max(cores, 8))
    spark.sparkContext.setLogLevel("ERROR")
    pages = spark.read.parquet(f"{world}/pages").cache()
    corpus = spark.read.parquet(f"{world}/corpus").cache()
    pages.count(), corpus.count()  # materialize the web before timing
    cfg = CrawlConfig(host_budget=10**9 if saturated else 1000,
                      phone_budget=10**9 if saturated else 1000,
                      backoff_base_s=1,
                      wave_seconds=5, num_shards=max(cores, 16),
                      shuffle_partitions=max(cores, 8),
                      # mega-wave regime: per-wave driver planning is
                      # amortized, so the pipeline's pass-through caching
                      # only costs memory/contention — read the tables
                      pipeline_waves=not saturated)
    wh = f"/tmp/scaling_wh_{cores}"
    shutil.rmtree(wh, ignore_errors=True)
    eng = CrawlEngine(spark, wh, cfg, pages=pages, corpus=corpus)
    if saturated:
        # standing-frontier regime: every wave is huge (what waves look
        # like mid-crawl at 10^10 scale); seed all car URLs, 2 mega-waves
        seeds_df = pages.filter(F.col("kind") == "car").select(
            F.col("url_norm").alias("url"))
        eng.start_from_df(seeds_df, kind="car")
        t0 = time.time()
        stats = eng.run(seeds=None)
    else:
        t0 = time.time()
        stats = eng.run(seeds=worldgen.seed_rows(hosts))
    dt = time.time() - t0
    fetched = sum(s.selected for s in stats)
    disc = sum(s.discovered for s in stats)
    saved = sum(s.saved for s in stats)
    imgs = eng.car_images().count()
    img_ok = eng.car_images().filter("image_ok").count()
    print(json.dumps({
        "phase": "run", "cores": cores, "seconds": round(dt, 2),
        "waves": len(stats), "urls_fetched": fetched,
        "urls_discovered": disc, "cars_saved": saved,
        "images_verified": imgs, "images_ok": img_ok,
        "throughput_urls_per_sec": round((fetched + disc) / dt, 2),
    }))
    spark.stop()


def _control_file(path: str) -> tuple[int, int]:
    """Decode+phash every image of one corpus parquet part (no Spark)."""
    import pyarrow.parquet as pq

    from auto_ria_spark.functions import imaging

    t = pq.read_table(path, columns=["bytes"])
    n = ok = 0
    for blob in t.column("bytes"):
        n += 1
        try:
            px = imaging.decode_image(blob.as_py())
            ok += int(imaging.phash64(px) is not None)
        except Exception:
            pass
    return n, ok


def run_pool_control(world: str, cores: int, max_files: int = 0) -> None:
    """Same-day CONTROL (not a ceiling): the SAME decode+phash work as
    the crawl's image-verify stage, run through a plain
    multiprocessing.Pool with NO Spark — a same-session reference for how
    the box scales N -> 4N processes that day.  Emitting it per-session
    puts the environment control INSIDE the artifact.

    It is NOT an upper bound on the engine: Spark overlaps IO, task
    scheduling and planning with compute while the pool control does not,
    so the engine's scaling efficiency can legitimately exceed the
    control's (round 5 measured ratios of 1.08-1.10).  The raw
    scaling_efficiency number is the primary north-rule gate; the control
    only contextualizes sub-0.8 raw readings taken during slow box
    phases."""
    import glob
    import time
    from multiprocessing import Pool

    files = sorted(glob.glob(f"{world}/corpus/part-*.parquet"))
    if max_files:
        # an efficiency RATIO needs identical work at both levels, not
        # the full corpus — capping keeps the low-core leg affordable
        files = files[:max_files]
    t0 = time.time()
    with Pool(cores) as p:
        parts = p.map(_control_file, files)
    dt = time.time() - t0
    n = sum(a for a, _ in parts)
    ok = sum(b for _, b in parts)
    print(json.dumps({
        "phase": "pool_control", "cores": cores, "seconds": round(dt, 2),
        "images": n, "images_ok": ok,
        "throughput_urls_per_sec": round(n / dt, 2),
    }))


def run_verify_only(world: str, cores: int) -> None:
    """Single-operator scaling: the corpus image-verification stage alone
    (decode + phash over Arrow batches) — the per-URL work component."""
    import time

    from pyspark.sql import functions as F

    from auto_ria_spark.functions.corpus import decode_stats
    from auto_ria_spark.session import get_spark

    spark = get_spark(f"verify-{cores}", cores=cores,
                      shuffle_partitions=max(cores, 8))
    spark.sparkContext.setLogLevel("ERROR")
    corpus = spark.read.parquet(f"{world}/corpus").cache()
    n = corpus.count()
    t0 = time.time()
    out = decode_stats(corpus.repartition(max(cores * 4, 32)))
    ok = out.filter(F.col("phash").isNotNull()).count()
    dt = time.time() - t0
    print(json.dumps({
        "phase": "run", "cores": cores, "seconds": round(dt, 2),
        "waves": 1, "urls_fetched": n, "urls_discovered": 0,
        "cars_saved": 0, "images_verified": ok, "images_ok": ok,
        "throughput_urls_per_sec": round(n / dt, 2),
    }))
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cars-total", type=int, default=200_000)
    ap.add_argument("--hosts", type=int, default=1024)
    ap.add_argument("--cores", default="8,32")
    ap.add_argument("--out", default="/tmp/scaling_world")
    ap.add_argument("--phase", default="all")
    ap.add_argument("--run-cores", type=int, default=0)
    ap.add_argument("--saturated", action="store_true",
                    help="standing-frontier regime: bulk-seed all car URLs")
    ap.add_argument("--verify-only", action="store_true",
                    help="single-operator mode: image verify stage alone")
    ap.add_argument("--pool-control", "--ceiling", dest="pool_control",
                    default="true", choices=["true", "false"],
                    help="also measure the same-day bare-metal (no-Spark) "
                         "pool control and emit it in the summary "
                         "(a same-session reference, NOT an upper bound)")
    ap.add_argument("--control-files", "--ceiling-files",
                    dest="control_files", type=int, default=0,
                    help="cap corpus parquet parts in the pool-control run "
                         "(same work at both levels; 0 = all)")
    ap.add_argument("--control-ref", default="",
                    help="git ref of a PINNED prior binary to run as a "
                         "same-session control (e.g. the round-2 commit); "
                         "its throughputs ride along in the summary")
    ap.add_argument("--emit", default="",
                    help="also write the summary JSON to this path "
                         "(e.g. SCALING_r5.json)")
    args = ap.parse_args()
    cars_per_host = args.cars_total // args.hosts

    if args.phase == "gen":
        gen_world(args.out, args.hosts, cars_per_host)
        return
    if args.phase == "pool_control":
        run_pool_control(args.out, args.run_cores, args.control_files)
        return
    if args.phase == "run":
        if args.verify_only:
            run_verify_only(args.out, args.run_cores)
        else:
            run_crawl(args.out, args.run_cores, args.hosts, args.saturated)
        return

    # orchestrate: gen once, run per cores level in fresh processes
    if not os.path.exists(f"{args.out}/pages"):
        subprocess.run([sys.executable, __file__, "--phase", "gen",
                        "--out", args.out, "--hosts", str(args.hosts),
                        "--cars-total", str(args.cars_total)],
                       check=True, cwd=ROOT)
    cores_list = [int(x) for x in args.cores.split(",")]

    def _run_levels(script: str, cwd: str, phase: str) -> dict:
        out = {}
        for c in cores_list:
            cmd = [sys.executable, script, "--phase", phase,
                   "--out", args.out, "--hosts", str(args.hosts),
                   "--run-cores", str(c)]
            if phase == "run" and args.saturated:
                cmd.append("--saturated")
            if phase == "run" and args.verify_only:
                cmd.append("--verify-only")
            if phase == "pool_control" and args.control_files:
                cmd += ["--control-files", str(args.control_files)]
            p = subprocess.run(cmd, check=True, cwd=cwd,
                               capture_output=True, text=True)
            line = [ln for ln in p.stdout.splitlines()
                    if ln.startswith('{"phase"')][-1]
            out[c] = json.loads(line)
            print(line, flush=True)
        return out

    def _eff(res: dict) -> float:
        cs = sorted(res)
        lo, hi = cs[0], cs[-1]
        return round((res[hi]["throughput_urls_per_sec"]
                      / res[lo]["throughput_urls_per_sec"]) / (hi / lo), 3)

    results = _run_levels(__file__, ROOT, "run")
    cs = sorted(results)
    summary = {
        "phase": "summary",
        "mode": ("verify_only" if args.verify_only
                 else "saturated" if args.saturated else "from_seed"),
        "cores": cs,
        "throughput": {c: results[c]["throughput_urls_per_sec"] for c in cs},
        "seconds": {c: results[c]["seconds"] for c in cs},
        "scaling_efficiency": _eff(results),
    }

    if args.pool_control == "true":
        # the environment control rides INSIDE the artifact: same-day
        # bare-metal (no-Spark) scaling of the identical decode work.
        # A CONTROL, not a ceiling — the engine can exceed it (see
        # run_pool_control); the raw scaling_efficiency is the gate.
        ctl = _run_levels(__file__, ROOT, "pool_control")
        summary["same_day_control"] = {
            "throughput": {c: ctl[c]["throughput_urls_per_sec"]
                           for c in sorted(ctl)},
            "scaling_efficiency": _eff(ctl),
        }
        ce = summary["same_day_control"]["scaling_efficiency"]
        if ce > 0:
            summary["efficiency_vs_same_day_control"] = round(
                summary["scaling_efficiency"] / ce, 3)

    if args.control_ref:
        # pinned prior-binary control in the same session, same world
        import tempfile
        ctl = tempfile.mkdtemp(prefix="scaling_ctl_")
        try:
            subprocess.run(["git", "worktree", "add", "--detach", ctl,
                            args.control_ref], cwd=ROOT, check=True,
                           capture_output=True)
            ctl_script = os.path.join(ctl, "tools", "scaling_bench.py")
            ctl_res = _run_levels(ctl_script, ctl, "run")
            summary["control"] = {
                "ref": args.control_ref,
                "throughput": {c: ctl_res[c]["throughput_urls_per_sec"]
                               for c in sorted(ctl_res)},
                "scaling_efficiency": _eff(ctl_res),
            }
        except Exception as e:  # control is evidence, never a gate
            summary["control"] = {"ref": args.control_ref,
                                  "error": str(e)[:300]}
        finally:
            subprocess.run(["git", "worktree", "remove", "--force", ctl],
                           cwd=ROOT, capture_output=True)
    # stamp the measurement session: every number in this summary (pair
    # legs, same-day pool control, pinned control) ran back-to-back in
    # THIS invocation — the "same-day" claim is structural, not prose
    import time
    summary["measured_at"] = time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                           time.gmtime())
    # world sizes from the gen-time manifest, not the CLI args: with a
    # pre-existing world dir the args describe what the caller ASKED for,
    # not what is on disk
    try:
        with open(f"{args.out}/world.json") as fh:
            summary["world"] = json.load(fh)
    # ValueError covers a truncated/corrupt manifest (gen killed mid-write
    # — the parquet-existence check still skips regen): the summary of a
    # multi-hour session must never die on its last line
    except (OSError, ValueError):
        summary["world"] = {
            "note": "pre-existing world dir without a manifest — sizes "
                    "unknown; per-leg urls_fetched above is the record",
            "urls_fetched_per_leg": {
                c: results[c].get("urls_fetched") for c in cs},
        }
    summary["criterion"] = (
        "north-rule gate: raw scaling_efficiency >= 0.8 at the recorded "
        "core pair. same_day_control is a same-session multiprocessing "
        "reference, NOT an upper bound (the engine overlaps IO/planning "
        "with compute and can exceed it); it only contextualizes sub-0.8 "
        "raw readings taken during slow box phases")
    print(json.dumps(summary))
    if args.emit:
        with open(args.emit, "w") as fh:
            json.dump(summary, fh, indent=1)


if __name__ == "__main__":
    main()
