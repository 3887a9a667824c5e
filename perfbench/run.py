"""Benchmark of the crawl engine and the analytics queries.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 30 --trace 0

Run from the repository root.  Workloads (see perfbench/METRICS.md):

  crawl             deep listing crawl (interrupt, resume, re-crawl) plus a
                    bulk-seeded HTML crawl with a hot host
  corpus_analytics  the fourteen headline queries over seeded tables

One Spark session at ``local[N]``, N from ``SPARK_GRAFT_CPUS`` or the
usable core count.  Set-up starts the session and then materialises the
inputs three times; ``setup_s`` is the session start (process start until
``get_spark`` returns) plus the median input set-up.  Passes then repeat
until ``--seconds`` have elapsed (at least one pass; the first pass is the
first run of every code path in the session).  Outputs are checked
against the oracles outside the timed segments.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
engine's public functions in spans, enables the Spark event log and
reports per-layer metrics instead.  The last stdout line is one JSON
object: correct, attempted, failed, metrics.  Spark's driver log of the
run, spans and a full report are kept under ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_IMPORT = time.time()

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

WORKLOADS = ("crawl", "corpus_analytics")
SETUP_REPEATS = 3
OUT_DIR = ".perfbench_out"


def process_start_epoch() -> float:
    """Wall-clock time this process started (from /proc), falling back to
    the time this module was imported."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return time.time() - (uptime - start_ticks / os.sysconf(
            "SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return T_IMPORT


def core_count() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    if env.isdigit() and int(env) > 0:
        return int(env)
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process in MB, 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Session:
    """The Spark session of one run: driver log, scratch dirs, event log
    and an orderly shutdown of the JVM."""

    def __init__(self, root: str, work: str, log_path: str, cores: int,
                 event_dir: str | None):
        self.cores = cores
        self.log_path = log_path
        for d in ("local", "tmp"):
            os.makedirs(os.path.join(work, d), exist_ok=True)
        # everything Spark and its Python workers write stays in the work
        # dir; the engine package is importable by the workers
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
        os.environ["TMPDIR"] = os.path.join(work, "tmp")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p)
        extra = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        }
        if event_dir:
            os.makedirs(event_dir, exist_ok=True)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        from auto_ria_spark.session import get_spark

        self.spark = get_spark("perfbench", cores=cores,
                               shuffle_partitions=2 * cores, extra=extra)
        self.ready = time.time()
        gw = self.spark.sparkContext._gateway
        self.jvm_pid = getattr(getattr(gw, "proc", None), "pid", None)

    def peak_rss_mb(self) -> float:
        jvm = vm_hwm_mb(self.jvm_pid) if self.jvm_pid else 0.0
        return vm_hwm_mb("self") + jvm

    def stop(self) -> None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        try:
            self.spark.stop()
        finally:
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                # the JVM exits when its stdin pipe closes
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()

    def error_log_lines(self) -> int:
        with open(self.log_path, errors="replace") as fh:
            return sum(" ERROR " in line for line in fh)


# --------------------------------------------------------------- workloads
def run_crawl(sess: Session, args, work: str, tracer) -> dict:
    import bench_crawl as BC

    spark, sp = sess.spark, 2 * sess.cores
    plan = BC.make_plan(args.seed)
    setups = []
    for _ in range(SETUP_REPEATS):
        t = time.perf_counter()
        inp = BC.build_inputs(spark, plan)
        setups.append(time.perf_counter() - t)
        if len(setups) < SETUP_REPEATS:
            BC.release_inputs(inp)
    clock = BC.WaveClock()
    try:
        if tracer is not None:
            install_crawl_spans(tracer)
        t_measure = time.time()
        deadline = time.perf_counter() + args.seconds
        passes = []
        while not passes or time.perf_counter() < deadline:
            passes.append(BC.run_pass(spark, inp, plan, work, sp, clock,
                                      tracer, tag=f"pass{len(passes)}"))
    finally:
        clock.restore()
    return {"setups": setups, "passes": passes, "t_measure": t_measure}


def run_corpus(sess: Session, args, work: str, tracer) -> dict:
    import bench_corpus as BQ
    from __spark_entry__ import oracle_sql, queries

    spark = sess.spark
    tdir = os.path.join(work, "tables")
    # generating the tables is the benchmark's own work: not set-up
    rows = BQ.write(tdir, args.seed)
    setups = []
    for _ in range(SETUP_REPEATS):
        t = time.perf_counter()
        BQ.load_tables(spark, tdir, rows)
        setups.append(time.perf_counter() - t)
    qs = queries()
    if tracer is not None:
        qs = {name: traced_query(tracer, name, fn) for name, fn in qs.items()}
    t_measure = time.time()
    deadline = time.perf_counter() + args.seconds
    passes, windows = [], []
    while not passes or time.perf_counter() < deadline:
        t0 = time.time()
        passes.append(BQ.run_pass(spark, qs, tdir, tracer,
                                  tag=f"pass{len(passes)}"))
        windows.append((t0, time.time(), "corpus"))
    # the oracle check, outside the timed region
    sqls = oracle_sql()
    con = BQ.oracle_connection(tdir, rows)
    check_errors = []
    for name in BQ.HEADLINE:
        try:
            expected = BQ.oracle_rows(con, sqls[name])
        except Exception as e:  # a failed oracle is reported, not fatal
            check_errors.append(f"{name}: oracle {type(e).__name__}: {e}")
            continue
        for i, (_, results, _) in enumerate(passes):
            if name in results:
                err = BQ.compare(*results[name], expected)
                if err:
                    check_errors.append(f"{name} (pass {i}): {err}")
    con.close()
    counters = {f"rows.{q}": len(r[1])
                for q, r in sorted(passes[0][1].items())}
    return {"setups": setups, "rows": rows,
            "check_errors": check_errors, "counters": counters,
            "passes": [(t, errs) for t, _, errs in passes],
            "windows": windows, "t_measure": t_measure}


# ----------------------------------------------------------------- tracing
def install_crawl_spans(tracer) -> None:
    """Spans around the public functions of each crawl layer, patched
    where the engine looks them up."""
    from auto_ria_spark.functions import html_extract
    from auto_ria_spark.operators import bloom, cuckoo
    from auto_ria_spark.plans import crawl
    from auto_ria_spark.sources.warehouse import SnapshotTable

    E = crawl.CrawlEngine
    for m in ("start", "start_from_df", "run_wave", "resume", "recrawl",
              "finalize"):
        tracer.wrap(E, m, f"engine.{m}")
    tracer.wrap(crawl, "top_b_per_host", "politeness.top_b_per_host",
                keep_kwargs=("salt_n",))
    tracer.wrap(crawl, "robots_gate", "politeness.robots_gate")
    tracer.wrap(crawl, "fetched_frontier", "fetch.fetched_frontier")
    tracer.wrap(bloom, "build_filters", "bloom.build_filters")
    tracer.wrap(bloom, "probe_filters", "bloom.probe_filters")
    tracer.wrap(cuckoo, "build_cuckoo", "cuckoo.build_cuckoo")
    tracer.wrap(cuckoo, "probe_cuckoo", "cuckoo.probe_cuckoo")
    tracer.wrap(cuckoo, "delete_cuckoo", "cuckoo.delete_cuckoo")
    tracer.wrap(html_extract, "payloads_from_html",
                "html_extract.payloads_from_html")
    for m in ("write", "write_sharded", "read", "rollback_to_tag", "retag"):
        tracer.wrap(SnapshotTable, m, f"warehouse.{m}")


def traced_query(tracer, name, fn):
    def run(spark, sf_dir):
        span = tracer.start(f"queries.{name}")
        try:
            return fn(spark, sf_dir)
        finally:
            tracer.end(span)
    return run


# ----------------------------------------------------------------- metrics
E2E_UNITS = {"setup_s": "s", "pass_s": "s"}


def setup_s(res: dict, sess: Session, t_start: float) -> float:
    """Session start plus the median input set-up."""
    return (sess.ready - t_start) + median(res["setups"])


def crawl_report(res: dict, sess: Session,
                 t_start: float) -> tuple[dict, dict]:
    passes = res["passes"]
    attempted = sum(p.attempted for p in passes)
    failed = sum(p.failed for p in passes)
    errors = [e for p in passes for e in p.errors]
    # the counters must repeat exactly from pass to pass
    for p in passes[1:]:
        attempted += 1
        if p.counters != passes[0].counters:
            failed += 1
            errors.append(f"counters changed between passes: "
                          f"{p.counters} vs {passes[0].counters}")
    waves_s = [w for p in passes for w in p.deep_wave_s + p.bulk_wave_s]
    urls = [(p.counters["fetched"] + p.counters["discovered"]) / p.pass_s
            for p in passes]
    e2e = {
        "setup_s": setup_s(res, sess, t_start),
        "pass_s": median([p.pass_s for p in passes]),
    }
    extra = {
        "urls_per_s": median(urls),
        "wave_s_p50": median(waves_s),
        "resume_s": median([p.resume_s for p in passes]),
        "recrawl_s": median([p.recrawl_s for p in passes]),
        "passes": len(passes),
        "pass_s_all": [p.pass_s for p in passes],
        "wave_s_all": waves_s,
        "counters": passes[0].counters,
        "attempted": attempted, "failed": failed, "errors": errors,
    }
    return e2e, extra


def corpus_report(res: dict, sess: Session,
                  t_start: float) -> tuple[dict, dict]:
    import bench_corpus as BQ

    passes = res["passes"]
    errors = res["check_errors"] + [e for _, errs in passes for e in errs]
    # each query: one run and one oracle check per pass
    attempted = 2 * len(BQ.HEADLINE) * len(passes)
    failed = len(errors)
    totals = [sum(t.values()) for t, _ in passes]
    e2e = {
        "setup_s": setup_s(res, sess, t_start),
        "pass_s": median(totals),
    }
    extra = {f"{fam}_s": median([sum(t[q] for q in qs) for t, _ in passes])
             for fam, qs in BQ.FAMILIES.items()}
    extra.update({
        "queries_s": {q: median([t[q] for t, _ in passes])
                      for q in BQ.HEADLINE},
        "passes": len(passes), "pass_s_all": totals,
        "table_rows": res["rows"], "counters": res["counters"],
        "attempted": attempted, "failed": failed, "errors": errors})
    return e2e, extra


def code_fingerprint(root: str) -> str:
    """Hash of the engine's and the benchmark's Python sources."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(root, "auto_ria_spark", "**",
                                          "*.py"), recursive=True)
                   + glob.glob(os.path.join(root, "perfbench", "*.py"))
                   + [os.path.join(root, "__spark_entry__.py")])
    for path in files:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def check_repeat(out: str, args, extra: dict) -> None:
    """The counters must repeat exactly from run to run: compare with the
    reports of earlier runs of the same code, workload and seed."""
    for trace in (0, 1):
        path = os.path.join(out, "reports",
                            f"{args.workload}-seed{args.seed}-trace{trace}"
                            ".json")
        try:
            with open(path) as fh:
                detail = json.load(fh)["detail"]
            if detail["code"] != extra["code"]:
                continue
            before = detail["counters"]
        except (OSError, ValueError, KeyError):
            continue
        extra["attempted"] += 1
        if before != extra["counters"]:
            extra["failed"] += 1
            extra["errors"].append(
                f"counters differ from the earlier run {path}: "
                f"{extra['counters']} vs {before}")


def untraced_pass_s(out: str, args, code: str) -> float | None:
    """pass_s of the untraced run of the same code, workload and seed, if
    one ran in this checkout (the tracing overhead is measured against
    it)."""
    path = os.path.join(out, "reports",
                        f"{args.workload}-seed{args.seed}-trace0.json")
    try:
        with open(path) as fh:
            report = json.load(fh)
        if report["detail"]["code"] != code:
            return None
        return report["result"]["metrics"]["pass_s"]["value"]
    except (OSError, ValueError, KeyError):
        return None


# -------------------------------------------------------------------- main
def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def measure(args, root: str, out: str, work: str, run_name: str,
            t_start: float) -> tuple[dict, dict]:
    """Run the workload; returns (metrics with units, detail)."""
    log_path = os.path.join(out, "logs", f"{run_name}.log")
    event_dir = os.path.join(work, "events")
    sess = Session(root, work, log_path, core_count(),
                   event_dir if args.trace else None)
    try:
        tracer = None
        if args.trace:
            from spans import Tracer
            tracer = Tracer()
        crawl = args.workload == "crawl"
        res = (run_crawl if crawl else run_corpus)(sess, args, work, tracer)
        e2e, extra = (crawl_report if crawl else corpus_report)(
            res, sess, t_start)
        extra.update(setup_process_s=res["t_measure"] - t_start,
                     session_s=sess.ready - t_start,
                     cores=sess.cores, code=code_fingerprint(root),
                     setup_s_all=res["setups"],
                     peak_rss_mb=sess.peak_rss_mb())
        if args.trace:
            import layers
            windows = ([w for p in res["passes"] for w in p.windows]
                       if crawl else res["windows"])
            layer = (layers.crawl_layers(res, tracer, extra, windows)
                     if crawl else layers.corpus_layers(res, tracer, extra))
            n_spans = len(tracer.timed(windows))
            tracer.dump(os.path.join(out, "spans", f"{run_name}.jsonl"))
    finally:
        sess.stop()
    extra["error_log_lines"] = sess.error_log_lines()
    if not args.trace:
        return {k: (v, E2E_UNITS[k]) for k, v in e2e.items()}, extra
    layer.update(layers.event_log_metrics(
        event_dir, windows, extra["passes"], sess.cores))
    layer["spark.error_log_lines"] = extra["error_log_lines"]
    # measured against the untraced run of the same code, workload and
    # seed; without one the overhead is unavailable and reported as 0
    base = untraced_pass_s(out, args, extra["code"])
    overhead = e2e["pass_s"] / base - 1.0 if base else 0.0
    extra["trace_overhead"] = (f"measured against untraced pass_s {base}"
                               if base else "unavailable: no untraced run "
                               "of this code, workload and seed")
    metrics = layers.finish(layer, extra, e2e["pass_s"], n_spans, overhead)
    return {k: (v, layers.PER_LAYER[k]) for k, v in metrics.items()}, extra


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = process_start_epoch()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "auto_ria_spark",
                                       "__init__.py")):
        print("perfbench: run from the repository root (auto_ria_spark/ "
              "not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    out = os.path.join(root, OUT_DIR)
    run_name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(out, f"work-{run_name}-{os.getpid()}")
    for d in ("logs", "reports", "spans"):
        os.makedirs(os.path.join(out, d), exist_ok=True)
    log_path = os.path.join(out, "logs", f"{run_name}.log")

    # the driver log: this process's stderr, inherited by the JVM
    saved_err = os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    try:
        metrics, extra = measure(args, root, out, work, run_name, t_start)
        check_repeat(out, args, extra)
    except Exception:
        traceback.print_exc()
        os.dup2(saved_err, 2)
        print(f"perfbench: run failed, see {log_path}", file=sys.stderr)
        traceback.print_exc()
        return 1
    finally:
        os.dup2(saved_err, 2)
        os.close(saved_err)
        shutil.rmtree(work, ignore_errors=True)

    result = {
        "correct": extra["failed"] == 0,
        "attempted": extra["attempted"],
        "failed": extra["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }
    with open(os.path.join(out, "reports", f"{run_name}.json"), "w") as fh:
        json.dump({"result": result, "detail": extra}, fh, indent=1,
                  default=str)
    # a readable report first; the result object is the last line
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "detail": extra}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
