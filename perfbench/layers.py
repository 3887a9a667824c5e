"""Per-layer metrics of a traced run.

Three sources, all read from outside the engine:

* spans (``spans.Tracer``) around the public functions of each layer —
  driver-side time, mostly plan construction for the lazy DataFrame calls;
* the engine's own accounting — ``WaveStats`` per wave and the
  ``metrics`` table of each ``CrawlEngine``;
* the Spark event log — executor time, shuffle and spill per task, and the
  "time to run Python workers" metric of each ``MapInPandas`` /
  ``FlatMapGroupsInPandas`` / ``FlatMapCoGroupsInPandas`` plan node, which
  names the Python function it runs and so the layer.

Only the measured passes count (tasks launched inside a timed segment);
sums are per pass.  Every metric is reported on every workload, as 0
where the workload does not exercise the layer.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

from bench_corpus import HEADLINE

S, COUNT, RATIO, BYTES = "s", "count", "ratio", "bytes"

# name -> unit, in report order
PER_LAYER = {
    # workload figures (end-to-end for one workload only)
    "crawl.urls_per_s": "URL/s",
    "deep.urls_per_s": "URL/s",
    "bulk.urls_per_s": "URL/s",
    "deep.wave_s_p50": S,
    "bulk.wave_s_p50": S,
    "deep.resume_s": S,
    "deep.recrawl_s": S,
    "corpus.dedup_s": S,
    "corpus.ann_s": S,
    "corpus.sql_s": S,
    "ops_failed_ratio": RATIO,
    "setup.process_s": S,
    "cores": COUNT,
    "passes": COUNT,
    "memory.peak_rss_mb": "MB",
    # plans.crawl
    "deep.waves": COUNT,
    "bulk.waves": COUNT,
    "deep.plan_s": S,
    "bulk.plan_s": S,
    "deep.stats_job_s": S,
    "bulk.stats_job_s": S,
    "deep.commit_s": S,
    "bulk.commit_s": S,
    "deep.core_idle_share": RATIO,
    "bulk.core_idle_share": RATIO,
    "engine.run_wave_s": S,
    "engine.run_wave_self_s": S,
    "engine.start_s": S,
    "engine.resume_s": S,
    "engine.recrawl_s": S,
    "engine.finalize_s": S,
    # operators.politeness
    "politeness.top_b_calls": COUNT,
    "politeness.top_b_s": S,
    "politeness.salt_n_max": COUNT,
    "politeness.robots_gate_s": S,
    # operators.bloom
    "bloom.build_s": S,
    "bloom.probe_s": S,
    "bloom.python_s": S,
    "filter.bytes_written": BYTES,
    "filter.files_reused": COUNT,
    # operators.cuckoo
    "cuckoo.build_s": S,
    "cuckoo.probe_s": S,
    "cuckoo.delete_s": S,
    "cuckoo.python_s": S,
    # sources.fetch
    "fetch.requests": COUNT,
    "fetch.ok_ratio": RATIO,
    "fetch.requeued": COUNT,
    "fetch.errors": COUNT,
    "fetch.partition_skew": RATIO,
    "fetch.plan_s": S,
    "fetch.python_s": S,
    # functions.html_extract
    "html_extract.rows": COUNT,
    "html_extract.plan_s": S,
    "html_extract.python_s": S,
    # stage V (functions.imaging)
    "verify.python_s": S,
    "verify.images_ok_ratio": RATIO,
    # sources.warehouse
    "warehouse.write_s": S,
    "warehouse.read_s": S,
    "warehouse.rollback_s": S,
    "warehouse.retag_s": S,
    "warehouse.bytes_on_disk": BYTES,
    "warehouse.bytes_per_saved_car": BYTES,
    "state.rows_written": COUNT,
    "state.compactions": COUNT,
    # queries (filled in below)
    # Spark executors
    "spark.jobs": COUNT,
    "spark.tasks": COUNT,
    "spark.executor_run_s": S,
    "spark.executor_cpu_s": S,
    "spark.gc_s": S,
    "spark.shuffle_write_bytes": BYTES,
    "spark.shuffle_read_bytes": BYTES,
    "spark.spill_bytes": BYTES,
    "spark.task_skew_max": RATIO,
    "spark.python_s": S,
    "spark.error_log_lines": COUNT,
    # tracing
    "trace.pass_s": S,
    "trace.spans": COUNT,
    "trace.overhead_share": RATIO,
}
PER_LAYER.update({f"queries.{q}_s": S for q in HEADLINE})

PLAN_KEYS = ("plan_L", "plan_C", "plan_P", "plan_state")


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def _wave_sums(waves, keys) -> float:
    return sum(float(v) for s in waves for k, v in (s.detail or {}).items()
               if k in keys or any(k.startswith(p) for p in keys
                                   if p.endswith("_")))


def _engine_metrics(eng) -> list:
    return [r.asDict() for r in eng.metrics().collect()]


def crawl_layers(res: dict, tracer, extra: dict, windows: list) -> dict:
    """Layer metrics from spans, WaveStats and the engines' tables; spans
    count only inside the timed windows."""
    passes = res["passes"]
    n = len(passes)
    m: dict[str, float] = {}
    for phase in ("deep", "bulk"):
        waves = [getattr(p, f"{phase}_waves") for p in passes]
        m[f"{phase}.waves"] = _med([len(w) for w in waves])
        m[f"{phase}.plan_s"] = sum(_wave_sums(w, PLAN_KEYS)
                                   for w in waves) / n
        m[f"{phase}.stats_job_s"] = sum(_wave_sums(w, ("stats_job",))
                                        for w in waves) / n
        m[f"{phase}.commit_s"] = sum(_wave_sums(w, ("wt_",))
                                     for w in waves) / n
        m[f"{phase}.wave_s_p50"] = _med(
            [d for p in passes for d in getattr(p, f"{phase}_wave_s")])
        m[f"{phase}.urls_per_s"] = _med([
            sum(s.selected + s.discovered for s in w)
            / getattr(p, f"{phase}_crawl_s") for p, w in zip(passes, waves)])
    m["crawl.urls_per_s"] = extra["urls_per_s"]
    m["deep.resume_s"] = extra["resume_s"]
    m["deep.recrawl_s"] = extra["recrawl_s"]

    c = passes[0].counters
    m["fetch.requests"] = c["fetched"]
    m["fetch.ok_ratio"] = c["fetch_ok"] / c["fetched"] if c["fetched"] else 0
    m["fetch.requeued"] = c["requeued"]
    m["fetch.errors"] = c["errors"]

    # the engines' metrics tables (last pass)
    eng = passes[-1].engines
    bulk_rows = _engine_metrics(eng["bulk"])
    per_part: dict[int, int] = defaultdict(int)
    for r in bulk_rows:
        if r["metric"] == "fetched" and r["partition_id"] >= 0:
            per_part[r["partition_id"]] += r["value"]
    vals = sorted(v for v in per_part.values() if v > 0)
    m["fetch.partition_skew"] = max(vals) / _med(vals) if vals else 0.0
    m["filter.bytes_written"] = sum(
        r["value"] for r in bulk_rows
        if r["kind"] == "filter" and r["metric"] == "bytes_written")
    m["filter.files_reused"] = sum(
        r["value"] for r in bulk_rows
        if r["kind"] == "filter" and r["metric"] == "files_reused")
    deep_rows = _engine_metrics(eng["deep"])
    m["state.rows_written"] = sum(
        r["value"] for r in deep_rows if r["kind"] in ("frontier", "pending")
        and r["metric"] == "rows_written" and r["value"] > 0)
    m["state.compactions"] = sum(
        r["value"] for r in deep_rows if r["kind"] in ("frontier", "pending")
        and r["metric"] == "compacted")

    imgs = [r.image_ok for e in (eng["deep"], eng["bulk"])
            for r in e.car_images().select("image_ok").collect()]
    m["verify.images_ok_ratio"] = sum(imgs) / len(imgs) if imgs else 0.0
    saved = sum(e.cars_final().count() for e in (eng["deep"], eng["bulk"]))
    disk = sum(_du(p) for p in passes[-1].warehouses)
    m["warehouse.bytes_on_disk"] = disk
    m["warehouse.bytes_per_saved_car"] = disk / saved if saved else 0.0

    # spans (measured passes only)
    t = tracer.totals(windows)

    def tot(name, key="total_s"):
        return t.get(name, {}).get(key, 0.0) / n

    m["engine.run_wave_s"] = tot("engine.run_wave")
    # run_wave minus the wrapped layer calls inside it
    m["engine.run_wave_self_s"] = tot("engine.run_wave", "self_s")
    m["engine.start_s"] = tot("engine.start") + tot("engine.start_from_df")
    m["engine.resume_s"] = tot("engine.resume")
    m["engine.recrawl_s"] = tot("engine.recrawl")
    m["engine.finalize_s"] = tot("engine.finalize")
    m["politeness.top_b_calls"] = tot("politeness.top_b_per_host", "count")
    m["politeness.top_b_s"] = tot("politeness.top_b_per_host")
    m["politeness.salt_n_max"] = max(
        (s.get("kwargs", {}).get("salt_n") or 1 for s in tracer.timed(windows)
         if s["name"] == "politeness.top_b_per_host"), default=0)
    m["politeness.robots_gate_s"] = tot("politeness.robots_gate")
    m["bloom.build_s"] = tot("bloom.build_filters")
    m["bloom.probe_s"] = tot("bloom.probe_filters")
    m["cuckoo.build_s"] = tot("cuckoo.build_cuckoo")
    m["cuckoo.probe_s"] = tot("cuckoo.probe_cuckoo")
    m["cuckoo.delete_s"] = tot("cuckoo.delete_cuckoo")
    m["fetch.plan_s"] = tot("fetch.fetched_frontier")
    m["html_extract.plan_s"] = tot("html_extract.payloads_from_html")
    m["warehouse.write_s"] = tot("warehouse.write") + tot(
        "warehouse.write_sharded")
    m["warehouse.read_s"] = tot("warehouse.read")
    m["warehouse.rollback_s"] = tot("warehouse.rollback_to_tag")
    m["warehouse.retag_s"] = tot("warehouse.retag")
    return m


def corpus_layers(res: dict, tracer, extra: dict) -> dict:
    m = {f"corpus.{fam}_s": extra[f"{fam}_s"]
         for fam in ("dedup", "ann", "sql")}
    m.update({f"queries.{q}_s": v for q, v in extra["queries_s"].items()})
    return m


# --------------------------------------------------------------- event log
def _plan_nodes(info: dict):
    yield info
    for c in info.get("children", []):
        yield from _plan_nodes(c)


def _py_func(node: dict) -> str | None:
    """The Python function a pandas plan node runs, from its simpleString
    (``MapInPandas fetch(url_norm#1, ...)#9, ...``)."""
    name = node.get("nodeName", "")
    if "InPandas" not in name:
        return None
    s = node.get("simpleString", "")
    rest = s[len(name):].lstrip()
    # skip grouping attribute lists ([k#1], [k#2]) to the function call
    while rest.startswith("["):
        rest = rest[rest.index("]") + 1:].lstrip(", ")
    func = rest.split("(", 1)[0].strip()
    if func == "probe":
        return "probe_bloom" if "bitset#" in s else "probe_cuckoo"
    return func


def event_log_metrics(event_dir: str, windows: list, n_passes: int,
                      cores: int) -> dict:
    """Executor-side metrics over the tasks launched inside the timed
    windows [(start_epoch_s, end_epoch_s, phase)], per pass."""
    files = sorted(glob.glob(os.path.join(event_dir, "*")))
    acc_node: dict[int, tuple] = {}     # accumulator id -> (func, metric)
    jobs = tasks = 0
    run_ms = cpu_ns = gc_ms = 0
    sh_w = sh_r = spill = 0
    py: dict[str, float] = defaultdict(float)
    html_rows = 0
    stage_tasks: dict[int, list] = defaultdict(list)
    phase_run_ms: dict[str, float] = defaultdict(float)
    wins = [(a * 1000.0, b * 1000.0, p) for a, b, p in windows]

    def phase_of(ms):
        for a, b, p in wins:
            if a <= ms <= b:
                return p
        return None

    for path in files:
        with open(path, errors="replace") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind.endswith("SQLExecutionStart") or kind.endswith(
                        "SQLAdaptiveExecutionUpdate"):
                    for node in _plan_nodes(ev.get("sparkPlanInfo", {})):
                        func = _py_func(node)
                        if not func:
                            continue
                        for mt in node.get("metrics", []):
                            acc_node[mt["accumulatorId"]] = (
                                func, mt["name"], mt.get("metricType", ""))
                elif kind == "SparkListenerJobStart":
                    if phase_of(ev.get("Submission Time", 0)):
                        jobs += 1
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info", {})
                    phase = phase_of(info.get("Launch Time", 0))
                    if phase is None:
                        continue
                    tm = ev.get("Task Metrics") or {}
                    tasks += 1
                    r = tm.get("Executor Run Time", 0)
                    run_ms += r
                    phase_run_ms[phase] += r
                    cpu_ns += tm.get("Executor CPU Time", 0)
                    gc_ms += tm.get("JVM GC Time", 0)
                    spill += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0)
                    sw = tm.get("Shuffle Write Metrics") or {}
                    sh_w += sw.get("Shuffle Bytes Written", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    sh_r += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0)
                    stage_tasks[ev.get("Stage ID", -1)].append(r)
                    for a in info.get("Accumulables", []):
                        node = acc_node.get(a.get("ID"))
                        if node is None:
                            continue
                        func, name, mtype = node
                        try:
                            upd = float(a.get("Update", 0))
                        except (TypeError, ValueError):
                            continue
                        if name == "time to run Python workers":
                            scale = 1e-9 if mtype == "nsTiming" else 1e-3
                            py[func] += upd * scale
                        elif name == "number of output rows" and \
                                func == "stage":
                            html_rows += upd
    n = max(n_passes, 1)
    skews = [max(ts) / _med(ts) for ts in stage_tasks.values()
             if len(ts) >= 2 and _med(ts) > 0]
    m = {
        "spark.jobs": jobs / n,
        "spark.tasks": tasks / n,
        "spark.executor_run_s": run_ms / 1e3 / n,
        "spark.executor_cpu_s": cpu_ns / 1e9 / n,
        "spark.gc_s": gc_ms / 1e3 / n,
        "spark.shuffle_write_bytes": sh_w / n,
        "spark.shuffle_read_bytes": sh_r / n,
        "spark.spill_bytes": spill / n,
        "spark.task_skew_max": max(skews, default=0.0),
        "spark.python_s": sum(py.values()) / n,
        "html_extract.rows": html_rows / n,
        "bloom.python_s": (py["merge"] + py["probe_bloom"]) / n,
        "cuckoo.python_s": (py["apply"] + py["probe_cuckoo"]) / n,
        "fetch.python_s": py["fetch"] / n,
        "html_extract.python_s": py["stage"] / n,
        "verify.python_s": py["_verify_pixels"] / n,
    }
    for phase in ("deep", "bulk"):
        wall = sum(b - a for a, b, p in windows if p == phase)
        if wall > 0:
            m[f"{phase}.core_idle_share"] = 1.0 - (
                phase_run_ms[phase] / 1e3) / (cores * wall)
    return m


def finish(layer: dict, extra: dict, pass_s: float, n_spans: int,
           overhead_share: float) -> dict:
    """Every per-layer metric, 0 where the workload has none."""
    out = {k: 0.0 for k in PER_LAYER}
    out.update(layer)
    out["ops_failed_ratio"] = extra["failed"] / max(extra["attempted"], 1)
    out["setup.process_s"] = extra["setup_process_s"]
    out["cores"] = extra["cores"]
    out["passes"] = extra["passes"]
    out["memory.peak_rss_mb"] = extra["peak_rss_mb"]
    out["trace.pass_s"] = pass_s
    out["trace.spans"] = n_spans / max(extra["passes"], 1)
    out["trace.overhead_share"] = overhead_share
    return {k: out[k] for k in PER_LAYER}
