"""The traced run: per-layer metrics for one workload.

After the same set-up as the untraced run, it runs the workload's timed
phase with every span and job tag of ``tracing`` on, harvesting Spark's
status stores after each crawl. Its ``trace.urls_per_s`` against the
untraced run's ``urls_per_s`` on the same seed is the tracing overhead
(both time the same crawl of a fresh JVM). Spans, the harvest and every
metric are kept in memory and written at the end to
``.perfbench/trace-<workload>-<seed>.json``.

``DECLARED`` lists the per-layer metrics every workload emits (the ones
``BENCHMARK.json`` names); layers only one workload exercises (bloom,
delta queue, compaction, the pandas cogroup) are printed and written to
the trace file as extras.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import statistics
import time
from urllib.parse import urlparse

from perfbench import probes
from perfbench.tracing import TAG_PREFIX, Tracer, covered_s

SHARED_TABLES = ("documents", "mentions", "page_stats", "products", "scheduled")
EXTRA_TABLES = ("frontier", "seen_bloom", "frontier_q", "frontier_cursor")
ARROW_KEYS = {
    "bytes_to_python": "B",
    "bytes_from_python": "B",
    "rows_from_python": "count",
    "python_run_s": "s",
    "python_init_s": "s",
}
SPARK_KEYS = {
    "jobs": "count/kurl",
    "tasks": "count/kurl",
    "executor_cpu_s": "s/kurl",
    "shuffle_read_bytes": "B/kurl",
    "shuffle_write_bytes": "B/kurl",
}
JVM_KEYS = {"jit_cpu_s": "s", "gc_s": "s", "gc_count": "count",
            "codegen_compiles": "count"}
KERNEL_SAMPLE = 200


def _declared() -> dict[str, str]:
    d: dict[str, str] = {}
    for t in SHARED_TABLES:
        d[f"catalog.write_s.{t}"] = "s"
        d[f"catalog.write_bytes.{t}"] = "B/url"
    d["catalog.read_dirs"] = "count"
    d["driver.round_s"] = "s"
    d["driver.jobs_per_round"] = "count"
    d["driver.untraced_s_per_round"] = "s"
    d["synthgen.render_us"] = "us"
    d["html_tokens.tokenize_us"] = "us"
    d["parse_spans.spans_us"] = "us"
    for k, u in ARROW_KEYS.items():
        d[f"arrow.MapInArrow.{k}"] = u
    for k, u in SPARK_KEYS.items():
        d[f"spark.{k}_per_kurl"] = u
    for k, u in JVM_KEYS.items():
        d[f"jvm.{k}"] = u
    d["pyworker.cpu_s_per_kurl"] = "s/kurl"
    d["api.task_status_ms"] = "ms"
    d["api.get_urls_ms"] = "ms"
    return d


# name -> unit of every per-layer metric each workload's traced run emits
DECLARED = _declared()


def _span_tag(tags: list[str]) -> str:
    """The innermost benchmark span a job ran under: a catalog write or
    compaction nests inside a delta-frontier or api span."""
    names = [t.split(TAG_PREFIX, 1)[1] for t in tags if TAG_PREFIX in t]
    inner = [n for n in names if n.startswith(("write:", "compact:"))]
    return (inner or names or ["(untagged)"])[0]


@contextlib.contextmanager
def _traced_api(tracer: Tracer):
    """Swap the api module's catalog for the tracing one and span its two
    read endpoints while the block runs."""
    from webcrawlerfull_spark import api

    saved = api.Catalog, api.task_status, api.get_urls

    def task_status(*args, **kwargs):
        with tracer.span("api.task_status"):
            return saved[1](*args, **kwargs)

    def get_urls(*args, **kwargs):
        # the endpoint returns a lazy frame: the span covers building it;
        # the client's collect runs under the caller's own timing
        with tracer.span("api.get_urls"):
            return saved[2](*args, **kwargs)

    api.Catalog = tracer.catalog_class()
    api.task_status, api.get_urls = task_status, get_urls
    try:
        yield
    finally:
        api.Catalog, api.task_status, api.get_urls = saved


def kernel_us(world, seed: int) -> dict[str, float]:
    """Spark-free per-page cost of the three Python kernels the fetch
    stage runs, on a fixed seeded sample of the world's pages."""
    from webcrawlerfull_spark.html_tokens import tokenize_fast
    from webcrawlerfull_spark.operators.parse_spans import spans_of
    from webcrawlerfull_spark.oracle import refcrawler

    seed_url = world.seeds()[0]
    urls = sorted(refcrawler.crawl_domain(world, seed_url, 3).visited)
    urls = random.Random(seed).sample(urls, min(KERNEL_SAMPLE, len(urls)))
    pages = [(u, world.fetch(u)) for u in urls]
    pages = [(u, h) for u, h in pages if h is not None]
    netloc = urlparse(seed_url).netloc
    runs: dict[str, list[float]] = {"render": [], "tokenize": [], "spans": []}
    for _ in range(3):
        t = time.perf_counter()
        for u, _h in pages:
            world.fetch(u)
        runs["render"].append(time.perf_counter() - t)
        t = time.perf_counter()
        for _u, h in pages:
            tokenize_fast(h)
        runs["tokenize"].append(time.perf_counter() - t)
        t = time.perf_counter()
        for u, h in pages:
            spans_of(h, u, netloc)
        runs["spans"].append(time.perf_counter() - t)
    per_page = {k: 1e6 * statistics.median(v) / len(pages) for k, v in runs.items()}
    return {
        "synthgen.render_us": per_page["render"],
        "html_tokens.tokenize_us": per_page["tokenize"],
        "parse_spans.spans_us": per_page["spans"],
    }


def traced_run(wl, out_dir: str, args) -> dict:
    from perfbench.run import log

    tracer = Tracer(wl.spark)
    store = probes.StatusStore(wl.spark)
    jvm_pid = probes.jvm_pid(wl.pid)
    crawl_jobs: list[dict] = []
    arrow_rows: list[dict] = []
    crawl_windows: list[tuple[float, float]] = []
    jvm_total = {k: 0.0 for k in JVM_KEYS}
    cpu = {"tree": 0.0, "jvm": 0.0, "driver": 0.0}
    marks: dict = {}

    def before_crawl() -> None:
        tracer.round = 0
        marks["jvm"] = wl.jvm.snapshot()
        marks["t"] = tracer.now()
        marks["tree"] = probes.tree_cpu_s(wl.pid)
        marks["jvm_cpu"] = probes.proc_self_cpu_s(jvm_pid)
        marks["driver"] = probes.proc_self_cpu_s(wl.pid)

    def after_crawl() -> None:
        cpu["tree"] += probes.tree_cpu_s(wl.pid) - marks["tree"]
        cpu["jvm"] += probes.proc_self_cpu_s(jvm_pid) - marks["jvm_cpu"]
        cpu["driver"] += probes.proc_self_cpu_s(wl.pid) - marks["driver"]
        end = tracer.now()
        crawl_windows.append((marks["t"], end))
        tracer.spans.append({"name": "crawl", "start": marks["t"], "end": end,
                             "round": None, "thread": "MainThread"})
        for k, v in probes.delta(wl.jvm.snapshot(), marks["jvm"]).items():
            jvm_total[k] += v
        # harvest now: a long run would otherwise lose jobs to Spark's
        # retention limits
        got = store.harvest()
        crawl_jobs.extend(got["jobs"])
        arrow_rows.extend(got["arrow"])

    wl.before_crawl, wl.after_crawl = before_crawl, after_crawl
    with tracer.wrap_delta_frontier(), _traced_api(tracer):
        traced = wl.measure(tracer.catalog_class())
    wl.before_crawl = wl.after_crawl = None
    read_jobs = store.harvest()["jobs"]

    samples = traced["samples"]
    k = len(samples)
    urls = sum(s["fetched"] for s in samples)
    kurl = urls / 1000.0
    rounds = [r for s in samples for r in s["round_s"]]
    traced_ups = statistics.median(s["fetched"] / s["wall_s"] for s in samples)
    spans = tracer.spans
    crawl_spans = [
        s for s in spans
        if any(a <= s["start"] and s["end"] <= b for a, b in crawl_windows)
    ]

    def span_sum(name: str, key: str = "dur") -> float:
        return sum(
            (s["end"] - s["start"]) if key == "dur" else s.get(key, 0)
            for s in crawl_spans if s["name"] == name
        )

    m: dict[str, tuple[float, str]] = {}
    extras: dict[str, tuple[float, str]] = {}
    for t in SHARED_TABLES + EXTRA_TABLES:
        dest = m if t in SHARED_TABLES else extras
        dest[f"catalog.write_s.{t}"] = (span_sum(f"write:{t}") / k, "s")
        dest[f"catalog.write_bytes.{t}"] = (
            span_sum(f"write:{t}", "bytes") / urls, "B/url")
    compacts = [s for s in crawl_spans if s["name"].startswith("compact:")]
    extras["catalog.compact_s"] = (
        sum(s["end"] - s["start"] for s in compacts) / k, "s")
    extras["catalog.compact_bytes"] = (
        sum(s.get("bytes", 0) for s in compacts) / urls, "B/url")
    m["catalog.read_dirs"] = (statistics.mean(tracer.read_dirs), "count")
    m["driver.round_s"] = (statistics.median(rounds), "s")
    m["driver.jobs_per_round"] = (len(crawl_jobs) / len(rounds), "count")
    untraced_s = sum(
        (b - a) - covered_s(
            [s for s in crawl_spans if s["name"] != "crawl"], a, b)
        for a, b in crawl_windows
    )
    m["driver.untraced_s_per_round"] = (untraced_s / len(rounds), "s")
    extras["delta_frontier.backlog_s"] = (
        span_sum("delta_frontier.backlog") / k, "s")
    extras["delta_frontier.compact_s"] = (
        span_sum("delta_frontier.compact") / k, "s")

    for name, v in kernel_us(wl.world, wl.seed).items():
        m[name] = (v, "us")

    for node in probes.ARROW_NODES:
        rows = [r for r in arrow_rows if r["node"] == node]
        dest = m if node == "MapInArrow" else extras
        for key, unit in ARROW_KEYS.items():
            dest[f"arrow.{node}.{key}"] = (
                sum(r.get(key, 0.0) for r in rows) / k, unit)

    stages = [st for j in crawl_jobs for st in j["stages"]]
    totals = {key: sum(st[key] for st in stages)
              for key in ("tasks", "executor_cpu_s", "shuffle_read_bytes",
                          "shuffle_write_bytes", "spill_bytes")}
    totals["jobs"] = len(crawl_jobs)
    for key, unit in SPARK_KEYS.items():
        m[f"spark.{key}_per_kurl"] = (totals[key] / kurl, unit)
    extras["spark.spill_bytes_per_kurl"] = (totals["spill_bytes"] / kurl, "B/kurl")
    by_tag: dict[str, dict] = {}
    for j in crawl_jobs:
        row = by_tag.setdefault(_span_tag(j["tags"]), {
            "jobs": 0, "executor_cpu_s": 0.0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0})
        row["jobs"] += 1
        for st in j["stages"]:
            for key in ("executor_cpu_s", "shuffle_read_bytes",
                        "shuffle_write_bytes", "spill_bytes"):
                row[key] += st[key]
    for tag, row in sorted(by_tag.items()):
        for key, v in row.items():
            unit = {"jobs": "count/kurl", "executor_cpu_s": "s/kurl"}.get(key, "B/kurl")
            extras[f"spark.by_tag.{tag}.{key}_per_kurl"] = (v / kurl, unit)

    for key, unit in JVM_KEYS.items():
        m[f"jvm.{key}"] = (jvm_total[key] / k, unit)
    m["pyworker.cpu_s_per_kurl"] = (
        (cpu["tree"] - cpu["jvm"] - cpu["driver"]) / kurl, "s/kurl")
    for kind in ("task_status", "get_urls"):
        lat = [c[kind] for c in traced["latencies"]]
        m[f"api.{kind}_ms"] = (1000 * statistics.median(lat), "ms")
    extras["trace.urls_per_s"] = (traced_ups, "url/s")

    missing = set(DECLARED) - set(m)
    if missing:
        raise RuntimeError(f"traced run did not produce {sorted(missing)}")
    for name, (v, unit) in sorted({**m, **extras}.items()):
        print(f"# {args.workload} {name} = {v:.6g} {unit}")
    path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
    os.makedirs(out_dir, exist_ok=True)
    with open(path, "w") as f:
        json.dump({
            "workload": args.workload,
            "seed": args.seed,
            "crawls": k,
            "fetched": urls,
            "metrics": {n: {"value": v, "unit": u} for n, (v, u) in m.items()},
            "extras": {n: {"value": v, "unit": u} for n, (v, u) in extras.items()},
            "spans": spans,
            "read_jobs": len(read_jobs),
        }, f, indent=1)
    log(f"trace written to {path}")
    return {n: m[n] for n in DECLARED}
