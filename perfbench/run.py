"""Warm, shape-matched crawl benchmark for the spark-crawl engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Each run starts one local Spark
session at ``local[<usable cores>]``, warms the engine up with the
workload's own config on a world derived from a different seed, then
measures the workload on the world of ``--seed`` and checks its outputs.
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones (see perfbench/README.md for what each metric should move).

Workloads (why each exists: perfbench/README.md):

- ``parity_crawl``: reference-parity BFS (no budget, max_depth 3) on
  bench.py's world shape; per-URL work dominates.
- ``budget_crawl``: the scale path (politeness budget 20, bloom seen
  filter, compaction every 3 rounds, delta frontier) stopped by
  ``max_rounds``; per-round fixed cost and bloom state dominate.

Both end with the closed-loop API client of the reference's ``GET /task``
and ``GET /urls`` endpoints against the catalog the last crawl left.

Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")

# bench.py's crawl world shape with its per-host ranges (8-11 categories,
# 30-49 products a page) pinned inside them: a seed then changes every
# page, product id and failed fetch but not the crawl's size, so it does
# not move urls_per_s through the share of per-round fixed cost
WORLD_SHAPE = dict(
    base_pages=20000, cat_min=9, cat_span=1, per_page_min=40,
    per_page_span=1, max_pag=6, fail_rate=0.01,
)
# a warm-up world must differ from the measured one: same shape, other seed
WARM_SEED_OFFSET = 1_000_003
MAX_DEPTH = 3
BUDGET = 20
# the first read cycles of a JVM are still on the JIT slope; a p95 would
# need 200 cycles (ten beyond it), so the client reports its median only
READ_CALLS = 12
WARM_READ_CALLS = 4
# --seconds buys whole units of work, so every run of a workload times the
# same work: a warm parity crawl of the full world and a warm budget round
# each take about this long on a 4-core x86 host
PARITY_CRAWL_S = 13.0
BUDGET_ROUND_S = 5.5

# hosts per world; 'tiny' is the smoke self-check's
SIZES = {
    "full": {"parity_hosts": 16, "budget_hosts": 4},
    "tiny": {"parity_hosts": 2, "budget_hosts": 2},
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep Spark, the JVM and Python temp files inside the checkout and
    let the Python workers import the engine from it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "pyspark-shell",
        ]
    )


class Workload:
    """Shared measurement plumbing; subclasses define the crawl config,
    the world size, the timed phase and the output checks."""

    name = ""

    def __init__(self, spark, seed: int, seconds: float, size: dict, work: str):
        from perfbench import probes
        from webcrawlerfull_spark.synthgen import World

        self.spark, self.seed, self.seconds = spark, seed, seconds
        self.size, self.work = size, work
        self.cores = usable_cores()
        self.world = World(seed=seed, n_hosts=self.hosts(), **WORLD_SHAPE)
        self.warm_world = World(
            seed=seed + WARM_SEED_OFFSET, n_hosts=self.hosts(), **WORLD_SHAPE
        )
        self.jvm = probes.Jvm(spark)
        self.pid = os.getpid()
        self._n_cat = 0
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        # the traced run's per-crawl hooks
        self.before_crawl = self.after_crawl = None
        # a Reference, for workloads that check against the reference
        # crawler
        self.reference = None

    # -- per-workload --------------------------------------------------
    def hosts(self) -> int:
        raise NotImplementedError

    def config(self):
        raise NotImplementedError

    def warm_rounds(self) -> int | None:
        """max_rounds of a warm-up crawl."""
        return None

    def timed_crawls(self, catalog_class) -> list[dict]:
        raise NotImplementedError

    def check_crawl(self, res, catalog) -> None:
        raise NotImplementedError

    def expected_state(self, catalog) -> str:
        raise NotImplementedError

    # -- shared --------------------------------------------------------
    def new_catalog(self, catalog_class, tag: str):
        self._n_cat += 1
        return catalog_class(
            self.spark, os.path.join(self.work, f"cat-{tag}-{self._n_cat}")
        )

    def crawl(self, world, catalog, max_rounds: int | None):
        from webcrawlerfull_spark.streaming.driver import crawl

        return crawl(
            self.spark, world.seeds(), self.config(), world, catalog,
            max_rounds=max_rounds,
        )

    def warm_up(self) -> None:
        """One crawl of the warm-up world, then a few API reads of its
        catalog. JIT time per crawl keeps falling for 3-7 crawls, more
        than a run can afford; the traced run's jvm.jit_cpu_s shows what
        is left in the timed crawl."""
        from perfbench import probes
        from webcrawlerfull_spark.sources.catalog import Catalog

        before = self.jvm.snapshot()
        t = time.monotonic()
        cat = self.new_catalog(Catalog, "warm")
        self.crawl(self.warm_world, cat, self.warm_rounds())
        jit = probes.delta(self.jvm.snapshot(), before)["jit_cpu_s"]
        log(f"{self.name} warm-up crawl: {time.monotonic() - t:.2f} s, "
            f"jit {jit:.2f} s")
        self.read_pass(cat, self.warm_world, WARM_READ_CALLS, check=False)
        cat.destroy()

    def one_crawl(self, catalog_class, max_rounds: int | None = None) -> dict:
        """One timed crawl on the measured world, in a fresh catalog."""
        from perfbench import probes
        from perfbench.tracing import dir_bytes

        cat = self.new_catalog(catalog_class, "run")
        if self.before_crawl:
            self.before_crawl()
        cpu0 = probes.tree_cpu_s(self.pid)
        t = time.monotonic()
        res = self.crawl(self.world, cat, max_rounds)
        wall = time.monotonic() - t
        cpu = probes.tree_cpu_s(self.pid) - cpu0
        if self.after_crawl:
            self.after_crawl()
        lineage = res.lineage.select("round", "fetched", "wall_ms").collect()
        fetched = sum(r["fetched"] for r in lineage)
        self.attempted += 1
        sample = {
            "wall_s": wall,
            "cpu_s": cpu,
            "fetched": fetched,
            "round_s": [r["wall_ms"] / 1000.0 for r in lineage],
            "stored_bytes": dir_bytes(cat.base),
            "catalog": cat,
        }
        self.check_crawl(res, cat)
        return sample

    def read_pass(self, catalog, world, calls: int, check: bool,
                  latencies=None) -> None:
        """A closed-loop client: ``calls`` request cycles over the seed
        domains in turn, each task_status then get_urls (collected, so
        the read really runs)."""
        from webcrawlerfull_spark import api

        expect = self.expected_state(catalog) if check else None
        products = None
        if check:
            products = {}
            for r in catalog.read_all("products").select("domain", "url").collect():
                products.setdefault(r["domain"], set()).add(r["url"])
        task_id = self.config().task_id
        seeds = world.seeds()
        for i in range(calls):
            domain = seeds[i % len(seeds)]
            t0 = time.monotonic()
            st = api.task_status(self.spark, catalog.base, task_id)
            t1 = time.monotonic()
            got = {r["url"] for r in api.get_urls(
                self.spark, catalog.base, task_id, domain).collect()}
            t2 = time.monotonic()
            if latencies is not None:
                latencies.append({"task_status": t1 - t0, "get_urls": t2 - t1})
            if not check:
                continue
            self.attempted += 2
            if st["state"] != expect:
                # counted, not routed around: a delta-layout catalog with
                # backlog pending reports SUCCESS (api.task_status reads
                # only the merged frontier table)
                self.failed += 1
            if got != products.get(domain, set()):
                self.failed += 1
                self.problems.append(f"get_urls({domain}) != its products")

    def measure(self, catalog_class) -> dict:
        """The timed phase: crawls, then the API client on the last
        crawl's catalog."""
        samples = self.timed_crawls(catalog_class)
        latencies: list[dict] = []
        last = samples[-1]["catalog"]
        self.read_pass(last, self.world, READ_CALLS, check=True,
                       latencies=latencies)
        for s in samples:
            cat = s.pop("catalog", None)
            if cat is not None:
                cat.destroy()
        return {"samples": samples, "latencies": latencies}

    def end_to_end(self, m: dict, setup_s: float) -> dict:
        samples = m["samples"]
        fetched = sum(s["fetched"] for s in samples)
        # one call = one client request cycle for a domain: GET /task,
        # then GET /urls (each endpoint alone is in the traced run)
        calls_ms = [1000 * sum(c.values()) for c in m["latencies"]]
        med = statistics.median
        return {
            "urls_per_s": (med([s["fetched"] / s["wall_s"] for s in samples]), "url/s"),
            "cpu_s_per_kurl": (
                med([1000 * s["cpu_s"] / s["fetched"] for s in samples]), "s/kurl"),
            "round_p50_s": (med([r for s in samples for r in s["round_s"]]), "s"),
            "stored_bytes_per_url": (
                sum(s["stored_bytes"] for s in samples) / fetched, "B/url"),
            "call_p50_ms": (med(calls_ms), "ms"),
            "setup_s": (setup_s, "s"),
        }


class ParityCrawl(Workload):
    name = "parity_crawl"

    def hosts(self) -> int:
        return self.size["parity_hosts"]

    def config(self):
        from webcrawlerfull_spark.config import CrawlConfig

        return CrawlConfig(
            max_depth=MAX_DEPTH, politeness_budget=None,
            shuffle_partitions=self.cores, task_id="perfbench-parity",
        )

    def timed_crawls(self, catalog_class) -> list[dict]:
        # identical crawls of one world, as many as fit the run's seconds
        samples: list[dict] = []
        for _ in range(max(1, round(self.seconds / PARITY_CRAWL_S))):
            if samples:
                samples[-1].pop("catalog").destroy()
            samples.append(self.one_crawl(catalog_class))
        return samples

    def check_crawl(self, res, catalog) -> None:
        seen = {r["url"] for r in res.seen.select("url").collect()}
        products = {(r["domain"], r["url"]) for r in res.products.collect()}
        want_seen, want_products = self.reference.get(timeout=300)
        if seen != want_seen:
            self.problems.append("seen set differs from the reference crawler")
        if products != want_products:
            self.problems.append("product set differs from the reference crawler")

    def expected_state(self, catalog) -> str:
        return "SUCCESS"  # parity crawls run to max_depth


class BudgetCrawl(Workload):
    name = "budget_crawl"

    def hosts(self) -> int:
        return self.size["budget_hosts"]

    def config(self):
        from webcrawlerfull_spark.config import CrawlConfig

        return CrawlConfig(
            max_depth=MAX_DEPTH, politeness_budget=BUDGET, use_bloom=True,
            compact_every=3, frontier_mode="delta",
            shuffle_partitions=self.cores, task_id="perfbench-budget",
        )

    def warm_rounds(self) -> int:
        return 2

    def timed_crawls(self, catalog_class) -> list[dict]:
        # one crawl stopped by max_rounds: its rounds are the samples; at
        # least three, so the crawl compacts once (compact_every=3) and
        # the API reads meet a compacted products dir
        rounds = max(3, round(self.seconds / BUDGET_ROUND_S))
        return [self.one_crawl(catalog_class, rounds)]

    def check_crawl(self, res, catalog) -> None:
        from pyspark.sql import functions as F

        sched = catalog.read_all("scheduled")
        row = sched.agg(
            F.count(F.lit(1)).alias("n"), F.countDistinct("url").alias("d")
        ).collect()[0]
        if row["n"] != row["d"]:
            self.problems.append(f"{row['n'] - row['d']} URLs fetched twice")
        worst = (
            sched.groupBy("fetch_round", "host").count()
            .agg(F.max("count")).collect()[0][0]
        )
        if worst > BUDGET:
            self.problems.append(f"a host fetched {worst} URLs in one round")

    def expected_state(self, catalog) -> str:
        from webcrawlerfull_spark.streaming import delta_frontier as dfq

        nxt = catalog.max_committed_round() + 1
        pending = dfq.backlog(dfq.read_cursor(catalog, up_to_round=nxt)).pending
        return "PROGRESS" if pending > 0 else "SUCCESS"


WORKLOADS = {w.name: w for w in (ParityCrawl, BudgetCrawl)}


def reference_sets(seed: int, hosts: int) -> tuple[set, set]:
    """Seen set and (domain, url) product set of ``oracle.refcrawler``
    on the measured parity world."""
    from webcrawlerfull_spark.oracle import refcrawler
    from webcrawlerfull_spark.synthgen import World

    world = World(seed=seed, n_hosts=hosts, **WORLD_SHAPE)
    oracle = refcrawler.crawl(world, world.seeds(), MAX_DEPTH)
    seen = set().union(*(o.visited for o in oracle.values()))
    products = {(d, u) for d, o in oracle.items() for u in o.products}
    return seen, products


class Reference:
    """``reference_sets`` computed in a child process, overlapping session
    start and warm-up. A plain child, not a multiprocessing pool: a pool
    leaves its resource tracker running after this process exits."""

    def __init__(self, seed: int, hosts: int):
        code = (
            "import json, sys; sys.path.insert(0, sys.argv[1]); "
            "from perfbench.run import reference_sets; "
            "seen, products = reference_sets(int(sys.argv[2]), int(sys.argv[3])); "
            "json.dump({'seen': sorted(seen), 'products': sorted(products)}, sys.stdout)"
        )
        self._proc = subprocess.Popen(
            [sys.executable, "-c", code, ROOT, str(seed), str(hosts)],
            stdout=subprocess.PIPE, text=True,
        )
        self._sets = None

    def get(self, timeout: float) -> tuple[set, set]:
        if self._sets is None:
            out, _ = self._proc.communicate(timeout=timeout)
            if self._proc.returncode != 0:
                raise RuntimeError(
                    f"reference crawler exited {self._proc.returncode}")
            got = json.loads(out)
            self._sets = (set(got["seen"]),
                          {tuple(p) for p in got["products"]})
        return self._sets

    def close(self) -> None:
        """Stop the child if it still runs and wait until it has exited."""
        if self._proc.poll() is None:
            self._proc.kill()
        self._proc.wait()
        self._proc.stdout.close()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and the Python workers under it,
    and wait until every one of them has exited."""
    from perfbench import probes

    jvm = probes.jvm_pid(os.getpid())
    jvm_tree = probes.tree_pids(jvm) if jvm is not None else []
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    if not probes.wait_gone(jvm_tree):
        log("the JVM or a Python worker did not exit")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full",
                    help="world size; 'tiny' is for the smoke self-check")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "webcrawlerfull_spark")):
        log(f"no engine package under {ROOT}; run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)

    t_setup = time.monotonic()
    work = os.path.join(OUT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    from webcrawlerfull_spark.session import get_spark
    from webcrawlerfull_spark.sources.catalog import Catalog

    size = SIZES[args.size]
    with contextlib.ExitStack() as cleanup:
        cleanup.callback(shutil.rmtree, work, True)
        reference = None
        if args.workload == ParityCrawl.name:
            reference = Reference(args.seed, size["parity_hosts"])
            cleanup.callback(reference.close)
        cores = usable_cores()
        spark = get_spark(
            app_name="perfbench", master=f"local[{cores}]",
            shuffle_partitions=cores,
        )
        cleanup.callback(stop_spark, spark)
        spark.sparkContext.setLogLevel("ERROR")
        wl = WORKLOADS[args.workload](spark, args.seed, args.seconds, size, work)
        wl.reference = reference
        wl.warm_up()
        setup_s = time.monotonic() - t_setup
        log(f"set-up {setup_s:.2f} s")

        if args.trace:
            from perfbench import layers

            metrics = layers.traced_run(wl, OUT, args)
        else:
            metrics = wl.end_to_end(wl.measure(Catalog), setup_s)
            for k, (v, u) in metrics.items():
                log(f"{args.workload} {k} = {v:.6g} {u}")

    for p in wl.problems:
        log(f"CHECK FAILED: {p}")
    print(json.dumps({
        "correct": not wl.problems,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
