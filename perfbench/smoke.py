"""Smoke self-check of the benchmark on a tiny world.

    python3 perfbench/smoke.py

Runs every workload once untraced and once traced at ``--size tiny``
and asserts that:

- each run exits 0 and its last stdout line has exactly the keys
  ``correct``, ``attempted``, ``failed`` and ``metrics``, with
  ``correct`` true;
- the untraced run emits every ``end_to_end`` metric of BENCHMARK.json
  with its unit and a positive value, and the traced run every
  ``per_layer`` metric with its unit;
- the traced runs wrote spans for the parity crawl, the budget crawl
  and the API reads, with the products and frontier chains of a round
  on separate threads.

Takes a few minutes on a 4-core host.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEED = 7


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(SEED), "--seconds", "1",
           "--trace", str(trace), "--size", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace}: exit {p.returncode}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}, out
    assert out["correct"] is True, (workload, trace, p.stderr[-2000:])
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1, out
    assert isinstance(out["failed"], int), out
    return out


def check_metrics(out: dict, declared: list[dict], positive: bool, what: str) -> None:
    got = out["metrics"]
    for m in declared:
        assert m["name"] in got, f"{what}: {m['name']} missing"
        assert got[m["name"]]["unit"] == m["unit"], f"{what}: {m['name']} unit"
        v = got[m["name"]]["value"]
        assert isinstance(v, (int, float)), f"{what}: {m['name']} not a number"
        if positive:
            assert v > 0, f"{what}: {m['name']} = {v}"


def spans(workload: str) -> list[dict]:
    with open(os.path.join(ROOT, ".perfbench", f"trace-{workload}-{SEED}.json")) as f:
        return json.load(f)["spans"]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        name = w["name"]
        check_metrics(run(name, 0), bench["end_to_end"], True, f"{name} untraced")
        check_metrics(run(name, 1), bench["per_layer"], False, f"{name} traced")
        print(f"ok: {name} emits every metric with its unit", flush=True)

    parity, budget = spans("parity_crawl"), spans("budget_crawl")
    names = {s["name"] for s in parity} | {s["name"] for s in budget}
    assert any(s["name"] == "crawl" for s in parity), "no parity crawl span"
    assert any(s["name"] == "crawl" for s in budget), "no budget crawl span"
    assert {"api.task_status", "api.get_urls"} <= names, "no api read spans"
    assert {"write:seen_bloom", "delta_frontier.backlog"} <= {
        s["name"] for s in budget}, "no bloom / delta-frontier spans"
    # round r writes products for r and the frontier for r + 1, one chain
    # per driver thread
    prod = {s["round"]: s["thread"] for s in parity if s["name"] == "write:products"}
    front = {s["round"] - 1: s["thread"] for s in parity
             if s["name"] == "write:frontier" and s["round"] > 0}
    assert any(prod[r] != front[r] for r in prod if r in front), (
        "products and frontier chains share a thread")
    print("ok: traced runs wrote parity, budget and api spans", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
