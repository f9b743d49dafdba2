"""Tests of the benchmark itself: its oracles reject perturbed answers, its
inputs follow the seed, and every workload runs end to end at tiny size.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from azure_blob_crawler_spark.sources import synthetic  # noqa: E402
from perfbench import checks  # noqa: E402

ROUND_SIZE, ROUND_SECONDS, ROUNDS = 20, 1000.0, 2


@pytest.fixture(scope="module")
def sim_run():
    rows = checks.seed_rows(60, 3)
    return rows, checks.simulate_crawl(rows, ROUND_SIZE, ROUND_SECONDS, ROUNDS)


def test_seed_zero_is_the_engine_seed_frontier():
    want = [(e["url"], e["depth"], e["discovery_seq"]) for e in synthetic.seed_frontier_py(500)]
    assert checks.seed_rows(500, 0) == want


def test_seed_selects_the_inputs():
    assert checks.seed_rows(200, 5) == checks.seed_rows(200, 5)
    a = {u for u, _, _ in checks.seed_rows(200, 5)}
    b = {u for u, _, _ in checks.seed_rows(200, 6)}
    assert len(a & b) < len(a) // 2


def test_crawl_check_accepts_the_simulator(sim_run):
    _, sim = sim_run
    assert checks.check_crawl(list(sim.claim_log), set(sim.seen), sim, ROUNDS) == []


def test_crawl_check_rejects_swapped_claim_ranks(sim_run):
    _, sim = sim_run
    log = list(sim.claim_log)
    i = next(k for k, e in enumerate(log) if e[0] == 2)
    (r1, k1, u1), (r2, k2, u2) = log[i], log[i + 1]
    log[i], log[i + 1] = (r1, k1, u2), (r2, k2, u1)
    assert checks.check_crawl(log, set(sim.seen), sim, ROUNDS) == [2]


def test_crawl_check_rejects_a_missing_seen_url(sim_run):
    _, sim = sim_run
    seen = set(sim.seen)
    seen.pop()
    assert checks.check_crawl(list(sim.claim_log), seen, sim, ROUNDS) == [ROUNDS]


def test_suite_check_rejects_a_perturbed_row_count():
    expected = checks.expected_rows()
    assert checks.check_leaf("q_bm25_search", expected["q_bm25_search"], expected)
    assert not checks.check_leaf("q_bm25_search", expected["q_bm25_search"] - 1, expected)
    assert not checks.check_leaf("q_bm25_search", None, expected)
    assert checks.check_leaf("bm25_index", None, expected)


def _run(*args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload,trace", [("crawl", "0"), ("crawl", "1"), ("suite", "0"), ("suite", "1")])
def test_tiny_end_to_end(workload, trace):
    p = _run("--workload", workload, "--seed", "4", "--seconds", "1", "--trace", trace, "--size", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = spec["per_layer"] if trace == "1" else spec["end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {k: v["unit"] for k, v in out["metrics"].items()}


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run("--workload", "crawl", "--seed", "1", "--seconds", "1", "--trace", "0", cwd=tmp_path)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
