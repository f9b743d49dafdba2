"""Seeded inputs and output oracles for the benchmark's workloads.

Everything here is pure Python, so the checks can be exercised (and shown to
reject perturbed answers) without a Spark session.
"""

from __future__ import annotations

import json
import os

from azure_blob_crawler_spark.plans.simulator import simulate
from azure_blob_crawler_spark.sources import synthetic

# seed k reads the synthetic URL index space from k * SEED_STRIDE on; a
# stride that is not a multiple of 10, 13, 17, 19 or 7 shifts the hot-host,
# case, dot-segment, fragment and extension patterns between seeds
SEED_STRIDE = 1_000_003

EXPECTED_ROWS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected_rows.json")


def seed_rows(n: int, seed: int) -> list[tuple[str, int, int]]:
    """``n`` seed frontier rows (url, depth, discovery_seq) drawn from the
    synthetic generator's index space at the seed's offset. The engine's own
    ``seed_frontier_py(n)`` is seed 0."""
    off = seed * SEED_STRIDE
    dup_space = max(1, (n * 9) // 10)
    return [(synthetic.seed_url_py(off + k, dup_space), 0, k) for k in range(n)]


def simulate_crawl(rows, round_size: int, round_seconds: float, rounds: int):
    robots = {r["host"]: r["crawl_delay_s"] for r in synthetic.robots_rows()}
    return simulate(
        [u for u, _, _ in rows], robots,
        round_size=round_size, round_seconds=round_seconds, max_rounds=rounds,
    )


def check_crawl(claim_log, seen, sim, rounds: int) -> list[int]:
    """Rounds (1-based) whose claim log differs from the simulator's; the
    final seen set is charged to the last round."""
    bad = []
    for r in range(1, rounds + 1):
        got = [e for e in claim_log if e[0] == r]
        want = [e for e in sim.claim_log if e[0] == r]
        if got != want:
            bad.append(r)
    if set(seen) != sim.seen and rounds not in bad:
        bad.append(rounds)
    return bad


def expected_rows() -> dict[str, int]:
    with open(EXPECTED_ROWS) as f:
        return json.load(f)


def check_leaf(name: str, rows: int | None, expected: dict[str, int]) -> bool:
    """A suite leaf passes when its row count equals the recorded one; leaves
    that return timings instead of rows (``rows is None``) pass when they ran."""
    if rows is None:
        return name not in expected
    return expected.get(name) == rows
