"""Seed determinism of the benchmark inputs (no Spark needed).

    python3 -m pytest perfbench/test_inputs.py -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.fixture import row_counts  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    CORPUS_SCALE,
    REGISTRY_POOL,
    SEMANTIC_BLOCK,
    SEMANTIC_REPEATS,
    corpus_plan,
    median,
    registry_sample,
    semantic_requests,
)


def test_semantic_requests_follow_the_seed():
    assert semantic_requests(7, 30) == semantic_requests(7, 30)
    assert semantic_requests(7, 30) != semantic_requests(8, 30)


def test_semantic_requests_repeat_the_stated_share():
    # five blocks: about what one run measures
    reqs = semantic_requests(3, 5)
    repeats = sum(1 for i, r in enumerate(reqs) if r in reqs[:i])
    share = len(SEMANTIC_REPEATS) / SEMANTIC_BLOCK
    # a fresh draw can also coincide with an earlier request
    assert share <= repeats / len(reqs) < share + 0.1


def test_corpus_plan_follows_the_seed():
    n = row_counts(CORPUS_SCALE)
    assert corpus_plan(7, n) == corpus_plan(7, n)
    a, b = corpus_plan(7, n), corpus_plan(8, n)
    assert a.base_ids != b.base_ids and a.batches != b.batches


def test_corpus_batches_hold_only_new_ids():
    plan = corpus_plan(5, row_counts(CORPUS_SCALE))
    for table, batches in plan.batches.items():
        seen = set(plan.base_ids[table])
        for batch in batches:
            assert not set(batch) & seen
            seen |= set(batch)


def test_registry_sample_follows_the_seed():
    assert registry_sample(7) == registry_sample(7)
    assert registry_sample(7) != registry_sample(8)
    # one query from each module's pool
    for pool in REGISTRY_POOL.values():
        assert len(set(registry_sample(7)) & set(pool)) == 1


def test_median_is_the_value_the_mean_and_the_middle():
    assert median([3.0]) == 3.0
    assert abs(median([1.0, 2.0]) - 1.5) < 1e-9
    assert abs(median([1.0, 2.0, 3.0, 4.0, 5.0]) - 3.0) < 1e-9


def test_median_moves_smoothly_across_a_gap():
    # 14 cheap and 16 dear requests, then one moves from dear to cheap:
    # the sample median jumps by the width of the gap, this one by less
    low, high = [0.2 + i / 1000 for i in range(15)], [0.4 + i / 1000 for i in range(16)]
    before, after = median(low[:14] + high), median(low + high[1:])
    assert 0.2 < after < before < 0.4
    assert before - after < 0.5 * (0.4 - 0.214)
