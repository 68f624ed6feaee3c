"""Focused locks for the round-14 optimization internals: each
rewritten kernel is asserted EQUIVALENT to the reference form it
replaced (the oracle already hash-checks the query outputs; these
pin the kernels themselves on adversarial inputs the fixtures do
not contain)."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from dbt_eamples_spark.operators.dedup import (
    ENTITY_HAM_UNROLL,
    ENTITY_LEV_MAX,
    _lev1_equal_len,
    _min_label_propagation,
)
from dbt_eamples_spark.operators.similarity import (
    PCA_JACOBI_SWEEPS,
    _jacobi_eigenvalues,
)


# ---- _lev1_equal_len ≡ banded levenshtein -----------------------------------

LEV_CASES = [
    # (a, b) — equal-length: identical / 1 sub at every region /
    # 2 subs same half / 2 subs across halves / boundary positions
    ("customer#000000001", "customer#000000001"),
    ("customer#000000001", "customer#000000002"),
    ("customer#000000001", "xustomer#000000001"),
    ("customer#000000001", "customer#X00000001"),
    ("customer#000000001", "customerX000000001"),
    ("customer#000000001", "cusXomer#00000X001"),
    ("customer#000000001", "cXsXomer#000000001"),
    ("abcdefghijkl", "abcdefghijkX"),  # last char of left half region
    ("abcdefghijklm", "abcdefghijklX"),
    ("aaaaaaaaaaaa", "aaaaaaaaaaab"),
    ("ab", "ba"),
    ("ab", "ab"),
    ("a", "b"),
    ("a", "a"),
    # unequal lengths (fallback path): insert/delete at ends/middle
    ("customer#00000001", "customer#000000001"),
    ("customer#000000001", "customer#00000001"),
    ("abc", "abcd"),
    ("abcd", "abc"),
    ("abc", "abxc"),
    ("abc", "abcde"),  # distance 2
    ("", "a"),
    ("", ""),
    ("", "ab"),
    # past the unroll cap (fallback path)
    ("x" * (ENTITY_HAM_UNROLL + 3), "x" * (ENTITY_HAM_UNROLL + 3)),
    ("x" * (ENTITY_HAM_UNROLL + 3), "x" * (ENTITY_HAM_UNROLL + 2) + "y"),
    ("y" + "x" * (ENTITY_HAM_UNROLL + 2), "x" * (ENTITY_HAM_UNROLL + 3)),
    # multi-byte chars (substring/length are char-based)
    ("héllo-wörld", "héllo-wörld"),
    ("héllo-wörld", "héllo-wörlé"),
    ("héllo-wörld", "hallo-wörld"),
    # NULLs (ADVICE r14): levenshtein yields NULL, so must the fast
    # path — the eqNullSafe comparison below exercises these
    (None, "abc"),
    ("abc", None),
    (None, None),
]


def test_lev1_equal_len_matches_banded_levenshtein(spark):
    random.seed(14)
    cases = list(LEV_CASES)
    alphabet = "ab#0xyz"
    for _ in range(300):  # fuzz: short strings, edits everywhere
        n = random.randint(0, 10)
        a = "".join(random.choice(alphabet) for _ in range(n))
        m = random.randint(0, 10)
        b = "".join(random.choice(alphabet) for _ in range(m))
        cases.append((a, b))
        # near-misses of a (1-2 edits)
        if n >= 2:
            i = random.randrange(n)
            cases.append((a, a[:i] + "Q" + a[i + 1:]))
            cases.append((a, a[:i] + a[i + 1:]))
            cases.append((a, a[:i] + "Q" + a[i:]))
    df = spark.createDataFrame(cases, "a string, b string")
    bad = (
        df.select(
            _lev1_equal_len(F.col("a"), F.col("b"))
            .cast("int")
            .alias("fast"),
            F.levenshtein("a", "b", ENTITY_LEV_MAX)
            .cast("int")
            .alias("ref"),
            "a",
            "b",
        )
        .filter(~F.col("fast").eqNullSafe(F.col("ref")))
        .collect()
    )
    assert bad == [], f"fast-path divergence: {bad[:5]}"


# ---- numpy Jacobi ≡ pure-python reference loop ------------------------------


def _reference_jacobi(a, sweeps):
    n = len(a)
    a = [row[:] for row in a]
    for _ in range(sweeps):
        for p in range(n - 1):
            for q in range(p + 1, n):
                apq = a[p][q]
                if apq == 0.0:
                    continue
                theta = (a[q][q] - a[p][p]) / (2.0 * apq)
                t = (1.0 if theta >= 0 else -1.0) / (
                    abs(theta) + math.sqrt(theta * theta + 1.0)
                )
                c = 1.0 / math.sqrt(t * t + 1.0)
                s = t * c
                for k in range(n):
                    akp, akq = a[k][p], a[k][q]
                    a[k][p] = c * akp - s * akq
                    a[k][q] = s * akp + c * akq
                for k in range(n):
                    apk, aqk = a[p][k], a[q][k]
                    a[p][k] = c * apk - s * aqk
                    a[q][k] = s * apk + c * aqk
    return [a[i][i] for i in range(n)]


@pytest.mark.parametrize("d", [3, 16, 64])
def test_jacobi_bit_identical_to_reference(d):
    random.seed(d)
    m = [[0.0] * d for _ in range(d)]
    for i in range(d):
        for j in range(i, d):
            v = random.uniform(-1.0, 1.0)
            m[i][j] = v
            m[j][i] = v
    ref = _reference_jacobi(m, PCA_JACOBI_SWEEPS)
    got = _jacobi_eigenvalues(m, PCA_JACOBI_SWEEPS)
    assert [repr(x) for x in got] == [repr(x) for x in ref]


# ---- CC kernel (seed + pointer jump + biennial check) ≡ union-find ----------


def _uf_components(pairs):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@pytest.mark.parametrize(
    "name,pairs",
    [
        ("chain", [(i, i + 1) for i in range(18)]),
        ("reversed_chain", [(i + 1, i) for i in range(18)]),
        ("star", [(0, i) for i in range(1, 12)]),
        ("clique", [(i, j) for i in range(6) for j in range(i + 1, 6)]),
        (
            "disjoint",
            [(0, 1), (1, 2), (10, 11), (20, 21), (21, 22), (22, 20)],
        ),
        # ids descending along the chain: min label must travel the
        # whole diameter — the pointer-jump stress shape
        ("descending_chain", [(i, i - 1) for i in range(19, 1, -1)]),
        ("self_heavy", [(5, 5 + 1), (7, 8), (8, 7), (7, 8)]),
    ],
)
def test_min_label_propagation_matches_union_find(spark, name, pairs):
    df = spark.createDataFrame(pairs, "x long, y long")
    got = {
        r["node"]: r["comp"]
        for r in _min_label_propagation(df, "x", "y").collect()
    }
    assert got == _uf_components(pairs), name


@pytest.mark.parametrize(
    "kernel", ["seeded", "seeded-distributed", "plain", "jump"]
)
def test_min_label_propagation_kernels_equivalent(
    spark, kernel, monkeypatch
):
    """Every SPARK_GRAFT_CC_KERNEL variant reaches the identical
    fixpoint (component minimum) — the r15 adjudication keeps all
    three selectable, so each stays correctness-locked on the
    adversarial shapes. "seeded-distributed" pins the driver-CC
    bound to 0 so the distributed seeded loop is exercised even on
    these tiny graphs (the default seeded path solves them with the
    r9 driver union-find)."""
    import dbt_eamples_spark.operators.dedup as D

    if kernel == "seeded-distributed":
        monkeypatch.setattr(D, "QUOTIENT_DRIVER_CC_MAX", 0)
        kernel = "seeded"
    monkeypatch.setenv("SPARK_GRAFT_CC_KERNEL", kernel)
    for name, pairs in [
        ("descending_chain", [(i, i - 1) for i in range(19, 1, -1)]),
        ("clique", [(i, j) for i in range(6) for j in range(i + 1, 6)]),
        (
            "disjoint",
            [(0, 1), (1, 2), (10, 11), (20, 21), (21, 22), (22, 20)],
        ),
    ]:
        df = spark.createDataFrame(pairs, "x long, y long")
        got = {
            r["node"]: r["comp"]
            for r in _min_label_propagation(df, "x", "y").collect()
        }
        assert got == _uf_components(pairs), f"{kernel}:{name}"


def test_min_label_propagation_random_graphs(spark):
    random.seed(99)
    for trial in range(3):
        n = 60
        pairs = [
            (random.randrange(n), random.randrange(n)) for _ in range(45)
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        df = spark.createDataFrame(pairs, "x long, y long")
        got = {
            r["node"]: r["comp"]
            for r in _min_label_propagation(df, "x", "y").collect()
        }
        assert got == _uf_components(pairs), f"trial {trial}"
