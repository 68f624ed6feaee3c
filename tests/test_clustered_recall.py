"""Clustered-fixture recall locks (VERDICT r5 #4).

RECALL.md's near-uniform column is ANN's worst case; the clustered
column is the claim that production embedding geometry lands near
1.0. These tests pin the shipped operating points on the
deterministic mixture-of-centroids fixture (tools/clustered_fixture)
so a regression in cell assignment, codebook training, residual
encoding, or LSH banding shows up as a recall drop, not a vibe.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from dbt_eamples_spark import artifacts as A
from dbt_eamples_spark.catalog import load_table
from dbt_eamples_spark.operators import dedup as D
from dbt_eamples_spark.operators import similarity as V

# slow lane (VERDICT r14 #2): 10x clustered-corpus recall studies —
# excluded from the default run so `pytest tests/ -x -q` fits the
# driver's verify budget; the close ritual runs it via --runslow.
pytestmark = pytest.mark.slow


@pytest.fixture(scope="module")
def clustered_dir(tmp_path_factory):
    """Clustered fixture + a throwaway artifact store: the tmp
    corpus path fingerprints differently every run, so letting the
    PQ/pair index artifacts land in the repo store would accrete
    one orphan per test run."""
    import os

    from tools.clustered_fixture import write_clustered

    store = str(tmp_path_factory.mktemp("arts"))
    old = os.environ.get("SPARK_GRAFT_ARTIFACTS")
    os.environ["SPARK_GRAFT_ARTIFACTS"] = store
    A.clear()
    try:
        yield write_clustered(
            str(tmp_path_factory.mktemp("clustered") / "sf")
        )
    finally:
        if old is None:
            os.environ.pop("SPARK_GRAFT_ARTIFACTS", None)
        else:
            os.environ["SPARK_GRAFT_ARTIFACTS"] = old
        A.clear()


def _pairs(df, a="query_id", b="neighbor_id"):
    return {(r[a], r[b]) for r in df.select(a, b).collect()}


class TestClusteredRecall:
    def test_ivf_pq_residual_at_least_0_9(self, spark, clustered_dir):
        """The production FAISS composition (IVF + residual PQ) must
        score >= 0.9 on clustered geometry — the RECALL.md claim as
        an assertion (measured 1.000 at authoring time)."""
        exact = _pairs(V.similarity_topk(spark, clustered_dir))
        got = _pairs(V.similarity_ivf_pq_residual_topk(spark, clustered_dir))
        assert len(exact) > 0
        assert len(got & exact) / len(exact) >= 0.9

    def test_ivf_and_lsh_near_perfect(self, spark, clustered_dir):
        exact = _pairs(V.similarity_topk(spark, clustered_dir))
        for fn in (V.similarity_ivf_topk, V.similarity_lsh_topk):
            got = _pairs(fn(spark, clustered_dir))
            assert len(got & exact) / len(exact) >= 0.95

    def test_dedup_pair_recall_near_one(self, spark, clustered_dir):
        """LSH candidate generation on clustered vectors recovers
        ~all true near-dup pairs (12k+ pairs at threshold 0.4 on
        this geometry; measured 0.9998 at authoring time)."""
        emb = load_table(spark, clustered_dir, "embeddings").select(
            "vec_id", V._as_double_vec(F.col("embedding")).alias("vec")
        )
        a = emb.select(F.col("vec_id").alias("vec_a"), F.col("vec").alias("va"))
        b = emb.select(F.col("vec_id").alias("vec_b"), F.col("vec").alias("vb"))
        truth = _pairs(
            a.join(b, F.col("vec_a") < F.col("vec_b")).filter(
                V._cosine(F.col("va"), F.col("vb")) >= D.COSINE_NEAR_DUP
            ),
            "vec_a",
            "vec_b",
        )
        got = _pairs(
            D.dedup_embedding_cosine(spark, clustered_dir), "vec_a", "vec_b"
        )
        assert len(truth) > 10_000  # the geometry really is clustered
        assert len(got & truth) / len(truth) >= 0.99


@pytest.fixture(scope="module")
def clustered_10x(tmp_path_factory):
    """10× clustered corpus with 200 planted near-dup twins +
    throwaway artifact store (same hygiene as clustered_dir)."""
    import os

    from tools.clustered_fixture import write_clustered_10x

    store = str(tmp_path_factory.mktemp("arts10"))
    old = os.environ.get("SPARK_GRAFT_ARTIFACTS")
    os.environ["SPARK_GRAFT_ARTIFACTS"] = store
    A.clear()
    try:
        yield write_clustered_10x(
            str(tmp_path_factory.mktemp("clustered10") / "sf")
        )
    finally:
        if old is None:
            os.environ.pop("SPARK_GRAFT_ARTIFACTS", None)
        else:
            os.environ["SPARK_GRAFT_ARTIFACTS"] = old
        A.clear()


class TestDedupClusteredAt10x:
    """VERDICT r6 #7: the dedup side's recall story at 10×, against
    PLANTED near-dups (known truth — no O(N²) brute force)."""

    def test_planted_recall_and_candidate_volume(
        self, spark, clustered_10x
    ):
        sf_dir, planted = clustered_10x
        # (a) DEFAULT dials: every planted twin recovered
        got = _pairs(
            D.dedup_embedding_cosine(spark, sf_dir), "vec_a", "vec_b"
        )
        want = {(a, b) for a, b in planted}
        recall = len(got & want) / len(want)
        assert recall >= 0.99, f"planted recall {recall}"

        # (b) clustered-corpus operating point: the default
        # target_bucket=64 sizing accepts ~512/n of all pairs as
        # candidates BY DESIGN (≈10% at n=5200, shrinking with n);
        # cluster-fat buckets push it to ~20% here. The documented
        # production dial for clustered geometry — target_bucket=8,
        # i.e. 3 more planes — must hold BOTH ≥0.99 planted recall
        # and <10% candidate volume at this scale.
        from dbt_eamples_spark.operators.similarity import (
            DEDUP_LSH_TABLES,
            DEDUP_PROBE_FLIPS,
            lsh_planes,
        )

        emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
        v = emb.select(
            "vec_id",
            F.transform(
                F.col("embedding"), lambda x: x.cast("double")
            ).alias("vec"),
        )
        n = emb.count()
        sized = lsh_planes(n, target_bucket=8)
        cands = D.lsh_candidate_pairs(
            v,
            tables=DEDUP_LSH_TABLES,
            flips=DEDUP_PROBE_FLIPS,
            nplanes=sized,
        ).localCheckpoint(eager=True)
        n_cands = cands.count()
        all_pairs = n * (n - 1) // 2
        assert n_cands < 0.10 * all_pairs, (
            f"candidates {n_cands} ≥ 10% of {all_pairs}"
        )
        got_sized = _pairs(
            D.dedup_embedding_cosine(spark, sf_dir, nplanes=sized),
            "vec_a",
            "vec_b",
        )
        recall_sized = len(got_sized & want) / len(want)
        assert recall_sized >= 0.99, f"sized recall {recall_sized}"

    def test_semantic_clusters_unite_planted_twins(
        self, spark, clustered_10x
    ):
        sf_dir, planted = clustered_10x
        keep = {
            r.vec_id: r.cluster_id
            for r in D.dedup_semantic_clusters(spark, sf_dir).collect()
        }
        united = sum(
            1
            for a, b in planted
            if keep.get(a) is not None and keep.get(a) == keep.get(b)
        )
        assert united / len(planted) >= 0.99
